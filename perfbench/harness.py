"""Shared machinery for the benchmark workloads: the Spark session, the
cached base inputs, per-layer call timing, memory sampling, and the folding
of Spark's event log into one record per operation.

Every timed call goes from the benchmark's own files into a public function
of the ``countrymaam_spark`` package.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed driver heap. With -Xms + AlwaysPreTouch (session defaults) the JVM
# commits all of it at start, so 2g of JVM plus one Python worker per core
# stays far inside a 15 GB box.
DRIVER_MEM = "2g"
# Bump when the cached base inputs change shape, so stale caches rebuild.
DATA_VERSION = "4"

BASE_PAGES = 20_000  # sf0.01 (see README for why not sf0.1)
MIRROR_EVERY = 100  # one base page in this many is mirrored at a second url
WARM_PAGES, WARM_DOCS = 2_000, 500  # the slices corpus_scan warms up on

# The documents corpus stands in for the sf0.1 ``documents.parquet``
# fixture, which is not part of the repository. Its shape was measured from
# that fixture by docshape.py (figures in the README): 5,000 docs; bodies of
# 10 to 99 tokens, drawn uniformly from a 30-word vocabulary; 250 docs are
# another doc's body plus the token "dup" (near duplicates); 8 docs are byte
# copies of another doc; lang and source as in the fixture.
N_DOCS = 5_000
DOC_TOKENS = (10, 99)
NEAR_DUP_DOCS = 250
EXACT_DUP_DOCS = 8
N_SOURCES = 20
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}


def work_dir(root: str) -> str:
    """Scratch and cache directory of the benchmark, inside the checkout."""
    return os.path.join(root, ".bench_build", "perfbench")


# --------------------------------------------------------------------------
# base inputs (fixed seed, cached across runs; the run seed only drives the
# queries, batches and operation order)
# --------------------------------------------------------------------------


def gen_documents(n: int = N_DOCS, seed: int = 42) -> pa.Table:
    """Synthetic documents corpus with the fixture's shape and schema
    (doc_id, text, lang, source, n_chars); see the constants above."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    bodies = [" ".join(rng.choice(_VOCAB, size=int(m))) for m in lens]
    texts = list(bodies)
    # each copy has its own original, which is not itself a copy
    picked = rng.permutation(n)[: NEAR_DUP_DOCS + EXACT_DUP_DOCS]
    originals = rng.choice(np.setdiff1d(np.arange(n), picked), len(picked), replace=False)
    for c, (i, j) in enumerate(zip(picked, originals)):
        texts[i] = bodies[j] + " dup" if c < NEAR_DUP_DOCS else bodies[j]
    lang = rng.choice(list(_LANGS), size=n, p=list(_LANGS.values()))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def noisy_urls(urls: list[str]) -> list[str]:
    """The urls plus syntactic variants (#fragment, utm_ params, upper-case
    host, explicit :443) of four in five of them, for URL canonicalization."""
    out = list(urls)
    for u in urls:
        m = int(u.rsplit("/", 1)[1]) % 5
        scheme, rest = u.split("://", 1)
        host, tail = rest.split("/", 1)
        if m == 0:
            out.append(u + "#section-2")
        elif m == 1:
            out.append(u + "?utm_source=feed&utm_campaign=a")
        elif m == 2:
            out.append(f"{scheme}://{host.upper()}/{tail}")
        elif m == 3:
            out.append(f"{scheme}://{host}:443/{tail}")
    return out


def with_mirrors(pages: pa.Table) -> pa.Table:
    """Append a mirror copy (same text, so the same coordinates, at another
    url) of every MIRROR_EVERY-th page: duplicate points whose kNN distances
    tie exactly and must break on url."""
    m = pages.take(np.arange(0, pages.num_rows, MIRROR_EVERY))
    urls = [u.replace("://site", "://mirror", 1) for u in m["url"].to_pylist()]
    m = m.set_column(m.schema.get_field_index("url"), "url", pa.array(urls, pa.string()))
    return pa.concat_tables([pages, m])


def ensure_data(root: str) -> dict[str, str]:
    """Write the base inputs once per checkout; returns name -> path."""
    from countrymaam_spark.sources import pages as PG

    d = os.path.join(work_dir(root), "data")
    paths = {
        "pages": os.path.join(d, "pages.parquet"),
        "truth": os.path.join(d, "pages_truth.parquet"),
        "urls": os.path.join(d, "urls.parquet"),
        "edges": os.path.join(d, "polygon_edges.parquet"),
        "docs": os.path.join(d, "documents.parquet"),
    }
    # small slices of the same schema, for corpus_scan's warm-up
    for name in ("pages", "urls", "docs"):
        paths[name + "_warm"] = paths[name].replace(".parquet", "_warm.parquet")
    marker = os.path.join(d, f"_DONE_v{DATA_VERSION}")
    if os.path.exists(marker):
        return paths
    os.makedirs(d, exist_ok=True)
    raw_cols = ["url", "warc_ts", "html", "text", "lang"]
    t = with_mirrors(PG.gen_pages(BASE_PAGES))
    pq.write_table(t.select(raw_cols), paths["pages"], row_group_size=PG.ROW_GROUP_ROWS)
    pq.write_table(t.select(["url", "_true_lat", "_true_lon"]), paths["truth"])
    pq.write_table(pa.table({"url": noisy_urls(t["url"].to_pylist())}), paths["urls"])
    pq.write_table(PG.gen_polygon_edges(), paths["edges"])
    docs = gen_documents()
    pq.write_table(docs, paths["docs"])
    w = t.slice(0, WARM_PAGES)
    pq.write_table(w.select(raw_cols), paths["pages_warm"])
    pq.write_table(pa.table({"url": noisy_urls(w["url"].to_pylist())}), paths["urls_warm"])
    pq.write_table(docs.slice(0, WARM_DOCS), paths["docs_warm"])
    open(marker, "w").close()
    return paths


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def start_session(root: str, cores: int, trace: bool):
    """Spark on local[cores]; every scratch file lands inside the checkout.
    The traced session also writes an uncompressed, non-rolled event log."""
    from countrymaam_spark.session import get_spark

    wd = work_dir(root)
    tmp = os.path.join(wd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # read by the JVM launcher and by Python's tempfile
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(wd, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(wd, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        master=f"local[{cores}]",
        app_name="countrymaam_perfbench",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_path(spark) -> str | None:
    sc = spark.sparkContext
    if sc.getConf().get("spark.eventLog.enabled", "false") != "true":
        return None
    return os.path.join(
        sc.getConf().get("spark.eventLog.dir").removeprefix("file://"),
        sc.applicationId,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when the pipe from its Python parent closes
        proc.stdin.close()
        proc.wait(timeout=60)


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# memory: driver JVM plus its Python workers, from /proc
# --------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except FileNotFoundError:
            continue
    return out


class RssSampler:
    """Peak resident memory of the driver JVM plus its descendants (the
    PySpark daemon and workers). The JVM's own peak comes from VmHWM; the
    workers, which come and go, are summed at every ``sample()``."""

    def __init__(self, spark):
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        self.worker_peak_kb = 0

    def _descendants(self) -> list[int]:
        seen, todo = [], _children(self.jvm_pid)
        while todo:
            p = todo.pop()
            seen.append(p)
            todo.extend(_children(p))
        return seen

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        kb = sum(_status_kb(p, "VmRSS") for p in self._descendants())
        self.worker_peak_kb = max(self.worker_peak_kb, kb)

    def peak_mb(self) -> float:
        if self.jvm_pid is None:
            return 0.0
        self.sample()
        return (_status_kb(self.jvm_pid, "VmHWM") + self.worker_peak_kb) / 1024.0


# --------------------------------------------------------------------------
# per-operation, per-layer call timing
# --------------------------------------------------------------------------


class Recorder:
    """Records each operation (one public call plus its materialization)
    with the time spent in every layer call it made, and tags the Spark jobs
    of each operation with its own job group so the event log can be folded
    back onto it."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[dict] = []
        self._cur: dict | None = None

    def begin(self, kind: str) -> dict:
        op = {"id": f"op{len(self.ops):04d}", "kind": kind, "layers": defaultdict(float),
              "counts": {}, "ok": True}
        self.spark.sparkContext.setJobGroup(op["id"], kind)
        self._cur = op
        op["t0"] = time.perf_counter()
        return op

    def end(self) -> dict:
        op = self._cur
        op["wall_s"] = time.perf_counter() - op["t0"]
        self.spark.sparkContext.setJobGroup("untimed", "outside the timed window")
        self.ops.append(op)
        self._cur = None
        return op

    def call(self, layer: str, fn, *args, **kwargs):
        """Time one call into a layer (adds to the current operation)."""
        t = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self._cur["layers"][layer] += time.perf_counter() - t


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------
# plans and event log
# --------------------------------------------------------------------------

def plan_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def fold_event_log(lines) -> dict[str, dict]:
    """Fold Spark event-log lines into one record per job group:
    jobs, stages, tasks, failed tasks, executor run/CPU time, GC time,
    shuffle read/write bytes, spill bytes, exchanges, and per-stage task run
    times (kept for the skew figure).

    Exchanges are the exchanges that ran: shuffle map stages plus broadcast
    jobs. They cover every query of the operation, also the ones it
    collects or checkpoints eagerly, and not reused or skipped ones."""
    stage_group: dict[int, str] = {}
    recs: dict[str, dict] = {}

    def rec(g: str) -> dict:
        return recs.setdefault(g, {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "exchanges": 0, "shuffle_stages": set(), "task_run_ms": defaultdict(list),
        })

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            rec(g)["jobs"] += 1
            if "broadcast exchange" in ev["Properties"].get("spark.job.tags", ""):
                rec(g)["exchanges"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"))
            if g is None:
                continue
            r = rec(g)
            r["stages"].add(ev["Stage ID"])
            r["tasks"] += 1
            if ev.get("Task Type") == "ShuffleMapTask":
                r["shuffle_stages"].add(ev["Stage ID"])
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                r["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            r["executor_run_s"] += run_ms / 1e3
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            r["task_run_ms"][ev["Stage ID"]].append(run_ms)
    for r in recs.values():
        r["stages"] = len(r["stages"])
        r["exchanges"] += len(r.pop("shuffle_stages"))
    return recs


def task_skew(rec: dict) -> float:
    """Max over median task run time of the operation's heaviest stage (the
    stage with the most executor time: the probe stage of a kNN batch)."""
    stages = rec.get("task_run_ms") or {}
    if not stages:
        return 0.0
    heavy = max(stages.values(), key=sum)
    med = statistics.median(heavy)
    return float(max(heavy) / med) if med > 0 else 1.0


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """file -> (size, mtime_ns) under ``path``."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two ``dir_files`` views."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)
