"""The three closed-loop workloads. One client in one process drives each:
it sends the next operation only after the previous one has returned and
been materialized. An operation is one public call plus its
materialization through the ``noop`` sink; its result is checked against an
independent reference outside the timed window.

Each workload function takes the run context (see ``run.py``), builds its
state (set-up), runs operations until ``ctx.seconds`` of timed work are
done, and returns its end-to-end metrics.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo as G
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.operators.knn import (
    build_cell_lut,
    build_cell_stats,
    cell_knn,
    update_cell_lut,
    update_cell_stats,
)
from countrymaam_spark.plans import pipeline as PL
from countrymaam_spark.plans.checkpoint import content_hash
from countrymaam_spark.sources import pages as PG

from harness import (
    DATA_VERSION,
    bytes_written,
    dir_files,
    materialize,
    median,
    plan_string,
    work_dir,
)
from oracles import DuckOracle, PointSet, check_knn, rowset, same_rows

RES = 7  # cell index resolution served by cell_knn
PARENT_RES = 3  # directory-partition resolution of the knn_serve layout
K = 10

# ---------------------------------------------------------------------------
# knn_serve
# ---------------------------------------------------------------------------

# Batch kinds, cycled in this order.
# "hot": queries around the most popular Zipf city (the parent-prune gate
# engages);
# "mixed": uniform queries plus poles, antimeridian and exact-duplicate
# corpus points (the prune is skipped; pole queries reach the flat fallback;
# duplicates tie on distance and break on url). "mixed_budget" passes
# search_k and is scored by recall instead of exactness. A run is whole
# cycles, so every run has the same mix.
KNN_CYCLE = ("hot", "mixed", "mixed_budget")
KNN_BATCH = 16
SEARCH_K = 10  # accept a query once it has seen k candidates


def zipf_weights(n: int = PG.N_CITIES) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    return w / w.sum()


def duplicate_coords(points: PointSet) -> np.ndarray:
    """Coordinates held by two or more corpus pages (exact distance ties)."""
    xy = np.stack([points.lat, points.lon], axis=1)
    uniq, counts = np.unique(xy, axis=0, return_counts=True)
    return uniq[counts >= 2]


def knn_batch(seed: int, i: int, dups: np.ndarray):
    """The i-th query batch of a run: (kind, search_k, [(query_id, lat, lon)]).
    Deterministic in (seed, i)."""
    rng = np.random.default_rng([seed, i])
    kind = KNN_CYCLE[i % len(KNN_CYCLE)]
    clat, clon, _ = PG.city_table()
    if kind.startswith("hot"):
        # one metro per batch, always the most popular city: the
        # concentration, not the seed, should set the batch's cost
        c = 0
        lat = clat[c] + rng.normal(0.0, 0.05, KNN_BATCH)
        lon = clon[c] + rng.normal(0.0, 0.05, KNN_BATCH)
    else:
        n_uni = KNN_BATCH - 8
        sign = rng.choice([-1.0, 1.0], size=4)
        d = dups[rng.choice(len(dups), size=4, replace=False)]
        lat = np.concatenate([
            rng.uniform(-84.0, 84.0, n_uni),
            sign[:2] * rng.uniform(89.0, 89.99, 2),  # poles
            rng.uniform(-60.0, 70.0, 2),  # antimeridian
            d[:, 0],  # duplicated points
        ])
        lon = np.concatenate([
            rng.uniform(-180.0, 180.0, n_uni),
            rng.uniform(-180.0, 180.0, 2),
            sign[2:] * rng.uniform(179.9, 180.0, 2),
            d[:, 1],
        ])
    lat, lon = np.round(np.clip(lat, -89.99, 89.99), 6), np.round(lon, 6)
    rows = [(i * 100 + j, float(lat[j]), float(lon[j])) for j in range(KNN_BATCH)]
    return kind, (SEARCH_K if kind.endswith("budget") else None), rows


def _knn_counts(op: dict, tm: dict) -> None:
    """Fold cell_knn's ``timings=`` hook into the operation record."""
    for phase, v in tm.items():
        if not phase.startswith(("prune_parents_round", "fanin_spread_round")):
            op["layers"][f"operators.knn.cell_knn.{phase}"] += v
    probed = [v for p, v in sorted(tm.items()) if p.startswith("prune_parents_round")]
    p_grid = (2 << PARENT_RES) * (1 << PARENT_RES)
    op["counts"].update({
        "operators.knn.cell_knn.rounds": len(probed),
        "operators.knn.cell_knn.prune_parents": sum(probed),
        # same test cell_knn applies: prune when the cover is <= half the grid
        "operators.knn.cell_knn.prune_engaged_batches": int(
            bool(probed) and 2 * probed[0] <= p_grid
        ),
        "operators.knn.cell_knn.prune_skipped_batches": int(
            bool(probed) and 2 * probed[0] > p_grid
        ),
        "operators.knn.cell_knn.fanin_spread_batches": int(
            any(p.startswith("fanin_spread_round") for p in tm)
        ),
    })


def _count_fallback(ctx, op: dict, res) -> None:
    """Traced runs only: did the batch take the exact flat fallback? It is
    the only cross join cell_knn plans."""
    if ctx.trace:
        plan = plan_string(res)
        op["counts"]["operators.knn.cell_knn.fallback_batches"] = int(
            "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        )


def _load_truth(path: str) -> PointSet:
    t = pq.read_table(path)
    return PointSet(t["url"].to_pylist(), t["_true_lat"].to_numpy(), t["_true_lon"].to_numpy())


def _geo_snapshot(spark, pages_path: str, out: str):
    """Geotag + cell-encode the raw pages once and persist (url, lat, lon, cell)."""
    pages = spark.read.parquet(pages_path)
    (
        extract_geo(pages)
        .select("url", "lat", "lon")
        .withColumn("cell", G.encode_cell(F.col("lat"), F.col("lon"), RES))
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out)


def knn_serve(ctx) -> dict:
    spark, rec = ctx.spark, ctx.rec
    wd = ctx.scratch("knn_serve")
    rec.begin("setup")
    geo = extract_geo(spark.read.parquet(ctx.paths["pages"])).select("url", "lat", "lon")
    rec.call("plans.pipeline.build_cell_pipeline", PL.build_cell_pipeline, spark, geo,
             os.path.join(wd, "cells"), res=RES, partition_parent_res=PARENT_RES)
    cells, lut = PL.load_cell_state(spark, os.path.join(wd, "cells"))
    rec.end()
    points = _load_truth(ctx.paths["truth"])
    dups = duplicate_coords(points)

    def batch_op(i: int, warm: bool = False):
        kind, search_k, rows = knn_batch(ctx.seed, i, dups)
        q = spark.createDataFrame(rows, "query_id long, lat double, lon double")
        tm: dict = {}

        def body(op):
            res = rec.call("operators.knn.cell_knn.call", cell_knn, cells, q, k=K, res=RES,
                           cell_col="cell", stats=lut, partition_parent_res=PARENT_RES,
                           search_k=search_k, timings=tm)
            rec.call("operators.knn.cell_knn.materialize", materialize, res)

            def check():
                _knn_counts(op, tm)
                _count_fallback(ctx, op, res)
                ok, recall, msg = check_knn(points, rows, [tuple(r) for r in res.collect()],
                                            K, exact=search_k is None)
                if search_k is not None:
                    op["counts"]["operators.knn.cell_knn.recall_at10"] = recall
                return ok, msg

            return check

        op = ctx.run_op("warmup" if warm else f"knn_{kind}", body)
        op["queries"] = len(rows)
        return op

    # untimed: JIT, Python workers, caches (a mixed batch runs every path;
    # warming with a whole cycle measured no steadier)
    batch_op(10**6 * len(KNN_CYCLE) + KNN_CYCLE.index("mixed"), warm=True)
    ctx.mark_setup()
    ops, i = [], 0
    while ctx.keep_going(ops, min_ops=len(KNN_CYCLE)) or i % len(KNN_CYCLE):
        ops.append(batch_op(i))
        i += 1
    walls = [op["wall_s"] for op in ops]
    return {
        "work_per_s": sum(op["queries"] for op in ops) / sum(walls),
        "main_op_p50_s": median(walls),
        "second_op_p50_s": median(op["wall_s"] for op in ops if "hot" in op["kind"]),
    }


# ---------------------------------------------------------------------------
# crawl_append
# ---------------------------------------------------------------------------

APPEND_PAGES = 400
FRESH_KNN_QUERIES = 8
FRESH_BM25_QUERIES = 4


def held_out_pages(seed: int, b: int, n: int = APPEND_PAGES) -> pa.Table:
    """The b-th appended crawl batch of a run: raw pages (plus ground truth
    and a doc_id) that the base corpus never contains. Deterministic in
    (seed, b); each (seed, b) draws from its own generator stream."""
    offset = PG.CHUNK * (1000 + seed * 1000 + b)
    t = PG._gen_pages_chunk(n, offset)
    return t.append_column("doc_id", pa.array(np.arange(offset, offset + n), pa.int64()))


def crawl_append(ctx) -> dict:
    spark, rec = ctx.spark, ctx.rec
    wd = ctx.scratch("crawl_append")
    d_cells, d_stats, d_lut = (os.path.join(wd, x) for x in ("cells", "cell_stats", "cell_lut"))
    d_text, d_dedup = os.path.join(wd, "text"), os.path.join(wd, "dedup")
    state_dirs = [d_cells, d_stats, d_lut, d_text, d_dedup]

    base_docs = pq.read_table(ctx.paths["docs"], columns=["doc_id", "text"])
    rec.begin("setup")
    g = rec.call("operators.geotag.extract_geo_snapshot", _geo_snapshot, spark, ctx.paths["pages"], d_cells)
    rec.call("operators.knn.build_cell_stats",
             lambda: build_cell_stats(g, RES, cell_col="cell").write.parquet(d_stats))
    rec.call("operators.knn.build_cell_lut",
             lambda: build_cell_lut(spark.read.parquet(d_stats), RES).write.parquet(d_lut))
    docs = spark.read.parquet(ctx.paths["docs"]).select("doc_id", "text")
    rec.call("plans.pipeline.build_text_pipeline", PL.build_text_pipeline, spark, docs, d_text)
    rec.call("plans.pipeline.build_dedup_pipeline", PL.build_dedup_pipeline, spark, docs, d_dedup)
    rec.end()
    ctx.mark_setup()

    points = _load_truth(ctx.paths["truth"])
    raw_cols = ["url", "warc_ts", "html", "text", "lang"]
    input_bytes = pq.read_table(ctx.paths["pages"]).nbytes + base_docs.nbytes
    all_docs = [base_docs]
    appends, reads, appended_bytes = [], [], 0
    b = 0
    while ctx.keep_going(appends + reads, min_ops=2):
        batch = held_out_pages(ctx.seed, b)
        raw = spark.createDataFrame(batch.select(raw_cols + ["doc_id"]).to_pandas())
        batch_bytes = batch.select(raw_cols).nbytes
        before = {d: dir_files(d) for d in state_dirs}

        def append_body(op):
            geo = rec.call("operators.geotag.extract_geo", lambda: extract_geo(raw)
                           .select("url", "lat", "lon").localCheckpoint(eager=True))

            def encode_and_append():
                new_cells = geo.filter(F.col("lat").isNotNull()).withColumn(
                    "cell", G.encode_cell(F.col("lat"), F.col("lon"), RES))
                new_cells.write.mode("append").parquet(d_cells)
                return new_cells

            new_cells = rec.call("functions.geo.encode_cell", encode_and_append)

            def fold(fn, path):
                # a lazy plan cannot overwrite its own input: pin, then write
                merged = fn(spark.read.parquet(path), new_cells, RES, cell_col="cell")
                merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

            rec.call("operators.knn.update_cell_stats", fold, update_cell_stats, d_stats)
            rec.call("operators.knn.update_cell_lut", fold, update_cell_lut, d_lut)
            new_docs = raw.select("doc_id", "text")
            rec.call("plans.pipeline.append_text", PL.append_text_pipeline, spark, new_docs, d_text)
            rec.call("plans.pipeline.append_dedup", PL.append_dedup_pipeline, spark, new_docs,
                     d_dedup)
            return None

        op = ctx.run_op("append", append_body)
        op["pages"] = batch.num_rows
        after = {d: dir_files(d) for d in state_dirs}
        op_written = sum(bytes_written(before[d], after[d]) for d in state_dirs)
        op["counts"]["plans.bytes_written"] = op_written
        op["counts"]["plans.write_amp"] = op_written / batch_bytes
        appended_bytes += batch_bytes
        appends.append(op)
        points.extend(batch["url"].to_pylist(), batch["_true_lat"].to_numpy(),
                      batch["_true_lon"].to_numpy())
        all_docs.append(batch.select(["doc_id", "text"]))
        reads.append(_fresh_read(ctx, b, batch, points, pa.concat_tables(all_docs),
                                 d_cells, d_lut, d_text))
        b += 1

    _state_check(ctx, d_cells, d_stats, d_lut, d_text, d_dedup, pa.concat_tables(all_docs))
    stored = sum(sum(v[0] for v in dir_files(d).values()) for d in state_dirs)
    ctx.extra["plans.stored_bytes_per_input_byte"] = stored / (input_bytes + appended_bytes)
    return {
        "work_per_s": sum(op["pages"] for op in appends) / sum(op["wall_s"] for op in appends),
        "main_op_p50_s": median(op["wall_s"] for op in appends),
        "second_op_p50_s": median(op["wall_s"] for op in reads),
    }


def _fresh_read(ctx, b, batch, points, docs_tbl, d_cells, d_lut, d_text):
    """Read-after-write: kNN at the coordinates of just-appended pages and
    BM25 for their unique page-number tokens; both must see the new pages."""
    spark, rec = ctx.spark, ctx.rec
    from countrymaam_spark.operators.search import bm25_topk_from_state, bm25_topk_sql

    rng = np.random.default_rng([ctx.seed, b, 1])
    pick = rng.choice(batch.num_rows, size=FRESH_KNN_QUERIES, replace=False)
    urls = batch["url"].to_pylist()
    lat, lon = batch["_true_lat"].to_numpy(), batch["_true_lon"].to_numpy()
    qrows = [(int(j), float(lat[j]), float(lon[j])) for j in pick]
    q = spark.createDataFrame(qrows, "query_id long, lat double, lon double")
    ids = batch["doc_id"].to_pylist()
    dpick = rng.choice(batch.num_rows, size=FRESH_BM25_QUERIES, replace=False)
    bqs = [(int(j), f"page {ids[j]}") for j in dpick]
    tm: dict = {}

    def body(op):
        cells, lut = spark.read.parquet(d_cells), spark.read.parquet(d_lut)
        res = rec.call("operators.knn.cell_knn.call", cell_knn, cells, q, k=K, res=RES,
                       cell_col="cell", stats=lut, timings=tm)
        rec.call("operators.knn.cell_knn.materialize", materialize, res)

        def bm25():
            post, tdf, n_docs, sum_dl = PL.load_text_index(spark, d_text)
            out = bm25_topk_from_state(spark, post, tdf, n_docs, sum_dl, bqs, k=K)
            materialize(out)
            return out

        hits = rec.call("operators.search.bm25_topk_from_state", bm25)

        def check():
            _knn_counts(op, tm)
            _count_fallback(ctx, op, res)
            rows = [tuple(r) for r in res.collect()]
            ok, _, msg = check_knn(points, qrows, rows, K)
            if not ok:
                return False, msg
            top1 = {qid: (u, d) for qid, rk, u, d in rows if rk == 1}
            if any(top1[int(j)][1] != 0.0 for j in pick):
                return False, "kNN read does not see an appended page"
            got = hits.collect()
            con = duckdb.connect()
            con.register("documents", docs_tbl)
            duck = con.execute(bm25_topk_sql("documents", bqs, k=K))
            cols = [c[0] for c in duck.description]
            ok, msg = same_rows(hits.columns, [tuple(r) for r in got], cols,
                                rowset(cols, duck.fetchall()))
            con.close()
            if not ok:
                return False, "bm25: " + msg
            want = {int(j): ids[j] for j in dpick}
            if any(r["doc_id"] != want[r["query_id"]] for r in got if r["rk"] == 1):
                return False, "BM25 read does not see an appended page"
            return True, ""

        return check

    return ctx.run_op("fresh_read", body)


def _state_check(ctx, d_cells, d_stats, d_lut, d_text, d_dedup, docs_tbl) -> None:
    """The appended state must equal a from-scratch build over base plus
    every appended batch: cell stats and lut, text index, dedup state."""
    spark, rec = ctx.spark, ctx.rec
    fresh = ctx.scratch("crawl_append_rebuild")

    def body(op):
        cells = spark.read.parquet(d_cells)
        stats = build_cell_stats(cells, RES, cell_col="cell").localCheckpoint(eager=True)
        pairs = [(spark.read.parquet(d_stats), stats),
                 (spark.read.parquet(d_lut), build_cell_lut(stats, RES))]
        docs = spark.createDataFrame(docs_tbl.to_pandas())
        PL.build_text_pipeline(spark, docs, os.path.join(fresh, "text"))
        PL.build_dedup_pipeline(spark, docs, os.path.join(fresh, "dedup"))
        for d, names in ((d_text, ("text_postings", "text_df", "text_stats")),
                         (d_dedup, ("dedup_sha", "dedup_shingles", "dedup_bands"))):
            sub = os.path.basename(d)
            pairs += [(spark.read.parquet(os.path.join(d, n)),
                       spark.read.parquet(os.path.join(fresh, sub, n))) for n in names]

        same = all(
            rec.call("plans.checkpoint.content_hash", content_hash, appended)
            == content_hash(rebuilt) and appended.count() == rebuilt.count()
            for appended, rebuilt in pairs
        )
        return lambda: (same, "" if same else "appended state differs from a from-scratch build")

    ctx.run_op("state_check", body)


# ---------------------------------------------------------------------------
# corpus_scan
# ---------------------------------------------------------------------------

ZOOMS = [4, 8, 12]
KDE_RES, KDE_RADIUS, KDE_LEVELS = 7, 2, [5, 100, 1000]
HOTSPOT_RES, HOTSPOT_MIN_PTS = 9, 10
LINE_MIN_DOCS = 10
VIEW_COLS = {"view_id": "long", "lat_lo": "double", "lat_hi": "double", "lon_lo": "double",
             "lon_hi": "double"}
NEAR_COLS = {"query_id": "long", "lat": "double", "lon": "double"}
_WORDS = "hash join fast spark query sort merge vector scan table window stream".split()


def scan_inputs(seed: int):
    """Seeded query sets of corpus_scan: viewports, nearest-polygon query
    points and BM25 queries."""
    rng = np.random.default_rng([seed, 7])
    clat, clon, _ = PG.city_table()
    c = rng.choice(PG.N_CITIES, size=40, p=zipf_weights())
    vlat = np.where(np.arange(40) % 2 == 0, clat[c], rng.uniform(-70, 70, 40))
    vlon = np.where(np.arange(40) % 2 == 0, clon[c], rng.uniform(-170, 170, 40))
    hl, hw = rng.uniform(0.5, 2.0, 40), rng.uniform(0.5, 2.5, 40)
    views = [(i, float(vlat[i] - hl[i]), float(vlat[i] + hl[i]),
              float(vlon[i] - hw[i]), float(vlon[i] + hw[i])) for i in range(40)]
    qlat = np.round(np.clip(clat[c] + rng.normal(0, 1.0, 40), -84, 84), 6)
    qlon = np.round(((clon[c] + rng.normal(0, 1.0, 40) + 180) % 360) - 180, 6)
    near = [(i, float(qlat[i]), float(qlon[i])) for i in range(40)]
    bm25 = [(i, " ".join(rng.choice(_WORDS, size=int(rng.integers(2, 5)), replace=False)))
            for i in range(5)]
    bm25.append((5, "stream watermark"))  # an unseen term drops at the df join
    return views, near, bm25


def _scan_ops(ctx, pages, g, edges, views, near, docs, urls, bm25_qs):
    """[(layer, build the DataFrame, oracle SQL)] of the spatial and the
    curation job. Oracle relations: pg, pages_raw, edges, views, near,
    documents, urls (registered in DuckDB by ``_oracle``)."""
    from countrymaam_spark.operators import cluster as CL
    from countrymaam_spark.operators import dedup as DD
    from countrymaam_spark.operators import lines as LN
    from countrymaam_spark.operators import linkgraph as LG
    from countrymaam_spark.operators import nearest as NE
    from countrymaam_spark.operators import overlay as OV
    from countrymaam_spark.operators import pip as PIP
    from countrymaam_spark.operators import search as SE
    from countrymaam_spark.operators import tiles as TI
    from countrymaam_spark.operators import trainset as TS
    from countrymaam_spark.operators import webtext as WT

    spark = ctx.spark
    spatial = [
        ("operators.pip.point_in_polygon", lambda: PIP.point_in_polygon(g, edges, res=6),
         PIP.point_in_polygon_sql("pg", "edges")),
        ("operators.pip.point_in_polygon_compact",
         lambda: PIP.point_in_polygon_compact(g, edges, res=6, min_res=3),
         PIP.point_in_polygon_sql("pg", "edges")),
        ("operators.tiles.viewport_join", lambda: TI.viewport_join(g, views, res=6),
         TI.viewport_join_sql("pg", "views")),
        ("operators.nearest.nearest_polygon", lambda: NE.nearest_polygon(near, edges, k=3),
         NE.nearest_polygon_sql("near", "edges", k=3)),
        ("operators.overlay.polygon_overlaps", lambda: OV.polygon_overlaps(edges, res=5),
         OV.polygon_overlaps_sql("edges")),
        ("operators.tiles.tile_counts", lambda: TI.tile_counts(g, ZOOMS),
         TI.tile_counts_sql("pg", ZOOMS)),
        ("operators.tiles.tile_domains", lambda: TI.tile_domains(g, 6),
         TI.tile_domains_sql("pg", 6)),
        ("operators.cluster.kde_contours",
         lambda: CL.kde_contours(g, KDE_RES, KDE_RADIUS, KDE_LEVELS),
         CL.kde_contours_sql("pg", KDE_RES, KDE_RADIUS, KDE_LEVELS)),
        ("operators.cluster.hotspot_stats",
         lambda: CL.hotspot_stats(g, HOTSPOT_RES, HOTSPOT_MIN_PTS),
         CL.hotspot_stats_sql("pg", HOTSPOT_RES, HOTSPOT_MIN_PTS)),
    ]
    curation = [
        ("operators.tiles.tile_terms", lambda: TI.tile_terms(extract_geo(pages), 5, k=5),
         TI.tile_terms_sql("pg", 5, k=5)),
        ("operators.lines.page_line_stats", lambda: LN.page_line_stats(pages, LINE_MIN_DOCS),
         LN.page_line_stats_sql("pages_raw", LINE_MIN_DOCS)),
        ("operators.trainset.training_chunks", lambda: TS.training_chunks(pages),
         TS.training_chunks_sql("pages_raw")),
        ("operators.search.bm25_topk", lambda: SE.bm25_topk(spark, docs, bm25_qs, k=10),
         SE.bm25_topk_sql("documents", bm25_qs, k=10)),
        ("operators.dedup.minhash_lsh_pairs", lambda: DD.minhash_lsh_pairs(docs, tau=0.8),
         # LSH recall at tau=0.8 is ~1 with 16 hashes / 8 bands and
         # verification is exact, so the exact-pairs oracle applies
         DD.ngram_jaccard_pairs_sql("documents", tau=0.8, max_shingle_freq=None)),
        ("operators.dedup.dup_span_stats", lambda: DD.dup_span_stats(docs, L=8),
         DD.dup_span_stats_sql("documents", L=8)),
        ("operators.linkgraph.pagerank",
         lambda: LG.pagerank(LG.host_edges(pages, fanout=3), iters=5),
         LG.pagerank_sql(LG.host_edges_sql("pages_raw", fanout=3), iters=5)),
        ("operators.webtext.canonical_dup_groups", lambda: WT.canonical_dup_groups(urls),
         WT.canonical_dup_groups_sql("urls")),
    ]
    return spatial, curation


def corpus_scan(ctx) -> dict:
    spark, rec = ctx.spark, ctx.rec
    wd = ctx.scratch("corpus_scan")
    views_rows, near_rows, bm25_qs = scan_inputs(ctx.seed)
    rec.begin("setup")
    g = rec.call("operators.geotag.extract_geo_snapshot", _geo_snapshot, spark,
                 ctx.paths["pages"], os.path.join(wd, "geo"))
    g_warm = _geo_snapshot(spark, ctx.paths["pages_warm"], os.path.join(wd, "geo_warm"))
    rec.end()
    edges = spark.read.parquet(ctx.paths["edges"])
    views = spark.createDataFrame(views_rows, ", ".join(f"{c} {t}" for c, t in VIEW_COLS.items()))
    near = spark.createDataFrame(near_rows, ", ".join(f"{c} {t}" for c, t in NEAR_COLS.items()))

    def ops_over(suffix: str, geo):
        return _scan_ops(ctx, spark.read.parquet(ctx.paths["pages" + suffix]),
                         geo.select("url", "lat", "lon"), edges, views, near,
                         spark.read.parquet(ctx.paths["docs" + suffix]),
                         spark.read.parquet(ctx.paths["urls" + suffix]), bm25_qs)

    # untimed: every operator once, over small slices of the inputs, so that
    # code generation, class loading and Python worker start-up fall in
    # set-up, not in the first pass. The slices have the inputs' schema, so
    # the plans (jobs, stages, exchanges) are the same as the timed ones;
    # the full inputs would warm no better and cost more set-up time.
    warm_spatial, warm_curation = ops_over("_warm", g_warm)
    for _, build, _ in warm_spatial + warm_curation:
        ctx.run_op("warmup", lambda op, build=build: materialize(build()))
    spatial, curation = ops_over("", g)
    ctx.mark_setup()

    from countrymaam_spark.operators.geotag import extract_geo_sql

    tables = {n: f"SELECT * FROM read_parquet('{ctx.paths[p]}')" for n, p in
              (("pages_raw", "pages"), ("edges", "edges"), ("documents", "docs"),
               ("urls", "urls"))}
    tables["pg"] = extract_geo_sql("pages_raw")
    oracle = DuckOracle(os.path.join(work_dir(ctx.root), "oracle", f"v{DATA_VERSION}"), tables,
                        {"views": pd.DataFrame(views_rows, columns=VIEW_COLS),
                         "near": pd.DataFrame(near_rows, columns=NEAR_COLS)})
    verified: set[str] = set()
    passes = {"spatial": [], "curation": []}
    n = 0
    while ctx.keep_going([op for ps in passes.values() for p in ps for op in p],
                         min_ops=len(spatial) + len(curation)):
        job, specs = ("spatial", spatial) if n % 2 == 0 else ("curation", curation)
        order = np.random.default_rng([ctx.seed, n]).permutation(len(specs))
        pass_ops = []
        for j in order:
            layer, build, sql = specs[j]

            def body(op, layer=layer, build=build, sql=sql):
                def call():
                    df = build()
                    materialize(df)
                    return df

                df = rec.call(layer, call)
                if layer in verified:
                    return None
                verified.add(layer)
                return lambda: oracle.compare(df, sql)

            pass_ops.append(ctx.run_op(layer, body))
        passes[job].append(pass_ops)
        n += 1
    oracle.close()
    ops = [op for ps in passes.values() for p in ps for op in p]
    return {
        "work_per_s": len(ops) / sum(op["wall_s"] for op in ops),
        "main_op_p50_s": median(sum(op["wall_s"] for op in p) for p in passes["spatial"]),
        "second_op_p50_s": median(sum(op["wall_s"] for op in p) for p in passes["curation"]),
    }


WORKLOADS = {"knn_serve": knn_serve, "crawl_append": crawl_append, "corpus_scan": corpus_scan}

# What the shared end-to-end metric names mean on each workload.
MEANING = {
    "knn_serve": {"work_per_s": "knn_qps", "main_op_p50_s": "knn_batch_p50_s",
                  "second_op_p50_s": "knn_hot_batch_p50_s"},
    "crawl_append": {"work_per_s": "append_pages_per_s", "main_op_p50_s": "append_p50_s",
                     "second_op_p50_s": "fresh_read_p50_s"},
    "corpus_scan": {"work_per_s": "scan_calls_per_s", "main_op_p50_s": "spatial_pass_p50_s",
                    "second_op_p50_s": "curate_pass_p50_s"},
}
