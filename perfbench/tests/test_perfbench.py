"""Unit tests of the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import docshape  # noqa: E402
import harness  # noqa: E402
import oracles  # noqa: E402
import workloads  # noqa: E402

LOG = os.path.join(HERE, "tiny_eventlog.jsonl")


def _log_lines():
    with open(LOG) as f:
        return f.readlines()


def test_fold_event_log_groups_jobs_by_operation():
    # op0000 is a grouped count (one shuffle), op0001 a broadcast join
    recs = harness.fold_event_log(_log_lines())
    assert set(recs) == {"op0000", "op0001"}
    r = recs["op0000"]
    assert (r["jobs"], r["stages"], r["tasks"], r["failed_tasks"]) == (2, 2, 3, 0)
    assert r["executor_run_s"] == pytest.approx(0.567)
    assert r["shuffle_read_bytes"] == r["shuffle_write_bytes"] == 266
    assert r["spill_bytes"] == 0
    b = recs["op0001"]
    assert (b["jobs"], b["stages"], b["tasks"], b["shuffle_write_bytes"]) == (2, 2, 4, 0)


def test_fold_event_log_counts_exchanges_that_ran():
    recs = harness.fold_event_log(_log_lines())
    assert recs["op0000"]["exchanges"] == 1  # one shuffle map stage
    assert recs["op0001"]["exchanges"] == 1  # one broadcast job


def test_fold_event_log_counts_failed_tasks():
    lines = _log_lines()
    i = next(i for i, ln in enumerate(lines) if '"SparkListenerTaskEnd"' in ln)
    ev = json.loads(lines[i])
    ev["Task End Reason"] = {"Reason": "ExceptionFailure"}
    lines[i] = json.dumps(ev)
    assert harness.fold_event_log(lines)["op0000"]["failed_tasks"] == 1


def test_task_skew_uses_the_heaviest_stage():
    r = harness.fold_event_log(_log_lines())["op0000"]
    assert harness.task_skew(r) == pytest.approx(229 / 228.5)
    assert harness.task_skew({"task_run_ms": {}}) == 0.0


def test_bytes_written(tmp_path):
    a = tmp_path / "a.parquet"
    a.write_bytes(b"x" * 10)
    before = harness.dir_files(str(tmp_path))
    (tmp_path / "b.parquet").write_bytes(b"y" * 7)
    assert harness.bytes_written(before, harness.dir_files(str(tmp_path))) == 7


def test_noisy_urls_add_four_variants_in_five():
    urls = [f"https://site0001.example/{i}" for i in range(5)]
    out = harness.noisy_urls(urls)
    assert out[:5] == urls
    assert out[5:] == [
        "https://site0001.example/0#section-2",
        "https://site0001.example/1?utm_source=feed&utm_campaign=a",
        "https://SITE0001.EXAMPLE/2",
        "https://site0001.example:443/3",
    ]


# The sf0.1 documents.parquet fixture, as docshape.py measures it (README).
FIXTURE_DOCS_SHAPE = {"docs": 5000, "tok_min": 10, "tok_p25": 32, "tok_p50": 54, "tok_p75": 76,
                      "tok_max": 100, "vocab": 31, "exact_dup_frac": 0.0016,
                      "near_pairs_per_doc": 0.0496, "dup_span_frac": 0.0942}


def test_generated_documents_have_the_fixture_shape():
    import duckdb

    con = duckdb.connect()
    con.register("generated", harness.gen_documents())
    got = docshape.docs_shape(con, "generated")
    con.close()
    for name, want in FIXTURE_DOCS_SHAPE.items():
        assert got[name] == pytest.approx(want, rel=0.1), name


def test_generated_documents_are_deterministic():
    assert harness.gen_documents().equals(harness.gen_documents())
    assert not harness.gen_documents().equals(harness.gen_documents(seed=1))


def test_knn_batches_are_deterministic_and_cycle_kinds():
    dups = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0], [9.0, 10.0]])
    a = [workloads.knn_batch(7, i, dups) for i in range(6)]
    assert a == [workloads.knn_batch(7, i, dups) for i in range(6)]
    assert a != [workloads.knn_batch(8, i, dups) for i in range(6)]
    assert [k for k, _, _ in a] == list(workloads.KNN_CYCLE) * 2
    for kind, search_k, rows in a:
        assert (search_k is not None) == kind.endswith("budget")
        assert len({q for q, _, _ in rows}) == len(rows) == workloads.KNN_BATCH
        assert all(-90 <= lat <= 90 and -180 <= lon <= 180 for _, lat, lon in rows)
    _, _, mixed = a[1]
    assert sum(1 for _, lat, _ in mixed if abs(lat) >= 89.0) == 2  # poles
    assert sum(1 for _, _, lon in mixed if abs(lon) >= 179.9) >= 2  # antimeridian
    assert sum(1 for _, lat, lon in mixed if [lat, lon] in dups.tolist()) == 4


def test_held_out_pages_are_deterministic_and_new():
    a = workloads.held_out_pages(3, 0, n=20)
    assert a.equals(workloads.held_out_pages(3, 0, n=20))
    urls = set(a["url"].to_pylist()) | set(workloads.held_out_pages(3, 1, n=20)["url"].to_pylist())
    urls |= set(workloads.held_out_pages(4, 0, n=20)["url"].to_pylist())
    assert len(urls) == 60
    assert a["doc_id"].to_pylist() == [int(u.rsplit("/", 1)[1]) for u in a["url"].to_pylist()]


def test_scan_inputs_are_deterministic():
    assert workloads.scan_inputs(5) == workloads.scan_inputs(5)
    assert workloads.scan_inputs(5) != workloads.scan_inputs(6)


def _points():
    # two pages at the same point (an exact distance tie) and three others
    return oracles.PointSet(
        ["u/b", "u/a", "u/c", "u/d", "u/e"],
        [10.0, 10.0, 10.5, 11.0, 30.0],
        [20.0, 20.0, 20.0, 20.0, 20.0],
    )


def _rows(points, qid, qlat, qlon, k):
    d = oracles.haversine_km(points.lat, points.lon, qlat, qlon)
    order = sorted(range(len(d)), key=lambda i: (d[i], points.urls[i]))[:k]
    return [(qid, r + 1, points.urls[i], round(float(d[i]), 6)) for r, i in enumerate(order)]


def test_check_knn_accepts_exact_results_with_url_tie_order():
    p = _points()
    rows = _rows(p, 1, 10.0, 20.0, 3)
    assert [r[2] for r in rows] == ["u/a", "u/b", "u/c"]
    assert oracles.check_knn(p, [(1, 10.0, 20.0)], rows, 3) == (True, 1.0, "")


def test_check_knn_rejects_wrong_tie_order_and_missing_neighbours():
    p = _points()
    rows = _rows(p, 1, 10.0, 20.0, 3)
    swapped = [(1, 1, "u/b", rows[1][3]), (1, 2, "u/a", rows[0][3]), rows[2]]
    assert not oracles.check_knn(p, [(1, 10.0, 20.0)], swapped, 3)[0]
    skipped = rows[:2] + [(1, 3, "u/d", _rows(p, 1, 10.0, 20.0, 4)[3][3])]
    assert not oracles.check_knn(p, [(1, 10.0, 20.0)], skipped, 3)[0]
    # a budgeted (approximate) batch may miss a neighbour: scored by recall
    ok, recall, _ = oracles.check_knn(p, [(1, 10.0, 20.0)], skipped, 3, exact=False)
    assert ok and recall == pytest.approx(2 / 3)


def test_rowset_ignores_column_and_row_order():
    a = oracles.rowset(["b", "a"], [(2, 1.0), (1, 0.5)])
    b = oracles.rowset(["a", "b"], [(0.5, 1), (1.0, 2)])
    assert a == b
    assert oracles.same_rows(["b", "a"], [(2, 1.0), (1, 0.5)], ["a", "b"], b) == (True, "")
