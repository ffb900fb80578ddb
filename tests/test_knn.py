"""kNN correctness: flat vs DuckDB oracle; cell-index kNN must equal flat
exactly (the escalation guarantee) — the reference's 'budget >= corpus implies
exact' invariant generalized (countrymaam_test.go:212)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.operators.knn import cell_knn, flat_knn, flat_knn_sql
from countrymaam_spark.sources import pages as pg


@pytest.fixture(scope="module")
def geo_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    pages = spark.read.parquet(os.path.join(out, "pages.parquet"))
    g = extract_geo(pages).select("url", "lat", "lon").cache()
    g.count()
    return g


@pytest.fixture(scope="module")
def queries_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    # keep tests fast: 40 queries incl. the 8 edge cases at the tail
    q = spark.read.parquet(os.path.join(out, "knn_queries.parquet"))
    return q.filter((F.col("query_id") < 32) | (F.col("query_id") >= 192)).cache()


def _key(rows):
    return sorted((r["query_id"], r["rk"], r["url"]) for r in rows)


def test_flat_knn_matches_duckdb(spark, geo_small, queries_small):
    got = _key(flat_knn(geo_small, queries_small, k=10).collect())
    out = pg.fixture_dir("sf0.001")
    pages_p = os.path.join(out, "pages.parquet")
    q_ids = [r["query_id"] for r in queries_small.select("query_id").collect()]
    oracle_sql = flat_knn_sql(
        f"(SELECT url, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
        f"CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{pages_p}')",
        f"(SELECT * FROM '{os.path.join(out, 'knn_queries.parquet')}' WHERE query_id IN ({','.join(map(str, q_ids))}))",
        k=10,
    )
    want = sorted((q, rk, u) for q, rk, u, _ in duckdb.sql(oracle_sql).fetchall())
    assert got == want


def test_cell_knn_equals_flat(spark, geo_small, queries_small):
    flat = _key(flat_knn(geo_small, queries_small, k=10).collect())
    cell = _key(cell_knn(geo_small, queries_small, k=10, res=6).collect())
    assert cell == flat


def test_cell_knn_other_res_and_k(spark, geo_small, queries_small):
    flat = _key(flat_knn(geo_small, queries_small, k=3).collect())
    cell = _key(cell_knn(geo_small, queries_small, k=3, res=8, init_radius=1).collect())
    assert cell == flat


def test_knn_fewer_than_k_results_legal(spark, geo_small):
    """Reference invariant 4: fewer than k results when corpus < k."""
    tiny = geo_small.limit(4)
    q = geo_small.sparkSession.createDataFrame([(0, 10.0, 10.0)], "query_id long, lat double, lon double")
    got = flat_knn(tiny, q, k=10).collect()
    assert len(got) == 4


def test_cell_knn_zero_candidate_round_not_dropped(spark):
    """Regression: a query whose first-round ring holds ZERO pages must stay
    in `remaining` (it has no stats row; the settled-set anti-join keeps it)
    and eventually settle — cell_knn == flat_knn for every query_id."""
    # corpus clustered near (10, 10); query B sits in an empty band near the
    # south pole so its initial rings are empty for several rounds
    pts = [(f"u{i}", 10.0 + i * 0.01, 10.0 + i * 0.01) for i in range(50)]
    corpus = spark.createDataFrame(pts, "url string, lat double, lon double")
    q = spark.createDataFrame(
        [(0, 10.2, 10.2), (1, -85.0, -170.0)], "query_id long, lat double, lon double"
    )
    flat = _key(flat_knn(corpus, q, k=5).collect())
    cell = _key(cell_knn(corpus, q, k=5, res=7).collect())
    assert cell == flat
    assert {r[0] for r in cell} == {0, 1}


def test_cell_knn_search_k_budget_counts_candidates_seen(spark):
    """search_k semantics: with search_k > k the budget must NOT degenerate to
    `cnt >= k` — a query is accepted only once >= search_k candidates were
    SEEN. With search_k >= corpus size the result must therefore be exact
    (reference invariant 3: budget >= corpus implies exact)."""
    pts = [(f"u{i}", 10.0 + (i % 25) * 0.4, 10.0 + (i // 25) * 0.4) for i in range(100)]
    corpus = spark.createDataFrame(pts, "url string, lat double, lon double")
    q = spark.createDataFrame([(0, 12.0, 12.0)], "query_id long, lat double, lon double")
    flat = _key(flat_knn(corpus, q, k=5).collect())
    budget = _key(cell_knn(corpus, q, k=5, res=7, search_k=100).collect())
    assert budget == flat


def test_flat_knn_plan_shape(spark, geo_small, queries_small):
    """Physical-plan regression: the corpus pass must be a broadcast of the
    QUERY side (never an exchange of the pages scan) and the top-k must use
    WindowGroupLimit (partial per-partition rank before any shuffle)."""
    plan = (
        flat_knn(geo_small.filter(F.col("lat").isNotNull()), queries_small, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_cell_knn_prebuilt_state_bit_equal(spark, geo_small, queries_small, tmp_path):
    """Index-state serving (pre-encoded corpus + persisted stats) must return
    bit-identical results to the stateless path, and the pipeline must skip
    both stages on resume (same params -> intact snapshots)."""
    from countrymaam_spark.plans import pipeline as P

    stateless = _key(cell_knn(geo_small, queries_small, k=10, res=6).collect())

    out = str(tmp_path / "cellidx")
    rep = P.build_cell_pipeline(spark, geo_small, out, res=6)
    assert not rep["cell_corpus"]["skipped"] and not rep["cell_stats"]["skipped"]
    cells, state = P.load_cell_state(spark, out)
    # the pipeline now persists the multi-level lut; the loader returns it
    assert "lv" in state.columns
    stateful = _key(
        cell_knn(cells, queries_small, k=10, res=6, cell_col="cell", stats=state).collect()
    )
    assert stateful == stateless
    # serving from the flat per-cell stats table must also be bit-identical
    import os as _os

    flat_stats = spark.read.parquet(_os.path.join(out, "cell_stats"))
    assert _key(
        cell_knn(
            cells, queries_small, k=10, res=6, cell_col="cell", stats=flat_stats
        ).collect()
    ) == stateless

    # resume: intact snapshots + unchanged params -> both stages skip
    rep2 = P.build_cell_pipeline(spark, geo_small, out, res=6)
    assert rep2["cell_corpus"]["skipped"] and rep2["cell_stats"]["skipped"]
    # param change invalidates BOTH stages together (shared key)
    rep3 = P.build_cell_pipeline(spark, geo_small, out, res=7)
    assert not rep3["cell_corpus"]["skipped"] and not rep3["cell_stats"]["skipped"]


def test_cell_pipeline_partitioned_layout(spark, geo_small, queries_small, tmp_path):
    """The parent-partitioned corpus snapshot (Iceberg partition-spec analog)
    must (a) serve bit-identically to the unpartitioned layout, (b) prune
    directories at plan time for a parent filter (PartitionFilters in the
    scan), and (c) share the invalidation key with stats/lut so a layout
    change can never resume a mixed snapshot."""
    import os as _os

    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.plans import pipeline as P

    plain = str(tmp_path / "cell_plain")
    part = str(tmp_path / "cell_part")
    P.build_cell_pipeline(spark, geo_small, plain, res=6)
    rep = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=3
    )
    assert not rep["cell_corpus"]["skipped"]
    # directory layout: one dir per non-empty parent cell
    dirs = [
        d for d in _os.listdir(_os.path.join(part, "cell_corpus"))
        if d.startswith("parent=")
    ]
    assert 1 < len(dirs) <= 128  # res-3 grid is 16x8

    cells_plain, state_plain = P.load_cell_state(spark, plain)
    cells_part, state_part = P.load_cell_state(spark, part)
    want = _key(
        cell_knn(
            cells_plain, queries_small, k=5, res=6, cell_col="cell",
            stats=state_plain,
        ).collect()
    )
    got = _key(
        cell_knn(
            cells_part, queries_small, k=5, res=6, cell_col="cell",
            stats=state_part,
        ).collect()
    )
    assert got == want

    # plan-time directory pruning: a parent filter must reach the scan as a
    # PartitionFilter (directories outside the predicate are never listed)
    one_parent = cells_part.select("parent").first()["parent"]
    plan = (
        cells_part.filter(F.col("parent") == one_parent)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "parent" in plan.split("PartitionFilters")[1][:200]
    # the pruned read agrees with the logical filter on the plain layout
    n_pruned = cells_part.filter(F.col("parent") == one_parent).count()
    n_plain = cells_plain.filter(
        G.cell_parent(F.col("cell"), 3, 6) == one_parent
    ).count()
    assert n_pruned == n_plain > 0

    # layout is part of the shared params key: changing it rebuilds ALL
    # stages together (corpus, stats, lut can never resume out of sync)
    rep2 = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=3
    )
    assert rep2["cell_corpus"]["skipped"] and rep2["cell_stats"]["skipped"]
    rep3 = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=4
    )
    assert not rep3["cell_corpus"]["skipped"]
    assert not rep3["cell_stats"]["skipped"]
    assert not rep3["cell_lut"]["skipped"]


def test_cell_knn_parent_prune_bit_equal(spark, geo_small, queries_small, tmp_path):
    """Serving with the parent-directory prune (partition_parent_res=) must
    be bit-identical to the stateless path — including escalation rounds and
    sparse/band queries, which bypass the prune — and must actually engage
    (bounded parent cover recorded per round)."""
    from countrymaam_spark.plans import pipeline as P

    want = _key(cell_knn(geo_small, queries_small, k=5, res=6).collect())

    out = str(tmp_path / "cellpart")
    P.build_cell_pipeline(spark, geo_small, out, res=6, partition_parent_res=3)
    cells, state = P.load_cell_state(spark, out)
    t: dict = {}
    got = _key(
        cell_knn(
            cells, queries_small, k=5, res=6, cell_col="cell", stats=state,
            partition_parent_res=3, timings=t,
        ).collect()
    )
    assert got == want
    prune_keys = [k_ for k_ in t if k_.startswith("prune_parents_round")]
    assert prune_keys, f"prune never planned: {sorted(t)}"

    # a metro-concentrated batch (the prune's target workload: the cover is
    # a batch-level union, so one sparse query inflates it to the grid and
    # the gate rightly skips) must ENGAGE: cover well under half the
    # 128-parent res-3 grid, results still bit-equal
    from countrymaam_spark.functions import geo as G

    pts = geo_small.filter(F.col("lat").isNotNull())
    hot = (
        pts.groupBy(
            G.encode_cell(F.col("lat"), F.col("lon"), 3).alias("p")
        )
        .count()
        .orderBy(F.desc("count"), "p")
        .first()["p"]
    )
    metro_q = (
        pts.filter(G.encode_cell(F.col("lat"), F.col("lon"), 3) == hot)
        .select(F.xxhash64("url").alias("query_id"), "lat", "lon")
        .limit(8)
    )
    want_m = _key(cell_knn(geo_small, metro_q, k=5, res=6).collect())
    tm: dict = {}
    got_m = _key(
        cell_knn(
            cells, metro_q, k=5, res=6, cell_col="cell", stats=state,
            partition_parent_res=3, timings=tm,
        ).collect()
    )
    assert got_m == want_m
    assert 0 < tm["prune_parents_round0"] <= 64

    # misuse guards: pruning without the partitioned state must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cell_knn(geo_small, queries_small, k=5, res=6, partition_parent_res=3)


def test_cell_knn_fanin_spread_bit_equal(spark, tmp_path):
    """A metro-concentrated batch over the parent-partitioned layout must
    trip the fan-in skew gate (the directory layout clusters a dense cell's
    rows into one file; the ring join would otherwise serialize ~all pairs
    on the task holding it — measured 71 s of a 75 s call at sf0.1) and stay
    bit-identical to the flat oracle. A lone scattered query must NOT trip
    it (max cell share ~ uniform)."""
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import flat_knn
    from countrymaam_spark.plans import pipeline as P

    # deterministic clustered corpus: 1500 points inside ~one res-6 cell
    # (cell width at res 6 is ~2.8 deg) + 300 scattered world-wide
    n_dense, n_sparse = 1500, 300
    rows = [
        (
            f"https://dense.example/{i}",
            40.0 + (i * 37 % 1000) / 1000.0,
            -74.0 + (i * 61 % 1000) / 1000.0,
        )
        for i in range(n_dense)
    ] + [
        (
            f"https://sparse.example/{i}",
            -80.0 + (i * 997 % 16000) / 100.0,
            -179.0 + (i * 773 % 35800) / 100.0,
        )
        for i in range(n_sparse)
    ]
    corpus = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = str(tmp_path / "fanin_part")
    P.build_cell_pipeline(spark, corpus, out, res=6, partition_parent_res=3)
    cells, state = P.load_cell_state(spark, out)

    metro_q = spark.createDataFrame(
        [(i, 40.4 + i / 100.0, -73.6 - i / 100.0) for i in range(20)],
        "query_id long, lat double, lon double",
    )
    want = _key(flat_knn(corpus, metro_q, k=10).collect())
    from countrymaam_spark.operators import knn as knn_mod

    # pin the regime switch (like the gate_broadcast tests): the fixture's
    # ~30k hot-cell pairs are below the production floor by design, and the
    # relative share test is unsatisfiable at the test session's small
    # parallelism (by design — see the constants' docstring)
    old_floor = knn_mod.FANIN_SPREAD_MIN_PAIRS
    old_factor = knn_mod.FANIN_SPREAD_FACTOR
    knn_mod.FANIN_SPREAD_MIN_PAIRS = 0
    knn_mod.FANIN_SPREAD_FACTOR = 0
    try:
        t: dict = {}
        got = _key(
            cell_knn(
                cells, metro_q, k=10, res=6, cell_col="cell", stats=state,
                partition_parent_res=3, timings=t,
            ).collect()
        )
    finally:
        knn_mod.FANIN_SPREAD_MIN_PAIRS = old_floor
        knn_mod.FANIN_SPREAD_FACTOR = old_factor
    assert got == want
    spreads = [k_ for k_ in t if k_.startswith("fanin_spread_round")]
    assert spreads, f"fan-in gate never engaged: {sorted(t)}"
    # the estimate is exact for the dominant cell: ~20 queries x ~n_dense
    assert t[spreads[0]] >= 10 * n_dense

    # a single scattered query: prune may engage, the spread must not
    lone_q = spark.createDataFrame(
        [(0, -20.0, 100.0)], "query_id long, lat double, lon double"
    )
    want_l = _key(flat_knn(corpus, lone_q, k=10).collect())
    tl: dict = {}
    got_l = _key(
        cell_knn(
            cells, lone_q, k=10, res=6, cell_col="cell", stats=state,
            partition_parent_res=3, timings=tl,
        ).collect()
    )
    assert got_l == want_l
    assert not any(k_.startswith("fanin_spread") for k_ in tl)


def test_fanin_pairs_round1_shape_and_coarse_groups(spark):
    """Regression for the caller-stats shadowing bug: the fan-in gate runs
    inside the round loop reading the CALLER's cell-count state, which a
    round-local `stats` rebind used to shadow — rounds >= 1 would have
    selected missing `cell`/`lv` columns and crashed mid-serve. The gate
    body now lives in `_fanin_pairs`; feed it the round-1 input shape
    directly (rx != ry, multiple s-groups — the shape current round-0
    planning never emits, so no end-to-end call can cover it) against both
    stats layouts (fine-only and the multi-level lut with `lv`)."""
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import (
        _fanin_pairs,
        build_cell_lut,
        build_cell_stats,
    )

    res = 6
    # corpus: 200 points inside ONE res-6 cell (cell width ~2.8 deg; the
    # cluster spans 0.1 x 0.2 deg well inside the cell at (40, -74)) + 50
    # scattered
    rows = [
        (f"https://d.example/{i}", 40.0 + (i % 10) / 100.0, -74.0 + (i // 10) / 100.0)
        for i in range(200)
    ] + [
        (f"https://s.example/{i}", -60.0 + i, -170.0 + 6.0 * i) for i in range(50)
    ]
    corpus = spark.createDataFrame(rows, "url string, lat double, lon double")
    fine = build_cell_stats(corpus, res)
    lut = build_cell_lut(fine, res)

    # round-1-shaped query table: the dense-cell query has rx != ry (the
    # post-escalation / init_radius shape) and a coarse group (s=1); the
    # second query is a fine (s=0) group elsewhere
    qrows = [(1, 40.05, -73.9, 4, 8), (2, -60.0, -170.0, 0, 0)]
    qcells = spark.createDataFrame(
        qrows, "query_id long, qlat double, qlon double, rx long, ry long"
    ).withColumn("qcell", G.encode_cell(F.col("qlat"), F.col("qlon"), res))
    is_band = F.lit(False)
    # groups exactly as the round planner would bucket them: s from
    # max(rx, ry) -> 8 lands in s=2, 0 in s=0
    s_expr = F.when(F.greatest(F.col("rx"), F.col("ry")) >= 4, 2).otherwise(0)
    s_groups = [(0, 1), (2, 15)]

    fan_lut = _fanin_pairs(qcells, is_band, s_expr, s_groups, lut, res)
    assert fan_lut is not None and fan_lut["mx"] is not None
    # the dense cell holds 200 points and its coarse ring covers it
    assert fan_lut["mx"] >= 200
    assert fan_lut["tot"] >= fan_lut["mx"]

    # fine-only stats (no `lv` column): same answer — coarse counts are
    # rolled up from the finest level either way
    fan_fine = _fanin_pairs(qcells, is_band, s_expr, s_groups, fine, res)
    assert fan_fine is not None
    assert (fan_fine["mx"], fan_fine["tot"]) == (fan_lut["mx"], fan_lut["tot"])

    # a radius-0 fine ring over the lone dense-cell query: the estimate is
    # EXACT — one cell, all 200 pairs
    q0 = qcells.filter(F.col("query_id") == 1).withColumn(
        "rx", F.lit(0).cast("long")
    ).withColumn("ry", F.lit(0).cast("long"))
    fan0 = _fanin_pairs(q0, is_band, F.lit(0), [(0, 1)], lut, res)
    assert (fan0["mx"], fan0["tot"]) == (200, 200)

    # no estimable groups -> None (band-only round)
    assert _fanin_pairs(qcells, F.lit(True), s_expr, [], lut, res) is None


def test_update_cell_stats_equals_rebuild(spark, geo_small):
    """Appending a batch via per-cell deltas must equal a from-scratch stats
    build over the unioned corpus, and serving from the merged state must
    stay exact."""
    from countrymaam_spark.operators.knn import build_cell_stats, update_cell_stats

    old = geo_small.filter(F.xxhash64("url") % 4 != 0)
    batch = geo_small.filter(F.xxhash64("url") % 4 == 0)
    merged = update_cell_stats(build_cell_stats(old, 6), batch, 6)
    scratch = build_cell_stats(geo_small, 6)
    got = sorted((r["cell"], r["cnt"]) for r in merged.collect())
    want = sorted((r["cell"], r["cnt"]) for r in scratch.collect())
    assert got == want


def test_plan_radius_with_stats_never_scans_corpus(spark, geo_small, queries_small, tmp_path):
    """With prebuilt stats the radius-planning plan must read ONLY the stats
    table — a corpus scan here would mean serving re-aggregates the corpus
    per query batch, the at-scale regression the state path exists to
    prevent."""
    from countrymaam_spark.operators.knn import _plan_radius, build_cell_stats

    corpus_dir = str(tmp_path / "corpus")
    stats_dir = str(tmp_path / "stats")
    g6 = geo_small.withColumn(
        "cell", __import__("countrymaam_spark.functions.geo", fromlist=["geo"]).encode_cell(
            F.col("lat"), F.col("lon"), 6
        )
    )
    g6.write.mode("overwrite").parquet(corpus_dir)
    build_cell_stats(g6, 6, cell_col="cell").write.mode("overwrite").parquet(stats_dir)
    cells = spark.read.parquet(corpus_dir)
    stats = spark.read.parquet(stats_dir)
    remaining = queries_small.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    )
    plan = _plan_radius(
        remaining, cells, 6, 10, stats=stats
    )._jdf.queryExecution().executedPlan().toString()
    assert "stats" in plan
    assert "corpus" not in plan


def _brute_radius(geo_df, q_df, radius_km):
    from countrymaam_spark.functions import geo as G

    pairs = (
        geo_df.filter(F.col("lat").isNotNull())
        .crossJoin(
            q_df.select(
                "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
            )
        )
        .withColumn(
            "dist_km",
            G.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
        .filter(F.col("dist_km") <= radius_km)
    )
    return sorted(
        (r["query_id"], r["url"]) for r in pairs.select("query_id", "url").collect()
    )


@pytest.mark.parametrize("radius_km,res", [(25.0, 7), (300.0, 6), (2500.0, 4)])
def test_radius_join_equals_brute(spark, geo_small, queries_small, radius_km, res):
    """Exactness across regimes: compact rings (25 km), wide rings (300 km),
    and planet-scale radii at coarse res (2500 km — high-lat queries take the
    full-wrap band path). The edge-case queries (tail ids) include pole- and
    dateline-adjacent points."""
    from countrymaam_spark.operators.knn import radius_join

    got = sorted(
        (r["query_id"], r["url"])
        for r in radius_join(geo_small, queries_small, radius_km, res=res)
        .select("query_id", "url")
        .collect()
    )
    assert got == _brute_radius(geo_small, queries_small, radius_km)


def test_radius_join_shuffle_regime_bit_equal(spark, geo_small, queries_small):
    """Forcing the estimate gate into the shuffle regime (broadcast_limit=0)
    must not change a single pair — the fallback join is the same relation."""
    from countrymaam_spark.operators.knn import radius_join

    a = sorted(
        map(tuple, radius_join(geo_small, queries_small, 200.0, res=6).collect())
    )
    b = sorted(
        map(
            tuple,
            radius_join(
                geo_small, queries_small, 200.0, res=6, broadcast_limit=0
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_radius_join_plan_is_equi_join(spark, geo_small, queries_small):
    """The corpus probe must be a hash equi-join on cell in BOTH regimes —
    never a BroadcastNestedLoopJoin/CartesianProduct (the O(corpus x queries)
    shape the cell index exists to avoid) — and the estimate gate must
    actually flip the regime (auto-broadcast disabled so the plan string
    reflects only the gate's decision, as in test_adaptive_broadcast)."""
    from tests.test_adaptive_broadcast import no_auto_broadcast

    from countrymaam_spark.operators.knn import radius_join

    with no_auto_broadcast(spark):
        for limit in (None, 0):
            plan = (
                radius_join(
                    geo_small, queries_small, 200.0, res=6, broadcast_limit=limit
                )
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastNestedLoopJoin" not in plan
            assert "CartesianProduct" not in plan
            if limit == 0:
                assert "BroadcastHashJoin" not in plan
            else:
                assert "BroadcastHashJoin" in plan


def test_radius_join_prebuilt_cell_state_bit_equal(spark, geo_small, queries_small):
    """Serving the range join from a pre-encoded corpus (index state) must
    return bit-identical pairs to the stateless path."""
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import radius_join

    g6 = geo_small.filter(F.col("lat").isNotNull()).withColumn(
        "c6", G.encode_cell(F.col("lat"), F.col("lon"), 6)
    )
    a = sorted(map(tuple, radius_join(geo_small, queries_small, 200.0, res=6).collect()))
    b = sorted(
        map(
            tuple,
            radius_join(g6, queries_small, 200.0, res=6, cell_col="c6").collect(),
        )
    )
    assert a == b and len(a) > 0


def test_cell_density_matches_duckdb(spark, geo_small):
    """Box-kernel density surface over the stats state must equal the DuckDB
    scatter oracle (same packing constants, same wrap/clamp arithmetic)."""
    from countrymaam_spark.operators.knn import (
        build_cell_stats,
        cell_density,
        cell_density_sql,
    )

    out = pg.fixture_dir("sf0.001")
    pages_p = os.path.join(out, "pages.parquet")
    pages_rel = (
        f"(SELECT url, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
        f"CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{pages_p}')"
    )
    for res, radius in [(6, 1), (5, 2)]:
        got = sorted(
            (r["cell"], r["density"])
            for r in cell_density(build_cell_stats(geo_small, res), res, radius).collect()
        )
        want = sorted(duckdb.sql(cell_density_sql(pages_rel, res, radius)).fetchall())
        assert got == want and len(got) > 0


def test_cell_density_isolated_cell(spark):
    """A lone point's density surface is exactly its (2r+1)^2 neighborhood
    (minus pole-clamped rows), each cell at density 1."""
    from countrymaam_spark.operators.knn import build_cell_stats, cell_density

    one = spark.createDataFrame([("u", 10.0, 10.0)], "url string, lat double, lon double")
    rows = cell_density(build_cell_stats(one, 6), 6, radius=1).collect()
    assert len(rows) == 9 and all(r["density"] == 1 for r in rows)


def test_update_cell_lut_equals_rebuild(spark, geo_small):
    """Appending a batch via per-(lv, cell) deltas must equal a from-scratch
    lut build over the unioned corpus."""
    from countrymaam_spark.operators.knn import (
        build_cell_lut,
        build_cell_stats,
        update_cell_lut,
    )

    old = geo_small.filter(F.xxhash64("url") % 4 != 0)
    batch = geo_small.filter(F.xxhash64("url") % 4 == 0)
    merged = update_cell_lut(build_cell_lut(build_cell_stats(old, 6), 6), batch, 6)
    scratch = build_cell_lut(build_cell_stats(geo_small, 6), 6)
    got = sorted((r["lv"], r["cell"], r["cnt"]) for r in merged.collect())
    want = sorted((r["lv"], r["cell"], r["cnt"]) for r in scratch.collect())
    assert got == want


def test_geo_near_pairs_equals_brute(spark, geo_small):
    """Self-join exactness: every unordered pair within radius appears exactly
    once (url_a < url_b), matching the brute DuckDB oracle bit-for-bit on
    dist_km. 10 km on the clustered sf0.001 fixture exercises multi-cell
    rings at res=12."""
    import duckdb as _dd

    from countrymaam_spark.operators.geotag import extract_geo_sql
    from countrymaam_spark.operators.knn import geo_near_pairs, geo_near_pairs_sql

    out = pg.fixture_dir("sf0.001")
    rel = "(" + extract_geo_sql(f"'{os.path.join(out, 'pages.parquet')}'") + ")"
    got = sorted(
        map(tuple, geo_near_pairs(geo_small, 10.0, res=12).collect())
    )
    want = sorted(map(tuple, _dd.sql(geo_near_pairs_sql(rel, 10.0)).fetchall()))
    assert got == want and len(got) > 0


def test_geo_near_pairs_unordered_once(spark, geo_small):
    """Each unordered pair is emitted exactly once and strictly ordered —
    no distinct/dedup shuffle hides a double emission."""
    from countrymaam_spark.operators.knn import geo_near_pairs

    p = geo_near_pairs(geo_small, 10.0, res=12)
    n = p.count()
    assert p.select("url_a", "url_b").distinct().count() == n
    assert p.filter(F.col("url_a") >= F.col("url_b")).count() == 0


def test_geo_near_pairs_plan_no_nested_loop(spark, geo_small):
    """Both gate regimes must probe via a hash equi-join on cell (the repo
    invariant: no BroadcastNestedLoopJoin/CartesianProduct on any path)."""
    from tests.test_adaptive_broadcast import no_auto_broadcast

    from countrymaam_spark.operators.knn import geo_near_pairs

    with no_auto_broadcast(spark):
        for limit in (None, 0):
            plan = (
                geo_near_pairs(geo_small, 10.0, res=12, broadcast_limit=limit)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "BroadcastNestedLoopJoin" not in plan
            assert "CartesianProduct" not in plan


def test_idw_estimate_matches_oracle_and_bounds(spark, queries_small):
    """IDW interpolation: bit-exact vs the brute-force DuckDB oracle, and
    every estimate lies inside [min, max] of its neighbors' values (a
    weighted mean cannot extrapolate)."""
    from countrymaam_spark.operators.knn import idw_estimate, idw_estimate_sql
    from countrymaam_spark.operators.geotag import extract_geo_sql

    out = pg.ensure_fixtures("sf0.001")
    geo = extract_geo(spark.read.parquet(os.path.join(out, "pages.parquet"))).cache()
    got_rows = idw_estimate(geo, queries_small, k=10, res=7).collect()
    got = {tuple(r) for r in got_rows}
    pg_rel = "(" + extract_geo_sql(f"'{os.path.join(out, 'pages.parquet')}'") + ")"
    q_rel = (
        f"(SELECT * FROM '{os.path.join(out, 'knn_queries.parquet')}' "
        f"WHERE query_id < 32 OR query_id >= 192)"
    )
    want = set(duckdb.sql(idw_estimate_sql(pg_rel, q_rel, k=10)).fetchall())
    assert got == want and len(got) > 0

    nn = cell_knn(geo, queries_small, k=10, res=7)
    vals = geo.select("url", F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("v"))
    rng = {
        r["query_id"]: (r["lo"], r["hi"])
        for r in nn.join(vals, "url")
        .groupBy("query_id")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for r in got_rows:
        lo, hi = rng[r["query_id"]]
        assert lo <= r["est"] <= hi


def test_knn_join_matches_brute_self_join(spark, geo_small):
    """knn_join == brute-force self-kNN with self-exclusion on the same
    slice; the self page never appears among its own neighbors."""
    from countrymaam_spark.operators.knn import knn_join
    from countrymaam_spark.functions import text as T

    got = knn_join(geo_small, k=5, res=7, query_mod=10).collect()
    assert got, "slice selected no queries"
    # self-exclusion: no neighbor row hashes to its own query_id
    h = {r["url"]: None for r in got}
    hashed = dict(
        geo_small.select(
            "url", T.tok_hash(F.concat(F.lit("kj0"), F.col("url"))).alias("h")
        ).collect()
    )
    assert all(hashed[r["url"]] != r["query_id"] for r in got)
    # brute oracle: flat_knn with the SAME hashed query ids at k+1, drop self
    q = geo_small.select(
        T.tok_hash(F.concat(F.lit("kj0"), F.col("url"))).alias("query_id"),
        "lat",
        "lon",
    ).filter(F.col("query_id") % 10 == 0)
    brute = flat_knn(geo_small, q, k=6).collect()
    want = {}
    for r in sorted(brute, key=lambda r: (r["query_id"], r["rk"])):
        if hashed[r["url"]] == r["query_id"]:
            continue
        want.setdefault(r["query_id"], [])
        if len(want[r["query_id"]]) < 5:
            want[r["query_id"]].append((r["url"], r["dist_km"]))
    got_m = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rk"])):
        got_m.setdefault(r["query_id"], []).append((r["url"], r["dist_km"]))
    assert got_m == want


def test_knn_join_empty_input(spark):
    from countrymaam_spark.operators.knn import knn_join

    empty = spark.createDataFrame([], "url string, lat double, lon double")
    assert knn_join(empty, k=3, res=7).count() == 0


def test_knn_join_state_served_bit_equal(spark, geo_small, tmp_path):
    """knn_join from prebuilt cell state (the bench path) must be
    bit-identical to the stateless path."""
    from countrymaam_spark.operators.knn import knn_join
    from countrymaam_spark.plans import pipeline as P

    stateless = sorted(map(tuple, knn_join(geo_small, k=5, res=6, query_mod=10).collect()))
    out = str(tmp_path / "cellidx_kj")
    P.build_cell_pipeline(spark, geo_small, out, res=6)
    cells, state = P.load_cell_state(spark, out)
    stateful = sorted(
        map(
            tuple,
            knn_join(
                cells, k=5, res=6, query_mod=10, cell_col="cell", stats=state
            ).collect(),
        )
    )
    assert stateful == stateless


# --- reverse kNN (influence sets) --------------------------------------------


def test_reverse_knn_matches_oracle(spark, geo_small, queries_small):
    """Corpus-fixture parity with the brute kth-distance-window oracle,
    including the mod slice."""
    import duckdb

    from countrymaam_spark.operators.knn import reverse_knn, reverse_knn_sql
    from countrymaam_spark.operators.geotag import extract_geo_sql

    out = pg.fixture_dir("sf0.001")
    rel = "(" + extract_geo_sql(f"'{out}/pages.parquet'") + ")"
    qrel = (
        f"(SELECT * FROM '{out}/knn_queries.parquet' "
        "WHERE query_id < 32 OR query_id >= 192)"
    )
    got = sorted(
        tuple(r)
        for r in reverse_knn(
            geo_small, queries_small, k=5, res=6, target_mod=20
        ).collect()
    )
    want = sorted(
        tuple(t)
        for t in duckdb.sql(
            reverse_knn_sql(rel, qrel, k=5, target_mod=20)
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_reverse_knn_planted_semantics(spark):
    """The three RkNN behaviors kNN cannot express, on hand-checked
    geometry (degrees on the equator, ~111.19 km/deg):

    - membership is governed by the TARGET's k-th-neighbor radius, not the
      query's: q_in (0.5 deg from A) enters A's k=1 ball (radius 1 deg to
      B) while q_out (1.5 deg) does not;
    - a tie with the k-th neighbor counts as entering (q_tie at exactly
      1 deg on the mirrored side of A);
    - a target with fewer than k other pages has NO k-th neighbor: its
      radius is unbounded and EVERY query enters (k=5 > |corpus|-1).
    """
    from countrymaam_spark.operators.knn import reverse_knn

    corpus = spark.createDataFrame(
        [("A", 0.0, 0.0), ("B", 0.0, 1.0)], "url string, lat double, lon double"
    )
    qs = spark.createDataFrame(
        [(1, 0.0, -0.5), (2, 0.0, -1.5), (3, 0.0, -1.0)],
        "query_id long, lat double, lon double",
    )
    got = {
        (r["query_id"], r["url"])
        for r in reverse_knn(corpus, qs, k=1, res=6).collect()
    }
    # q1 (0.5 deg) enters both A (radius 1 deg) and... B's radius is also
    # 1 deg (A is B's 1-NN) but q1 is 1.5 deg from B -> only A.
    # q3 sits at EXACTLY A's k-th distance (haversine symmetric in dlon).
    assert (1, "A") in got and (1, "B") not in got
    assert (2, "A") not in got and (2, "B") not in got
    assert (3, "A") in got  # tie included
    # unbounded radius: k exceeds the corpus, everyone enters everywhere
    got_unbounded = {
        (r["query_id"], r["url"])
        for r in reverse_knn(corpus, qs, k=5, res=6).collect()
    }
    assert got_unbounded == {(q, u) for q in (1, 2, 3) for u in ("A", "B")}


def test_cell_knn_fanin_spread_unpruned_path(spark):
    """r6: the fan-in gate also covers stats-serving WITHOUT the
    partition-pruned corpus (the knn_join / knn_cell_index shape — measured
    sf1 straggler: 81 s of a 95 s call in one task). With the floors pinned
    to zero a hot-cell batch must engage the spread on the un-pruned path
    and stay bit-identical to the flat oracle; the probe-ub factor gate is
    bypassed by the zero floor (threshold = FACTOR * 0)."""
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators import knn as knn_mod
    from countrymaam_spark.operators.knn import (
        build_cell_lut,
        build_cell_stats,
        cell_knn,
        flat_knn,
    )

    rows = [
        (
            f"https://dense.example/{i}",
            40.0 + (i * 37 % 1000) / 1000.0,
            -74.0 + (i * 61 % 1000) / 1000.0,
        )
        for i in range(1200)
    ] + [
        (
            f"https://sparse.example/{i}",
            -80.0 + (i * 997 % 16000) / 100.0,
            -179.0 + (i * 773 % 35800) / 100.0,
        )
        for i in range(200)
    ]
    corpus = spark.createDataFrame(
        rows, "url string, lat double, lon double"
    ).withColumn("cell", G.encode_cell(F.col("lat"), F.col("lon"), 6))
    lut = build_cell_lut(build_cell_stats(corpus, 6, cell_col="cell"), 6)
    metro_q = spark.createDataFrame(
        [(i, 40.4 + i / 100.0, -73.6 - i / 100.0) for i in range(20)],
        "query_id long, lat double, lon double",
    )
    want = _key(flat_knn(corpus, metro_q, k=10).collect())
    old_floor = knn_mod.FANIN_SPREAD_MIN_PAIRS
    old_factor = knn_mod.FANIN_SPREAD_FACTOR
    knn_mod.FANIN_SPREAD_MIN_PAIRS = 0
    knn_mod.FANIN_SPREAD_FACTOR = 0
    try:
        t: dict = {}
        got = _key(
            cell_knn(
                corpus, metro_q, k=10, res=6, cell_col="cell", stats=lut,
                timings=t,
            ).collect()
        )
    finally:
        knn_mod.FANIN_SPREAD_MIN_PAIRS = old_floor
        knn_mod.FANIN_SPREAD_FACTOR = old_factor
    assert got == want
    assert any(k_.startswith("fanin_spread_round") for k_ in t), sorted(t)


# --- budget semantics pinned on both sides of search_k = k -----------------
#
# Stale planning state makes the round-0 rings small: the lut counts 36
# extra pages at sites A and B (and 20 at site G) that the served corpus
# does not hold, so the planner trusts rings that hold only 8 (A), 3 (B) and
# 10 (G) pages. At ~80 deg north the ring's longitude bound collapses, so an
# exact query must widen past the ring to find 'e' / 'f', while a budget
# query stops as soon as it has seen search_k candidates.
_BUDGET_K = 5
_Q0 = [
    (0, 1, "a3", 9.83998), (0, 2, "a4", 11.332405), (0, 3, "a2", 20.730595),
    (0, 4, "a5", 22.900627), (0, 5, "a1", 33.575774),
]
_Q1_RING = [(1, 1, "b2", 1.918146), (1, 2, "b1", 15.331523), (1, 3, "b0", 29.381184)]
_Q1_WIDE = _Q1_RING + [(1, 4, "a0", 5549.192711), (1, 5, "a1", 5554.018637)]
_Q2_RING = [
    (2, 1, "h15", 144.553604), (2, 2, "h14", 144.55589), (2, 3, "h16", 144.55589),
    (2, 4, "h13", 144.562745), (2, 5, "h17", 144.562745),
]
_Q3_RING = [
    (3, 1, "g4", 144.554176), (3, 2, "g3", 144.570886), (3, 3, "g5", 144.585738),
    (3, 4, "g2", 144.635852), (3, 5, "g6", 144.665541),
]
_Q3_WIDE = [(3, 1, "f", 97.166533)] + [
    (q, rk + 1, u, d) for q, rk, u, d in _Q3_RING[:4]
]
# rows recorded from the implementation that re-ran the candidate join to
# count the candidates seen: search_k=1 accepts B's 3-page ring (fewer than k rows); search_k=k widens
# B but accepts G's 10-page ring; search_k=3k widens G and finds 'f'; only
# the exact path widens the h-row query and finds 'e'.
_BUDGET_ROWS = {
    1: _Q0 + _Q1_RING + _Q2_RING + _Q3_RING,
    _BUDGET_K: _Q0 + _Q1_WIDE + _Q2_RING + _Q3_RING,
    3 * _BUDGET_K: _Q0 + _Q1_WIDE + _Q2_RING + _Q3_WIDE,
}


@pytest.fixture(scope="module")
def budget_fixture(spark):
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import build_cell_lut, build_cell_stats

    schema = "url string, lat double, lon double"
    served = (
        [(f"a{i}", 10.2 + i * 0.1, 10.2 + i * 0.07) for i in range(8)]
        + [(f"b{i}", -30.2 - i * 0.1, 40.2 + i * 0.09) for i in range(3)]
        + [(f"h{i:02d}", 80.1, 0.1 + i * 0.04) for i in range(30)]
        + [("e", 78.8, 5.2)]
        + [(f"g{i}", 80.1, 60.5 + i * 0.13) for i in range(10)]
        + [("f", 78.8, 65.5)]
        + [(f"s{i:02d}", -60.0 + i * 7.0, -170.0 + i * 13.0) for i in range(20)]
    )
    unserved = (
        [(f"xa{i}", 10.3 + (i % 6) * 0.1, 10.3 + (i // 6) * 0.1) for i in range(36)]
        + [(f"xb{i}", -30.3 - (i % 6) * 0.1, 40.3 + (i // 6) * 0.1) for i in range(36)]
        + [(f"xg{i}", 80.0, 60.55 + i * 0.06) for i in range(20)]
    )
    corpus = spark.createDataFrame(served, schema).withColumn(
        "cell", G.encode_cell(F.col("lat"), F.col("lon"), 7)
    )
    stale = build_cell_lut(
        build_cell_stats(spark.createDataFrame(served + unserved, schema), 7), 7
    )
    q = spark.createDataFrame(
        [(0, 10.5, 10.5), (1, -30.4, 40.4), (2, 78.8, 0.7), (3, 78.8, 61.0)],
        "query_id long, lat double, lon double",
    )
    return corpus, stale, q


def _rows(df):
    return sorted((r["query_id"], r["rk"], r["url"], r["dist_km"]) for r in df.collect())


def test_cell_knn_search_k_rows_pinned_both_sides_of_k(spark, budget_fixture):
    """search_k in {1, k, 3k} returns exactly the rows the re-join form of
    the budget returned; without a budget the same call is exact."""
    corpus, stale, q = budget_fixture
    kw = dict(k=_BUDGET_K, res=7, cell_col="cell", stats=stale)
    for search_k, want in _BUDGET_ROWS.items():
        got = _rows(cell_knn(corpus, q, search_k=search_k, **kw))
        assert got == sorted(want), f"search_k={search_k}"
    exact = _rows(cell_knn(corpus, q, **kw))
    assert exact == _rows(flat_knn(corpus, q, k=_BUDGET_K))
    assert exact != sorted(_BUDGET_ROWS[3 * _BUDGET_K])  # 'e' lies past the ring


def test_cell_knn_batch_size_edge_cases(spark, budget_fixture):
    """The batch size comes from round 0's planning collect: an empty batch,
    max_rounds=0 (no planning collect: straight to the exact flat fallback)
    and NULL-coordinate corpus rows give the same rows as before."""
    corpus, stale, q = budget_fixture
    pts = corpus.select("url", "lat", "lon")
    empty_q = spark.createDataFrame([], "query_id long, lat double, lon double")
    for kw in ({}, dict(cell_col="cell", stats=stale), dict(max_rounds=0)):
        empty = cell_knn(corpus, empty_q, k=5, res=7, **kw)
        assert empty.schema.simpleString() == (
            "struct<query_id:bigint,rk:int,url:string,dist_km:double>"
        )
        assert empty.collect() == []

    want = _rows(flat_knn(pts, q, k=5))
    t: dict = {}
    assert _rows(cell_knn(pts, q, k=5, res=7, max_rounds=0, timings=t)) == want
    assert "round_plan_collect" not in t

    with_nulls = pts.unionByName(
        spark.createDataFrame(
            [("n0", None, None), ("n1", None, 10.5)], "url string, lat double, lon double"
        )
    )
    assert _rows(cell_knn(with_nulls, q, k=5, res=7)) == want
    assert _rows(cell_knn(with_nulls, q, k=5, res=7, max_rounds=1)) == want


@pytest.fixture(scope="module")
def metro_state(spark, tmp_path_factory):
    """A parent-partitioned cell index over a dense metro cluster plus
    scattered pages, and a 20-query metro batch (the fan-in gate's shape)."""
    from countrymaam_spark.plans import pipeline as P

    rows = [
        (f"https://dense.example/{i}", 40.0 + (i * 37 % 1000) / 1000.0,
         -74.0 + (i * 61 % 1000) / 1000.0)
        for i in range(1500)
    ] + [
        (f"https://sparse.example/{i}", -80.0 + (i * 997 % 16000) / 100.0,
         -179.0 + (i * 773 % 35800) / 100.0)
        for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = str(tmp_path_factory.mktemp("metro_part"))
    P.build_cell_pipeline(spark, corpus, out, res=6, partition_parent_res=3)
    cells, lut = P.load_cell_state(spark, out)
    metro_q = spark.createDataFrame(
        [(i, 40.4 + i / 100.0, -73.6 - i / 100.0) for i in range(20)],
        "query_id long, lat double, lon double",
    )
    return corpus, cells, lut, metro_q


def test_cell_knn_fanin_estimate_skipped_when_gate_cannot_fire(
    spark, metro_state, monkeypatch
):
    """At parallelism <= FANIN_SPREAD_FACTOR the fan-in relative test cannot
    pass (the hot cell's pairs never exceed the total), so neither serving
    path builds the estimate; one factor below the parallelism, it is
    built again. Rows are identical on both sides of the switch."""
    from countrymaam_spark.operators import knn as knn_mod

    corpus, cells, lut, metro_q = metro_state
    target = spark.sparkContext.defaultParallelism
    assert target <= knn_mod.FANIN_SPREAD_FACTOR  # the default regime here
    calls = []
    real = knn_mod._fanin_pairs

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(knn_mod, "_fanin_pairs", spy)
    want = _key(flat_knn(corpus, metro_q, k=10).collect())

    def serve(corpus_, **extra):
        t: dict = {}
        got = _key(
            cell_knn(
                corpus_, metro_q, k=10, res=6, cell_col="cell", stats=lut,
                timings=t, **extra,
            ).collect()
        )
        return got, t

    # pruned (parent-partitioned) and un-pruned stats serving
    for got, t in (serve(cells, partition_parent_res=3), serve(cells.drop("parent"))):
        assert got == want
        assert not calls, "fan-in estimate built although the gate cannot fire"
        assert not any(k_.startswith("fanin_spread_round") for k_ in t)

    # the other side: one factor below the parallelism the estimate runs
    # (its own collect); the production floor still keeps the small batch
    # from spreading
    monkeypatch.setattr(knn_mod, "FANIN_SPREAD_FACTOR", target - 1)
    got, t = serve(cells, partition_parent_res=3)
    assert got == want
    assert calls
    assert not any(k_.startswith("fanin_spread_round") for k_ in t)


# Spark jobs of one cell_knn call plus its materialization on the metro
# fixture (one round; AQE submits each shuffle stage as its own job):
# plan_radius checkpoint 3, round-plan collect with the parent cover merged
# in 3, probe checkpoint with the settle flags 4, settle count 2, output 1.
# The unsettled queries are not pinned (no later round runs). A re-added
# driver-synchronized action fails this bound.
CELL_KNN_METRO_JOBS = 13


def test_cell_knn_job_count_bound(spark, metro_state):
    corpus, cells, lut, metro_q = metro_state
    sc = spark.sparkContext
    for rnd in range(2):  # the first call warms plans and file listings
        group = f"cell_knn_job_count_{rnd}"
        sc.setJobGroup(group, "cell_knn job-count regression")
        try:
            out = cell_knn(
                cells, metro_q, k=10, res=6, cell_col="cell", stats=lut,
                partition_parent_res=3,
            )
            out.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= CELL_KNN_METRO_JOBS, n_jobs
