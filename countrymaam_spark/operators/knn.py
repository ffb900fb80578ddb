"""kNN joins over geotagged pages.

Two paths, mirroring the reference's index zoo:

- ``flat_knn`` — exact brute force: broadcast the query set against the full
  corpus and re-rank. The Spark form of ``FlatIndex.SearchChannel``
  (/root/reference/index/flat_index.go:26-82) + the top-k finalizer
  (/root/reference/countrymaam.go:38-69). This is the permanent verification
  oracle, and the right plan when |queries| is small enough to broadcast —
  one pass over the corpus, no shuffle of the big side.

- ``cell_knn`` — candidate generation via quad-cell ring lookup + exact
  haversine re-rank, the Spark form of best-first tree descent + re-rank
  (/root/reference/index/bsp_tree_index.go:35-92). Ring radius escalates
  per query until the k-th candidate distance is provably smaller than any
  point outside the ring (branch-and-bound: the ring boundary is the
  frontier priority, /root/reference/index/bsp_tree_index.go:75-85), so the
  result is EXACT while touching only candidate cells. A candidate budget
  (``search_k``) can relax the guarantee into the reference's
  recall-vs-effort knob (/root/reference/countrymaam.go:40-45).

Scale notes (100 TB corpus):
- EVERY corpus probe is a hash equi-join — never a per-pair predicate scan:
  compact rings enumerate cells at the query resolution; wide rings
  enumerate at the parent level that keeps the coarse radius in [2, 4] and
  join on ``cell_parent``; full-wrap latitude bands explode to the coarse
  y-rows they span and join on the row id (exact range filter after).
- the exploded (query, cell) side is broadcast while small (estimated from
  the planned radii) and becomes a distributed shuffle join beyond ~1M
  rows; the corpus side never shuffles (at cluster scale it is a
  cell-bucketed table).
- per-round state is O(|queries|), but each round is driver-synchronized:
  a planning collect (the parent cover rides it on the partitioned layout),
  the probe checkpoint, a settle count, and a checkpoint of the unsettled
  queries only when another round follows (``cell_knn`` lists them). Once
  <=1% of queries (or <=32) remain the exact flat fallback replaces further
  rounds.
"""

from __future__ import annotations

import math
from functools import cache

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.topk import topk_per_group

# fan-in skew gate (cell_knn pruned serving): minimum expected pairs in the
# hottest fine cell before the round-robin spread of the pruned subset pays
# for its shuffle (~seconds of single-task haversine kernel time), and the
# concentration criterion (spread when the hot cell's share of the pairs
# exceeds FACTOR/parallelism — i.e. one task would do FACTOR x its fair
# share). Module constants so tests can pin the regime switch, like
# BROADCAST_STRUCT_LIMIT. Note the relative test is unsatisfiable at
# parallelism <= FACTOR — correct: with 4 cores a straggler costs at most
# the 4x it already has.
FANIN_SPREAD_MIN_PAIRS = 2_000_000
FANIN_SPREAD_FACTOR = 4
# Un-pruned serving paths (stats state but no partition_parent_res — the
# knn_join / knn_cell_index shape) probe the corpus under the same
# clustered-file layout, so the same hot-cell straggler exists (measured at
# sf1/mod=500: ONE task held the 417k-row metro cell and the probe ran 81 s
# of a 95 s call; spread: ~50 s probe). There the estimate is a STANDALONE
# driver job (no prune collect to merge with), so it only runs when the
# cheap per-call upper bound (per-s-group query counts x that level's max
# cell count, summed) clears this multiple of the spread floor — skipping
# can only miss hot tasks bounded by that many pairs (a few seconds of
# single-task kernel work, where the spread shuffle does not pay anyway —
# measured at sf0.1/mod=500: spread 5.6 s vs unspread 4.4-5.2 s), while
# sf0.1-scale batches never pay the estimate job at all.
FANIN_PROBE_UB_FACTOR = 16


def _widen(narrow: DataFrame) -> DataFrame:
    """Repartition an under-partitioned narrow corpus projection up to the
    session parallelism.

    A few-MB geo snapshot yields 1-3 parquet splits; a crossJoin then
    amplifies |queries|x rows INSIDE those few tasks, and the window's
    partial top-k sorts millions of rows single-threaded per task (measured:
    13s of a 14s flat_knn at sf0.1 in 3 tasks). The 3 MB shuffle that fixes
    the layout is noise. A 100 TB corpus scan arrives well-partitioned, so
    this only ever triggers on small/compacted inputs.
    """
    spark = narrow.sparkSession
    target = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < max(2, target // 2):
        return narrow.repartition(target)
    return narrow


def flat_knn(pages_geo: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact kNN: (query_id, rk, url, dist_km). pages_geo needs url/lat/lon;
    queries needs query_id/lat/lon."""
    q = F.broadcast(
        queries.select(
            "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
        )
    )
    pairs = (
        _widen(pages_geo.filter(F.col("lat").isNotNull()).select("url", "lat", "lon"))
        .crossJoin(q)
        .withColumn(
            "dist_km",
            geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
    )
    # pairs are unique by construction (unique urls x unique queries):
    # dedup=False skips a full shuffle of the pair set (explain-verified).
    # Project to the 3 columns the top-k needs BEFORE the window: the partial
    # WindowGroupLimit sorts the full pair set per task, and sort cost here is
    # row-width-bound (guide §2.3 "project before the exchange"; measured ~2x
    # on the 20M-pair metro probe for the cell_knn sibling of this window).
    out = topk_per_group(
        pairs.select("query_id", "url", "dist_km"),
        ["query_id"], "dist_km", "url", k, dedup=False,
    )
    return out.select(
        "query_id", "rk", "url", F.round("dist_km", 6).alias("dist_km")
    )


def flat_knn_sql(pages_rel: str, queries_rel: str, k: int = 10) -> str:
    """DuckDB oracle: identical semantics, identical haversine formula."""
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    return f"""
        SELECT query_id, rk, url, ROUND(dist_km, 6) AS dist_km
        FROM (
            SELECT q.query_id, p.url,
                   {hav} AS dist_km,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {hav} ASC, p.url ASC
                   ) AS rk
            FROM {pages_rel} p, {queries_rel} q
            WHERE p.lat IS NOT NULL
        ) t
        WHERE rk <= {k}
    """


def _lon_bound_km(rx_col, ry_col, res: int, qlat_col):
    """Distance lower bound for points separated by > rx longitude cells
    (valid only for points within the ring's latitude band, which is why it
    is min'd with the latitude bound)."""
    cd = geo.cell_deg(res)
    band = (ry_col + 1) * F.lit(cd)
    worst_abs_lat = F.least(F.abs(qlat_col) + band, F.lit(90.0))
    cmin = F.cos(F.radians(worst_abs_lat))
    dlon_deg = F.least(rx_col * F.lit(cd), F.lit(180.0))
    return (
        F.lit(2.0 * geo.EARTH_RADIUS_KM)
        * F.greatest(cmin, F.lit(0.0))
        * F.sin(F.radians(dlon_deg) / 2.0)
    )


def _ring_guarantee_km(rx_col, ry_col, res: int, qlat_col, nx: int):
    """Lower bound on the distance from a query to any point OUTSIDE its
    (rx, ry) ring — the branch-and-bound pruning bound.

    lat-separation: ry * cell_deg degrees of latitude (always valid).
    lon-separation: collapses near the poles (the band min-cos hits 0); a
    full-wrap ring (2*rx+1 >= nx) removes the lon case entirely.
    """
    cd = geo.cell_deg(res)
    lat_bound = ry_col * F.lit(cd * geo.KM_PER_DEG)
    full_wrap = (rx_col * 2 + 1) >= F.lit(nx)
    return F.when(full_wrap, lat_bound).otherwise(
        F.least(lat_bound, _lon_bound_km(rx_col, ry_col, res, qlat_col))
    )


def build_cell_stats(pages_geo: DataFrame, res: int, cell_col: str | None = None) -> DataFrame:
    """Per-cell page counts at the index resolution — the cell index's
    STATISTICS STATE (cell, cnt).

    The Spark analog of the reference's subtree sizes
    (/root/reference/bsp_tree/bsp_tree.go:22-60): node ranges ARE counts, and
    they are built once at index-build time, not per query. Build this with
    the index, persist it next to the encoded corpus, and pass it to
    ``cell_knn(stats=...)`` — serving then never re-aggregates the corpus.
    At 10^12 rows the per-batch corpus ``groupBy(cell)`` this replaces is a
    full-table shuffle per query batch; the stats table is ~|cells| rows and
    updates incrementally with appends (add per-cell deltas).
    """
    cell = F.col(cell_col) if cell_col else geo.encode_cell(
        F.col("lat"), F.col("lon"), res
    )
    return (
        pages_geo.filter(F.col("lat").isNotNull())
        .select(cell.alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("cnt"))
    )


def update_cell_stats(
    stats_old: DataFrame, new_pages_geo: DataFrame, res: int, cell_col: str | None = None
) -> DataFrame:
    """Merge an append batch into the cell-count statistics state.

    The incremental-maintenance half of :func:`build_cell_stats` — the cell
    index's MutableIndex.Add (reference: flat-only append,
    /root/reference/index/flat_index.go:88-90). An Iceberg append of new
    pages only ever touches per-cell DELTAS: aggregate the batch (|batch|
    rows, not the corpus), then one outer merge against the ~|cells|-row
    stats table. Commutative and associative, so any append order yields the
    same state, and the result is exactly ``build_cell_stats`` over the
    unioned corpus (pytest-pinned).
    """
    delta = build_cell_stats(new_pages_geo, res, cell_col=cell_col)
    return (
        stats_old.withColumnRenamed("cnt", "_a")
        .join(delta.withColumnRenamed("cnt", "_b"), "cell", "full_outer")
        .select(
            "cell",
            (F.coalesce(F.col("_a"), F.lit(0)) + F.coalesce(F.col("_b"), F.lit(0))).alias(
                "cnt"
            ),
        )
    )


def _plan_levels(res: int) -> list[int]:
    """The statistics levels the radius planner consults (finest first)."""
    return [lv for lv in range(res, res - 5, -1) if lv >= 0]


def _rollup_lut(counts: DataFrame, res: int, levels: list[int]) -> DataFrame:
    """(lv, cell, cnt) over every planning level, built in ONE shuffle: each
    finest-level count row explodes into its <=5 (lv, ancestor)
    contributions and a single groupBy sums them."""
    return (
        counts.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(lv).alias("lv"),
                            geo.cell_parent(F.col("cell"), lv, res).alias("cell"),
                        )
                        for lv in levels
                    ]
                )
            ).alias("lc"),
        )
        .groupBy(F.col("lc.lv").alias("lv"), F.col("lc.cell").alias("cell"))
        .agg(F.sum("cnt").alias("cnt"))
    )


def build_cell_lut(stats: DataFrame, res: int) -> DataFrame:
    """Multi-level planning lookup table (lv, cell, cnt) — the FULLY prebuilt
    form of the radius-planner's statistics state.

    ``build_cell_stats`` removed the per-batch corpus aggregation from
    serving; the planner still rolled the ~|cells|-row stats table up to its
    5 coarser levels per query batch (~1-2 s of pure fixed cost warm).
    Persist THIS table instead (<= 5x|cells| rows, one shuffle to build) and
    pass it as ``cell_knn(stats=...)`` — the planner detects the ``lv``
    column and planning becomes a single equi-join against state. Appends
    maintain it the same way as the stats table: roll up the batch's delta
    lut and merge per (lv, cell)."""
    return _rollup_lut(stats, res, _plan_levels(res))


def update_cell_lut(
    lut_old: DataFrame, new_pages_geo: DataFrame, res: int, cell_col: str | None = None
) -> DataFrame:
    """Merge an append batch into the multi-level planning lut.

    Counts are additive at every level, so the delta lut of the batch
    (|batch distinct cells| x 5 rows) merges with one outer join per
    (lv, cell) — the same commutative contract as :func:`update_cell_stats`;
    the result equals ``build_cell_lut`` over the unioned corpus
    (pytest-pinned)."""
    delta = build_cell_lut(build_cell_stats(new_pages_geo, res, cell_col=cell_col), res)
    return (
        lut_old.withColumnRenamed("cnt", "_a")
        .join(delta.withColumnRenamed("cnt", "_b"), ["lv", "cell"], "full_outer")
        .select(
            "lv",
            "cell",
            (F.coalesce(F.col("_a"), F.lit(0)) + F.coalesce(F.col("_b"), F.lit(0))).alias(
                "cnt"
            ),
        )
    )


def _plan_radius(
    remaining: DataFrame,
    pages_cells: DataFrame,
    res: int,
    k: int,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Per-query starting ring (rx, ry) from multi-resolution cell-count stats.

    The Spark analog of descending the reference's tree by node sizes
    (/root/reference/bsp_tree/bsp_tree.go:22-60: subtree ranges ARE counts):
    pick the finest statistics level whose single covering cell already holds
    >= 4k pages; a ring of radius 2*span covers that cell from anywhere
    inside it, so >= 4k candidates are guaranteed and the k-th distance is at
    most ~the cell diagonal. Queries whose longitude bound cannot beat that
    diagonal (wide ring at high latitude) get a full-wrap ring (rx = nx/2)
    upfront, where the latitude-only bound settles them in one round.
    Coarse counts are rolled up from fine counts (tiny aggregates), never
    from the corpus again.
    """
    need = 4 * k
    nx = 2 << res
    if stats is not None and "lv" in stats.columns:
        # fully-prebuilt multi-level lut (build_cell_lut): planning is one
        # equi-join against persisted state — no per-batch rollup at all
        counts = None
        lut = stats
    elif stats is not None:
        # prebuilt statistics state (build_cell_stats): already a persisted
        # ~|cells|-row table — the rollup branches below re-scan it cheaply,
        # and serving never touches the corpus for planning
        counts = stats
    else:
        # materialize the base per-cell counts ONCE: every rollup below
        # branches off this table, and without pinning it each branch would
        # re-aggregate the full corpus (5x 20M-row shuffles — measured 50s of
        # a 70s query at sf10; ~3s pinned). Rollups are tiny and stay lazy.
        counts = (
            pages_cells.groupBy("cell")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True)
        )
    levels = _plan_levels(res)
    # ONE (lv, cell, cnt) lookup table over every statistics level: round 3
    # joined the query table against each level separately — five shuffle
    # joins' worth of fixed cost per call (measured ~half of the 3.4s warm
    # planning phase at 200 queries). Exploding each query into its <=5
    # covering cells and equi-joining ONCE moves the same rows in one
    # exchange; the per-query choice (finest level whose covering cell holds
    # >= need pages) becomes a min over qualifying candidate radii, valid
    # because counts nest (parent cnt = sum of children, so qualification is
    # monotone toward coarser levels — finest qualifying == smallest radius).
    #
    # The lut itself is built in ONE shuffle too: each finest-level count row
    # explodes into its <=5 (lv, ancestor) contributions and a single
    # groupBy sums them. The chained per-level rollups this replaces were 10
    # tiny aggregation stages — with AQE's sequential stage materialization
    # that is 10 driver syncs of pure fixed cost per call (~2-3s at 200
    # queries); same rows, same result, one exchange.
    if counts is not None:
        lut = _rollup_lut(counts, res, levels)
    extra = [c for c in remaining.columns if c not in ("query_id", "qlat", "qlon")]
    qx = remaining.select(
        "query_id",
        "qlat",
        "qlon",
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lv).alias("lv"),
                        geo.encode_cell(F.col("qlat"), F.col("qlon"), lv).alias(
                            "cell"
                        ),
                    )
                    for lv in levels
                ]
            )
        ).alias("qc"),
    ).select(
        "query_id", "qlat", "qlon", *extra,
        F.col("qc.lv").alias("lv"), F.col("qc.cell").alias("cell"),
    )
    max_span = 1 << (res - levels[-1])
    r_cand = F.when(
        F.coalesce(F.col("cnt"), F.lit(0)) >= need,
        F.expr(f"cast(2 * shiftleft(1, {res} - lv) as long)"),
    )
    out = (
        qx.join(lut, ["lv", "cell"], "left")
        .groupBy("query_id", "qlat", "qlon", *extra)
        .agg(F.min(r_cand).alias("_r"))
        # no stats level dense enough -> ultra-sparse region: latitude-band
        # scan from the start (rx = nx/2 selects the band path in cell_knn)
        .withColumn("ry", F.coalesce(F.col("_r"), F.lit(4 * max_span).cast("long")))
        .drop("_r")
    )
    return out.withColumn(
        "rx",
        F.when(F.col("ry") <= F.lit(2 * max_span), F.col("ry")).otherwise(
            F.lit(nx // 2).cast("long")
        ),
    )


def _fanin_level_counts(cell_stats, res: int, s: int, cnt_cache: dict):
    """Per-cell counts at planning level ``res - s``, shared across rounds.

    With the multi-level lut state the level's counts ALREADY EXIST as the
    ``lv == res - s`` slice (``build_cell_lut`` rolls them up from the same
    fine counts — identical sums), so no per-round ``groupBy`` re-rollup runs
    at all for the levels the planner uses. Only a coarser-than-lut level (or
    a plain stats table) still rolls up from fine counts, and that plan is
    built once per serve call (``cnt_cache``), not once per round (the r5
    regression: the rollup is static per (stats, lv) but was re-planned and
    re-run inside the round loop)."""
    if s in cnt_cache:
        return cnt_cache[s]
    has_lv = "lv" in cell_stats.columns
    lv = res - s
    if s == 0:
        tbl = (
            cell_stats.filter(F.col("lv") == res) if has_lv else cell_stats
        ).select("cell", "cnt")
    elif has_lv and lv in _plan_levels(res):
        tbl = cell_stats.filter(F.col("lv") == lv).select("cell", "cnt")
    else:
        fine = (
            cell_stats.filter(F.col("lv") == res) if has_lv else cell_stats
        ).select("cell", "cnt")
        tbl = fine.groupBy(
            geo.cell_parent(F.col("cell"), lv, res).alias("cell")
        ).agg(F.sum("cnt").alias("cnt"))
    cnt_cache[s] = tbl
    return tbl


def _ring_shift(col, res: int):
    """Coarse-level shift s for a ring of fine radius ``col``: sized so the
    coarse radius lands in [2, 4] (s = floor(log2(r)) - 1, clamped to
    [0, res])."""
    return F.least(
        F.greatest(
            F.floor(F.log2(F.greatest(col, F.lit(1)).cast("double"))).cast("int") - 1,
            F.lit(0),
        ),
        F.lit(res),
    )


def _coarse_ring(res: int, s: int, qcell=None):
    """Each (qlat, qlon, rx, ry) row's ring enumerated at level ``res - s``:
    the ceil-division cover of the fine (rx, ry) ring, a SUPERSET of it.
    ``qcell`` is the query's cell at that level when the caller already has
    the column."""
    lv, shift = res - s, 1 << s
    if qcell is None:
        qcell = geo.encode_cell(F.col("qlat"), F.col("qlon"), lv)
    return geo.ring_cells_xy(
        qcell,
        lv,
        F.ceil(F.col("rx") / F.lit(shift)).cast("long"),
        F.ceil(F.col("ry") / F.lit(shift)).cast("long"),
    )


def _fanin_pairs(
    qcells, is_band, s_expr, s_groups, cell_stats, res, cnt_cache=None
):
    """Estimated (max-per-cell, total) candidate pairs for one cell_knn round.

    The ring probe streams the corpus under a broadcast query side, so each
    scan task's work is (its corpus rows) x (queries whose rings cover them)
    — and the directory layout CLUSTERS a dense cell's rows into one file. A
    metro-concentrated batch then serializes nearly the whole join on the
    task holding the hot cell (measured at sf0.1: 500 metro queries, one
    fine cell with 42k rows -> 20M of the pairs in ONE task, 71 s of a 75 s
    call; round-robin spreading: 6-7 s). This estimates per-cell pairs from
    the round's ring plan x the per-cell counts already in the caller's
    stats state — tiny query-side jobs over an O(|cells|)-row table, never
    a corpus scan. Coarse (s>0) groups are estimated against counts rolled
    up to their planning level, which can only OVERstate single-task
    concentration (a coarse cell spans several fine files) — conservative
    in the safe direction, and the absolute min-pairs floor keeps a tiny
    batch from paying the spread shuffle.

    The per-cell query-count side is bounded by the round's estimated ring
    cells (``est_cells``, already in hand from the round-plan collect), so it
    rides the shared broadcast gate — the stats table is probed in place
    instead of shuffling into a join (one exchange + one AQE stage sync
    fewer per estimate).

    Returns a Row(mx, tot) or None when no ring group is estimable.
    """
    if cnt_cache is None:
        cnt_cache = {}
    ests = []
    for s, est in s_groups:
        cnt_tbl = _fanin_level_counts(cell_stats, res, s, cnt_cache)
        nq = (
            qcells.filter(~is_band)
            .withColumn("s", s_expr)
            .filter(F.col("s") == s)
            .select(F.explode(_coarse_ring(res, s)).alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("nq"))
        )
        ests.append(
            gate_broadcast(nq, est)
            .join(cnt_tbl, "cell")
            .select((F.col("nq") * F.col("cnt")).alias("pairs"))
        )
    if not ests:
        return None
    u = ests[0]
    for e in ests[1:]:
        u = u.unionByName(e)
    return u.agg(F.max("pairs").alias("mx"), F.sum("pairs").alias("tot")).first()


def cell_knn(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    init_radius: int = 1,
    max_rounds: int = 4,
    search_k: int | None = None,
    timings: dict | None = None,
    cell_col: str | None = None,
    stats: DataFrame | None = None,
    partition_parent_res: int | None = None,
) -> DataFrame:
    """Exact kNN via cell-ring candidate generation + re-rank.

    Driver-side escalation: each round triples the ring radius for queries
    whose top-k is not yet provably complete; after ``max_rounds`` the
    stragglers (pole-adjacent or ultra-sparse regions) fall back to
    ``flat_knn`` — correctness never depends on the index.

    If ``search_k`` is given, a query is also accepted once it has seen
    >= search_k candidates (the reference's budget semantics: approximate,
    recall monotone in search_k).

    Index-state serving (the production shape): pass ``cell_col`` naming a
    column of ``pages_geo`` already encoded at ``res`` (the persisted,
    cell-bucketed corpus table) and ``stats`` from :func:`build_cell_stats`
    — serving then performs NO per-batch corpus encode and NO per-batch
    corpus aggregation; only the probe equi-joins touch the corpus. Both are
    opt-in and explicit because a stray ``cell`` column encoded at a
    different resolution would silently corrupt candidate generation.
    Results are bit-identical to the stateless path (pytest-pinned).

    ``partition_parent_res``: when the persisted corpus is
    directory-partitioned on a coarse ``parent`` cell
    (``build_cell_pipeline(partition_parent_res=...)``), pass that res here
    and each round's ring probe reads ONLY the directories its queries can
    touch — a literal ``parent IN (...)`` planned from a provably-superset
    parent cover of every ring (the IVF probed-list prune, spatially). A
    metro-concentrated query batch then scans that metro's files instead of
    the 10^12-row corpus. The cover bound: a round's coarse ring extends at
    most rx + max(rx, ry) fine cells from the query (coarse level s has
    2^(s+1) <= max(rx, ry)), so a parent ring of ceil((r + m)/w) + 1 covers
    it; the band path and the flat fallback keep the unpruned corpus, so
    exactness never depends on the prune. Skipped when the cover reaches
    half the parent grid (a scan is cheaper than a 1000-term IN). Results
    stay bit-identical (pytest-pinned).

    Driver actions. Each is a driver-synchronized Spark action; their fixed
    cost, not executor work, bounds small batches. Once per call:

    - ``plan_radius``: one eager checkpoint of the per-query starting rings
      (the stats-less path first pins the per-cell corpus counts; an
      under-partitioned corpus is widened and pinned before that).

    Then per round:

    - ``round_plan_collect``: one collect of the band/ring split, the
      coarse ring groups and their estimated sizes. Round 0's rows also
      give the batch size (the sum of ``nq``), so no separate count runs.
      With ``partition_parent_res`` the parent cover rides this collect.
    - ``round_prune_plan`` (with ``partition_parent_res``) or
      ``round_fanin_plan`` (stats serving without it): one collect of the
      fan-in estimate, only when the fan-in gate can fire (stats given and
      parallelism > ``FANIN_SPREAD_FACTOR``) and the per-call upper bound
      does not rule it out. It reads ~0 otherwise.
    - ``round_probe_rank``: one eager checkpoint of the corpus probe's
      top-k, with each row's settle flag (per-query window aggregates; a
      budget's candidates-seen count is a window count before the top-k,
      so it needs no second candidate join).
    - ``round_settle_check``: one count of the settled queries over that
      checkpoint.
    - ``round_remaining_ckpt``: one eager checkpoint of the unsettled
      queries, only when a later round will run. It reads ~0 when skipped:
      on the last round, or when the straggler cutoff (<= max(32, 1%) of
      the batch) sends the rest to the flat fallback.

    The flat fallback runs inside the caller's action on the returned frame.
    ``timings`` (optional dict) accumulates seconds under the phase names
    above, plus ``prune_parents_round<r>`` (parent cover size) and
    ``fanin_spread_round<r>`` (hot-cell pairs, when the spread engages).
    """
    import time as _time

    def _mark(name: str, t0: float) -> None:
        if timings is not None:
            timings[name] = timings.get(name, 0.0) + (_time.time() - t0)

    spark = pages_geo.sparkSession
    nx = 2 << res
    if cell_col is not None:
        # pre-encoded corpus (index state): no per-batch encode
        narrow = pages_geo.filter(F.col("lat").isNotNull()).select(
            "url", "lat", "lon", F.col(cell_col).alias("cell")
        )
    else:
        narrow = (
            pages_geo.filter(F.col("lat").isNotNull())
            .select("url", "lat", "lon")
            .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
        )
    target = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < max(2, target // 2):
        # under-partitioned snapshot (small/compacted input): widen so the
        # probe joins, sorts, and windows parallelize, and pin — each round
        # then reads materialized blocks. localCheckpoint, not .cache(): the
        # pin is per-CALL state, and caches stay in executor storage until
        # an explicit unpersist (which a lazily returned plan can never
        # safely issue) — repeated serving calls in a long-lived session
        # would accumulate dead corpus copies; checkpoint blocks are
        # released by the ContextCleaner on GC.
        pages_cells = narrow.repartition(target).localCheckpoint(eager=True)
    else:
        # production-scale scan: serve straight from the (cell-bucketed)
        # persisted table. Pinning 10^12 rows to executor storage is the
        # real at-scale failure this gate prevents; per-round re-scans hit
        # the table with pruned columns instead.
        pages_cells = narrow

    prune_src = None
    if partition_parent_res is not None:
        if cell_col is None or "parent" not in pages_geo.columns:
            raise ValueError(
                "partition_parent_res needs the persisted parent-partitioned "
                "corpus (cell_col= plus a 'parent' column)"
            )
        if partition_parent_res > res:
            raise ValueError("partition_parent_res must be <= res")
        # filter BEFORE the narrow projection: the prune column is the
        # directory key and must reach the scan to prune at plan time
        prune_src = pages_geo.filter(F.col("lat").isNotNull())
        p_w = 1 << (res - partition_parent_res)
        p_grid = (2 << partition_parent_res) * (1 << partition_parent_res)

    # Column builders, memoized per call: each geo expression is dozens of
    # py4j calls (an encode ~17-30 ms, a ring ~50 ms on a 4-core box), and
    # every round reuses the same levels. Columns are immutable, so sharing
    # one object across rounds and plans is safe.
    @cache
    def qcell_at(lv: int):
        return geo.encode_cell(F.col("qlat"), F.col("qlon"), lv)

    @cache
    def ring_at(s: int):
        return _coarse_ring(res, s, qcell_at(res - s))

    # round-invariant expressions over the per-query (qlat, qlon, rx, ry)
    is_band = (F.col("rx") * 2 + 1) >= F.lit(nx)
    s_expr = _ring_shift(F.greatest(F.col("rx"), F.col("ry")), res)
    t_expr = _ring_shift(F.col("ry"), res)  # band path: shift from ry only
    shift_col = F.when(is_band, t_expr).otherwise(s_expr)
    # estimated exploded rows per query: the coarse ring's cells, or the
    # band's coarse rows
    span_x, span_y = (
        F.ceil(F.col(c) / F.pow(F.lit(2.0), F.col("s"))) * 2 for c in ("rx", "ry")
    )
    est_cells_col = F.when(F.col("_band"), span_y + 2).otherwise(
        (span_x + 1) * (span_y + 1)
    )
    # candidate rows carry ONLY what the haversine + top-k need; the
    # per-query planning columns (rx, ry) rejoin from the tiny checkpointed
    # `remaining` AFTER the top-k instead of riding every pair through the
    # window sorts (guide §2.3: project before the exchange — measured
    # 7.3 s -> 3.9 s on the 20M-pair metro probe)
    out_cols = ["query_id", "qlat", "qlon", "url", "lat", "lon"]
    if prune_src is not None:
        m = F.greatest(F.col("rx"), F.col("ry"))
        cover_col = F.explode(
            geo.ring_cells_xy(
                qcell_at(partition_parent_res),
                partition_parent_res,
                (F.ceil((F.col("rx") + m) / F.lit(p_w)) + 1).cast("long"),
                (F.ceil((F.col("ry") + m) / F.lit(p_w)) + 1).cast("long"),
            )
        ).alias("p")
    ok_pred = (F.col("cnt") >= k) & (
        F.col("kth")
        < _ring_guarantee_km(F.col("rx"), F.col("ry"), res, F.col("qlat"), nx)
    )
    if search_k is not None:
        # budget semantics: accept once >= search_k candidates have been
        # SEEN (pre-top-k count — `cnt` is capped at k). Each round's ring
        # is a superset of the previous one (ry/rx only grow; the band
        # switch keeps ry and covers all longitudes), so this round's
        # candidate count IS the cumulative distinct candidates seen.
        ok_pred = ok_pred | (F.col("seen") >= search_k)
    # escalation. A ring query that failed only the lon bound (high
    # latitude) switches to a latitude band with the SAME ry — its k-th
    # distance already beats the lat-only bound; everything else widens.
    lon_limited = _lon_bound_km(F.col("rx"), F.col("ry"), res, F.col("qlat")) < (
        F.col("ry") * F.lit(geo.cell_deg(res) * geo.KM_PER_DEG)
    )
    next_ry = F.when(~is_band & lon_limited, F.col("ry")).otherwise(F.col("ry") * 3)
    next_rx = F.when(is_band | lon_limited, F.lit(nx // 2).cast("long")).otherwise(
        F.col("rx") * 3
    )

    remaining = queries.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    )
    _t = _time.time()
    remaining = (
        _plan_radius(remaining, pages_cells, res, k, stats=stats)
        .withColumn("ry", F.greatest(F.col("ry"), F.lit(init_radius).cast("long")))
        # tiny table (one row per query); pin it so each round starts from
        # materialized rows instead of re-running the stats joins
        .localCheckpoint(eager=True)
    )
    _mark("plan_radius", _t)
    # batch size: from round 0's planning collect (no separate count job)
    n_total = n_remaining = None
    settled_parts: list[DataFrame] = []
    # per-CALL fan-in state: level-count plans shared across rounds, and the
    # lazily-computed (max fine cnt, total cnt) short-circuit bound — one
    # tiny job at most per serve call, only on rounds past the first
    fanin_cnt_cache: dict[int, DataFrame] = {}
    fanin_bound: list = [None]
    # fan-in relative test `mx * target > FACTOR * tot` cannot pass when
    # target <= FACTOR (mx <= tot): then no estimate is worth a job
    fanin_live = stats is not None and target > FANIN_SPREAD_FACTOR

    def _fanin_pairs_ub(s_groups, s_nq) -> int:
        """Sound upper bound on the round's hottest-cell pair count:
        sum over ring groups of (that group's query count x the max cell
        count at its estimation level). Level maxima come from ONE tiny agg
        over the stats state, run at most once per serve call (lut: per-lv
        maxima + the corpus total; plain stats: the fine max, coarser
        levels widened by 4^s and capped by the total). mx <= max_g(nq_g x
        level_max_g) <= this sum, so skipping on it is sound."""
        if fanin_bound[0] is None:
            if "lv" in stats.columns:
                rows_b = (
                    stats.groupBy("lv")
                    .agg(F.max("cnt").alias("m"), F.sum("cnt").alias("t"))
                    .collect()
                )
                lv_max = {int(r["lv"]): int(r["m"] or 0) for r in rows_b}
                total = max(
                    (int(r["t"] or 0) for r in rows_b), default=0
                )
            else:
                _b = stats.agg(
                    F.max("cnt").alias("m"), F.sum("cnt").alias("t")
                ).first()
                lv_max = {res: int(_b["m"] or 0)}
                total = int(_b["t"] or 0)
            fanin_bound[0] = (lv_max, total)
        lv_max, total = fanin_bound[0]
        fine_max = lv_max.get(res, total)
        ub = 0
        for s, _ in s_groups:
            lv = res - s
            level_max = lv_max.get(lv, min(total, fine_max * (4 ** s)))
            ub += s_nq.get(s, 0) * level_max
        return ub

    for rnd in range(max_rounds):
        qcells = remaining.withColumn("qcell", qcell_at(res))
        # ONE tiny driver action plans the whole round: band-vs-ring split,
        # the ring coarse-level groups, and their estimated exploded sizes.
        # Each additional collect here is a driver-synchronized job — the
        # orchestration constant that dominates small query batches.
        plan = (
            remaining.withColumn("_band", is_band)
            .withColumn("s", shift_col)
            .groupBy("_band", "s")
            .agg(
                F.count("*").alias("nq"),
                F.sum(est_cells_col).alias("est_cells"),
            )
        )
        if prune_src is not None:
            # the parent cover (rows with a null nq) rides the same collect:
            # <= the parent GRID rows (the directory count, O(10^2..10^4) by
            # layout contract)
            plan = plan.unionByName(
                remaining.filter(~is_band).select(cover_col).distinct(),
                allowMissingColumns=True,
            )
        _t = _time.time()
        rows = plan.collect()
        _mark("round_plan_collect", _t)
        plan_rows = [r for r in rows if r["nq"] is not None]
        if rnd == 0:
            n_total = n_remaining = sum(int(r["nq"]) for r in plan_rows)
            # straggler cutoff: once <=1% of queries (or <=32) remain, the
            # exact flat fallback over that residue costs less than another
            # full driver-synchronized round; results are identical either
            # way — the fallback is exact
            cutoff = max(32, n_total // 100)
            if n_total == 0:
                break
        band_groups = [
            (int(r["s"]), int(r["est_cells"] or 0)) for r in plan_rows if r["_band"]
        ]
        s_groups = [
            (int(r["s"]), int(r["est_cells"] or 0)) for r in plan_rows if not r["_band"]
        ]
        s_nq = {int(r["s"]): int(r["nq"]) for r in plan_rows if not r["_band"]}
        parts = []
        if s_groups:
            # rings enumerate cells and equi-join the corpus (hash probe —
            # never a per-pair predicate scan). Two scale guards:
            #
            # 1. COARSE enumeration: a radius-r ring at the query resolution
            #    is (2r+1)^2 cells — 1000s for sparse-region queries. The
            #    same area at parent level `res-s` is <= ~7x7 cells (s sized
            #    so the coarse radius lands in [2,4]); joining the corpus on
            #    `cell_parent` keeps the probe an equi-join. The coarse ring
            #    is a SUPERSET of the planned fine ring (ceil-division cover)
            #    so the branch-and-bound guarantee — which bounds distance to
            #    points outside the FINE ring — still proves exactness; the
            #    extra fringe only adds candidates.
            # 2. ADAPTIVE broadcast: the exploded (query, cell) table is
            #    driver-serialized when broadcast — fine small, a
            #    single-threaded bottleneck at millions of rows (measured:
            #    flat 4->16-core scaling at 20k queries). Estimate the
            #    exploded size from (rx, ry) and fall back to a distributed
            #    shuffle equi-join when it exceeds ~1M rows (at cluster
            #    scale the corpus side is cell-bucketed, so only the small
            #    exploded side moves).
            corpus_ring = pages_cells
            if prune_src is not None:
                probed = [r["p"] for r in rows if r["nq"] is None]
                if timings is not None:
                    timings[f"prune_parents_round{rnd}"] = len(probed)
                if 2 * len(probed) <= p_grid:
                    corpus_ring = prune_src.filter(
                        F.col("parent").isin(probed)
                    ).select(
                        "url", "lat", "lon", F.col(cell_col).alias("cell")
                    )
            # fan-in skew gate (see _fanin_pairs for the measured
            # straggler regime it exists for). It runs whether or not the
            # prune engages: a hot-cell batch whose cover exceeds half the
            # parent grid still serializes the join on the task holding the
            # hot fine cell. `stats` is the CALLER's persisted cell-count
            # state (the parameter, not the per-round `round_stats` below).
            # The estimate is a standalone driver job, gated on the cheap
            # per-call upper bound. Pruned serving skips it only once the
            # bound provably cannot clear the spread floor (rounds past the
            # first). Un-pruned serving (knn_join / knn_cell_index shape;
            # sf1, mod=500: 81 s of a 95 s call in ONE task holding the
            # 417k-row metro cell) needs FANIN_PROBE_UB_FACTOR x the floor:
            # skipping can only miss hot tasks bounded by that many pairs
            # (~seconds of single-task work), so small batches never pay it.
            fan = None
            if fanin_live:
                _t = _time.time()
                if prune_src is not None:
                    want_fan = rnd == 0 or (
                        _fanin_pairs_ub(s_groups, s_nq) > FANIN_SPREAD_MIN_PAIRS
                    )
                else:
                    want_fan = (
                        _fanin_pairs_ub(s_groups, s_nq)
                        > FANIN_PROBE_UB_FACTOR * FANIN_SPREAD_MIN_PAIRS
                    )
                if want_fan:
                    fan = _fanin_pairs(
                        qcells, is_band, s_expr, s_groups, stats, res,
                        fanin_cnt_cache,
                    )
                _mark(
                    "round_prune_plan" if prune_src is not None
                    else "round_fanin_plan",
                    _t,
                )
            # relative test: one cell's pairs defeat the parallelism;
            # absolute floor: a tiny batch always looks "concentrated",
            # so require the hot task's work to be material (~seconds of
            # single-task kernel time) before paying the spread shuffle
            if (
                fan is not None
                and fan["mx"] is not None
                and fan["mx"] * target > FANIN_SPREAD_FACTOR * fan["tot"]
                and fan["mx"] > FANIN_SPREAD_MIN_PAIRS
            ):
                if timings is not None:
                    timings[f"fanin_spread_round{rnd}"] = int(fan["mx"])
                corpus_ring = corpus_ring.repartition(target)
            ring_q = qcells.filter(~is_band).withColumn("s", s_expr)
            for s, est_cells in s_groups:
                exploded = ring_q.filter(F.col("s") == s).select(
                    "query_id",
                    "qlat",
                    "qlon",
                    F.explode(ring_at(s)).alias("jcell"),
                )
                exploded = gate_broadcast(exploded, est_cells)
                join_key = (
                    geo.cell_parent(F.col("cell"), res - s, res)
                    if s
                    else F.col("cell")
                )
                parts.append(
                    exploded.join(
                        corpus_ring, exploded["jcell"] == join_key
                    ).select(out_cols)
                )
        if band_groups:
            # full-wrap rings are a latitude BAND. The naive form — a range
            # predicate join on the cell's y — is a BroadcastNestedLoopJoin:
            # O(|corpus| x |band queries|) predicate evaluations. Instead,
            # bucket y into coarse rows of height 2^t (t from ry, like the
            # ring path) and EQUI-join on the coarse row id; the exact
            # [qy-ry, qy+ry] filter afterwards keeps results identical.
            ny = 1 << res
            band_q = qcells.filter(is_band).withColumn("t", t_expr)
            qy = geo.cell_y(F.col("qcell"))
            corp = pages_cells.withColumn("cy", geo.cell_y(F.col("cell")))
            for t, est in band_groups:
                shift = 1 << t
                ny_c = max(ny // shift, 1)
                sub = band_q.filter(F.col("t") == t)
                lo = F.greatest(
                    F.floor((qy - F.col("ry")) / F.lit(shift)).cast("long"), F.lit(0)
                )
                hi = F.least(
                    F.floor((qy + F.col("ry")) / F.lit(shift)).cast("long"),
                    F.lit(ny_c - 1),
                )
                exploded = sub.select(
                    F.col("query_id").alias("b_query_id"),
                    F.col("qlat").alias("b_qlat"),
                    F.col("qlon").alias("b_qlon"),
                    F.col("ry").alias("b_ry"),
                    qy.alias("b_qy"),
                    F.explode(F.sequence(lo, hi)).alias("crow"),
                )
                exploded = gate_broadcast(exploded, est)
                band_cands = (
                    corp.join(
                        exploded,
                        F.floor(F.col("cy") / F.lit(shift)).cast("long")
                        == exploded["crow"],
                    )
                    .filter(
                        (F.col("cy") >= F.col("b_qy") - F.col("b_ry"))
                        & (F.col("cy") <= F.col("b_qy") + F.col("b_ry"))
                    )
                    .select(
                        F.col("b_query_id").alias("query_id"),
                        F.col("b_qlat").alias("qlat"),
                        F.col("b_qlon").alias("qlon"),
                        "url",
                        "lat",
                        "lon",
                    )
                )
                parts.append(band_cands)
        cands = parts[0]
        for p in parts[1:]:
            cands = cands.unionByName(p)
        cands = cands.withColumn(
            "dist_km",
            geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
        # NOTE: `round_stats` is a distinct name from the `stats` parameter
        # (the caller's persisted cell-count state) — the fan-in gate above
        # reads the parameter inside the round loop, so shadowing it would
        # make rounds >= 1 select the wrong columns (AnalysisException
        # mid-serve). The per-query settle figures are window aggregates
        # over the query partitioning the top-k already shuffles to (no
        # extra exchange), and the settle-check columns (qlat, rx, ry)
        # join back from the checkpointed per-query `remaining` table
        # (n_remaining rows, gated broadcast) AFTER the top-k instead of
        # riding the 10^7-row window input.
        per_query = Window.partitionBy("query_id")
        ranked_in = cands.select("query_id", "url", "dist_km")
        if search_k is not None:
            # candidates seen, counted before the top-k over the same
            # query partitioning as its row_number window
            ranked_in = ranked_in.withColumn(
                "seen", F.count(F.lit(1)).over(per_query)
            )
        round_stats = (
            # ring_cells is array_distinct and urls are unique -> (query,
            # url) pairs are already unique; skip the dedup shuffle
            topk_per_group(ranked_in, ["query_id"], "dist_km", "url", k, dedup=False)
            .withColumns({
                "cnt": F.count(F.lit(1)).over(per_query),
                "kth": F.max("dist_km").over(per_query),
            })
            .join(
                gate_broadcast(
                    remaining.select("query_id", "qlat", "rx", "ry"), n_remaining
                ),
                "query_id",
            )
            .select("query_id", "rk", "url", "dist_km", ok_pred.alias("ok"))
        )
        # materialize the (small: <= |remaining| * k rows) round result
        # once, settle flag included; the settle count, the output slice, the
        # anti-join and the final union all read these blocks instead of
        # re-running the candidate join
        _t = _time.time()
        round_stats = round_stats.localCheckpoint(eager=True)
        _mark("round_probe_rank", _t)
        ok_q = round_stats.filter(F.col("ok") & (F.col("rk") == 1)).select("query_id")
        _t = _time.time()
        n_ok = ok_q.count()
        _mark("round_settle_check", _t)
        if n_ok:
            done = round_stats.filter(F.col("ok")).select(
                "query_id", "rk", "url", F.round("dist_km", 6).alias("dist_km")
            )
            settled_parts.append(done)
            # anti-join against the SETTLED set: queries with zero candidates
            # this round have no ranked row at all and must stay in
            # `remaining` (a semi-join against not-ok rows would silently
            # drop them)
            remaining = remaining.join(ok_q, "query_id", "anti")
            n_remaining -= n_ok
        # pin `remaining` only for a round that will read it: past the last
        # round, or under the straggler cutoff, only the fallback reads it,
        # once, lazily
        more = rnd + 1 < max_rounds and n_remaining > cutoff
        _t = _time.time()
        if n_ok and more:
            remaining = remaining.localCheckpoint(eager=True)
        _mark("round_remaining_ckpt", _t)
        if not more:
            break
        # both from the round's (rx, ry): withColumns evaluates them together
        remaining = remaining.withColumns({"ry": next_ry, "rx": next_rx})

    if n_remaining is None:
        # max_rounds == 0: no planning collect ran
        n_remaining = remaining.count()
    # exact fallback for stragglers (budget exhausted) — reference invariant:
    # budget >= corpus implies exact results
    if n_remaining > 0:
        # scan the already-projected (and possibly pinned) narrow corpus,
        # not the raw table: flat_knn re-projects identically, so results
        # are unchanged, but the raw-table form re-listed and re-scanned
        # the wide source (cell_col serving: the partitioned snapshot) for
        # <= 1% straggler queries
        settled_parts.append(
            flat_knn(
                pages_cells,
                remaining.withColumnRenamed("qlat", "lat").withColumnRenamed(
                    "qlon", "lon"
                ),
                k,
            )
        )

    if not settled_parts:
        return spark.createDataFrame([], "query_id long, rk int, url string, dist_km double")
    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    return out


def radius_join(
    pages_geo: DataFrame,
    queries: DataFrame,
    radius_km: float,
    res: int = 7,
    cell_col: str | None = None,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """Exact within-distance spatial join: every (query, page) pair with
    ``haversine <= radius_km`` — (query_id, url, dist_km).

    The range-query sibling of :func:`cell_knn` (the reference exposes only
    kNN, /root/reference/index/bsp_tree_index.go:35-92, but its
    candidates-then-verify pattern IS the range join once the pruning bound
    is inverted): instead of escalating rings until the k-th distance beats
    the ring guarantee, the fixed radius lets the ring be sized ANALYTICALLY
    per query — pick (rx, ry) so that ``_ring_guarantee_km(rx, ry) >
    radius_km``, i.e. every point outside the enumerated ring is provably
    farther than the radius. One probe round, no driver loop:

    - ``ry`` (latitude cells) depends only on the radius: meridian distance
      alone bounds it.
    - ``rx`` (longitude cells) widens with |qlat| via the band-edge
      cosine (the same bound the kNN escalation uses); when the required
      lon width reaches the full circle (high latitude or huge radius) the
      ring degrades to the exact full-wrap latitude band.

    Scale shape (identical to one ``cell_knn`` round): the exploded
    (query, cell) table is the ONLY thing that moves — estimate-gated
    broadcast, shuffle equi-join past ~1M structs; the corpus is probed by
    a hash equi-join on ``cell`` (cell-bucketed at cluster scale, never
    shuffled), then the exact haversine filter keeps pairs within the
    radius. For planet-sized radii prefer a coarser ``res``: exactness
    never depends on the resolution (cells only gate candidates), only the
    enumeration width does.

    Pass ``cell_col`` to serve from a pre-encoded corpus (index state), as
    with ``cell_knn``.
    """
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    radius_deg = radius_km / geo.KM_PER_DEG
    # lat guarantee is ry*cd*KM_PER_DEG > radius  <=>  ry > radius_deg/cd;
    # ceil+1 keeps it strict when radius is an exact cell multiple
    ry = min(int(math.ceil(radius_deg / cd)) + 1, ny)

    if cell_col is not None:
        narrow = pages_geo.filter(F.col("lat").isNotNull()).select(
            "url", "lat", "lon", F.col(cell_col).alias("cell")
        )
    else:
        narrow = (
            pages_geo.filter(F.col("lat").isNotNull())
            .select("url", "lat", "lon")
            .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
        )
    pages_cells = _widen(narrow)

    # invert _lon_bound_km for the fixed radius: the bound evaluates
    # 2R*cmin*sin(rx*cd/2) with cmin the band-edge cosine, so the needed rx
    # is ceil(2*asin(radius/(2R*cmin))/cd)+1 — full wrap once the argument
    # leaves asin's domain (cmin -> 0 near the poles, or radius ~ antipodal)
    cmin = F.greatest(
        F.cos(
            F.radians(
                F.least(F.abs(F.col("qlat")) + F.lit((ry + 1) * cd), F.lit(90.0))
            )
        ),
        F.lit(0.0),
    )
    s = F.lit(radius_km / (2.0 * geo.EARTH_RADIUS_KM)) / F.greatest(cmin, F.lit(1e-15))
    rx_needed = (
        F.ceil(F.degrees(F.asin(F.least(s, F.lit(1.0))) * 2.0) / F.lit(cd)) + 1
    ).cast("long")
    rx_col = F.when(s >= 1.0, F.lit(nx // 2).cast("long")).otherwise(
        F.least(rx_needed, F.lit(nx // 2).cast("long"))
    )

    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    ).withColumn("rx", rx_col)
    # ONE tiny driver action plans the probe: the exploded-size estimate
    # (upper bound; ry is a constant, rx already clamped to the wrap width)
    est = q.agg(
        F.sum(F.least(F.col("rx") * 2 + 1, F.lit(nx)) * F.lit(2 * ry + 1))
    ).collect()[0][0]
    qcell = geo.encode_cell(F.col("qlat"), F.col("qlon"), res)
    exploded = q.select(
        "query_id",
        "qlat",
        "qlon",
        F.explode(geo.ring_cells_xy(qcell, res, F.col("rx"), ry)).alias("jcell"),
    )
    exploded = gate_broadcast(exploded, int(est or 0), limit=broadcast_limit)
    # ring cells are array_distinct and urls unique -> pairs unique; no dedup
    cand = exploded.join(pages_cells, exploded["jcell"] == pages_cells["cell"])
    dist = geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .select("query_id", "url", F.round("dist_km", 6).alias("dist_km"))
    )


def radius_join_sql(pages_rel: str, queries_rel: str, radius_km: float) -> str:
    """DuckDB oracle: brute-force pair filter, identical haversine formula."""
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    return f"""
        SELECT q.query_id, p.url, ROUND({hav}, 6) AS dist_km
        FROM {pages_rel} p, {queries_rel} q
        WHERE p.lat IS NOT NULL AND {hav} <= {radius_km!r}
    """


def geo_near_pairs(
    pages_geo: DataFrame,
    radius_km: float,
    res: int = 7,
    cell_col: str | None = None,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """Geographic self-join: every unordered page pair within ``radius_km``
    -> (url_a, url_b, dist_km), ``url_a < url_b``.

    The self-join sibling of :func:`radius_join` (the page-page analogue of
    the reference's candidates-then-verify pattern): co-located pages from
    different hosts are the geo signal for scraped/mirrored local-business
    and event content, the spatial counterpart of ``simhash_near_pairs``.

    Composed over ``radius_join`` with the corpus on BOTH sides: the probe
    side explodes each page's analytically-sized ring (one probe round —
    the fixed radius sizes (rx, ry) so the ring guarantee exceeds it, see
    ``radius_join``), the build side is probed by a hash equi-join on
    ``cell``. Each ordered pair is generated at most once (ring cells are
    distinct, home cells unique per url), so the unordered pair survives
    the ``url_a < url_b`` trim exactly once — no distinct/dedup shuffle.

    Scale shape: the exploded table is |corpus| x |ring| rows — past the
    gate it is a plain shuffle equi-join, both sides cell-partitioned; at
    cluster scale a cell-bucketed corpus makes it co-located. Full rings
    from both endpoints do 2x the candidate work of a half-space emission;
    the trade is zero wrap/pole corner cases (the half-space tie-breaks at
    dx == nx/2 and inside the polar full-wrap band need their own dedup,
    exactly the rows where a miss is silent).
    """
    both = pages_geo.filter(F.col("lat").isNotNull())
    qs = both.select(F.col("url").alias("query_id"), "lat", "lon")
    pairs = radius_join(
        both, qs, radius_km, res=res, cell_col=cell_col,
        broadcast_limit=broadcast_limit,
    )
    return pairs.filter(F.col("query_id") < F.col("url")).select(
        F.col("query_id").alias("url_a"),
        F.col("url").alias("url_b"),
        "dist_km",
    )


def geo_near_pairs_sql(pages_rel: str, radius_km: float) -> str:
    """DuckDB oracle: brute self-join, identical haversine + trim.

    The latitude band is a SOUND prune, not an approximation: haversine's
    ``a >= sin^2(dlat/2)`` and asin is monotone, so any pair within
    ``radius_km`` has ``|dlat| <= radius_km / KM_PER_DEG``. It only turns the
    O(n^2) scan into a range (IE) join the oracle can afford; the surviving
    predicate is the identical full haversine.
    """
    hav = geo.haversine_km_sql("a.lat", "a.lon", "b.lat", "b.lon")
    band = radius_km / geo.KM_PER_DEG
    return f"""
        SELECT a.url AS url_a, b.url AS url_b, ROUND({hav}, 6) AS dist_km
        FROM {pages_rel} a, {pages_rel} b
        WHERE a.lat IS NOT NULL AND b.lat IS NOT NULL
          AND b.lat BETWEEN a.lat - {band!r} AND a.lat + {band!r}
          AND a.url < b.url AND {hav} <= {radius_km!r}
    """


def cell_density(stats: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Smoothed per-cell density surface from the cell-count statistics
    state: (cell, density) where density = sum of page counts over the
    cell's Chebyshev-``radius`` neighborhood (uniform box kernel).

    Raster analytics over INDEX STATE: the input is the ~|cells|-row
    :func:`build_cell_stats` table, never the corpus — the convolution is a
    scatter (each count contributes to its (2r+1)^2 neighbors) + one
    groupBy, O(|cells| * (2r+1)^2) rows through one exchange. Scatter ==
    gather here because the Chebyshev ring is symmetric (longitude wrap is
    mod-nx both ways; latitude clamping drops the same out-of-range pairs
    from either view). Cells whose own count is zero but whose neighbors
    are populated DO appear — the output is the density surface's support,
    not the corpus's cell set.
    """
    contrib = stats.select(
        F.explode(geo.ring_cells(F.col("cell"), res, radius)).alias("cell"),
        F.col("cnt"),
    )
    return contrib.groupBy("cell").agg(F.sum("cnt").alias("density"))


def cell_density_sql(pages_rel: str, res: int, radius: int = 1) -> str:
    """DuckDB oracle: identical counts + scatter over an offsets range, with
    the identical wrap/clamp arithmetic (cell ids decode via the same
    packing constants). SUM is cast to BIGINT (DuckDB widens to HUGEINT)."""
    nx, ny = 2 << res, 1 << res
    cell = geo.encode_cell_sql("lat", "lon", res)
    return f"""
        WITH c AS (
            SELECT {cell} AS cell, COUNT(*) AS cnt
            FROM {pages_rel} WHERE lat IS NOT NULL GROUP BY 1
        ),
        d AS (
            SELECT cell, cnt,
                   (cell % {geo._R_SHIFT}) // {geo._X_SHIFT} AS x,
                   cell % {geo._X_SHIFT} AS y
            FROM c
        )
        SELECT CAST({res} AS BIGINT) * {geo._R_SHIFT}
               + ((x + dx.r + {nx}) % {nx}) * {geo._X_SHIFT}
               + (y + dy.r) AS cell,
               CAST(SUM(cnt) AS BIGINT) AS density
        FROM d, range(-{radius}, {radius + 1}) dx(r), range(-{radius}, {radius + 1}) dy(r)
        WHERE y + dy.r >= 0 AND y + dy.r < {ny}
        GROUP BY 1
    """


def idw_estimate(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    value_col: str | None = None,
) -> DataFrame:
    """Inverse-distance-weighted spatial interpolation (Shepard 1968,
    public): estimate an integer page attribute at each query point as the
    1/(1+d)^2-weighted mean of its exact k nearest pages.
    -> (query_id, n_nbrs, est).

    Candidates come from :func:`cell_knn` (exact at any budget), so the
    scale shape is the audited serving path; the estimator adds one values
    join on url and one per-query aggregate. Weights are integer
    micro-units w = round(1e9 / (1+d)^2) over the kNN's 6-dp-rounded
    dist_km, so every weighted sum stays < 2^53 and SUM order cannot
    perturb the estimate (the BM25/PageRank exact-integer-accumulation
    pattern); `est` is the ROUND(.,4) ratio of two exact integers —
    bit-identical in the DuckDB oracle. Default value: LENGTH(text)
    (chars), the density-ish attribute every pages table has.
    """
    v = (
        F.coalesce(F.length(F.col("text")), F.lit(0)).cast("long")
        if value_col is None
        else F.col(value_col).cast("long")
    )
    vals = pages_geo.select("url", v.alias("v"))
    nn = cell_knn(pages_geo, queries, k=k, res=res)
    d1 = F.col("dist_km") + F.lit(1.0)
    w = F.round(F.lit(1e9) / (d1 * d1)).cast("long")
    return (
        nn.join(vals, "url")
        .withColumn("w", w)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_nbrs"),
            F.round(F.sum(F.col("w") * F.col("v")) / F.sum("w"), 4).alias("est"),
        )
    )


def idw_estimate_sql(pages_rel: str, queries_rel: str, k: int = 10) -> str:
    """Oracle: brute-force kNN (flat_knn_sql) + the identical integer-micro
    weighted mean. LENGTH counts characters in both engines."""
    knn = flat_knn_sql(pages_rel, queries_rel, k=k)
    return f"""
        WITH nn AS ({knn}), vals AS (
            SELECT url, CAST(COALESCE(LENGTH(text), 0) AS BIGINT) AS v
            FROM {pages_rel}
        ), j AS (
            SELECT nn.query_id,
                   CAST(ROUND(1e9 / ((1.0 + nn.dist_km) * (1.0 + nn.dist_km))) AS BIGINT) AS w,
                   vals.v
            FROM nn JOIN vals USING (url)
        )
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
               ROUND(CAST(SUM(w * v) AS DOUBLE) / SUM(w), 4) AS est
        FROM j GROUP BY query_id
    """


def knn_join(
    pages_geo: DataFrame,
    k: int = 10,
    res: int = 7,
    query_mod: int | None = None,
    salt: str = "kj0",
    **cell_kw,
) -> DataFrame:
    """Geo kNN SELF-join: for each page, its k nearest OTHER pages —
    (query_id, rk, url, dist_km), the classic distributed spatial kNN-join
    (every record is simultaneously a query and a corpus point; the batch
    analog of the reference's serve loop where |Q| = |corpus|).

    Exactness: the join is :func:`cell_knn` at k+1 (exact at any radius by
    the escalation guarantee); the self match sits at distance 0 so it is
    always inside the exact top-(k+1), and dropping it leaves the exact
    top-k over the other pages. Self-identity — and the stable query key —
    is the engine-portable ``tok_hash(salt || url)`` (an 8-byte shuffle key
    instead of the url string; the measured agg-hashmap tradeoff from
    ``_dup_starts`` applies to the per-query windows here too). Ranks are
    renumbered AFTER the self filter in cell_knn's own (dist, url) order,
    so no re-comparison of rounded distances can perturb the boundary.

    ``query_mod`` keeps every url with ``query_id % query_mod == 0`` on the
    query side — the deterministic, partitioning-independent way to run the
    join on a 1/mod slice (progressive backfill of a 10^12-page corpus: mod
    128 gives 128 disjoint, individually-resumable slices; the DuckDB
    oracle selects the same slice by construction).

    Scale shape: |Q| ~ |corpus|/mod is far past any broadcast threshold, so
    this is exactly the regime cell_knn's gated-broadcast serving was built
    for — the probe side takes the shuffle equi-join against the
    cell-bucketed corpus, and state serving (``cell_col``/``stats`` via
    ``**cell_kw``) skips the per-batch encode entirely.
    """
    from countrymaam_spark.functions import text as T

    qid = T.tok_hash(F.concat(F.lit(salt), F.col("url")))
    q = pages_geo.filter(F.col("lat").isNotNull()).select(
        qid.alias("query_id"), "lat", "lon"
    )
    if query_mod is not None:
        q = q.filter(F.col("query_id") % F.lit(query_mod) == 0)
    raw = cell_knn(pages_geo, q, k=k + 1, res=res, **cell_kw)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rk")
    return (
        raw.filter(
            T.tok_hash(F.concat(F.lit(salt), F.col("url"))) != F.col("query_id")
        )
        .withColumn("nrk", F.row_number().over(w))
        .filter(F.col("nrk") <= k)
        .select("query_id", F.col("nrk").alias("rk"), "url", "dist_km")
    )


def knn_join_sql(
    pages_rel: str,
    k: int = 10,
    query_mod: int | None = None,
    salt: str = "kj0",
) -> str:
    """DuckDB oracle: brute-force self-join with the identical portable
    hash key, self-exclusion, slice filter, and (dist, url) tie-break."""
    from countrymaam_spark.functions import text as T

    qh = T.tok_hash_sql(f"'{salt}' || url")
    ph = T.tok_hash_sql(f"'{salt}' || p.url")
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    mod = f"AND {qh} % {query_mod} = 0" if query_mod is not None else ""
    return f"""
        SELECT query_id, rk, url, ROUND(dist_km, 6) AS dist_km
        FROM (
            SELECT q.query_id, p.url,
                   {hav} AS dist_km,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {hav} ASC, p.url ASC
                   ) AS rk
            FROM {pages_rel} p,
                 (SELECT {qh} AS query_id, lat, lon
                  FROM {pages_rel}
                  WHERE lat IS NOT NULL {mod}) q
            WHERE p.lat IS NOT NULL AND {ph} <> q.query_id
        ) t
        WHERE rk <= {k}
    """


def radius_join_var(
    points: DataFrame,
    probes: DataFrame,
    res: int = 7,
    cell_col: str | None = None,
    broadcast_limit: int | None = None,
) -> DataFrame:
    """:func:`radius_join` with a PER-ROW radius: ``probes`` carries
    (probe_id, lat, lon, radius_km) and every (probe, point) pair with
    ``haversine <= radius_km(probe)`` comes back as
    (probe_id, url, dist_km). A NULL radius means unbounded (the probe
    matches every point) — the ring degrades to the exact full-wrap
    latitude band covering the whole grid, no special-case join.

    Same one-probe-round shape as the fixed-radius join — the analytic
    (rx, ry) sizing just evaluates per row (``ring_cells_xy`` already takes
    Columns): ry from the meridian bound, rx from the band-edge cosine
    inversion, full wrap when the asin argument leaves its domain. The
    exploded (probe, cell) table is the only thing that moves
    (estimate-gated); points are probed by a hash equi-join on ``cell``.
    """
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    if cell_col is not None:
        narrow = points.filter(F.col("lat").isNotNull()).select(
            "url", "lat", "lon", F.col(cell_col).alias("cell")
        )
    else:
        narrow = (
            points.filter(F.col("lat").isNotNull())
            .select("url", "lat", "lon")
            .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
        )
    pages_cells = _widen(narrow)

    # NULL radius -> beyond-antipodal sentinel: s >= 1 takes the full-wrap
    # branch and ry clamps to the pole, so "unbounded" needs no extra path
    r_km = F.coalesce(
        F.col("radius_km").cast("double"),
        F.lit(4.0 * geo.EARTH_RADIUS_KM * math.pi),
    )
    r_deg = r_km / F.lit(geo.KM_PER_DEG)
    ry_col = F.least(
        (F.ceil(r_deg / F.lit(cd)) + 1).cast("long"), F.lit(ny).cast("long")
    )
    cmin = F.greatest(
        F.cos(
            F.radians(
                F.least(
                    F.abs(F.col("qlat")) + (ry_col + 1).cast("double") * F.lit(cd),
                    F.lit(90.0),
                )
            )
        ),
        F.lit(0.0),
    )
    s = r_km / F.lit(2.0 * geo.EARTH_RADIUS_KM) / F.greatest(cmin, F.lit(1e-15))
    rx_needed = (
        F.ceil(F.degrees(F.asin(F.least(s, F.lit(1.0))) * 2.0) / F.lit(cd)) + 1
    ).cast("long")
    rx_col = F.when(s >= 1.0, F.lit(nx // 2).cast("long")).otherwise(
        F.least(rx_needed, F.lit(nx // 2).cast("long"))
    )

    q = probes.select(
        "probe_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.col("radius_km").cast("double").alias("radius_km"),
    ).withColumn("rx", rx_col).withColumn("ry", ry_col)
    est = q.agg(
        F.sum(
            F.least(F.col("rx") * 2 + 1, F.lit(nx))
            * F.least(F.col("ry") * 2 + 1, F.lit(2 * ny))
        )
    ).collect()[0][0]
    qcell = geo.encode_cell(F.col("qlat"), F.col("qlon"), res)
    exploded = q.select(
        "probe_id",
        "qlat",
        "qlon",
        "radius_km",
        F.explode(
            geo.ring_cells_xy(qcell, res, F.col("rx"), F.col("ry"))
        ).alias("jcell"),
    )
    exploded = gate_broadcast(exploded, int(est or 0), limit=broadcast_limit)
    cand = exploded.join(pages_cells, exploded["jcell"] == pages_cells["cell"])
    dist = geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))
    # compare at the engine's 6-dp distance contract: per-row radii normally
    # COME from engine outputs (knn_join's rounded dist_km), so a raw-vs-
    # rounded compare would break exact ties by sub-micrometre noise; the
    # ring guarantee has whole-cell slack, so the 1e-6 km widening never
    # admits a point outside the enumerated ring
    return (
        cand.withColumn("dist_km", F.round(dist, 6))
        .filter(
            F.col("radius_km").isNull() | (F.col("dist_km") <= F.col("radius_km"))
        )
        .select("probe_id", "url", "dist_km")
    )


def reverse_knn(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    target_mod: int | None = None,
    salt: str = "kj0",
    broadcast_limit: int | None = None,
    **cell_kw,
) -> DataFrame:
    """Reverse kNN (influence sets, Korn & Muthukrishnan 2000): for each
    query q, the corpus pages p that q would DISPLACE INTO — i.e.
    ``dist(p, q) <= r_k(p)`` with ``r_k(p)`` the distance from p to its
    k-th nearest OTHER corpus page -> (query_id, url, dist_km). The
    monitoring question kNN cannot answer: "whose neighborhoods does this
    new point enter", with |RkNN| naturally varying per query (0 in dense
    regions far from q, unbounded around isolated points).

    Ties INCLUDE: dist(p,q) == r_k(p) counts as entering (q ties the k-th
    neighbor); the oracle applies the identical rule.

    Two stages, both already-audited shapes:

    1. ``r_k`` per target from :func:`knn_join` (the exact cell-indexed
       self-join) — one row at rank k. Targets with fewer than k other
       pages have NO rank-k row: their k-th neighbor does not exist, so
       EVERY query enters — the left join leaves their radius NULL and the
       variable-radius join treats NULL as unbounded.
    2. :func:`radius_join_var` with the per-target radius: targets probe
       their analytically-sized rings against the (small) query-point
       table. The exploded ring table is the only moving object —
       estimate-gated; at production target counts it is the shuffle
       equi-join regime, cell-partitioned on both sides.

    ``target_mod`` runs the operator on the deterministic 1/mod hash slice
    of the corpus (same progressive-backfill contract as ``knn_join``).
    """
    from countrymaam_spark.functions import text as T

    radii = (
        knn_join(
            pages_geo, k=k, res=res, query_mod=target_mod, salt=salt, **cell_kw
        )
        .filter(F.col("rk") == k)
        .select(F.col("query_id").alias("_tid"), F.col("dist_km").alias("radius_km"))
    )
    qid = T.tok_hash(F.concat(F.lit(salt), F.col("url")))
    targets = pages_geo.filter(F.col("lat").isNotNull()).select(
        qid.alias("_tid"), F.col("url").alias("_turl"), "lat", "lon"
    )
    if target_mod is not None:
        targets = targets.filter(F.col("_tid") % F.lit(target_mod) == 0)
    probes = targets.join(radii, "_tid", "left").select(
        F.col("_turl").alias("probe_id"), "lat", "lon", "radius_km"
    )
    qpts = queries.select(
        F.col("query_id").alias("url"), "lat", "lon"
    )
    out = radius_join_var(
        qpts, probes, res=res, broadcast_limit=broadcast_limit
    )
    return out.select(
        F.col("url").alias("query_id"),
        F.col("probe_id").alias("url"),
        "dist_km",
    )


def reverse_knn_sql(
    pages_rel: str,
    queries_rel: str,
    k: int = 10,
    target_mod: int | None = None,
    salt: str = "kj0",
) -> str:
    """DuckDB oracle: brute k-th-distance window per (sliced) target over
    the full corpus, then the identical <=-radius filter against the query
    points; targets lacking a rank-k row match every query (LEFT JOIN +
    NULL-radius pass-through)."""
    from countrymaam_spark.functions import text as T

    th = T.tok_hash_sql("'" + salt + "' || t.url")
    ph = T.tok_hash_sql("'" + salt + "' || p.url")
    mod = f"AND {th} % {target_mod} = 0" if target_mod is not None else ""
    hav_tp = geo.haversine_km_sql("p.lat", "p.lon", "t.lat", "t.lon")
    hav_tq = geo.haversine_km_sql("q.lat", "q.lon", "t.lat", "t.lon")
    return f"""
        WITH rk_t AS (
            SELECT url, lat, lon FROM {pages_rel} t
            WHERE lat IS NOT NULL {mod}
        ),
        rk_r AS (
            SELECT url, radius_km FROM (
                SELECT t.url, ROUND({hav_tp}, 6) AS radius_km,
                       ROW_NUMBER() OVER (
                           PARTITION BY t.url
                           ORDER BY {hav_tp} ASC, p.url ASC
                       ) AS rk
                FROM rk_t t, {pages_rel} p
                WHERE p.lat IS NOT NULL AND {ph} <> {th}
            ) WHERE rk = {k}
        )
        SELECT q.query_id AS query_id, t.url AS url,
               ROUND({hav_tq}, 6) AS dist_km
        FROM rk_t t
        LEFT JOIN rk_r r ON t.url = r.url
        CROSS JOIN {queries_rel} q
        WHERE r.radius_km IS NULL OR ROUND({hav_tq}, 6) <= r.radius_km
    """
