"""Independent references the benchmark checks every operation against,
outside the timed window.

- kNN: brute force in numpy over the generator's ground-truth coordinates
  (not the engine's geotag output), ties ordered by (dist, url).
- spatial and curation operators: the module's own ``*_sql`` oracle run by
  DuckDB over the same parquet, compared as row multisets (as the repo's
  ``scripts/driver_sim.py`` does).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import re

import numpy as np

EARTH_RADIUS_KM = 6371.0088
# engine distances are rounded to 6 dp; numpy and the JVM may differ in the
# last ulp of the trig functions, so distances agree to this tolerance
DIST_TOL_KM = 2e-6


def haversine_km(lat1, lon1, lat2, lon2):
    """Same formula as ``functions.geo.haversine_km``, vectorized."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = np.sin(dlat) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class PointSet:
    """The corpus as the oracle sees it: url -> (lat, lon), appendable."""

    def __init__(self, urls, lat, lon):
        self.urls = np.asarray(urls, dtype=object)
        self.lat = np.asarray(lat, dtype=np.float64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.index = {u: i for i, u in enumerate(self.urls)}

    def extend(self, urls, lat, lon) -> None:
        n0 = len(self.urls)
        self.urls = np.concatenate([self.urls, np.asarray(urls, dtype=object)])
        self.lat = np.concatenate([self.lat, np.asarray(lat, dtype=np.float64)])
        self.lon = np.concatenate([self.lon, np.asarray(lon, dtype=np.float64)])
        self.index.update({u: n0 + i for i, u in enumerate(urls)})

    def exact_kth(self, qlat: float, qlon: float, k: int) -> tuple[np.ndarray, float]:
        """(distances to every point, k-th smallest distance)."""
        d = haversine_km(self.lat, self.lon, qlat, qlon)
        kk = min(k, len(d))
        return d, float(np.partition(d, kk - 1)[kk - 1])


def check_knn(points: PointSet, queries, rows, k: int, exact: bool = True):
    """Check one kNN batch. ``queries``: [(query_id, lat, lon)];
    ``rows``: [(query_id, rk, url, dist_km)].

    Exact batches must return, per query, ranks 1..k ordered by
    (dist_km, url), each distance equal to the brute-force distance of its
    url, and a k-th distance equal to the brute-force k-th distance.
    Budgeted batches are approximate: only the per-row checks apply.
    Returns (ok, recall@k, message); recall counts returned urls within the
    exact k-th distance."""
    by_q: dict[int, list] = {}
    for qid, rk, url, dist in rows:
        by_q.setdefault(int(qid), []).append((int(rk), url, float(dist)))
    hits = total = 0
    for qid, qlat, qlon in queries:
        got = sorted(by_q.pop(int(qid), []))
        d_all, kth = points.exact_kth(qlat, qlon, k)
        want_n = min(k, len(d_all))
        if [r[0] for r in got] != list(range(1, len(got) + 1)):
            return False, 0.0, f"query {qid}: ranks {[r[0] for r in got]}"
        if exact and len(got) != want_n:
            return False, 0.0, f"query {qid}: {len(got)} rows, want {want_n}"
        idx = [points.index.get(url) for _, url, _ in got]
        for i, (_, url, dist) in zip(idx, got):
            if i is None or abs(d_all[i] - dist) > DIST_TOL_KM:
                return False, 0.0, f"query {qid}: {url} at {dist} km is wrong"
        # order on the unrounded distances; exact ties (duplicate points give
        # bit-identical distances) must break on url
        for (i1, (_, u1, _)), (i2, (_, u2, _)) in zip(
            zip(idx, got), zip(idx[1:], got[1:])
        ):
            if d_all[i1] > d_all[i2] + 1e-9 or (d_all[i1] == d_all[i2] and u1 > u2):
                return False, 0.0, f"query {qid}: {u1} ranked before {u2}"
        if exact and got and abs(got[-1][2] - kth) > DIST_TOL_KM:
            return False, 0.0, f"query {qid}: k-th {got[-1][2]} km, want {kth}"
        hits += sum(1 for _, _, dist in got if dist <= kth + DIST_TOL_KM)
        total += want_n
    if by_q:
        return False, 0.0, f"rows for unknown queries {sorted(by_q)[:3]}"
    return True, (hits / total if total else 1.0), ""


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def rowset(cols, rows) -> list:
    """Rows as a sorted multiset, columns ordered by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def same_rows(spark_cols, spark_rows, want_cols, want) -> tuple[bool, str]:
    """Compare Spark rows with an oracle rowset (see ``rowset``)."""
    if sorted(spark_cols) != sorted(want_cols):
        return False, f"columns {sorted(spark_cols)} vs {sorted(want_cols)}"
    got = rowset(spark_cols, spark_rows)
    if got != want:
        return False, f"{len(got)} rows vs {len(want)} oracle rows differ"
    return True, ""


def _tuples(v):
    return tuple(_tuples(x) for x in v) if isinstance(v, list) else v


class DuckOracle:
    """DuckDB over the same parquet files the Spark side reads. Results are
    cached on disk by query text and inputs, since a reference answer over
    fixed inputs never changes; a run with new seeded inputs computes its
    own."""

    def __init__(self, cache_dir: str, tables: dict[str, str], frames: dict | None = None):
        import duckdb

        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.tables = tables
        self.con = duckdb.connect()
        # materialized, not views: an inlined geotag view is re-evaluated per
        # join pair in the range-join oracles
        for name, sql in tables.items():
            self.con.execute(f"CREATE TABLE {name} AS {sql}")
        self.frames = frames or {}
        for name, frame in self.frames.items():
            self.con.register(name, frame)

    def expected(self, sql: str) -> tuple[list, list]:
        used = {k: f.to_json() for k, f in sorted(self.frames.items())
                if re.search(rf"\b{k}\b", sql)}
        key = hashlib.sha256(json.dumps([sql, self.tables, used]).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [_tuples(r) for r in rows]
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = rowset(cols, res.fetchall())
        with open(path + ".tmp", "w") as f:
            json.dump([cols, rows], f)
        os.replace(path + ".tmp", path)
        return cols, rows

    def compare(self, df, sql: str) -> tuple[bool, str]:
        cols, rows = self.expected(sql)
        return same_rows(df.columns, [tuple(r) for r in df.collect()], cols, rows)

    def close(self) -> None:
        self.con.close()
