"""as-of + range join (operators/asof.py) vs brute-force semantics."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from dbm_nca_ph_etl_spark.operators.asof import asof_join, range_join

LEFT = [
    # (id, key, ts)
    (1, "a", 100),
    (2, "a", 205),
    (3, "a", 300),
    (4, "b", 50),
    (5, "b", 500),
    (6, "c", 10),  # key with no right rows at all
]
RIGHT = [
    # (rid, key, ts, val)
    (10, "a", 90, 1.0),
    (11, "a", 205, 2.0),  # equal-ts match (inclusive)
    (12, "a", 290, 3.0),
    (13, "b", 400, 4.0),
]


def _frames(spark):
    l = spark.createDataFrame(LEFT, ["id", "key", "ts"])
    r = spark.createDataFrame(RIGHT, ["rid", "key", "ts", "val"])
    return l, r


def _brute(direction, tolerance=None):
    """Reference result computed in Python: closest right row per side."""
    out = {}
    for lid, lk, lts in LEFT:
        cands = [
            (rts, rid, val)
            for rid, rk, rts, val in RIGHT
            if rk == lk
            and (rts <= lts if direction == "backward" else rts >= lts)
            and (tolerance is None or abs(rts - lts) <= tolerance)
        ]
        if direction == "backward":
            best = max(cands) if cands else None
        else:
            best = min(cands) if cands else None
        out[lid] = (best[1], best[0], best[2]) if best else (None, None, None)
    return out


def _check(df, expect):
    got = {
        row.id: (row.asof_rid, row.asof_ts, row.asof_val)
        for row in df.collect()
    }
    assert got == expect


def test_asof_backward(spark):
    l, r = _frames(spark)
    df = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    _check(df, _brute("backward"))


def test_asof_forward(spark):
    l, r = _frames(spark)
    df = asof_join(
        l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"],
        direction="forward",
    )
    _check(df, _brute("forward"))


def test_asof_tolerance(spark):
    l, r = _frames(spark)
    df = asof_join(
        l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"],
        tolerance=20,
    )
    _check(df, _brute("backward", tolerance=20))


def test_asof_partition_invariant(spark):
    l, r = _frames(spark)
    base = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    shuffled = asof_join(
        l.repartition(7), r.repartition(3), on=["key"], ts_col="ts",
        payload_cols=["rid", "val"],
    )
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, shuffled.collect()))


def test_asof_preserves_left_rows_and_columns(spark):
    l, r = _frames(spark)
    df = asof_join(l, r, on=["key"], ts_col="ts", payload_cols=["rid", "val"])
    assert df.count() == len(LEFT)
    assert df.columns == ["id", "key", "ts", "asof_ts", "asof_rid", "asof_val"]


def _random_range_join_case(rng, ndim, n_points=60, n_ranges=40):
    """Points and ranges over a signed frame: null keys, null point
    and bound coordinates, zero-length and empty (lo > hi) ranges."""

    def maybe(v):
        return None if rng.random() < 0.08 else v

    keys = ["a", "b", None]
    points = [
        (pid, rng.choice(keys), *(maybe(rng.randint(-60, 60)) for _ in range(ndim)))
        for pid in range(n_points)
    ]
    ranges = []
    for rid in range(n_ranges):
        bounds = []
        for _ in range(ndim):
            lo = rng.randint(-70, 60)
            hi = lo + rng.choice([-5, -1, 0, 0, 1, 3, 9, 20, 20])
            bounds += [maybe(lo), maybe(hi)]
        ranges.append((rid, rng.choice(keys), *bounds))
    return points, ranges


def test_range_join_matches_brute_force(spark):
    """range_join equals a nested-loop twin as an exact multiset (a
    duplicated pair fails) in 1-D and 2-D, for widths of 1, below,
    at and above the longest range (20)."""
    rng = random.Random(20240611)
    for ndim in (1, 2):
        points, ranges = _random_range_join_case(rng, ndim)
        pcols = [f"p{d}" for d in range(ndim)]
        rcols = [c for d in range(ndim) for c in (f"lo{d}", f"hi{d}")]
        schema = lambda cols: ", ".join(f"{c} long" for c in cols)  # noqa: E731
        pdf = spark.createDataFrame(points, f"pid long, key string, {schema(pcols)}")
        rdf = spark.createDataFrame(ranges, f"rid long, key string, {schema(rcols)}")
        dims = [(f"p{d}", f"lo{d}", f"hi{d}") for d in range(ndim)]
        want = Counter(
            (pid, rid)
            for pid, pk, *pv in points
            for rid, rk, *rv in ranges
            if pk is not None
            and pk == rk
            and all(
                None not in (p, lo, hi) and lo <= p <= hi
                for p, lo, hi in zip(pv, rv[0::2], rv[1::2])
            )
        )
        assert want, "non-trivial fixture"
        for width in (1, 7, 20, 45):
            out = range_join(pdf, rdf, ["key"], dims, width)
            assert out.columns == ["key", "pid", *pcols, "rid", *rcols]
            got = Counter((r.pid, r.rid) for r in out.collect())
            assert got == want, f"ndim={ndim} width={width}"
    with pytest.raises(ValueError, match="width"):
        range_join(pdf, rdf, ["key"], dims, 0)
