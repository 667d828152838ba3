"""Grid-cell spatial joins — distance predicates without Cartesian
products (100 TB mandate; the LSH discipline applied to geometry).

A distance join (``all pairs within radius r``) is the spatial twin
of near-dup detection: the naive plan is a quadratic cross join, the
scale plan is *bucketed candidate generation*. Both joins here are a
2-D :func:`operators.asof.range_join` at ``width = r``: one side is
the points, the other the boxes ``[x ± r] × [y ± r]`` around its
points, so each box covers at most 3×3 grid cells and every
candidate pair is generated EXACTLY once (no post-join dedup). The
exact predicate ``dx^2 + dy^2 <= r^2`` then filters the box hits in
integer arithmetic — no floating point anywhere, so the same rows
survive on every engine.

Scale shape: both sides hash-partition on the cell buckets — a
corpus-sized distance self-join is one shuffle, with per-cell work
bounded by local point density, never O(n^2) in the corpus. The
point side is pinned to ``shuffle_hash`` (the build side grows with
the corpus — the dup_ngram lesson from SCALING.md: Spark's static
size estimate can promote a corpus-sized build to BroadcastHash,
which serially materializes it on the driver at scale); a caller
whose probe set is bounded broadcasts it with ``F.broadcast``, and
that hint wins. Dense cells are the skew case and follow
operators/skew.py's guidance.

Coordinates are int64 (e.g. milli-degrees or metres), of any sign.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import quote_ident
from dbm_nca_ph_etl_spark.operators.asof import range_join


def _side(
    df: DataFrame,
    key: str,
    x: str,
    y: str,
    s: str,
    carry: tuple[str, ...] = (),
    box: int | None = None,
) -> DataFrame:
    """Project ``df`` to ``_k{s}, _x{s}, _y{s}`` (+ ``_c_{c}_{s}`` per
    carry column); with ``box=r`` also the bounds ``_x{s}lo/hi`` and
    ``_y{s}lo/hi`` of the box ``[x ± r] × [y ± r]``. Parsed SQL: one
    py4j call per side."""
    cols = [
        f"{quote_ident(key)} AS _k{s}",
        f"{quote_ident(x)} AS _x{s}",
        f"{quote_ident(y)} AS _y{s}",
        *[f"{quote_ident(c)} AS {quote_ident(f'_c_{c}_{s}')}" for c in carry],
    ]
    if box is not None:
        cols += [
            f"{quote_ident(col)} {op} {box} AS _{axis}{s}{bound}"
            for col, axis in ((x, "x"), (y, "y"))
            for op, bound in (("-", "lo"), ("+", "hi"))
        ]
    return df.selectExpr(*cols)


def _box_dims(s: str, t: str) -> list[tuple[str, str, str]]:
    """Dims of points ``s`` inside the boxes ``t``."""
    return [(f"_{c}{s}", f"_{c}{t}lo", f"_{c}{t}hi") for c in ("x", "y")]


def _d2(s: str, t: str) -> Column:
    """Exact squared distance between points ``s`` and ``t``."""
    dx, dy = f"(_x{s} - _x{t})", f"(_y{s} - _y{t})"
    return F.expr(f"{dx} * {dx} + {dy} * {dy}")


def self_pairs_within(
    pts: DataFrame,
    key: str,
    x: str = "x",
    y: str = "y",
    radius: int = 1,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every unordered pair of distinct points within ``radius``:
    columns ``{key}_a, {key}_b`` (``a < b``), ``d2`` (exact squared
    distance, int64), plus ``{c}_a, {c}_b`` for each ``carry``
    column (attributes ride through the join instead of paying a
    corpus-sized re-join on the output).

    One shuffle on the cell buckets; candidates are the pairs in the
    same or adjacent grid cells.
    """
    a = _side(pts, key, x, y, "a", carry)
    b = _side(pts, key, x, y, "b", carry, box=radius)
    d2 = _d2("a", "b")
    return (
        # shuffle_hash: both sides are corpus-sized — never let a
        # static size estimate promote one to a driver-built
        # broadcast (SCALING.md dup_ngram finding).
        range_join(a.hint("shuffle_hash"), b, [], _box_dims("a", "b"), radius)
        .where((F.col("_ka") < F.col("_kb")) & (d2 <= F.lit(radius * radius)))
        .select(
            F.col("_ka").alias(f"{key}_a"),
            F.col("_kb").alias(f"{key}_b"),
            d2.cast("bigint").alias("d2"),
            *[
                F.col(f"_c_{c}_{s}").alias(f"{c}_{s}")
                for c in carry
                for s in ("a", "b")
            ],
        )
    )


def join_within(
    probes: DataFrame,
    targets: DataFrame,
    probe_key: str,
    target_key: str,
    x: str = "x",
    y: str = "y",
    radius: int = 1,
) -> DataFrame:
    """All (probe, target) pairs within ``radius``: columns
    ``probe_key, target_key, d2``. The probe side pays the ≤3×3 box
    explosion; pass ``F.broadcast(probes)`` when it is a bounded query
    set (a k-NN request batch), which turns the whole join into a
    map-only pass over the target corpus.
    """
    t = _side(targets, target_key, x, y, "t")
    p = _side(probes, probe_key, x, y, "p", box=radius)
    d2 = _d2("p", "t")
    return (
        # both sides corpus-sized unless the caller broadcast the
        # probes: pin a distributed strategy so a static-size
        # mis-estimate cannot promote the corpus to a driver-built
        # broadcast (SCALING.md dup_ngram finding)
        range_join(t.hint("shuffle_hash"), p, [], _box_dims("t", "p"), radius)
        .where(d2 <= F.lit(radius * radius))
        .select(
            F.col("_kp").alias(probe_key),
            F.col("_kt").alias(target_key),
            d2.cast("bigint").alias("d2"),
        )
    )
