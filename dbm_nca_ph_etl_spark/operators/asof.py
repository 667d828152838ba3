"""As-of (point-in-time) join and range/interval join.

Neither exists as a Spark built-in (the reference has no joins at all
— SURVEY §2.5; these are north-star extension operators, the "as-of
join, range join" family a training-data pipeline needs for
point-in-time feature lookup and event-window attribution).

Both are implemented as compositions of existing DataFrame ops — no
UDFs, no driver loops — with shapes chosen for 100 TB:

- :func:`asof_join` — the naive formulation is a range join (for
  every left row, the max right ts ≤ left ts), which Spark executes
  as BroadcastNestedLoop or a skew-prone theta join. Instead: tag
  both sides, union them, and run ONE ``last(ignorenulls)`` window
  per key ordered by (ts, side) — every left row sees the latest
  right payload at-or-before it. One shuffle on the key, linear in
  rows, no candidate blow-up, AQE-friendly. Equal timestamps match
  (inclusive), matching DuckDB's ``ASOF JOIN`` which is the oracle.
- :func:`range_join` — point-in-range join in any number of
  dimensions, the one operator behind event-window attribution,
  fuzzy-string blocking and grid-cell spatial joins. A raw
  ``BETWEEN`` theta join is quadratic per key; binning every dim at
  ``width`` turns it into an equi-join on (key, buckets) — points in
  one bucket, ranges exploded over the buckets they cover — then an
  exact range filter. Lossless for any width (the width only tunes
  speed, "A Scalable and Generic Approach to Range Joins", VLDB
  2022); candidate pairs are bounded by bucket co-residency instead
  of |points|×|ranges| per key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbm_nca_ph_etl_spark.functions.scalars import quote_ident


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts_col: str,
    payload_cols: Sequence[str],
    direction: str = "backward",
    tolerance: int | None = None,
    prefix: str = "asof_",
) -> DataFrame:
    """For each left row, attach the payload of the closest right row
    at-or-before (``backward``) / at-or-after (``forward``) its
    timestamp, per ``on`` key — pandas ``merge_asof`` semantics, as a
    single keyed window pass.

    ``ts_col`` must be numeric (epoch); ``tolerance`` is in the same
    unit — matches farther away than it are nulled, like merge_asof.
    Right payload columns arrive as ``{prefix}{col}`` plus
    ``{prefix}ts`` (null when no match). Left rows and columns are
    preserved.

    Ties: right rows sort before left rows at equal ts (inclusive
    match); among equal-ts right rows the LAST in (ts, payload)
    order wins — deterministic for unique (key, ts) right sides.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    on = list(on)
    payload_cols = list(payload_cols)

    payload = F.struct(
        F.col(ts_col).alias("ts"), *[F.col(c).alias(c) for c in payload_cols]
    )
    # side orders right (0) before left (1) at equal ts for backward —
    # and after it for forward (where the scan order is reversed).
    r = right.select(
        *on,
        F.col(ts_col).alias("_ats"),
        F.lit(0 if direction == "backward" else 2).alias("_aside"),
        payload.alias("_apayload"),
    )
    l = left.select(
        "*",
        F.col(ts_col).alias("_ats"),
        F.lit(1).alias("_aside"),
        F.lit(None).cast(r.schema["_apayload"].dataType).alias("_apayload"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    order = [F.col("_ats").asc(), F.col("_aside").asc()]
    if direction == "forward":
        order = [F.col("_ats").desc(), F.col("_aside").desc()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(
        "_amatch", F.last("_apayload", ignorenulls=True).over(w)
    ).where(F.col("_aside") == 1)

    if tolerance is not None:
        dist = (
            F.col("_ats") - F.col("_amatch.ts")
            if direction == "backward"
            else F.col("_amatch.ts") - F.col("_ats")
        )
        matched = matched.withColumn(
            "_amatch", F.when(dist <= F.lit(tolerance), F.col("_amatch"))
        )

    out_cols = [c for c in left.columns] + [
        F.col("_amatch.ts").alias(f"{prefix}ts"),
        *[F.col(f"_amatch.{c}").alias(f"{prefix}{c}") for c in payload_cols],
    ]
    return matched.select(*out_cols)


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    on: Sequence[str],
    dims: Sequence[tuple[str, str, str]],
    width: int,
) -> DataFrame:
    """Inner join of every point row to every range row that contains
    it: equal ``on`` keys and ``lo <= p <= hi`` in each of ``dims``,
    given as ``(point_col, lo_col, hi_col)`` triples of integer
    columns. The output holds the columns of both sides (``on`` once);
    apart from ``on``, the two sides' column names must differ.

    A binned equi-join: each point keeps one bucket ``p div width`` per
    dim, each range explodes to ``sequence(lo div width, hi div width)``
    per dim, and the sides equi-join on ``on`` plus the buckets before
    the exact filter. ``div`` is monotone, so a contained point's
    bucket lies in its range's sequence, and a sequence holds each
    bucket once: every (point, range) pair meets exactly once, for any
    ``width > 0`` and any sign. ``width`` only trades range-side
    explosion (about ``len / width`` rows per dim) against candidates
    per bucket; a width near the typical range length keeps both
    small. Null points and null or empty (``lo > hi``) ranges match
    nothing.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    on = list(on)
    buckets = [f"_rb{i}" for i in range(len(dims))]
    q = [tuple(map(quote_ident, d)) for d in dims]
    pts = points.selectExpr(
        "*", *[f"{p} div {width} AS {b}" for (p, _, _), b in zip(q, buckets)]
    )
    # One generator per projection, so a range explodes dim by dim. The
    # guard keeps an empty range from exploding over a descending
    # sequence; being inside the generator, it is not pushed below the
    # caller's projection to re-evaluate the bound expressions.
    rng = ranges
    for (_, lo, hi), b in zip(q, buckets):
        seq = f"sequence({lo} div {width}, {hi} div {width})"
        rng = rng.selectExpr(
            "*", f"explode(CASE WHEN {lo} <= {hi} THEN {seq} END) AS {b}"
        )
    exact = " AND ".join(f"{p} BETWEEN {lo} AND {hi}" for p, lo, hi in q)
    return pts.join(rng, on + buckets).where(exact).drop(*buckets)
