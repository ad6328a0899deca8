"""Temporal join + hypertable rollup operators.

The reference's event surface is simple time-ordered scans
(``aws/utils.py`` status/event reads); at 100 TB the temporal operators a
training-data / telemetry pipeline actually needs are the ones Spark's
DataFrame API lacks as primitives — as-of joins, point-in-interval range
joins, and multi-resolution rollups. Each is built here as a composition
of built-in operators chosen for its shuffle shape, never a Python UDF:

* ``asof_join`` — union + one hash partition by key + a single
  last-value window. No per-key explosion, no range cross-join: the
  classic sort-merge as-of expressed so Catalyst plans exactly one
  Exchange per side-union. This is the plan a dedicated as-of engine
  (kdb, QuestDB) runs, on Spark's shuffle machinery.
* ``interval_join`` — the bucketized range join (the same strategy
  Databricks' range-join hint applies): intervals explode into the fixed
  -width buckets they cover, points map to exactly one bucket, and the
  O(n·m) inequality join becomes an equi-join on (key, bucket) + an
  exact containment filter. Each (point, interval) pair meets in exactly
  one bucket, so no post-join dedup is needed.
* ``time_bucket`` / ``bucket_partials`` / ``merge_partials`` /
  ``rollup_cascade`` — TimescaleDB-style continuous aggregates: each
  coarser level re-aggregates the FINER level's mergeable partials
  (count/sum/min/max), never the raw events, so a 1s→1m→1h→1d cascade
  reads the raw data once. ``merge_partials`` is associative and
  commutative, which makes the store incrementally refreshable: a late
  batch merges bucket-by-bucket without recomputing history
  (pytest pins merge ≡ recompute-from-scratch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from connect_server_spark.execution import stage_boundary

__all__ = [
    "asof_join",
    "interval_join",
    "time_bucket",
    "bucket_partials",
    "merge_partials",
    "finalize_partials",
    "rollup_cascade",
    "rollup_anomalies_exact",
    "rollup_zscores",
    "overlap_join",
]


def _micros(col: Column) -> Column:
    """Microsecond epoch of a timestamp column; tolerates TIMESTAMP_NTZ
    (parquet's default here) via a cast — uniform across both join
    sides, so bucket boundaries stay consistent."""
    return F.unix_micros(col.cast("timestamp"))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance: Column | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """For every left row, attach the single right row with the largest
    ``right_ts <= left_ts`` (``backward``, inclusive) or smallest
    ``right_ts >= left_ts`` (``forward``) within the same key group.

    Plan shape (the scale contract): ``union`` the two sides into one
    frame, hash-partition ONCE by the key, sort within partitions by
    ``(ts, side)``, and carry the latest right payload forward with a
    single ``last(ignorenulls)`` running window. Right rows sort before
    left rows at equal ``ts`` so the backward match is inclusive. The
    right payload travels as ONE struct column — non-null exactly on
    right rows — so genuinely-null right fields are carried faithfully
    instead of being skipped past by ``ignorenulls``.

    Left columns keep their names; right payload columns come back as
    ``<name><suffix>`` plus ``<right_ts><suffix>`` for the matched
    timestamp. ``tolerance`` (an INTERVAL column, e.g.
    ``F.expr("INTERVAL 1 HOUR")``) nulls out matches farther than the
    bound, exactly like pandas ``merge_asof(tolerance=...)``.

    Cost: one Exchange per input (the union's children share the same
    hash partitioning) + one sort. No per-key blowup: a key with a
    million rows costs a million-row sorted partition, not a million²
    join. A single pathologically hot key serializes its own sort — at
    that point pre-bucket the inputs by key
    (storage.write_bucketed_path) so the Exchange disappears entirely.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )

    # NULL keys never match under join equality (DuckDB ASOF, SQL) —
    # but Window.partitionBy groups NULLs into ONE partition, which
    # would happily match NULL-keyed lefts to NULL-keyed rights. Route
    # NULL-keyed left rows around the window (they come back with null
    # match columns, like an unmatched ASOF LEFT JOIN row) and drop
    # NULL-keyed right rows (they can never match anything).
    null_key = None
    for k in keys:
        cond = F.col(k).isNull()
        null_key = cond if null_key is None else (null_key | cond)
    left_nullkey = left.filter(null_key)
    left = left.filter(~null_key)
    right = right.filter(~null_key)

    payload_cols = [c for c in right.columns if c not in keys and c != right_ts]
    rstruct = F.struct(
        F.col(right_ts).alias(right_ts),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    # side: right rows get 0, left rows 1 — ordering by (ts, side) puts
    # an equal-ts right row BEFORE the left row in the running scan
    # (inclusive match). This holds in BOTH directions: the forward scan
    # flips only the ts order, never the side tie-break.
    left_side, right_side = 1, 0
    r = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(right_side).alias("__side"),
        rstruct.alias("__rpayload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in keys],
    )
    l = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(left_side).alias("__side"),
        F.lit(None).cast(r.schema["__rpayload"].dataType).alias("__rpayload"),
        *[F.col(c) for c in left.columns if c not in keys],
    )
    unioned = r.unionByName(l)

    def running(asc: bool):
        order = (
            [F.col("__ts").asc(), F.col("__side").asc()]
            if asc
            else [F.col("__ts").desc(), F.col("__side").asc()]
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("__rpayload", ignorenulls=True).over(w)

    # "nearest" computes BOTH carries; the two Window operators share
    # one hash partitioning (one Exchange, two in-partition sorts) —
    # still no join node, ties resolve backward like pandas merge_asof.
    out = unioned
    if direction in ("backward", "nearest"):
        out = out.withColumn("__mb", running(asc=True))
    if direction in ("forward", "nearest"):
        out = out.withColumn("__mf", running(asc=False))
    out = out.filter(F.col("__side") == left_side)

    def bounded(m: Column, back: bool) -> Column:
        if tolerance is None:
            return m
        gap_ok = (
            (F.col("__ts") - m[right_ts] <= tolerance)
            if back
            else (m[right_ts] - F.col("__ts") <= tolerance)
        )
        return F.when(m.isNotNull() & gap_ok, m)

    if direction == "backward":
        out = out.withColumn("__m", bounded(F.col("__mb"), back=True))
    elif direction == "forward":
        out = out.withColumn("__m", bounded(F.col("__mf"), back=False))
    else:
        mb = bounded(F.col("__mb"), back=True)
        mf = bounded(F.col("__mf"), back=False)
        back_gap = F.col("__ts") - mb[right_ts]
        fwd_gap = mf[right_ts] - F.col("__ts")
        out = out.withColumn(
            "__m",
            F.when(mb.isNotNull() & mf.isNull(), mb)
            .when(mb.isNull() & mf.isNotNull(), mf)
            .when(
                mb.isNotNull() & mf.isNotNull(),
                # ties go backward (pandas merge_asof semantics)
                F.when(fwd_gap < back_gap, mf).otherwise(mb),
            ),
        )
    matched_out = out.select(
        *keys,
        F.col("__ts").alias(left_ts),
        *[F.col(c) for c in left.columns if c not in keys and c != left_ts],
        F.col(f"__m.{right_ts}").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in payload_cols],
    )
    nullkey_out = left_nullkey.select(
        *keys,
        F.col(left_ts),
        *[F.col(c) for c in left.columns if c not in keys and c != left_ts],
        F.lit(None)
        .cast(right.schema[right_ts].dataType)
        .alias(f"{right_ts}{suffix}"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}")
            for c in payload_cols
        ],
    )
    return matched_out.unionByName(nullkey_out)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str] | str | None,
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join each point to every interval containing it
    (``start <= ts < end``, half-open) without an inequality cross-join.

    Both sides map onto fixed ``bucket_seconds`` time buckets: a point
    belongs to exactly one bucket; an interval explodes into the bucket
    range it covers (``sequence`` over bucket ids — a scan-stage
    generate, no shuffle). The join is then a plain equi-join on
    ``(keys..., bucket)`` with the exact containment predicate pushed
    into the join condition, so each (point, interval) pair is tested in
    exactly one bucket and the output needs no dedup.

    Pick ``bucket_seconds`` near the TYPICAL interval length: buckets
    much smaller than the intervals multiply the exploded side, buckets
    much larger put unrelated rows in one bucket and push work into the
    post-filter. Either way the plan stays an equi-join — degradation is
    gradual, never a cartesian cliff. ``how="left"`` keeps uncovered
    points with null interval columns (dedup'd back to one row per
    point).
    """
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    # Bucket arithmetic in MICROSECONDS (timestamp precision), not
    # unix_timestamp's whole seconds: truncating an endpoint before the
    # exclusive-end -1 trick would shift a sub-second end like
    # 13:00:00.1 a full bucket down and silently drop its matches.
    width_us = F.lit(int(bucket_seconds) * 1_000_000)
    pb = F.floor(_micros(F.col(point_ts)) / width_us)
    ib_lo = F.floor(_micros(F.col(start_col)) / width_us)
    # end is exclusive: a zero-length or bucket-aligned end never spills
    # into the next bucket.
    ib_hi = F.floor((_micros(F.col(end_col)) - F.lit(1)) / width_us)
    p = points.withColumn("__bucket", pb)
    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(ib_lo, F.greatest(ib_lo, ib_hi)))
    )
    contains = (iv[start_col] <= p[point_ts]) & (p[point_ts] < iv[end_col])
    cond = _and_all(
        [p["__bucket"] == iv["__bucket"]] + [p[k] == iv[k] for k in keys]
    )
    joined = p.join(iv, cond, "inner").filter(contains)
    # interval columns colliding with point names come back suffixed
    # "_r" (same convention as overlap_join) so the output is
    # unambiguous even when both sides carry e.g. a "ts".
    sel = [p[c] for c in points.columns]
    out_names = []
    for c in intervals.columns:
        if c in keys:
            continue
        out_name = f"{c}_r" if c in points.columns else c
        out_names.append((c, out_name))
        sel.append(iv[c].alias(out_name))
    matched = joined.select(*sel)
    if how == "inner":
        return matched
    if how == "left":
        # NULL-SAFE anti join: plain equality would never match a point
        # row carrying a NULL column, duplicating it into `missing`.
        mkeys = matched.select(
            *[matched[c] for c in points.columns]
        ).distinct()
        missing = points.join(
            mkeys,
            on=_and_all(
                [points[c].eqNullSafe(mkeys[c]) for c in points.columns]
            ),
            how="left_anti",
        )
        for c, out_name in out_names:
            missing = missing.withColumn(
                out_name, F.lit(None).cast(intervals.schema[c].dataType)
            )
        return matched.unionByName(missing)
    raise ValueError(f"how must be inner|left, got {how!r}")


def _and_all(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def time_bucket(ts: Column, seconds: int) -> Column:
    """Truncate a timestamp to a fixed-width bucket (TimescaleDB
    ``time_bucket``): epoch-aligned, any width — not limited to
    ``date_trunc``'s calendar units."""
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts) / seconds) * seconds
    )


# The mergeable-partial schema every rollup level carries. count/sum/
# min/max re-aggregate losslessly; avg is derived at read time
# (finalize_partials), never stored — storing it would break mergeability.
_PARTIAL_AGGS = lambda v: [  # noqa: E731 - tiny schema helper
    F.count(v).alias("n"),
    F.sum(v).alias("sum_v"),
    F.min(v).alias("min_v"),
    F.max(v).alias("max_v"),
]


def bucket_partials(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    seconds: int,
) -> DataFrame:
    """Raw events → one mergeable partial row per (keys, bucket)."""
    return (
        df.groupBy(
            *keys, time_bucket(F.col(ts_col), seconds).alias("bucket_ts")
        )
        .agg(*_PARTIAL_AGGS(F.col(value_col)))
        .withColumn("bucket_seconds", F.lit(seconds).cast("long"))
    )


def merge_partials(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Re-aggregate partial rows that landed on the same (keys, bucket)
    — the incremental-refresh primitive. Associative + commutative, so
    ``merge(store, late_batch)`` equals recomputing from all raw events
    (pytest pins this)."""
    return partials.groupBy(*keys, "bucket_ts", "bucket_seconds").agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def _coarsen(partials: DataFrame, keys: list[str], seconds: int) -> DataFrame:
    """One cascade step: re-bucket FINER partials onto a coarser grid.
    Reads partial rows (already ~raw/60 the size), never raw events."""
    return (
        partials.groupBy(
            *keys,
            time_bucket(F.col("bucket_ts"), seconds).alias("bucket_ts"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("bucket_seconds", F.lit(seconds).cast("long"))
    )


def finalize_partials(partials: DataFrame) -> DataFrame:
    """Partial rows → the user-facing aggregate row (adds avg)."""
    return partials.select(
        "*", (F.col("sum_v") / F.col("n")).alias("avg_v")
    )


def rollup_cascade(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    widths_seconds: list[int],
) -> DataFrame:
    """Multi-resolution continuous aggregate: compute the finest level
    from raw events ONCE, then derive each coarser level from the
    previous level's partials. ``widths_seconds`` must be ascending and
    each width an integer multiple of the previous (so coarse buckets
    are exact unions of fine buckets — the cascade is then lossless,
    pytest-pinned against direct per-level recomputation).

    Returns the union of all levels (``bucket_seconds`` tags the level).
    At 100 TB the cascade is the difference between reading the raw
    table once vs once per level: level k+1 reads ~width_ratio× fewer
    rows than level k. Each level is one narrow shuffle of partial rows.

    Each level is lazily ``localCheckpoint``-ed before feeding the next:
    without it Catalyst plans every union branch from the raw scan
    (level k re-runs all k aggregations — the raw table would be read
    once PER LEVEL), with it the plan shows exactly one Exchange per
    level and one raw scan total (pinned by the plan test).
    """
    if not widths_seconds:
        raise ValueError("need at least one rollup width")
    for a, b in zip(widths_seconds, widths_seconds[1:]):
        if b % a != 0:
            raise ValueError(
                f"cascade widths must nest: {b} is not a multiple of {a}"
            )
    levels = [bucket_partials(df, ts_col, value_col, keys, widths_seconds[0])]
    for width in widths_seconds[1:]:
        # Checkpoint the finer level ONCE and let both readers (the
        # union branch and the coarser aggregation) share it.
        levels[-1] = levels[-1].transform(stage_boundary)
        levels.append(_coarsen(levels[-1], keys, width))
    out = levels[0]
    for level in levels[1:]:
        out = out.unionByName(level)
    return out


def rollup_zscores(
    partials: DataFrame,
    keys: list[str],
    trailing: int = 24,
    min_history: int = 6,
) -> DataFrame:
    """Anomaly scores over a rollup level: each bucket's mean value
    compared against the trailing ``trailing`` buckets of ITS key — the
    standard telemetry consumer of a continuous aggregate (a spike in
    `error` events per hour, a collapse in ingest volume).

    z = (avg_v - trailing_mean) / trailing_stddev, using the population
    stddev of the trailing window (explicit choice so the DuckDB mirror
    is exact), null until ``min_history`` buckets of history exist
    (a z-score against 1-2 samples is noise) or when the trailing
    window is constant (stddev 0 — flagging there would mark ANY change
    anomalous, the caller owns that policy via ``z IS NULL``).

    Plan: ONE hash partition by key for the ordered window (the rollup
    level is already one row per (key, bucket), so the window input is
    the small partial set, never raw events). Rounded to the 1e-6 grid
    for engine-stable output.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("bucket_ts"))
        .rowsBetween(-trailing, -1)
    )
    avg_v = F.col("sum_v") / F.col("n")
    t_mean = F.avg(avg_v).over(w)
    # population stddev over the trailing frame: sqrt(E[x^2] - E[x]^2),
    # clamped at 0 against float cancellation
    t_ex2 = F.avg(avg_v * avg_v).over(w)
    t_std = F.sqrt(F.greatest(t_ex2 - t_mean * t_mean, F.lit(0.0)))
    t_n = F.count(avg_v).over(w)
    z = F.when(
        (t_n >= min_history) & (t_std > 0), (avg_v - t_mean) / t_std
    )
    return partials.select(
        *keys,
        "bucket_ts",
        "bucket_seconds",
        F.round(avg_v, 6).alias("avg_v"),
        t_n.alias("n_history"),
        F.round(t_mean, 6).alias("trailing_mean"),
        F.round(t_std, 6).alias("trailing_std"),
        F.round(z, 6).alias("zscore"),
    )


def rollup_anomalies_exact(
    partials: DataFrame,
    keys: list[str],
    trailing: int = 24,
    min_history: int = 6,
    thresh_sq: int = 9,
) -> DataFrame:
    """:func:`rollup_zscores` restated in EXACT integer arithmetic — the
    gate-stable variant (the integer-cents trick that made
    ``events_rollup_cascade`` promotable in r11).

    The metric is each bucket's total in integer cents
    (``sum_cents = round(sum_v·100)``, exact because the value column
    lives on the 0.01 grid). Over the trailing window keep the integer
    moments ``S1 = Σx`` and ``S2 = Σx²``; with ``w`` history rows,
    ``z² = (x·w − S1)² / (w·S2 − S1²)`` — so the |z| > t flag is the pure
    integer inequality ``dev² > t²·denom`` with ``dev = x·w − S1`` and
    ``denom = w·S2 − S1²``. No float enters until nothing is left to
    round, so any engine computes identical output bit-for-bit.

    Headroom: all terms are BIGINT; exactness needs
    ``|dev| < ~3.03e9`` (so dev² fits) — i.e. per-key per-bucket totals
    up to ~1.2e8 cents with the default 24-bucket window. Larger grids
    rescale cents → dollars before the window.

    ``is_anomaly`` is 1/0, NULL while history < ``min_history`` or when
    the trailing window is constant (``denom = 0`` — flagging there
    would mark ANY change anomalous; callers own that policy).
    Same plan shape as :func:`rollup_zscores`: ONE hash partition by
    key over the (already tiny) rollup level.
    """
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("bucket_ts"))
        .rowsBetween(-trailing, -1)
    )
    x = F.round(F.col("sum_v") * 100).cast("long")
    base = partials.select(
        *keys, "bucket_ts", x.alias("sum_cents")
    )
    xc = F.col("sum_cents")
    s1 = F.sum(xc).over(w)
    s2 = F.sum(xc * xc).over(w)
    n_hist = F.count(xc).over(w)
    scored = base.select(
        *keys,
        "bucket_ts",
        "sum_cents",
        n_hist.alias("n_history"),
        s1.alias("trailing_sum_cents"),
        s2.alias("trailing_sumsq_cents2"),
    )
    ready = F.col("n_history") >= min_history
    dev = F.col("sum_cents") * F.col("n_history") - F.col("trailing_sum_cents")
    denom = (
        F.col("n_history") * F.col("trailing_sumsq_cents2")
        - F.col("trailing_sum_cents") * F.col("trailing_sum_cents")
    )
    return scored.select(
        "*",
        F.when(ready, dev).alias("dev_cents"),
        F.when(ready, denom).alias("denom_cents2"),
        F.when(
            ready & (denom > 0),
            (dev * dev > F.lit(int(thresh_sq)) * denom).cast("int"),
        ).alias("is_anomaly"),
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str | None,
    left_start: str = "start_ts",
    left_end: str = "end_ts",
    right_start: str = "start_ts",
    right_end: str = "end_ts",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval-overlap join: every (left, right) pair of intervals with
    ``max(starts) < min(ends)`` (half-open overlap), without an
    inequality cross-join — the session-overlap / concurrent-transfer
    query shape.

    Both sides explode into the fixed-width buckets they cover, join on
    ``(keys..., bucket)``, and keep a pair ONLY in the bucket containing
    ``max(start_l, start_r)`` — the first bucket where both intervals
    are live. Every overlapping pair meets in exactly that one bucket,
    so the output is duplicate-free with no distinct (the standard
    dedup-free bucketization trick; a distinct over the joined pairs
    would be a second full shuffle of the output).

    Same tuning rule as :func:`interval_join`: pick the bucket near the
    typical interval length; degradation is gradual, never a cartesian
    cliff.
    """
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))

    # microsecond bucket arithmetic — see interval_join: second-level
    # truncation before the -1 exclusive-end trick would both drop
    # sub-second-end matches AND misplace the home bucket.
    width_us = F.lit(int(bucket_seconds) * 1_000_000)

    def explode_side(df: DataFrame, start: str, end: str, prefix: str):
        lo = F.floor(_micros(F.col(start)) / width_us)
        hi = F.floor((_micros(F.col(end)) - F.lit(1)) / width_us)
        return df.withColumn(
            f"__{prefix}bucket",
            F.explode(F.sequence(lo, F.greatest(lo, hi))),
        )

    l = explode_side(left, left_start, left_end, "l")
    r = explode_side(right, right_start, right_end, "r")
    cond = _and_all(
        [l["__lbucket"] == r["__rbucket"]] + [l[k] == r[k] for k in keys]
    )
    overlap = (
        F.greatest(l[left_start], r[right_start])
        < F.least(l[left_end], r[right_end])
    )
    # the pair's ONE home bucket: where the later of the two starts lives
    home = F.floor(
        _micros(F.greatest(l[left_start], r[right_start])) / width_us
    )
    joined = (
        l.join(r, cond, "inner")
        .filter(overlap)
        .filter(l["__lbucket"] == home)
    )
    # right-side columns colliding with left names come back suffixed
    # "_r" so the output schema is unambiguous regardless of the inputs.
    sel = [l[c] for c in left.columns]
    for c in right.columns:
        if c in keys:
            continue
        out_name = f"{c}_r" if c in left.columns else c
        sel.append(r[c].alias(out_name))
    return joined.select(*sel)
