"""As-of (most-recent-match) join — a Spark-first custom operator.

The reference has no as-of join; this is part of the engine's superset
surface (SURVEY §2.D note). Instead of a per-key loop or a Pandas UDF,
it is expressed as a composition of built-in operators so Catalyst
optimizes it end-to-end:

    tag left/right → unionByName → last(right_value) ignoreNulls
    over (key, time) window → keep left rows

One shuffle on the key column, no Python in the hot path, and — unlike
the naive broadcast-range-join formulation — no O(n·m) blowup, so it
scales to 100 TB per-key series as long as a single key's rows fit a
task (same bound every window op has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
) -> DataFrame:
    """For each left row, attach the latest right row with
    ``right[on] <= left[on]`` within the same ``key`` partition.

    Right value columns come back suffixed; left rows with no prior
    right row get nulls (left-outer as-of semantics).
    """
    value_cols = [c for c in right.columns if c not in (on, key)]
    l_tag = left.withColumn("__is_left", F.lit(1))
    r_tag = right.select(
        key,
        on,
        *[F.col(c).alias(f"{c}_right") for c in value_cols],
    ).withColumn("__is_left", F.lit(0))
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    # order right rows before left rows at identical timestamps so an
    # exact-time right row is visible to the left row (<= semantics)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(on).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # One struct per right row: the matched timestamp and its value
    # columns travel together through a single ignore-nulls fill, so a
    # NULL value in the matched right row stays NULL (pandas merge_asof
    # / DuckDB ASOF parity) instead of back-filling from an older right
    # row, and the fill is one window expression instead of one per
    # value column.
    row = F.when(
        F.col("__is_left") == 0,
        F.struct(
            F.col(on).alias("__on"),
            *[F.col(f"{c}_right").alias(c) for c in value_cols],
        ),
    )
    filled = unioned.select(
        "*", F.last(row, ignorenulls=True).over(w).alias("__m")
    )
    m = F.col("__m")
    return filled.filter(F.col("__is_left") == 1).select(
        *left.columns,
        m["__on"].alias(f"{on}_right"),
        *[m[c].alias(f"{c}_right") for c in value_cols],
    )


def asof_join_directional(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """pandas ``merge_asof``-parity as-of join: ``direction`` picks
    which side of the left timestamp the match may sit on —
    ``backward`` (latest right with right[on] <= left[on], the
    ``asof_join`` semantics), ``forward`` (earliest right with
    right[on] >= left[on]) or ``nearest`` (whichever is temporally
    closer; exact ties resolve backward, documented since pandas
    leaves it unspecified). ``tolerance`` NULLs any match farther
    than the bound — in ``on``'s double-cast units, i.e. seconds
    (with fractional micros) for timestamps, plain units for
    numerics.

    Kept separate from the proven backward fast path ``asof_join``
    (same union + ignore-nulls-window construction — no quadratic
    range join, no Python): one shuffle on ``key`` either way;
    ``nearest`` reuses that single exchange for BOTH window passes
    (opposite sort orders → two sorts, one partitioning —
    plan-asserted in tests/test_plans.py).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    value_cols = [c for c in right.columns if c not in (on, key)]
    l_tag = left.withColumn("__is_left", F.lit(1))
    r_tag = right.select(
        key,
        on,
        *[F.col(c).alias(f"{c}_right") for c in value_cols],
    ).withColumn("__is_left", F.lit(0))
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    def _side(prefix: str, descending: bool):
        # right rows sort before left rows at identical timestamps in
        # BOTH orders (__is_left asc), so an exact-time right row is
        # visible to the left row under <= and >= alike. The whole
        # right row fills as ONE struct — timestamp and values always
        # come from the same matched row, so a NULL value column in
        # the matched row stays NULL (merge_asof parity) rather than
        # back-filling from an older right row.
        order = F.col(on).desc() if descending else F.col(on).asc()
        w = (
            Window.partitionBy(key)
            .orderBy(order, F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        row = F.when(
            F.col("__is_left") == 0,
            F.struct(
                F.col(on).alias("__on"),
                *[F.col(f"{c}_right").alias(c) for c in value_cols],
            ),
        )
        return F.last(row, ignorenulls=True).over(w).alias(f"__{prefix}")

    fills = []
    if direction in ("backward", "nearest"):
        fills.append(_side("b", descending=False))
    if direction in ("forward", "nearest"):
        fills.append(_side("f", descending=True))
    filled = unioned.select("*", *fills).filter(F.col("__is_left") == 1)

    lsec = F.col(on).cast("double")

    def _ok(prefix: str) -> F.Column:
        mon = F.col(f"__{prefix}")["__on"]
        if tolerance is None:
            return mon.isNotNull()
        delta = (
            lsec - mon.cast("double")
            if prefix == "b"
            else mon.cast("double") - lsec
        )
        return mon.isNotNull() & (delta <= F.lit(float(tolerance)))

    if direction == "nearest":
        b_on = F.col("__b")["__on"].cast("double")
        f_on = F.col("__f")["__on"].cast("double")
        use_b = _ok("b") & (
            ~_ok("f") | ((lsec - b_on) <= (f_on - lsec))
        )
        pick = lambda c: (  # noqa: E731
            F.when(use_b, F.col("__b")[c])
            .when(_ok("f"), F.col("__f")[c])
        )
    else:
        p = "b" if direction == "backward" else "f"
        pick = lambda c, p=p: F.when(_ok(p), F.col(f"__{p}")[c])  # noqa: E731

    return filled.select(
        *left.columns,
        pick("__on").alias(f"{on}_right"),
        *[pick(c).alias(f"{c}_right") for c in value_cols],
    )


def interpolation_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    key: str,
    value_col: str,
) -> DataFrame:
    """Linear time-interpolation join: for each left row, the right
    series' ``value_col`` linearly interpolated AT the left timestamp
    from its two bracketing right rows within the same ``key`` — the
    series-alignment step for joining irregular tick series onto a
    reference clock (kdb's ``aj`` + prevailing interpolation; pandas
    ``reindex().interpolate('time')``).

    Rules (all mirrored exactly by the DuckDB two-ASOF oracle, d15):
    an exact-time right row wins as-is; otherwise both brackets are
    required (strict interior interpolation — rows before the first or
    after the last right row get NULL, no extrapolation); a NULL
    ``value_col`` in a bracketing row propagates NULL. Returns
    ``left.* + ts_prev, ts_next, value_interp``.

    Same single-shuffle union + two ignore-nulls struct fills as
    ``asof_join_directional('nearest')`` — one exchange on ``key``,
    two sorts, no range join, no Python. The blend arithmetic runs on
    ``unix_micros`` (exact int64) so the interpolation ratio is the
    same IEEE double in any engine computing from the same micros —
    float-safe for value hashing after round(6).
    """
    l_tag = left.withColumn("__is_left", F.lit(1))
    r_tag = right.select(
        key, on, F.col(value_col).alias("__v")
    ).withColumn("__is_left", F.lit(0))
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    def _side(prefix: str, descending: bool):
        order = F.col(on).desc() if descending else F.col(on).asc()
        w = (
            Window.partitionBy(key)
            .orderBy(order, F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        row = F.when(
            F.col("__is_left") == 0,
            F.struct(F.col(on).alias("__on"), F.col("__v").alias("__val")),
        )
        return F.last(row, ignorenulls=True).over(w).alias(f"__{prefix}")

    filled = unioned.select(
        "*", _side("b", descending=False), _side("f", descending=True)
    ).filter(F.col("__is_left") == 1)

    is_ts = "timestamp" in left.schema[on].dataType.simpleString()

    def _num(c):
        return F.unix_micros(c) if is_ts else c.cast("double")

    bts, fts = F.col("__b")["__on"], F.col("__f")["__on"]
    bv, fv = F.col("__b")["__val"], F.col("__f")["__val"]
    ratio = (_num(F.col(on)) - _num(bts)).cast("double") / (
        _num(fts) - _num(bts)
    ).cast("double")
    interp = (
        F.when(bts.isNotNull() & fts.isNotNull(),
               F.when(bts == fts, bv).otherwise(bv + (fv - bv) * ratio))
    )
    return filled.select(
        *left.columns,
        bts.alias("ts_prev"),
        fts.alias("ts_next"),
        interp.alias("value_interp"),
    )
