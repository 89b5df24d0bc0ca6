"""Distribution analytics: concentration (Gini, decile lift), data-quality
digit audits (Benford), and equi-width histograms.

Beyond-reference analytics surface in the same spirit as
``operators/corpus.py``: the reference's workload is star joins +
group-bys (paper.md:150-155); these are the standard next-step
distribution diagnostics an analytics engine is asked for on top of them.

Scale notes (every function):

* Inputs are ENTITY-LEVEL aggregates (per-customer revenue, per-order
  totals), never raw fact rows — the caller reduces the 100 TB fact table
  with a keyed groupBy first, so the global windows here (Gini rank,
  NTILE) sort millions of entities, not billions of line items. The
  functions that need a total order document that contract and are the
  only place in the package a global window is accepted (`keyed_window`
  rejects them elsewhere).
* Histograms and digit audits are pure groupBy shapes — partial-
  aggregated map-side, output is bucket-count sized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ascii_hydra_spark.operators import distrank


def _two_group_labels(df: DataFrame, group_col: str, op_name: str):
    """The shared A/B-contract probe: (min_label, max_label) of
    ``group_col`` validated to have EXACTLY two distinct values. One
    bounded 1-row aggregate (map-side partial min/max/count_distinct —
    strictly cheaper than the per-operator ``distinct().limit(3)`` scan
    each two-sample test used to pay), collected once per operator
    call. Raises ValueError otherwise — a silent pick would
    misattribute the test."""
    row = df.agg(
        F.min(F.col(group_col)).alias("ga"),
        F.max(F.col(group_col)).alias("gb"),
        F.count_distinct(F.col(group_col)).alias("k"),
    ).collect()[0]
    if row["k"] != 2:
        raise ValueError(
            f"{op_name} needs exactly 2 groups in {group_col}, "
            f"found {row['k']}"
        )
    return row["ga"], row["gb"]


def _numeric_order_key(df: DataFrame, col: str) -> "Column | None":
    """A double-castable expression ordering identically to ``col`` —
    what distrank's approxQuantile bucket probe needs. Dates go through
    ``unix_date`` (CAST(date AS DOUBLE) is illegal), timestamps through
    an epoch cast; numerics pass through. Monotone in the original
    column, so bucket order == time order. Returns None for STRING
    grains (ISO day strings order lexicographically but have no double
    embedding): the caller falls back to one bucket — the pre-distrank
    single-partition shape, acceptable because a string time grain is a
    bounded calendar axis by contract."""
    dt = dict(df.dtypes)[col]
    if dt == "date":
        return F.unix_date(F.col(col))
    if dt.startswith("timestamp"):
        return F.col(col).cast("timestamp").cast("double")
    if dt == "string" or dt.startswith(("varchar", "char")):
        return None
    return F.col(col)


def _dsum(col: Column, scale: int = 2) -> Column:
    """Decimal-accumulated sum (order-independent), surfaced as double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def gini_coefficient(
    df: DataFrame, value_col: str, tiebreak: str
) -> DataFrame:
    """One row (n, gini): Gini concentration coefficient of `value_col`
    via the rank formulation G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n with
    x sorted ascending (ties broken by `tiebreak` so the rank — and hence
    the statistic under exact arithmetic — is reproducible).

    Contract: `df` is an entity-level aggregate (e.g. one row per
    customer). The rank is :func:`distrank.global_row_number` — a
    two-pass percentile-bucketed rank (value-derived buckets, broadcast
    bucket offsets, bucket-local sort), so even a billions-of-entities
    input never funnels through a single-reducer sort; the result is
    identical to the single-window formulation.

    Both sums accumulate exactly: sum(x) as DECIMAL, sum(i*x_i) as
    DECIMAL(38,6) (rank * 2-dp value stays exact), so the one double
    division is bit-identical across engines.
    """
    ranked = distrank.global_row_number(
        df.select(
            F.col(value_col).alias("__v"), F.col(tiebreak).alias("__tb")
        ),
        F.col("__v"),
        [F.col("__tb")],
        out_col="__i",
    ).select(F.col("__v").cast("decimal(18,2)").alias("__x"), "__i")
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__i").cast("decimal(18,0)") * F.col("__x")).alias("__six"),
    )
    n = F.col("n").cast("double")
    # nullif guards ANSI divide-by-zero: Gini is undefined on an all-zero
    # population (hypothesis-found edge), surfaced as NULL not an error
    sx = F.nullif(F.col("__sx").cast("double"), F.lit(0.0))
    gini = (
        F.lit(2.0) * F.col("__six").cast("double") / (n * sx)
        - (n + F.lit(1.0)) / n
    )
    return agg.select("n", F.round(gini, 6).alias("gini"))


def benford_digits(df: DataFrame, value_col: str) -> DataFrame:
    """(digit, n_obs, share, benford_p, chi2_term): observed first-
    significant-digit distribution of a positive 2-dp money column vs
    Benford's law p(d) = log10(1 + 1/d) — the classic fraud /
    synthetic-data audit.

    The first digit is extracted in integer space (value -> cents ->
    leading character of the decimal string), not via log10/pow, so
    values like exactly 100.00 can't straddle a float boundary
    differently per engine.
    """
    cents = F.round(F.col(value_col) * 100, 0).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(value_col) > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").cast("double").alias("__total"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    out = counts.crossJoin(F.broadcast(total)).withColumn("benford_p", p)
    expected = F.col("__total") * F.col("benford_p")
    diff = F.col("n_obs").cast("double") - expected
    chi2 = diff * diff / expected  # d*d, not pow(d,2): libm pow parity risk
    return out.select(
        "digit",
        "n_obs",
        F.round(F.col("n_obs").cast("double") / F.col("__total"), 6).alias("share"),
        F.round("benford_p", 6).alias("benford_p"),
        F.round(chi2, 6).alias("chi2_term"),
    )


def equi_width_histogram(
    df: DataFrame, value_col: str, lo: float, hi: float, n_buckets: int
) -> DataFrame:
    """(bucket, bucket_lo, n_obs, min_v, max_v): fixed-bound equi-width
    histogram. Bucket = clamp(floor((x - lo) / width)) with `width`
    computed ONCE on the driver and injected as a literal, so both
    engines floor the identical double expression; out-of-range values
    clamp into the edge buckets (a histogram must not drop rows
    silently).

    Pure groupBy — the aggregate is map-side partial, output is
    n_buckets rows. This is the streaming-friendly histogram shape
    (contrast `quantile_buckets`, which needs a percentile pass first).
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not float(hi) > float(lo):
        raise ValueError(f"hi ({hi}) must exceed lo ({lo})")
    width = (float(hi) - float(lo)) / n_buckets
    x = F.col(value_col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("int")
    return (
        df.select(x.alias("__x"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.round(F.min("__x"), 6).alias("min_v"),
            F.round(F.max("__x"), 6).alias("max_v"),
        )
        .withColumn(
            "bucket_lo",
            F.round(F.lit(float(lo)) + F.col("bucket") * F.lit(width), 6),
        )
        .select("bucket", "bucket_lo", "n_obs", "min_v", "max_v")
    )


def decile_shares(
    df: DataFrame, value_col: str, tiebreak: str, tiles: int = 10
) -> DataFrame:
    """(tile, n, revenue, share, cum_share): NTILE lift table — rank
    entities by `value_col` descending, split into `tiles` equal groups,
    report each group's share and the cumulative share ("the top decile
    holds X% of revenue").

    Same entity-level-input contract as `gini_coefficient`, same
    distributed-rank arm: the NTILE derives from
    :func:`distrank.global_row_number` (+ total) in pure integer
    arithmetic — standard SQL tile sizing, no single-partition sort of
    the entities. Per-tile revenue accumulates in DECIMAL so partition
    order can't shift a rounding boundary; the cumulative sum runs over
    at most `tiles` rows (explicitly single-partition, data-size-free).
    """
    ranked = distrank.global_row_number(
        df.select(F.col(value_col).alias("__x"), F.col(tiebreak).alias("__tb")),
        F.col("__x"),
        [F.col("__tb")],
        desc=True,
        out_col="__i",
        total_col="__n",
    )
    tiled = ranked.select(
        "__x",
        distrank.ntile_from_row_number(
            F.col("__i"), F.col("__n"), tiles
        ).cast("bigint").alias("tile"),
    )
    per = tiled.groupBy("tile").agg(
        F.count("*").cast("bigint").alias("n"),
        _dsum(F.col("__x")).alias("revenue"),
    ).persist()
    # eager barrier: `per` is <= `tiles` rows but feeds BOTH the total
    # agg and the final crossJoin — unpersisted, the whole upstream rank
    # machinery (distrank two-pass + tile groupBy) executed twice
    # (r10 before-plan: 8 parquet scans)
    per.count()
    total = per.agg(F.sum(F.col("revenue").cast("decimal(18,2)")).cast("double").alias("__t"))
    # shared non-foldable constant-0 partition spec (see
    # distrank.single_partition): this window's input is <= `tiles` rows
    w_cum = (
        Window.partitionBy(distrank.single_partition("tile"))
        .orderBy("tile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col("revenue").cast("decimal(18,2)")).over(w_cum).cast("double")
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "tile",
            "n",
            "revenue",
            F.round(F.col("revenue") / F.col("__t"), 6).alias("share"),
            F.round(cum / F.col("__t"), 6).alias("cum_share"),
        )
    )


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    exact_distinct: bool = True,
) -> DataFrame:
    """(col_name, n_rows, n_null, n_distinct, min_d, max_d): one-pass
    data-quality profile — the "what is in this table" scan every
    ingestion pipeline runs first.

    ONE aggregate pass computes every column's non-null count, distinct
    count, and (numerics only) min/max; the single result row is then
    unpivoted to long form with `stack` — so profiling N columns costs
    one table scan, not N. With ``exact_distinct=False`` the distinct
    counts switch to HLL `approx_count_distinct` — the 100 TB setting,
    where an exact per-column distinct would shuffle the full table per
    column (the exact form is partial-aggregated too, but its hash sets
    grow with cardinality; HLL state is constant).
    """
    cols = list(columns or df.columns)
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    cnt = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count("*").alias("__rows")]
    for c in cols:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(cnt(F.col(c)).alias(f"__nd_{c}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
    one = df.agg(*aggs)
    parts = []
    for c in cols:
        mn = f"`__mn_{c}`" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"`__mx_{c}`" if c in numeric else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"'{c}', __rows - `__nn_{c}`, CAST(`__nd_{c}` AS BIGINT), {mn}, {mx}"
        )
    stacked = one.select(
        F.col("__rows").cast("bigint").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) AS "
            "(col_name, n_null, n_distinct, min_d, max_d)"
        ),
    )
    return stacked.select(
        "col_name",
        "n_rows",
        F.col("n_null").cast("bigint").alias("n_null"),
        "n_distinct",
        "min_d",
        "max_d",
    )


def time_to_convert(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
    from_type: str = "view",
    to_type: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """One row (n_from, n_converted, conv_rate, p50_s, p90_s): funnel
    LATENCY — for each user, the gap between their first `from_type`
    event and the first `to_type` event at-or-after it, summarized as a
    conversion rate plus exact interpolated latency percentiles.

    Join-free single-shuffle shape: a running min-of-from-event window
    keyed by user tags every later row with the user's first `from_type`
    time; the per-user aggregate (same partitioning, no second exchange)
    takes the minimum gap over qualifying `to_type` rows. No broadcast of
    anything user-sized — per-user state stays on its shuffle partition.
    Gaps are exact integer microseconds converted once; the percentile is
    Spark's exact `percentile` ≡ DuckDB `QUANTILE_CONT` (swap
    `percentile_approx` at PB scale, same shape).
    """
    from ascii_hydra_spark.operators.windows import keyed_window

    us = F.unix_micros(F.col(ts_col))
    # the tiebreak makes the ROWS frame deterministic under equal
    # timestamps — without it two engines may order a tied view/purchase
    # differently and disagree on "at-or-after"
    w = keyed_window([user_col], [F.col(ts_col), F.col(tiebreak)]).rowsBetween(
        Window.unboundedPreceding, 0
    )
    v_run = F.min(F.when(F.col(type_col) == from_type, us)).over(w)
    tagged = events.select(
        F.col(user_col),
        F.col(type_col),
        us.alias("__us"),
        v_run.alias("__v"),
    )
    per_user = tagged.groupBy(user_col).agg(
        F.max(F.col(type_col) == from_type).alias("__has_from"),
        F.min(
            F.when(
                (F.col(type_col) == to_type) & F.col("__v").isNotNull(),
                F.col("__us") - F.col("__v"),
            )
        ).alias("__gap_us"),
    )
    gaps = per_user.filter("__has_from").select(
        (F.col("__gap_us").cast("double") / F.lit(1_000_000.0)).alias("gap_s")
    )
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_from"),
        F.count("gap_s").cast("bigint").alias("n_converted"),
        F.round(
            F.count("gap_s").cast("double")
            / F.nullif(F.count("*").cast("double"), F.lit(0.0)),
            6,
        ).alias("conv_rate"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(gap_s, 0.9)"), 6).alias("p90_s"),
    )


def seasonal_rate_anomalies(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    threshold: float = 2.0,
) -> DataFrame:
    """(day, hour, n_events, z): (day, hour-of-day) event-rate buckets
    whose count deviates from that hour's cross-day baseline by
    |z| >= threshold — seasonal anomaly detection for ingestion
    monitoring (a quiet 3 am bucket is normal; a quiet 3 PM one is an
    outage).

    The baseline moments are computed EXACTLY: per hour-of-day,
    n_days / sum(count) / sum(count²) are integers, so mean and sample
    variance derive from identical integer inputs on any engine and
    z = (x - mu) / sd is reproducible without a rounding hazard (one
    division chain, 6-dp round at the end). Shapes: one corpus-sized
    groupBy to (day, hour) buckets, then a 24-row baseline broadcast.
    Degenerate hours (one day, or zero variance) emit no anomaly.
    """
    buckets = events.groupBy(
        F.to_date(F.col(ts_col)).alias("day"),
        F.hour(F.col(ts_col)).alias("hour"),
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    base = buckets.groupBy("hour").agg(
        F.count("*").alias("__days"),
        F.sum("n_events").alias("__sx"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("__sxx"),
    )
    joined = buckets.join(F.broadcast(base), "hour")
    days = F.col("__days").cast("double")
    mu = F.col("__sx").cast("double") / days
    # sample variance from exact integer moments:
    # var = (n*sxx - sx^2) / (n*(n-1))
    var_num = (F.col("__days") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    var = var_num / (days * (days - F.lit(1.0)))
    sd = F.nullif(F.sqrt(var), F.lit(0.0))  # degenerate hours -> NULL z
    z = F.round((F.col("n_events").cast("double") - mu) / sd, 6)
    return (
        joined.withColumn("z", z)
        .filter(F.col("__days") >= 2)
        .filter(F.abs(F.col("z")) >= F.lit(float(threshold)))
        .select("day", "hour", "n_events", "z")
    )


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    *,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """One row (n, lo_bound, hi_bound, n_clipped, mean_raw, mean_wins):
    winsorized mean — values outside the [p_lo, p_hi] exact percentiles
    are clipped to the boundary before averaging, the standard
    heavy-tail-robust cleaning step before training-weight or revenue
    statistics.

    The percentile bounds are ONE aggregate row broadcast back (same
    shape as `relational.quantile_buckets`); clipped values accumulate in
    DECIMAL(18,6) (the interpolated boundary has more than money's 2 dp)
    so the mean is partition-order-independent.
    """
    bounds = df.agg(
        F.expr(f"percentile({value_col}, {float(p_lo)!r})").alias("__lo"),
        F.expr(f"percentile({value_col}, {float(p_hi)!r})").alias("__hi"),
    )
    x = F.col(value_col).cast("double")
    clipped = F.least(F.greatest(x, F.col("__lo")), F.col("__hi"))
    return (
        df.join(F.broadcast(bounds))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.min("__lo"), 6).alias("lo_bound"),
            F.round(F.min("__hi"), 6).alias("hi_bound"),
            F.sum(
                ((x < F.col("__lo")) | (x > F.col("__hi"))).cast("bigint")
            ).alias("n_clipped"),
            F.round(
                F.sum(x.cast("decimal(18,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("mean_wins"),
        )
    )


def contingency_chi2(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """(row_v, col_v, n_obs, expected, chi2_term): full contingency table
    of two categoricals with each cell's independence-test contribution
    (o - e)^2 / e, e = row_total * col_total / grand_total — the
    chi-square dependence screen between dimensions.

    One corpus-sized (row, col) count; marginals are category-bounded
    broadcasts; expected/chi2 derive from exact integer counts in a fixed
    division order, 6-dp-rounded.
    """
    observed = (
        df.select(F.col(row_col).alias("row_v"), F.col(col_col).alias("col_v"))
        .groupBy("row_v", "col_v")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    # the FULL r x c grid, not just observed cells: an unobserved cell
    # contributes (0-e)^2/e = e to chi2, and dropping it understates the
    # statistic (a perfect one-to-one 2x2 would read V = 1/sqrt(2)
    # instead of 1 — caught by the closed-form test). The grid cross-join
    # is category-bounded, never data-sized.
    grid = (
        observed.select("row_v").distinct()
        .crossJoin(observed.select("col_v").distinct())
    )
    cells = grid.join(observed, ["row_v", "col_v"], "left").select(
        "row_v", "col_v", F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs")
    )
    rows_t = cells.groupBy("row_v").agg(F.sum("n_obs").alias("__rt"))
    cols_t = cells.groupBy("col_v").agg(F.sum("n_obs").alias("__ct"))
    grand = cells.agg(F.sum("n_obs").alias("__g"))
    joined = (
        cells.join(F.broadcast(rows_t), "row_v")
        .join(F.broadcast(cols_t), "col_v")
        .crossJoin(F.broadcast(grand))
    )
    expected = (F.col("__rt") * F.col("__ct")).cast("double") / F.col("__g").cast(
        "double"
    )
    diff = F.col("n_obs").cast("double") - expected
    return joined.select(
        "row_v",
        "col_v",
        "n_obs",
        F.round(expected, 6).alias("expected"),
        F.round(diff * diff / expected, 6).alias("chi2_term"),
    )


def skew_report(
    df: DataFrame, keys: list[str], top_n: int = 5
) -> DataFrame:
    """(rank, key_repr, n_rows, share, skew_ratio): the top-N heaviest
    join/grouping keys with each key's row share and the global
    max/mean skew ratio — the diagnostic that decides whether a join
    needs `relational.salted_join` or AQE skew handling before it runs
    at 100 TB (a skew_ratio near 1 means uniform keys; hundreds means a
    hot key will straggle the shuffle).

    One keyed count (map-side partial), one 3-value moment aggregate
    broadcast back, one TakeOrdered for the top-N — nothing driver-side,
    nothing proportional to key cardinality on a single node.
    """
    counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    moments = counts.agg(
        F.count("*").alias("__k"),
        F.sum("n_rows").alias("__t"),
        F.max("n_rows").alias("__mx"),
    )
    joined = counts.crossJoin(F.broadcast(moments))
    key_repr = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    ranked = joined.select(
        key_repr.alias("key_repr"),
        "n_rows",
        F.round(F.col("n_rows").cast("double") / F.col("__t").cast("double"), 6).alias(
            "share"
        ),
        F.round(
            F.col("__mx").cast("double")
            / (F.col("__t").cast("double") / F.col("__k").cast("double")),
            6,
        ).alias("skew_ratio"),
    ).orderBy(F.desc("n_rows"), F.col("key_repr")).limit(top_n)
    w = Window.orderBy(F.desc("n_rows"), F.col("key_repr"))  # <= top_n rows
    return ranked.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "rank", "key_repr", "n_rows", "share", "skew_ratio"
    )


def herfindahl_index(df: DataFrame, value_col: str) -> DataFrame:
    """One row (n, hhi, hhi_normalized): Herfindahl-Hirschman
    concentration index sum(share_i^2) of an entity-level value column
    (1/n = perfectly even, 1 = single holder), with the n-adjusted
    variant (HHI - 1/n)/(1 - 1/n). The antitrust-style companion to
    `gini_coefficient`, shuffle-free beyond one aggregate pair.

    Shares derive from DECIMAL-exact value/total; the square-and-sum runs
    in double (order-dependent at the last ulp, 6-dp-rounded like every
    float statistic here).
    """
    vals = df.select(F.col(value_col).cast("decimal(18,2)").alias("__x"))
    tot = vals.agg(F.sum("__x").alias("__t"), F.count("*").alias("__n"))
    joined = vals.crossJoin(F.broadcast(tot))
    share = F.col("__x").cast("double") / F.col("__t").cast("double")
    agg = joined.agg(
        F.min("__n").cast("bigint").alias("n"),
        F.sum(share * share).alias("__hhi"),
    )
    inv_n = F.lit(1.0) / F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(F.col("__hhi"), 6).alias("hhi"),
        # nullif: the normalized form is undefined for n = 1
        F.round(
            (F.col("__hhi") - inv_n) / F.nullif(F.lit(1.0) - inv_n, F.lit(0.0)), 6
        ).alias("hhi_normalized"),
    )


def kaplan_meier(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """(t, n_at_risk, n_events, n_censored, survival): the Kaplan-Meier
    product-limit survival estimator over right-censored durations —
    churn/retention analysis done correctly (censored users count in the
    at-risk denominator until their censoring time instead of being
    dropped or mis-counted as churned).

    S(t) = prod over t_i <= t of (1 - d_i / n_i). Shapes: one duration-
    keyed groupBy (time-point cardinality output), then running windows
    ORDERED BY t — a sequential fold in a defined order, so the log-space
    cumulative product (exp of a running sum of ln terms) is
    engine-deterministic; d/n are exact integers. The at-risk count
    derives from the total minus an exclusive running sum — no second
    pass over the input. Once a time point absorbs everyone at risk
    (d = n), survival is pinned to exactly 0.0 rather than ln(0).

    Contract: input is ENTITY-LEVEL (one row per subject); the global
    ordered window runs over distinct time points, not subjects.
    """
    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("bigint")).alias("n_events"),
        F.sum((~F.col(event_col).cast("boolean")).cast("bigint")).alias("n_censored"),
    )
    total = per_t.agg(
        F.sum(F.col("n_events") + F.col("n_censored")).alias("__total")
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    left_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev), F.lit(0)
    )
    j = per_t.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk", (F.col("__total") - left_before).cast("bigint")
    )
    term = F.when(
        F.col("n_events") < F.col("n_at_risk"),
        F.log(
            (F.col("n_at_risk") - F.col("n_events")).cast("double")
            / F.col("n_at_risk").cast("double")
        ),
    )  # NULL marks an absorbing step (d == n)
    absorbed = F.max((F.col("n_events") >= F.col("n_at_risk")).cast("int")).over(w_incl)
    surv = F.when(absorbed == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(term).over(w_incl)), 6)
    )
    return j.select(
        F.col("t").cast("bigint").alias("t"),
        "n_at_risk",
        "n_events",
        "n_censored",
        surv.alias("survival"),
    )


def nelson_aalen(
    df: DataFrame, duration_col: str, event_col: str
) -> DataFrame:
    """(t, n_at_risk, n_events, cum_hazard): the Nelson-Aalen cumulative
    hazard estimator H(t) = sum over t_i <= t of d_i / n_i — the
    survival family's additive sibling of :func:`kaplan_meier` (hazard
    adds where survival multiplies; -ln(KM survival) ~ H for small
    hazards, and H is what a proportional-hazards readout wants).

    Same shapes and contract as kaplan_meier: one duration-keyed
    groupBy to time-point grain, at-risk from the total minus an
    exclusive running sum, the cumulative sum an ORDERED window fold
    (engine-deterministic); d/n are exact integers divided once per
    time point.
    """
    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("bigint")).alias("n_events"),
        F.count("*").cast("bigint").alias("__n_t"),
    )
    total = per_t.agg(F.sum("__n_t").alias("__total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    left_before = F.coalesce(F.sum("__n_t").over(w_prev), F.lit(0))
    j = per_t.crossJoin(F.broadcast(total)).withColumn(
        "n_at_risk", (F.col("__total") - left_before).cast("bigint")
    )
    step = F.col("n_events").cast("double") / F.col("n_at_risk").cast("double")
    return j.select(
        F.col("t").cast("bigint").alias("t"),
        "n_at_risk",
        "n_events",
        F.round(F.sum(step).over(w_incl), 6).alias("cum_hazard"),
    )


def logrank_test(
    df: DataFrame, group_col: str, duration_col: str, event_col: str
) -> DataFrame:
    """One row (n_a, n_b, observed_a, expected_a, chi2): the two-group
    log-rank test — "do these survival curves differ?", the
    experiment readout for churn/retention A/B where a mean test is
    wrong (censoring) and KS is wrong (time-to-event). At each event
    time t: O_a accumulates group A's events, E_a accumulates
    d_t * nA_t / n_t, V accumulates the hypergeometric variance
    d_t * (nA_t/n_t) * (1 - nA_t/n_t) * (n_t - d_t) / (n_t - 1);
    chi2 = (O_a - E_a)^2 / V (1 df).

    Per-group at-risk counts come from ONE
    :func:`distrank.global_running_sums` pass over the time grain (the
    subjects-entering counts for both groups cumulate together), so
    the test scales like the converted cumulative statistics — no
    unpartitioned data window. Exact integer d/n per time point;
    the three accumulators are ordered-fold sums. Raises unless
    exactly two groups (shared probe).
    """
    ga, _gb = _two_group_labels(df, group_col, "logrank_test")
    is_a = (F.col(group_col) == F.lit(ga)).cast("bigint")
    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(is_a).alias("__in_a"),
        F.count("*").cast("bigint").alias("__in_t"),
        F.sum(F.col(event_col).cast("bigint") * is_a).alias("__d_a"),
        F.sum(F.col(event_col).cast("bigint")).alias("__d_t"),
    )
    totals = per_t.agg(
        F.sum("__in_a").alias("__na"), F.sum("__in_t").alias("__nt")
    )
    cum = distrank.global_running_sums(
        per_t,
        F.col("t"),
        {"__ca": F.col("__in_a"), "__ct": F.col("__in_t")},
    ).crossJoin(F.broadcast(totals))
    # at-risk = total minus everyone who entered at EARLIER time points
    at_a = (F.col("__na") - F.col("__ca") + F.col("__in_a")).cast("double")
    at_t = (F.col("__nt") - F.col("__ct") + F.col("__in_t")).cast("double")
    dt = F.col("__d_t").cast("double")
    p_a = at_a / at_t
    e_a = dt * p_a
    v = F.when(
        at_t > 1.0,
        dt * p_a * (F.lit(1.0) - p_a) * (at_t - dt) / (at_t - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    agg = cum.agg(
        F.min("__na").cast("bigint").alias("n_a"),
        (F.min("__nt") - F.min("__na")).cast("bigint").alias("n_b"),
        F.sum("__d_a").cast("bigint").alias("observed_a"),
        F.round(F.sum(e_a), 6).alias("expected_a"),
        F.sum(v).alias("__v"),
    )
    chi2 = F.when(
        F.col("__v") > 0.0,
        F.pow(
            F.col("observed_a").cast("double") - F.col("expected_a"), 2
        )
        / F.col("__v"),
    )
    return agg.select(
        "n_a", "n_b", "observed_a", "expected_a",
        F.round(chi2, 6).alias("chi2"),
    )


def cuped_adjusted_ab(
    df: DataFrame,
    group_col: str,
    pre_col: str,
    post_col: str,
    *,
    scale: int = 2,
) -> DataFrame:
    """One row (n_a, n_b, raw_diff, adjusted_diff, theta,
    var_reduction): CUPED variance reduction (Deng et al. 2013, the
    standard experimentation-platform trick) — regress the experiment
    metric on its own PRE-period value, theta = cov(pre, post) /
    var(pre) pooled across groups, report the A-B difference of
    theta-adjusted means. Same treatment effect, (1 - rho^2) of the
    variance.

    Moments accumulate as EXACT integer sums in 10^-scale units (the
    cents trick: a decimal cast then one exact scale-up to bigint, so
    sums of squares stay inside int64 instead of tripping the
    wide-decimal->double 2^53 rounding gotcha); every derived float
    follows one written operation order. The adjusted difference needs
    only GROUP moments (the per-row adjustment cancels algebraically
    to raw_diff - theta * (mean_pre_a - mean_pre_b)), so the whole
    operator is ONE aggregate + arithmetic — no second pass, no
    per-row adjusted column. Raises unless exactly two groups.
    """
    ga, _gb = _two_group_labels(df, group_col, "cuped_adjusted_ab")
    is_a = F.col(group_col) == F.lit(ga)
    m = 10 ** scale
    x = (F.col(pre_col).cast(f"decimal(18,{scale})") * F.lit(m)).cast(
        "bigint"
    )
    y = (F.col(post_col).cast(f"decimal(18,{scale})") * F.lit(m)).cast(
        "bigint"
    )
    agg = df.agg(
        F.sum(is_a.cast("bigint")).alias("__na"),
        F.count("*").cast("bigint").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(F.when(is_a, x)).alias("__sxa"),
        F.sum(F.when(is_a, y)).alias("__sya"),
    )
    n = F.col("__n").cast("double")
    na = F.col("__na").cast("double")
    nb = n - na
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    var_x = F.col("__sxx").cast("double") / n - (sx / n) * (sx / n)
    var_y = F.col("__syy").cast("double") / n - (sy / n) * (sy / n)
    cov_xy = F.col("__sxy").cast("double") / n - (sx / n) * (sy / n)
    theta = cov_xy / F.nullif(var_x, F.lit(0.0))
    rho2 = (cov_xy * cov_xy) / F.nullif(var_x * var_y, F.lit(0.0))
    mean_ya = F.col("__sya").cast("double") / na
    mean_yb = (sy - F.col("__sya").cast("double")) / nb
    mean_xa = F.col("__sxa").cast("double") / na
    mean_xb = (sx - F.col("__sxa").cast("double")) / nb
    sc = F.lit(float(m))
    raw = (mean_ya - mean_yb) / sc
    adj = raw - theta * ((mean_xa - mean_xb) / sc)
    return agg.select(
        F.col("__na").cast("bigint").alias("n_a"),
        (F.col("__n") - F.col("__na")).cast("bigint").alias("n_b"),
        F.round(raw, 6).alias("raw_diff"),
        F.round(adj, 6).alias("adjusted_diff"),
        F.round(theta, 6).alias("theta"),
        F.round(rho2, 6).alias("var_reduction"),
    )


def two_proportion_ztest(
    df: DataFrame, group_col: str, success_col: str
) -> DataFrame:
    """One row (n_a, n_b, conv_a, conv_b, lift, z): two-proportion
    z-test between exactly two groups — the A/B-experiment readout
    (difference of conversion rates over the pooled standard error,
    z = (p_a - p_b) / sqrt(p(1-p)(1/n_a + 1/n_b))).

    Group labels are taken in ascending order (a = min label) so the
    sign of z is well-defined. All four inputs (successes/trials per
    group) are exact integers; every derived float follows one written
    operation order, 6-dp-rounded. Raises if the column does not have
    exactly two groups — a silent pick would misattribute the test.
    """
    per = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(success_col).cast("bigint")).alias("s"),
        )
        .orderBy("g")
    )
    ga, gb = _two_group_labels(df, group_col, "two_proportion_ztest")
    a = per.filter(F.col("g") == ga).select(
        F.col("n").alias("__na"), F.col("s").alias("__sa")
    )
    b = per.filter(F.col("g") == gb).select(
        F.col("n").alias("__nb"), F.col("s").alias("__sb")
    )
    j = a.crossJoin(F.broadcast(b))
    pa = F.col("__sa").cast("double") / F.col("__na").cast("double")
    pb = F.col("__sb").cast("double") / F.col("__nb").cast("double")
    pool = (F.col("__sa") + F.col("__sb")).cast("double") / (
        F.col("__na") + F.col("__nb")
    ).cast("double")
    se = F.sqrt(
        pool
        * (F.lit(1.0) - pool)
        * (
            F.lit(1.0) / F.col("__na").cast("double")
            + F.lit(1.0) / F.col("__nb").cast("double")
        )
    )
    return j.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.round(pa, 6).alias("conv_a"),
        F.round(pb, 6).alias("conv_b"),
        F.round(pa - pb, 6).alias("lift"),
        F.round((pa - pb) / F.nullif(se, F.lit(0.0)), 6).alias("z"),
    )


def log2_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """(bucket, lo, hi, n_obs): logarithmic-width histogram of a POSITIVE
    integer column — bucket k holds values in [2^k, 2^(k+1)). The
    standard way to eyeball a heavy-tailed distribution (degree counts,
    doc lengths); pairs with `graph.powerlaw_alpha`, which fits what
    this shows.

    The bucket is LENGTH(BIN(x)) - 1 — floor(log2) computed in exact
    integer/string space, so a value exactly at a power of two can't
    straddle a float log boundary differently per engine.
    """
    x = F.col(value_col).cast("bigint")
    bucket = (F.length(F.bin(x)) - F.lit(1)).cast("int")
    return (
        df.filter(x > 0)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
        .select(
            "bucket",
            F.expr("shiftleft(1, bucket)").cast("bigint").alias("lo"),
            F.expr("shiftleft(1, bucket + 1) - 1").cast("bigint").alias("hi"),
            "n_obs",
        )
    )


def mann_whitney_u(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One row (n_a, n_b, rank_sum_a, u_a, z): Mann-Whitney U rank-sum
    test between exactly two groups — the nonparametric A/B readout for
    CONTINUOUS metrics (revenue per user, latency), robust where the
    t-test's normality assumption fails.

    Ties take average ranks: avg = min_rank + (t-1)/2, an exact half-
    integer, so the rank sum accumulates EXACTLY in doubles (halves are
    exact in binary) and is partition-order-independent. The normal
    approximation uses the tie-corrected variance
    var = (n_a*n_b/12) * ((n+1) - sum(t^3-t)/(n*(n-1))); every input to
    the final division/sqrt is an exact integer or half-integer.

    Scale shape: the rank never touches raw rows — subjects reduce to
    DISTINCT-VALUE grain first (count + group-a count per value), then
    the average rank per value comes from a distributed running count
    (:func:`distrank.global_running_sum`: percentile-bucketed shuffle +
    broadcast bucket offsets — no single-reducer sort at any size), and
    rank_sum_a = sum(count_a * avg_rank) is algebraically identical to
    the per-row rank sum. Group labels order ascending (a = min label).
    Raises unless exactly two groups.
    """
    ga, _gb = _two_group_labels(df, group_col, "mann_whitney_u")
    # distinct-value grain, but its recompute drags the caller's whole
    # scan+aggregate chain along for each of distrank's three plan
    # branches — eager barrier (r10 stats-family sweep)
    per_v = df.groupBy(F.col(value_col).alias("__x")).agg(
        F.count("*").cast("long").alias("__t"),
        F.sum((F.col(group_col) == F.lit(ga)).cast("long")).alias("__ta"),
    ).persist()
    per_v.count()
    cum = distrank.global_running_sum(
        per_v, F.col("__x"), F.col("__t"), out_col="__cum"
    )
    # avg rank of a value = (#rows below) + (t+1)/2 — exact half-integer
    avg_rank = (F.col("__cum") - F.col("__t")).cast("double") + (
        F.col("__t").cast("double") + F.lit(1.0)
    ) / F.lit(2.0)
    agg = cum.agg(
        F.sum("__ta").cast("bigint").alias("__na"),
        (F.sum("__t") - F.sum("__ta")).cast("bigint").alias("__nb"),
        F.sum(F.col("__ta").cast("double") * avg_rank).alias("__ra"),
        F.sum(
            F.when(
                F.col("__t") > 1,
                F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("__tie_sum"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    n = na + nb
    u_a = F.col("__ra") - na * (na + F.lit(1.0)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (na * nb / F.lit(12.0)) * (
        (n + F.lit(1.0))
        - F.col("__tie_sum").cast("double") / (n * (n - F.lit(1.0)))
    )
    z = (u_a - mu) / F.nullif(F.sqrt(var), F.lit(0.0))
    return agg.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.round("__ra", 6).alias("rank_sum_a"),
        F.round(u_a, 6).alias("u_a"),
        F.round(z, 6).alias("z"),
    )


def ks_two_sample(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One row (n_a, n_b, d_stat, ks_stat): two-sample Kolmogorov-
    Smirnov — the distribution-shape A/B test (detects shifts the mean
    tests miss: variance, bimodality, tails). D = max |F_a(x) - F_b(x)|
    over observed values; ks_stat = D * sqrt(n_a*n_b/(n_a+n_b)) is the
    statistic compared against the Kolmogorov distribution.

    The ECDF gap is computed from exact integer cumulative counts
    carried over DISTINCT values — via
    :func:`distrank.global_running_sums` (percentile-bucketed two-pass,
    both group counts in ONE pass), so a continuous value column with
    ~n distinct values never lands on a single-reducer sort — and D is
    an exact rational maximized in integer cross-multiplied form
    — (ca*nb - cb*na) avoids forming either quotient — with no float
    comparison deciding the argmax. Raises unless exactly two groups.
    """
    ga, _gb = _two_group_labels(df, group_col, "ks_two_sample")
    # four plan branches read this (totals + distrank's three) — eager
    # barrier, same rationale as mann_whitney_u
    per_v = df.groupBy(F.col(value_col).alias("__x")).agg(
        F.sum((F.col(group_col) == F.lit(ga)).cast("bigint")).alias("__da"),
        F.sum((F.col(group_col) != F.lit(ga)).cast("bigint")).alias("__db"),
    ).persist()
    per_v.count()
    totals = per_v.agg(
        F.sum("__da").alias("__na"), F.sum("__db").alias("__nb")
    )
    cum = distrank.global_running_sums(
        per_v,
        F.col("__x"),
        {"__ca": F.col("__da"), "__cb": F.col("__db")},
    ).crossJoin(F.broadcast(totals))
    # |ca*nb - cb*na| maximized in exact integer space; divide once at the end
    agg = cum.agg(
        F.min("__na").alias("__na"),
        F.min("__nb").alias("__nb"),
        F.max(
            F.abs(F.col("__ca") * F.col("__nb") - F.col("__cb") * F.col("__na"))
        ).alias("__num"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    d = F.col("__num").cast("double") / (na * nb)
    return agg.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.round(d, 6).alias("d_stat"),
        F.round(d * F.sqrt(na * nb / (na + nb)), 6).alias("ks_stat"),
    )


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One row (n_total, n_groups, h, h_tie_corrected): Kruskal-Wallis
    rank ANOVA — 'do k groups share a value distribution?' without the
    normality assumption one-way ANOVA needs. H = 12/(N(N+1)) * sum_g
    R_g^2/n_g - 3(N+1) over AVERAGE ranks (midranks for ties), divided
    by the tie correction 1 - sum(t^3-t)/(N^3-N).

    Scale + exactness shape: midranks are carried in HALF-UNITS so they
    stay integers — for a distinct value with cnt occurrences after
    cum_before smaller rows, 2*avg_rank = 2*cum_before + cnt + 1 — and
    the cumulative counts come from :func:`distrank.global_running_sum`
    over DISTINCT values (percentile-bucketed two-pass; a continuous
    value column never lands on one reducer). Per-group doubled rank
    sums R2_g = sum(cnt_g * 2*avg_rank) are exact DECIMAL(38,0); the
    k-term sum of R2_g^2/n_g runs as an ORDERED fold over groups sorted
    by label (0.0-init left fold — the engine-portable float order),
    and sum(t^3-t) is an exact integer (per-value multiplicity < 2^21,
    the bigint cube bound). NULL values are excluded, NULL correction
    when every value ties (correction hits 0).
    """
    v = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__x")
    )
    per_v = v.groupBy("__x").agg(F.count("*").cast("bigint").alias("__cnt"))
    rank2 = distrank.global_running_sum(
        per_v, F.col("__x"), F.col("__cnt"), out_col="__cum"
    ).select(
        "__x",
        (
            2 * (F.col("__cum") - F.col("__cnt")) + F.col("__cnt") + 1
        ).alias("__r2"),
    )
    per_gv = v.groupBy("__g", "__x").agg(
        F.count("*").cast("bigint").alias("__cg")
    )
    per_g = (
        per_gv.join(rank2, "__x")
        .groupBy("__g")
        .agg(
            F.sum("__cg").cast("bigint").alias("__ng"),
            F.sum(
                F.col("__cg").cast("decimal(19,0)")
                * F.col("__r2").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("__r2g"),
        )
    )
    terms = per_g.select(
        "__g",
        (
            F.col("__r2g").cast("double")
            * F.col("__r2g").cast("double")
            / F.col("__ng").cast("double")
        ).alias("__t"),
    )
    folded = terms.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("__g"), F.col("__t")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["__t"],
        ).alias("__sum_t"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    totals = per_v.agg(
        F.sum("__cnt").cast("bigint").alias("__n"),
        F.sum(
            F.col("__cnt") * F.col("__cnt") * F.col("__cnt") - F.col("__cnt")
        )
        .cast("decimal(38,0)")
        .alias("__tie"),
    )
    j = folded.crossJoin(F.broadcast(totals))
    nd = F.col("__n").cast("double")
    h = (
        F.lit(3.0) / (nd * (nd + F.lit(1.0))) * F.col("__sum_t")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__tie").cast("double") / (nd * nd * nd - nd)
    return j.select(
        F.col("__n").alias("n_total"),
        "n_groups",
        F.round(h, 6).alias("h"),
        F.round(h / F.nullif(corr, F.lit(0.0)), 6).alias("h_tie_corrected"),
    )


def bartlett(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """One row (n_total, n_groups, pooled_var, bartlett_t): Bartlett's
    test of variance homogeneity across k groups — the gate in front
    of pooled-variance procedures (classic ANOVA assumes it; Welch
    exists because it often fails). T = [(N-k) ln(S_p^2) -
    sum_g (n_g-1) ln(S_g^2)] / C with the standard correction
    C = 1 + (sum 1/(n_g-1) - 1/(N-k)) / (3(k-1)).

    Exactness shape: per-group sums and sums-of-squares are exact
    decimals cast to double once, each group's SS follows one written
    operation order, and the three k-term float reductions (SS-within,
    sum of (n_g-1)ln(v_g), sum of 1/(n_g-1)) run as ORDERED 0.0-init
    left folds over groups sorted by label — the engine-portable float
    order. One groupBy, no window, no join; group count bounds the
    collected arrays.

    PRECONDITION (caller-enforced, deliberately not filtered here so
    the oracle SQL stays a literal transcription): every group needs
    n_g >= 2 AND positive sample variance. A singleton group divides
    ss/(n_g-1) by zero and a zero-variance group feeds ln(0) — under
    Spark both yield NULL and the NULL propagates through the ordered
    fold, silently nulling bartlett_t, and other engines' div-by-zero/
    ln(0) semantics (error, -inf) need not match. Pre-filter degenerate
    groups (``HAVING COUNT(*) >= 2`` + a variance floor) on BOTH sides
    when the input can contain them; the test is meaningless for such
    groups anyway (a one-point group has no variance to compare).
    """
    v = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__x")
    )
    pg = v.groupBy("__g").agg(
        F.count("*").cast("bigint").alias("__ng"),
        F.sum("__x").cast("double").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__q"),
    )
    ngd = F.col("__ng").cast("double")
    ss = F.col("__q") - F.col("__s") * F.col("__s") / ngd
    terms = pg.select(
        "__g",
        "__ng",
        ss.alias("__ss"),
        ((ngd - F.lit(1.0)) * F.log(ss / (ngd - F.lit(1.0)))).alias("__lg"),
        (F.lit(1.0) / (ngd - F.lit(1.0))).alias("__inv"),
    )

    def _fold(col: str) -> Column:
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("__g"), F.col(col)))),
            F.lit(0.0),
            lambda acc, x: acc + x[col],
        )

    agg = terms.agg(
        _fold("__ss").alias("__ssw"),
        _fold("__lg").alias("__sumlog"),
        _fold("__inv").alias("__sinv"),
        F.sum("__ng").cast("bigint").alias("__n"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    nd = F.col("__n").cast("double")
    kd = F.col("n_groups").cast("double")
    pooled = F.col("__ssw") / (nd - kd)
    t_stat = ((nd - kd) * F.log(pooled) - F.col("__sumlog")) / (
        F.lit(1.0)
        + (F.col("__sinv") - F.lit(1.0) / (nd - kd))
        / (F.lit(3.0) * (kd - F.lit(1.0)))
    )
    return agg.select(
        F.col("__n").alias("n_total"),
        "n_groups",
        F.round(pooled, 6).alias("pooled_var"),
        F.round(t_stat, 6).alias("bartlett_t"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    scale: int = 4,
    out_col: str = "value_norm",
) -> DataFrame:
    """Per-row quantile normalization across groups: the row holding
    within-group rank r (of n_g, ordered by (value, id)) is remapped to
    the POOLED order statistic at position ceil(r * N / n_g) — after
    which every group carries (a subsample of) the pooled distribution.
    The cross-source alignment step of ML feature prep (microarray
    heritage), here group = any source/segment column.

    Scale shape — every data-sized stage is parallel:

    - within-group ranks do NOT use a per-group window (k groups = k
      reducers once groups are few and data is huge). Instead, a
      composite integer key gidx*10^13 + value*10^scale is g-major
      monotone (group bands of width 2*10^12 can't overlap), so ONE
      :func:`distrank.global_running_sum` over per-(group, value)
      counts yields cumulative counts across all groups; subtracting
      each group's exclusive offset (a k-row side table) converts them
      to within-group bases. Tie rows fan out by row_number over the
      HIGH-cardinality (group, value) key.
    - the pooled order statistics come from ONE
      :func:`distrank.global_row_number` under (value, id); the rank
      lookup is a plain equi-join on the rank integer.

    Requires value_col exactly representable at `scale` decimals
    (cast decimal upstream) and |value| < 10^(12-scale); r*N must fit
    a bigint (documented ~3e9-row bound, decimal-widen beyond). NULL
    values AND NULL groups are dropped (filtered explicitly — the
    group-index equi-join would silently drop NULL groups anyway,
    so the filter makes the contract visible in the plan).
    """
    e = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(value_col).alias("__x"),
        F.col(id_col).alias("__id"),
    )
    w_g = Window.partitionBy(
        F.pmod(F.length("__g"), F.lit(1))
    ).orderBy("__g")
    gi = (
        # groupBy (an Aggregate) rather than distinct (a Deduplicate):
        # the k-row result is what gets broadcast, and the plan guard
        # only recognizes Aggregate as a derived-relation boundary
        e.groupBy("__g")
        .agg(F.count("*").alias("__gn"))
        .select("__g", F.row_number().over(w_g).cast("long").alias("__gi"))
    )
    mult = 10**scale
    e2 = e.join(F.broadcast(gi), "__g").withColumn(
        "__xi", (F.col("__x") * mult).cast("long")
    ).withColumn(
        "__ck", F.col("__gi") * F.lit(10**13) + F.col("__xi")
    )
    pv = e2.groupBy("__g", "__ck", "__xi").agg(
        F.count("*").cast("bigint").alias("__cnt")
    )
    cum = distrank.global_running_sum(
        pv, F.col("__ck"), F.col("__cnt"), out_col="__cum"
    )
    ng = e2.groupBy("__g", "__gi").agg(
        F.count("*").cast("bigint").alias("__ng")
    )
    offs = distrank.group_offsets(ng, "__gi", "__ng", keep=["__g"])
    base = cum.join(F.broadcast(offs), "__g").select(
        "__g",
        "__ck",
        "__ng",
        (F.col("__cum") - F.col("__cnt") - F.col("__off")).alias("__base"),
    )
    j_col = F.row_number().over(
        Window.partitionBy("__g", "__ck").orderBy("__id")
    )
    n_total = e.agg(F.count("*").cast("bigint").alias("__N"))
    ranked = (
        e2.withColumn("__j", j_col.cast("long"))
        .join(base, ["__g", "__ck"])
        .crossJoin(F.broadcast(n_total))
        .withColumn("__r", F.col("__base") + F.col("__j"))
        .withColumn(
            "__q",
            F.expr("(__r * __N + __ng - 1) div __ng").cast("long"),
        )
    )
    pooled = distrank.global_row_number(
        e2.select("__x", "__xi", "__id"),
        F.col("__xi"),
        tiebreaks=[F.col("__id")],
        out_col="__gr",
    ).select(
        F.col("__gr").cast("long").alias("__q"),
        F.col("__x").alias(out_col),
    )
    return ranked.join(pooled, "__q").select(
        F.col("__g").alias(group_col),
        F.col("__x").alias(value_col),
        F.col("__id").alias(id_col),
        out_col,
    )


def grouped_exact_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 4,
) -> DataFrame:
    """Per-group EXACT median (interpolated at even counts, matching
    SQL quantile_cont(0.5)) with no per-group window: the
    k-small-groups/huge-data shape where Window.partitionBy(group)
    collapses to k reducers.

    Same composite-key trick as :func:`quantile_normalize`: one
    :func:`distrank.global_running_sum` over per-(group, value) counts
    keyed g-major (gidx*10^13 + value*10^scale) gives within-group
    cumulative counts after subtracting each group's exclusive offset
    (k-row side table). The median ranks lo = (n+1)//2 and
    hi = n//2 + 1 are then found by a plain conditional MIN over the
    distinct-value grain — every data-sized stage parallel. Value must
    be exactly representable at `scale` decimals; NULL values AND
    NULL groups are dropped (explicit filter — the group-index
    equi-join would silently drop NULL groups anyway).
    Returns (group, n, median) with median = (x_lo + x_hi)/2 computed
    in decimal before one double cast.
    """
    e = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(value_col).alias("__x"))
    w_g = Window.partitionBy(
        F.pmod(F.length("__g"), F.lit(1))
    ).orderBy("__g")
    gi = (
        # groupBy (an Aggregate) rather than distinct (a Deduplicate):
        # the k-row result is what gets broadcast, and the plan guard
        # only recognizes Aggregate as a derived-relation boundary
        e.groupBy("__g")
        .agg(F.count("*").alias("__gn"))
        .select("__g", F.row_number().over(w_g).cast("long").alias("__gi"))
    )
    mult = 10**scale
    e2 = e.join(F.broadcast(gi), "__g").withColumn(
        "__ck",
        F.col("__gi") * F.lit(10**13) + (F.col("__x") * mult).cast("long"),
    )
    pv = e2.groupBy("__g", "__ck").agg(
        F.count("*").cast("bigint").alias("__cnt"),
        F.max("__x").alias("__xv"),
    )
    cum = distrank.global_running_sum(
        pv, F.col("__ck"), F.col("__cnt"), out_col="__cum"
    )
    ng = e2.groupBy("__g", "__gi").agg(
        F.count("*").cast("bigint").alias("__ng")
    )
    offs = distrank.group_offsets(ng, "__gi", "__ng", keep=["__g"])
    j = cum.join(F.broadcast(offs), "__g").withColumn(
        "__wcum", F.col("__cum") - F.col("__off")
    )
    lo_t = F.expr("(__ng + 1) div 2")
    hi_t = F.expr("__ng div 2 + 1")
    picked = j.groupBy("__g").agg(
        F.min("__ng").cast("bigint").alias("n"),
        F.min(F.when(F.col("__wcum") >= lo_t, F.col("__xv"))).alias("__lo"),
        F.min(F.when(F.col("__wcum") >= hi_t, F.col("__xv"))).alias("__hi"),
    )
    return picked.select(
        F.col("__g").alias(group_col),
        "n",
        F.round(
            ((F.col("__lo") + F.col("__hi")) / 2).cast("double"), 6
        ).alias("median"),
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: "Sequence[float]" = (0.25, 0.5, 0.75),
    scale: int = 4,
) -> DataFrame:
    """Per-group interpolated quantiles (quantile_cont semantics) with
    no per-group window — the generalization of
    :func:`grouped_exact_median` to arbitrary probabilities: for each
    q, position h = (n-1)*q, value = x[floor(h)] + (x[floor(h)+1] -
    x[floor(h)])*(h - floor(h)) over the group's sorted values.

    Same composite-key distrank machinery (one global running sum over
    g-major integer keys + k-row offsets); the bracketing order
    statistics for ALL requested quantiles resolve in ONE conditional-
    MIN aggregate over the distinct-value grain. NULL values AND NULL
    groups are dropped (explicit filter, same contract as
    :func:`grouped_exact_median`). Quantile probabilities should be
    binary-exact (k/2^m — 0.25/0.5/0.75 are; 0.1 is not): the
    bracket rank floor((n-1)*q) is evaluated in doubles, and a
    non-representable q can land one rank off an oracle's exact
    rational quantile_cont arithmetic at integer-h boundaries.
    Returns (group, n, q_<p> ...) with each quantile 6-dp rounded.
    """
    e = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), F.col(value_col).alias("__x"))
    w_g = Window.partitionBy(
        F.pmod(F.length("__g"), F.lit(1))
    ).orderBy("__g")
    gi = (
        # groupBy (an Aggregate) rather than distinct (a Deduplicate):
        # the k-row result is what gets broadcast, and the plan guard
        # only recognizes Aggregate as a derived-relation boundary
        e.groupBy("__g")
        .agg(F.count("*").alias("__gn"))
        .select("__g", F.row_number().over(w_g).cast("long").alias("__gi"))
    )
    mult = 10**scale
    e2 = e.join(F.broadcast(gi), "__g").withColumn(
        "__ck",
        F.col("__gi") * F.lit(10**13) + (F.col("__x") * mult).cast("long"),
    )
    pv = e2.groupBy("__g", "__ck").agg(
        F.count("*").cast("bigint").alias("__cnt"),
        F.max("__x").alias("__xv"),
    )
    cum = distrank.global_running_sum(
        pv, F.col("__ck"), F.col("__cnt"), out_col="__cum"
    )
    ng = e2.groupBy("__g", "__gi").agg(
        F.count("*").cast("bigint").alias("__ng")
    )
    offs = distrank.group_offsets(ng, "__gi", "__ng", keep=["__g"])
    j = cum.join(F.broadcast(offs), "__g").withColumn(
        "__wcum", F.col("__cum") - F.col("__off")
    )
    nd = F.col("__ng").cast("double")
    aggs = [F.min("__ng").cast("bigint").alias("n")]
    names = []
    for q in quantiles:
        tag = str(q).replace(".", "_")
        # 1-based bracket ranks: floor(h)+1 and floor(h)+2 (capped at n)
        h = (nd - F.lit(1.0)) * F.lit(float(q))
        klo = (F.floor(h) + 1).cast("bigint")
        khi = F.least(klo + 1, F.col("__ng"))
        aggs.append(
            F.min(
                F.when(F.col("__wcum") >= klo, F.col("__xv"))
            ).alias(f"__lo_{tag}")
        )
        aggs.append(
            F.min(
                F.when(F.col("__wcum") >= khi, F.col("__xv"))
            ).alias(f"__hi_{tag}")
        )
        names.append((q, tag))
    picked = j.groupBy("__g").agg(*aggs)
    out_cols = [F.col("__g").alias(group_col), F.col("n")]
    for q, tag in names:
        h = (F.col("n").cast("double") - F.lit(1.0)) * F.lit(float(q))
        frac = h - F.floor(h)
        lo = F.col(f"__lo_{tag}").cast("double")
        hi = F.col(f"__hi_{tag}").cast("double")
        out_cols.append(
            F.round(lo + (hi - lo) * frac, 6).alias(f"q_{tag}")
        )
    return picked.select(*out_cols)


def cramers_v(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """One row (n, chi2, df_free, v): Cramér's V effect size from the
    full chi-square contingency — the magnitude readout the raw chi2
    statistic lacks (chi2 grows with n; V in [0,1] does not):
    V = sqrt(chi2 / (n * min(r-1, c-1))).

    Reuses `contingency_chi2` for the cell terms; the category counts
    and n are exact integers, so the only float accumulation is the
    cell-bounded chi2 sum (6-dp-rounded, like every float statistic).
    """
    cells = contingency_chi2(df, row_col, col_col)
    agg = cells.agg(
        F.sum("n_obs").cast("bigint").alias("n"),
        F.round(F.sum("chi2_term"), 6).alias("chi2"),
        (
            F.least(
                F.count_distinct("row_v"), F.count_distinct("col_v")
            ) - F.lit(1)
        ).cast("bigint").alias("df_free"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (F.col("n").cast("double") * F.col("df_free").cast("double"))
    )
    return agg.select("n", "chi2", "df_free", F.round(v, 6).alias("v"))


def theil_index(df: DataFrame, value_col: str) -> DataFrame:
    """One row (n, mean_v, theil): Theil T inequality index
    T = (1/n) * sum((x/mu) * ln(x/mu)) over positive values — the
    entropy-based member of the inequality family (0 = perfect equality,
    ln(n) = one holder), and the only common one that DECOMPOSES
    additively into within-group + between-group terms, which is why
    multi-segment analyses prefer it to Gini.

    mu comes from a DECIMAL-exact sum (order-independent); each term is
    the same fixed float op sequence; the final sum is 6-dp-rounded.
    Zero/negative values are excluded (x ln x -> 0 boundary is taken at
    the population level, matching the standard definition).
    """
    vals = df.filter(F.col(value_col) > 0).select(
        F.col(value_col).cast("decimal(18,2)").alias("__x")
    )
    tot = vals.agg(
        F.count("*").alias("__n"), F.sum("__x").alias("__s")
    )
    j = vals.crossJoin(F.broadcast(tot))
    mu = F.col("__s").cast("double") / F.col("__n").cast("double")
    r = F.col("__x").cast("double") / mu
    agg = j.agg(
        F.min("__n").cast("bigint").alias("n"),
        F.round(F.min(mu), 6).alias("mean_v"),
        F.round(F.sum(r * F.log(r)) / F.min("__n").cast("double"), 6).alias("theil"),
    )
    return agg


def spearman_rank_corr(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """One row (n, rho): Spearman rank correlation — Pearson on
    tie-averaged ranks, the monotonic-association measure that ignores
    the metrics' scales (e.g. does a customer's ORDER COUNT rank track
    their REVENUE rank).

    Tie-averaged ranks are exact half-integers (rank() + (t-1)/2), so
    every sum feeding the Pearson formula — sum r, sum r², sum rx*ry —
    accumulates exactly in doubles (half-integers and their products are
    binary-exact well below 2^52): the numerator and denominator are
    exact until the final division and sqrt.

    Scale shape: each axis's tie-averaged rank is a DISTINCT-VALUE-grain
    table (value -> avg rank) built from a distributed running count
    (:func:`distrank.global_running_sum` — percentile-bucketed shuffle +
    broadcast bucket offsets, no single-reducer sort), joined back to the rows
    by value (null-safe, matching the window form's treatment of NULL
    keys). Two bounded rank tables + two shuffle joins replace the two
    unpartitioned global windows.
    """

    # the input feeds SEVEN plan branches (each axis's per-value table is
    # read 3x by distrank's probe/aggregate/offsets, plus the final
    # row-level join base) — the r10 before-plan showed the caller's
    # scan+groupBy chain planned 10 times. One eager persist barrier;
    # this is the chained-consumer case the distrank A/B showed winning
    # (the single-call loss case has 3 consumers, not 7).
    df = df.persist()
    df.count()

    def _avg_ranks(col: str, out: str) -> DataFrame:
        per_v = df.groupBy(F.col(col).alias("__v")).agg(
            F.count("*").cast("long").alias("__t")
        )
        cum = distrank.global_running_sum(
            per_v, F.col("__v"), F.col("__t"), out_col="__cum"
        )
        return cum.select(
            F.col("__v"),
            (
                (F.col("__cum") - F.col("__t")).cast("double")
                + (F.col("__t").cast("double") + F.lit(1.0)) / F.lit(2.0)
            ).alias(out),
        )

    rx = _avg_ranks(x_col, "__rx")
    ry = _avg_ranks(y_col, "__ry")
    ranked = (
        df.select(F.col(x_col).alias("__xv"), F.col(y_col).alias("__yv"))
        .join(rx, F.col("__xv").eqNullSafe(rx["__v"]))
        .drop(rx["__v"])
        .join(ry, F.col("__yv").eqNullSafe(ry["__v"]))
        .select("__rx", "__ry")
    )
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__rx").alias("__sx"),
        F.sum("__ry").alias("__sy"),
        F.sum(F.col("__rx") * F.col("__rx")).alias("__sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).alias("__syy"),
        F.sum(F.col("__rx") * F.col("__ry")).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.sqrt(
        (n * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        * (n * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    )
    return agg.select("n", F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("rho"))


def autocorrelation(
    df: DataFrame, time_col: str, value_col: str, lags: tuple[int, ...] = (1, 7)
) -> DataFrame:
    """One row (n_points, r_lag1, r_lag7, ...): serial correlation of a
    time series with lagged copies of itself — THE diagnostic for "is
    yesterday predictive of today" (lag 1) and "is there a weekly cycle"
    (lag 7) before anyone fits a forecasting model.

    Input contract: one row per time point (the caller aggregates the
    fact table to a day/hour grain first), so the global order-by window
    sorts thousands of points, not billions of fact rows — same
    entity-level contract as the rest of this module. Each lag column is
    a single `F.lag` over that order; the correlation is Spark's native
    CORR (6-dp-rounded, the same tolerance the driver-green corr_stats
    family uses).
    """
    x = F.col("__x")
    lagged = df.select(
        F.col(value_col).cast("double").alias("__x"),
        *[
            F.lag(F.col(value_col).cast("double"), k).over(
                Window.orderBy(F.col(time_col))
            ).alias(f"__x_{k}")
            for k in lags
        ],
    )
    return lagged.agg(
        F.count("*").cast("bigint").alias("n_points"),
        *[
            F.round(F.corr(x, F.col(f"__x_{k}")), 6).alias(f"r_lag{k}")
            for k in lags
        ],
    )


def seasonality_index(
    df: DataFrame, ts_col: str, value_col: str
) -> DataFrame:
    """Per ISO weekday (1=Mon..7=Sun): number of days observed, average
    daily total, and the seasonality index = dow average / overall daily
    average (1.0 = flat week; 1.3 = that weekday runs 30% hot). The
    standard de-seasonalization factor for staffing/capacity curves.

    Daily totals accumulate in DECIMAL (order-independent); the two
    averages divide those exact sums as doubles in a fixed written order,
    so the index is deterministic across partitionings. Day grain means
    the aggregate input is bounded (years x 366), and the overall average
    joins back as a broadcast single row.
    """
    daily = (
        df.groupBy(F.col(ts_col).cast("date").alias("__day"))
        .agg(F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__day_total"))
    )
    overall = daily.agg(
        F.sum("__day_total").alias("__s_all"),
        F.count("*").alias("__n_all"),
    )
    per_dow = daily.groupBy(
        (F.weekday("__day") + 1).cast("int").alias("dow")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("__day_total").alias("__s_dow"),
    )
    j = per_dow.crossJoin(F.broadcast(overall))
    avg_dow = F.col("__s_dow").cast("double") / F.col("n_days").cast("double")
    avg_all = F.col("__s_all").cast("double") / F.col("__n_all").cast("double")
    return j.select(
        "dow",
        "n_days",
        F.round(avg_dow, 6).alias("avg_daily"),
        F.round(avg_dow / avg_all, 6).alias("seasonality_index"),
    )


def open_intervals_by_day(
    df: DataFrame, start_col: str, end_col: str
) -> DataFrame:
    """Per day (day, n_opened, n_closed, n_open): how many intervals are
    OPEN on each day, where a row is open from ``start_col`` through
    ``end_col`` inclusive — order-to-ship backlog, active subscriptions,
    concurrent sessions.

    This is the sweep-line form: each interval contributes a +1 delta at
    its start day and a -1 at end+1, deltas are summed per day (exact
    integers, map-side partial agg), and a single running sum over the
    BOUNDED day-grain table yields the open count. At 100 TB this reads
    the fact table once and never materializes the interval x day fanout
    a naive `BETWEEN` join would (a 90-day-average interval would blow
    the data up 90x); the only global window sorts years-of-days rows.
    Rows with end < start are dropped (dirty data guard).
    """
    iv = df.select(
        F.col(start_col).cast("date").alias("__s"),
        F.col(end_col).cast("date").alias("__e"),
    ).filter(F.col("__e") >= F.col("__s"))
    deltas = iv.select(
        F.col("__s").alias("day"), F.lit(1).alias("__d")
    ).unionAll(
        iv.select(F.date_add("__e", 1).alias("day"), F.lit(-1).alias("__d"))
    )
    per_day = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("__d") > 0, 1).otherwise(0)).cast("bigint").alias("n_opened"),
        F.sum(F.when(F.col("__d") < 0, 1).otherwise(0)).cast("bigint").alias("n_closed"),
        F.sum("__d").cast("bigint").alias("__net"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "n_opened", "n_closed",
        F.sum("__net").over(w).cast("bigint").alias("n_open"),
    )


def rolling_active_entities(
    df: DataFrame, ts_col: str, key_col: str, window_days: int = 7
) -> DataFrame:
    """Per observed day (day, active): distinct entities seen in the
    trailing ``window_days``-day window ending that day — the rolling
    7-day-active-users metric.

    Distinct (entity, day) pairs are exploded into the ``window_days``
    report days each pair covers (a bounded map-side sequence, no join),
    then a semi join against the bounded observed-day list drops
    phantom days past the data's edge, and one COUNT(DISTINCT) per day
    finishes. Fanout is exactly ``window_days`` x |entity-days| — at
    100 TB that's a constant-factor expansion of an already-reduced
    table, vs. the quadratic day x entity-day range join it replaces.
    """
    ud = df.select(
        F.col(key_col).alias("__k"), F.col(ts_col).cast("date").alias("__day")
    ).distinct()
    days = ud.select(F.col("__day").alias("day")).distinct()
    covered = ud.select(
        "__k",
        F.explode(
            F.sequence(
                F.col("__day"), F.date_add(F.col("__day"), window_days - 1)
            )
        ).alias("day"),
    )
    return (
        covered.join(F.broadcast(days), "day", "semi")
        .groupBy("day")
        .agg(F.count_distinct("__k").cast("bigint").alias("active"))
    )


def mad_outliers(
    df: DataFrame, group_col: str, value_col: str, k: float = 3.0
) -> DataFrame:
    """Per group (group, n, median_v, mad, n_outliers): robust outlier
    gate using the median / MAD scale instead of mean / stddev — immune
    to the very outliers it hunts (a single 1e9 row inflates a z-score
    sigma until nothing is an outlier; it barely moves the MAD).
    Outlier = |x - median| > k * 1.4826 * MAD (1.4826 scales MAD to
    sigma-equivalent under normality).

    Two exact interpolated-percentile passes (the driver-proven
    percentile ≡ QUANTILE_CONT pairing), each a keyed groupBy; the
    per-group medians join back by group key — group cardinality is
    bounded, so those joins broadcast. Thresholds are the same double
    expression on both engines, so boundary rows can't flip.
    """
    x = F.col(value_col).cast("double")
    base = df.select(F.col(group_col).alias("grp"), x.alias("__x"))
    med = base.groupBy("grp").agg(
        F.expr("percentile(__x, 0.5)").alias("__med"),
        F.count("*").cast("bigint").alias("n"),
    )
    dev = base.join(F.broadcast(med), "grp").withColumn(
        "__d", F.abs(F.col("__x") - F.col("__med"))
    )
    mad = dev.groupBy("grp").agg(F.expr("percentile(__d, 0.5)").alias("__mad"))
    thresh = F.lit(float(k)) * F.lit(1.4826) * F.col("__mad")
    return (
        dev.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.min("n").alias("n"),
            F.round(F.min("__med"), 6).alias("median_v"),
            F.round(F.min("__mad"), 6).alias("mad"),
            F.sum(F.when(F.col("__d") > thresh, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .withColumnRenamed("grp", group_col)
    )


def trimmed_mean(
    df: DataFrame, value_col: str, tiebreak: str, trim: float = 0.05
) -> DataFrame:
    """One row (n, n_trim_each, trimmed_mean): two-sided trimmed mean —
    drop floor(n * trim) rows from each end of the sorted values, average
    the rest. The robust-location companion to `winsorized_stats` (which
    clamps instead of dropping).

    Trim positions come from an exact global row number over (value,
    tiebreak) — :func:`distrank.global_row_number`, so the rank is a
    percentile-bucketed parallel sort, never a single-reducer window,
    and the total count rides along from its per-bucket counts. The
    tiebreak makes WHICH tied row is dropped reproducible, and since
    tied values are interchangeable in a mean the statistic is stable
    regardless. The kept-range sum accumulates in DECIMAL.
    """
    if not 0.0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    r = distrank.global_row_number(
        df.select(
            F.col(value_col).cast("decimal(18,2)").alias("__x"),
            F.col(tiebreak).alias("__tb"),
        ),
        F.col("__x"),
        [F.col("__tb")],
        out_col="__i",
        total_col="__n",
    )
    cut = F.floor(F.col("__n").cast("double") * F.lit(float(trim))).cast("bigint")
    kept = r.filter((F.col("__i") > cut) & (F.col("__i") <= F.col("__n") - cut))
    return kept.agg(
        F.min("__n").alias("n"),
        F.min(cut).alias("n_trim_each"),
        F.round(
            F.sum("__x").cast("double") / F.count("*").cast("double"), 6
        ).alias("trimmed_mean"),
    )


def format_mask_profile(
    df: DataFrame, col: str, top_n: int = 20
) -> DataFrame:
    """Top ``top_n`` format masks (mask, n, share) of a string column:
    digits -> 9, lowercase -> a, uppercase -> A, everything else kept —
    the data-profiling view that surfaces mixed phone/ID/date formats in
    one glance ("99% '+99 999', 1% '(999)'" = a normalization bug).

    Three chained regexp_replace passes (JVM-side, codegen-friendly),
    one keyed count, broadcast 1-row total for the share, TakeOrdered
    top-N with a mask tiebreak. NULLs profile as the literal mask
    '<null>' so they are visible rather than dropped.
    """
    mask = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(col), "[0-9]", "9"), "[a-z]", "a"
        ),
        "[A-Z]",
        "A",
    )
    counts = (
        df.select(F.coalesce(mask, F.lit("<null>")).alias("mask"))
        .groupBy("mask")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("double").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "mask", "n",
            F.round(F.col("n").cast("double") / F.col("__t"), 6).alias("share"),
        )
        .orderBy(F.desc("n"), F.asc("mask"))
        .limit(top_n)
    )


def cusum_changepoint(
    df: DataFrame, time_col: str, count_col: str
) -> DataFrame:
    """One row (n_points, change_at, max_abs_drift, direction): CUSUM
    changepoint locator over an integer-valued series (e.g. daily event
    counts). S_t = sum_{i<=t}(x_i - mean); the point where |S_t| peaks
    is the classic level-shift estimate ("traffic stepped up HERE").

    The whole argmax runs in EXACT integer space: n*S_t = n*cumsum_t -
    t*total, so the peak position cannot move with float accumulation
    order (the same cross-multiplication trick as the KS statistic);
    only the reported drift divides by n at the end. Cumulative sum and
    row index ride ONE :func:`distrank.global_running_sums` pass
    (percentile-bucketed over the numeric time key — date / timestamp /
    numeric grains all convert), then a TakeOrdered argmax with
    earliest-time tiebreak.
    """
    base = df.select(
        F.col(time_col).alias("__t"),
        F.col(count_col).cast("bigint").alias("__x"),
    )
    tot = base.agg(
        F.sum("__x").alias("__total"), F.count("*").alias("__n")
    )
    key = _numeric_order_key(base, "__t")
    cum = distrank.global_running_sums(
        base,
        key if key is not None else F.col("__t"),
        {"__cum": F.col("__x"), "__i": F.lit(1).cast("bigint")},
        num_buckets=None if key is not None else 1,
    ).select("__t", "__cum", "__i")
    j = cum.crossJoin(F.broadcast(tot)).withColumn(
        "__num",
        F.col("__n") * F.col("__cum") - F.col("__i") * F.col("__total"),
    )
    return (
        j.orderBy(F.abs(F.col("__num")).desc(), F.col("__t").asc())
        .limit(1)
        .select(
            F.col("__n").cast("bigint").alias("n_points"),
            F.col("__t").cast("string").alias("change_at"),
            F.round(
                F.abs(F.col("__num")).cast("double") / F.col("__n").cast("double"),
                6,
            ).alias("max_abs_drift"),
            F.signum(F.col("__num").cast("double")).cast("int").alias("direction"),
        )
    )


def welch_ttest(
    df: DataFrame, group_col: str, value_col: str, *, scale: int = 2
) -> DataFrame:
    """One row (n_a, n_b, mean_a, mean_b, t, dof): Welch's unequal-
    variance t-test between exactly two groups — the parametric A/B
    readout that `mann_whitney_u` is the rank-based fallback for; Welch
    (1947) drops the pooled-variance assumption, so unbalanced arms with
    different spreads stay honest.

    Determinism: values accumulate as DECIMAL(18,scale) (sums) and their
    exact decimal squares (sums of squares), so partition order cannot
    move a bit; every derived float (mean, variance, t, the Welch-
    Satterthwaite dof) follows ONE written operation order mirrored in
    the oracle, 6-dp-rounded. One conditional aggregate over the fact
    rows — no window, no join, map-side partial everywhere.

    Group labels order ascending (a = min label); raises unless exactly
    two groups (a silent pick would misattribute the test).
    """
    ga, _gb = _two_group_labels(df, group_col, "welch_ttest")
    is_a = F.col(group_col) == F.lit(ga)
    x = F.col(value_col).cast(f"decimal(18,{scale})")
    xx = x * x
    agg = df.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("__na"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("bigint").alias("__nb"),
        F.sum(F.when(is_a, x)).cast("double").alias("__sa"),
        F.sum(F.when(~is_a, x)).cast("double").alias("__sb"),
        F.sum(F.when(is_a, xx)).cast("double").alias("__qa"),
        F.sum(F.when(~is_a, xx)).cast("double").alias("__qb"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    ma = F.col("__sa") / na
    mb = F.col("__sb") / nb
    va = (F.col("__qa") - F.col("__sa") * F.col("__sa") / na) / (na - F.lit(1.0))
    vb = (F.col("__qb") - F.col("__sb") * F.col("__sb") / nb) / (nb - F.lit(1.0))
    sea = va / na
    seb = vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    dof = ((sea + seb) * (sea + seb)) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    return agg.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(t, 6).alias("t"),
        F.round(dof, 6).alias("dof"),
    )


def lagged_crosscorr(
    xs: DataFrame,
    ys: DataFrame,
    day_col: str,
    x_col: str,
    y_col: str,
    *,
    max_lag: int = 3,
    scale: int = 4,
) -> DataFrame:
    """(lag, n_days, r): Pearson cross-correlation between x(t) and
    y(t + lag) for lag = 0..max_lag — the leading-indicator scan ("does
    today's x predict y in k days?"). Inputs are DAY-GRAIN aggregates
    (the caller reduces fact rows first), so the lag expansion is a
    constant (max_lag+1)x blowup of an already-bounded table, never of
    the 100 TB fact table.

    The x side explodes its lag fan-out map-side (sequence + explode, no
    driver loop), joins y on the shifted calendar day, and reduces per
    lag. All five correlation sums accumulate as exact DECIMAL(18,scale)
    products, so r = (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) *
    sqrt(n*syy - sy*sy)) sees identical inputs on any partitioning; the
    float expression follows that single written order, 6-dp-rounded.
    """
    dx = F.col(x_col).cast(f"decimal(18,{scale})")
    dy = F.col(y_col).cast(f"decimal(18,{scale})")
    lx = xs.select(
        F.explode(F.sequence(F.lit(0), F.lit(max_lag))).alias("lag"),
        F.col(day_col).cast("date").alias("__d"),
        dx.alias("__x"),
    )
    ly = ys.select(F.col(day_col).cast("date").alias("__dy"), dy.alias("__y"))
    j = lx.join(ly, F.date_add(F.col("__d"), F.col("lag")) == F.col("__dy"))
    agg = j.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("double").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("double").alias("__syy"),
    )
    n = F.col("n_days").cast("double")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.sqrt(n * F.col("__sxx") - F.col("__sx") * F.col("__sx")) * F.sqrt(
        n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    )
    return agg.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("r"),
    ).orderBy("lag")


def decision_stump(
    df: DataFrame, value_col: str, label_col: str
) -> DataFrame:
    """One row (threshold, n_left, n_right, pos_left, pos_right,
    base_gini, split_gini, gain): the best single "x <= t" split of a
    binary label by Gini impurity — decision-stump training, the
    feature-screening primitive (CART's inner loop; also the 1R
    baseline). `label_col` must be 0/1.

    Candidate thresholds are the DISTINCT values (value-space
    cardinality); the cumulative left-split counts come from
    `distrank.global_running_sums` over the distinct-threshold table —
    bucketed parallel prefix sums, so even 1e9 distinct thresholds never
    hit a single-reducer sort. All impurity inputs (cumulative
    counts/positives) are exact integers; the Gini polynomial follows
    ONE written operation order mirrored in the oracle, so the argmin
    compares bit-identical doubles; ties break on the smaller
    threshold. The top split is a TakeOrdered, not a collect.
    """
    pts = df.select(
        F.col(value_col).alias("v"), F.col(label_col).cast("bigint").alias("y")
    )
    byv = pts.groupBy("v").agg(
        F.count("*").alias("__c"), F.sum("y").alias("__p")
    )
    cum = distrank.global_running_sums(
        byv, F.col("v"), {"__nl": F.col("__c"), "__pl": F.col("__p")}
    ).select("v", "__nl", "__pl")
    tot = byv.agg(
        F.sum("__c").alias("__n"), F.sum("__p").alias("__pos")
    )
    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("__nl") < F.col("__n"))
    nl = F.col("__nl").cast("double")
    pl = F.col("__pl").cast("double")
    n = F.col("__n").cast("double")
    pos = F.col("__pos").cast("double")
    nr = n - nl
    pr = pos - pl
    gini_l = (
        F.lit(1.0) - (pl / nl) * (pl / nl) - ((nl - pl) / nl) * ((nl - pl) / nl)
    )
    gini_r = (
        F.lit(1.0) - (pr / nr) * (pr / nr) - ((nr - pr) / nr) * ((nr - pr) / nr)
    )
    split = (nl / n) * gini_l + (nr / n) * gini_r
    base = (
        F.lit(1.0) - (pos / n) * (pos / n) - ((n - pos) / n) * ((n - pos) / n)
    )
    scored = j.select(
        F.col("v").alias("threshold"),
        F.col("__nl").cast("bigint").alias("n_left"),
        (F.col("__n") - F.col("__nl")).cast("bigint").alias("n_right"),
        F.col("__pl").cast("bigint").alias("pos_left"),
        (F.col("__pos") - F.col("__pl")).cast("bigint").alias("pos_right"),
        F.round(base, 6).alias("base_gini"),
        F.round(split, 6).alias("split_gini"),
        F.round(base - split, 6).alias("gain"),
        split.alias("__order"),
    )
    return scored.orderBy(F.col("__order").asc(), F.col("threshold").asc()).limit(
        1
    ).drop("__order")


def bollinger_bands(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    *,
    window_days: int = 7,
    n_sigma: float = 2.0,
    scale: int = 2,
) -> DataFrame:
    """(day, n_window, mid, upper, lower, breakout): rolling mean +/-
    n_sigma rolling sample-std bands over a calendar RANGE frame (gaps
    count as absent days, not missing rows) — the volatility-band
    breakout monitor, day-grain twin of the per-entity z-score gate.

    Input is a DAY-GRAIN aggregate (bounded — this module's documented
    global-window contract). The frame is RANGE over exact epoch-day
    integers, so both engines agree on which days fall in a band even
    across gaps; sums and sums-of-squares accumulate as exact decimals
    inside the frame, and mean/std/bands follow one written float order.
    Days with fewer than 2 frame rows carry NULL bands (sample std
    undefined), never a divide-by-zero.
    """
    v = F.col(value_col).cast(f"decimal(18,{scale})")
    epoch_day = F.datediff(F.col(day_col), F.lit("1970-01-01"))
    based = daily.select(
        F.col(day_col).alias("day"),
        epoch_day.alias("__ed"),
        v.alias("__v"),
        (v * v).alias("__vv"),
    )
    w = (
        Window.orderBy(F.col("__ed"))
        .rangeBetween(-(window_days - 1), 0)
    )
    framed = based.select(
        "day",
        F.col("__v").cast("double").alias("__x"),
        F.count("*").over(w).cast("bigint").alias("n_window"),
        F.sum("__v").over(w).cast("double").alias("__s"),
        F.sum("__vv").over(w).cast("double").alias("__q"),
    )
    n = F.col("n_window").cast("double")
    mid = F.col("__s") / n
    std = F.when(
        F.col("n_window") >= 2,
        F.sqrt(
            (F.col("__q") - F.col("__s") * F.col("__s") / n) / (n - F.lit(1.0))
        ),
    )
    upper = mid + F.lit(n_sigma) * std
    lower = mid - F.lit(n_sigma) * std

    # floor(x*1e6 + 0.5)/1e6, NOT engine ROUND: the bands are irrational
    # (sqrt), and at a double-repr half boundary Spark's HALF_UP and the
    # oracle's correctly-rounded ROUND legitimately disagree by 1e-6;
    # this spelling is one written float order both engines share.
    def _r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return framed.select(
        "day",
        "n_window",
        _r6(mid).alias("mid"),
        _r6(upper).alias("upper"),
        _r6(lower).alias("lower"),
        ((F.col("__x") > upper) | (F.col("__x") < lower)).alias("breakout"),
    )


def cumulative_distinct_by_day(
    daily_entities: DataFrame, entity_col: str, ts_col: str
) -> DataFrame:
    """(day, new_entities, cum_entities): the growth curve — first-seen
    day per entity, then a running total over the bounded day grain.
    The naive formulation (COUNT(DISTINCT user) OVER cumulative day
    frame) rescans every prior day per day; this one reduces the fact
    table ONCE to entity grain (min day per entity — the only
    corpus-sized shuffle), and the cumulative window runs over day-count
    rows.
    """
    first = daily_entities.groupBy(F.col(entity_col).alias("__e")).agg(
        F.min(F.col(ts_col).cast("date")).alias("day")
    )
    per_day = first.groupBy("day").agg(
        F.count("*").cast("bigint").alias("new_entities")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "new_entities",
        F.sum("new_entities").over(w).cast("bigint").alias("cum_entities"),
    )


def weighted_median(
    df: DataFrame, value_col: str, weight_col: str, *, scale: int = 2
) -> DataFrame:
    """One row (total_weight, weighted_median): smallest value whose
    cumulative weight reaches half the total — the weighted quantile
    primitive (plain median treats a 10,000-unit line item like a
    1-unit one).

    Weights accumulate as DECIMAL(18,scale) and the half-total test is
    the integer-space cross-multiplication (2*cumw >= total), so no
    float division can move the pick; cumulative weights ride
    :func:`distrank.global_running_sums` over DISTINCT values
    (percentile-bucketed — a continuous value column's ~n distinct
    values never single-partition), and the pick is a TakeOrdered
    limit 1.
    """
    w_ = F.col(weight_col).cast(f"decimal(18,{scale})")
    byv = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum(w_).alias("__w")
    )
    tot = byv.agg(F.sum("__w").alias("__t"))
    cum = distrank.global_running_sums(
        byv, F.col("v"), {"__cw": F.col("__w")}
    ).crossJoin(F.broadcast(tot))
    return (
        cum.filter(F.col("__cw") * 2 >= F.col("__t"))
        .orderBy("v")
        .limit(1)
        .select(
            F.col("__t").cast("double").alias("total_weight"),
            F.col("v").alias("weighted_median"),
        )
    )


# Poisson(1) inverse-CDF ladder (cumulative e^-1 * 1/j! prefix sums) —
# shared literal constants between the engine and the oracle so replicate
# weights are bit-identical. P(X > 7) ~ 1e-5; the tail clamps to 8.
_POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    *,
    replicates: int = 100,
    lo: float = 0.025,
    hi: float = 0.975,
    scale: int = 2,
) -> DataFrame:
    """One row (replicates, mean_point, ci_lo, ci_hi): a bootstrap
    confidence interval for the mean with DETERMINISTIC Poisson(1)
    resampling — each (row, replicate) draws its multiplicity from the
    Poisson inverse-CDF applied to a salted-md5 uniform, the standard
    streaming/distributed bootstrap (no RNG state, no resample shuffle;
    Poisson(1) multiplicities approximate multinomial resampling for
    large n). Reruns reproduce the interval bit-for-bit.

    Entity-level-input contract (the replicate fan-out is B x rows —
    feed per-entity aggregates). Values accumulate as decimals per
    replicate; the replicate means are exact-input doubles; the interval
    is the exact interpolated percentile over the B means.
    """
    b = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("__b")
    expanded = df.select(
        F.col(value_col).cast(f"decimal(18,{scale})").alias("__x"),
        F.col(id_col).alias("__id"),
        b,
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("__id").cast("string"),
                    F.lit("#boot#"),
                    F.col("__b").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(1 << 48))
    w = F.lit(8)
    for j in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[j]), F.lit(j)).otherwise(w)
    weighted = expanded.select(
        "__b", w.alias("__w"), (F.col("__x") * w.cast("decimal(9,0)")).alias("__wx")
    )
    per_rep = weighted.groupBy("__b").agg(
        (
            F.sum("__wx").cast("double")
            / F.nullif(F.sum("__w").cast("double"), F.lit(0.0))
        ).alias("__mean")
    )
    point = df.agg(
        (
            F.sum(F.col(value_col).cast(f"decimal(18,{scale})")).cast("double")
            / F.count("*").cast("double")
        ).alias("__point")
    )
    return per_rep.agg(
        F.count("*").cast("bigint").alias("replicates"),
        F.round(F.percentile(F.col("__mean"), F.lit(lo)), 6).alias("ci_lo"),
        F.round(F.percentile(F.col("__mean"), F.lit(hi)), 6).alias("ci_hi"),
    ).crossJoin(F.broadcast(point)).select(
        "replicates",
        F.round(F.col("__point"), 6).alias("mean_point"),
        "ci_lo",
        "ci_hi",
    )


def wasserstein_1d(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One row (n_a, n_b, w1): the 1-D Wasserstein (earth-mover)
    distance between two groups' value distributions — W1 = integral of
    |CDF_a - CDF_b|, the distribution-shift measure that keeps the
    value's UNITS (where KS reports a max gap and KL a ratio). Completes
    the two-sample family (z, t, Mann-Whitney, KS, chi2, KL/JS).

    Cumulative counts and the next-support-point lead ride ONE
    :func:`distrank.global_running_sums` pass (percentile-bucketed, so
    the distinct-value grain never single-partitions even for a
    continuous value column); each segment's |CDF gap| uses the
    cross-multiplied integer form |cum_a*n_b - cum_b*n_a| so no division
    happens until the very end; segment widths are double differences of
    adjacent support points. Labels order ascending (a = min).
    """
    ga, _gb = _two_group_labels(df, group_col, "wasserstein_1d")
    byv = df.groupBy(F.col(value_col).alias("v")).agg(
        F.sum((F.col(group_col) == F.lit(ga)).cast("bigint")).alias("__ca"),
        F.sum((F.col(group_col) != F.lit(ga)).cast("bigint")).alias("__cb"),
    )
    cum = distrank.global_running_sums(
        byv,
        F.col("v"),
        {"__cuma": F.col("__ca"), "__cumb": F.col("__cb")},
        next_key_col="__nv",
    ).withColumn("__dx", F.col("__nv") - F.col("v"))
    tot = byv.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    j = cum.filter(F.col("__dx").isNotNull()).crossJoin(F.broadcast(tot))
    gap = F.abs(
        F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na")
    ).cast("double")
    term = gap * F.col("__dx")
    return j.agg(
        F.max("__na").cast("bigint").alias("n_a"),
        F.max("__nb").cast("bigint").alias("n_b"),
        F.round(
            F.sum(term)
            / (F.max("__na") * F.max("__nb")).cast("double"),
            6,
        ).alias("w1"),
    )


def k_anonymity_report(
    df: DataFrame, quasi_cols: "list[str]", *, k: int = 5
) -> DataFrame:
    """One row (k, n_rows, n_classes, min_class_size, violating_classes,
    violating_rows): k-anonymity audit over a quasi-identifier set — a
    release is k-anonymous iff every equivalence class (distinct
    quasi-identifier combination) holds >= k rows. The governance gate
    run before sharing "de-identified" data; pairs with the PII
    redaction pass (which removes direct identifiers — this measures
    re-identification risk from the indirect ones).

    One keyed groupBy to class grain, one bounded aggregate over the
    class table. All outputs exact integers.
    """
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("__sz"))
    return classes.agg(
        F.lit(k).cast("int").alias("k"),
        F.sum("__sz").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.min("__sz").cast("bigint").alias("min_class_size"),
        F.sum((F.col("__sz") < k).cast("bigint"))
        .cast("bigint")
        .alias("violating_classes"),
        F.sum(F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0))
        .cast("bigint")
        .alias("violating_rows"),
    )


def seasonal_naive_mape(
    daily: DataFrame,
    day_col: str,
    value_col: str,
    *,
    season_days: int = 7,
    scale: int = 2,
) -> DataFrame:
    """One row (n_scored, mape, smape): backtest of the seasonal-naive
    forecast f(d) = value(d - season_days) — the baseline every real
    forecasting model must beat, and the cheapest drift alarm for a
    daily metric. Scored only on days whose seasonal ancestor exists
    (a calendar self-join on exact epoch-day arithmetic, so gaps score
    nothing rather than shifting the season).

    Values join as exact decimals; each day's APE/SAPE is one division
    of decimal-exact doubles; the day-bounded mean follows the
    KL-family 6-dp-round convention.
    """
    v = F.col(value_col).cast(f"decimal(18,{scale})")
    based = daily.select(
        F.col(day_col).cast("date").alias("__d"), v.alias("__v")
    )
    future = based.select(
        F.date_sub(F.col("__d"), season_days).alias("__dpast"),
        F.col("__v").alias("__actual"),
    )
    j = future.join(
        based.select(F.col("__d").alias("__dpast"), F.col("__v").alias("__fc")),
        "__dpast",
    )
    a = F.col("__actual").cast("double")
    f_ = F.col("__fc").cast("double")
    ape = F.abs(a - f_) / F.abs(a)
    sape = F.lit(2.0) * F.abs(a - f_) / (F.abs(a) + F.abs(f_))
    scored = j.filter(F.col("__actual") != 0)
    return scored.agg(
        F.count("*").cast("bigint").alias("n_scored"),
        F.round(F.avg(ape), 6).alias("mape"),
        F.round(F.avg(sape), 6).alias("smape"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str, *, scale: int = 2
) -> DataFrame:
    """One row (k_groups, n, ss_between, ss_within, f_stat): one-way
    ANOVA F — does the mean differ across k groups? The k-group
    generalization of `welch_ttest` (pooled-variance form; for k = 2 it
    squares the pooled t).

    Per-group sums and sums-of-squares accumulate as exact decimals (one
    keyed aggregate); SSW = sum_g(q_g - s_g^2/n_g) and
    SSB = sum_g(s_g^2/n_g) - s^2/n are then k-bounded float sums in one
    written order; F = (SSB/(k-1)) / (SSW/(n-k)) divides last.
    """
    x = F.col(value_col).cast(f"decimal(18,{scale})")
    per = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.count("*").alias("__n"),
        F.sum(x).cast("double").alias("__s"),
        F.sum(x * x).cast("double").alias("__q"),
    )
    ng = F.col("__n").cast("double")
    agg = per.agg(
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__s").alias("__ts"),
        F.sum(F.col("__q") - F.col("__s") * F.col("__s") / ng).alias("__ssw"),
        F.sum(F.col("__s") * F.col("__s") / ng).alias("__sb_raw"),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k_groups").cast("double")
    ssb = F.col("__sb_raw") - F.col("__ts") * F.col("__ts") / nd
    f_stat = (ssb / (kd - F.lit(1.0))) / (
        F.col("__ssw") / (nd - kd)
    )
    # SS values are ~1e8-scale sums of k float terms whose last ulps are
    # accumulation-order-dependent; 2-dp output keeps the rounding
    # boundary 10-100x wider than the worst-case ulp drift. f_stat is a
    # ratio of the same sums (relative error ~1e-15) — 6 dp is safe.
    return agg.select(
        "k_groups",
        "n",
        F.round(ssb, 2).alias("ss_between"),
        F.round(F.col("__ssw"), 2).alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
    )


def hbos_outlier_scores(
    df: DataFrame,
    id_col: str,
    feature_cols: "list[str]",
    *,
    n_bins: int = 10,
    k: int = 20,
) -> DataFrame:
    """Top-k (id, score) by histogram-based outlier score (HBOS,
    Goldstein & Dengel 2012): score = sum_f ln(n / count_f(bin_f(x))) —
    features binned equi-width on their observed [min, max], rarer bins
    score higher. The density-based anomaly detector that needs no
    distance joins: two bounded aggregates per feature (range, then bin
    histogram) and broadcast joins back, so it runs at fact-table scale
    where k-NN outlier methods can't.

    Bin index = clamp(floor((x - min) / (max - min) * n_bins)) in one
    written float order; all densities are exact integers over n; the
    top-k is a TakeOrdered with an id tiebreak.
    """
    feats = list(feature_cols)
    cur = df.select(F.col(id_col).alias("id"), *[F.col(c) for c in feats])
    n_total = None
    score = None
    for c in feats:
        rng = cur.agg(
            F.min(F.col(c)).cast("double").alias(f"__lo_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__hi_{c}"),
            F.count("*").alias(f"__n_{c}"),
        )
        cur = cur.crossJoin(F.broadcast(rng))
        span = F.col(f"__hi_{c}") - F.col(f"__lo_{c}")
        raw = F.floor(
            (F.col(c).cast("double") - F.col(f"__lo_{c}"))
            / span
            * F.lit(float(n_bins))
        )
        bin_ = F.when(span == 0.0, F.lit(0)).otherwise(
            F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
        ).cast("int")
        cur = cur.withColumn(f"__bin_{c}", bin_)
        hist = cur.groupBy(f"__bin_{c}").agg(
            F.count("*").alias(f"__cnt_{c}")
        )
        cur = cur.join(F.broadcast(hist), f"__bin_{c}")
        term = F.log(
            F.col(f"__n_{c}").cast("double") / F.col(f"__cnt_{c}").cast("double")
        )
        score = term if score is None else score + term
        n_total = F.col(f"__n_{c}")
    scored = cur.select("id", F.round(score, 6).alias("score"))
    return scored.orderBy(F.col("score").desc(), "id").limit(k)


def theil_sen_trend(
    daily: DataFrame, day_col: str, value_col: str, *, scale: int = 2
) -> DataFrame:
    """One row (n_days, n_pairs, slope_per_day): Theil-Sen robust trend
    — the median of all pairwise slopes (v_j - v_i) / (d_j - d_i), the
    estimator that shrugs off the outlier days OLS chases. Quadratic in
    DAYS, not rows: the self-join runs on the bounded day-grain table
    (the caller reduces fact rows first), so ~2.4k days is ~3M slope
    pairs — distributed-trivial.

    Day deltas are exact epoch-day integers and values exact decimals,
    so every slope double is identical on both engines; the median is
    the exact interpolated percentile over the slope set.

    EAGER: constructing this DataFrame materializes the O(days^2) slope
    lattice via `truncate_lineage` (lineage.py) because
    distrank's rank passes plus the count/median branches would each
    re-execute the quadratic join otherwise. Same contract as
    `remove_boilerplate`.
    """
    v = F.col(value_col).cast(f"decimal(18,{scale})")
    based = daily.select(
        F.datediff(F.col(day_col), F.lit("1970-01-01")).alias("__d"),
        v.alias("__v"),
    )
    # Explicit spread of the day-grain table before the pair lattice
    # (r10, guide §2.5-adjacent): AQE coalesces the tiny aggregate to ONE
    # partition (its bytes sit under the coalesce floor), and a single
    # partition satisfies every downstream distribution requirement — so
    # the quadratic O(days^2) join and everything fused behind it ran as
    # one task (stage capture: the sibling Sn estimator spent 11.7 s of
    # 11.7 s CPU in a single task at sf0.1). An explicit repartition(n)
    # is exempt from AQE coalescing; the table is day-grain bounded, so
    # the exchange is trivial at any scale. Pair content is
    # partitioning-invariant (deterministic keys, exact decimals).
    based = based.repartition(daily.sparkSession.sparkContext.defaultParallelism)
    a = based.select(F.col("__d").alias("__da"), F.col("__v").alias("__va"))
    b = based.select(F.col("__d").alias("__db"), F.col("__v").alias("__vb"))
    slope = (F.col("__vb") - F.col("__va")).cast("double") / (
        F.col("__db") - F.col("__da")
    ).cast("double")
    # Distributed exact median (r10): percentile(slope, 0.5) is an exact
    # aggregate whose FINAL merge is one task holding every slope — the
    # stage capture showed a single 10.1 s task reading the whole 30 MB
    # pair lattice at sf0.1. Rank the slopes through distrank's bucketed
    # two-pass row number instead (the distributed_median_price pattern)
    # and interpolate the two middle ranks with percentile()'s own
    # formula: pos = (nc-1)/2, g = pos - floor(pos) (0 for odd nc, 0.5
    # for even), median = (1-g)*v_lo + g*v_hi — bit-identical doubles
    # (0.5*x is exact; for odd nc the expression collapses to v_lo).
    # The (i, j) tiebreak totally orders equal slopes; equal values make
    # any pick at a rank value-identical. The lattice is materialized
    # once — distrank reads its input from three plan branches.
    from ascii_hydra_spark.operators import distrank
    from ascii_hydra_spark.operators.lineage import truncate_lineage

    pairs = truncate_lineage(
        a.join(b, F.col("__da") < F.col("__db")).select(
            slope.alias("__s"), F.col("__da").alias("__i"), F.col("__db").alias("__j")
        )
    )
    ranked = distrank.global_row_number(
        pairs, F.col("__s"), [F.col("__i"), F.col("__j")],
        out_col="__rk", total_col="__nc",
    )
    mid = ranked.filter(distrank.middle_ranks_pred(F.col("__rk"), F.col("__nc")))
    n_days = based.agg(F.count("*").cast("bigint").alias("n_days"))
    return (
        mid.agg(
            # coalesce: an empty lattice (single day) must keep the old
            # percentile-arm contract of n_pairs = 0, median NULL
            F.coalesce(F.min("__nc"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.min("__s").alias("__vlo"),
            F.max("__s").alias("__vhi"),
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "n_pairs",
            F.round(
                distrank.median_interp(
                    F.col("__vlo"), F.col("__vhi"), F.col("n_pairs")
                ),
                6,
            ).alias("slope_per_day"),
        )
    )


# Abramowitz & Stegun 7.1.26 erf coefficients — shared literals between
# the engine and the oracle: neither Spark SQL nor DuckDB exposes erf, so
# BOTH engines evaluate this same polynomial and produce identical
# doubles (max abs error 1.5e-7, fine for 6-dp p-values).
_AS_ERF_P = 0.3275911
_AS_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def two_sided_p_from_z(z: Column) -> Column:
    """p = 2*(1 - Phi(|z|)) = 1 - erf(|z|/sqrt(2)) via the shared A&S
    polynomial — one written float order, evaluable identically in the
    DuckDB oracle."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_ERF_P) * x)
    a1, a2, a3, a4, a5 = (F.lit(a) for a in _AS_ERF_A)
    poly = a1 * t + a2 * t * t + a3 * t * t * t + a4 * t * t * t * t + (
        a5 * t * t * t * t * t
    )
    erf = F.lit(1.0) - poly * F.exp(-x * x)
    return F.lit(1.0) - erf


def benjamini_hochberg(
    df: DataFrame, p_col: str, tiebreak: str, *, alpha: float = 0.05
) -> DataFrame:
    """Adds (p_rank, p_adj, significant) to a TEST-GRAIN table of raw
    p-values — the Benjamini-Hochberg step-up FDR correction every
    segment-sweep A/B readout needs before declaring winners (m tests at
    alpha uncorrected expect m*alpha false discoveries).

    adj_i = min_{j >= i}(p_j * m / j), capped at 1 — the suffix-min is a
    cumulative MIN over the descending-p window (min is accumulation-
    order-free, so no float-order caveat applies). Input is the bounded
    per-test table (the global windows sort m tests, not fact rows).
    """
    p = F.col(p_col)
    w_rank = Window.orderBy(p.asc(), F.col(tiebreak).asc())
    w_m = Window.partitionBy()
    w_suffix = Window.orderBy(p.desc(), F.col(tiebreak).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = df.withColumn("p_rank", F.row_number().over(w_rank)).withColumn(
        "__m", F.count("*").over(w_m)
    )
    factor = p * F.col("__m").cast("double") / F.col("p_rank").cast("double")
    adjusted = ranked.withColumn(
        "p_adj", F.least(F.min(factor).over(w_suffix), F.lit(1.0))
    )
    return adjusted.withColumn(
        "significant", F.col("p_adj") < F.lit(alpha)
    ).drop("__m")


def population_stability_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """One row (n_a, n_b, psi): population stability index between two
    groups' value distributions — sum over bins of
    (share_a - share_b) * ln(share_a / share_b), THE model-monitoring
    drift score (rule of thumb: < 0.1 stable, > 0.25 shifted). Bin edges
    are the EXPECTED group's interior quantiles (group a = min label,
    the standard expected-vs-actual framing); shares take add-0.5
    smoothing so an empty bin cannot blow up the log.

    Edges come from one exact interpolated percentile (broadcast 1-row
    array); bin assignment is size(filter(edges, e -> x > e)) — the same
    lambda on both engines; bin counts are exact integers and the final
    combination is an n_bins-bounded float sum under the KL-family 6-dp
    round.
    """
    ga, _gb = _two_group_labels(df, group_col, "population_stability_index")
    is_a = F.col(group_col) == F.lit(ga)
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = df.filter(is_a).agg(
        F.percentile(F.col(value_col), F.lit(qs).cast("array<double>")).alias(
            "__edges"
        )
    )
    binned = df.crossJoin(F.broadcast(edges)).select(
        is_a.alias("__is_a"),
        F.size(
            F.filter(
                F.col("__edges"), lambda e: F.col(value_col) > e
            )
        ).alias("__bin"),
    )
    cells = binned.groupBy("__bin").agg(
        F.sum(F.col("__is_a").cast("bigint")).alias("__ca"),
        F.sum((~F.col("__is_a")).cast("bigint")).alias("__cb"),
    )
    tot = cells.agg(F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb"))
    j = cells.crossJoin(F.broadcast(tot))
    k = F.lit(float(n_bins))
    sa = (F.col("__ca").cast("double") + F.lit(0.5)) / (
        F.col("__na").cast("double") + F.lit(0.5) * k
    )
    sb = (F.col("__cb").cast("double") + F.lit(0.5)) / (
        F.col("__nb").cast("double") + F.lit(0.5) * k
    )
    return j.agg(
        F.max("__na").cast("bigint").alias("n_a"),
        F.max("__nb").cast("bigint").alias("n_b"),
        F.round(F.sum((sa - sb) * F.log(sa / sb)), 6).alias("psi"),
    )


def central_moments(df: DataFrame, value_col: str, *, scale: int = 2) -> DataFrame:
    """One row (n, mean, stddev_pop, skewness, kurtosis): population
    moments of a value column by the TWO-PASS centered formulation —
    the exact DECIMAL sum fixes the mean, then one aggregate sums the
    centered powers. Raw power sums (E[x^4] ~ 1e22 for prices) lose the
    central moments to catastrophic cancellation; centering first keeps
    every sum at the scale of the answer, which is also why the result
    is engine-reproducible under the 6-dp round (an oracle can run the
    same two passes verbatim). Kurtosis is Pearson (m4/m2^2, normal = 3),
    not excess.

    Shape: two scans (first can feed off statistics-only metadata at
    scale), a 1-row broadcast of the mean, map-side centered powers.
    """
    x = F.col(value_col).cast(f"decimal(18,{scale})")
    base = df.agg(
        F.count("*").cast("bigint").alias("n"), F.sum(x).alias("__s")
    ).select(
        "n", (F.col("__s").cast("double") / F.col("n").cast("double")).alias("__mean")
    )
    d = F.col(value_col).cast("double") - F.col("__mean")
    cm = (
        df.crossJoin(F.broadcast(base))
        .groupBy("n", "__mean")
        .agg(
            F.sum(d * d).alias("__m2s"),
            F.sum(d * d * d).alias("__m3s"),
            F.sum(d * d * d * d).alias("__m4s"),
        )
    )
    nd = F.col("n").cast("double")
    m2 = F.col("__m2s") / nd
    m3 = F.col("__m3s") / nd
    m4 = F.col("__m4s") / nd
    return cm.select(
        "n",
        F.round(F.col("__mean"), 6).alias("mean"),
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.round(m3 / F.pow(m2, F.lit(1.5)), 6).alias("skewness"),
        F.round(m4 / (m2 * m2), 6).alias("kurtosis"),
    )


def tukey_fences(
    df: DataFrame, value_col: str, group_cols: "list[str]", *, k: float = 1.5
) -> DataFrame:
    """Per group (group..., n, q1, q3, n_low, n_high): Tukey's boxplot
    fences — flag values below q1 - k*IQR or above q3 + k*IQR, with
    EXACT linear-interpolation quartiles. The quartile-based gate beside
    the z-score (moment) and MAD (median) outlier gates: resistant to
    the outliers it hunts, unlike the z-score, and keeps the classic
    1.5-IQR calibration.

    One keyed percentile aggregate over the groups, a broadcast join of
    the (group-cardinality) fence table back onto the rows, and one
    conditional count aggregate — two scans, no window. The fences are
    computed with one written expression order so an oracle's identical
    arithmetic lands bit-for-bit.
    """
    x = F.col(value_col).cast("double")
    q = df.groupBy(*group_cols).agg(
        F.percentile(x, F.lit(0.25)).alias("__q1"),
        F.percentile(x, F.lit(0.75)).alias("__q3"),
    )
    lo = F.col("__q1") - F.lit(float(k)) * (F.col("__q3") - F.col("__q1"))
    hi = F.col("__q3") + F.lit(float(k)) * (F.col("__q3") - F.col("__q1"))
    j = df.join(F.broadcast(q), group_cols)
    return (
        j.groupBy(*group_cols)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.max("__q1"), 6).alias("q1"),
            F.round(F.max("__q3"), 6).alias("q3"),
            F.sum((x < lo).cast("bigint")).alias("n_low"),
            F.sum((x > hi).cast("bigint")).alias("n_high"),
        )
    )


def new_vs_returning(
    df: DataFrame, entity_col: str, ts_col: str, *, grain: str = "week"
) -> DataFrame:
    """Per period (period, n_active, n_new, n_returning): classify each
    period's active entities by whether this is their FIRST-EVER active
    period — the growth-accounting split behind every activation
    dashboard (and the acquisition sibling of `retention_cohorts`).

    Distinct (period, entity) pairs first (one shuffle), a keyed min
    for the first period (second shuffle on the entity), then the
    period rollup. All counts exact integers; no window over the full
    event table.
    """
    period = F.date_trunc(grain, F.col(ts_col))
    active = df.select(
        period.alias("period"), F.col(entity_col).alias("__e")
    ).distinct()
    first = active.groupBy("__e").agg(F.min("period").alias("__first"))
    j = active.join(first, "__e")
    is_new = (F.col("period") == F.col("__first")).cast("bigint")
    return j.groupBy("period").agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(is_new).alias("n_new"),
        (F.count("*") - F.sum(is_new)).cast("bigint").alias("n_returning"),
    )


def session_duration_percentiles(
    sessioned: DataFrame,
    keys: "list[str]",
    session_col: str,
    ts_col: str,
    *,
    percentiles: "tuple[float, ...]" = (0.5, 0.9, 0.99),
) -> DataFrame:
    """One row (n_sessions, p50_s, p90_s, p99_s): the session-length
    distribution over gap-rule sessions (input = `windows.session_ids`
    output). Duration = last-event - first-event in exact integer
    microseconds (one keyed aggregate), divided once into seconds;
    percentiles are EXACT with linear interpolation.

    The global percentile over per-session rows is a single-partition
    sort of session-grain data (entity-bounded, not event-bounded) —
    the same contract as `gini_coefficient`'s global rank.
    """
    us = F.unix_micros(F.col(ts_col))
    per = (
        sessioned.groupBy(*keys, session_col)
        .agg(((F.max(us) - F.min(us)).cast("double") / 1e6).alias("__dur"))
    )
    cols = [F.count("*").cast("bigint").alias("n_sessions")]
    for p in percentiles:
        cols.append(
            F.round(F.percentile(F.col("__dur"), F.lit(p)), 6).alias(
                f"p{int(p * 100)}_s"
            )
        )
    return per.agg(*cols)


def max_drawdown(
    series: DataFrame, time_col: str = "day", value_col: str = "value"
) -> DataFrame:
    """One row: worst peak-to-trough shortfall of an ordered series —
    (trough_day, peak_value, trough_value, max_drawdown, drawdown_pct).

    Input is a CALENDAR-GRAIN series (the caller reduces fact rows to
    per-day values first); the running max is
    :func:`distrank.global_running_max` — percentile-bucketed over the
    numeric time key, so even a per-second (or per-entity-event) series
    never lands on a single-reducer sort. Values ride in DECIMAL
    through the running max and the subtraction, so peak selection and
    the drawdown amount are exact; the single trough row is picked by
    (drawdown DESC, day ASC) — deterministic under ties — and only the
    final pct is a double division.
    """
    base = series.select(
        F.col(time_col).alias("__t"),
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
    )
    key = _numeric_order_key(base, "__t")
    d = distrank.global_running_max(
        base,
        key if key is not None else F.col("__t"),
        F.col("__v"),
        out_col="__peak",
        num_buckets=None if key is not None else 1,
    )
    dd = d.withColumn("__dd", F.col("__peak") - F.col("__v"))
    pick = dd.orderBy(F.desc("__dd"), F.col("__t")).limit(1)
    return pick.select(
        # string-typed day: engine-portable canonical form (dates and
        # timestamps canonicalize differently across Arrow readers)
        F.col("__t").cast("string").alias("trough_day"),
        F.col("__peak").cast("double").alias("peak_value"),
        F.col("__v").cast("double").alias("trough_value"),
        F.col("__dd").cast("double").alias("max_drawdown"),
        F.round(
            # a zero (or all-non-positive) series has peak == 0; NULL pct
            # (DuckDB x/0 semantics) instead of an ANSI DIVIDE_BY_ZERO
            F.col("__dd").cast("double")
            / F.nullif(F.col("__peak").cast("double"), F.lit(0.0)),
            6,
        ).alias("drawdown_pct"),
    )


def kendall_tau(
    series: DataFrame, key_col: str, x_col: str, y_col: str
) -> DataFrame:
    """One row (n, n_pairs, concordant, discordant, tau_b): Kendall's
    tau-b between two columns of a BOUNDED series.

    The all-pairs comparison is quadratic in the SERIES length by
    design, never in fact rows — the caller reduces to calendar grain
    (<= a few thousand rows) first, same contract as the Theil-Sen
    trend's pair join. Pair classification (concordant / discordant /
    x-tied / y-tied) happens on decimal-cast values, so every count is
    an exact integer; tau-b's tie-corrected denominator
    sqrt((n0-n1)(n0-n2)) is assembled in one final double expression.
    """
    a = series.select(
        F.col(key_col).alias("__k1"),
        F.col(x_col).cast("decimal(18,6)").alias("__x1"),
        F.col(y_col).cast("decimal(18,6)").alias("__y1"),
    )
    b = series.select(
        F.col(key_col).alias("__k2"),
        F.col(x_col).cast("decimal(18,6)").alias("__x2"),
        F.col(y_col).cast("decimal(18,6)").alias("__y2"),
    )
    pairs = a.join(b, F.col("__k1") < F.col("__k2"))
    sx = F.signum((F.col("__x2") - F.col("__x1")).cast("double"))
    sy = F.signum((F.col("__y2") - F.col("__y1")).cast("double"))
    cls = pairs.select(
        F.when(sx * sy > 0, 1).otherwise(0).alias("__c"),
        F.when(sx * sy < 0, 1).otherwise(0).alias("__d"),
        F.when(sx == 0, 1).otherwise(0).alias("__tx"),
        F.when(sy == 0, 1).otherwise(0).alias("__ty"),
    )
    m = cls.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("__c").cast("bigint").alias("concordant"),
        F.sum("__d").cast("bigint").alias("discordant"),
        F.sum("__tx").cast("bigint").alias("__n1"),
        F.sum("__ty").cast("bigint").alias("__n2"),
    )
    n0 = F.col("n_pairs").cast("double")
    return m.select(
        "n_pairs",
        "concordant",
        "discordant",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            # an all-tied x (or y) column makes the tie-corrected
            # denominator 0; NULL tau_b (DuckDB x/0 semantics) instead
            # of an ANSI DIVIDE_BY_ZERO
            / F.nullif(
                F.sqrt(
                    (n0 - F.col("__n1").cast("double"))
                    * (n0 - F.col("__n2").cast("double"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("tau_b"),
    )


def poisson_dispersion(
    counts: DataFrame, count_col: str = "n"
) -> DataFrame:
    """One row (n_entities, mean, dispersion, z, p_value): index-of-
    dispersion test of per-entity event counts against the Poisson
    null (variance == mean).

    D = s^2 / xbar from exact integer power sums (counts are integers,
    so sum, sum-of-squares, and n are exact and partition-order-free);
    z = (D - 1) * sqrt((n - 1) / 2) is the normal approximation of the
    (n-1)D ~ chi2(n-1) statistic, two-sided p via the shared
    Abramowitz-Stegun erf polynomial. D >> 1 (burstiness/contagion) is
    the readout that says per-entity hot-key salting will be needed.
    """
    m = counts.agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum(count_col).cast("bigint").alias("__s"),
        F.sum(F.col(count_col) * F.col(count_col)).cast("bigint").alias("__ss"),
    )
    n = F.col("n_entities").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    mean = s / F.nullif(n, F.lit(0.0))
    # n == 1 zeroes the variance denominator; an all-zero count column
    # zeroes the mean — NULL dispersion/z/p (DuckDB x/0 semantics)
    # instead of an ANSI DIVIDE_BY_ZERO
    var = (n * ss - s * s) / F.nullif(n * (n - F.lit(1.0)), F.lit(0.0))
    disp = var / F.nullif(mean, F.lit(0.0))
    z = (disp - F.lit(1.0)) * F.sqrt((n - F.lit(1.0)) / F.lit(2.0))
    return m.select(
        "n_entities",
        F.round(mean, 6).alias("mean"),
        F.round(disp, 6).alias("dispersion"),
        F.round(z, 6).alias("z"),
        F.round(two_sided_p_from_z(z), 6).alias("p_value"),
    )


def chi2_uniform_weekday(
    df: DataFrame, date_col: str
) -> DataFrame:
    """One row (n_total, n_dows, chi2, p_value): chi-square goodness-of-
    fit of the weekday load profile against the uniform null.

    The statistic uses the algebraic identity
    chi2 = k * sum(n_i^2) / T - T (k=7 cells, T total) so it is
    assembled from EXACT integer aggregates (sum of squared weekday
    counts) in one final double expression — no per-cell float terms to
    accumulate in partition order. The survival function for even
    df = 6 has the closed form exp(-x/2) * (1 + x/2 + (x/2)^2/2),
    written in one literal order for both engines. Weekday extraction
    is ISO (Monday=1), identical across engines.
    """
    dows = df.select(
        (F.weekday(F.col(date_col)) + F.lit(1)).alias("__dow")
    )
    counts = dows.groupBy("__dow").agg(F.count("*").cast("bigint").alias("__n"))
    m = counts.agg(
        F.sum("__n").cast("bigint").alias("n_total"),
        F.count("*").cast("bigint").alias("n_dows"),
        F.sum(F.col("__n") * F.col("__n")).cast("bigint").alias("__ss"),
    )
    t = F.col("n_total").cast("double")
    chi2 = F.lit(7.0) * F.col("__ss").cast("double") / t - t
    half = chi2 / F.lit(2.0)
    p = F.exp(-half) * (F.lit(1.0) + half + half * half / F.lit(2.0))
    return m.select(
        "n_total",
        "n_dows",
        F.round(chi2, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
    )


def benford_second_digit(df: DataFrame, value_col: str) -> DataFrame:
    """Per second-significant-digit row (digit, n, share, expected_p,
    diff): Benford second-digit conformity audit of a positive value
    column (values must be >= 10 so a second digit exists).

    First-digit audits (see :func:`benford_digits`) catch crude
    fabrication; the second-digit test is the standard forensic
    follow-up (Nigrini) because rounded/psychological pricing shows up
    here first. The expected law P(d) = sum_{k=1..9} log10(1 + 1/(10k+d))
    is written as the same nine literals in both engines. Digit
    extraction is string-based on the integer part (exact), counts are
    integers, and the share uses a 10-row global window — bucket-grain,
    the gini contract.
    """
    digits = df.filter(F.col(value_col) >= 10).select(
        F.substring(
            F.floor(F.col(value_col)).cast("string"), 2, 1
        ).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    expected = None
    for k in range(1, 10):
        term = F.log10(
            F.lit(1.0) + F.lit(1.0) / (F.lit(10.0) * k + F.col("digit").cast("double"))
        )
        expected = term if expected is None else expected + term
    share = F.col("n").cast("double") / total.cast("double")
    return counts.select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(expected, 6).alias("expected_p"),
        F.round(share - expected, 6).alias("diff"),
    )


def abc_classification(
    entities: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Per-class row (abc_class, n_entities, total_value, value_share):
    ABC / 80-15-5 inventory classification of an entity-value table.

    Entities are ranked by value (DESC, key ASC tie-break) and classes
    are cut at 80% / 95% of CUMULATIVE value — both boundaries tested
    in exact decimal space (10*cum <= 8*total, 20*cum <= 19*total), so
    an entity sitting exactly on a boundary classifies identically in
    every engine; only the final share is a double. Rank and cumulative
    value both come from the bucketed distrank primitives (decimal sums
    are order-exact, so the values are unchanged from the single-window
    spelling), and the grand total rides the running sum's own
    per-bucket offsets table (``total_col`` — no extra pass, no 1-row
    cross join) — no data-sized global window even at 1e9 entities.
    """
    d = entities.select(
        F.col(key_col).alias("__k"),
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
    )
    ranked = distrank.global_row_number(
        d, F.col("__v"), [F.col("__k")], desc=True, out_col="__i"
    )
    cum = distrank.global_running_sum(
        # materialize: `ranked` embeds the row_number call's window+join
        # chain — the A/B-proven chained-call case (see distrank._bucketed)
        ranked, F.col("__i"), F.col("__v"), out_col="__cum", total_col="__tot",
        materialize_input=True,
    ).select("__k", "__v", "__cum", "__tot")
    cls = cum.select(
        "__v",
        "__tot",
        F.when(F.lit(10) * F.col("__cum") <= F.lit(8) * F.col("__tot"), "A")
        .when(F.lit(20) * F.col("__cum") <= F.lit(19) * F.col("__tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum("__v").cast("double").alias("total_value"),
        F.round(
            F.sum("__v").cast("double") / F.max("__tot").cast("double"), 6
        ).alias("value_share"),
    )


def pareto_coverage(
    entities: DataFrame,
    key_col: str,
    value_col: str,
    threshold_pct: int = 80,
) -> DataFrame:
    """One row (n_entities, n_needed, entity_share, covered_share): the
    smallest top-value entity set covering `threshold_pct` percent of
    total value (the 80/20 concentration readout).

    An entity is in the covering set while the cumulative value BEFORE
    it is still under the threshold — tested exactly as
    100*(cum - v) < pct*total in decimal, so the crossing entity is
    included and the cut is engine-exact. Rank and cumulative value via
    the bucketed distrank primitives (decimal arithmetic keeps the cut
    identical to the single-window spelling), the grand total riding
    the running sum's own offsets table (``total_col``) — no data-sized
    global window, no extra total pass; two final double divisions.
    """
    d = entities.select(
        F.col(key_col).alias("__k"),
        F.col(value_col).cast("decimal(18,2)").alias("__v"),
    )
    ranked = distrank.global_row_number(
        d, F.col("__v"), [F.col("__k")], desc=True, out_col="__i"
    )
    cum = distrank.global_running_sum(
        # materialize: chained distrank input (see abc_classification)
        ranked, F.col("__i"), F.col("__v"), out_col="__cum", total_col="__tot",
        materialize_input=True,
    ).select("__v", "__cum", "__tot")
    flagged = cum.select(
        "__v",
        "__tot",
        (
            F.lit(100) * (F.col("__cum") - F.col("__v"))
            < F.lit(threshold_pct) * F.col("__tot")
        ).alias("__in"),
    )
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_entities"),
        F.sum(F.when(F.col("__in"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_needed"),
        F.round(
            F.sum(F.when(F.col("__in"), 1).otherwise(0)).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("entity_share"),
        F.round(
            F.sum(F.when(F.col("__in"), F.col("__v")).otherwise(F.lit(0).cast("decimal(18,2)")))
            .cast("double")
            / F.max("__tot").cast("double"),
            6,
        ).alias("covered_share"),
    )


def repeat_intervals(
    facts: DataFrame,
    entity_col: str,
    time_col: str,
    tiebreak_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group row (group, n_repeat_entities, n_gaps, avg_gap_days,
    median_gap_days): distribution of consecutive inter-purchase gaps.

    Gaps are exact integer day differences between consecutive events
    of one entity (LAG over a (time, tiebreak)-ordered entity window —
    deterministic under same-day ties); the per-group average is one
    division over integer sums and the median interpolates integer
    gaps (exact halves). One entity-keyed window shuffle plus one
    group aggregate.
    """
    w = Window.partitionBy(entity_col).orderBy(time_col, tiebreak_col)
    gaps = facts.select(
        F.col(entity_col).alias("__e"),
        F.col(group_col).alias("grp"),
        F.datediff(
            F.col(time_col).cast("date"),
            F.lag(F.col(time_col).cast("date")).over(w),
        ).alias("__gap"),
    ).filter(F.col("__gap").isNotNull())
    return gaps.groupBy("grp").agg(
        F.countDistinct("__e").cast("bigint").alias("n_repeat_entities"),
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(
            F.sum("__gap").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_gap_days"),
        F.round(
            F.expr("percentile(__gap, 0.5)"), 6
        ).alias("median_gap_days"),
    )


def stickiness_monthly(
    events: DataFrame, entity_col: str, ts_col: str
) -> DataFrame:
    """Per-month row (month, mau, n_days, avg_dau, stickiness): the
    DAU/MAU engagement ratio (product-analytics "stickiness").

    Exact integer pieces — per-day distinct actives summed over the
    month, active-day count, and monthly distinct actives — joined on
    the month key and combined in one final double expression
    ((sum_dau / n_days) / mau). Two distinct-aggregates (day grain and
    month grain) that each shuffle once on their group key; the month
    join is month-cardinality (broadcast-sized).
    """
    month = F.date_format(F.col(ts_col), "yyyy-MM").alias("month")
    day = F.col(ts_col).cast("date").alias("__day")
    daily = (
        events.select(month, day, F.col(entity_col).alias("__e"))
        .groupBy("month", "__day")
        .agg(F.countDistinct("__e").cast("bigint").alias("__dau"))
        .groupBy("month")
        .agg(
            F.sum("__dau").cast("bigint").alias("__sum_dau"),
            F.count("*").cast("bigint").alias("n_days"),
        )
    )
    monthly = (
        events.select(month, F.col(entity_col).alias("__e"))
        .groupBy("month")
        .agg(F.countDistinct("__e").cast("bigint").alias("mau"))
    )
    j = daily.join(monthly, "month")
    avg_dau = F.col("__sum_dau").cast("double") / F.col("n_days").cast("double")
    return j.select(
        "month",
        "mau",
        "n_days",
        F.round(avg_dau, 6).alias("avg_dau"),
        F.round(avg_dau / F.col("mau").cast("double"), 6).alias("stickiness"),
    )


def dow_hour_heatmap(events: DataFrame, ts_col: str) -> DataFrame:
    """Per-(ISO weekday, hour) row (dow, hour, n, share): the 168-cell
    load heatmap — the capacity-planning readout behind partition-count
    and autoscaling choices. One map-side-combinable groupBy; shares
    via a global window over the 168 bucket rows (bucket grain, the
    gini contract); exact counts, one division per cell.
    """
    cells = events.select(
        (F.weekday(F.col(ts_col)) + F.lit(1)).alias("dow"),
        F.hour(F.col(ts_col)).alias("hour"),
    ).groupBy("dow", "hour").agg(F.count("*").cast("bigint").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return cells.select(
        "dow",
        "hour",
        "n",
        F.round(F.col("n").cast("double") / total.cast("double"), 6).alias(
            "share"
        ),
    )


def cooccurrence_lift(
    facts: DataFrame, entity_col: str, item_col: str
) -> DataFrame:
    """Per item pair (item_a, item_b, n_a, n_b, n_both, support, lift):
    entity-level co-occurrence lift between items (event types,
    product categories) — lift = (n_both * n_total) / (n_a * n_b),
    assembled from exact distinct-entity counts in one double
    expression.

    The pair stage self-joins the DISTINCT (entity, item) projection on
    the entity key, so fan-out is bounded by the per-entity item count
    (the catalog is small by construction — event types, categories —
    never raw item ids; that bounded-vocabulary contract is what makes
    the output pair table broadcast-sized). The 1-row total-entities
    aggregate broadcasts onto the bounded pair table.
    """
    ui = facts.select(
        F.col(entity_col).alias("__e"), F.col(item_col).alias("__i")
    ).distinct()
    per_item = ui.groupBy("__i").agg(
        F.countDistinct("__e").cast("bigint").alias("__n")
    )
    pairs = (
        ui.alias("a")
        .join(ui.alias("b"), (F.col("a.__e") == F.col("b.__e"))
              & (F.col("a.__i") < F.col("b.__i")))
        .groupBy(
            F.col("a.__i").alias("item_a"), F.col("b.__i").alias("item_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    total = facts.select(F.col(entity_col).alias("__e")).agg(
        F.countDistinct("__e").cast("bigint").alias("__t")
    )
    j = (
        pairs.join(
            per_item.select(
                F.col("__i").alias("item_a"), F.col("__n").alias("n_a")
            ),
            "item_a",
        )
        .join(
            per_item.select(
                F.col("__i").alias("item_b"), F.col("__n").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
    )
    return j.select(
        "item_a",
        "item_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.col("n_both").cast("double") / F.col("__t").cast("double"), 6
        ).alias("support"),
        F.round(
            (F.col("n_both").cast("double") * F.col("__t").cast("double"))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("lift"),
    )


def session_entry_exit(
    tagged: DataFrame,
    keys: Sequence[str],
    session_col: str,
    ts_col: str,
    tiebreak_col: str,
    item_col: str,
) -> DataFrame:
    """Per (entry, exit) pair (entry_item, exit_item, n_sessions,
    share): which item opens and closes each session — the navigation-
    flow matrix. Entry/exit are min_by/max_by over the exact
    (timestamp, tiebreak) struct (deterministic under ties), one
    session-keyed aggregate; shares via a global window over the
    bounded (catalog^2) pair rows.
    """
    order_key = F.struct(F.col(ts_col), F.col(tiebreak_col))
    per_session = tagged.groupBy(
        *[F.col(k) for k in keys], F.col(session_col)
    ).agg(
        F.min_by(F.col(item_col), order_key).alias("entry_item"),
        F.max_by(F.col(item_col), order_key).alias("exit_item"),
    )
    counts = per_session.groupBy("entry_item", "exit_item").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    total = F.sum("n_sessions").over(Window.partitionBy())
    return counts.select(
        "entry_item",
        "exit_item",
        "n_sessions",
        F.round(
            F.col("n_sessions").cast("double") / total.cast("double"), 6
        ).alias("share"),
    )


def ols_two_features(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    *,
    y_scale: int = 2,
    x1_scale: int = 2,
    x2_scale: int = 4,
) -> DataFrame:
    """One row (n, b0, b1, b2, r2): two-feature OLS with intercept by
    the closed-form normal equations (2x2 Cramer solve on centered
    sums) — the multivariate sibling of regr_stats.

    Every RAW power sum (x1, x2, y, their squares and cross products)
    accumulates in exact DECIMAL — the inputs are fixed-point business
    values, so the products carry bounded scale and the sums are
    partition-order-free; the centered sums, the Cramer solve, and R^2
    are then ONE deterministic double expression each. One aggregate
    scan; no iteration, no broadcast (the solve is driver-free algebra
    inside the single result row).
    """
    y = F.col(y_col).cast(f"decimal(18,{y_scale})")
    x1 = F.col(x1_col).cast(f"decimal(18,{x1_scale})")
    x2 = F.col(x2_col).cast(f"decimal(18,{x2_scale})")
    m = df.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x1).cast("double").alias("__sx1"),
        F.sum(x2).cast("double").alias("__sx2"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x1 * x1).cast("double").alias("__sx1x1"),
        F.sum(x2 * x2).cast("double").alias("__sx2x2"),
        F.sum(x1 * x2).cast("double").alias("__sx1x2"),
        F.sum(x1 * y).cast("double").alias("__sx1y"),
        F.sum(x2 * y).cast("double").alias("__sx2y"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n = F.col("n").cast("double")
    s11 = F.col("__sx1x1") - F.col("__sx1") * F.col("__sx1") / n
    s22 = F.col("__sx2x2") - F.col("__sx2") * F.col("__sx2") / n
    s12 = F.col("__sx1x2") - F.col("__sx1") * F.col("__sx2") / n
    s1y = F.col("__sx1y") - F.col("__sx1") * F.col("__sy") / n
    s2y = F.col("__sx2y") - F.col("__sx2") * F.col("__sy") / n
    syy = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    den = s11 * s22 - s12 * s12
    b1 = (s22 * s1y - s12 * s2y) / den
    b2 = (s11 * s2y - s12 * s1y) / den
    b0 = F.col("__sy") / n - b1 * F.col("__sx1") / n - b2 * F.col("__sx2") / n
    r2 = (b1 * s1y + b2 * s2y) / syy
    return m.select(
        "n",
        F.round(b0, 6).alias("b0"),
        F.round(b1, 6).alias("b1"),
        F.round(b2, 6).alias("b2"),
        F.round(r2, 6).alias("r2"),
    )


def jarque_bera(df: DataFrame, value_col: str, *, scale: int = 2) -> DataFrame:
    """One row (n, skewness, kurtosis, jb, p_value): Jarque-Bera
    normality test — JB = n*(S^2/6 + (K-3)^2/24) from the same two-pass
    centered moments as :func:`central_moments` (exact decimal mean
    broadcast, centered power sums at answer scale), with the exact
    closed-form chi2(df=2) survival p = exp(-JB/2). The normality gate
    run before parametric A/B tests are trusted.
    """
    x = F.col(value_col).cast(f"decimal(18,{scale})")
    base = df.agg(
        F.count("*").cast("bigint").alias("n"), F.sum(x).alias("__s")
    ).select(
        "n",
        (F.col("__s").cast("double") / F.col("n").cast("double")).alias(
            "__mean"
        ),
    )
    d = F.col(value_col).cast("double") - F.col("__mean")
    cm = (
        df.crossJoin(F.broadcast(base))
        .groupBy("n", "__mean")
        .agg(
            F.sum(d * d).alias("__m2s"),
            F.sum(d * d * d).alias("__m3s"),
            F.sum(d * d * d * d).alias("__m4s"),
        )
    )
    nd = F.col("n").cast("double")
    m2 = F.col("__m2s") / nd
    skew = (F.col("__m3s") / nd) / F.pow(m2, F.lit(1.5))
    kurt = (F.col("__m4s") / nd) / (m2 * m2)
    jb = nd * (
        skew * skew / F.lit(6.0)
        + (kurt - F.lit(3.0)) * (kurt - F.lit(3.0)) / F.lit(24.0)
    )
    return cm.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb"),
        F.round(F.exp(-(jb / F.lit(2.0))), 6).alias("p_value"),
    )


def l_diversity(
    df: DataFrame, qi_cols: Sequence[str], sensitive_col: str, l_min: int = 3
) -> DataFrame:
    """One row (n_groups, min_l, avg_l, n_below): distinct-l diversity
    of a sensitive attribute within quasi-identifier groups — the
    re-identification audit beyond :func:`k_anonymity_report` (a group
    can be large yet expose everyone if all rows share one sensitive
    value). Exact distinct counts per QI group, one division.
    """
    per = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.countDistinct(sensitive_col).cast("bigint").alias("__l")
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("__l").cast("bigint").alias("min_l"),
        F.round(
            F.sum("__l").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_l"),
        F.sum(F.when(F.col("__l") < l_min, 1).otherwise(0))
        .cast("bigint")
        .alias("n_below"),
    )


def holt_linear(
    series: DataFrame,
    time_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """One row (n_points, last_value, level, trend, forecast_next):
    Holt double exponential smoothing of an ordered series — the
    trend-aware sibling of the per-key EWMA fold.

    The recurrence (level_t depends on level_{t-1} AND trend_{t-1}) is
    an ORDERED left fold over a TWO-component state that no frame-based
    window expresses; like ewma it runs as the literal in-array fold
    (F.aggregate == LIST_REDUCE over a struct accumulator, same element
    order, same inlined operation order, so the result is bit-identical
    across engines). Input is the calendar-grain series (bounded array;
    the gini entity-level contract) — at scale the reduction to daily
    grain is the distributed part, the fold is O(days) on one row.
    """
    a, b = float(alpha), float(beta)
    d = series.select(
        F.col(time_col).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    )
    arr = d.agg(
        F.array_sort(F.collect_list(F.struct("__t", "__v"))).alias("__a")
    ).select(F.transform(F.col("__a"), lambda s: s["__v"]).alias("__xs"))
    xs = F.col("__xs")
    lvl0 = F.element_at(xs, 1)
    rest = F.slice(xs, 2, F.size(xs) - 1)

    def _step(acc, x):
        new_l = F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["t"])
        new_t = (
            F.lit(b)
            * (
                (F.lit(a) * x + F.lit(1.0 - a) * (acc["l"] + acc["t"]))
                - acc["l"]
            )
            + F.lit(1.0 - b) * acc["t"]
        )
        return F.struct(new_l.alias("l"), new_t.alias("t"))

    state = F.aggregate(
        rest,
        F.struct(lvl0.alias("l"), F.lit(0.0).alias("t")),
        _step,
    )
    return arr.select(
        F.size(xs).cast("bigint").alias("n_points"),
        F.round(F.element_at(xs, -1), 6).alias("last_value"),
        F.round(state["l"], 6).alias("level"),
        F.round(state["t"], 6).alias("trend"),
        F.round(state["l"] + state["t"], 6).alias("forecast_next"),
    )


def lifecycle_states(
    events: DataFrame, entity_col: str, ts_col: str
) -> DataFrame:
    """Per (month, state) row (month, state, n_users, share_in_month):
    growth-accounting lifecycle matrix — each month's active entities
    classified as `new` (first month ever), `retained` (also active the
    previous month), or `resurrected` (returning after a gap).

    Month arithmetic runs on the exact integer index year*12 + month,
    so gap classification can never drift across engines; one distinct
    (entity, month) projection, one entity-keyed LAG, exact counts,
    month-window shares. The full-matrix sibling of new_vs_returning.
    """
    idx = (F.year(F.col(ts_col)) * 12 + F.month(F.col(ts_col))).alias("__m")
    active = events.select(
        F.col(entity_col).alias("__e"),
        idx,
        F.date_format(F.col(ts_col), "yyyy-MM").alias("month"),
    ).distinct()
    w = Window.partitionBy("__e").orderBy("__m")
    tagged = active.select(
        "month",
        (F.col("__m") - F.lag("__m").over(w)).alias("__gap"),
    ).select(
        "month",
        F.when(F.col("__gap").isNull(), "new")
        .when(F.col("__gap") == 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    g = tagged.groupBy("month", "state").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    return g.select(
        "month",
        "state",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(Window.partitionBy("month")).cast(
                "double"
            ),
            6,
        ).alias("share_in_month"),
    )


def active_days_histogram(
    events: DataFrame, entity_col: str, ts_col: str, clamp: int = 60
) -> DataFrame:
    """Per-bucket row (days_active, n_users, share): the power-user
    curve — how many entities were active on exactly N distinct days
    (clamped at `clamp` so the output stays bucket-bounded). The
    engagement-depth distribution behind stickiness; two-level distinct
    aggregation, exact counts, bucket-window shares.
    """
    per = (
        events.select(
            F.col(entity_col).alias("__e"),
            F.col(ts_col).cast("date").alias("__d"),
        )
        .distinct()
        .groupBy("__e")
        .agg(F.count("*").alias("__days"))
    )
    h = per.select(
        F.least(F.col("__days"), F.lit(clamp)).cast("int").alias("days_active")
    ).groupBy("days_active").agg(F.count("*").cast("bigint").alias("n_users"))
    return h.select(
        "days_active",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.sum("n_users").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("share"),
    )


def intersession_gap_percentiles(
    tagged: DataFrame,
    keys: Sequence[str],
    session_col: str,
    ts_col: str,
) -> DataFrame:
    """One row (n_gaps, p50_s, p90_s, p99_s): distribution of the gap
    between consecutive sessions of the same entity (end of one to
    start of the next) — the return-cadence metric that sets push/
    retargeting windows, beside session_duration_percentiles' in-
    session lengths. Exact integer microsecond boundaries from one
    session aggregate + one entity-keyed LAG; interpolated percentiles
    over session-grain rows (entity-bounded global sort).
    """
    us = F.unix_micros(F.col(ts_col))
    per = tagged.groupBy(*[F.col(k) for k in keys], F.col(session_col)).agg(
        F.min(us).alias("__start"), F.max(us).alias("__end")
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy("__start")
    gaps = per.select(
        ((F.col("__start") - F.lag("__end").over(w)).cast("double") / F.lit(1e6)).alias(
            "__gap_s"
        )
    ).filter(F.col("__gap_s").isNotNull())
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.expr("percentile(__gap_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(__gap_s, 0.9)"), 6).alias("p90_s"),
        F.round(F.expr("percentile(__gap_s, 0.99)"), 6).alias("p99_s"),
    )


def entity_mix_entropy_hist(
    facts: DataFrame, entity_col: str, item_col: str
) -> DataFrame:
    """Per-bucket row (bucket, n_entities, share): histogram of each
    entity's item-mix Shannon entropy (bucket = floor(10 * H), H in
    nats) — the behavioral-diversity profile (bucket 0: single-minded
    entities; high buckets: uniform mixers).

    Per-entity entropy is an ORDERED left fold over the item-sorted
    count list (F.aggregate from a 0.0 init == LIST_REDUCE over the
    transformed list, because 0.0 + x is exact — same element order,
    same operation order, bit-identical doubles), so no per-group
    float-sum ordering exists anywhere. Counts and totals are exact
    integers; the bucket floor is deterministic on identical doubles.
    """
    c = facts.groupBy(
        F.col(entity_col).alias("__e"), F.col(item_col).alias("__i")
    ).agg(F.count("*").cast("bigint").alias("__c"))
    lst = c.groupBy("__e").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "__c"))),
            lambda s: s["__c"],
        ).alias("__xs")
    )
    xs = F.col("__xs")
    n = F.aggregate(
        xs, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    ).cast("double")
    ent = -F.aggregate(
        xs,
        F.lit(0.0),
        lambda acc, cc: acc
        + (cc.cast("double") / n) * F.log(cc.cast("double") / n),
    )
    b = lst.select(
        F.floor(ent * F.lit(10.0)).cast("int").alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count("*").cast("bigint").alias("n_entities"))
    return h.select(
        "bucket",
        "n_entities",
        F.round(
            F.col("n_entities").cast("double")
            / F.sum("n_entities").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("share"),
    )


def last_digit_profile(
    df: DataFrame, value_col: str, modulus: int = 100
) -> DataFrame:
    """(digit, n_obs, share, dev_from_uniform): distribution of a money
    column's last cent digits (value*100 mod `modulus`) — the pricing /
    fraud DQ audit Benford's first-digit test can't do: psychological
    price endings (.99), rounding policies, and fabricated values all
    show up as spikes against the uniform baseline 1/modulus.

    The digit extracts in exact integer space (cents via one ROUND,
    never float modulo) from the ABSOLUTE value — a refund of -1.99 is
    still a .99 ending (and pmod/% disagree across engines on negative
    operands, so signed modulo would also break oracle parity); counts
    are a single map-side-partial groupBy with `modulus`-bounded
    output; share and the deviation are final divisions against a
    window-free broadcast total.
    """
    cents = F.abs(F.round(F.col(value_col) * 100, 0).cast("bigint"))
    digit = F.pmod(cents, F.lit(int(modulus))).cast("int")
    counts = (
        df.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    total = counts.agg(F.sum("n_obs").cast("double").alias("__t"))
    share = F.col("n_obs").cast("double") / F.col("__t")
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_obs",
        F.round(share, 6).alias("share"),
        F.round(share - F.lit(1.0 / modulus), 6).alias("dev_from_uniform"),
    )


def gini_by_group(
    df: DataFrame, group_col: str, value_col: str, tiebreak: str
) -> DataFrame:
    """(grp, n, gini): per-group Gini concentration via the same rank
    formulation as :func:`gini_coefficient`, with the rank window
    PARTITIONED by the group — the standard per-segment inequality
    readout ("is revenue concentration a whole-book property or a
    segment property").

    Scale note: a partitioned window sorts each group on one reducer,
    fine while groups x entities stays reducer-sized (segments x
    customers here). For LOW-cardinality groups over billions of
    entities, run :func:`gini_coefficient` (the distrank arm) per group
    instead — same formula, fully distributed rank.
    """
    w = Window.partitionBy(F.col(group_col)).orderBy(
        F.col(value_col).asc(), F.col(tiebreak).asc()
    )
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("decimal(18,2)").alias("__x"),
        F.row_number().over(w).cast("long").alias("__i"),
    )
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__i").cast("decimal(18,0)") * F.col("__x")).alias("__six"),
    )
    n = F.col("n").cast("double")
    sx = F.nullif(F.col("__sx").cast("double"), F.lit(0.0))
    gini = (
        F.lit(2.0) * F.col("__six").cast("double") / (n * sx)
        - (n + F.lit(1.0)) / n
    )
    return agg.select("grp", "n", F.round(gini, 6).alias("gini"))
