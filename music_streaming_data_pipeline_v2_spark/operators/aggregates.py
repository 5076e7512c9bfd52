"""Grouped aggregations (reference A1-A5).

Reference: daily genre KPIs — count(*), countDistinct(user), sum(ms),
avg(ms), plus a derived ratio (glue_jobs/music-streaming-transform.py:
100-106); play counts at two grains (121-123, 145-147).

Spark-first decisions:

- All built-in aggregate functions → partial (map-side) aggregation and
  whole-stage codegen for free; one shuffle on the group key.
- ``countDistinct`` is exact (two-phase expand) to match the reference;
  ``approx_distinct=True`` swaps in HLL++ (``approx_count_distinct``)
  for the 100 TB path where the expand's extra shuffle volume dominates.
- The generic functions are column-parameterized so the same operator
  serves the music schema and the driver test tables.
- The reference recomputes the genre-day count twice (A1 listen_count and
  A4 total_plays); callers here reuse one ``daily_genre_kpis`` output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def daily_genre_kpis(
    enriched: DataFrame,
    group_col: str = "track_genre",
    date_col: str | Column = "date",
    user_col: str = "user_id",
    measure_col: str = "duration_ms",
    approx_distinct: bool = False,
    approx_rsd: float = 0.01,
) -> DataFrame:
    """A1 + A2 + A5 (music-streaming-transform.py:100-106).

    Output schema matches schemas.GENRE_KPIS (with generic names mapped
    back to the reference's when called on the music schema).
    ``date_col`` may be a Column, such as a streaming event-time window.
    """
    distinct = (
        F.approx_count_distinct(user_col, approx_rsd)
        if approx_distinct
        else F.countDistinct(user_col)
    )
    return (
        enriched.groupBy(group_col, date_col)
        .agg(
            F.count("*").alias("listen_count"),
            distinct.alias("unique_listeners"),
            F.sum(measure_col).alias("total_listening_time_ms"),
            F.avg(measure_col).alias("avg_listening_time_ms"),
        )
        .withColumn(
            "avg_listening_time_per_user",
            F.col("total_listening_time_ms") / F.col("unique_listeners"),
        )
    )


def plays_per_item(
    enriched: DataFrame,
    group_cols: list[str],
    count_alias: str = "play_count",
) -> DataFrame:
    """A3/A4: count(*) at an arbitrary grain
    (music-streaming-transform.py:121-123, 145-147)."""
    return enriched.groupBy(*group_cols).agg(F.count("*").alias(count_alias))


# Alias matching the coarser-grain use (A4).
plays_per_group = plays_per_item


def fixed_width_histogram(
    df: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    width: float = 10.0,
    n_buckets: int = 20,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column, optionally per group.

    Bucket k covers [lo + k*width, lo + (k+1)*width); values below
    ``lo`` clamp to bucket 0 and values past the top edge clamp to the
    last bucket (standard overflow-bin semantics). Emits bucket index,
    inclusive lower edge, and count. One hash-agg shuffle on
    (group, bucket) — cardinality n_buckets × |groups|, tiny no matter
    the input scale, which is the whole point: a 100 TB distribution
    profile reduced map-side to a few hundred rows.
    """
    v = F.col(value_col)
    bucket = F.least(
        F.greatest(
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("bigint"), F.lit(0)
        ),
        F.lit(n_buckets - 1),
    )
    keys = list(group_cols or [])
    return (
        df.filter(v.isNotNull())
        .withColumn("bucket", bucket)
        .groupBy(*keys, "bucket")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "bucket_lo", (F.lit(lo) + F.col("bucket") * F.lit(width))
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    quantiles_permille: list[int],
) -> DataFrame:
    """EXACT quantiles of ``col`` without buffering rows: the
    value-histogram form. Returns ``(q_permille, value)`` — ``value``
    is the smallest value whose cumulative count reaches
    ``ceil(q/1000 × n)`` (the classic lower / percentile_disc
    definition; q=1000 is the max). Nulls are excluded from ranking;
    an all-null or empty input yields NULL values on the quantile
    spine rather than zero rows.

    Why this exists beside the SQL ``percentile`` aggregate: Spark's
    exact percentile buffers every value of a group in executor
    memory — a scale hazard the moment a group holds billions of rows.
    Here the corpus collapses map-side into a per-DISTINCT-VALUE count
    histogram (one hash aggregate with partial combine — shuffle ∝
    distinct values, not rows), and the ordered cumsum window runs
    over that bounded histogram. The fit is discrete-ish measures
    (token counts, scores in fixed precision, byte sizes) where
    distinct values ≪ rows; for a by-group variant, partition the
    window by the group key — same arithmetic per group.

    Ranks are exact integers: ``target = (n × q + 999) DIV 1000``
    per-mille arithmetic — a float ``CEIL(0.9 × n)`` can land one off
    when the binary double of q×n sits just above an integer (0.9×500
    = 450.0000000000000111 → CEIL 451), and the off-by-one picks a
    different value on a different engine.
    """
    from pyspark.sql import Window

    if not quantiles_permille or any(
        not 0 <= q <= 1000 for q in quantiles_permille
    ):
        raise ValueError("quantiles_permille must be ints in [0, 1000]")
    hist = (
        df.select(F.col(col).alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.count("*").alias("_cnt"))
    )
    return quantiles_from_counts(hist, quantiles_permille)


def quantiles_from_counts(
    hist: DataFrame,
    quantiles_permille: list[int],
) -> DataFrame:
    """The quantile READOUT over a prebuilt ``(value, _cnt)`` count
    histogram — the back half of ``histogram_quantiles``, split out so
    incrementally maintained histogram cells (streaming/hist_ingest.py
    — counts are additive across batches, the count-min contract) read
    out through the IDENTICAL arithmetic as the batch operator."""
    from pyspark.sql import Window

    if not quantiles_permille or any(
        not 0 <= q <= 1000 for q in quantiles_permille
    ):
        raise ValueError("quantiles_permille must be ints in [0, 1000]")
    # the histogram feeds two consumers (total + cumsum) — materialize
    # once; it is distinct-value-bounded by contract
    hist = hist.localCheckpoint(eager=False)
    total = hist.agg(
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("long").alias("_n")
    )
    w = Window.orderBy("value")
    cum = hist.select(
        "value",
        F.sum("_cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("_cum"),
    )
    spark = hist.sparkSession
    spine = spark.createDataFrame(
        [(int(q),) for q in sorted(set(quantiles_permille))],
        "q_permille int",
    ).crossJoin(F.broadcast(total))
    target = F.expr("GREATEST((_n * q_permille + 999) DIV 1000, 1)")
    hits = (
        # non-equi left join against the BROADCAST histogram cumsum
        # (distinct-value-bounded by contract) — the spine never moves
        spine.join(F.broadcast(cum), cum["_cum"] >= target, "left")
        .groupBy("q_permille")
        .agg(F.min("value").alias("value"))
    )
    return hits.orderBy("q_permille")


def grouped_histogram_quantiles(
    df: DataFrame,
    col: str,
    by: str,
    quantiles_permille: list[int],
) -> DataFrame:
    """``histogram_quantiles`` per group: exact ``(by, q_permille,
    value)`` quantiles of ``col`` within each ``by`` group, same
    lower/percentile_disc definition and per-mille integer rank
    arithmetic. A group whose values are all null has no histogram and
    therefore no output rows (unlike the global form's NULL spine —
    a group key only exists here by having ranked values).

    Scale shape: one (group × distinct-value)-bounded count histogram
    (map-side combine), the cumsum window PARTITIONED by the group key
    (every group ranks in parallel — no single reducer), and the
    spine join is an equi-join on the group key with the rank
    threshold as residual condition, so it hash-joins rather than
    nested-looping."""
    hist = (
        df.select(F.col(by).alias("_by"), F.col(col).alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("_by", "value")
        .agg(F.count("*").alias("_cnt"))
    )
    return grouped_quantiles_from_counts(
        hist, quantiles_permille
    ).withColumnRenamed("_by", by)


def grouped_quantiles_from_counts(
    hist: DataFrame,
    quantiles_permille: list[int],
) -> DataFrame:
    """The per-group quantile READOUT over a prebuilt ``(_by, value,
    _cnt)`` count histogram — the back half of
    ``grouped_histogram_quantiles`` (the quantiles_from_counts split),
    so incrementally maintained per-group value cells
    (streaming/value_ingest.py — counts are additive across batches)
    read out through the IDENTICAL arithmetic as the batch operator.
    Returns ``(_by, q_permille, value)``."""
    from pyspark.sql import Window

    if not quantiles_permille or any(
        not 0 <= q <= 1000 for q in quantiles_permille
    ):
        raise ValueError("quantiles_permille must be ints in [0, 1000]")
    hist = hist.localCheckpoint(eager=False)
    totals = hist.groupBy("_by").agg(F.sum("_cnt").cast("long").alias("_n"))
    w = Window.partitionBy("_by").orderBy("value")
    cum = hist.select(
        "_by",
        "value",
        F.sum("_cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("_cum"),
    )
    spark = hist.sparkSession
    qs = spark.createDataFrame(
        [(int(q),) for q in sorted(set(quantiles_permille))],
        "q_permille int",
    )
    spine = totals.crossJoin(F.broadcast(qs)).withColumn(
        "_target",
        F.expr("GREATEST((_n * q_permille + 999) DIV 1000, 1)"),
    )
    return (
        spine.join(
            cum,
            (spine["_by"] == cum["_by"]) & (cum["_cum"] >= spine["_target"]),
        )
        .groupBy(spine["_by"].alias("_by"), "q_permille")
        .agg(F.min("value").alias("value"))
    )


def decayed_sum(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    as_of: str,
    half_life_days: int = 7,
    cap_periods: int = 8,
    value_scale: int = 100,
) -> DataFrame:
    """Half-life-decayed value sum per group — the freshness-weighted
    popularity a serving layer ranks by (recent plays count full,
    last-half-life plays count half, ...), computable at QUERY time
    from plain history with no decay state to maintain.

    Exactness (the repo's no-transcendentals oracle rule): the decay
    factor is 2^-(age_days // half_life) — a POWER OF TWO, so instead
    of floating exp() the weighted sum accumulates
    ``value_centi × 2^(cap − k)`` as exact BIGINTs (aggregation-order
    free) and pays exactly ONE terminal cast+division by the constant
    ``2^cap × value_scale``, bit-identical across engines. Events
    older than ``cap_periods`` half-lives (weight < 2^-cap — below
    noise for any ranking use) and future timestamps contribute 0,
    making the clamp part of the defined semantics, not a silent
    truncation. Returns group cols + ``n_events`` (in-window rows) +
    ``decayed_value``.

    Scale: one map-side weight expression + one hash aggregate —
    identical profile to a plain grouped sum; no window, no state.

    Overflow bound: a row's weighted term is ``value×scale × 2^cap``
    and must stay under 2⁶³ (ANSI mode would otherwise throw
    ARITHMETIC_OVERFLOW at runtime; non-ANSI would wrap silently).
    ``cap_periods`` is therefore capped at 40 — weights below 2⁻⁴⁰
    are beyond double resolution for any ranking use anyway — which
    leaves ~2²² (≈ 4.1M centi-units, value ≈ 41k at the default
    scale) of per-row headroom and 2⁶² of total-sum headroom.
    """
    if half_life_days < 1 or not 1 <= cap_periods <= 40:
        raise ValueError("need half_life_days >= 1, 1 <= cap_periods <= 40")
    age = F.datediff(F.lit(as_of).cast("date"), F.to_date(F.col(ts_col)))
    k = F.floor(age.cast("double") / float(half_life_days)).cast("int")
    vc = F.round(F.col(value_col) * value_scale).cast("long")
    staged = df.withColumn("_k", k).withColumn("_vc", vc)
    in_window = (
        (F.col("_k") >= 0)
        & (F.col("_k") <= cap_periods)
        & F.col(value_col).isNotNull()
    )
    num = F.when(
        in_window,
        F.col("_vc")
        * F.expr(f"SHIFTLEFT(CAST(1 AS BIGINT), {int(cap_periods)} - _k)"),
    ).otherwise(F.lit(0).cast("long"))
    denom = float((1 << cap_periods) * value_scale)
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.sum(F.when(in_window, 1).otherwise(0))
            .cast("long")
            .alias("n_events"),
            F.sum(num).alias("_num"),
        )
        .select(
            *group_cols,
            "n_events",
            (F.col("_num").cast("double") / F.lit(denom)).alias(
                "decayed_value"
            ),
        )
    )


def value_day_cells(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    value_col: str,
    value_scale: int = 100,
) -> DataFrame:
    """Per-(group, day) additive cells ``(…, _day, _n, _vc)`` — row
    count and exact centi-scaled value sum. The dated counterpart of
    vocab/PSI cells: under append-only ingest each event lands in
    exactly one batch, so per-batch cells SUM exactly across batches,
    and any as-of/day-weighted readout (``decayed_from_cells``)
    recomputes from groups × days state instead of re-scanning
    history. NULL values contribute nothing (``_n`` counts non-null
    values only, per ``decayed_sum``'s in-window rule) but their
    (group, day) cell is still EMITTED with zero counts — so a group
    whose rows are all NULL-valued stays on the cells-served roster
    exactly as ``decayed_sum`` keeps it (n_events=0, value 0.0;
    ADVICE r7). Zero cells are rare and additive like any other."""
    return df.groupBy(
        *group_cols, F.to_date(F.col(ts_col)).alias("_day")
    ).agg(
        F.count(value_col).cast("long").alias("_n"),
        F.coalesce(
            F.sum(F.round(F.col(value_col) * value_scale).cast("long")),
            F.lit(0).cast("long"),
        ).alias("_vc"),
    )


def decayed_from_cells(
    cells: DataFrame,
    group_cols: list[str],
    as_of: str,
    half_life_days: int = 7,
    cap_periods: int = 8,
    value_scale: int = 100,
) -> DataFrame:
    """``decayed_sum`` served from ``value_day_cells`` state: the
    decay weight 2^-(age//hl) is a function of the DAY alone, so
    weighting summed cells equals weighting rows exactly (integer
    distributivity — no approximation; pinned ≡ decayed_sum by
    tests/test_round7_ops.py, including all-NULL-valued groups, which
    ride zero-count cells, and proven per driver round by
    ``half_life_from_cells`` against the same DuckDB SQL as the
    row-level query). Readout cost is groups × days cells, never
    events. Same cap-40 overflow bound as ``decayed_sum`` —
    and stricter in spirit here, since a CELL's summed ``_vc`` is the
    multiplicand (a day's whole centi-value volume per group must fit
    2⁶³ / 2^cap)."""
    if half_life_days < 1 or not 1 <= cap_periods <= 40:
        raise ValueError("need half_life_days >= 1, 1 <= cap_periods <= 40")
    age = F.datediff(F.lit(as_of).cast("date"), F.col("_day"))
    k = F.floor(age.cast("double") / float(half_life_days)).cast("int")
    staged = cells.withColumn("_k", k)
    in_window = (F.col("_k") >= 0) & (F.col("_k") <= cap_periods)
    num = F.when(
        in_window,
        F.col("_vc")
        * F.expr(f"SHIFTLEFT(CAST(1 AS BIGINT), {int(cap_periods)} - _k)"),
    ).otherwise(F.lit(0).cast("long"))
    denom = float((1 << cap_periods) * value_scale)
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.sum(F.when(in_window, F.col("_n")).otherwise(0))
            .cast("long")
            .alias("n_events"),
            F.sum(num).alias("_num"),
        )
        .select(
            *group_cols,
            "n_events",
            (F.col("_num").cast("double") / F.lit(denom)).alias(
                "decayed_value"
            ),
        )
    )


def mad_outlier_stats(
    df: DataFrame,
    by: str,
    value_col: str,
    k: int = 3,
    value_scale: int = 100,
) -> DataFrame:
    """Median/MAD robust outlier audit per group — the
    mean/stddev-free gate a data pipeline uses on heavy-tailed value
    columns (a z-score threshold is itself dragged by the outliers it
    hunts; the median absolute deviation is not). Per group: the lower
    median of the ``value_scale``-scaled values, the lower median of
    absolute deviations from it (MAD), and how many values sit
    strictly beyond ``k × MAD`` of the median. Returns ``(by,
    n_values, median_centi, mad_centi, n_outliers)`` — all exact
    BIGINTs (the one rounding is the initial centi-scaling), so the
    DuckDB twin is hash-exact with zero float traffic. NULL values
    are excluded; an all-NULL or empty group is absent.

    Medians use the ``histogram_quantiles`` convention: smallest
    value whose cumulative count reaches ``GREATEST((n×500+999) DIV
    1000, 1)`` (= ceil(n/2)) — the percentile_disc lower median,
    identical integer arithmetic in both engines.

    Scale shape: rows collapse map-side into per-(group, distinct
    value) count cells (shuffle ∝ distinct values, not rows — the
    histogram_quantiles argument); every window and join after that
    runs over the bounded histogram, and the deviation histogram is a
    second bounded relation derived from the first via a
    groups-sized broadcast of the medians. No row buffering, no
    group-sized windows.

    The front half (cells) and back half (``mad_from_counts``) are
    split exactly like histogram_quantiles / quantiles_from_counts:
    (group, value) count cells are ADDITIVE across batches, so an
    ingest pipeline keeps per-batch cells and serves this readout
    from summed state without re-scanning rows (additivity pinned by
    tests/test_round8_ops.py)."""
    counts = value_cells(df, by, value_col, value_scale=value_scale)
    return mad_from_counts(counts, k=k).withColumnRenamed("_by", by)


def value_cells(
    df: DataFrame,
    by: str,
    value_col: str,
    value_scale: int = 100,
) -> DataFrame:
    """The robust family's FRONT half: map-side collapse of rows into
    the ``(_by, _v, _cnt)`` per-group count histogram of
    ``value_scale``-scaled values (the one rounding in the family).
    Additive across disjoint row batches — the value_ingest cell
    contract — so both the batch readouts (``mad_from_counts``,
    ``mad_fences_from_counts``, ``grouped_quantiles_from_counts``)
    and summed ingest state run the identical back half."""
    vals = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(by).alias("_by"),
            F.round(F.col(value_col) * value_scale)
            .cast("long")
            .alias("_v"),
        )
    )
    return vals.groupBy("_by", "_v").agg(
        F.count("*").cast("long").alias("_cnt")
    )


def _mad_core(
    counts: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared median/MAD derivation over a ``(_by, _v, _cnt)``
    histogram: returns ``(med, mad, dev_counts)`` where ``med`` is
    ``(_by, _n, _med)``, ``mad`` is ``(_by, _mad)`` and
    ``dev_counts`` the absolute-deviation histogram. Split out so the
    fences-only consumers (``mad_clipped_means``) stop here instead
    of dragging the n_outliers aggregate through an un-prunable inner
    join (ADVICE r8)."""
    from pyspark.sql import Window

    def lower_median(rel: DataFrame) -> DataFrame:
        """(_by, _v, _cnt) -> (_by, _n, _med): the lower median over
        a per-group count histogram."""
        tot = rel.groupBy("_by").agg(F.sum("_cnt").alias("_n"))
        w = Window.partitionBy("_by").orderBy("_v")
        cum = rel.select(
            "_by",
            "_v",
            F.sum("_cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("_cm"),
        )
        return (
            # totals are GROUPS-sized — broadcast, or the planner
            # sort-merges the cumsum against it (observed at sf0.01)
            cum.join(F.broadcast(tot), "_by")
            .filter(
                F.col("_cm")
                >= F.expr("GREATEST((_n * 500 + 999) DIV 1000, 1)")
            )
            .groupBy("_by", "_n")
            .agg(F.min("_v").alias("_med"))
        )

    med = lower_median(counts)
    # deviation histogram: |v - med| per (group, value) cell, counts
    # re-aggregated (two cells can fold onto one deviation)
    dev_counts = (
        counts.join(F.broadcast(med.select("_by", "_med")), "_by")
        .select(
            "_by",
            F.abs(F.col("_v") - F.col("_med")).alias("_v"),
            "_cnt",
        )
        .groupBy("_by", "_v")
        .agg(F.sum("_cnt").alias("_cnt"))
    )
    mad = lower_median(dev_counts).select(
        "_by", F.col("_med").alias("_mad")
    )
    return med, mad, dev_counts


def mad_fences_from_counts(counts: DataFrame, k: int = 3) -> DataFrame:
    """The robust CLAMP fences only — ``(_by, _lo, _hi)`` =
    ``median ∓ k×MAD`` over a prebuilt ``(_by, _v, _cnt)`` histogram.
    ``mad_clipped_means`` needs exactly this; calling the full
    ``mad_from_counts`` dragged the discarded n_outliers aggregate
    (a deviation-histogram sum plus one extra join) through an inner
    join Catalyst cannot prune (ADVICE r8)."""
    if k < 1:
        raise ValueError("need k >= 1")
    med, mad, _ = _mad_core(counts)
    return med.join(F.broadcast(mad), "_by").select(
        "_by",
        (F.col("_med") - F.lit(int(k)) * F.col("_mad")).alias("_lo"),
        (F.col("_med") + F.lit(int(k)) * F.col("_mad")).alias("_hi"),
    )


def mad_from_counts(counts: DataFrame, k: int = 3) -> DataFrame:
    """The median/MAD/outlier READOUT over a prebuilt ``(_by, _v,
    _cnt)`` per-group count histogram — the back half of
    ``mad_outlier_stats`` (the quantiles_from_counts split), so
    incrementally maintained value cells serve the identical
    arithmetic. Returns ``(_by, n_values, median_centi, mad_centi,
    n_outliers)``."""
    if k < 1:
        raise ValueError("need k >= 1")
    med, mad, dev_counts = _mad_core(counts)
    outliers = (
        dev_counts.join(F.broadcast(mad), "_by")
        .groupBy("_by")
        .agg(
            F.sum(
                F.when(F.col("_v") > F.lit(int(k)) * F.col("_mad"), F.col("_cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        # every relation here is groups-sized; hint anyway — at
        # sf0.01 the planner's stats put the final assembly on SMJ
        med.join(F.broadcast(mad), "_by")
        .join(F.broadcast(outliers), "_by")
        .select(
            "_by",
            F.col("_n").cast("long").alias("n_values"),
            F.col("_med").alias("median_centi"),
            F.col("_mad").alias("mad_centi"),
            "n_outliers",
        )
    )


def mad_clipped_means(
    df: DataFrame,
    by: str,
    value_col: str,
    k: int = 3,
    value_scale: int = 100,
) -> DataFrame:
    """The TREAT side of the robust family (``mad_outlier_stats`` is
    the detect side): per group, winsorize by the robust fences
    ``median ± k × MAD`` — values beyond a fence clamp TO the fence —
    and report the clipped mean. Unlike percentile winsorizing
    (``winsorized_means``), the fences come from median/MAD, so a
    heavy tail cannot drag its own clipping threshold. Returns ``(by,
    n_values, n_clipped, lo_centi, hi_centi, clipped_mean)``: counts
    and fences exact BIGINTs, the mean one terminal division of an
    exactly-aggregated BIGINT sum (aggregation-order free, the oracle
    hash requirement). NULL values excluded; all-NULL groups absent.

    Scale shape: the fences derive from the same bounded
    (group, distinct value) histogram as ``mad_outlier_stats``
    (map-side collapse, histogram-only windows); the clamp itself is
    one map-side expression over the rows with the groups-sized fence
    relation broadcast — a second row scan, no row shuffle (the
    clamped sum aggregates with map-side combine)."""
    stats = mad_fences_from_counts(
        value_cells(df, by, value_col, value_scale=value_scale), k=k
    ).withColumnRenamed("_by", "_fby")
    vc = F.round(F.col(value_col) * value_scale).cast("long")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(by).alias("_by"), vc.alias("_v")
    )
    clamped = vals.join(
        F.broadcast(stats), vals["_by"] == stats["_fby"]
    ).select(
        "_by",
        "_lo",
        "_hi",
        F.greatest(F.least(F.col("_v"), F.col("_hi")), F.col("_lo")).alias(
            "_cv"
        ),
        (
            (F.col("_v") > F.col("_hi")) | (F.col("_v") < F.col("_lo"))
        ).cast("int").alias("_clip"),
    )
    denom = float(value_scale)
    return clamped.groupBy(
        F.col("_by").alias(by),
        F.col("_lo").alias("lo_centi"),
        F.col("_hi").alias("hi_centi"),
    ).agg(
        F.count("*").cast("long").alias("n_values"),
        F.sum("_clip").cast("long").alias("n_clipped"),
        (
            F.sum("_cv").cast("double")
            / (F.count("*") * F.lit(denom))
        ).alias("clipped_mean"),
    ).select(
        by, "n_values", "n_clipped", "lo_centi", "hi_centi", "clipped_mean"
    )
