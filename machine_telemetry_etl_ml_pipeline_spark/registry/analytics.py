"""Statistics, sketches and business analytics: percentiles and
histograms, sampling, approximate/mergeable sketches (HLL, count-min,
Bloom, quantile and top-k), data profiling and quality reports, and
funnel/cohort/segmentation analyses. Approximate answers are checked
through exact integer quantities or bounded invariants.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.prep import hex_bucket_sql, md5_bucket
from ..operators import plancap
from ..operators.ckpt import note_live
from . import _CENTS, _t, register


@register(
    "ext_percentiles",
    """
    SELECT round(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS median_qty,
           round(quantile_cont(l_quantity::DOUBLE, 0.9), 4) AS p90_qty,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(var_samp(l_extendedprice), 4) AS var_price
    FROM lineitem
    """,
)
def ext_percentiles(spark, sf_dir):
    """Exact percentiles (interpolating, = quantile_cont). The 100 TB
    path is percentile_approx (t-digest, partial-aggregable); exact
    percentile is a full sort per group and exists for parity."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_extendedprice"), 4).alias("var_price"),
    )


@register(
    "ext_max_by",
    """
    SELECT user_id,
           arg_max(event_type, CAST(round(value * 100) AS BIGINT) * 1099511627776
                               + event_id) AS top_type,
           round(max(value), 4) AS max_value,
           arg_min(event_type, CAST(round(value * 100) AS BIGINT) * 1099511627776
                               + event_id) AS bottom_type
    FROM events GROUP BY user_id
    """,
)
def ext_max_by(spark, sf_dir):
    """max_by/min_by (argmax). Equal values within a group make plain
    max_by nondeterministic, so the ordering key is a composite
    (cents << 40) + event_id scalar — deterministic in both engines
    (DuckDB arg_max has no struct-key overload)."""
    e = _t(spark, sf_dir, "events")
    key = F.round(F.col("value") * 100).cast("long") * F.lit(1099511627776).cast("long") + F.col(
        "event_id"
    )
    return e.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("top_type"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.min_by("event_type", key).alias("bottom_type"),
    )


@register(
    "ext_approx_count_distinct",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(DISTINCT event_id) AS BIGINT) AS exact_events,
           true AS users_within_5pct,
           true AS events_within_5pct
    FROM events
    """,
)
def ext_approx_count_distinct(spark, sf_dir):
    """HLL approximate distinct — the 100 TB replacement for exact
    COUNT(DISTINCT) (reference db.py:230). HLL estimates are
    engine-specific by construction, so the estimate itself cannot be
    hash-compared — instead the entry runs BOTH the sketch and the
    exact count in one aggregate and emits the exact counts plus an
    error-bound verdict (|approx-exact|/exact <= 5%, five sigma at
    rsd=0.01): the sketch stays the surface under test, and the
    oracle now checks a real cross-engine invariant instead of the
    r2-r7 rows-only row count. Upgraded per the r7 verdict item 5.

    Shape (r11): one aggregate per distinct column, combined via the
    repo's 1-row-panel crossJoin, NOT one agg with two COUNT(DISTINCT)
    columns. The multi-distinct form plans an Expand (3x the fact rows,
    (gid, user_id, event_id)-wide partial-agg keys) at scan-partition
    granularity — at the 100x replica that shape OOM'd the executor
    (TungstenAggregate spill-reader heap death); per-column aggregates
    keep the partial key narrow, skip Expand entirely, and each scan
    prunes to a single parquet column, which is also the cheaper plan
    at 100 TB (two 1-column scans < one 3x-expanded shuffle)."""
    e = _t(spark, sf_dir, "events")
    users = e.agg(
        F.countDistinct("user_id").alias("eu"),
        F.approx_count_distinct("user_id", 0.01).alias("au"),
    )
    events = e.agg(
        F.countDistinct("event_id").alias("ee"),
        F.approx_count_distinct("event_id", 0.01).alias("ae"),
    )
    return users.crossJoin(events).select(
        F.col("eu").cast("long").alias("exact_users"),
        F.col("ee").cast("long").alias("exact_events"),
        (
            F.abs(F.col("au") - F.col("eu")) / F.col("eu").cast("double") <= 0.05
        ).alias("users_within_5pct"),
        (
            F.abs(F.col("ae") - F.col("ee")) / F.col("ee").cast("double") <= 0.05
        ).alias("events_within_5pct"),
    )


@register(
    "ext_corr_covar",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) + 0 AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS covar_qty_price,
           round(covar_pop(l_discount, l_tax), 4) + 0 AS covar_disc_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ext_corr_covar(spark, sf_dir):
    """Bivariate statistical aggregates (corr / covar): single-pass,
    partial-aggregable moment sketches in both engines. The `+ 0`
    normalizes IEEE negative zero (round of a tiny negative covariance
    yields -0.0 in one engine and 0.0 in the other)."""
    li = _t(spark, sf_dir, "lineitem")
    zero = F.lit(0.0)
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + zero).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4) + zero).alias("covar_qty_price"),
        (F.round(F.covar_pop("l_discount", "l_tax"), 4) + zero).alias("covar_disc_tax"),
    )


_SAMPLE_FRACTION = 0.1
_SAMPLE_SPACE = 16**7  # md5_bucket(_, 7) range
_SAMPLE_THR = int(_SAMPLE_FRACTION * _SAMPLE_SPACE)


def _sample_bucket_sql() -> str:
    from ..llm.prep import hex_bucket_sql

    return hex_bucket_sql("md5(CAST(event_id AS VARCHAR))", 7)


@register(
    "ext_sample",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE {_sample_bucket_sql()} < {_SAMPLE_THR}
    """,
)
def ext_sample(spark, sf_dir):
    """Bernoulli sampling at 10% — re-specced (r7 verdict item 5) from
    Spark's seeded sample() (engine-specific RNG, rows-only forever)
    to a HASH-threshold Bernoulli: keep iff md5_bucket(event_id, 7) <
    0.1 * 16^7. Same statistical contract (each row kept independently
    w.p. ~0.1), but the draw is a pure function of the key, so the
    sample is exactly reproducible across runs, engines, partitions,
    and cluster sizes — which is also the property a 100 TB pipeline
    wants (a resumed/re-run job re-selects the identical sample; no
    seed-per-partition coupling). The oracle runs the identical
    hex-digit arithmetic, upgrading the entry from rows-only to
    exact."""
    from ..llm.prep import md5_bucket

    e = _t(spark, sf_dir, "events")
    s = e.filter(md5_bucket(F.col("event_id"), 7) < F.lit(_SAMPLE_THR))
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "ext_percentile_approx_check",
    """
    SELECT count(*) AS n, true AS p50_close, true AS p95_close FROM lineitem
    """,
)
def ext_percentile_approx_check(spark, sf_dir):
    """Approximate percentile (t-digest-style mergeable sketch — the
    100 TB path next to exact percentile_cont): driver-checkable via an
    accuracy invariant, |approx - exact| within 1% of the exact value
    at accuracy=10000. The approx algorithm is engine-specific (no
    DuckDB twin), but the bound is constant-true by construction when
    the sketch works."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("a95"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
    )
    return agg.select(
        "n",
        (F.abs(F.col("a50") - F.col("e50")) <= F.abs(F.col("e50")) * 0.01).alias("p50_close"),
        (F.abs(F.col("a95") - F.col("e95")) <= F.abs(F.col("e95")) * 0.01).alias("p95_close"),
    )


_STRAT_FRACTIONS = {
    "click": 0.1,
    "view": 0.1,
    "error": 0.5,
    "purchase": 1.0,
    "signup": 1.0,
}
_STRAT_SPACE = 16**7
_STRAT_THRS = {k: int(v * _STRAT_SPACE) for k, v in _STRAT_FRACTIONS.items()}


def _strat_oracle_sql() -> str:
    from ..llm.prep import hex_bucket_sql

    bucket = hex_bucket_sql("md5(CAST(event_id AS VARCHAR))", 7)
    cases = " ".join(
        f"WHEN '{k}' THEN {thr}" for k, thr in sorted(_STRAT_THRS.items())
    )
    return f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled
    FROM events
    WHERE {bucket} < (CASE event_type {cases} ELSE 0 END)
    GROUP BY event_type
    """


@register("ext_sample_stratified", _strat_oracle_sql())
def ext_sample_stratified(spark, sf_dir):
    """Stratified sampling: per-stratum Bernoulli fractions — the
    training-data rebalancing idiom (downsample dominant event types,
    keep all rare ones). Re-specced (r7 verdict item 5) from seeded
    sampleBy (engine-specific RNG, rows-only forever) to per-stratum
    HASH thresholds: keep iff md5_bucket(event_id, 7) < frac_k * 16^7
    for the row's stratum k. Same contract as sampleBy, but the draw
    is a pure function of the key — reproducible across runs, engines,
    and cluster sizes (the resume-safe shape a 100 TB rebalance
    needs), so the oracle runs the identical hex arithmetic and the
    check is exact. The threshold rides a broadcast CASE over 5
    literals; no join, no shuffle before the rollup."""
    from ..llm.prep import md5_bucket

    e = _t(spark, sf_dir, "events")
    thr = F.lit(0)
    for k, t in sorted(_STRAT_THRS.items()):
        thr = F.when(F.col("event_type") == k, F.lit(t)).otherwise(thr)
    s = e.filter(md5_bucket(F.col("event_id"), 7) < thr)
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )


@register(
    "ext_approx_top_k",
    """
    SELECT word AS item, count(*) AS cnt FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      FROM documents
    ) GROUP BY word ORDER BY cnt DESC, item ASC LIMIT 5
    """,
)
def ext_approx_top_k(spark, sf_dir):
    """Heavy-hitters sketch (Spark 4 approx_top_k): mergeable
    frequency sketch — the cardinality-bounded path for 'top terms
    over 100 TB of text' where an exact word count's shuffle is the
    bottleneck. At this vocabulary size (31 synthetic words) the
    sketch is exact, so the ORACLE is the exact top-5 — on real heavy-
    tailed data the counts are approximate and the check would be an
    invariant instead."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("w")
    )
    top = words.agg(F.expr("approx_top_k(w, 5)").alias("tk")).select(
        F.explode("tk").alias("e")
    )
    return top.select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    ).orderBy(F.col("cnt").desc(), F.col("item").asc())


@register(
    "ext_funnel_conversion",
    """
    WITH ev AS (
      -- truncate to microseconds: Spark reads the nanos column as
      -- micros, so sub-microsecond components (none in current
      -- testdata, but possible in a future SF dir) must not decide
      -- strict comparisons only on the DuckDB side
      SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts FROM events
    ),
    v AS (
      SELECT user_id, min(ts) AS t0 FROM ev WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def ext_funnel_conversion(spark, sf_dir):
    """Ordered funnel analysis (view -> click -> purchase): each stage
    counts users whose earliest qualifying event strictly follows their
    previous stage's earliest event. Three filtered aggregates chained
    by equi-joins on user_id — every stage partial-aggregable, no
    window over the full event stream, no timestamp in the output (the
    nanos column stays internal)."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t0"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "ext_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_week FROM events
    )
    SELECT CAST(epoch(cohort_week) AS BIGINT) AS cohort_epoch,
           CAST((epoch(activity_week) - epoch(cohort_week)) // 604800 AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def ext_cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted per week offset they return in. Two aggregates + one
    equi-join on user_id; weeks are ISO date_trunc (cross-engine
    parity) and surface as epoch BIGINT (engine-portable). The classic
    product-analytics rollup, all partial-aggregable."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("activity_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            F.unix_timestamp("cohort_week").alias("cohort_epoch"),
            ((F.unix_timestamp("activity_week") - F.unix_timestamp("cohort_week")) / 604800)
            .cast("long")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_epoch", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "ext_data_profile",
    " UNION ALL ".join(
        f"""
    SELECT '{c}' AS col_name,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           min({c}) AS min_v, max({c}) AS max_v,
           round(avg({c}), 4) AS avg_r4
    FROM lineitem"""
        for c in _PROFILE_COLS
    ),
)
def ext_data_profile(spark, sf_dir):
    """Column profiling (null count, exact NDV, min/max, mean) for four
    measure columns in ONE aggregation over ONE scan: Spark plans the
    multi-column distinct aggregates with a single Expand (one shuffle,
    4x expanded rows) instead of four separate scans — the oracle IS
    the four-scan UNION ALL, proving the fused plan equivalent. The
    wide single agg row is then unpivoted to the long profile shape
    with stack() (driver-free, no collect)."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            F.round(F.avg(c), 4).alias(f"{c}__avg"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__ndv, {c}__min, {c}__max, {c}__avg"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) "
            "AS (col_name, n_nulls, n_distinct, min_v, max_v, avg_r4)"
        )
    )


@register(
    "ext_histogram",
    """
    SELECT CAST(CAST(round(value * 100) AS BIGINT) // 2500 AS INT) AS bucket,
           count(*) AS n, round(sum(value), 4) AS sum_v
    FROM events GROUP BY 1
    """,
)
def ext_histogram(spark, sf_dir):
    """Equi-width histogram (25.0-wide bins) over the reading value —
    binned on integer CENTS (round(value*100) then integer-divide), so
    bucket assignment is exact on both engines: a float width_bucket
    boundary (which DuckDB also lacks) can flip on the 1-ulp
    difference between v/25 and v*0.04 exactly at the decimal grid
    points the data lands on. Embarrassingly parallel partial
    aggregation; bucket count is range-bounded, not row-bounded."""
    e = _t(spark, sf_dir, "events")
    bucket = (
        F.expr("CAST(round(value * 100) AS BIGINT) div 2500").cast("int").alias("bucket")
    )
    return e.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_v")
    )


@register(
    "ext_fuzzy_levenshtein",
    """
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           levenshtein(a.src, b.src) AS dist
    FROM (SELECT DISTINCT lang, source AS src FROM documents) a
    JOIN (SELECT DISTINCT lang, source AS src FROM documents) b
      ON a.lang < b.lang AND levenshtein(a.src, b.src) <= 1
    """,
)
def ext_fuzzy_levenshtein(spark, sf_dir):
    """Fuzzy matching on edit distance: near-identical source labels
    across language slices (levenshtein <= 1) — the record-linkage
    primitive for dirty dimension data. The theta-join runs on the
    DISTINCT (lang, source) projection, so the pair space is
    dimension-bounded (|langs| x |sources|), never row-bounded: the
    pattern at 100 TB is dedupe-the-dim-first, then fuzzy-join the
    tiny distinct sets (broadcast both sides), never edit-distance
    over fact rows."""
    d = _t(spark, sf_dir, "documents")
    dims = d.select("lang", F.col("source").alias("src")).distinct()
    a = dims.alias("a")
    b = dims.alias("b")
    dist = F.levenshtein(F.col("a.src"), F.col("b.src"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.lang") < F.col("b.lang")) & (dist <= 1),
        )
        .select(
            F.col("a.lang").alias("lang_a"),
            F.col("b.lang").alias("lang_b"),
            dist.alias("dist"),
        )
    )


# per-stratum keep-fractions expressed as md5-bucket thresholds out of
# 4096 (3 hex digits): the deterministic twin of the RNG fractions in
# ext_sample_stratified {click/view: 0.1, error: 0.5, purchase/signup: 1.0}
_STRATA_THRESHOLDS = {"click": 410, "view": 410, "error": 2048, "purchase": 4096, "signup": 4096}


@register(
    "ext_sample_stratified_exact",
    """
    WITH b AS (
      SELECT event_id, event_type,
             ((strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(event_id AS VARCHAR)), 3, 1)) - 1)) AS bucket
      FROM events
    )
    SELECT event_id, event_type FROM b
    WHERE bucket < CASE event_type
        WHEN 'click' THEN 410 WHEN 'view' THEN 410 WHEN 'error' THEN 2048
        WHEN 'purchase' THEN 4096 WHEN 'signup' THEN 4096 ELSE 0 END
    """,
)
def ext_sample_stratified_exact(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum keep decision is
    a pure function of the row id (first 3 md5 hex digits < the
    stratum's threshold/4096), so the sample is reproducible across
    engines, runs, and retries — the property RNG sampleBy cannot give
    and exactly what a 100 TB training-data pipeline needs for
    auditable rebalancing. Embarrassingly parallel: no shuffle at all,
    the predicate evaluates per-row at the scan."""
    e = _t(spark, sf_dir, "events")
    bucket = md5_bucket(F.col("event_id"), n_digits=3)
    threshold = F.create_map(
        *[F.lit(x) for kv in _STRATA_THRESHOLDS.items() for x in kv]
    )[F.col("event_type")]
    return e.filter(bucket < F.coalesce(threshold, F.lit(0))).select(
        "event_id", "event_type"
    )


@register(
    "ext_grouped_zscore",
    """
    SELECT event_id, event_type,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events WHERE user_id < 30
    """,
)
def ext_grouped_zscore(spark, sf_dir):
    """Per-group z-score standardization (the grouped sibling of
    ref_zscore_standardize's global scaler): each value is centered
    and scaled by ITS OWN segment's moments via window aggregates —
    feature engineering that respects per-segment distributions, one
    type-keyed exchange, no second pass."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("event_type")
    return e.select(
        "event_id",
        "event_type",
        F.round(
            (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w),
            4,
        ).alias("z"),
    )


@register(
    "ext_dq_rule_report",
    """
    SELECT 'value_negative' AS rule,
           CAST(count(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_violations
    FROM events
    UNION ALL
    SELECT 'value_above_1000',
           CAST(count(CASE WHEN value > 1000 THEN 1 END) AS BIGINT) FROM events
    UNION ALL
    SELECT 'event_type_unknown',
           CAST(count(CASE WHEN event_type NOT IN
                ('click','view','purchase','signup','error') THEN 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'duplicate_event_id',
           CAST((SELECT count(*) - count(DISTINCT event_id) FROM events) AS BIGINT)
    UNION ALL
    SELECT 'ts_out_of_2024',
           CAST(count(CASE WHEN ts < TIMESTAMP '2024-01-01'
                            OR ts >= TIMESTAMP '2025-01-01' THEN 1 END) AS BIGINT)
    FROM events
    """,
)
def ext_dq_rule_report(spark, sf_dir):
    """Data-quality rule report: five contract rules (range bounds,
    domain membership, key uniqueness, timestamp window) evaluated as
    conditional aggregates and emitted as a (rule, violations) table
    — the expectations-suite shape (Great-Expectations-style) run as
    ONE scan plus a distinct-count, not one job per rule."""
    e = _t(spark, sf_dir, "events")
    agg = e.agg(
        F.count(F.when(F.col("value") < 0, 1)).alias("value_negative"),
        F.count(F.when(F.col("value") > 1000, 1)).alias("value_above_1000"),
        F.count(
            F.when(
                ~F.col("event_type").isin(
                    "click", "view", "purchase", "signup", "error"
                ),
                1,
            )
        ).alias("event_type_unknown"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "duplicate_event_id"
        ),
        F.count(
            F.when(
                (F.col("ts") < F.lit("2024-01-01").cast("timestamp"))
                | (F.col("ts") >= F.lit("2025-01-01").cast("timestamp")),
                1,
            )
        ).alias("ts_out_of_2024"),
    )
    rules = [
        "value_negative",
        "value_above_1000",
        "event_type_unknown",
        "duplicate_event_id",
        "ts_out_of_2024",
    ]
    stacked = ", ".join(f"'{r}', {r}" for r in rules)
    return agg.selectExpr(
        f"stack({len(rules)}, {stacked}) AS (rule, n_violations)"
    ).select("rule", F.col("n_violations").cast("long").alias("n_violations"))


@register(
    "ext_topn_other",
    """
    WITH counts AS (
      SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    ranked AS (
      SELECT event_type, n,
             row_number() OVER (ORDER BY n DESC, event_type) AS rnk
      FROM counts
    )
    SELECT CASE WHEN rnk <= 3 THEN event_type ELSE 'Other' END AS category,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(min(rnk) AS BIGINT) AS display_order
    FROM ranked
    GROUP BY CASE WHEN rnk <= 3 THEN event_type ELSE 'Other' END
    """,
)
def ext_topn_other(spark, sf_dir):
    """Top-N + 'Other' rollup — the pie-chart/legend query every BI
    layer generates: the 3 largest categories keep their names, the
    tail collapses into one bucket, with a deterministic display
    order. Rank runs over the tiny category domain; the heavy count is
    partial-aggregable."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = counts.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("n"), F.asc("event_type"))),
    )
    cat = F.when(F.col("rnk") <= 3, F.col("event_type")).otherwise(F.lit("Other"))
    return (
        ranked.groupBy(cat.alias("category"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.min("rnk").cast("long").alias("display_order"),
        )
    )


@register(
    "ext_sessionized_funnel",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    stages AS (
      SELECT user_id, sid,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t_purchase
      FROM sess GROUP BY user_id, sid
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_funnel
    FROM stages
    """,
)
def ext_sessionized_funnel(spark, sf_dir):
    """Funnel conversion WITHIN 30-minute sessions: view -> click ->
    purchase must occur in order INSIDE one session, not merely ever
    (the product-analytics question ext_funnel_conversion's
    whole-history form can't answer). Sessionization (gaps-and-
    islands) and the ordered-stage check (min event time per stage,
    strict ordering) run in one user-keyed sort window + one grouped
    conditional aggregate."""
    from pyspark.sql.window import Window

    from ..operators.windows import sessionized

    e = _t(spark, sf_dir, "events")
    s = sessionized(e, "user_id", "ts", 1800, tiebreak="event_id", precision="micros")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    stages = s.groupBy("user_id", "session_id").agg(
        F.min(F.when(F.col("event_type") == "view", t)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", t)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", t)).alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_view_click"),
        F.sum(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_full_funnel"),
    )


@register(
    "ext_benford_screen",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS d
      FROM events WHERE value >= 0.01
    ),
    counts AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM counts)
    SELECT d AS first_digit, n,
           round(n / total, 4) AS observed_share,
           round(log10(1.0 + 1.0 / d), 4) AS benford_share
    FROM counts CROSS JOIN tot
    """,
)
def ext_benford_screen(spark, sf_dir):
    """Benford first-digit screening: observed vs theoretical
    log10(1 + 1/d) first-digit shares of the value column — the audit
    pass fraud/data-quality teams run over money-like columns.
    First digit extracted from exact integer cents (no float
    formatting ambiguity); digit domain is 1-9, so everything after
    the scan is constant-size."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") >= 0.01)
    d = F.substring(
        F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    counts = e.select(d.alias("d")).groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").cast("double").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        "n",
        F.round(F.col("n") / F.col("total"), 4).alias("observed_share"),
        F.round(F.log10(1.0 + 1.0 / F.col("d")), 4).alias("benford_share"),
    )


@register(
    "ext_attribution_first_touch",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    touches AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             first(v.event_id ORDER BY v.ts, v.event_id) AS first_view_id
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.ts >= p.ts - INTERVAL 24 HOUR AND v.ts < p.ts
      GROUP BY p.event_id, p.user_id
    )
    SELECT purchase_id, user_id, first_view_id FROM touches
    """,
)
def ext_attribution_first_touch(spark, sf_dir):
    """First-touch attribution: for each purchase, the EARLIEST view
    in the 24 hours before it — the credit-assignment query marketing
    warehouses run nightly (last-touch is ext_asof_join; this is its
    windowed-min sibling, and unlike as-of it needs the bounded range
    join + min, not a carried value). The join is user-keyed with a
    time-range predicate bounding state; min_by gives the earliest
    view deterministically (event_id tiebreak via struct ordering)."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("v_ts") < F.col("p_ts")),
    )
    return (
        joined.groupBy("purchase_id", "user_id")
        .agg(F.min(F.struct("v_ts", "view_id")).alias("first"))
        .select("purchase_id", "user_id", F.col("first.view_id").alias("first_view_id"))
    )


@register(
    "ext_skew_metrics",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows,
           round(quantile_cont(c::DOUBLE, 0.5), 4) AS p50_rows,
           round(quantile_cont(c::DOUBLE, 0.99), 4) AS p99_rows,
           round(max(c) / avg(c), 4) AS skew_factor
    FROM per_key
    """,
)
def ext_skew_metrics(spark, sf_dir):
    """Join-key skew diagnostics (the pre-flight check before
    partitioning a 100 TB join): per-key cardinality distribution and
    the max/avg skew factor that decides between a plain shuffle, AQE
    skew handling, and an explicit salt. One partial-aggregable count
    plus a key-bounded percentile pass."""
    e = _t(spark, sf_dir, "events")
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").cast("long").alias("max_rows"),
        F.round(F.percentile(F.col("c").cast("double"), F.lit(0.5)), 4).alias(
            "p50_rows"
        ),
        F.round(F.percentile(F.col("c").cast("double"), F.lit(0.99)), 4).alias(
            "p99_rows"
        ),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_factor"),
    )


@register(
    "ext_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, med.med,
             quantile_cont(abs(e.value - med.med), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      GROUP BY e.event_type, med.med
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN abs(e.value - mad.med)
                              > 3 * 1.4826 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(mad.med, 4) AS median_value,
           round(mad.mad, 4) AS mad_value
    FROM events e JOIN mad USING (event_type)
    GROUP BY e.event_type, mad.med, mad.mad
    """,
)
def ext_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation (the
    3-sigma rule with median/MAD instead of mean/stddev, x1.4826
    normal-consistency factor) — the anomaly flagger that survives the
    very outliers it hunts, the exactly-checkable complement to the
    reference's IsolationForest (ml_kmeans_anomaly is the model-based
    path; this is the closed-form path). Two grouped exact-percentile
    passes plus a broadcast threshold join; category-bounded state."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad"))
    )
    flagged = e.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
    ).select(
        "event_type",
        "n",
        "n_outliers",
        F.round("med", 4).alias("median_value"),
        F.round("mad", 4).alias("mad_value"),
    )


@register(
    "ext_crosstab",
    """
    SELECT event_type AS event_type_hi,
           CAST(sum(CASE WHEN value < 100 THEN 1 ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS hi
    FROM events GROUP BY event_type
    """,
)
def ext_crosstab(spark, sf_dir):
    """df.stat.crosstab: the pairwise contingency table (event type x
    value band) — the first table an analyst prints before a chi-square
    test. crosstab's output column names are the RHS values themselves;
    they're projected to fixed names so the schema is stable for the
    driver regardless of value order."""
    e = _t(spark, sf_dir, "events").withColumn(
        "band", F.when(F.col("value") >= 100, "hi").otherwise("lo")
    )
    ct = e.stat.crosstab("event_type", "band")
    return ct.select(
        F.col("event_type_band").alias("event_type_hi"),
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )


@register(
    "ext_grouped_median",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS median_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_grouped_median(spark, sf_dir):
    """Exact percentiles as GROUPED aggregates (median + p90 per
    event type) — the per-segment latency/size SLO readout. Exact
    percentile (not approx) matches DuckDB's quantile_cont
    interpolation; the grouped form is partial-aggregable by
    partition, unlike a global sort."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "ext_hll_sketch_merge",
    """
    SELECT count(DISTINCT event_id) AS n_exact,
           true AS merged_within_5pct,
           true AS direct_within_5pct
    FROM events
    """,
)
def ext_hll_sketch_merge(spark, sf_dir):
    """Re-aggregable distinct-count sketches (Spark 4 Apache
    DataSketches HLL): per-shard sketches merged with hll_union_agg
    answer the same global NDV a direct single-pass sketch does — the
    property that lets a 100 TB rollup keep pre-aggregated sketch
    columns per partition. Merged and direct estimates are NOT
    bit-identical (union promotes sparse shard sketches into a dense
    target, so register states differ — measured 0.2-2.9% from exact
    across sf0.001-0.1); both must land within the 5% band (~3 sigma
    at lgConfigK=12), computed in-query with the oracle pinning the
    invariants true alongside the exact NDV."""
    e = _t(spark, sf_dir, "events")
    shard = e.withColumn("g", F.col("user_id") % 8)
    per_shard = shard.groupBy("g").agg(
        F.hll_sketch_agg("event_id").alias("sk")
    )
    merged = per_shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    direct = e.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("event_id")).alias("direct_est"),
        F.countDistinct("event_id").alias("n_exact"),
    )
    return (
        direct.crossJoin(F.broadcast(merged))
        .select(
            "n_exact",
            (
                F.abs(F.col("merged_est") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("merged_within_5pct"),
            (
                F.abs(F.col("direct_est") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("direct_within_5pct"),
        )
    )


@register(
    "ext_observation_metrics",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(CASE WHEN l_discount > 0.05 THEN 1 END) AS BIGINT)
             AS n_discounted
    FROM lineitem WHERE l_quantity > 25
    """,
)
def ext_observation_metrics(spark, sf_dir):
    """Spark Observation API: named accumulator-backed metrics
    collected DURING a query's execution (df.observe) — the
    zero-extra-pass row-count / data-quality counters a production
    pipeline attaches to every write job. The observed metrics are
    returned as a 1-row DataFrame and must equal the oracle's
    recomputation, proving the in-flight metrics see exactly the rows
    the query processed (no sampling, no approximation)."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 25)
    obs = Observation("etl_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_cents"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["sum_cents"], m["n_discounted"])],
        "n_rows bigint, sum_cents bigint, n_discounted bigint",
    )


@register(
    "ext_equiheight_histogram",
    """
    WITH base AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    bounds AS (
      SELECT [round(quantile_cont(cents, 0.1), 4), round(quantile_cont(cents, 0.2), 4),
              round(quantile_cont(cents, 0.3), 4), round(quantile_cont(cents, 0.4), 4),
              round(quantile_cont(cents, 0.5), 4), round(quantile_cont(cents, 0.6), 4),
              round(quantile_cont(cents, 0.7), 4), round(quantile_cont(cents, 0.8), 4),
              round(quantile_cont(cents, 0.9), 4)] AS bs
      FROM base
    )
    SELECT CAST(len(list_filter(bs, b -> cents > b)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM base CROSS JOIN bounds
    GROUP BY 1
    """,
)
def ext_equiheight_histogram(spark, sf_dir):
    """Equi-HEIGHT (equi-depth) decile histogram — the optimizer-stats
    companion to the equi-width ext_histogram: exact decile boundaries,
    then bucket = how many rounded boundaries the value exceeds,
    computed against a literal boundary array — no second sort per
    row. Values are integer cents so bucket edges can't sit on a float
    ulp. Since r9 the boundaries come from a VALUE ROLLUP + cumulative
    -rank walk instead of Spark's exact percentile() aggregate: that
    aggregate buffers a per-partition counts map of every distinct
    value with NO spill path, and the full 10x sweep caught it OOMing
    the executor JVM at 6M rows x 583k distinct cents (BufferHolder
    .grow heap death — the r9 sweep's one real at-scale find; row
    count corrected r11, see SCALE.md's r10 bookkeeping note). The
    rollup shape is spill-safe end to end: groupBy(cents) is partial-
    aggregable, and since r14 the cumulative count is the DISTRIBUTED
    two-phase prefix sum (operators/prefix.py, fixed-width integer
    buckets — parallel per-bucket cumsum, metadata-sized offsets
    walk) instead of a partitionless ORDER BY cents window whose
    Exchange SinglePartition funneled every distinct value through
    one task; the row count n rides the same offsets frame
    (total_col), with the decile ranks floor(p*(n-1))+1 expressed
    against the n column, so the 18 order statistics AND n still
    come back in ONE bounded 1-row collect (one lineitem scan; the r9
    shape paid a separate base.count() job first, ADVICE r9).
    Interpolation lo + (hi-lo)*(pos-floor(pos)) replays DuckDB
    quantile_cont's formula (the oracle) in IEEE doubles; Spark's
    retired percentile() computes the algebraically-equal
    (ceil-pos)*lo + (pos-floor)*hi, up to 1 ulp apart, and the
    round(...,4) grid absorbs that difference (integer cents keep the
    inputs themselves exact). At 100 TB the exact walk becomes
    approx_percentile; the assignment side is unchanged."""
    import math

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"))
    # cents is unique after the rollup, so the distributed prefix sum
    # equals the global-window cumsum exactly (integer counts). cents
    # is an INTEGER key, so the fixed-width bucket path applies: no
    # sampling job, <= 65536 distinct values per bucket, and the
    # offsets/total walk runs over the ~160-row bucket totals.
    # The (cents, cnt) rollup is a LAZY localCheckpoint materialized
    # as a side effect of the stats collect below, and the ASSIGNMENT
    # side then reads the checkpointed rollup instead of re-scanning
    # lineitem — bucket, n_rows = sum(cnt), and min/max cents are all
    # functions of the rollup alone: one parquet scan end-to-end, while
    # the materialized rollup is domain-bounded (the qty x retail-price
    # grid). Measurements: OPTIMIZATION_r14.md.
    from ..operators.ckpt import attributed, lazy_checkpoint
    from ..operators.prefix import with_running_total

    rollup = lazy_checkpoint(
        base.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = with_running_total(
        rollup, "cents", "cnt", out_col="cum", total_col="n", bucket_width=65536
    )
    # rank of the lo/hi order statistics for decile p, as expressions
    # over the in-frame total n: pos = (p/10)*(n-1) (same JVM double
    # arithmetic the driver-side replay below uses), lo rank =
    # floor(pos)+1, hi rank = min(floor(pos)+1, n-1)+1. cum is
    # monotone in cents, so min(cents where cum >= rank) IS the
    # rank-th order statistic.
    aggs = []
    for p in range(1, 10):
        k = F.floor(F.lit(p / 10) * (F.col("n") - F.lit(1)).cast("double"))
        aggs.append(
            F.min(F.when(F.col("cum") >= k + 1, F.col("cents"))).alias(f"lo{p}")
        )
        aggs.append(
            F.min(
                F.when(F.col("cum") >= F.least(k + 2, F.col("n")), F.col("cents"))
            ).alias(f"hi{p}")
        )
    aggs.append(F.min("n").alias("n"))
    stats_df = cum.agg(*aggs)
    (row,), _ck_ids = attributed(spark, lambda: stats_df.collect())
    note_live(_ck_ids)  # rollup blocks back the returned plan
    plancap.note(stats_df)  # construction-time plan (no-op unless auditing)
    n = int(row["n"])
    bs = []
    for p in range(1, 10):
        pos = (p / 10) * (n - 1)
        k = int(math.floor(pos))
        lo, hi = float(row[f"lo{p}"]), float(row[f"hi{p}"])
        bs.append(lo + (hi - lo) * (pos - k))  # quantile_cont's formula
    bounds = F.array(*[F.round(F.lit(b), 4) for b in bs])
    assigned = rollup.select(
        F.size(F.filter(bounds, lambda b: F.col("cents") > b))
        .cast("long")
        .alias("bucket"),
        "cents",
        "cnt",
    )
    return assigned.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


_BLOOM_H1 = hex_bucket_sql("md5(CAST(o_custkey AS VARCHAR))", 4)
_BLOOM_H2 = hex_bucket_sql("md5('b2|' || CAST(o_custkey AS VARCHAR))", 4)


@register(
    "ext_bloom_prefilter_join",
    f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000
    ),
    khash AS (
      SELECT o_custkey, {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM keys
    ),
    bits AS (
      SELECT h // 32 AS word, CAST(1 AS BIGINT) << (h % 32) AS v
      FROM (SELECT h1 AS h FROM khash UNION ALL SELECT h2 FROM khash)
    ),
    bloom AS (SELECT word, bit_or(v) AS bits FROM bits GROUP BY word),
    probe AS (
      SELECT o.o_custkey, {_BLOOM_H1} AS h1, {_BLOOM_H2} AS h2 FROM orders o
    ),
    flagged AS (
      SELECT p.o_custkey,
             CASE WHEN coalesce(b1.bits >> (p.h1 % 32), 0) % 2 = 1
                   AND coalesce(b2.bits >> (p.h2 % 32), 0) % 2 = 1
                  THEN 1 ELSE 0 END AS cand,
             CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM probe p
      LEFT JOIN bloom b1 ON b1.word = p.h1 // 32
      LEFT JOIN bloom b2 ON b2.word = p.h2 // 32
      LEFT JOIN keys k ON k.o_custkey = p.o_custkey
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cand) AS BIGINT) AS n_candidates,
           CAST(sum(hit) AS BIGINT) AS n_true,
           round((sum(cand) - sum(hit))
                 / CAST(count(*) - sum(hit) AS DOUBLE), 6) + 0 AS fp_rate
    FROM flagged
    """,
)
def ext_bloom_prefilter_join(spark, sf_dir):
    """Hand-rolled Bloom-filter join pre-filter — the manual form of the
    runtime filter a cluster injects for selective joins (Spark's
    spark.sql.optimizer.runtime.bloomFilter; bloom_filter_agg is not
    SQL-exposed in this build, so the filter is built from integer md5
    bit arithmetic, which also makes it exactly oracle-checkable). The
    key set (high-value urgent customers) collapses to a 64 Kib bloom:
    2 hash positions per key, words built by a partial-aggregable
    bit_or groupBy into <= 2048 (word, bits) rows that BROADCAST to the
    fact scan. Each fact row probes two broadcast-joined words with
    shift/mask arithmetic; only candidates would reach the exact join.
    At 100 TB the pre-filter drops ~(1-sel)*(1-fp) of fact bytes before
    the shuffle — the reported fp_rate (~5% at this load factor) is the
    knob the m/k sizing controls. The final exact semi-join keeps
    correctness independent of fp_rate; counts here prove both the
    candidate arithmetic and the no-false-negative invariant
    (n_true <= n_candidates always)."""
    orders = _t(spark, sf_dir, "orders")
    keys = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
        )
        .select("o_custkey")
        .distinct()
    )
    h1 = md5_bucket(F.col("o_custkey"), 4)
    h2 = md5_bucket(F.concat(F.lit("b2|"), F.col("o_custkey").cast("string")), 4)
    khash = keys.select("o_custkey", h1.alias("h1"), h2.alias("h2"))
    bits = (
        khash.select(F.col("h1").alias("h"))
        .unionAll(khash.select(F.col("h2").alias("h")))
        .selectExpr("h DIV 32 AS word", "shiftleft(CAST(1 AS BIGINT), h % 32) AS v")
    )
    bloom = bits.groupBy("word").agg(F.expr("bit_or(v)").alias("bits"))
    probe = orders.select("o_custkey", h1.alias("h1"), h2.alias("h2"))
    b1 = bloom.selectExpr("word AS w1", "bits AS bits1")
    b2 = bloom.selectExpr("word AS w2", "bits AS bits2")
    kmark = keys.select(F.col("o_custkey").alias("k_custkey"), F.lit(1).alias("hit1"))
    flagged = (
        probe.join(F.broadcast(b1), F.expr("w1 = h1 DIV 32"), "left")
        .join(F.broadcast(b2), F.expr("w2 = h2 DIV 32"), "left")
        .join(F.broadcast(kmark), F.col("k_custkey") == F.col("o_custkey"), "left")
        .selectExpr(
            "CASE WHEN coalesce(bits1 >> (h1 % 32), 0) % 2 = 1"
            " AND coalesce(bits2 >> (h2 % 32), 0) % 2 = 1 THEN 1 ELSE 0 END AS cand",
            "coalesce(hit1, 0) AS hit",
        )
    )
    stats = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cand").cast("long").alias("n_candidates"),
        F.sum("hit").cast("long").alias("n_true"),
    )
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return stats.crossJoin(F.broadcast(nk)).selectExpr(
        "n_keys",
        "n_rows",
        "n_candidates",
        "n_true",
        "round((n_candidates - n_true) / CAST(n_rows - n_true AS DOUBLE), 6) + 0"
        " AS fp_rate",
    )


# Count-Min sketch geometry: d=4 rows (seeds), w=64 columns. Portable
# row hash: first 8 hex chars of md5(seed || ':' || key) as an integer,
# mod w — byte-identical on Spark and DuckDB, so the sketch itself is
# cross-engine exact, not just the estimates.
_CMS_D = 4
_CMS_W = 64


def _cms_b(seed: int, key_col):
    """Portable CMS row hash (Spark side): first 8 hex chars of
    md5(seed:key) as an integer, mod w — mirrors _cms_bucket_sql."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), key_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


def _cms_bucket_sql(seed: int, key_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('{seed}:' || CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {_CMS_W})"
    )


@register(
    "ext_count_min_sketch",
    f"""
    WITH cells AS (
      SELECT seed, bucket, count(*) AS c FROM (
        SELECT u.seed,
               CASE u.seed
                 {' '.join(f"WHEN {s} THEN {_cms_bucket_sql(s, 'user_id')}" for s in range(_CMS_D))}
               END AS bucket
        FROM events CROSS JOIN (SELECT unnest(range({_CMS_D})) AS seed) u
      ) GROUP BY seed, bucket
    ),
    probes AS (
      SELECT user_id AS probe, count(*) AS exact_n
      FROM events GROUP BY user_id ORDER BY exact_n DESC, probe ASC LIMIT 20
    ),
    fanned_probes AS (
      SELECT p.probe, p.exact_n, u.seed,
             CASE u.seed
               {' '.join(f"WHEN {s} THEN {_cms_bucket_sql(s, 'p.probe')}" for s in range(_CMS_D))}
             END AS bucket
      FROM probes p CROSS JOIN (SELECT unnest(range({_CMS_D})) AS seed) u
    ),
    est AS (
      SELECT fp.probe, fp.exact_n, min(c.c) AS cms_estimate
      FROM fanned_probes fp JOIN cells c USING (seed, bucket)
      GROUP BY fp.probe, fp.exact_n
    )
    SELECT probe, exact_n, cms_estimate,
           CAST(cms_estimate >= exact_n AS BOOLEAN) AS never_undercounts
    FROM est
    """,
)
def ext_count_min_sketch(spark, sf_dir):
    """Count-Min sketch frequency estimation with a portable md5 row
    hash: build a d=4 x w=64 sketch over events.user_id with one
    partial-aggregable groupBy (the seed fan-out is a 4x row explode
    that collapses to 256 cells map-side), then answer the top-20
    heavy-hitter probes as min-over-rows of their cells. The output
    carries the exact count next to the estimate plus the CMS
    one-sided-error invariant (estimate >= truth, always true by
    construction — checked per row, not assumed). Scale shape: the
    sketch is 256 cells regardless of input rows — THE mergeable
    pre-aggregate for per-key counts at 100 TB (cells add across
    shards/days); probes ride a broadcast join against those cells.
    Reference analog: none — the approximate companion to
    project/db.py:343's exact count-distinct family."""
    e = _t(spark, sf_dir, "events")
    # seed fan-out as a narrow Generate (explode of a 4-element literal
    # array) — no join operator at all, stays inside codegen
    seed_arr = F.array(*[F.lit(s) for s in range(_CMS_D)])
    fanned = e.select("user_id", F.explode(seed_arr).alias("seed"))
    # CASE keyed on seed so Spark and the SQL enumerate identically
    cases = F.when(F.col("seed") == 0, _cms_b(0, F.col("user_id")))
    for s in range(1, _CMS_D):
        cases = cases.when(F.col("seed") == s, _cms_b(s, F.col("user_id")))
    cells = (
        fanned.select("seed", cases.alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probes = (
        e.groupBy(F.col("user_id").alias("probe"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("probe").asc())
        .limit(20)
    )
    pcases = F.when(F.col("seed") == 0, _cms_b(0, F.col("probe")))
    for s in range(1, _CMS_D):
        pcases = pcases.when(F.col("seed") == s, _cms_b(s, F.col("probe")))
    # fan the 20 probes over the 4 seeds so the lookup is a plain
    # (seed, bucket) equi-join — broadcast hash join, not a nested loop
    fanned_probes = probes.select(
        "probe", "exact_n", F.explode(seed_arr).alias("seed")
    ).select("probe", "exact_n", "seed", pcases.alias("bucket"))
    est = (
        cells.join(F.broadcast(fanned_probes), ["seed", "bucket"])
        .groupBy("probe", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "probe",
        "exact_n",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_n")).alias("never_undercounts"),
    )


@register(
    "ext_skyline_pareto",
    """
    WITH pairs AS (
      SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size,
             count(*) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT p.price_cents, p.size, CAST(p.n_parts AS BIGINT) AS n_parts
    FROM pairs p
    WHERE NOT EXISTS (
      SELECT 1 FROM pairs q
      WHERE q.price_cents <= p.price_cents AND q.size >= p.size
        AND (q.price_cents < p.price_cents OR q.size > p.size)
    )
    """,
)
def ext_skyline_pareto(spark, sf_dir):
    """Skyline (Pareto frontier) of parts: the (price, size) pairs not
    dominated by any cheaper-and-at-least-as-big alternative — the
    classic multi-criteria OLAP operator Spark has no built-in for.
    The engine side is the sort-based skyline: collapse to distinct
    pairs (partial-aggregable), keep the max size per price level,
    then ONE running-max window ordered by price — a pair survives iff
    its size strictly exceeds every strictly-cheaper level's best.
    O(|distinct prices|) after the first groupBy; the ORACLE is the
    textbook quadratic NOT EXISTS, and that asymmetry is the point:
    the distributed plan never goes O(n^2) (the same
    candidate-bounding discipline as the LSH dedup stack). Dominance
    runs on exact integer cents/sizes, so the frontier is unambiguous
    cross-engine. Reference analog: none."""
    p = _t(spark, sf_dir, "part")
    pairs = p.groupBy(
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    best = pairs.groupBy("price_cents").agg(F.max("size").alias("smax"))
    w = Window.orderBy("price_cents").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        best.select(
            F.col("price_cents").alias("f_price"),
            F.col("smax"),
            F.max("smax").over(w).alias("prev_max"),
        )
        .filter(F.col("prev_max").isNull() | (F.col("smax") > F.col("prev_max")))
        .select("f_price", "smax")
    )
    return (
        pairs.join(
            frontier,
            (pairs.price_cents == frontier.f_price)
            & (pairs.size == frontier.smax),
        )
        .select("price_cents", "size", "n_parts")
    )


@register(
    "ext_mode_aggregate",
    """
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           first(cents ORDER BY cnt DESC, cents ASC) AS mode_cents,
           CAST(first(cnt ORDER BY cnt DESC, cents ASC) AS BIGINT) AS mode_count,
           CAST(count(*) AS BIGINT) AS n_distinct
    FROM c GROUP BY event_type
    """,
)
def ext_mode_aggregate(spark, sf_dir):
    """Statistical mode per group with a PINNED tie rule (highest
    count, then smallest value) — both engines ship a native mode()
    whose tie choice is unspecified/engine-dependent, so the portable
    formulation is the count-then-argmax: one partial-aggregable
    groupBy collapses the facts to (group, value, count), then a
    per-group WindowGroupLimit top-1 picks deterministically. Scale
    shape: the candidate table is bounded by distinct (group, value)
    pairs; nothing data-sized past the first combine. Reference
    analog: none (its aggregates stop at min/max/avg/count,
    project/db.py:331-339)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("cents").asc()
    )
    nd = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
    top = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("cents").alias("mode_cents"),
            F.col("cnt").cast("long").alias("mode_count"),
        )
    )
    return top.join(nd, "event_type")


@register(
    "ext_approx_top_k_sketch_merge",
    """
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    )
    SELECT w AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM words GROUP BY w
    ORDER BY cnt DESC, item ASC LIMIT 5
    """,
)
def ext_approx_top_k_sketch_merge(spark, sf_dir):
    """Mergeable heavy-hitters: per-SOURCE partial approx_top_k
    sketches accumulated in one pass, COMBINED into a single sketch,
    then estimated — the Spark-4 accumulate/combine/estimate API that
    makes the frequency sketch re-aggregable exactly like a rollup
    partial (the 100 TB shape: each shard/day keeps a tiny sketch,
    the global top-k is a combine over sketches, and NO re-scan of
    history is ever needed — the sketch sibling of
    ext_incremental_rollup). At this vocabulary (31 synthetic words,
    sketch capacity 64 >> vocab) the estimates are EXACT, so the
    oracle is the exact top-5; the top-10 estimate is re-sorted with
    the (count desc, item asc) tiebreak before the cut so boundary
    ties are pinned. On heavy-tailed data the check would become an
    invariant (estimate >= true count - error bound) instead."""
    d = _t(spark, sf_dir, "documents")
    from ..llm.textstats import words_col

    words = d.select(
        "source", F.explode(words_col(F.col("text"))).alias("w")
    )
    partial = words.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(w, 64)").alias("sk")
    )
    combined = partial.agg(F.expr("approx_top_k_combine(sk, 64)").alias("sk"))
    est = combined.select(
        F.explode(F.expr("approx_top_k_estimate(sk, 10)")).alias("e")
    ).select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
    return est.orderBy(F.desc("cnt"), F.asc("item")).limit(5)


@register(
    "ext_bitmap_distinct",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    """,
)
def ext_bitmap_distinct(spark, sf_dir):
    """EXACT distinct-user counts via Spark's bitmap aggregate family
    — the mergeable warehouse pattern that replaces count(DISTINCT)
    at scale: map side builds per-(event_type, bucket) bitmaps
    (bitmap_construct_agg of bitmap_bit_position, buckets of 32768
    ids), counts are sums of per-bucket popcounts, and the GLOBAL
    distinct does NOT rescan the data — it OR-merges (bitmap_or_agg)
    the same per-bucket bitmaps across event types. The oracle is
    plain count(DISTINCT): the bitmap path must reproduce it exactly.
    Scale shape: state is bounded by |id-space|/8 bytes spread across
    buckets (shuffle key = (group, bucket), so no single reducer holds
    a giant sketch) — contrast ext_approx_count_distinct (HLL, approx)
    and ext_hll_sketch_merge: this one is exact AND mergeable.
    Reference analog: project/db.py count-distinct rows (registry row
    21) re-expressed as mergeable state."""
    e = _t(spark, sf_dir, "events").select("event_type", "user_id")
    bm = e.groupBy(
        "event_type",
        F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
            "bm"
        )
    )
    per_type = bm.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_users")
    )
    merged = (
        bm.groupBy("bucket")
        .agg(F.expr("bitmap_count(bitmap_or_agg(bm))").alias("c"))
        .agg(F.sum("c").cast("long").alias("n_users"))
        .select(F.lit("__all__").alias("event_type"), "n_users")
    )
    return per_type.unionByName(merged)


# Named segment from quintile scores: evaluated top-down, identical
# CASE in both engines.
_SEGMENT_CASE = """
    CASE
      WHEN r >= 4 AND f >= 4 THEN 'loyal_recent'
      WHEN r >= 4 THEN 'recent'
      WHEN r <= 2 AND m >= 4 THEN 'at_risk_big_spender'
      WHEN r <= 2 THEN 'lapsed'
      ELSE 'core'
    END
"""


@register(
    "ext_rfm_segmentation",
    f"""
    WITH base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             count(*) AS frequency,
             sum({_CENTS.format(col="o_totalprice")}) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey,
             ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS r,
             ntile(5) OVER (ORDER BY frequency ASC, custkey) AS f,
             ntile(5) OVER (ORDER BY monetary_cents ASC, custkey) AS m,
             monetary_cents
      FROM base
    )
    SELECT {_SEGMENT_CASE} AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents,
           CAST(sum(monetary_cents) AS DOUBLE) / count(*) AS avg_monetary_cents
    FROM scored
    GROUP BY 1 ORDER BY segment
    """,
)
def ext_rfm_segmentation(spark, sf_dir):
    """RFM (Recency/Frequency/Monetary) segmentation — the canonical
    warehouse customer-value rollup. Quintile scores come from
    `ntile(5)` under a TOTAL order (metric, custkey tiebreak), so the
    bucketing is deterministic cross-engine (both implement standard
    SQL ntile: earlier buckets absorb the remainder). Monetary is
    exact half-up cents. Scale: one groupBy(custkey) shuffle, then
    three window passes over the customer-grain table (1/40 of
    orders) — the ntile total sort is the only global order, and it
    runs on the aggregated grain, never on raw orders. At 100 TB the
    customer grain is still ~1e9 rows; ntile's single-partition sort
    would bottleneck, so the production path would swap ntile for a
    percentile-bucketed score (approx quantile boundaries broadcast
    back) — noted here, exact ntile kept for oracle parity.
    Reference analog: none (extends ext_cohort_retention family)."""
    orders = _t(spark, sf_dir, "orders")
    maxd = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    base = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.expr(_CENTS.format(col="o_totalprice"))).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "custkey",
            F.datediff(F.col("gmax"), F.col("lastd")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = base.select(
        "custkey",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy(F.desc("recency_days"), F.asc("custkey"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.asc("frequency"), F.asc("custkey"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.asc("monetary_cents"), F.asc("custkey"))).alias("m"),
    )
    return (
        scored.groupBy(F.expr(_SEGMENT_CASE).alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("monetary_cents"),
            (F.sum("monetary_cents").cast("double") / F.count(F.lit(1))).alias(
                "avg_monetary_cents"
            ),
        )
        .orderBy("segment")
    )


@register(
    "ext_abc_classification",
    f"""
    WITH rev AS (
      SELECT l_partkey AS partkey,
             sum({_CENTS.format(col="l_extendedprice * (1 - l_discount)")})
               AS rev_cents
      FROM lineitem GROUP BY l_partkey
    ),
    cum AS (
      SELECT partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
             (SELECT sum(rev_cents) FROM rev) AS total_cents
      FROM rev
    )
    SELECT CASE WHEN cum_cents * 5 <= total_cents * 4 THEN 'A'
                WHEN cum_cents * 20 <= total_cents * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev_cents) AS BIGINT) AS class_cents,
           CAST(sum(rev_cents) AS DOUBLE)
             / (SELECT CAST(total_cents AS DOUBLE) FROM cum LIMIT 1)
             AS revenue_share
    FROM cum GROUP BY 1 ORDER BY abc_class
    """,
)
def ext_abc_classification(spark, sf_dir):
    """ABC (Pareto 80/95) inventory classification by cumulative
    revenue share. Per-part revenue reduces to exact half-up cents at
    the row; the cumulative sum runs under a TOTAL order
    (rev DESC, partkey) in exact BIGINT; class boundaries are integer
    cross-multiplications (cum*5 <= total*4 is cum/total <= 0.80 with
    no float), so the A/B/C split is bit-exact at any SF. Scale: one
    groupBy(partkey) shuffle collapses lineitem to the part grain
    (200× smaller); the running sum is a single-partition window over
    that grain — at 100 TB you'd range-partition by rev_cents and
    broadcast per-range offsets (the llm_pack_sequences distributed
    prefix-sum pattern), noted in-line. Reference analog: none
    (extends ext_topn_other / ml_gini_lorenz family)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.expr(_CENTS.format(col="l_extendedprice * (1 - l_discount)"))
            ).alias("rev_cents")
        )
    )
    total = rev.agg(F.sum("rev_cents").alias("total_cents"))
    w = (
        Window.orderBy(F.desc("rev_cents"), F.asc("partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum_cents", F.sum("rev_cents").over(w)).crossJoin(
        F.broadcast(total)
    )
    cls = F.when(F.col("cum_cents") * 5 <= F.col("total_cents") * 4, "A").otherwise(
        F.when(F.col("cum_cents") * 20 <= F.col("total_cents") * 19, "B").otherwise("C")
    )
    return (
        cum.groupBy(cls.alias("abc_class"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev_cents").cast("long").alias("class_cents"),
            (
                F.sum("rev_cents").cast("double")
                / F.max(F.col("total_cents").cast("double"))
            ).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


@register(
    "ext_entity_blocking_fuzzy",
    """
    WITH names AS (
      SELECT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS block,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name
    )
    SELECT a.block, a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.block = b.block AND a.name < b.name
     AND levenshtein(a.name, b.name) <= 5
    ORDER BY a.block, name_a, name_b
    """,
)
def ext_entity_blocking_fuzzy(spark, sf_dir):
    """Blocked entity resolution on part names: block on the trailing
    noun (regexp_extract — same function and RE2-safe pattern both
    engines), compare with Levenshtein ONLY within blocks, keep pairs
    at edit distance <= 5 — the record-linkage architecture where
    blocking turns an O(n^2) similarity join into per-block
    adjective^2 work on the DISTINCT name dimension (the
    ext_fuzzy_levenshtein doctrine: dedupe the dim first, fuzzy-join
    the tiny distinct sets, never edit-distance over fact rows).
    All-integer outputs. Scale: the name dimension is
    vocabulary-bounded; blocks broadcast. Reference analog: none
    (extends ext_fuzzy_levenshtein with the blocking stage)."""
    names = (
        _t(spark, sf_dir, "part")
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn("block", F.regexp_extract(F.col("name"), "([a-z]+)$", 1))
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name"))
            & (dist <= 5),
        )
        .select(
            F.col("a.block").alias("block"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            dist.cast("long").alias("edit_dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
        .orderBy("block", "name_a", "name_b")
    )


@register(
    "ext_approx_quantile_sketch_merge",
    """
    WITH d AS (
      SELECT l_suppkey % 8 AS shard,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x
      FROM lineitem
    ),
    b AS (
      SELECT shard,
             (length(bin(x)) - 1) * 8
               + ((x >> (length(bin(x)) - 4)) % 8) AS bucket
      FROM d
    ),
    partial AS (
      SELECT shard, bucket, CAST(count(*) AS BIGINT) AS c
      FROM b GROUP BY shard, bucket
    ),
    combined AS (
      SELECT bucket, CAST(sum(c) AS BIGINT) AS c FROM partial GROUP BY bucket
    ),
    cum AS (
      SELECT bucket, c, CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum
      FROM combined
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM combined),
    qs AS (SELECT CAST(q AS DOUBLE) AS q
           FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
    hit AS (
      SELECT qs.q, tot.n, min(cum.bucket) AS bucket
      FROM qs CROSS JOIN tot
        JOIN cum ON cum.cum >= CAST(ceil(qs.q * tot.n) AS BIGINT)
      GROUP BY qs.q, tot.n
    )
    SELECT q,
           CAST(bucket AS INTEGER) AS bucket,
           CAST((8 + bucket % 8) AS BIGINT) << (bucket // 8 - 3)
             AS est_cents_lb,
           n,
           CAST(0.125 AS DOUBLE) AS max_rel_err
    FROM hit
    ORDER BY q
    """,
)
def ext_approx_quantile_sketch_merge(spark, sf_dir):
    """Mergeable quantile sketch over l_extendedprice cents with the
    full accumulate/combine/estimate lifecycle: per-SHARD partial
    bucket counts (accumulate — at 100 TB each shard/day keeps its own
    ≤ ~500-row histogram), summed across shards (combine — a bounded
    groupBy, the only data-sized work is the one accumulate scan),
    then quantiles read off the cumulative-rank walk (estimate — a
    window over the ≤ ~500 merged buckets, driver-scale by
    construction, so the single-partition sort is bounded, not a
    scale hazard). Bucketing is integer-only and engine-invariant:
    msb = length(bin(x)) - 1, bucket = msb*8 + ((x >> (msb-3)) & 7),
    estimate = the bucket's lower bound (8 + sub) << (msb-3) — a
    2-decimal-digit-precision KLL stand-in with a PROVEN 12.5% max
    relative error (bucket width / lower bound = 1/8), emitted as a
    column so consumers see the bound ride with the estimate. The
    rank threshold ceil(q*n) is exact below 2^53 rows. Quantile
    sibling of ext_approx_top_k_sketch_merge; unlike
    approx_percentile, partials are re-aggregable across time
    partitions with NO history re-scan."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.select(
        (F.col("l_suppkey") % 8).alias("shard"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("x"),
    )
    b = d.select(
        "shard",
        F.expr(
            "(length(bin(x)) - 1) * 8"
            " + (shiftright(x, length(bin(x)) - 4) % 8)"
        ).alias("bucket"),
    )
    partial = b.groupBy("shard", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    combined = partial.groupBy("bucket").agg(F.sum("c").cast("long").alias("c"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = combined.select(
        "bucket", "c", F.sum("c").over(w).cast("long").alias("cum")
    )
    # n from the merged sketch, not a second corpus scan: both cum and
    # tot hang off the same bucket-groupBy exchange (ReuseExchange), so
    # the 100 TB accumulate scan runs exactly once
    tot = combined.agg(F.sum("c").cast("long").alias("n"))
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q")
    )
    hit = (
        qs.crossJoin(F.broadcast(tot))
        .join(cum, F.col("cum") >= F.ceil(F.col("q") * F.col("n")).cast("long"))
        .groupBy("q", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    return hit.select(
        "q",
        F.col("bucket").cast("int").alias("bucket"),
        F.expr("shiftleft(CAST(8 + bucket % 8 AS BIGINT), CAST(bucket / 8 AS INT) - 3)")
        .alias("est_cents_lb"),
        "n",
        F.lit(0.125).cast("double").alias("max_rel_err"),
    ).orderBy("q")
