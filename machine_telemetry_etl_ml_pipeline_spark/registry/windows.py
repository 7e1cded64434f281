"""Window functions and time series: ranking/offset/frame windows, batch
time windows and sessions, as-of joins, gap filling, smoothing and
forecasting recurrences, change-point scans and interval algebra.
Orderings that later logic depends on carry a unique-id tiebreak, so
both engines walk identical frames.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join
from ..operators.windows import lag_lead, ranked, running, sessionized
from . import _CENTS, _epoch, _t, _views, register


@register(
    "ext_asof_join",
    f"""
    SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_epoch,
           p.value,
           first(v.event_id ORDER BY v.ts DESC, v.event_id) AS asof_event_id,
           first(v.value ORDER BY v.ts DESC, v.event_id) AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
)
def ext_asof_join(spark, sf_dir):
    """As-of join: for each purchase, the user's latest view at-or-before
    it. Union+window formulation (operators/joins.py): ONE shuffle on
    user_id, linear in rows — vs. the naive equi+theta join which is
    quadratic per key. event_id pins the pick among exact (user_id, ts)
    ties on both engines (smallest wins): DuckDB's native ASOF reads
    better as an oracle but has no tiebreak syntax, and the forward
    variant's 10x differential red proved tied data then diverges."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")
    out = asof_join(
        purchases, views, "user_id", "ts", "ts", ["event_id", "value"],
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id", "user_id", _epoch().alias("ts_epoch"), "value",
        "asof_event_id", "asof_value",
    )


@register(
    "ext_window_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey ASC) AS row_num,
           rank()       OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS dense_rnk
    FROM customer
    """,
)
def ext_window_rank(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return ranked(c, "c_mktsegment", "c_acctbal", descending=True, tiebreak="c_custkey").select(
        "c_custkey", "c_mktsegment", "c_acctbal", "row_num", "rnk", "dense_rnk"
    )


@register(
    "ext_window_lag_lead",
    """
    SELECT event_id, user_id, value,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v
    FROM events
    """,
)
def ext_window_lag_lead(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return lag_lead(e, "user_id", "ts", "value", tiebreak="event_id").select(
        "event_id", "user_id", "value", "prev_v", "next_v"
    )


@register(
    "ext_window_running",
    """
    SELECT event_id, user_id,
           CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS running_sum,
           CAST(CASE WHEN sum(cents) OVER w >= 0
                     THEN (sum(cents) OVER w * 100) // count(*) OVER w
                     ELSE -((-(sum(cents) OVER w * 100)) // count(*) OVER w)
                END AS BIGINT) AS running_avg_e4
    FROM (SELECT event_id, user_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
    """,
)
def ext_window_running(spark, sf_dir):
    """Running sum/avg with an explicit rows frame. Oracle-parity note:
    the accumulation runs on exact integer cents (values have 2
    decimals), and the average is emitted in truncated 1e-4 units —
    small-n averages land exactly on round-half boundaries where Spark
    (BigDecimal shortest-repr HALF_UP) and DuckDB (binary rounding)
    legitimately disagree."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = running(e, "user_id", "ts", "cents", tiebreak="event_id")
    return out.select(
        "event_id",
        "user_id",
        (F.col("running_sum") / 100.0).alias("running_sum"),
        F.expr("(running_sum * 100) div __cnt").alias("running_avg_e4"),
    )


@register(
    "ext_tumbling_window",
    f"""
    SELECT CAST(floor(epoch(time_bucket(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def ext_tumbling_window(spark, sf_dir):
    """Tumbling 1h aggregate — batch twin of
    streaming/windows.tumbling_counts (same window() primitive)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("__w.start")).cast("long").alias("window_start"), "n", "sum_value"
        )
    )


@register(
    "ext_sliding_window",
    """
    SELECT CAST(floor(epoch(ws)) AS BIGINT) AS window_start,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM (
      SELECT value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
      FROM events
    )
    GROUP BY ws
    """,
)
def ext_sliding_window(spark, sf_dir):
    """Sliding window 1h/30m: each event lands in 2 overlapping windows
    (window() emits one row per bucket). DuckDB oracle enumerates the
    same 2 bucket starts per event."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("__w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("__w.start")).cast("long").alias("window_start"), "n", "sum_value"
        )
    )


@register(
    "ext_session_windows",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           CAST(floor(epoch(max(ts))) AS BIGINT)
             - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
    FROM sess GROUP BY user_id, session_id
    """,
)
def ext_session_windows(spark, sf_dir):
    """Session windows (30 min gap) via gaps-and-islands — the batch
    analog of streaming session_window(); one shuffle + one sort."""
    e = _t(spark, sf_dir, "events")
    s = sessionized(e, "user_id", "ts", 1800, tiebreak="event_id")
    return s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")).cast("long")
            - F.unix_timestamp(F.min("ts")).cast("long")
        ).alias("duration_sec"),
    )


@register(
    "ext_window_distribution",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 4) AS pct_rank,
           round(cume_dist() OVER w, 4) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def ext_window_distribution(spark, sf_dir):
    """ntile / percent_rank / cume_dist, PARTITIONED by market segment
    (round-2: the r1 version used a global un-partitioned window — a
    single-reducer sort that SCALE.md had to flag as a trade-off;
    per-segment distribution ranks are both the realistic analytics
    shape and shuffle-parallel). Unique total order via the custkey
    tiebreak so every engine agrees."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@register(
    "ext_window_first_last",
    """
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_v,
           last_value(value) OVER w AS last_v
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def ext_window_first_last(spark, sf_dir):
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_v"),
        F.last("value").over(w).alias("last_v"),
    )


@register(
    "ext_window_range_frame",
    """
    SELECT o_orderkey, cnt_within_10k FROM (
      SELECT o_orderkey,
             count(*) OVER (ORDER BY o_totalprice
                            RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
               AS cnt_within_10k
      FROM orders
    )
    """,
)
def ext_window_range_frame(spark, sf_dir):
    """Numeric RANGE frame (value-based, not row-based): how many
    orders fall within 10k below each order's price."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc()).rangeBetween(-10000, 0)
    return o.select("o_orderkey", F.count(F.lit(1)).over(w).alias("cnt_within_10k"))


@register(
    "ext_month_boundaries",
    """
    SELECT o_orderkey,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(o_orderdate AS DATE) = last_day(CAST(o_orderdate AS DATE)) AS is_month_end
    FROM orders
    """,
)
def ext_month_boundaries(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        (d == F.last_day(d)).alias("is_month_end"),
    )


@register(
    "ext_time_rollup",
    """
    SELECT CASE WHEN grouping(day_b) = 0 THEN 'day'
                WHEN grouping(week_b) = 0 THEN 'week'
                ELSE 'month' END AS gran,
           CAST(floor(epoch(coalesce(day_b, week_b, month_b))) AS BIGINT) AS bucket_epoch,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (
      SELECT value,
             date_trunc('day', ts)   AS day_b,
             date_trunc('week', ts)  AS week_b,
             date_trunc('month', ts) AS month_b
      FROM events
    )
    GROUP BY GROUPING SETS ((day_b), (week_b), (month_b))
    """,
)
def ext_time_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: one scan, three time
    granularities (day/week/month) via GROUPING SETS over precomputed
    buckets — the multi-resolution rollup a telemetry store
    materializes. Single pass + partial aggregation per set; at 100 TB
    this replaces three separate scans with one."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(day_b) = 0 THEN 'day'
                    WHEN grouping(week_b) = 0 THEN 'week'
                    ELSE 'month' END AS gran,
               CAST(unix_timestamp(coalesce(day_b, week_b, month_b)) AS BIGINT)
                 AS bucket_epoch,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM (
          SELECT value,
                 date_trunc('day', ts)   AS day_b,
                 date_trunc('week', ts)  AS week_b,
                 date_trunc('month', ts) AS month_b
          FROM events
        )
        GROUP BY GROUPING SETS ((day_b), (week_b), (month_b))
        """
    )


@register(
    "ext_collect_list_ordered",
    """
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '>') AS type_path,
           count(*) AS n_events,
           (list(event_type ORDER BY ts, event_id))[1] AS first_type,
           (list(event_type ORDER BY ts, event_id))[-1] AS last_type
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
)
def ext_collect_list_ordered(spark, sf_dir):
    """Deterministic ordered array aggregation: collect_list gives NO
    ordering guarantee (it concatenates partition-arrival order), so
    the portable idiom is collect structs carrying the sort key, then
    sort_array + transform to project the payload — equal to SQL's
    list(x ORDER BY ...) in any engine. The per-user event-type PATH is
    the sessionized-journey shape downstream sequence models consume.
    Output projects the ordered array to scalar columns (joined path,
    ends, length) — the driver's canonicalizer cannot hash raw array
    cells (round-3 lesson from llm_embedding_truncate). The sort key
    is exact epoch-MICROS (unix_timestamp's whole seconds would let
    sub-second orderings diverge from the oracle's full-resolution
    ORDER BY ts)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    seq = F.transform(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("t"),
                )
            )
        ),
        lambda s: s["t"],
    )
    return e.groupBy("user_id").agg(
        F.array_join(seq, ">").alias("type_path"),
        F.count(F.lit(1)).alias("n_events"),
        F.element_at(seq, 1).alias("first_type"),
        F.element_at(seq, -1).alias("last_type"),
    )


@register(
    "ext_window_time_range_frame",
    """
    SELECT event_id, user_id,
           count(*) OVER w AS n_last_hour,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_last_hour
    FROM (SELECT event_id, user_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS cents FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def ext_window_time_range_frame(spark, sf_dir):
    """Time-interval RANGE frame (rolling 1-hour totals per user) —
    the event-time sliding aggregate as a window function, distinct
    from the numeric-offset range frame (ext_window_range_frame) and
    from bucketed sliding windows (the frame is anchored per ROW, not
    per bucket). Exact integer cents keep the frame sums
    engine-identical; ties in ts share a frame by RANGE semantics, so
    no tiebreak is needed for determinism."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER w AS n_last_hour,
               CAST(sum(cents) OVER w AS BIGINT) AS cents_last_hour
        FROM (SELECT event_id, user_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "ext_gap_islands",
    """
    WITH ordered AS (
      -- date_trunc microseconds: align the ordering key with Spark's
      -- nanos->micros read (no-op on current testdata)
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_type
      FROM events
    ),
    islands AS (
      SELECT user_id, event_type, rn_all - rn_type AS grp, count(*) AS run_len
      FROM ordered GROUP BY user_id, event_type, rn_all - rn_type
    )
    SELECT event_type, count(*) AS n_islands,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           round(avg(run_len), 4) AS avg_run_len
    FROM islands GROUP BY event_type
    """,
)
def ext_gap_islands(spark, sf_dir):
    """Gaps-and-islands: collapse each user's consecutive runs of the
    same event_type into islands via the row_number-difference trick
    (two user-partitioned windows, zero joins), then summarize run
    statistics per type. The canonical sessionless sequence-analysis
    shape; windows partition by user so the plan parallelizes across
    the key space. Deterministic (ts, event_id) tiebreak."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    islands = (
        e.select(
            "user_id",
            "event_type",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return islands.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.round(F.avg("run_len"), 4).alias("avg_run_len"),
    )


@register(
    "ext_gap_fill_ffill",
    """
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, round(avg(value), 4) AS v
      FROM events WHERE user_id <= 5 GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, hourly.v,
             (hourly.v IS NULL) AS is_gap
      FROM grid g LEFT JOIN hourly ON hourly.user_id = g.user_id AND hourly.h = g.h
    )
    SELECT user_id, CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
           is_gap
    FROM joined
    """,
)
def ext_gap_fill_ffill(spark, sf_dir):
    """Telemetry gap-fill: densify each machine's reading stream onto
    an hourly grid (sequence + explode between per-key min/max) and
    forward-fill missing hours with the last observation
    (last(ignorenulls) over an unbounded-preceding frame) — the
    resample/ffill idiom of the reference's telemetry domain, as one
    declarative plan. Shuffle profile: one groupBy and one window,
    both keyed by user_id (same exchange, reused); the grid explode is
    per-key and never materializes a global calendar. The hourly
    average is rounded BEFORE filling so propagated values are
    bit-identical to their source row on both engines."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 5)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.round(F.avg("value"), 4).alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id", "h", "v", F.col("v").isNull().alias("is_gap")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.unix_timestamp("h").alias("hour_epoch"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        "is_gap",
    )


@register(
    "ext_rolling_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW), 4) AS med9
    FROM events WHERE user_id <= 3
    """,
)
def ext_rolling_median(spark, sf_dir):
    """Rolling exact median over a trailing 9-reading frame per machine
    (the robust-smoothing twin of a rolling mean — outlier readings
    don't drag it). Spark's exact percentile() is a true window
    aggregate here, ordered with an event_id tiebreak so the frame
    contents are engine-identical; linear interpolation semantics
    match DuckDB's quantile_cont. One shuffle on the machine key."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 3)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-8, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med9"),
    )


@register(
    "ext_window_distinct_count",
    """
    SELECT event_id, user_id, event_type,
           count(DISTINCT event_type) OVER (PARTITION BY user_id)
             AS n_types_for_user
    FROM events WHERE user_id < 20 AND event_type IS NOT NULL
    """,
)
def ext_window_distinct_count(spark, sf_dir):
    """Distinct count as a window value on every row: Spark disallows
    DISTINCT aggregates over windows, so the idiom is the dense_rank
    bridge — max(dense_rank ORDER BY key) over the partition equals
    the partition's distinct key count. Two windows over ONE
    user_id-keyed sort order (single exchange, single sort); the
    DuckDB oracle uses the native count(DISTINCT ...) OVER form,
    proving the bridge exact. Both sides filter NULL keys up front:
    dense_rank ranks NULLs but count(DISTINCT) ignores them, so the
    bridge is only exact over non-null keys."""
    from pyspark.sql.window import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .filter(F.col("event_type").isNotNull())
    )
    w_rank = Window.partitionBy("user_id").orderBy("event_type")
    w_all = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.max(F.dense_rank().over(w_rank)).over(w_all).alias("n_types_for_user"),
    )


@register(
    "ext_session_dynamic_gap",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'click' THEN 1800000000
                  ELSE 3600000000 END AS gap
      FROM events
    ),
    o AS (
      SELECT user_id, event_id, t, gap,
             max(t + gap) OVER (PARTITION BY user_id ORDER BY t, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS prev_end
      FROM e
    ),
    m AS (
      SELECT user_id, event_id, t, gap,
             CASE WHEN prev_end IS NULL OR t >= prev_end THEN 1 ELSE 0 END
               AS is_start
      FROM o
    ),
    s AS (
      SELECT user_id, t, gap,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           CAST(min(t) // 1000000 AS BIGINT) AS sess_start,
           CAST(max(t + gap) // 1000000 AS BIGINT) AS sess_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def ext_session_dynamic_gap(spark, sf_dir):
    """Native session_window with a DYNAMIC per-event gap (30 min for
    clicks, 60 min otherwise) — the idle-timeout-depends-on-activity
    sessionization streaming engines advertise. This is NOT the
    lag-based gaps-and-islands of ext_session_windows: with variable
    gaps, sessions merge on the RUNNING MAX of window ends (interval
    union), which the oracle reproduces with an unbounded-preceding
    max in exact epoch-microseconds. One user_id-keyed exchange +
    sort on either engine; session starts/ends projected as floored
    epoch seconds (unix_timestamp semantics)."""
    e = _t(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("30 minutes")).otherwise(
        F.lit("60 minutes")
    )
    return (
        e.groupBy("user_id", F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("sess_start"),
            F.unix_timestamp(F.col("w.end")).cast("long").alias("sess_end"),
            "n_events",
        )
    )


@register(
    "ext_time_weighted_avg",
    """
    WITH o AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             lag(epoch_us(ts)) OVER w AS prev_t,
             lag(value) OVER w AS prev_v
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           round(sum((t - prev_t) * prev_v) / sum(t - prev_t), 4) AS twa,
           count(*) + 1 AS n_points
    FROM o WHERE prev_t IS NOT NULL
    GROUP BY user_id
    """,
)
def ext_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per user (last-observation-carried-forward
    integral / elapsed time) — the telemetry mean that is CORRECT for
    irregular sampling, where the naive row average over-weights burst
    periods (TimescaleDB's time_weight). Exact epoch-microsecond lag
    arithmetic; one user-keyed sort window, then a partial-aggregable
    weighted sum."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    o = e.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lag(t).over(w).alias("prev_t"),
        F.lag("value").over(w).alias("prev_v"),
    ).filter(F.col("prev_t").isNotNull())
    return o.groupBy("user_id").agg(
        F.round(
            F.sum((F.col("t") - F.col("prev_t")) * F.col("prev_v"))
            / F.sum(F.col("t") - F.col("prev_t")),
            4,
        ).alias("twa"),
        (F.count(F.lit(1)) + 1).alias("n_points"),
    )


@register(
    "ext_percent_change_wow",
    """
    WITH weekly AS (
      SELECT event_type, date_trunc('week', ts) AS wk, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(floor(epoch(wk)) AS BIGINT) AS week_epoch,
           n,
           round(CASE WHEN lag(n) OVER w IS NULL THEN NULL
                      ELSE 100.0 * (n - lag(n) OVER w) / lag(n) OVER w
                 END, 4) AS pct_change
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY wk)
    """,
)
def ext_percent_change_wow(spark, sf_dir):
    """Week-over-week percent change per event type — the dashboard
    delta every operational report leads with. Weekly rollup (partial-
    aggregable) then a lag over the small (type x week) series; NULL
    for the first week of each series rather than a fake 0."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    weekly = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("wk")
    prev = F.lag("n").over(w)
    return weekly.select(
        "event_type",
        F.unix_timestamp("wk").cast("long").alias("week_epoch"),
        "n",
        F.round(
            F.when(prev.isNull(), F.lit(None)).otherwise(
                100.0 * (F.col("n") - prev) / prev
            ),
            4,
        ).alias("pct_change"),
    )


@register(
    "ext_running_distinct_users",
    """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events
      GROUP BY user_id
    ),
    daily_new AS (
      SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY 1
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    SELECT CAST(floor(epoch(CAST(d.day AS TIMESTAMP))) AS BIGINT) AS day_epoch,
           CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cumulative_users
    FROM days d LEFT JOIN daily_new n ON n.day = d.day
    """,
)
def ext_running_distinct_users(spark, sf_dir):
    """Cumulative distinct-user reach by day — running COUNT(DISTINCT)
    without the (unsupported, and at scale unshuffleable) distinct
    window aggregate: each user contributes on their FIRST day only
    (a user-keyed min), daily new-user counts roll up, and a running
    sum over the small day series yields the cumulative curve. The
    heavy relation is touched once; the global window orders only
    the date spine."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = e.select(F.col("ts").cast("date").alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(daily_new, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            F.unix_timestamp(F.col("day").cast("timestamp")).cast("long").alias(
                "day_epoch"
            ),
            F.col("new_users").cast("long").alias("new_users"),
            F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
        )
    )


_EWMA_ALPHA = 0.3
_EWMA_K = 8  # truncation window: weights below alpha*(1-alpha)^7 ~ 0.025 dropped


def _ewma_terms_sql() -> str:
    ws = [
        f"{_EWMA_ALPHA} * pow({1 - _EWMA_ALPHA}, {k})"
        f" * lag(value, {k}) OVER w"
        for k in range(_EWMA_K)
    ]
    present = [
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL THEN "
        f"{_EWMA_ALPHA} * pow({1 - _EWMA_ALPHA}, {k}) ELSE 0 END"
        for k in range(_EWMA_K)
    ]
    return (
        "("
        + " + ".join(f"coalesce({t}, 0)" for t in ws)
        + ") / ("
        + " + ".join(present)
        + ")"
    )


@register(
    "ext_ewma_smoothing",
    f"""
    SELECT event_id, user_id,
           round({_ewma_terms_sql()}, 4) AS ewma
    FROM events WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def ext_ewma_smoothing(spark, sf_dir):
    """Exponentially-weighted moving average over each user's reading
    series — the telemetry smoothing pass, truncated to the last 8
    observations so the recursion becomes a FINITE weighted sum of
    lags: w_k = alpha(1-alpha)^k renormalized over the lags actually
    present (series heads aren't biased toward 0). Pure lag
    arithmetic — identical closed form on both engines, no recursion,
    no UDF; one user-keyed sort window at any scale. The infinite-
    history recursive form is deliberately NOT used: its
    (1-alpha)^(-i) rescaling trick overflows on long series."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(_EWMA_K):
        wk = _EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k
        lagv = F.lag("value", k).over(w)
        num = num + F.coalesce(F.lit(wk) * lagv, F.lit(0.0))
        den = den + F.when(lagv.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
    return e.select(
        "event_id", "user_id", F.round(num / den, 4).alias("ewma")
    )


@register(
    "ext_asof_join_forward",
    """
    SELECT p.event_id, p.user_id, CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_epoch,
           p.value,
           first(v.event_id ORDER BY v.ts, v.event_id) AS next_event_id,
           first(v.value ORDER BY v.ts, v.event_id) AS next_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts >= p.ts
    GROUP BY p.event_id, p.user_id, p.ts, p.value
    """,
)
def ext_asof_join_forward(spark, sf_dir):
    """FORWARD as-of join: for each purchase, the user's EARLIEST view
    at-or-after it — what-did-they-do-next attribution, the mirror of
    ext_asof_join's latest-before lookup. Same union+window shape
    (operators/joins.asof_join_forward), one shuffle on user_id,
    first(ignorenulls) over the FOLLOWING frame. event_id breaks exact
    (user_id, ts) ties deterministically (smallest wins); the oracle
    pins the SAME rule via first(x ORDER BY ts, event_id) over a
    range-predicate left join — DuckDB's native ASOF reads better but
    has no tiebreak syntax, and the 10x differential replica (which
    mints exact ties across copies) proved the two engines then pick
    different tie representatives."""
    from ..operators.joins import asof_join_forward

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type") == "view")
    out = asof_join_forward(
        purchases, views, "user_id", "ts", "ts", ["event_id", "value"],
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.col("ts")).cast("long").alias("ts_epoch"),
        "value",
        "next_event_id",
        "next_value",
    )


@register(
    "ext_autocorrelation",
    """
    WITH lagged AS (
      SELECT event_type, value,
             lag(value)    OVER w AS prev1,
             lag(value, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(count(prev1) AS BIGINT) AS n_pairs,
           round(corr(value, prev1), 4) + 0 AS acf_lag1,
           round(corr(value, prev2), 4) + 0 AS acf_lag2
    FROM lagged GROUP BY event_type
    """,
)
def ext_autocorrelation(spark, sf_dir):
    """Serial autocorrelation (lag-1 / lag-2 ACF) per event_type: the
    standard seasonality/IID screen on a telemetry series. One shuffle
    on event_type serves both the lag window and the aggregate (the
    agg reuses the window's partitioning), and corr is a single-pass
    partial-aggregable moment sketch. Tie order inside the window is
    pinned by (ts, event_id). `+ 0` normalizes IEEE -0.0 after
    rounding, per the registry convention."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    zero = F.lit(0.0)
    lagged = e.select(
        "event_type",
        "value",
        F.lag("value").over(w).alias("prev1"),
        F.lag("value", 2).over(w).alias("prev2"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("prev1").alias("n_pairs"),
        (F.round(F.corr("value", "prev1"), 4) + zero).alias("acf_lag1"),
        (F.round(F.corr("value", "prev2"), 4) + zero).alias("acf_lag2"),
    )


@register(
    "ext_conditional_reset_cumsum",
    """
    WITH seg AS (
      SELECT event_id, user_id, value, ts,
             sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg_id
      FROM events WHERE user_id < 50
    )
    SELECT event_id, user_id, CAST(seg_id AS BIGINT) AS seg_id,
           round(sum(value) OVER (PARTITION BY user_id, seg_id
                                  ORDER BY ts, event_id), 4)
             AS run_since_reset
    FROM seg
    """,
)
def ext_conditional_reset_cumsum(spark, sf_dir):
    """Running total with event-triggered resets (cumulative value
    since each user's last 'signup') — the two-stage window
    composition that expresses resettable accumulators without state:
    stage 1 derives a segment id as a running count of reset events,
    stage 2 runs the cumulative sum partitioned by (user, segment).
    Both windows sort by the same (ts, event_id) order; the second
    shuffle is keyed by a refinement of the first (user_id -> user_id,
    seg_id), so per-user data never crosses executors between stages.
    The streaming analog is stream_stateful_user_stats; this is the
    batch/backfill form."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "event_id",
        "user_id",
        "value",
        "ts",
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .over(w1)
        .alias("seg_id"),
    )
    w2 = Window.partitionBy("user_id", "seg_id").orderBy("ts", "event_id")
    return seg.select(
        "event_id",
        "user_id",
        F.col("seg_id").cast("long").alias("seg_id"),
        F.round(F.sum("value").over(w2), 4).alias("run_since_reset"),
    )


@register(
    "ext_interval_merge",
    """
    WITH iv AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           min(s) AS start_s, max(e) AS end_s,
           count(*) AS n_events, max(e) - min(s) AS span_s
    FROM islands GROUP BY user_id, island
    """,
)
def ext_interval_merge(spark, sf_dir):
    """Merge overlapping per-user activity intervals (each event claims
    [ts, ts+300s]) into maximal islands — the interval-union variant
    the gap/island family (ext_gap_islands, ext_session_windows) was
    missing: an island boundary opens only where an interval STARTS
    after the running max of all previous ENDS, which differs from
    gap-sessionization whenever an early long interval swallows later
    short ones. Epoch-second integers end to end, so the window max and
    cumulative flag sum are exact on both engines. Scale shape: one
    hash shuffle on user_id, then two sorted window passes inside each
    partition — no self-join, no explode; at 100 TB this is the
    standard plan for machine-uptime / coverage merging."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("s"),
        (F.unix_timestamp("ts").cast("long") + 300).alias("e"),
    )
    # event_id tiebreak makes the ordering TOTAL: with exact (s, e)
    # ties, an engine may re-sort ties between the two window passes
    # (DuckDB did at the tie-dense 10x replica), detaching the
    # island-open flag from the row the cumulative sum visits first
    order = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    run = order.rowsBetween(Window.unboundedPreceding, 0)
    flagged = e.withColumn(
        "new_island",
        F.when(F.col("s") > F.max("e").over(prev), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(run).cast("long")
    )
    return islands.groupBy("user_id", "island").agg(
        F.min("s").alias("start_s"),
        F.max("e").alias("end_s"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("e") - F.min("s")).alias("span_s"),
    )


@register(
    "ext_holt_linear",
    """
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    s AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM d),
    h AS (
      SELECT rn, day, x, CAST(x AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.rn, s.day, s.x,
             CAST(0.5 AS DOUBLE) * s.x + CAST(0.5 AS DOUBLE) * (h.l + h.b),
             CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * s.x
                                     + CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l)
               + CAST(0.7 AS DOUBLE) * h.b
      FROM h JOIN s ON s.rn = h.rn + 1
    )
    SELECT day, x, l + 0 AS level, b + 0 AS trend,
           (l + b) + 0 AS forecast_next
    FROM h
    """,
)
def ext_holt_linear(spark, sf_dir):
    """Holt's linear-trend double exponential smoothing (alpha=0.5,
    beta=0.3) over the daily event-count series — the trend-aware
    upgrade of ext_ewma_smoothing. The series values are integer day
    counts (one partial-aggregable groupBy), so the sequential fold —
    Spark: a single-row array aggregate() appending (level, trend)
    states; DuckDB: a recursive CTE walking rn+1 — performs the
    IDENTICAL double arithmetic in the identical order on both
    engines, so the raw doubles match bitwise and ship unrounded
    (rounding onto a fixed grid can land exactly ON a .5 boundary,
    where the engines' rounding algorithms disagree). Scale shape: the
    recursion runs on the collapsed per-day table (|days| rows, bounded
    by calendar time, not data volume — 36.5k rows after a century);
    the 100 TB cost is entirely in the first groupBy, which is
    map-side combinable. Reference analog: none (its time features
    stop at calendar extraction, project/db.py:373)."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    folded = d.agg(
        F.array_sort(F.collect_list(F.struct("day", "x"))).alias("s")
    ).select(
        F.expr(
            """
            aggregate(
              slice(s, 2, greatest(size(s) - 1, 0)),
              array(named_struct(
                'day', element_at(s, 1).day, 'x', element_at(s, 1).x,
                'l', CAST(element_at(s, 1).x AS DOUBLE),
                'b', CAST(0.0 AS DOUBLE))),
              (acc, e) -> array_append(acc, named_struct(
                'day', e.day, 'x', e.x,
                'l', 0.5D * e.x + 0.5D * (element_at(acc, -1).l
                                          + element_at(acc, -1).b),
                'b', 0.3D * ((0.5D * e.x + 0.5D * (element_at(acc, -1).l
                                                   + element_at(acc, -1).b))
                             - element_at(acc, -1).l)
                     + 0.7D * element_at(acc, -1).b))
            ) AS states
            """
        )
    )
    # outputs stay UNROUNDED: the fold's operation tree is identical on
    # both engines (sequential over the same exact integers), so the raw
    # doubles hash-match — while round(x, 6) of a value landing exactly
    # ON a .5 grid point diverges between engines (the tpch_q2 lesson;
    # the 10x replica hit this on forecast_next)
    st = folded.select(F.explode("states").alias("st"))
    return st.select(
        F.col("st.day").alias("day"),
        F.col("st.x").alias("x"),
        (F.col("st.l") + 0).alias("level"),
        (F.col("st.b") + 0).alias("trend"),
        (F.col("st.l") + F.col("st.b") + 0).alias("forecast_next"),
    )


@register(
    "ext_cusum_changepoint",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS total FROM d),
    c AS (
      SELECT day, x,
             row_number() OVER (ORDER BY day) AS i,
             CAST(sum(x) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM d
    ),
    dev AS (
      SELECT day, x, i, cum,
             abs(CAST(n AS BIGINT) * cum - i * total) AS ndev
      FROM c CROSS JOIN t
    ),
    m AS (SELECT max(ndev) AS mx FROM dev)
    SELECT d.day AS change_day, d.x AS day_count,
           CAST(d.cum AS BIGINT) AS cum_events,
           CAST(d.ndev AS BIGINT) AS scaled_max_dev,
           round(CAST(d.ndev AS DOUBLE) / n, 4) + 0 AS max_dev
    FROM dev d CROSS JOIN m CROSS JOIN t
    WHERE d.ndev = m.mx
    ORDER BY d.day LIMIT 1
    """,
)
def ext_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint detection on the daily event-count series:
    the day maximizing |cumsum(x) - i*mean| — where the running total
    most departs from the uniform-rate line — is the classic
    level-shift estimator. The deviation is computed SCALED BY n
    (n*cumsum - i*total), so the argmax runs entirely on exact
    BIGINTs; only the reported max_dev divides back to a double. One
    partial-aggregable groupBy collapses the stream to |days| rows;
    the cumulative window, broadcast totals, and argmax all run on
    that calendar-bounded table. The earliest-day tiebreak is pinned
    on both engines. Reference analog: none — the drift-alarm
    companion to ml_ks_drift for time-ordered rates."""
    d = (
        _t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    t = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("total"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    c = d.select(
        "day",
        "x",
        F.row_number().over(w).alias("i"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum"),
    )
    dev = c.crossJoin(F.broadcast(t)).select(
        "day",
        "x",
        "i",
        "cum",
        "n",
        F.abs(F.col("n") * F.col("cum") - F.col("i") * F.col("total")).alias("ndev"),
    )
    m = dev.agg(F.max("ndev").alias("mx"))
    return (
        dev.crossJoin(F.broadcast(m))
        .filter(F.col("ndev") == F.col("mx"))
        .orderBy("day")
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("x").alias("day_count"),
            F.col("cum").alias("cum_events"),
            F.col("ndev").cast("long").alias("scaled_max_dev"),
            (F.round(F.col("ndev").cast("double") / F.col("n"), 4) + 0).alias(
                "max_dev"
            ),
        )
    )


@register(
    "ext_seasonal_dow_index",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nd_all,
                   CAST(sum(x) AS BIGINT) AS x_all FROM d),
    dw AS (
      SELECT CAST(isodow(day) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS events
      FROM d GROUP BY 1
    )
    SELECT dow, n_days, events,
           CAST(events AS DOUBLE) * CAST(nd_all AS DOUBLE)
             / (CAST(n_days AS DOUBLE) * CAST(x_all AS DOUBLE))
             AS seasonal_index
    FROM dw CROSS JOIN tot
    """,
)
def ext_seasonal_dow_index(spark, sf_dir):
    """Day-of-week seasonal indices (dow mean rate / grand mean rate)
    over the daily event-count series — the weekly-seasonality screen
    that pairs with ext_autocorrelation (which detects it) and
    ext_holt_linear (which smooths through it). All masses are exact
    integers from two partial-aggregable groupBys; each index is ONE
    fixed IEEE formula (a*b)/(c*d) over exact integers, deterministic
    cross-engine with no rounding pin. ISO weekday numbering is pinned
    on both engines (Spark weekday()+1 == DuckDB isodow: 1=Monday).
    Scale shape: day-keyed partial agg collapses the stream to
    calendar-bounded rows; everything downstream is tiny. Reference
    analog: the dow/hour feature extraction at project/db.py:373, as
    an actual decomposition instead of raw features."""
    e = _t(spark, sf_dir, "events")
    d = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("nd_all"),
        F.sum("x").cast("long").alias("x_all"),
    )
    dw = d.groupBy((F.weekday("day") + 1).cast("long").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("events"),
    )
    return dw.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "events",
        (
            F.col("events").cast("double")
            * F.col("nd_all").cast("double")
            / (F.col("n_days").cast("double") * F.col("x_all").cast("double"))
        ).alias("seasonal_index"),
    )


@register(
    "ext_asof_join_nearest",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    b AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts DESC, v.event_id) AS b_id,
             first(epoch_us(v.ts) ORDER BY v.ts DESC, v.event_id) AS b_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      GROUP BY p.event_id
    ),
    f AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts ASC, v.event_id) AS f_id,
             first(epoch_us(v.ts) ORDER BY v.ts ASC, v.event_id) AS f_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           CAST(CASE
             WHEN b_id IS NULL AND f_id IS NULL THEN NULL
             WHEN f_id IS NULL THEN b_id
             WHEN b_id IS NULL THEN f_id
             WHEN epoch_us(p.ts) - b_us <= f_us - epoch_us(p.ts) THEN b_id
             ELSE f_id END AS BIGINT) AS nearest_event_id,
           CAST(CASE
             WHEN b_id IS NULL AND f_id IS NULL THEN NULL
             WHEN f_id IS NULL THEN epoch_us(p.ts) - b_us
             WHEN b_id IS NULL THEN f_us - epoch_us(p.ts)
             WHEN epoch_us(p.ts) - b_us <= f_us - epoch_us(p.ts)
               THEN epoch_us(p.ts) - b_us
             ELSE f_us - epoch_us(p.ts) END AS BIGINT) AS nearest_dist_us
    FROM p LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
    """,
)
def ext_asof_join_nearest(spark, sf_dir):
    """Nearest as-of join — for each purchase, the view closest in
    time in EITHER direction, ties broken backward then by smallest
    event_id: completes the as-of family (backward `ext_asof_join`,
    forward `ext_asof_join_forward`). Composed from the two
    union+window passes (operators/joins.py) carrying the candidate
    timestamp, then an exact integer-microsecond distance pick — no
    floats, no partition-order dependence (the forward twin's 10x
    tiebreak lesson baked in from the start). Scale shape: two
    user_id-keyed window passes (a fused implementation could share
    one sort; two passes keep the proven helpers); distance math is
    per-row narrow. The kdb `aj`-nearest / pandas merge_asof
    (direction='nearest') semantics. Reference analog: none."""
    from ..operators.joins import asof_join, asof_join_forward

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", F.col("ts").alias("vts")
    ).select("event_id", "user_id", "ts", "vts")
    back = asof_join(
        p, v.select("user_id", "ts", F.col("event_id").alias("vid"), "vts"),
        "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid",
    ).select(
        "event_id", "user_id", "ts",
        F.col("asof_vid").alias("b_id"),
        # events.ts is TIMESTAMP_NTZ; cast to instant (value-identical
        # under the UTC session zone) for exact integer micros
        F.unix_micros(F.col("asof_vts").cast("timestamp")).alias("b_us"),
    )
    fwd = asof_join_forward(
        p, v.select("user_id", "ts", F.col("event_id").alias("vid"), "vts"),
        "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid",
    ).select(
        F.col("event_id").alias("f_event_id"),
        F.col("next_vid").alias("f_id"),
        F.unix_micros(F.col("next_vts").cast("timestamp")).alias("f_us"),
    )
    j = back.join(fwd, back.event_id == fwd.f_event_id, "left")
    pus = F.unix_micros(F.col("ts").cast("timestamp"))
    bd = pus - F.col("b_us")
    fd = F.col("f_us") - pus
    both_null = F.col("b_id").isNull() & F.col("f_id").isNull()
    pick_b = F.col("f_id").isNull() | (
        F.col("b_id").isNotNull() & (bd <= fd)
    )
    return j.select(
        "event_id",
        "user_id",
        pus.cast("long").alias("ts_us"),
        F.when(both_null, F.lit(None).cast("long"))
        .when(pick_b, F.col("b_id"))
        .otherwise(F.col("f_id"))
        .cast("long")
        .alias("nearest_event_id"),
        F.when(both_null, F.lit(None).cast("long"))
        .when(pick_b, bd)
        .otherwise(fd)
        .cast("long")
        .alias("nearest_dist_us"),
    )


@register(
    "ext_asof_join_tolerance",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    b AS (
      SELECT p.event_id,
             first(v.event_id ORDER BY v.ts DESC, v.event_id) AS b_id,
             first(epoch_us(v.ts) ORDER BY v.ts DESC, v.event_id) AS b_us
      FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
      GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
           CAST(CASE WHEN epoch_us(p.ts) - b_us <= 3600000000
                     THEN b_id END AS BIGINT) AS asof_event_id,
           CAST(CASE WHEN epoch_us(p.ts) - b_us <= 3600000000
                     THEN epoch_us(p.ts) - b_us END AS BIGINT) AS age_us
    FROM p LEFT JOIN b USING (event_id)
    """,
)
def ext_asof_join_tolerance(spark, sf_dir):
    """Backward as-of join with a MATCH TOLERANCE (1 hour): a stale
    quote is worse than no quote, so carries older than the tolerance
    become NULL — pandas merge_asof(tolerance=...), kdb `wj` window
    semantics; the staleness guard every real-time feature store
    applies to point-in-time lookups. Implementation: the proven
    union+window backward pass carries the candidate timestamp, and
    the tolerance is ONE narrow null-out predicate on exact integer
    microseconds — no extra shuffle over the plain as-of. Completes
    the as-of matrix: backward / forward / nearest / tolerance."""
    from ..operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("vid"), F.col("ts").alias("vts")
    )
    back = asof_join(
        p, v, "user_id", "ts", "ts", ["vid", "vts"], right_tiebreak="vid"
    )
    pus = F.unix_micros(F.col("ts").cast("timestamp"))
    age = pus - F.unix_micros(F.col("asof_vts").cast("timestamp"))
    in_tol = age <= 3600000000
    return back.select(
        "event_id",
        "user_id",
        pus.cast("long").alias("ts_us"),
        F.when(in_tol, F.col("asof_vid")).cast("long").alias("asof_event_id"),
        F.when(in_tol, age).cast("long").alias("age_us"),
    )


@register(
    "ext_sequence_pattern_vshape",
    """
    WITH o AS (
      SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS c,
             lag(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
             lag(CAST(round(value * 100) AS BIGINT), 2)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_vshapes,
           CAST(min(event_id) AS BIGINT) AS first_v_event,
           CAST(sum(c - p1) AS BIGINT) AS total_rebound_cents
    FROM o
    WHERE p2 IS NOT NULL AND p1 < p2 AND c > p1
    GROUP BY user_id
    """,
)
def ext_sequence_pattern_vshape(spark, sf_dir):
    """Row-pattern matching (the MATCH_RECOGNIZE family Spark lacks):
    detect V-shapes — a strict drop followed by a rebound — in each
    user's time-ordered value sequence, reporting per-user pattern
    counts and rebound mass. Fixed-length patterns compile to pure
    lag() windows (one user-keyed sort, zero joins, zero explode);
    variable-length patterns would extend this with the
    gaps-and-islands machinery (ext_gap_islands). All comparisons run
    on exact integer cents with a (ts, event_id) total order, so the
    match set is engine-exact. Scale shape: one window pass over the
    fact table, then a partial-aggregable per-user rollup. Reference
    analog: none (the classic FINRA/trade-surveillance query)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = F.round(F.col("value") * 100).cast("long")
    o = e.select(
        "user_id",
        "event_id",
        c.alias("c"),
        F.lag(c).over(w).alias("p1"),
        F.lag(c, 2).over(w).alias("p2"),
    )
    hits = o.filter(
        F.col("p2").isNotNull() & (F.col("p1") < F.col("p2")) & (F.col("c") > F.col("p1"))
    )
    return hits.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vshapes"),
        F.min("event_id").cast("long").alias("first_v_event"),
        F.sum(F.col("c") - F.col("p1")).cast("long").alias("total_rebound_cents"),
    )


# (A function, not a module constant: F.expr needs an active session.)
def _cents():
    return F.expr(_CENTS.format(col="value"))


@register(
    "ext_resample_ohlc",
    f"""
    WITH px AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bar_t,
             {_CENTS.format(col="value")} AS cents, ts, event_id
      FROM events WHERE event_type = 'purchase'
    ),
    rn AS (
      SELECT bar_t, cents,
             row_number() OVER (PARTITION BY bar_t ORDER BY ts, event_id) AS r,
             count(*) OVER (PARTITION BY bar_t) AS c
      FROM px
    )
    SELECT bar_t,
           max(CASE WHEN r = 1 THEN cents END) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           max(CASE WHEN r = c THEN cents END) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS vol_cents
    FROM rn GROUP BY bar_t
    """,
)
def ext_resample_ohlc(spark, sf_dir):
    """Hourly OHLC (open/high/low/close) bars over the purchase value
    stream — the canonical downsampling operator for tick/telemetry
    data. Open/close need a total per-bar event order: (ts, event_id)
    is the unique tiebreak (two-pass-window doctrine), and both rank
    and count ride ONE window partition/sort, so the plan is a single
    hash shuffle on bar_t plus one sort — no second exchange.
    Exactness: values become half-up cents BEFORE any aggregation
    (floor(v*100+0.5), identical IEEE expression both engines), so
    open/high/low/close/volume are all BIGINT — no float order
    sensitivity at any partitioning. Scale shape: shuffle keyed on the
    hour bucket (dense, non-skewed); output is calendar-bounded.
    Reference analog: the reference's pandas resample-style rollups in
    project/database_and_model_tools.py:95-130 (hourly aggregates)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    px = e.select(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("long")
        .alias("bar_t"),
        _cents().alias("cents"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("bar_t").orderBy("ts", "event_id")
    wc = Window.partitionBy("bar_t")
    rn = px.select(
        "bar_t",
        "cents",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wc).alias("c"),
    )
    return rn.groupBy("bar_t").agg(
        F.max(F.when(F.col("r") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("r") == F.col("c"), F.col("cents"))).alias(
            "close_cents"
        ),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("vol_cents"),
    )


@register(
    "ext_interpolate_linear",
    f"""
    WITH sparse AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS t,
             CAST(sum({_CENTS.format(col="value")}) AS BIGINT) AS obs_cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM sparse),
    spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS t FROM bounds),
    j AS (
      SELECT spine.t, sparse.obs_cents FROM spine
      LEFT JOIN sparse ON spine.t = sparse.t
    ),
    nb AS (
      SELECT t, obs_cents,
             last_value(obs_cents IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
             last_value(CASE WHEN obs_cents IS NOT NULL THEN t END
               IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
             first_value(obs_cents IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
             first_value(CASE WHEN obs_cents IS NOT NULL THEN t END
               IGNORE NULLS) OVER (ORDER BY t
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT t, obs_cents,
           CASE WHEN obs_cents IS NOT NULL THEN obs_cents
                ELSE pc + ((nc - pc) * (t - pt)) // (nt - pt)
           END AS filled_cents
    FROM nb
    """,
)
def ext_interpolate_linear(spark, sf_dir):
    """Linear (time-weighted) interpolation of interior gaps in the
    hourly purchase-cents series, on an explicit hour spine built with
    sequence()/generate_series — the gap-fill operator beyond
    ext_gap_fill_ffill's step-carry: missing hours get the straight
    line between the previous and next observed hours. Exactness: the
    sparse series is an exact BIGINT cents sum; the interpolant is an
    all-integer expression pc + ((nc-pc)*(t-pt)) div (nt-pt), and
    Spark's `div` and DuckDB's `//` BOTH truncate toward zero
    (verified incl. negative numerators), so no float enters the
    query at all. Scale shape: one partial-aggregable groupBy(hour)
    collapses the stream to a calendar-bounded series; the spine and
    all four IGNORE-NULLS neighbor windows run on that bounded table
    (single-partition total order is safe there — the doctrine used by
    every calendar-bounded window in this registry). Reference analog:
    pandas interpolate(method='linear') in the reference's feature
    prep (project/database_and_model_tools.py:95-130 family)."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    sparse = (
        e.select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("t"),
            _cents().alias("cents"),
        )
        .groupBy("t")
        .agg(F.sum("cents").cast("long").alias("obs_cents"))
    )
    bounds = sparse.agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("t")
    )
    j = spine.join(sparse, "t", "left")
    wp = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    t_if_obs = F.when(F.col("obs_cents").isNotNull(), F.col("t"))
    nb = j.select(
        "t",
        "obs_cents",
        F.last("obs_cents", ignorenulls=True).over(wp).alias("pc"),
        F.last(t_if_obs, ignorenulls=True).over(wp).alias("pt"),
        F.first("obs_cents", ignorenulls=True).over(wn).alias("nc"),
        F.first(t_if_obs, ignorenulls=True).over(wn).alias("nt"),
    )
    filled = F.when(F.col("obs_cents").isNotNull(), F.col("obs_cents")).otherwise(
        F.col("pc")
        + F.expr("((nc - pc) * (t - pt)) div (nt - pt)")
    )
    return nb.select("t", "obs_cents", filled.cast("long").alias("filled_cents"))


@register(
    "ext_bollinger_bands",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS t,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    roll AS (
      SELECT t, cents,
             row_number() OVER (ORDER BY t) AS rn,
             sum(CAST(cents AS HUGEINT)) OVER (ORDER BY t
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS s,
             sum(CAST(cents AS HUGEINT) * cents) OVER (ORDER BY t
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS ss
      FROM hourly
    )
    SELECT t, cents,
           CAST(s AS DOUBLE) / 24 + 0 AS mean_cents,
           sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576) + 0 AS sd_cents,
           CAST(CASE
             WHEN cents > CAST(s AS DOUBLE) / 24
                          + 2 * sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576)
               THEN 1
             WHEN cents < CAST(s AS DOUBLE) / 24
                          - 2 * sqrt(CAST(24 * ss - s * s AS DOUBLE) / 576)
               THEN -1
             ELSE 0 END AS BIGINT) AS breach
    FROM roll WHERE rn >= 24
    """,
)
def ext_bollinger_bands(spark, sf_dir):
    """Rolling 24-observation Bollinger bands (mean +/- 2 population
    sigma) with breach flags over the hourly purchase-cents series —
    the rolling-volatility screen (z-band anomaly detection) every
    telemetry stack runs. Exactness: the hourly series is an exact
    BIGINT cents sum; rolling sum and sum-of-squares are WINDOW
    aggregates over exact integers, accumulated in DECIMAL(38,0)
    (DuckDB HUGEINT — cents^2 passes BIGINT at high SF, the
    ml_spearman_corr lesson); mean and sigma are single fixed IEEE
    trees over those integers (population variance via the all-integer
    numerator 24*ss - s^2), so the doubles are bit-identical at any
    partitioning and ship unrounded. Scale shape: one
    partial-aggregable groupBy(hour) collapses the stream; the rolling
    window runs on the calendar-bounded series. Reference analog:
    rolling z-features in project/database_and_model_tools.py:95-130."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    hourly = (
        e.select(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
            .cast("long")
            .alias("t"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("t")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    w = Window.orderBy("t").rowsBetween(-23, 0)
    roll = hourly.select(
        "t",
        "cents",
        F.row_number().over(Window.orderBy("t")).alias("rn"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(w).alias("s"),
        F.sum((F.col("cents").cast("decimal(38,0)") * F.col("cents")))
        .over(w)
        .alias("ss"),
    )
    mean = F.col("s").cast("double") / 24
    sd = F.sqrt((24 * F.col("ss") - F.col("s") * F.col("s")).cast("double") / 576)
    breach = (
        F.when(F.col("cents") > mean + 2 * sd, 1)
        .when(F.col("cents") < mean - 2 * sd, -1)
        .otherwise(0)
        .cast("long")
    )
    return roll.filter(F.col("rn") >= 24).select(
        "t",
        "cents",
        (mean + 0).alias("mean_cents"),
        (sd + 0).alias("sd_cents"),
        breach.alias("breach"),
    )


@register(
    "ext_interarrival_stats",
    """
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_us,
           CAST(max(gap_us) AS BIGINT) AS max_us,
           CAST(sum(gap_us) AS DOUBLE) / count(gap_us) AS mean_us,
           quantile_cont(gap_us, 0.5) AS p50_us
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def ext_interarrival_stats(spark, sf_dir):
    """Per-event-type inter-arrival statistics: consecutive gaps under
    the total (ts, event_id) order as EXACT integer microseconds
    (epoch_us both engines — the micros doctrine), with min/max/mean
    and the interpolated median (the percentile == quantile_cont
    pair). The arrival-rate telemetry every ops dashboard needs; gaps
    are also the inputs to exponential burn-rate alerting. Scale: one
    window pass partitioned by type, then a partial-aggregable
    rollup (the median is per-type, bounded groups). Reference
    analog: the reference's time-feature derivation
    (project/db.py:330-360) extracts calendar fields; this extracts
    the process dynamics."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pus = F.unix_micros(F.col("ts").cast("timestamp"))  # NTZ -> micros
    seq = ev.select(
        "event_type",
        (pus - F.lag(pus).over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            F.min("gap_us").cast("long").alias("min_us"),
            F.max("gap_us").cast("long").alias("max_us"),
            (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("mean_us"),
            F.expr("percentile(gap_us, 0.5)").alias("p50_us"),
        )
        .orderBy("event_type")
    )


_ALPHA, _BETA, _GAMMA = 0.3, 0.1, 0.2
_M = 7  # weekly seasonality


def _hw_step_sql(lev: str, tr: str, s: list[str], y: str, idx: str) -> dict[str, str]:
    """One additive Holt-Winters update with every subterm inlined —
    identical op tree on both engines. The seasonal slot idx (= rn %
    7 BEFORE the update) is read for the level and rewritten."""
    s_old = (
        "(CASE " + " ".join(f"WHEN {idx} = {i} THEN {s[i]}" for i in range(_M)) + " END)"
    )
    lev_n = f"({_ALPHA} * ({y} - {s_old}) + {1 - _ALPHA} * ({lev} + {tr}))"
    tr_n = f"({_BETA} * ({lev_n} - {lev}) + {1 - _BETA} * {tr})"
    out = {"lev": lev_n, "tr": tr_n}
    for i in range(_M):
        out[f"s{i}"] = (
            f"(CASE WHEN {idx} = {i} THEN "
            f"({_GAMMA} * ({y} - {lev_n}) + {1 - _GAMMA} * {s_old}) "
            f"ELSE {s[i]} END)"
        )
    return out


def _hw_oracle() -> str:
    s_cols = [f"w.s{i}" for i in range(_M)]
    st = _hw_step_sql("w.lev", "w.tr", s_cols, "d.y", "(w.rn % 7)")
    s_select = ", ".join(st[f"s{i}"] + f" AS s{i}" for i in range(_M))
    s_final = ", ".join(f"s{i}" for i in range(_M))
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum({_CENTS.format(col="value")}) AS DOUBLE) AS y
      FROM events WHERE event_type = 'purchase'
      GROUP BY CAST(ts AS DATE)
    ),
    seq AS MATERIALIZED (
      SELECT y, row_number() OVER (ORDER BY day) AS rn FROM daily
    ),
    n AS (SELECT max(rn) AS len FROM seq),
    walk(rn, lev, tr, s0, s1, s2, s3, s4, s5, s6) AS (
      -- rn = 1: the state AFTER consuming day 1 (level init), matching
      -- the Spark fold whose init consumes seq[0]
      SELECT 1, (SELECT y FROM seq WHERE rn = 1), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE)
      UNION ALL
      SELECT w.rn + 1, {st["lev"]}, {st["tr"]}, {s_select}
      FROM walk w JOIN seq d ON d.rn = w.rn + 1
    ),
    fin AS (
      SELECT w.* FROM walk w JOIN n ON w.rn = n.len
    )
    SELECT CAST(rn AS BIGINT) AS n_days, lev AS level_, tr AS trend,
           {s_final},
           lev + tr + (CASE (rn % 7) WHEN 0 THEN s0 WHEN 1 THEN s1
             WHEN 2 THEN s2 WHEN 3 THEN s3 WHEN 4 THEN s4 WHEN 5 THEN s5
             ELSE s6 END) AS forecast_next
    FROM fin
    """


@register("ext_holt_winters_seasonal", _hw_oracle())
def ext_holt_winters_seasonal(spark, sf_dir):
    """Additive Holt-Winters (alpha=0.3, beta=0.1, gamma=0.2, weekly
    season) over the daily purchase-cents series. The fold walks the
    CALENDAR-BOUNDED day sequence (the series length grows with the
    date range, not the row count — the Theil-Sen boundedness
    argument), carrying (level, trend, s0..s6): Spark folds the
    sorted day array with F.aggregate, the oracle walks the identical
    recursion as a recursive CTE, and every update is multiply/add of
    doubles — no libm — so the state matches bitwise (the
    ml_hmm_forward doctrine). The seasonal slot is read at rn%7
    BEFORE the update and rewritten after, the same slot both
    engines. Output: final state + one-step forecast, unrounded.
    Scale: the daily rollup is one partial-aggregable groupBy; the
    fold is a 1-row array aggregate over <= days elements. Reference
    analog: none (seasonal upgrade of ext_holt_linear)."""
    daily = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.expr(_CENTS.format(col="value"))).cast("double").alias("y"))
    )
    seqs = daily.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("seq")
    )
    s_cols = [f"acc.s{i}" for i in range(_M)]
    st = _hw_step_sql("acc.lev", "acc.tr", s_cols, "x.y", "(acc.i % 7)")
    named = ", ".join(
        ["'lev', " + st["lev"], "'tr', " + st["tr"]]
        + [f"'s{i}', " + st[f"s{i}"] for i in range(_M)]
        + ["'i', acc.i + 1"]
    )
    init_s = ", ".join(f"'s{i}', CAST(0 AS DOUBLE)" for i in range(_M))
    fold = F.expr(
        f"""
        aggregate(
          slice(seq, 2, size(seq) - 1),
          named_struct('lev', seq[0].y, 'tr', CAST(0 AS DOUBLE), {init_s},
                       'i', 1),
          (acc, x) -> named_struct({named})
        )
        """
    )
    fin = seqs.select(F.size("seq").alias("n_days_i"), fold.alias("st"))
    season_next = (
        "(CASE (st.i % 7) WHEN 0 THEN st.s0 WHEN 1 THEN st.s1 WHEN 2 THEN st.s2 "
        "WHEN 3 THEN st.s3 WHEN 4 THEN st.s4 WHEN 5 THEN st.s5 ELSE st.s6 END)"
    )
    return fin.select(
        F.col("n_days_i").cast("long").alias("n_days"),
        F.col("st.lev").alias("level_"),
        F.col("st.tr").alias("trend"),
        *[F.col(f"st.s{i}").alias(f"s{i}") for i in range(_M)],
        F.expr(f"st.lev + st.tr + {season_next}").alias("forecast_next"),
    )


@register(
    "ext_interval_arithmetic",
    """
    WITH d AS (
      -- due_d adds 90 as a bare INTEGER (DuckDB DATE + INT = days):
      -- INTERVAL 90 DAY would compare EQUAL to INTERVAL 3 MONTH under
      -- DuckDB's normalized interval equality (1 month == 30 days) and
      -- common-subexpression elimination silently collapses the two
      -- additions into one — reproduced and confirmed on duckdb 1.0
      SELECT CAST(o_orderdate AS DATE) AS od,
             CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS due_m,
             CAST(o_orderdate AS DATE) + 90 AS due_d
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(date_diff('day', DATE '1970-01-01', CAST(due_m AS DATE)))
                AS BIGINT) AS sum_epochday_months,
           CAST(sum(date_diff('day', DATE '1970-01-01', CAST(due_d AS DATE)))
                AS BIGINT) AS sum_epochday_days,
           CAST(sum(CASE WHEN EXTRACT(day FROM od)
                         <> EXTRACT(day FROM CAST(due_m AS DATE))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_eom_clamped
    FROM d
    """,
)
def ext_interval_arithmetic(spark, sf_dir):
    """Calendar-interval semantics parity: orderdate + 3 months (with
    end-of-month clamping — Jan 31 + 3 months = Apr 30 on BOTH
    engines: Spark add_months and DuckDB + INTERVAL MONTH clamp
    identically) vs + 90 days (pure day arithmetic). The results ship
    as exact epoch-day checksums plus the count of clamped
    end-of-month cases — the date math every billing/due-date
    pipeline depends on, proven equivalent cross-engine rather than
    assumed. Scale: one scan, 4-cell aggregate. Reference analog:
    the reference derives date features (project/db.py:330-360); this
    pins the interval semantics."""
    od = F.col("o_orderdate").cast("date")
    due_m = F.add_months(od, 3)
    due_d = F.date_add(od, 90)
    d = _t(spark, sf_dir, "orders").select(
        od.alias("od"), due_m.alias("due_m"), due_d.alias("due_d")
    )
    epoch = F.lit("1970-01-01").cast("date")
    return d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.datediff(F.col("due_m"), epoch)).cast("long").alias("sum_epochday_months"),
        F.sum(F.datediff(F.col("due_d"), epoch)).cast("long").alias("sum_epochday_days"),
        F.sum(
            F.when(F.dayofmonth(F.col("od")) != F.dayofmonth(F.col("due_m")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_eom_clamped"),
    )
