"""Sources, sinks and table layout: file formats and the Python data
source, write/read round trips (merge, overwrite, compaction,
schema evolution, time travel, CDC), partition/bucket/z-order layout
and the pruning it buys. Write-path entries write a deterministic
payload, read it back and emit digests that the oracle recomputes
straight from the source tables.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ..llm.prep import md5_bucket
from ..operators.bucketing import save_bucketed
from . import _HEXPOS, _t, register


@register(
    "ext_bucketed_join_colocated",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def ext_bucketed_join_colocated(spark, sf_dir):
    """Co-located join on pre-bucketed tables — the 100 TB layout move
    that removes the dominant shuffle of every recurring fact-fact
    join (SURVEY §1.4: the reference's btree indexes become layout).
    Both sides are persisted bucketed by the join key with the SAME
    bucket count, so Catalyst plans a sort-merge join with NO Exchange
    on either side; the only shuffle left in the plan is the final
    5-group rollup. The bucketed write happens once per SF dir
    (exists-check), so a second run — and a bench rep — measures the
    join itself, which is the recurring cost a nightly pipeline pays.
    The oracle recomputes the same revenue rollup from the logical
    inputs, covering the bucketed write + read + join round trip.

    Money math rides integer units (r11): the 100x ledger sweep caught
    this entry's round(sum(price*(1-disc)), 2) one 2dp grid step apart
    between engines — each of the 5 priority groups accumulates ~12M
    order-divergent double terms (~6e11 dollars), the same channel as
    the r11 TPC-H q6/q8/q9/q17 fixes and at exactly the accumulation
    depth where it opens. cents * (100 - pct) is an exact BIGINT in
    1e-4-dollar units, the sum accumulates order-insensitively in
    DECIMAL(38,0), and the one display division by 10000.0 is the
    same IEEE op on both engines. Exactness bound (r12, per ADVICE):
    the "<2^53 integer" qualifier holds while a group's sum stays
    under 2^53 units ≈ $9.0e11; the 100x replica sits at ~6e15 units
    (~1.5x headroom), so it lapses somewhere around a ~150x replica.
    Past that, cross-engine EQUALITY still holds — both engines cast
    the SAME exact DECIMAL integer to double, and round-to-nearest of
    an identical integer is deterministic and identical — only the
    "exactly representable" claim weakens to "identically rounded".
    The oracle mirrors the cast, so the gate stays green at any SF."""
    import hashlib

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    t_orders, t_items = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    def ensure(df, name, key):
        if spark.catalog.tableExists(name):
            return
        # the catalog is per-session (in-memory metastore) but the
        # warehouse dir persists: a table written by a previous session
        # is an orphaned location here — clear it before recreating
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        save_bucketed(df, name, key, num_buckets=16, sort_col=key)

    ensure(o, t_orders, "o_orderkey")
    ensure(l, t_items, "l_orderkey")
    # merge hint: at bench SFs the orders side fits the broadcast
    # threshold and Catalyst would pick BHJ, never exercising the
    # co-located path; at 100 TB both sides are fact-sized and SMJ is
    # what runs, so pin it
    joined = spark.table(t_orders).hint("merge").join(
        spark.table(t_items),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    keep_pct = 100 - F.round(F.col("l_discount") * 100).cast("long")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum((cents * keep_pct).cast("decimal(38,0)")).cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
    )


@register(
    "ext_source_jsonl",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE event_type = 'purchase'
    """,
)
def ext_source_jsonl(spark, sf_dir):
    """JSON-lines source round trip: write a deterministic events
    projection as JSONL, read it back with spark.read.json under an
    explicit schema (schema inference is a scan you don't pay twice at
    100 TB), and emit digests the oracle recomputes from the parquet
    view — same robustness pattern as the sink checks."""
    import tempfile

    path = tempfile.mkdtemp(prefix="jsonl_src_") + "/events"
    src = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
    )
    src.write.mode("overwrite").json(path)
    back = spark.read.schema("event_id long, cents long").json(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "ext_source_orc",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events WHERE event_type = 'error'
    """,
)
def ext_source_orc(spark, sf_dir):
    """ORC source round trip (second columnar format beside parquet):
    deterministic events projection written as ORC, read back, digest
    aggregates checked against the parquet view — DuckDB never needs to
    read ORC, only recompute the digests from the logical source."""
    import tempfile

    path = tempfile.mkdtemp(prefix="orc_src_") + "/events"
    src = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", F.round(F.col("value") * 100).cast("long").alias("cents"))
    )
    src.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "ext_compact_small_files",
    """
    SELECT count(*) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           true AS fewer_files
    FROM events
    """,
)
def ext_compact_small_files(spark, sf_dir):
    """Small-file compaction — the operational fix for the classic
    100 TB killer (a streaming sink or over-parallel writer leaving
    thousands of KB-sized files that make every scan metadata-bound).
    Write events as 64 shards, compact to 4 with a coalesce rewrite
    (coalesce, not repartition: no shuffle, just fewer write tasks),
    and verify the data digest survived and the file count dropped."""
    import glob
    import tempfile

    work = tempfile.mkdtemp(prefix="compact_")
    src = _t(spark, sf_dir, "events").select("event_id")
    src.repartition(64).write.parquet(f"{work}/small")
    n_small = len(glob.glob(f"{work}/small/part-*.parquet"))
    spark.read.parquet(f"{work}/small").coalesce(4).write.parquet(f"{work}/compact")
    n_compact = len(glob.glob(f"{work}/compact/part-*.parquet"))
    back = spark.read.parquet(f"{work}/compact")
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_event_id"),
        F.lit(n_compact < n_small).alias("fewer_files"),
    )


@register(
    "ext_dynamic_partition_overwrite",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (the warehouse backfill semantic):
    rewriting ONE partition replaces only that partition — sibling
    partitions are untouched. The events table is written partitioned
    by event_type; the 'click' partition is then overwritten with the
    same rows in dynamic mode; the oracle's per-type counts hold iff
    no other partition was clobbered (static mode would have wiped
    them)."""
    import tempfile

    work = tempfile.mkdtemp(prefix="dpo_") + "/t"
    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    e.write.partitionBy("event_type").parquet(work)
    clicks = e.filter(F.col("event_type") == "click")
    (
        clicks.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(work)
    )
    back = spark.read.parquet(work)
    return back.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ext_source_csv_corrupt",
    """
    SELECT * FROM (VALUES
      (CAST(3 AS BIGINT), CAST(3 AS BIGINT), CAST(6 AS BIGINT))
    ) t(n_good, n_corrupt, n_rows)
    """,
)
def ext_source_csv_corrupt(spark, sf_dir):
    """Malformed-input handling (PERMISSIVE mode): rows that fail the
    schema land in columnNameOfCorruptRecord instead of killing the
    job — the property that matters when 100 TB of vendor CSV has a
    bad row every million. Payload: 3 good rows, 2 type-corrupt, 1
    short row; ALL THREE malformed rows are captured (Spark 4 treats
    short rows as corrupt too), and no row is silently dropped
    (n_rows = 6)."""
    import tempfile

    path = tempfile.mkdtemp(prefix="csv_corrupt_") + "/data.csv"
    with open(path, "w") as f:
        f.write("id,qty,price\n")
        f.write("1,10,1.5\n")
        f.write("2,20,2.5\n")
        f.write("3,30,3.5\n")
        f.write("4,notanumber,4.5\n")   # type-corrupt -> _corrupt_record
        f.write("5,50,alsobad\n")        # type-corrupt -> _corrupt_record
        f.write("6,60\n")                # short row -> corrupt in Spark 4 PERMISSIVE (not null-padded)
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .schema("id long, qty long, price double, _bad string")
        .csv(path)
    )
    df = df.cache()
    return df.agg(
        F.count(F.when(F.col("_bad").isNull(), 1)).alias("n_good"),
        F.count(F.col("_bad")).alias("n_corrupt"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "ext_manifest_pruned_scan",
    """
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events WHERE user_id BETWEEN 40 AND 60
    """,
)
def ext_manifest_pruned_scan(spark, sf_dir):
    """Metadata-pruned scan end to end: events written Z-ordered on
    (user_id, value), a file-level min/max manifest built over it, and
    the range read resolved through the manifest (only overlapping
    files opened — operators/manifest.py). The oracle is the plain
    relational filter: pruning must be invisible in the answer."""
    import tempfile

    from ..operators.layout import zorder_write
    from ..operators.manifest import build_manifest, pruned_read

    work = tempfile.mkdtemp(prefix="manifest_scan_")
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zorder_write(e, "user_id", "value", f"{work}/t", num_files=8)
    build_manifest(spark, f"{work}/t", ["user_id"], f"{work}/m")
    out = pruned_read(spark, f"{work}/t", f"{work}/m", "user_id", 40, 60)
    return out.select("event_id", "user_id", F.round("value", 4).alias("value"))


@register(
    "ext_merge_upsert",
    """
    WITH target AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000
    ),
    source AS (
      SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
      FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
    ),
    merged AS (
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice
      FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    )
    SELECT count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           round(sum(o_totalprice), 2) AS sum_total
    FROM merged
    """,
)
def ext_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert semantics on plain parquet (no Delta in this
    container): WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT,
    expressed as a full-outer join with source-wins coalesce and an
    atomic table rewrite. The digest (count + key/price sums) is
    recomputed by the oracle from the logical inputs, so the check
    covers both the merge semantics and the write-read round trip.
    At scale the join shuffles on the merge key — the same plan Delta's
    MERGE produces for the matched partition set."""
    import tempfile

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    target = o.filter(F.col("o_orderkey") < 1000)
    source = o.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500)).select(
        "o_orderkey", (F.col("o_totalprice") + 10.0).alias("o_totalprice")
    )
    path = tempfile.mkdtemp(prefix="merge_") + "/t"
    target.write.mode("overwrite").parquet(path)

    tgt = spark.read.parquet(path).alias("t")
    src = source.alias("s")
    merged = tgt.join(src, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer").select(
        F.coalesce(F.col("s.o_orderkey"), F.col("t.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("s.o_totalprice"), F.col("t.o_totalprice")).alias("o_totalprice"),
    )
    out_path = tempfile.mkdtemp(prefix="merge_out_") + "/t"
    merged.write.mode("overwrite").parquet(out_path)
    back = spark.read.parquet(out_path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_orderkey").alias("sum_keys"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
    )


@register(
    "ext_scd2_history",
    """
    WITH ordered AS (
      SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts,
             row_number() OVER (PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_all,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY date_trunc('microseconds', ts), event_id) AS rn_type
      FROM events WHERE user_id < 10
    ),
    runs AS (
      SELECT user_id, event_type, min(ts) AS valid_from
      FROM ordered GROUP BY user_id, event_type, rn_all - rn_type
    ),
    hist AS (
      -- event_type tiebreak: two different-type runs can share a
      -- valid_from timestamp (same-microsecond events), and lead()
      -- order must be deterministic in both engines
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
               ORDER BY valid_from, event_type) AS valid_to
      FROM runs
    )
    SELECT user_id, event_type,
           CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_epoch,
           CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_epoch
    FROM hist
    """,
)
def ext_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: collapse each user's
    consecutive same-type runs (islands), then chain validity windows
    with lead() — open-ended current rows keep NULL valid_to. The
    standard CDC-to-warehouse materialization, expressed as two
    user-partitioned windows + one aggregate; timestamps surface as
    epoch BIGINT (engine-portable). 10-user slice bounds the output."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("user_id", "event_type", "grp")
        .agg(F.min("ts").alias("valid_from"))
    )
    w_hist = Window.partitionBy("user_id").orderBy("valid_from", "event_type")
    return runs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
    ).select(
        "user_id",
        "event_type",
        F.unix_timestamp("valid_from").alias("valid_from_epoch"),
        F.unix_timestamp("valid_to").alias("valid_to_epoch"),
    )


@register(
    "ext_incremental_rollup",
    """
    SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_total
    FROM orders
    GROUP BY 1, 2
    """,
)
def ext_incremental_rollup(spark, sf_dir):
    """Materialized-rollup maintenance parity: the monthly aggregate is
    computed as base partials (orderdate < 1997) MERGED with delta
    partials (the rest) — sum-of-sums and sum-of-counts — and must
    equal the oracle's single-pass aggregate. This is the pattern that
    turns a 100 TB re-aggregation into an append-only delta merge:
    every measure kept is re-aggregable (count, sum; avg is derived at
    read time as sum/count, never stored). Both partial aggregations
    and the merge are partial-aggregable groupBys on the same key, so
    AQE coalesces the tiny merge shuffle.

    Money math rides integer units (r11): the 100x ledger sweep caught
    round(sum(o_totalprice), 4) one 4dp step apart across engines —
    at ~1.5e10 dollars per (month, status) group the 1e-4 grid is only
    ~50 double-ULPs wide, so even ~60k order-divergent terms straddle
    it (the channel is magnitude-to-grid ratio, not just term count).
    Cents are exact BIGINTs, partials and the merge both accumulate
    DECIMAL(38,0), and the one display division of a <2^53 integer by
    100.0 is the same IEEE op on both engines."""
    o = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01 00:00:00").cast("timestamp")
    month = F.unix_timestamp(F.date_trunc("month", F.col("o_orderdate"))).alias(
        "month_epoch"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def partial(df):
        return df.groupBy(month, "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents.cast("decimal(38,0)")).alias("sum_cents"),
        )

    base = partial(o.filter(F.col("o_orderdate") < cut))
    delta = partial(o.filter(F.col("o_orderdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("month_epoch", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            (F.sum("sum_cents").cast("double") / F.lit(100.0)).alias("sum_total"),
        )
    )


@register(
    "ext_python_datasource",
    """
    WITH src AS (
      SELECT i AS id,
             ((strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 1, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 2, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), 3, 1)) - 1)) AS bucket
      FROM range(0, 5000) t(i)
    )
    SELECT CAST(bucket // 256 AS INTEGER) AS bucket_hi,
           count(*) AS n,
           round(sum(bucket / 4096.0), 4) AS sum_weight
    FROM src GROUP BY 1
    """,
)
def ext_python_datasource(spark, sf_dir):
    """Spark 4 Python Data Source API: a custom partitioned source
    (sources/pydatasource.SyntheticEventsDataSource) registered via
    spark.dataSource.register and read through the standard
    spark.read.format(...).load() path, then aggregated. Rows are a
    pure md5 function of the row index, so the DuckDB range() oracle
    reproduces the full source exactly (partition planning and the
    per-task Arrow iterator are the real surface under test). The
    8-way partitions() split means every executor generates its slice
    independently — the connector template for systems Spark lacks a
    reader for."""
    from ..sources.pydatasource import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", "5000")
        .option("partitions", "8")
        .load()
    )
    return (
        df.groupBy(F.expr("CAST(bucket div 256 AS INT)").alias("bucket_hi"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("bucket") / 4096.0), 4).alias("sum_weight"),
        )
    )


@register(
    "ext_scd2_point_in_time_join",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn_all,
             row_number() OVER (PARTITION BY o_custkey, o_orderstatus
               ORDER BY o_orderdate, o_orderkey) AS rn_type
      FROM orders
    ),
    runs AS (
      SELECT o_custkey, o_orderstatus, min(o_orderdate) AS valid_from
      FROM ordered GROUP BY o_custkey, o_orderstatus, rn_all - rn_type
    ),
    hist AS (
      SELECT o_custkey, o_orderstatus, valid_from,
             lead(valid_from) OVER (PARTITION BY o_custkey
               ORDER BY valid_from, o_orderstatus) AS valid_to
      FROM runs
    ),
    fact AS (
      SELECT o_custkey AS custkey, l_shipdate AS ts, l_quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT coalesce(h.o_orderstatus, 'none') AS status_at_ship,
           count(*) AS n, round(sum(f.l_quantity), 4) AS qty
    FROM fact f LEFT JOIN hist h
      ON h.o_custkey = f.custkey
     AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    GROUP BY 1
    """,
)
def ext_scd2_point_in_time_join(spark, sf_dir):
    """Point-in-time (temporal validity) join: each shipment is
    enriched with the customer's order-status VERSION valid at ship
    time — the canonical warehouse lookup against an SCD2 dimension
    (ext_scd2_history builds the version table; this entry joins
    through it). Join shape: equi-key on custkey with half-open
    [valid_from, valid_to) range predicates; the version dimension is
    customer-bounded (a few rows per key), so it broadcasts and the
    fact table never shuffles — at 100 TB the alternative (sort-merge
    on custkey) is one shuffle, still never a range cross-product."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_type = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        o.select(
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
        )
        .groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(F.min("o_orderdate").alias("valid_from"))
    )
    w_hist = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderstatus")
    hist = runs.select(
        "o_custkey",
        "o_orderstatus",
        "valid_from",
        F.lead("valid_from").over(w_hist).alias("valid_to"),
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_quantity")
    fact = li.join(
        o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
    ).select(F.col("o_custkey").alias("custkey"), F.col("l_shipdate").alias("ts"), "l_quantity")
    joined = fact.join(
        F.broadcast(hist),
        (hist.o_custkey == fact.custkey)
        & (fact.ts >= hist.valid_from)
        & (hist.valid_to.isNull() | (fact.ts < hist.valid_to)),
        "left",
    )
    return joined.groupBy(
        F.coalesce("o_orderstatus", F.lit("none")).alias("status_at_ship")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("qty")
    )


@register(
    "ext_json_nested_roundtrip",
    """
    SELECT l_orderkey,
           count(*) AS n_lines,
           CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumbers,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem WHERE l_orderkey < 100
    GROUP BY l_orderkey
    """,
)
def ext_json_nested_roundtrip(spark, sf_dir):
    """Nested-JSON round trip: order lines are packed into a JSON
    document per order (struct with an array of line structs via
    to_json), then parsed back with from_json against an explicit
    nested schema and re-flattened with explode — the
    document-interchange path (event payloads, API dumps) exercised
    end to end. The oracle aggregates the flat rows directly, so any
    loss or type drift in the JSON round trip breaks the match."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    packed = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("line"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("lines")
        )
        .select(
            "l_orderkey",
            F.to_json(F.struct(F.col("l_orderkey").alias("okey"), F.col("lines"))).alias(
                "doc"
            ),
        )
    )
    schema = "okey bigint, lines array<struct<line:int, qty:double>>"
    parsed = packed.select(
        F.from_json("doc", schema).alias("j")
    ).select(F.col("j.okey").alias("l_orderkey"), F.explode("j.lines").alias("ln"))
    return parsed.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("ln.line").cast("long").alias("sum_linenumbers"),
        F.round(F.sum("ln.qty"), 4).alias("sum_qty"),
    )


@register(
    "ext_snapshot_time_travel",
    """
    SELECT 1 AS version, count(*) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM orders WHERE o_orderkey < 1000
    UNION ALL
    SELECT 2, count(*),
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders WHERE o_orderkey < 2000
    """,
)
def ext_snapshot_time_travel(spark, sf_dir):
    """Snapshot-isolation time travel over a plain parquet layout:
    append-only file commits tracked in a per-version manifest (the
    Iceberg/Delta mechanism with the metadata layer inlined), reads
    resolved AS OF each version from its file list — never by
    directory listing, so an in-flight append can't tear a read. Both
    snapshots are aggregated from their manifests and must equal the
    oracle's filter-defined versions."""
    import tempfile

    base = tempfile.mkdtemp(prefix="time_travel_")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    o.filter(F.col("o_orderkey") < 1000).write.parquet(f"{base}/commit1")
    o.filter(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
    ).write.parquet(f"{base}/commit2")
    manifest = {1: [f"{base}/commit1"], 2: [f"{base}/commit1", f"{base}/commit2"]}

    def snapshot(version: int):
        return (
            spark.read.parquet(*manifest[version])
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("sum_cents"),
            )
            .select(F.lit(version).alias("version"), "n_rows", "sum_cents")
        )

    return snapshot(1).unionAll(snapshot(2))


@register(
    "ext_source_xml",
    """
    SELECT id, name, CAST(price AS DOUBLE) AS price FROM (VALUES
      (1, 'alpha', 1.5), (2, 'beta', 2.5), (3, 'gamma', 3.5),
      (4, 'delta', 4.5), (5, 'epsilon', 5.5)
    ) AS t(id, name, price)
    """,
)
def ext_source_xml(spark, sf_dir):
    """Spark 4 built-in XML source (rowTag record splitting + explicit
    schema — no external package since 4.0). The file is written here
    so the entry is hermetic; the oracle is the literal payload. Same
    digest-checked round-trip pattern as ext_source_jsonl/orc."""
    import tempfile

    path = tempfile.mkdtemp(prefix="xml_src_") + "/data.xml"
    rows = [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5),
            (4, "delta", 4.5), (5, "epsilon", 5.5)]
    with open(path, "w") as f:
        f.write("<rows>\n")
        for i, name, price in rows:
            f.write(
                f"  <row><id>{i}</id><name>{name}</name>"
                f"<price>{price}</price></row>\n"
            )
        f.write("</rows>\n")
    return (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("id long, name string, price double")
        .load(path)
    )


@register(
    "ext_metadata_columns",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def ext_metadata_columns(spark, sf_dir):
    """Hidden _metadata columns as file lineage: events are written
    partitioned by event_type, read back WITHOUT the partition column
    projected, and each row's origin is recovered purely from
    _metadata.file_path — the which-file-did-this-row-come-from
    audit every warehouse debugging session needs. The per-origin
    counts must equal the plain per-type counts (the oracle), proving
    the hidden column binds to real scan-level file paths."""
    import tempfile

    out = tempfile.mkdtemp(prefix="meta_cols_") + "/by_type"
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    e.write.partitionBy("event_type").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
            ).alias("event_type")
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ext_shard_balance_report",
    f"""
    SELECT (({_HEXPOS.format(p=1)}) * 16 + ({_HEXPOS.format(p=2)})) % 32 AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(count(*) * 32.0 / sum(count(*)) OVER (), 4) AS balance_factor
    FROM (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
    GROUP BY 1
    """,
)
def ext_shard_balance_report(spark, sf_dir):
    """Output-shard balance report: assign every document to one of 32
    shards by consistent md5 hash and report per-shard row/byte totals
    plus the balance factor (shard size over ideal size — the straggler
    predictor for a 100 TB write). Hash sharding is how the engine
    would lay out its output files; this entry is the audit that the
    layout is actually even. One grouped count; the 32-row window for
    the factor is shard-bounded."""
    d = _t(spark, sf_dir, "documents")
    shard = (md5_bucket(F.col("doc_id"), 2) % 32).alias("shard_id")
    per = d.select(shard, "n_chars").groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("total"))
    return per.crossJoin(F.broadcast(total)).select(
        "shard_id",
        "n_docs",
        "total_chars",
        F.round(F.col("n_docs") * 32.0 / F.col("total"), 4).alias("balance_factor"),
    )


@register(
    "ext_incremental_join_view",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def ext_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view (revenue by nation over
    the 4-way lineitem-orders-customer-nation join): the maintained
    result is base partials (l_orderkey % 7 <> 0) union-MERGED with
    delta partials (% 7 = 0), each slice joined to the dims
    independently — and must equal the oracle's single-pass join-
    aggregate. This is the join-IVM sibling of ext_incremental_rollup:
    because the view's measures are re-aggregable (count, integer-cent
    sum) and the join is against slowly-changing dims, appending a
    delta costs one delta-sized join + a tiny partials merge, never a
    100 TB re-join. Dims ride broadcast joins in both slice plans;
    revenue is integer cents so the merge is exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "long"
    )

    def partial(facts):
        return (
            facts.select("l_orderkey", cents.alias("cents"))
            .join(o, F.col("l_orderkey") == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_items"), F.sum("cents").alias("revenue_cents"))
        )

    base = partial(li.filter(F.col("l_orderkey") % 7 != 0))
    delta = partial(li.filter(F.col("l_orderkey") % 7 == 0))
    return (
        base.unionByName(delta)
        .groupBy("n_name")
        .agg(
            F.sum("n_items").cast("long").alias("n_items"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )
        .select(F.col("n_name").alias("nation"), "n_items", "revenue_cents")
    )


@register(
    "ext_source_binaryfile",
    """
    SELECT CAST(gs.i AS BIGINT) AS doc_id,
           CAST(32 AS BIGINT) AS n_bytes,
           md5(md5(CAST(gs.i AS VARCHAR))) AS content_md5
    FROM generate_series(0, 19) gs(i)
    """,
)
def ext_source_binaryfile(spark, sf_dir):
    """`binaryFile` source — the object-store ingestion path for
    multimodal corpora (images/audio land as opaque files; Spark lists
    them distributed and yields (path, modificationTime, length,
    content) with the CONTENT column lazily read per file). Fixture:
    20 files minted driver-side, each holding the 32-byte ascii md5 of
    its id; the entry reads them back through the format (with a
    pathGlobFilter, the listing-side predicate) and digests content —
    the oracle recomputes both digest layers from the minting formula,
    so a corrupted read changes the hash. At 100 TB this scan
    parallelizes per file and prunes on path; pair with
    llm_multimodal_* for the decode stages."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="binsrc_")
    import hashlib

    for i in range(20):
        with open(os.path.join(d, f"{i}.bin"), "wb") as f:
            f.write(hashlib.md5(str(i).encode()).hexdigest().encode())
    # decoy that the glob filter must exclude
    with open(os.path.join(d, "ignore.txt"), "wb") as f:
        f.write(b"not a bin")
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@register(
    "ext_merge_schema_evolution",
    """
    WITH old_batch AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(NULL AS VARCHAR) AS etype
      FROM events WHERE event_id % 2 = 0
    ),
    new_batch AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             event_type AS etype
      FROM events WHERE event_id % 2 = 1
    ),
    unioned AS (SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch)
    SELECT coalesce(etype, '<pre-evolution>') AS etype,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN etype IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM unioned GROUP BY 1
    """,
)
def ext_merge_schema_evolution(spark, sf_dir):
    """Parquet schema evolution on read: an old batch written WITHOUT
    the `etype` column and a new batch written WITH it live in one
    table directory; `mergeSchema=true` unions the footers so old
    files surface NULL for the added column — the append-only
    evolution path a long-lived 100 TB table actually takes (no
    rewrite of historical files; the merge cost is per-FOOTER, not
    per-row, and schema-stable tables should pin the schema instead).
    The read-back rollup groups by the evolved column with a sentinel
    for pre-evolution rows; the oracle recomputes it from the logical
    source, so a wrong null-fill or dropped file changes the hash."""
    import tempfile

    path = tempfile.mkdtemp(prefix="evolve_") + "/t"
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_type",
    )
    e.filter(F.col("event_id") % 2 == 0).select("event_id", "cents").write.mode(
        "append"
    ).parquet(path)
    e.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "cents", F.col("event_type").alias("etype")
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy(
        F.coalesce(F.col("etype"), F.lit("<pre-evolution>")).alias("etype")
    ).agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.when(F.col("etype").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
    )


@register(
    "ext_source_text",
    """
    WITH lines AS (
      SELECT coalesce(regexp_replace(text, '[\\r\\n]+', ' ', 'g'), '') AS line
      FROM documents
    )
    SELECT count(*) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS sum_chars,
           count(DISTINCT line) AS n_distinct,
           CAST(sum(('0x' || substr(md5(line), 1, 8))::BIGINT) AS BIGINT)
             AS md5_digest
    FROM lines
    """,
)
def ext_source_text(spark, sf_dir):
    """Plain-text file source round trip (the last cell of the source
    matrix: CSV/JSONL/ORC/XML/parquet/binaryFile/Python-DataSource +
    text): document bodies are newline-normalized (a text line IS the
    record delimiter — un-normalized embedded newlines would silently
    split records), written with write.text, read back with
    spark.read.text, and digested (line count, char mass, distinct
    lines, order-insensitive md5 sum) against an oracle that
    recomputes the same digests straight from the table. Scale shape:
    narrow write + narrow scan, no shuffle until the 1-row digest
    aggregate; text is the raw-corpus interchange format an LLM
    pipeline ingests by the shard."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="text_src_")
    try:
        path = root + "/docs"
        # coalesce NULL bodies to '' — the text writer requires a
        # non-null value column (regexp_replace propagates null)
        src = _t(spark, sf_dir, "documents").select(
            F.coalesce(
                F.regexp_replace("text", r"[\r\n]+", " "), F.lit("")
            ).alias("value")
        )
        src.write.mode("overwrite").text(path)
        back = spark.read.text(path)
        out = back.agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.length("value")).alias("sum_chars"),
            F.countDistinct("value").alias("n_distinct"),
            F.sum(
                F.conv(F.substring(F.md5("value"), 1, 8), 16, 10).cast("long")
            ).alias("md5_digest"),
        )
        # materialize before the temp dir is removed — the returned
        # plan must not depend on the scratch files
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ext_snapshot_diff_cdc",
    """
    WITH old AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 10 < 7
    ),
    new AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 100 = 55 THEN 'X' ELSE o_orderstatus END AS st,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
               + CASE WHEN o_orderkey % 100 = 44 THEN 1 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 10 > 2
    )
    SELECT change,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS key_digest
    FROM (
      SELECT coalesce(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'insert'
                  WHEN n.k IS NULL THEN 'delete'
                  WHEN o.st <> n.st OR o.cents <> n.cents THEN 'update'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
    ) GROUP BY change
    """,
)
def ext_snapshot_diff_cdc(spark, sf_dir):
    """Snapshot-diff change-data-capture: given two table versions
    (deterministically derived old/new slices with status flips and
    cent bumps injected INSIDE the key overlap), classify every key as insert / delete /
    update / unchanged via ONE full outer join on the key plus a
    column compare — the diff step of a snapshot-based CDC pipeline
    (the batch complement of stream_update_mode_upsert's CDC-out, and
    what feeds ext_merge_upsert's MERGE). At 100 TB both sides
    bucket/partition by the key so the outer join is co-located
    (ext_bucketed_join_colocated's layout move); with deletion-vector
    formats the delete class arrives for free, which is out of this
    container's scope and documented here instead. Row identity is
    pinned by exact integers (keys, cents), so the class counts and
    key digests are engine-exact."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    old = o.filter(F.col("o_orderkey") % 10 < 7).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        cents.alias("cents"),
    )
    new = o.filter(F.col("o_orderkey") % 10 > 2).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 100 == 55, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
        (cents + F.when(F.col("o_orderkey") % 100 == 44, 1).otherwise(0)).alias(
            "cents"
        ),
    )
    j = old.alias("o").join(new.alias("n"), F.col("o.k") == F.col("n.k"), "full_outer")
    classified = j.select(
        F.coalesce(F.col("o.k"), F.col("n.k")).alias("k"),
        F.when(F.col("o.k").isNull(), "insert")
        .when(F.col("n.k").isNull(), "delete")
        .when(
            (F.col("o.st") != F.col("n.st")) | (F.col("o.cents") != F.col("n.cents")),
            "update",
        )
        .otherwise("unchanged")
        .alias("change"),
    )
    return classified.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("key_digest"),
    )


# Canonical row serialization for checksumming: every column cast to a
# format both engines print identically (integers, strings, epoch
# micros, half-up cents).
_ROW_CANON_SQL = (
    "concat_ws('|', CAST(event_id AS STRING), CAST(user_id AS STRING), "
    "event_type, CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS STRING), "
    "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS STRING))"
)
_ROW_CANON_DUCK = (
    "concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR), "
    "event_type, CAST(epoch_us(ts) AS VARCHAR), "
    "CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR))"
)


@register(
    "ext_table_checksum",
    f"""
    WITH h AS (
      SELECT event_type,
             CAST(CAST('0x' || substr(md5({_ROW_CANON_DUCK}), 1, 15)
                  AS BIGINT) AS HUGEINT) AS d
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(d) % CAST(4611686018427387904 AS HUGEINT) AS BIGINT)
             AS checksum
    FROM h GROUP BY event_type
    """,
)
def ext_table_checksum(spark, sf_dir):
    """Order-insensitive per-partition table checksum — the migration
    /replication validator: serialize each row canonically (integers,
    epoch micros, half-up cents — formats both engines print
    identically), md5 it, keep 60 bits (15 hex chars, exact in any
    engine's signed 64), and SUM per group. Addition is commutative,
    so the checksum is independent of row order, partitioning, and
    engine — equal data yields equal checksums, and a single changed
    row changes the sum with probability 1 - 2^-60. The sum
    accumulates in DECIMAL(38,0) (DuckDB: HUGEINT recast) since 2^60
    x rows passes BIGINT immediately, then FOLDS to int64 range
    (mod 2^62, emitted BIGINT) so the published checksum is
    representation-proof: every engine, driver, and hash
    canonicalizer round-trips a sub-2^62 integer exactly, whereas a
    ~2^70 DECIMAL(38,0) silently diverges in any float64 or
    HUGEINT-vs-DECIMAL formatting path (r8 driver red, VERDICT.md).
    Folding is checksum-neutral: mod is a homomorphism over the sum,
    and collision probability stays ~2^-62 per changed row. Scale
    shape: one
    partial-aggregable pass, no shuffle beyond the tiny group rollup —
    THE pattern for verifying a 100 TB copy without sorting it.
    Reference analog: the reference's row-count verification
    (project/db.py:430 family) upgraded to content equality."""
    e = _t(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.expr(
            f"CAST(conv(substr(md5({_ROW_CANON_SQL}), 1, 15), 16, 10) "
            "AS DECIMAL(38,0))"
        ).alias("d"),
    )
    return h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(
            "CAST(sum(d) % CAST(4611686018427387904 AS DECIMAL(38,0)) "
            "AS BIGINT)"
        ).alias("checksum"),
    )


# Morton interleave of two 8-bit buckets, expressed with >>/<</& which
# parse identically in Spark SQL and DuckDB (verified): bit i of xb
# lands at 2i, bit i of yb at 2i+1.
_MORTON_EXPR = " + ".join(
    [f"(((xb >> {i}) & 1) << {2 * i})" for i in range(8)]
    + [f"(((yb >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
)


@register(
    "ext_zorder_cluster",
    f"""
    WITH b AS (
      SELECT least(CAST(floor(p_retailprice / 8) AS BIGINT), 255) AS xb,
             least(CAST(p_size AS BIGINT) * 5, 255) AS yb
      FROM part
    ),
    z AS (SELECT xb, yb, {_MORTON_EXPR} AS morton FROM b)
    SELECT morton >> 8 AS zbucket, CAST(count(*) AS BIGINT) AS n_parts,
           min(xb) AS min_xb, max(xb) AS max_xb,
           min(yb) AS min_yb, max(yb) AS max_yb,
           CAST((max(xb) - min(xb) + 1) * (max(yb) - min(yb) + 1)
                AS BIGINT) AS bbox_area
    FROM z GROUP BY 1
    """,
)
def ext_zorder_cluster(spark, sf_dir):
    """Z-order (Morton) clustering of parts on the two-dimensional
    (price-bucket, size-bucket) key — the data-layout operator behind
    Delta/Iceberg OPTIMIZE ZORDER: interleaving the bits of both
    8-bit bucket keys makes lexicographic Morton order preserve
    2-D locality, so files written in that order carry TIGHT min/max
    ranges on BOTH columns and the scan planner can skip on either
    predicate (the pruning mechanic ext_manifest_pruned_scan asserts
    for one dimension). The entry reports per-Morton-prefix (top 8
    bits) bounding boxes — exactly the zone-map rows a 100 TB layout
    would persist; bbox_area being small (vs the 65k full grid) IS
    the locality guarantee. All arithmetic is integer bit math
    (>>/<</& parse identically in Spark SQL and DuckDB — verified);
    one partial-aggregable groupBy. Reference analog: none (the
    reference relies on single-column B-trees, SURVEY row 6)."""
    p = _t(spark, sf_dir, "part")
    b = p.select(
        F.least(
            F.floor(F.col("p_retailprice") / 8).cast("long"), F.lit(255)
        ).alias("xb"),
        F.least(F.col("p_size").cast("long") * 5, F.lit(255)).alias("yb"),
    )
    z = b.select("xb", "yb", F.expr(_MORTON_EXPR).alias("morton"))
    return z.groupBy(
        F.expr("morton >> 8").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.min("xb").alias("min_xb"),
        F.max("xb").alias("max_xb"),
        F.min("yb").alias("min_yb"),
        F.max("yb").alias("max_yb"),
        (
            (F.max("xb") - F.min("xb") + 1) * (F.max("yb") - F.min("yb") + 1)
        )
        .cast("long")
        .alias("bbox_area"),
    )


@register(
    "ext_dynamic_partition_pruning",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) IN (1997, 1998)
    GROUP BY 1 ORDER BY order_year
    """,
)
def ext_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning surface: the fact table is written
    partitioned by order year; the query joins it to a FILTERED tiny
    dim (selected years), and Spark's DPP turns the dim filter into a
    runtime partition skip on the fact scan — the mechanism that
    makes star-schema queries touch 2 of N partitions at 100 TB
    instead of all N (tests/test_plan_shapes.py asserts the
    dynamicpruning subquery in the physical plan). The oracle
    collapses to the equivalent static filter. The round trip runs in
    a scratch dir, result materialized before cleanup (the
    ext_source_text discipline)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="dpp_")
    try:
        path = root + "/orders_by_year"
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            "o_orderdate",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        o.write.mode("overwrite").partitionBy("order_year").parquet(path)
        fact = spark.read.parquet(path)
        dim = (
            fact.select("order_year")
            .distinct()
            .where(F.col("order_year").isin(1997, 1998))
        )
        res = (
            fact.join(dim.hint("broadcast"), "order_year")
            .groupBy("order_year")
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
                .cast("long")
                .alias("total_cents"),
            )
            .orderBy("order_year")
        )
        rows = res.collect()
        return spark.createDataFrame(
            rows, "order_year bigint, n_orders bigint, total_cents bigint"
        ).orderBy("order_year")
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "ext_variant_roundtrip",
    """
    WITH s AS (
      SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(3 * k) AS BIGINT) AS sum_arr2,
           count(*) AS n_roundtrip
    FROM s GROUP BY event_type
    """,
)
def ext_variant_roundtrip(spark, sf_dir):
    """VARIANT shred/unshred round trip: JSON text -> parse_json ->
    parquet write -> read -> variant_get typed extraction + to_json
    equality. The oracle computes the same aggregates straight from
    the source columns and pins n_roundtrip = count(*): ANY row whose
    binary variant fails to reproduce its source JSON byte-for-byte
    breaks the hash match. sum_arr2 extracts '$.arr[2]' (= 3k by
    construction) so array-path extraction is value-checked too, not
    just object fields. The scratch table is read back before the
    aggregate so the extraction exercises the parquet variant READER
    (the unshred leg), not the in-memory expression."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    js = F.to_json(
        F.struct(
            F.array(k, 2 * k, 3 * k).alias("arr"),
            F.col("event_type").alias("et"),
            F.col("event_id").alias("id"),
            k.alias("k"),
        )
    )
    staged = e.select(js.alias("js")).withColumn("v", F.expr("parse_json(js)"))
    work = tempfile.mkdtemp(prefix="variant_rt_")
    try:
        staged.write.mode("overwrite").parquet(work)
        back = spark.read.parquet(work)
        shredded = back.select(
            F.expr("variant_get(v, '$.et', 'string')").alias("event_type"),
            F.expr("variant_get(v, '$.k', 'long')").alias("k"),
            F.expr("variant_get(v, '$.arr[2]', 'long')").alias("arr2"),
            (F.expr("to_json(v)") == F.col("js")).alias("rt_ok"),
        )
        out = shredded.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum("arr2").alias("sum_arr2"),
            F.sum(F.when(F.col("rt_ok"), 1).otherwise(0)).cast("long").alias("n_roundtrip"),
        )
        rows = out.collect()  # materialize before the scratch dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)
