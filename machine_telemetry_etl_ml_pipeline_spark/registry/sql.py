"""Relational SQL surface: joins (equi, semi/anti, theta, range, hinted,
salted, skew), set operations, grouping sets, subqueries, pivots,
scalar/array/map/JSON/variant functions, and the Spark SQL language
features (TVFs, parameters, variables, scripting, pipe syntax).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.bucketing import salted_agg
from ..operators.joins import anti_join, semi_join
from . import _DEC, _t, _views, register


@register(
    "ext_join_revenue_by_nation",
    """
    SELECT r_name, n_name, count(*) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def ext_join_revenue_by_nation(spark, sf_dir):
    """Fact->dim join chain with broadcast dims (TPC-H Q5 shape).
    nation/region are always-small -> explicit broadcast; orders is a
    fact-fact sort-merge join left to AQE. customer is broadcast at
    test SF but would exceed the threshold at 100 TB — left to AQE's
    runtime decision rather than forced. Revenue folds as an exact
    per-row-cents BIGINT sum (the tpch_q19 lesson, resurfaced by the
    full-registry 10x sweep: round(sum(double), 4) at ~1e10 group
    sums puts partial-sum order error above the 4dp grid)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # floor(x + 0.5), not round(): Spark's round() on double detours
    # through BigDecimal per row (~40% slower here); floor stays in
    # codegen and both engines floor identically on positive cents
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    return joined.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        (F.sum(cents).cast("double") / 100).alias("revenue"),
    )


@register(
    "ext_join_left_order_counts",
    """
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
           round(coalesce(sum(o_totalprice), 0.0), 4) AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def ext_join_left_order_counts(spark, sf_dir):
    """LEFT outer join preserving customers with zero orders;
    count(col) counts non-null matches only."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("total_spent"),
        )
    )


@register(
    "ext_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def ext_join_semi(spark, sf_dir):
    """LEFT SEMI join — only join keys of the right side ship."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return semi_join(c, big, c.c_custkey == big.o_custkey).select("c_custkey", "c_name")


@register(
    "ext_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def ext_join_anti(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "ext_join_theta",
    """
    SELECT p_brand, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
                  AND l_extendedprice > p_retailprice
    GROUP BY p_brand
    """,
)
def ext_join_theta(spark, sf_dir):
    """Equi + theta composite condition: the equi key drives the hash
    join, the inequality is a post-join residual filter (no nested-loop
    explosion). The price rollup is an exact per-row-cents BIGINT sum:
    round(sum(float), 4) diverged at the 10x replica once the group
    sums reached ~1e10 (partial-sum order error above the 4dp grid) —
    the same class the r5 differential caught in tpch_q19."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(
        p, (li.l_partkey == p.p_partkey) & (li.l_extendedprice > p.p_retailprice)
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_cents"),
    )


@register(
    "ext_union_all",
    """
    SELECT event_id, event_type, value FROM events WHERE value > 190
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
    """,
)
def ext_union_all(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return e.filter(F.col("value") > 190).unionByName(e.filter(F.col("event_type") == "error"))


@register(
    "ext_union_distinct",
    """
    SELECT event_id, event_type, value FROM events WHERE value > 190
    UNION
    SELECT event_id, event_type, value FROM events WHERE event_type = 'error'
    """,
)
def ext_union_distinct(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return (
        e.filter(F.col("value") > 190)
        .unionByName(e.filter(F.col("event_type") == "error"))
        .distinct()
    )


@register(
    "ext_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def ext_intersect(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@register(
    "ext_except",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def ext_except(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll would be
    # multiset difference and leave users whose purchase-count exceeds
    # their error-count — not what SQL EXCEPT means.
    return a.subtract(b)


@register(
    "ext_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def ext_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "ext_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def ext_cube(spark, sf_dir):
    """CUBE over order status x priority. The grand-total cell sums
    the entire fact table's price mass, so it folds as exact integer
    cents in DECIMAL(38,0) (oracle_audit: 3.75e10 at 10x leaves <64
    ULPs to a 4dp rounding grid — the tpch_q19 class)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents.cast("decimal(38,0)")).cast("double") / 100).alias("sum_price"),
    )


@register(
    "ext_scalar_string",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 10, 4) AS name_mid,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
           c_name || '/' || c_mktsegment AS name_seg,
           trim('  ' || c_mktsegment || ' ') AS seg_trim,
           length(c_name) AS name_len,
           replace(c_name, 'Customer', 'Cust') AS name_short,
           split_part(c_name, '#', 2) AS name_num
    FROM customer
    """,
)
def ext_scalar_string(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 10, 4).alias("name_mid"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("seg_trim"),
        F.length("c_name").alias("name_len"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_num"),
    )


@register(
    "ext_scalar_date",
    """
    SELECT o_orderkey,
           CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_epoch,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
           year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
           CAST(o_orderdate AS DATE) AS odate
    FROM orders
    """,
)
def ext_scalar_date(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).cast("long").alias("month_start_epoch"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus3m"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.col("o_orderdate").cast("date").alias("odate"),
    )


@register(
    "ext_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_quantity * l_extendedprice, 2) AS qty_price,
           round(abs(l_discount - 0.05), 4) AS disc_dev,
           round(ln(l_extendedprice), 4) AS ln_price,
           round(pow(l_quantity, 2), 4) AS qty_sq,
           round(sqrt(l_extendedprice), 4) AS sqrt_price,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
    FROM lineitem
    """,
)
def ext_scalar_math(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_quantity") * F.col("l_extendedprice"), 2).alias("qty_price"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("ln_price"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
        F.floor(F.col("l_discount") * 100).alias("disc_pct_floor"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod7"),
    )


@register(
    "ext_explode_wordcount",
    """
    SELECT word, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ) WHERE word <> ''
    GROUP BY word ORDER BY n DESC, word ASC LIMIT 20
    """,
)
def ext_explode_wordcount(spark, sf_dir):
    """split -> explode -> filter -> agg -> top-k (array surface)."""
    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split("text", " ")).alias("word")).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(20)
    )


@register(
    "ext_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def ext_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "ext_pivot",
    f"""
    SELECT user_id,
           {", ".join(f"count(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
)
def ext_pivot(spark, sf_dir):
    """Pivot (wide aggregation): explicit value list so the plan is a
    single pass (no extra distinct-values job) — at scale an un-listed
    pivot scans twice."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count().na.fill(0)


@register(
    "ext_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def ext_unpivot(spark, sf_dir):
    """Unpivot/melt: wide -> long."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "ext_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS DOUBLE) / 100 AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def ext_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id disambiguation (SQL
    entry point — the DataFrame API only exposes cube/rollup). The
    () grand-total sum is one group over the whole fact table, so the
    price mass folds as exact integer cents in DECIMAL(38,0)
    (oracle_audit: 3.2e10 at 10x leaves <64 ULPs to a 4dp grid)."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id() AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                             AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "ext_scalar_subquery",
    """
    SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
    FROM orders
    WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
    """,
)
def ext_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery in a predicate (Catalyst rewrites
    to a broadcast join against the 1-row aggregate)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "ext_correlated_subquery",
    """
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                       WHERE c2.c_mktsegment = c.c_mktsegment)
    """,
)
def ext_correlated_subquery(spark, sf_dir):
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (the reference's Postgres planner did this for
    free; Spark's subquery decorrelation is the same rewrite)."""
    _views(spark, sf_dir, "customer")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) * 1.5 FROM customer c2
                           WHERE c2.c_mktsegment = c.c_mktsegment)
        """
    )


@register(
    "ext_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 4) + 0 AS first_dim,
           round(CAST(list_max(embedding) AS DOUBLE), 4) + 0 AS max_dim,
           round(CAST(list_min(embedding) AS DOUBLE), 4) + 0 AS min_dim,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0 AS sum_dims,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
)
def ext_array_functions(spark, sf_dir):
    """Array surface: size/element_at/max/min + lambda transform,
    aggregate, filter (all JVM-side higher-order functions). Every
    rounded float carries the registry's `+ 0` IEEE -0.0 normalizer:
    a first dim in (-5e-5, 0) rounded to -0.0 on one engine and 0.0
    on the other — found by the r5 10x differential, whose larger
    sample hit the band sf0.01 happened to miss."""
    e = _t(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    zero = F.lit(0.0)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        (F.round(F.element_at("embedding", 1).cast("double"), 4) + zero).alias("first_dim"),
        (F.round(F.array_max("embedding").cast("double"), 4) + zero).alias("max_dim"),
        (F.round(F.array_min("embedding").cast("double"), 4) + zero).alias("min_dim"),
        (F.round(F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 4) + zero).alias("sum_dims"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "ext_map_functions",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           len(json_keys(props)) AS n_keys,
           json_keys(props)[1] AS first_key
    FROM events
    """,
)
def ext_map_functions(spark, sf_dir):
    """JSON -> map -> key introspection (from_json / map_keys)."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
    )


@register(
    "ext_regexp_functions",
    """
    SELECT p_partkey, p_name,
           regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           len(regexp_extract_all(p_name, '[a-z]+')) AS n_words
    FROM part
    """,
)
def ext_regexp_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        F.col("p_name").rlike("^[a-z]+ ").alias("starts_word"),
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.size(F.regexp_extract_all("p_name", F.lit("[a-z]+"), 0)).alias("n_words"),
    )


@register(
    "ext_date_format",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H') AS fmt,
           strftime(o_orderdate, '%Y/%m') AS ym
    FROM orders
    """,
)
def ext_date_format(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH").alias("fmt"),
        F.date_format("o_orderdate", "yyyy/MM").alias("ym"),
    )


@register(
    "ext_salted_agg",
    """
    SELECT event_type, CAST(sum(cnt_events) AS BIGINT) AS cnt_events,
           round(sum(sum_value), 4) AS sum_value
    FROM (
      SELECT event_type, count(*) AS cnt_events, sum(value) AS sum_value
      FROM events GROUP BY event_type
    ) GROUP BY event_type
    """,
)
def ext_salted_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (salting): event_type has only 5
    values — a worst-case skew shape where every row of a key lands on
    one reducer. The salted plan spreads each key over 8 partial
    groups; the merged result is exactly the plain aggregate (oracle =
    the unsalted SQL; sums are exact-integer cents to make the
    partial-merge order irrelevant)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    out = salted_agg(
        e,
        "event_type",
        [F.count(F.lit(1)).alias("cnt_events"), F.sum("cents").alias("sum_cents")],
    )
    # rename for the algebraic-merge helper, then descale
    return out.select(
        "event_type",
        "cnt_events",
        F.round(F.col("sum_cents") / 100.0, 4).alias("sum_value"),
    )


@register(
    "ext_distinct_subset",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def ext_distinct_subset(spark, sf_dir):
    """dropDuplicates on a column subset (exact-dedup idiom)."""
    e = _t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@register(
    "ext_union_missing_cols",
    """
    SELECT event_id, value, NULL AS o_totalprice FROM events WHERE value > 195
    UNION ALL
    SELECT o_orderkey AS event_id, NULL AS value, o_totalprice
    FROM orders WHERE o_totalprice > 450000
    """,
)
def ext_union_missing_cols(spark, sf_dir):
    """unionByName(allowMissingColumns=True): schema-evolving union —
    absent columns NULL-pad instead of erroring."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 195).select("event_id", "value")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("event_id"), "o_totalprice")
    )
    return e.unionByName(o, allowMissingColumns=True)


@register(
    "ext_string_agg",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           bool_or(event_type = 'error') AS had_error,
           bool_and(value > 0) AS all_positive
    FROM events GROUP BY user_id
    """,
)
def ext_string_agg(spark, sf_dir):
    """Ordered string aggregation + boolean aggregates. collect_set is
    unordered by contract — sort_array makes the result deterministic
    (and oracle-comparable)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types_csv"),
        F.bool_or(F.col("event_type") == "error").alias("had_error"),
        F.bool_and(F.col("value") > 0).alias("all_positive"),
    )


@register(
    "ext_posexplode",
    """
    SELECT doc_id, CAST(pos AS INT) AS pos, word FROM (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word,
             generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS pos
      FROM documents WHERE doc_id < 10
    )
    """,
)
def ext_posexplode(spark, sf_dir):
    """Positional explode (ordinality): token positions survive the
    flatten — needed whenever order matters downstream (n-gram windows,
    span labeling). 1-based to match SQL generate_subscripts."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    words = F.filter(F.split("text", " "), lambda x: x != "")
    return d.select("doc_id", F.posexplode(words).alias("pos", "word")).select(
        "doc_id", (F.col("pos") + 1).cast("int").alias("pos"), "word"
    )


@register(
    "ext_in_subquery",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    """,
)
def ext_in_subquery(spark, sf_dir):
    """IN-subquery predicate (planned as a left-semi join)."""
    from ..sources.catalog import load_table

    for n in ("orders", "customer"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        """
    )


@register(
    "ext_join_right",
    """
    SELECT p_partkey, count(l_orderkey) AS n_lineitems
    FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
    GROUP BY p_partkey
    """,
)
def ext_join_right(spark, sf_dir):
    """Right outer join: every part appears, parts never shipped get
    count 0 (count of a NULL join column). Build side is the fact
    table; at scale Spark plans this as the mirrored left join."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    p = _t(spark, sf_dir, "part").select("p_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right")
        .groupBy("p_partkey")
        .agg(F.count("l_orderkey").alias("n_lineitems"))
    )


@register(
    "ext_join_full_outer",
    """
    SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.n_clicks, 0) AS n_clicks,
           COALESCE(b.n_purchases, 0) AS n_purchases,
           (a.user_id IS NOT NULL AND b.user_id IS NOT NULL) AS in_both
    FROM (SELECT user_id, count(*) AS n_clicks FROM events
          WHERE event_type = 'click' GROUP BY user_id) a
    FULL OUTER JOIN
         (SELECT user_id, count(*) AS n_purchases FROM events
          WHERE event_type = 'purchase' GROUP BY user_id) b
      ON a.user_id = b.user_id
    """,
)
def ext_join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates with presence indicators —
    both sides survive, missing counts coalesce to 0."""
    e = _t(spark, sf_dir, "events")
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    b = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = a.alias("a").join(b.alias("b"), F.col("a.user_id") == F.col("b.user_id"), "full")
    return joined.select(
        F.coalesce(F.col("a.user_id"), F.col("b.user_id")).alias("user_id"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("n_purchases"), F.lit(0)).alias("n_purchases"),
        (F.col("a.user_id").isNotNull() & F.col("b.user_id").isNotNull()).alias("in_both"),
    )


_BANDS = [(i, float(i * 10000), float((i + 1) * 10000)) for i in range(11)]
_BANDS_SQL = ", ".join(f"({b}, {lo}::DOUBLE, {hi}::DOUBLE)" for b, lo, hi in _BANDS)


@register(
    "ext_range_join",
    f"""
    SELECT band, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS band_revenue
    FROM lineitem JOIN (VALUES {_BANDS_SQL}) bands(band, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
)
def ext_range_join(spark, sf_dir):
    """Band/range join: facts joined to a small interval dimension on a
    BETWEEN-style condition. The dim is explicitly broadcast, so the
    non-equi condition never forces a cartesian shuffle — each fact
    partition scans the 11-row interval list in place (the only
    scale-sane plan for interval joins with a small dim side). Band
    revenue folds as an exact per-row-cents BIGINT sum (the tpch_q19
    class, resurfaced by the full-registry 10x sweep: ~3e10 band sums
    put float partial-sum order error above the 4dp grid)."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.createDataFrame(_BANDS, "band int, lo double, hi double")
    joined = li.join(
        F.broadcast(bands),
        (F.col("l_extendedprice") >= F.col("lo")) & (F.col("l_extendedprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("double")
            / 100
        ).alias("band_revenue"),
    )


@register(
    "ext_higher_order_funcs",
    """
    SELECT doc_id,
           len(list_filter(ws, x -> x <> '')) AS n_words,
           len(list_filter(ws, x -> length(x) > 4)) AS n_long_words,
           CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS total_chars,
           len(list_filter(ws, x -> regexp_matches(x, '[0-9]'))) > 0 AS has_digit,
           array_to_string(list_transform(list_slice(ws, 1, 3), x -> upper(x)), ' ')
             AS first3_upper
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    """,
)
def ext_higher_order_funcs(spark, sf_dir):
    """Higher-order array functions (transform / filter / exists /
    aggregate / slice): lambda expressions evaluated INSIDE codegen on
    the JVM — the declarative alternative to a Python UDF for per-row
    collection logic, and the idiom the similarity ops build on."""
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(F.filter(ws, lambda x: x != "")).alias("n_words"),
        F.size(F.filter(ws, lambda x: F.length(x) > 4)).alias("n_long_words"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
        ).alias("total_chars"),
        F.exists(ws, lambda x: x.rlike("[0-9]")).alias("has_digit"),
        F.array_join(
            F.transform(F.slice(ws, 1, 3), lambda x: F.upper(x)), " "
        ).alias("first3_upper"),
    )


@register(
    "ext_not_in_subquery",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
    ORDER BY c_custkey
    """,
)
def ext_not_in_subquery(spark, sf_dir):
    """NOT IN subquery — planned as a null-aware anti join. The inner
    side is explicitly NULL-filtered: SQL NOT IN returns no rows if the
    subquery yields ANY null (three-valued logic), which is the classic
    silent-empty-result trap; filtering nulls pins the intended
    anti-join semantics in both engines."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_totalprice > 300000 AND o_custkey IS NOT NULL)
        ORDER BY c_custkey
        """
    )


@register(
    "ext_lateral_join",
    """
    SELECT r_name, n_name, n_customers FROM region,
    LATERAL (
      SELECT n_name, count(c_custkey) AS n_customers
      FROM nation JOIN customer ON c_nationkey = n_nationkey
      WHERE n_regionkey = r_regionkey
      GROUP BY n_name
      ORDER BY n_customers DESC, n_name ASC
      LIMIT 2
    )
    ORDER BY r_name, n_customers DESC, n_name
    """,
)
def ext_lateral_join(spark, sf_dir):
    """LATERAL correlated subquery (top-2 nations per region by
    customer count): Catalyst decorrelates the per-row subquery into a
    join + windowed rank rather than re-executing it per outer row —
    the scale-relevant property of LATERAL support."""
    _views(spark, sf_dir, "region", "nation", "customer")
    return spark.sql(
        """
        SELECT r_name, n_name, n_customers FROM region,
        LATERAL (
          SELECT n_name, count(c_custkey) AS n_customers
          FROM nation JOIN customer ON c_nationkey = n_nationkey
          WHERE n_regionkey = r_regionkey
          GROUP BY n_name
          ORDER BY n_customers DESC, n_name ASC
          LIMIT 2
        )
        ORDER BY r_name, n_customers DESC, n_name
        """
    )


@register(
    "ext_join_hinted",
    """
    SELECT n_name, count(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def ext_join_hinted(spark, sf_dir):
    """SQL join-strategy hint surface: /*+ BROADCAST(nation) */ pins
    the dim broadcast from SQL text (the knob users reach for when
    statistics mislead the planner). Results are hint-invariant —
    the oracle is the plain join."""
    _views(spark, sf_dir, "supplier", "nation")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(nation) */ n_name, count(*) AS n_suppliers
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "ext_intersect_all",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT ALL
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
)
def ext_intersect_all(spark, sf_dir):
    """INTERSECT ALL: bag semantics — a user appearing 3x among clicks
    and 2x among views survives twice (min of multiplicities), vs the
    distinct INTERSECT's once."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "view").select("user_id")
    return a.intersectAll(b)


@register(
    "ext_except_all",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def ext_except_all(spark, sf_dir):
    """EXCEPT ALL: bag difference — multiplicities subtract instead of
    the distinct EXCEPT's set removal."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.exceptAll(b)


@register(
    "ext_recursive_cte",
    """
    WITH RECURSIVE months(m) AS (
      SELECT DATE '1995-01-01'
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < DATE '2001-08-01'
    )
    SELECT CAST(floor(epoch(m)) AS BIGINT) AS month_epoch,
           count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
    GROUP BY m
    """,
)
def ext_recursive_cte(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE): the calendar-spine
    idiom — generate every month in the data range recursively, left
    join facts so empty months survive with count 0. The recursion is
    driver-bounded (one row per month), the join and aggregate stay
    distributed."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM months
          WHERE m < DATE '2001-08-01'
        )
        SELECT CAST(unix_timestamp(CAST(m AS TIMESTAMP)) AS BIGINT) AS month_epoch,
               count(o_orderkey) AS n_orders
        FROM months LEFT JOIN orders
          ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
        GROUP BY m
        """
    )


@register(
    "ext_variant_json",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k
    FROM events GROUP BY event_type
    """,
)
def ext_variant_json(spark, sf_dir):
    """VARIANT semi-structured type (Spark 4): parse_json once into a
    binary-encoded variant, then typed variant_get extraction — the
    shredding-friendly path for JSON at scale (vs re-parsing strings
    per access, which ext_json_extract's get_json_object does)."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
    )


@register(
    "ext_sql_udf",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
                AS DOUBLE) / 10000 AS net_revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def ext_sql_udf(spark, sf_dir):
    """SQL-body scalar UDF (CREATE FUNCTION ... RETURN expr, Spark 4):
    the function inlines into the plan as a plain expression — full
    codegen, no Python boundary — which is why the oracle is the
    inlined arithmetic. The UDF returns exact e4 integer units
    (cents x discount-cents) so the per-group revenue folds as an
    exact DECIMAL(38,0) sum (oracle_audit: the old round(sum(double),
    4) had ~1e11 group sums at 10x — the tpch_q19 float-grid class)."""
    _views(spark, sf_dir, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price_e4(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(p * 100 + 0.5) AS BIGINT) "
        "* (100 - CAST(floor(d * 100 + 0.5) AS BIGINT))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(net_price_e4(l_extendedprice, l_discount)
                             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS net_revenue
        FROM lineitem GROUP BY l_returnflag
        """
    )


@register(
    "ext_salted_join",
    """
    SELECT event_type, count(*) AS n_rows,
           round(CAST(sum(CAST(round(value * 100) AS BIGINT) * wt10) AS BIGINT)
                 / 1000.0, 4) AS weighted_value
    FROM events JOIN (
      SELECT 'click' AS event_type, 10 AS wt10 UNION ALL
      SELECT 'view', 5 UNION ALL
      SELECT 'purchase', 30 UNION ALL
      SELECT 'signup', 20 UNION ALL
      SELECT 'error', 0
    ) w USING (event_type)
    GROUP BY event_type
    """,
)
def ext_salted_join(spark, sf_dir):
    """Skew-safe salted join: event_type has 5 values over the whole
    fact table — the worst-case hot-key join shape. The dim (weights)
    is replicated per salt bucket and each fact row carries a
    deterministic md5-derived salt (operators/bucketing.salted_join),
    spreading every hot key over 8 reducers. Oracle: the plain join —
    the salted result must be EXACTLY equal (sums are exact integer
    deci-cents, so the salt's different addition order cannot move a
    float rounding boundary)."""
    from ..operators.bucketing import salted_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    weights = spark.createDataFrame(
        [("click", 10), ("view", 5), ("purchase", 30), ("signup", 20), ("error", 0)],
        "event_type string, wt10 long",
    )
    joined = salted_join(e, weights, "event_type", fact_salt_col="event_id")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("cents") * F.col("wt10")) / 1000.0, 4).alias("weighted_value"),
    )


@register(
    "ext_sql_unpivot_native",
    """
    SELECT l_orderkey, l_linenumber, metric, v
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
          FROM lineitem WHERE l_orderkey < 200)
    UNPIVOT (v FOR metric IN (l_quantity, l_discount, l_tax))
    """,
)
def ext_sql_unpivot_native(spark, sf_dir):
    """Native SQL UNPIVOT syntax (Spark 4 + DuckDB shared surface; the
    DataFrame twin ext_unpivot uses stack()). Same physical plan — an
    Expand over the projected columns, no shuffle, output 3x the
    filtered slice."""

    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, metric, v
        FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
              FROM lineitem WHERE l_orderkey < 200)
        UNPIVOT (v FOR metric IN (l_quantity, l_discount, l_tax))
        """
    )


@register(
    "ext_group_by_all",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ALL
    """,
)
def ext_group_by_all(spark, sf_dir):
    """GROUP BY ALL (Spark 4 + DuckDB shared SQL surface): every
    non-aggregate select item becomes a grouping key — the
    keystroke-saving form analysts actually write. Registered through
    spark.sql to exercise the SQL-text path end-to-end; the plan is
    the identical partial-aggregable hash aggregate."""

    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY ALL
        """
    )


@register(
    "ext_try_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 30.0, 0.0) AS per_unit_off30,
           TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num
    FROM lineitem WHERE l_orderkey < 500
    """,
)
def ext_try_arithmetic(spark, sf_dir):
    """ANSI-mode-safe arithmetic surface (Spark 4 runs ANSI on by
    default, where bare division by zero and bad casts THROW):
    try_divide yields NULL on the zero denominator and try_cast NULL
    on the non-numeric string — row-level fault tolerance without
    disabling ANSI globally, the property a 100 TB batch job needs so
    one dirty row cannot kill a 6-hour stage. Oracle: NULLIF-guarded
    division and TRY_CAST (DuckDB's equivalent semantics)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 30.0).alias(
            "per_unit_off30"
        ),
        F.expr("try_cast(l_returnflag AS DOUBLE)").alias("flag_as_num"),
    )


@register(
    "ext_sql_tvf",
    """
    SELECT i AS n, n2, CAST(i % 7 AS BIGINT) AS bucket
    FROM (
      SELECT unnest(generate_series(0, 999)) AS i,
             unnest(generate_series(0, 999)) * 2 AS n2
    )
    """,
)
def ext_sql_tvf(spark, sf_dir):
    """Table-valued functions in the FROM clause (range() as a SQL
    relation) — the inline data-generation surface used for calendar
    spines, test scaffolds, and cross products with real tables. The
    range TVF parallelizes as a partitioned synthetic scan (no driver
    materialization), unlike createDataFrame."""
    return spark.sql(
        """
        SELECT id AS n, id * 2 AS n2, id % 7 AS bucket
        FROM range(0, 1000)
        """
    )


@register(
    "ext_parameterized_sql",
    """
    SELECT event_type, count(*) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM events
    WHERE value > 150 AND event_type <> 'error'
    GROUP BY event_type
    """,
)
def ext_parameterized_sql(spark, sf_dir):
    """Named-parameter SQL binding (spark.sql(..., args=...), Spark
    3.4+): the injection-safe templating surface applications should
    use instead of f-strings. Parameters bind as literals in the
    analyzed plan, so constant folding and pushdown see them exactly
    like inline constants."""

    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0D, 4) AS total
        FROM events
        WHERE value > :min_value AND event_type <> :excluded
        GROUP BY event_type
        """,
        args={"min_value": 150, "excluded": "error"},
    )


@register(
    "ext_grouping_id",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           CAST(grouping(event_type) AS BIGINT) AS is_total,
           count(*) AS n
    FROM events GROUP BY ROLLUP(event_type)
    """,
)
def ext_grouping_id(spark, sf_dir):
    """grouping() disambiguation in ROLLUP output: the aggregate
    NULL-vs-data NULL problem — a rollup total row and a genuine NULL
    key both print NULL, and only grouping()/grouping_id() can tell
    them apart (the correctness trap under every subtotal report).
    The flag is carried alongside a coalesced label, exactly as a
    report query would emit it."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.grouping("event_type").alias("g"))
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.col("g").cast("long").alias("is_total"),
            "n",
        )
    )


@register(
    "ext_decimal_exact",
    """
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000
                 + count(*) // 2) // count(*) AS BIGINT) AS avg_microdollars
    FROM events GROUP BY event_type
    """,
)
def ext_decimal_exact(spark, sf_dir):
    """Exact money arithmetic with NO floating point past the per-row
    cents reconstruction: integer cents are summed exactly (DECIMAL(38,0)
    accumulator on the Spark side so the sum cannot overflow at 100 TB;
    DuckDB promotes to HUGEINT on its own), and the average is an
    all-integer half-up division to microdollar precision —
    (sum_cents * 10000 + n DIV 2) DIV n. The r5 driver proved the
    previous formulation wrong: DuckDB's avg(DECIMAL) silently returns
    DOUBLE, so any oracle avg over decimals transits float and rounds
    differently at boundary values. Integer DIV truncates toward zero
    identically in both engines (verified: -7//2 = -3 in DuckDB,
    -7 div 2 = -3 in Spark), so parity is exact digit-for-digit."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("decimal(38,0)")
    g = e.groupBy("event_type").agg(
        F.sum(cents).alias("_sc"), F.count(F.lit(1)).alias("_n")
    )
    return g.select(
        "event_type",
        F.col("_sc").cast("long").alias("total_cents"),
        F.expr(
            "CAST((_sc * 10000 + _n div 2) div _n AS BIGINT)"
        ).alias("avg_microdollars"),
    )


@register(
    "ext_bitwise_agg",
    """
    SELECT event_type,
           bit_and(CAST(round(value * 100) AS BIGINT)) AS all_bits,
           bit_or(CAST(round(value * 100) AS BIGINT)) AS any_bits,
           bit_xor(CAST(round(value * 100) AS BIGINT)) AS parity_bits
    FROM events GROUP BY event_type
    """,
)
def ext_bitwise_agg(spark, sf_dir):
    """Bitwise aggregate surface (bit_and/bit_or/bit_xor) — flag-mask
    rollups and parity checksums over integer codes. Order-insensitive
    by construction (bitwise ops commute), so cross-engine parity is
    exact with no rounding convention needed."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return e.groupBy("event_type").agg(
        F.bit_and(cents).alias("all_bits"),
        F.bit_or(cents).alias("any_bits"),
        F.bit_xor(cents).alias("parity_bits"),
    )


@register(
    "ext_null_semantics",
    """
    SELECT event_id,
           CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END AS null_safe_eq,
           coalesce(a, b, -1) AS first_non_null,
           CASE WHEN a IS NULL THEN 'was_null' ELSE 'had_value' END AS a_state
    FROM (
      SELECT event_id,
             nullif(CAST(round(value * 100) AS BIGINT) % 7, 3) AS a,
             nullif(CAST(round(value * 100) AS BIGINT) % 5, 2) AS b
      FROM events
    )
    """,
)
def ext_null_semantics(spark, sf_dir):
    """Three-valued-logic surface in one query: null-safe equality
    (<=> / IS NOT DISTINCT FROM), nullif-manufactured NULLs, coalesce
    chains, and nvl2 branching — the semantics corner where engines
    disagree silently. All integer arithmetic; every NULL is
    deterministic (nullif on a modulus), so the differential check
    exercises NULL propagation, not data luck."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    a = F.nullif(cents % 7, F.lit(3))
    b = F.nullif(cents % 5, F.lit(2))
    return e.select(
        "event_id",
        F.when(a.eqNullSafe(b), 1).otherwise(0).alias("null_safe_eq"),
        F.coalesce(a, b, F.lit(-1)).alias("first_non_null"),
        F.nvl2(a, F.lit("had_value"), F.lit("was_null")).alias("a_state"),
    )


@register(
    "ext_lateral_view_sql",
    """
    SELECT doc_id, w, count(*) AS n
    FROM (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents WHERE doc_id < 20
    )
    GROUP BY doc_id, w
    """,
)
def ext_lateral_view_sql(spark, sf_dir):
    """Hive-style LATERAL VIEW explode() SQL syntax — the third
    generator spelling next to DataFrame .explode and ANSI lateral
    joins, still the dominant form in migrated warehouse SQL. Same
    Generate physical node; the SQL-text path is what's under test."""

    _views(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT doc_id, w, count(*) AS n
        FROM documents
        LATERAL VIEW explode(split(text, ' ')) t AS w
        WHERE doc_id < 20 AND w <> ''
        GROUP BY doc_id, w
        """
    )


@register(
    "ext_sql_pipe_syntax",
    """
    WITH g AS (
      SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
             round(sum(l_quantity), 4) AS sum_qty,
             round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT * FROM g WHERE n_rows > 100
    ORDER BY n_rows DESC, l_returnflag, l_linestatus LIMIT 4
    """,
)
def ext_sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0+): the linear `|>` form of
    scan -> filter -> aggregate -> having -> order/limit. Each pipe
    stage lowers to the same Catalyst operators as the nested ANSI
    form (the oracle), so the physical plan is the identical partial
    hash aggregate + TakeOrderedAndProject — this entry proves the
    surface, not a new engine path."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |> AGGREGATE count(*) AS n_rows,
                     round(sum(l_quantity), 4) AS sum_qty,
                     round(avg(l_extendedprice), 4) AS avg_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_rows > 100
        |> SELECT l_returnflag, l_linestatus, n_rows, sum_qty, avg_price
        |> ORDER BY n_rows DESC, l_returnflag, l_linestatus
        |> LIMIT 4
        """
    )


@register(
    "ext_collation_ci",
    """
    WITH mixed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS et_mixed,
             value
      FROM events
    )
    SELECT lower(et_mixed) AS event_type_ci,
           count(*) AS n,
           round(sum(value), 4) AS sum_value,
           CAST(count(DISTINCT et_mixed) AS BIGINT) AS n_case_variants
    FROM mixed GROUP BY lower(et_mixed)
    """,
)
def ext_collation_ci(spark, sf_dir):
    """String collations (Spark 4.0+): group under UTF8_LCASE so 'VIEW'
    and 'view' land in one hash bucket with NO per-row lower() rewrite
    of the data — the collation travels in the type, and comparisons/
    hashing are collation-aware inside codegen. Case variants are
    minted deterministically (even event_id -> upper). The output key
    is lowered + cast back to a plain binary-collation string so the
    driver's schema/hash compare sees a vanilla column; the DuckDB
    oracle is the classic lower()-rewrite formulation of the same
    query. countDistinct of the untouched column stays binary-collated
    and counts both case forms."""
    e = _t(spark, sf_dir, "events")
    mixed = e.select(
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et_mixed"),
        "value",
    )
    return (
        mixed.select(F.collate(F.col("et_mixed"), "UTF8_LCASE").alias("k"), "et_mixed", "value")
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.countDistinct("et_mixed").alias("n_case_variants"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("event_type_ci"),
            "n",
            "sum_value",
            "n_case_variants",
        )
    )


@register(
    "ext_lateral_column_alias",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             AS net_cents,
           CAST(round(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                      * l_tax) AS BIGINT) AS tax_cents,
           CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             + CAST(round(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                          * l_tax) AS BIGINT) AS gross_cents
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def ext_lateral_column_alias(spark, sf_dir):
    """Lateral column aliases (Spark 3.4+): a SELECT item referencing
    an alias defined earlier in the SAME select list (net_cents ->
    tax_cents -> gross_cents), saving the nested-subquery chain the
    oracle spells out by full expansion — which also proves the
    analyzer substitutes the alias EXPRESSION, not a snapshot. The
    physical plan is one Project over the pruned scan either way.
    Money math is integer cents throughout: rounding a double that
    both engines computed bit-identically is engine-invariant, while
    re-rounding already-rounded 4dp decimals lands exactly ON .5
    boundaries and diverged at the 10x replica. Registered through
    spark.sql because the alias-resolution path IS the surface under
    test."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 AS net_cents,
               CAST(round(net_cents * l_tax) AS BIGINT) AS tax_cents,
               net_cents + tax_cents AS gross_cents
        FROM lineitem WHERE l_orderkey < 100
        """
    )


@register(
    "ext_identifier_clause",
    """
    SELECT event_type, count(*) AS n,
           round(sum(value), 4) AS total
    FROM events
    WHERE user_id < 100
    GROUP BY event_type
    """,
)
def ext_identifier_clause(spark, sf_dir):
    """IDENTIFIER(:param) clause (Spark 3.4+): table AND column names
    templated through bind parameters — the injection-safe form of the
    f-string table/metric dispatch a multi-tenant query service does
    (the reference's method-per-query class dispatches on exactly such
    strings, project/db.py:187-250). Names resolve during analysis, so
    the plan is byte-identical to the hardcoded oracle form: same
    pushdown, same partial aggregate."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               round(sum(IDENTIFIER(:metric)), 4) AS total
        FROM IDENTIFIER(:tbl)
        WHERE IDENTIFIER(:keycol) < :lo
        GROUP BY event_type
        """,
        args={"tbl": "events", "metric": "value", "keycol": "user_id", "lo": 100},
    )


@register(
    "ext_session_variables",
    """
    WITH t AS (SELECT max(event_id) // 2 AS cutoff FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events CROSS JOIN t
    WHERE event_id <= cutoff
    GROUP BY event_type
    """,
)
def ext_session_variables(spark, sf_dir):
    """Spark 4 session variables: DECLARE OR REPLACE VARIABLE, SET VAR
    from a scalar subquery (the exact integer midpoint of the id
    space), then reference the variable in a later query — the
    engine-side replacement for the reference's Python-side constants
    interpolated into SQL strings (db.py:254-271). The variable is
    bound at SET time, so the consuming query plans with a LITERAL —
    constant-folded, pushed into the parquet scan like any static
    predicate (no re-evaluation per row, no correlated subquery).
    Oracle: the same query with the cutoff inlined as a broadcast
    1-row CTE."""
    _views(spark, sf_dir, "events")
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff_id BIGINT")
    spark.sql("SET VAR cutoff_id = (SELECT max(event_id) DIV 2 FROM events)")
    return spark.sql(
        """
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM events
        WHERE event_id <= cutoff_id
        GROUP BY event_type
        """
    )


@register(
    "ext_execute_immediate",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    WHERE event_type IN ('purchase', 'click') AND user_id % 10 = 3
    GROUP BY event_type
    """,
)
def ext_execute_immediate(spark, sf_dir):
    """EXECUTE IMMEDIATE dynamic SQL with positional USING binds — the
    injection-safe replacement for the reference's f-string query
    assembly (db.py builds every query as a Python-interpolated
    string). The statement text carries ? placeholders; values bind as
    parameters (typed, never spliced into the text), and the planned
    query is byte-identical to the static form — the oracle proves
    it."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT event_type, count(*) AS n, "
        " CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
        " FROM events WHERE event_type IN (?, ?) AND user_id % ? = ? "
        " GROUP BY event_type' "
        "USING 'purchase', 'click', 10, 3"
    )


@register(
    "ext_sql_scripting",
    """
    WITH hot AS (
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(max(n_events) AS BIGINT) AS max_n,
             CAST(count(*) AS BIGINT) AS n_users
      FROM hot
    )
    SELECT s.max_n, s.n_users,
           CAST(count(*) AS BIGINT) AS n_heavy
    FROM hot h CROSS JOIN stats s
    WHERE h.n_events * 4 >= s.max_n * 3
    GROUP BY s.max_n, s.n_users
    """,
)
def ext_sql_scripting(spark, sf_dir):
    """Spark 4 SQL scripting (BEGIN...END): a block DECLAREs variables,
    assigns them from aggregates in sequence, and the final SELECT uses
    the accumulated state — the engine-side form of the reference's
    fetch-then-requery Python round trips (fetch a stat with one
    cursor, build the next query from it). All variables are exact
    integers (max per-user event count, user count), and the heavy-user
    threshold comparison is integer cross-multiplication (n*4 >= max*3,
    i.e. n >= 0.75*max with no float division). Oracle: the fused
    static query — scripting changes control flow, not semantics."""
    _views(spark, sf_dir, "events")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE max_n BIGINT;
          DECLARE n_users BIGINT;
          SET (max_n, n_users) = (
            SELECT max(n_events), count(*)
            FROM (SELECT user_id, count(*) AS n_events
                  FROM events GROUP BY user_id)
          );
          SELECT max_n, n_users, CAST(count(*) AS BIGINT) AS n_heavy
          FROM (SELECT user_id, count(*) AS n_events
                FROM events GROUP BY user_id)
          WHERE n_events * 4 >= max_n * 3
          GROUP BY 1, 2;
        END
        """
    )


@register(
    "ext_sql_scripting_loop",
    """
    WITH c AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    t0 AS (SELECT max(cents) AS t FROM c),
    t1 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t0 WHERE cents <= t0.t),
    t2 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t1 WHERE cents <= t1.t),
    t3 AS (SELECT CAST(sum(cents) // count(*) AS BIGINT) AS t
           FROM c CROSS JOIN t2 WHERE cents <= t2.t)
    SELECT t3.t AS threshold_cents,
           (SELECT count(*) FROM c WHERE cents <= t3.t) AS n_below,
           CAST(3 AS INT) AS n_iterations
    FROM t3
    """,
)
def ext_sql_scripting_loop(spark, sf_dir):
    """SQL-scripting WHILE loop: three server-side iterations of
    trimmed-threshold refinement (threshold <- floor(mean of values
    below the current threshold), seeded at the max) — the iterative
    fetch-requery pattern the reference drives from Python cursors,
    executed entirely inside one BEGIN...END block with the loop
    variable feeding each scan's predicate. Exactness: the threshold
    is an integer computed as an exact-integer-sum truncating division
    (DECIMAL(38,0) sum div count on Spark, HUGEINT sum // count on
    DuckDB — both truncate toward zero, no double anywhere, no 2^53
    partition-order hazard), so every iterate matches the unrolled-CTE
    oracle bit for bit. Scale shape: each iteration is
    one partial-aggregable scan with the threshold as a planned
    literal; K iterations = K scans, the same cost model as the GD /
    Lloyd loops — at 100 TB you cache the cents projection across
    iterations."""
    _views(spark, sf_dir, "events")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 0;
          DECLARE t BIGINT;
          SET t = (SELECT max(CAST(round(value * 100) AS BIGINT)) FROM events);
          WHILE i < 3 DO
            SET t = (SELECT CAST(sum(CAST(round(value * 100) AS DECIMAL(38,0)))
                               div count(*) AS BIGINT)
                     FROM events
                     WHERE CAST(round(value * 100) AS BIGINT) <= t);
            SET i = i + 1;
          END WHILE;
          SELECT t AS threshold_cents,
                 (SELECT count(*) FROM events
                  WHERE CAST(round(value * 100) AS BIGINT) <= t) AS n_below,
                 i AS n_iterations;
        END
        """
    )


@register(
    "ext_aqe_skew_join",
    """
    SELECT n_name, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM (SELECT CASE WHEN user_id % 25 < 22 THEN 0
                      ELSE user_id % 25 END AS k,
                 value
          FROM events) f
    JOIN nation ON f.k = n_nationkey
    GROUP BY n_name
    """,
)
def ext_aqe_skew_join(spark, sf_dir):
    """Hot-key join left to AQE's runtime skew split: ~88% of the fact
    rows share key 0, and instead of the manual salt+replicate rewrite
    (ext_salted_join) the merge-hinted sort-merge join relies on
    `spark.sql.adaptive.skewJoin` to split the oversized partition at
    runtime (dim rows are replicated to each split by AQE — the salt
    transform, applied automatically and only where the runtime stats
    demand it). At test SF the hot partition sits under the 256 MB
    default threshold, so the value here is the semantics row; the
    plan-level proof that the split fires under realistic sizes is
    tests/test_plan_shapes.py::test_aqe_skew_join_split. At 100 TB
    this entry's plan is exactly the one AQE rewrites."""
    e = _t(spark, sf_dir, "events")
    f = e.select(
        F.when(F.col("user_id") % 25 < 22, F.lit(0))
        .otherwise(F.col("user_id") % 25)
        .alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        f.join(n.hint("merge"), f.k == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").cast(_DEC)).cast("long").alias("sum_cents"),
        )
    )


@register(
    "ext_offset_clause",
    """
    SELECT c_custkey, c_name,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
    FROM customer
    ORDER BY acctbal_cents DESC, c_custkey ASC
    LIMIT 10 OFFSET 20
    """,
)
def ext_offset_clause(spark, sf_dir):
    """LIMIT/OFFSET pagination (page 3 of the balance leaderboard)
    with a TOTAL deterministic sort (integer cents + unique-key
    tiebreak — an OFFSET without one returns engine-dependent pages).
    Spark plans this as TakeOrderedAndProject with a skip: each
    partition contributes its local top-(limit+offset), the driver
    merges and drops the offset — no global sort. At 100 TB deep
    paging (OFFSET 10^9) is an anti-pattern; the keyset-pagination
    replacement (WHERE (bal, key) < last-seen) is the same plan as
    ref_top_k, which is why only the shallow-page surface lives
    here. Reference analog: the client-side row slicing after
    fetchall (project/db.py:237-246)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            "c_name",
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias(
                "acctbal_cents"
            ),
        )
        .orderBy(F.col("acctbal_cents").desc(), F.col("c_custkey").asc())
        .offset(20)
        .limit(10)
    )


@register(
    "ext_union_by_name",
    """
    SELECT event_id, event_type,
           CAST(round(value * 100) AS BIGINT) AS cents,
           'full' AS src
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, CAST(NULL AS BIGINT) AS cents,
           'slim' AS src
    FROM events WHERE event_type = 'error'
    """,
)
def ext_union_by_name(spark, sf_dir):
    """unionByName(allowMissingColumns=True): the by-NAME set op that
    aligns differently-ordered projections and null-fills columns one
    side lacks — the schema-drift-tolerant append a long-lived
    pipeline needs when shards were written by different code
    versions (positional UNION would silently misalign). The slim
    side deliberately carries its columns in a DIFFERENT order and no
    cents column; the oracle spells out the explicit aligned/NULL
    projection Spark derives. Narrow op — no shuffle, both branches
    scan-prune to their filters."""
    e = _t(spark, sf_dir, "events")
    full = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lit("full").alias("src"),
    )
    slim = e.filter(F.col("event_type") == "error").select(
        F.lit("slim").alias("src"),
        F.col("event_type"),
        F.col("event_id"),
    )
    return full.unionByName(slim, allowMissingColumns=True)


@register(
    "ext_map_higher_order",
    """
    WITH g AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
      FROM events GROUP BY user_id, event_type
    ),
    u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_types_total,
             CAST(sum(CASE WHEN n >= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_types_big
      FROM g GROUP BY user_id
    )
    SELECT g.user_id, g.event_type, g.n,
           CAST(g.s // g.n AS BIGINT) AS avg_cents,
           u.n_types_total, u.n_types_big
    FROM g JOIN u USING (user_id)
    WHERE g.n >= 3
    """,
)
def ext_map_higher_order(spark, sf_dir):
    """Map higher-order functions — map_from_entries, map_zip_with
    (count-map x sum-map -> integer-div average map), map_filter
    (drop sparse keys), map_keys/size — the map-typed lambda family
    the array higher-order entry (ext_higher_order_funcs) doesn't
    touch. The per-user maps are built from unique keys so collect
    order cannot matter, every derived value is an exact integer, and
    the final explode projects the maps back to rows — which is the
    point the oracle makes: the map plumbing is pure representation,
    the relational answer is unchanged (the oracle never builds a
    map). All lambdas run in codegen; one user-keyed exchange feeds
    both the map build and the per-user totals. Reference analog: the
    JSONB props introspection at project/db.py (maps as the typed
    upgrade)."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("s"),
    )
    maps = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m_n"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "s"))
        ).alias("m_s"),
    )
    derived = maps.select(
        "user_id",
        F.expr("map_zip_with(m_n, m_s, (k, n, s) -> s div n)").alias("m_avg"),
        F.expr("map_filter(m_n, (k, v) -> v >= 3)").alias("m_big"),
        F.size("m_n").cast("long").alias("n_types_total"),
        F.expr("CAST(size(map_filter(m_n, (k, v) -> v >= 3)) AS BIGINT)").alias(
            "n_types_big"
        ),
    )
    ex = derived.select(
        "user_id",
        "n_types_total",
        "n_types_big",
        F.explode(F.expr("map_zip_with(m_big, m_avg, (k, n, a) -> struct(n, a))")).alias(
            "event_type", "v"
        ),
    ).filter(F.col("v.n").isNotNull())
    return ex.select(
        "user_id",
        "event_type",
        F.col("v.n").alias("n"),
        F.col("v.a").alias("avg_cents"),
        "n_types_total",
        "n_types_big",
    )
