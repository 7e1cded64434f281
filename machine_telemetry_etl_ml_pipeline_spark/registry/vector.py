"""Embedding and vector-search entries: exact and approximate top-k
(LSH, multi-probe, IVF), near-duplicate and semantic dedup, centroid
and quantization summaries, and reranking. Per-row norms are computed
once in the base projection; similarity doubles are rounded on both
engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.similarity import (
    ADAPTIVE_SIGN_DIMS,
    _as_double,
    adaptive_bits_expr,
    adaptive_sign_bucket,
    brute_force_topk,
    dot,
    lsh_bucket_counts,
    lsh_topk,
    multiprobe_lsh_topk,
    norm,
    random_hyperplanes,
)
from ..operators.ckpt import checkpoint_rotate, note_live, retire_ids
from . import _t, register


@register(
    "llm_embedding_neardup",
    """
    WITH bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 4) AS cosine_sim
    FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.35
    """,
)
def llm_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: candidates from sign-LSH
    buckets (1/16th of the pair space scored), exact cosine filter
    above threshold — the embedding analog of MinHash-LSH + Jaccard
    verification. Norms are precomputed once per vector (r5: the
    inlined cosine() re-folded both norms per pair, twice — filter and
    projection; same floats, ~3x less fold work)."""
    from ..llm.similarity import _as_double, dot, norm, sign_bucket

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        sign_bucket(F.col("embedding"), [1, 9, 17, 25]).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    a = base.alias("a")
    b = base.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            sim.alias("sim_raw"),
        )
        .filter(F.col("sim_raw") > 0.35)
        .select("a", "b", F.round(F.col("sim_raw"), 4).alias("cosine_sim"))
    )


@register(
    "llm_knn_label_accuracy",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS true_label, v AS qv
      FROM e WHERE vec_id < 50
    ),
    scored AS (
      SELECT query_id, true_label, e.label AS nlabel,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 4) AS sim,
             e.vec_id AS neighbor_id
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    top5 AS (
      SELECT query_id, true_label, nlabel
      FROM (
        SELECT query_id, true_label, nlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, nlabel, count(*) AS n_votes
      FROM top5 GROUP BY query_id, true_label, nlabel
    ),
    pred AS (
      SELECT query_id, true_label, nlabel AS pred_label
      FROM (
        SELECT query_id, true_label, nlabel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, nlabel) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT count(*) AS n_queries,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    """,
)
def llm_knn_label_accuracy(spark, sf_dir):
    """k-NN classification accuracy (k=5, majority vote) over the
    embedding table — the eval loop that scores an embedding space
    before committing it to retrieval. Fully deterministic: cosine
    rounded to 4dp with neighbor-id tiebreaks picks the SAME top-5 in
    both engines, and vote ties break on the smaller label. Scale
    shape: the 50-query panel is broadcast against the corpus (one
    scan), votes/argmax are query-keyed aggregates; accuracy of a
    full-corpus eval would swap the broadcast side for the LSH/IVF
    candidate path like the ANN entries."""
    from pyspark.sql.window import Window

    from ..llm.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    scored = base.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("label").alias("nlabel"),
        F.round(cosine(F.col("qv"), F.col("v")), 4).alias("sim"),
        F.col("vec_id").alias("neighbor_id"),
    )
    w_sim = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    top5 = scored.withColumn("rnk", F.row_number().over(w_sim)).filter(
        F.col("rnk") <= 5
    )
    votes = top5.groupBy("query_id", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel").asc()
    )
    pred = (
        votes.withColumn("r", F.row_number().over(w_vote))
        .filter(F.col("r") == 1)
        .select("query_id", "true_label", F.col("nlabel").alias("pred_label"))
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )


@register(
    "llm_ann_filtered_topk",
    """
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS qlabel, v AS qv
      FROM e WHERE vec_id < 10
    ),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 4) AS cosine_sim
      FROM q JOIN e ON e.vec_id <> q.query_id AND e.label <> q.qlabel
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def llm_ann_filtered_topk(spark, sf_dir):
    """FILTERED vector search — top-5 cosine neighbors restricted by a
    metadata predicate (neighbor label must differ from the query's
    label; the hard-negative-mining query contrastive training runs,
    and the filtered-search feature every vector store advertises).
    The predicate is applied BEFORE ranking (pre-filter, exact), not
    post-filtering a larger top-k (which can return < k rows). Same
    scale shape as the exact baseline: bounded query set broadcast,
    corpus scanned once, per-query top-k via partial WindowGroupLimit;
    the label predicate rides the broadcast join condition."""
    from pyspark.sql.window import Window

    from ..llm.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = base.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id")) & (F.col("label") != F.col("qlabel")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("v")), 4).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "cosine_sim", "rnk")
    )


@register(
    "llm_embedding_norm_stats",
    """
    WITH norms AS (
      SELECT label,
             round(sqrt(list_sum(list_transform(embedding,
                                                x -> CAST(x AS DOUBLE)
                                                     * CAST(x AS DOUBLE)))), 6)
               AS nrm
      FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           round(min(nrm), 4) AS min_norm,
           round(quantile_cont(nrm, 0.5), 4) AS p50_norm,
           round(quantile_cont(nrm, 0.95), 4) AS p95_norm,
           round(max(nrm), 4) AS max_norm,
           CAST(sum(CASE WHEN nrm < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
    FROM norms GROUP BY label
    """,
)
def llm_embedding_norm_stats(spark, sf_dir):
    """Embedding hygiene stats per label: L2-norm percentiles and
    zero-vector counts — the pre-flight every ANN/similarity stage
    needs (zero vectors break cosine; a wide norm spread says the
    embeddings aren't normalized and dot-product ranking will be
    magnitude-biased). The norm is a per-row left-fold in array order
    (identical fold order in both engines, rounded to 6dp before the
    percentile so interpolation sees identical inputs); the rollup is
    label-bounded."""
    e = _t(spark, sf_dir, "embeddings")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    nrm = F.round(
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), 6
    ).alias("nrm")
    norms = e.select("label", nrm)
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.percentile("nrm", F.lit(0.5)), 4).alias("p50_norm"),
        F.round(F.percentile("nrm", F.lit(0.95)), 4).alias("p95_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.sum((F.col("nrm") < 1e-6).cast("int")).cast("long").alias("n_zero"),
    )


@register(
    "llm_semdedup_prune",
    """
    WITH bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS s
      FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    thresholds AS (SELECT CAST(thr AS DOUBLE) AS thr
                   FROM (VALUES (0.30), (0.35), (0.40)) t(thr)),
    dropped AS (
      SELECT t.thr, p.idb AS vec
      FROM pairs p CROSS JOIN thresholds t
      WHERE p.s > t.thr
      GROUP BY t.thr, p.idb
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(vec_id) AS BIGINT) AS sum_ids
      FROM embeddings
    )
    SELECT t.thr AS threshold,
           tot.n_total,
           CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_dropped,
           tot.n_total - CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_kept,
           tot.sum_ids - CAST(coalesce(sum(d.vec), 0) AS BIGINT) AS sum_kept_ids
    FROM thresholds t CROSS JOIN tot LEFT JOIN dropped d ON d.thr = t.thr
    GROUP BY t.thr, tot.n_total, tot.sum_ids
    """,
)
def llm_semdedup_prune(spark, sf_dir):
    """SemDeDup-style semantic pruning: within each sign-LSH candidate
    bucket, drop every vector that has a LOWER-id neighbor above the
    cosine threshold (keep-first representative selection — the
    deterministic analog of the paper's keep-one-per-group), swept at
    three thresholds off ONE scored pair table. Candidates come from
    the same bucketing as llm_embedding_neardup (1/16th of the pair
    space); the sweep is a threshold cross join against the bounded
    pair set, never against the corpus, and retention is digested
    exactly (count + id-sum of keepers). Similarities are rounded 1e-6
    BEFORE thresholding so the keep/drop cut is engine-invariant.
    Per-vector norms are precomputed ONCE in the base projection and
    ride the join — recomputing norm(a)/norm(b) inside the pair
    expression re-folds 2 of the 3 64-element aggregates per pair and
    measured 2.4x slower at sf0.1; same floats either way (sqrt of the
    identical in-order dot), so the oracle is unchanged."""
    from ..llm.similarity import _as_double, dot, norm, sign_bucket

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        sign_bucket(F.col("embedding"), [1, 9, 17, 25]).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("b.vec_id").alias("idb"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("s"),
    )
    thresholds = spark.range(1).select(
        F.explode(F.array(F.lit(0.30), F.lit(0.35), F.lit(0.40))).alias("thr")
    )
    dropped = (
        pairs.crossJoin(F.broadcast(thresholds))
        .filter(F.col("s") > F.col("thr"))
        .select("thr", "idb")
        .distinct()
    )
    tot = e.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
    )
    agg = dropped.groupBy("thr").agg(
        F.count("*").cast("long").alias("n_dropped_raw"),
        F.sum("idb").cast("long").alias("sum_dropped_raw"),
    )
    return (
        thresholds.join(agg, "thr", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("thr").alias("threshold"),
            "n_total",
            F.coalesce(F.col("n_dropped_raw"), F.lit(0)).cast("long").alias("n_dropped"),
            (F.col("n_total") - F.coalesce(F.col("n_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            (F.col("sum_ids") - F.coalesce(F.col("sum_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("sum_kept_ids"),
        )
    )


@register(
    "llm_embedding_outliers",
    """
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS (
      SELECT label, list(mv ORDER BY pos) AS cv FROM (
        SELECT label, pos, round(avg(v), 4) AS mv FROM (
          SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    scored AS (
      SELECT b.vec_id, b.label,
             list_dot_product(b.v, b.v)
               - 2 * list_dot_product(b.v, c.cv)
               + list_dot_product(c.cv, c.cv) AS dist2
      FROM base b JOIN cent c USING (label)
    ),
    rn AS (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS r
      FROM scored
    )
    SELECT label, vec_id, dist2 + 0 AS dist2 FROM rn WHERE r <= 5
    """,
)
def llm_embedding_outliers(spark, sf_dir):
    """Per-label embedding outliers: the 5 vectors farthest (squared
    L2) from their label centroid — the mislabeled-example /
    dirty-cluster screen a curation pipeline runs after embedding
    (SemDeDup's inverse: find what does NOT belong). Centroids are
    elementwise means rounded to 4dp (the llm_embedding_centroids
    doctrine — decouples them from float partial-sum order) and join
    back BROADCAST (|labels| rows); dist2 expands as dot(v,v) -
    2*dot(v,c) + dot(c,c), where both engines fold the dot products
    left-to-right over the same arrays (the llm_cosine_topk parity
    pair), so the unrounded doubles match and the per-label top-5
    carries a (dist2 DESC, vec_id) total order. Scale shape: the
    corpus is scanned once and never shuffled on content — the only
    exchanges are the dim-keyed centroid rollup and the final
    per-label top-5 window on |labels| partitions. Reference analog:
    none."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = (
        base.select(
            "label", F.posexplode("v").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 4).alias("mv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s.getField("mv"),
            ).alias("cv")
        )
    )
    dot = "aggregate(zip_with({0}, {1}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    scored = base.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.expr(
            f"{dot.format('v', 'v')} - 2 * {dot.format('v', 'cv')} "
            f"+ {dot.format('cv', 'cv')}"
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.col("dist2").desc(), "vec_id")
    return (
        scored.select("label", "vec_id", "dist2", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= 5)
        .select("label", "vec_id", (F.col("dist2") + 0).alias("dist2"))
    )


_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_CAND = 20


def _mmr_oracle() -> str:
    cos = (
        "round(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv))"
        " * sqrt(list_dot_product(v, v))), 4)"
    )
    paircos = (
        "round(list_dot_product(c.v, s.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(s.v, s.v))), 4)"
    )
    ctes = [
        "base AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM base WHERE vec_id = 0)",
        f"""cand AS MATERIALIZED (
      SELECT vec_id, v, simq FROM (
        SELECT vec_id, v, {cos} AS simq,
               row_number() OVER (ORDER BY {cos} DESC, vec_id) AS rnk
        FROM base, q WHERE vec_id <> 0
      ) WHERE rnk <= {_MMR_CAND}
    )""",
        """s1 AS MATERIALIZED (
      SELECT 1 AS rank, vec_id, v, simq FROM cand
      ORDER BY simq DESC, vec_id LIMIT 1
    )""",
    ]
    for k in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, k))
        ctes.append(
            f"""s{k} AS MATERIALIZED (
      SELECT rank, vec_id, v, simq FROM (
        SELECT {k} AS rank, c.vec_id, c.v, c.simq,
               {_MMR_LAMBDA} * c.simq
                 - {round(1 - _MMR_LAMBDA, 10)} * (
                     SELECT max({paircos}) FROM ({sel}) s
                   ) AS score
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel}))
      ) ORDER BY score DESC, vec_id
      LIMIT 1
    )"""
        )
    allsel = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, _MMR_K + 1))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(rank AS BIGINT) AS rank, vec_id, simq AS sim_to_query
    FROM ({allsel}) ORDER BY rank"""
    )


@register("llm_mmr_rerank", _mmr_oracle())
def llm_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-rank: greedy top-5 selection from
    the cosine top-20 candidates of query vec_id=0, score =
    0.7*sim(q,c) - 0.3*max_{s in selected} sim(c,s) — the
    diversity-aware retrieval layer (Carbonell & Goldstein 1998) an
    LLM pipeline runs between ANN recall and context packing.
    Exactness: all similarities live on the proven 4dp cosine grid,
    each greedy argmax carries a TOTAL (score DESC, vec_id) order,
    and both engines unroll the SAME 5 steps. Scale: the corpus is
    touched ONCE (the brute-force top-20, itself replaceable by the
    ANN path); every MMR step runs on the <=20-row candidate panel —
    driver-sized by construction, like the SemDeDup threshold sweep.
    Reference analog: none (extends llm_cosine_topk)."""
    base = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = base.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cosq = F.round(
        dot(F.col("qv"), F.col("v"))
        / (F.sqrt(dot(F.col("qv"), F.col("qv"))) * F.sqrt(dot(F.col("v"), F.col("v")))),
        4,
    )
    cand, _cand_ids = checkpoint_rotate(
        base.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", cosq.alias("simq"))
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(_MMR_CAND)
    )
    sel, sel_ids = checkpoint_rotate(
        cand.orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(1)
        .select(F.lit(1).alias("rank"), "vec_id", "v", "simq")
    )
    paircos = F.round(
        dot(F.col("c.v"), F.col("s.v"))
        / (
            F.sqrt(dot(F.col("c.v"), F.col("c.v")))
            * F.sqrt(dot(F.col("s.v"), F.col("s.v")))
        ),
        4,
    )
    for k in range(2, _MMR_K + 1):
        remaining = cand.join(sel.select("vec_id"), "vec_id", "left_anti")
        maxsim = (
            remaining.alias("c")
            .crossJoin(sel.alias("s"))
            .groupBy(F.col("c.vec_id").alias("vec_id"))
            .agg(F.max(paircos).alias("max_sel"))
        )
        nxt = (
            remaining.join(maxsim, "vec_id")
            .select(
                F.lit(k).alias("rank"),
                "vec_id",
                "v",
                "simq",
                (
                    F.lit(_MMR_LAMBDA) * F.col("simq")
                    - F.lit(round(1 - _MMR_LAMBDA, 10)) * F.col("max_sel")
                ).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select("rank", "vec_id", "v", "simq")
        )
        # each greedy step's panel supersedes the previous one —
        # rotate its blocks out (operators/ckpt.py); cand stays, the
        # next step's anti-join still reads it
        sel, sel_ids = checkpoint_rotate(sel.unionAll(nxt), retire=sel_ids)
    retire_ids(spark, _cand_ids)  # last anti-join is done
    note_live(sel_ids)  # final greedy panel backs the returned frame
    return sel.select(
        F.col("rank").cast("long").alias("rank"),
        "vec_id",
        F.col("simq").alias("sim_to_query"),
    ).orderBy("rank")


_TARGET_BUCKET = 64


def _adaptive_bucket_sql() -> str:
    """DuckDB mirror of adaptive_sign_bucket over the params.bits
    column: bit j is live iff j < bits and embedding[dims[j]] > 0."""
    terms = "\n           + ".join(
        f"(CASE WHEN p.bits > {j} AND embedding[{d}] > 0 THEN {2 ** j} ELSE 0 END)"
        for j, d in enumerate(ADAPTIVE_SIGN_DIMS)
    )
    return f"CAST({terms} AS INTEGER)"


_PARAMS_SQL = f"""
    params AS (
      SELECT LEAST(16, GREATEST(2,
               CAST(ceil(log2(CAST(count(*) AS DOUBLE) / {float(_TARGET_BUCKET)})) AS INTEGER)
             )) AS bits,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(vec_id) AS BIGINT) AS sum_ids
      FROM embeddings
    ),
    bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_adaptive_bucket_sql()} AS bucket
      FROM embeddings CROSS JOIN params p
    ),
    pairs AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS s
      FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
"""


def _adaptive_base(spark, sf_dir):
    """(params 1-row literal frame, CHECKPOINTED bucketed base frame
    with precomputed norms) — shared by both scaled entries. Norm
    hoisting per the r5 lesson: the inlined cosine re-folds both
    64-element aggregates per pair otherwise (measured 2.4x slower on
    the fixed-bucket twin). Params collected to literals + base
    localCheckpointed per the r13 multiplicity fix (module
    docstring): the self-join in _adaptive_pairs otherwise duplicates
    the whole scan+bucket subtree per side."""
    from ..operators import plancap
    from ..operators.ckpt import checkpoint_rotate, note_live

    e = _t(spark, sf_dir, "embeddings")
    params_df = e.agg(
        F.count(F.lit(1)).alias("n"), F.sum("vec_id").cast("long").alias("sum_ids")
    ).select(
        adaptive_bits_expr(F.col("n"), _TARGET_BUCKET).alias("bits"),
        F.col("n").cast("long").alias("n_total"),
        "sum_ids",
    )
    row = params_df.collect()[0]  # bounded 1-row collect
    plancap.note(params_df)
    if not row["n_total"]:
        # empty source table: log2(0) makes bits/sum_ids NULL and the
        # int() casts below would raise a bare TypeError (ADVICE r13).
        # Degrade to the clamp floor with zero totals — the bucketed
        # base is empty, so both scaled entries return zero rows, the
        # same thing the oracle computes over an empty table.
        bits, n_total, sum_ids = 2, 0, 0
    else:
        bits, n_total, sum_ids = int(row["bits"]), int(row["n_total"]), int(row["sum_ids"])
    base = e.select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        adaptive_sign_bucket(F.col("embedding"), F.lit(bits)).alias("bucket"),
    ).withColumn("nrm", norm(F.col("v")))
    base, ids = checkpoint_rotate(base)
    note_live(ids)
    params = spark.range(1).select(
        F.lit(bits).cast("int").alias("bits"),
        F.lit(n_total).cast("long").alias("n_total"),
        F.lit(sum_ids).cast("long").alias("sum_ids"),
    )
    return params, base


def _adaptive_pairs(base):
    a, b = base.alias("a"), base.alias("b")
    return a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("ida"),
        F.col("b.vec_id").alias("idb"),
        F.round(
            dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("s"),
    )


@register(
    "llm_semdedup_prune_scaled",
    f"""
    WITH {_PARAMS_SQL},
    thresholds AS (SELECT CAST(thr AS DOUBLE) AS thr
                   FROM (VALUES (0.30), (0.35), (0.40)) t(thr)),
    dropped AS (
      SELECT t.thr, pr.idb AS vec
      FROM pairs pr CROSS JOIN thresholds t
      WHERE pr.s > t.thr
      GROUP BY t.thr, pr.idb
    )
    SELECT t.thr AS threshold,
           CAST(p.bits AS INTEGER) AS bits,
           p.n_total,
           CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_dropped,
           p.n_total - CAST(coalesce(count(d.vec), 0) AS BIGINT) AS n_kept,
           p.sum_ids - CAST(coalesce(sum(d.vec), 0) AS BIGINT) AS sum_kept_ids
    FROM thresholds t CROSS JOIN params p LEFT JOIN dropped d ON d.thr = t.thr
    GROUP BY t.thr, p.bits, p.n_total, p.sum_ids
    """,
)
def llm_semdedup_prune_scaled(spark, sf_dir):
    """SemDeDup-style keep-first pruning over ADAPTIVE sign-LSH
    candidate buckets (B = 2^bits, bits ∝ log2(n/64)) — the
    100 TB-shaped twin of the pinned fixed-16-bucket
    `llm_semdedup_prune`. Identical keep/drop semantics (drop every
    vector with a LOWER-id neighbor above threshold; similarities
    rounded 1e-6 BEFORE thresholding so the cut is engine-invariant;
    retention digested as count + id-sum of keepers), but the scored
    pair space is ~n * target_bucket instead of n^2/16. `bits` is
    emitted so the oracle checks the knob itself at every SF."""
    params, base = _adaptive_base(spark, sf_dir)
    pairs = _adaptive_pairs(base)
    thresholds = spark.range(1).select(
        F.explode(F.array(F.lit(0.30), F.lit(0.35), F.lit(0.40))).alias("thr")
    )
    # r14 (guide §2.3): "idb dropped at thr" ⟺ max over idb's pair
    # similarities exceeds thr (s is rounded 1e-6 BEFORE both, and max
    # on doubles has no summation order), so one partial-aggregable
    # max per idb replaces the r13 (thr, idb) distinct — that shape
    # exploded pairs x |thresholds| (~4M rows at sf0.1) into a
    # distinct exchange; this one exchanges |idb| rows once and the
    # threshold fan-out runs over the ~n-row smax table. A/B at sf0.1
    # (5 interleaved noop reps, min): 2.45s -> 1.60s, outputs
    # identical at sf0.001/sf0.01.
    smax = pairs.groupBy("idb").agg(F.max("s").alias("smax"))
    agg = (
        smax.crossJoin(F.broadcast(thresholds))
        .filter(F.col("smax") > F.col("thr"))
        .groupBy("thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dropped_raw"),
            F.sum("idb").cast("long").alias("sum_dropped_raw"),
        )
    )
    return (
        thresholds.join(agg, "thr", "left")
        .crossJoin(F.broadcast(params))
        .select(
            F.col("thr").alias("threshold"),
            F.col("bits").cast("int").alias("bits"),
            "n_total",
            F.coalesce(F.col("n_dropped_raw"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            (F.col("n_total") - F.coalesce(F.col("n_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            (F.col("sum_ids") - F.coalesce(F.col("sum_dropped_raw"), F.lit(0)))
            .cast("long")
            .alias("sum_kept_ids"),
        )
    )


@register(
    "llm_embedding_neardup_scaled",
    f"""
    WITH {_PARAMS_SQL}
    SELECT ida AS a, idb AS b, round(s, 4) AS cosine_sim
    FROM pairs
    WHERE s > 0.35
    """,
)
def llm_embedding_neardup_scaled(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs from ADAPTIVE sign-LSH
    buckets — the scale-parameterized twin of the pinned fixed-bucket
    `llm_embedding_neardup` (above): same exact-cosine
    verification above 0.35, candidate space ~n * target_bucket
    instead of n^2/16. Rounded 1e-6 before the threshold (the shared
    pair table convention), re-rounded to 4dp for output parity with
    the fixed twin."""
    _params, base = _adaptive_base(spark, sf_dir)
    return (
        _adaptive_pairs(base)
        .filter(F.col("s") > 0.35)
        .select(
            F.col("ida").alias("a"),
            F.col("idb").alias("b"),
            F.round(F.col("s"), 4).alias("cosine_sim"),
        )
    )


_COSINE_BASE_SQL = """
  base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5)
"""


@register(
    "llm_cosine_topk",
    f"""
    WITH {_COSINE_BASE_SQL},
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))),
                   4) AS cosine_sim
      FROM q, base b WHERE b.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def llm_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for 5 query vectors — the exact ANN
    baseline. Query side broadcast; corpus scanned once."""
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, [0, 1, 2, 3, 4], k=3)


@register(
    "llm_ann_bucket_counts",
    """
    SELECT bucket, count(*) AS n, min(vec_id) AS min_vec_id FROM (
      SELECT vec_id,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ) GROUP BY bucket
    """,
)
def llm_ann_bucket_counts(spark, sf_dir):
    """Sign-LSH bucket occupancy (4 coordinate hyperplanes -> 16
    buckets): the ANN scale path's candidate-set diagnostic."""
    return lsh_bucket_counts(_t(spark, sf_dir, "embeddings"))


@register(
    "llm_ann_lsh_topk",
    f"""
    WITH
    bb AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS INTEGER) AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bb WHERE vec_id < 5),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, b.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS cosine_sim
      FROM q JOIN bb b ON q.bucket = b.bucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def llm_ann_lsh_topk(spark, sf_dir):
    """Approximate top-3: only same-bucket candidates are scored — at
    100 TB this is the difference between scoring ~1/16th of the corpus
    and all of it (recall traded via bucket count)."""
    return lsh_topk(_t(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=3)


# Seeded random hyperplanes shared verbatim (rounded-literal for
# identical doubles) between the Spark plan and the DuckDB oracle.
_ANN_PLANES = random_hyperplanes(dim=64, n_planes=6, n_tables=2, seed=7)


def _bucket_sql(planes_for_table):
    terms = []
    for j, p in enumerate(planes_for_table):
        lits = ", ".join(repr(x) for x in p)
        terms.append(
            f"(CASE WHEN list_dot_product(v, CAST([{lits}] AS DOUBLE[])) > 0"
            f" THEN {2**j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


@register(
    "llm_ann_multiprobe_topk",
    f"""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    tagged AS (
      SELECT vec_id, v, 0 AS tbl, {_bucket_sql(_ANN_PLANES[0])} AS bucket FROM base
      UNION ALL
      SELECT vec_id, v, 1 AS tbl, {_bucket_sql(_ANN_PLANES[1])} AS bucket FROM base
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, tbl, bucket FROM tagged WHERE vec_id < 5),
    qp AS (SELECT query_id, qv, tbl, xor(bucket, off) AS bucket
           FROM q, (VALUES (0), (1), (2)) p(off)),
    scored AS (
      SELECT query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(qv, b.v)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(b.v, b.v))),
                   4) AS cosine_sim
      FROM qp JOIN tagged b
        ON qp.tbl = b.tbl AND qp.bucket = b.bucket AND b.vec_id <> qp.query_id
    ),
    dedup AS (SELECT query_id, neighbor_id, max(cosine_sim) AS cosine_sim
              FROM scored GROUP BY 1, 2)
    SELECT query_id, neighbor_id, cosine_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine_sim DESC, neighbor_id ASC) AS rnk
      FROM dedup
    ) WHERE rnk <= 3
    """,
)
def llm_ann_multiprobe_topk(spark, sf_dir):
    """ANN top-3 with tunable recall (VERDICT item 5): 2 independent
    6-plane random-hyperplane tables (seeded Gaussian, band-OR) plus
    Hamming-1 multi-probe on the first 2 sign bits. Candidates come
    from a (table, bucket) equi-join against the broadcast query side;
    multi-table/probe duplicates collapse via partial-aggregable
    groupBy max. Recall vs brute force is test-asserted
    (tests/test_llm_ops.py)."""
    return multiprobe_lsh_topk(
        _t(spark, sf_dir, "embeddings"),
        [0, 1, 2, 3, 4],
        k=3,
        planes=_ANN_PLANES,
        probe_bits=2,
    )


@register(
    "llm_ann_ivf_recall",
    """
    SELECT CAST(least(5, count(*) - 1) * count(*) FILTER (WHERE vec_id < 10) AS BIGINT)
             AS n_pairs,
           true AS recall_ge_half
    FROM embeddings
    """,
)
def llm_ann_ivf_recall(spark, sf_dir):
    """IVF-style ANN (seeded KMeans coarse quantizer, 8 cells, probe
    3): the driver-checkable output is the recall invariant against the
    exact brute-force top-5 for 10 queries, computed in-query via a
    semi join. KMeans is deterministic under the fixed seed, so the
    invariant is stable; measured recall 0.62 at sf0.01 scoring ~3/8 of
    the corpus per query (llm/similarity.ivf_topk). The oracle derives
    n_pairs from the table (5 per present query id) rather than a
    literal, so the invariant self-adjusts if an SF dir lacks some of
    vec_id 0-9; the recall>=0.5 bound is likewise checked relative to
    the actual pair count. Recall was validated at sf0.001/0.01/0.1 —
    revalidate when a new SF dir joins the sweep."""
    from ..llm.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qids = list(range(10))
    brute = brute_force_topk(e, qids, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(e, qids, k=5, n_cells=8, n_probe=3).select("query_id", "neighbor_id")
    hits = brute.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    return brute.agg(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
    ).select(
        "n_pairs", (F.col("n_hits") * 2 >= F.col("n_pairs")).alias("recall_ge_half")
    )


@register(
    "llm_embedding_centroids",
    """
    SELECT label, CAST(pos - 1 AS INT) AS pos, round(avg(v), 4) + 0 AS mean_val
    FROM (
      SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def llm_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroids in long form (label, dim, mean):
    posexplode -> partial-aggregable avg per (label, dim). Rows scale
    as n x dim — the standard distributed element-wise mean; the
    shuffle carries |labels| x dim partials, not vectors."""
    e = _t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "v"
        ),
    )
    # `+ 0` normalizes IEEE negative zero (round of a tiny negative
    # mean gives -0.0 in one engine, 0.0 in the other — seen at sf0.001)
    return exploded.groupBy("label", "pos").agg(
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("mean_val")
    )


@register(
    "llm_nearest_centroid_accuracy",
    """
    WITH base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
      SELECT label AS c_label, list(mean_val ORDER BY pos) AS cv FROM (
        SELECT label, pos, avg(v) AS mean_val FROM (
          SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings
        ) GROUP BY label, pos
      ) GROUP BY label
    ),
    scored AS (
      SELECT b.vec_id, b.label,
             (SELECT c.c_label FROM cent c
              ORDER BY list_dot_product(b.v, c.cv)
                       / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                       c.c_label ASC
              LIMIT 1) AS pred
      FROM base b
    )
    SELECT count(*) AS n,
           CAST(sum(CASE WHEN label = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
    FROM scored
    """,
)
def llm_nearest_centroid_accuracy(spark, sf_dir):
    """Nearest-centroid classification, EXACTLY oracle-checked (no
    invariant needed: centroids, cosine, and argmax are all
    deterministic arithmetic both engines can run). Spark shape:
    centroids collected per label (|labels| x dim — tiny), broadcast
    as a cross-joined literal-free dim, per-vector argmax via a
    window; corpus scanned once."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    exploded = e.select("label", F.posexplode("v").alias("pos", "x"))
    cent = (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pm", lambda s: s["m"]).alias("cv"),
        )
    )
    from ..llm.similarity import cosine

    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", cosine(F.col("v"), F.col("cv")).alias("sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("c_label").asc())
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("c_label").alias("pred"))
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("label") == F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )


@register(
    "llm_vector_quantize",
    """
    WITH mm AS (
      SELECT min(v) AS lo, max(v) AS hi FROM (
        SELECT unnest(CAST(embedding AS DOUBLE[])) AS v FROM embeddings
      )
    ),
    coded AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(least(floor((x - mm.lo) / (mm.hi - mm.lo) * 256), 255)
                         AS BIGINT)
             ) AS codes
      FROM embeddings, mm
      WHERE vec_id < 50
    )
    SELECT vec_id, CAST(i - 1 AS INT) AS dim_idx, codes[i] AS code
    FROM (SELECT vec_id, codes, unnest(generate_series(1, len(codes))) AS i
          FROM coded)
    """,
)
def llm_vector_quantize(spark, sf_dir):
    """int8-range scalar quantization of embeddings (corpus-global
    min/max): 4 bytes/dim -> 1, the standard storage/bandwidth
    compression before ANN at 100 TB. floor (never round) keeps the
    code arithmetic bit-identical across engines; the min/max pass is
    one partial-aggregable scan, applied as broadcast literals. Codes
    are posexploded to (vec_id, dim_idx, code) scalar rows — the
    driver's canonicalizer cannot hash raw array cells (round-3
    lesson from llm_embedding_truncate)."""
    e = _t(spark, sf_dir, "embeddings")
    mm = e.select(F.explode(F.transform("embedding", lambda x: x.cast("double"))).alias("v")).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    lo, hi = mm.lo, mm.hi
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.least(
            F.floor((x.cast("double") - F.lit(lo)) / F.lit(hi - lo) * 256), F.lit(255.0)
        ).cast("long"),
    )
    return e.filter(F.col("vec_id") < 50).select(
        "vec_id", F.posexplode(codes).alias("dim_idx", "code")
    )


@register(
    "llm_embedding_truncate",
    """
    WITH t AS (
      SELECT vec_id, list_slice(embedding::DOUBLE[], 1, 8) AS v8
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v8, sqrt(list_dot_product(v8, v8)) AS nrm FROM t
    ),
    e AS (
      SELECT vec_id, v8, nrm,
             unnest(generate_series(1, len(v8))) AS i
      FROM n
    )
    SELECT vec_id,
           CAST(i - 1 AS INT) AS dim_idx,
           round(v8[i] / nrm, 4) + 0 AS unit_val,
           round(nrm, 4) AS trunc_norm
    FROM e
    """,
)
def llm_embedding_truncate(spark, sf_dir):
    """Matryoshka-style embedding truncation: keep the first 8 of 64
    dims and L2-renormalize — the cheap dimension-reduction step used
    to trade recall for cost in vector pipelines. Pure array
    expressions (slice / zip-fold dot / transform), no UDF; `+ 0`
    normalizes IEEE -0.0 identically in both engines. Output is
    posexploded to one (vec_id, dim_idx, unit_val) row per kept
    dimension so every column is a hashable scalar."""
    from ..llm.similarity import _as_double, dot

    e = _t(spark, sf_dir, "embeddings")
    v8 = F.slice(_as_double(F.col("embedding")), 1, 8)
    base = e.select("vec_id", v8.alias("v8"))
    nrm = F.sqrt(dot(F.col("v8"), F.col("v8")))
    base = base.select("vec_id", "v8", nrm.alias("nrm"))
    unit = F.transform(F.col("v8"), lambda x: F.round(x / F.col("nrm"), 4) + 0)
    return base.select(
        "vec_id",
        F.posexplode(unit).alias("dim_idx", "unit_val"),
        F.round("nrm", 4).alias("trunc_norm"),
    )
