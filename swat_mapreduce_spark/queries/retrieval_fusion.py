"""Hybrid retrieval: Reciprocal Rank Fusion of a lexical (BM25) and a
semantic (embedding-cosine) ranking — the standard hybrid-search
combiner (Cormack, Clarke & Buettcher 2009; the default fusion in
production RAG stacks).

``hybrid_rrf_fusion``: the fixed 3-term BM25 query ranks documents
(formula shared with ``bm25_search_topk`` via
``llm_text4.bm25_scored``); the fixed query vector ranks embeddings
(same cosine shape as ``ann_topk_bruteforce``); each side keeps its
top-50 via TakeOrderedAndProject, the two 50-row lists full-outer
join on doc_id == vec_id (documents without an embedding row — most
of the corpus at sf0.1 — simply score from one list, exactly the
production partial-coverage case), and
RRF(d) = Σ_list 1/(60 + rank_list(d)) picks the fused top-10.

Cross-engine determinism: each 1/(60+r) term is an exact double
division snapped to DECIMAL(12,10) before the sum (CLAUDE.md gotcha
3); ranks come from identically tie-broken orderings (score desc,
id asc).

100 TB posture: both rankings reduce corpus-wide scans straight into
top-50 TakeOrdered cuts (no global sort materializes); the only
partition-less windows number the two 50-row cuts (census
allowlist), and the fusion join moves 100 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import arrays as A
from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.queries.llm_text4 import bm25_scored, bm25_scored_sql
from swat_mapreduce_spark.queries.similarity import _DIMS_DUCK, QUERY_VEC_ID
from swat_mapreduce_spark.sources.readers import read_table

_TOPN = 50
_RRF_K = 60

_RRF_ORACLE = f"""
WITH {bm25_scored_sql()},
lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
    FROM bm25_scored
    QUALIFY r <= {_TOPN}
),
{_DIMS_DUCK},
q AS (SELECT i, x AS qx FROM dims WHERE vec_id = {QUERY_VEC_ID}),
sem_sc AS (
    SELECT d.vec_id,
           round(sum(d.x * q.qx) / (sqrt(sum(d.x * d.x))
                 * sqrt(sum(q.qx * q.qx))) * 10000) / 10000 + 0.0 AS cosine
    FROM dims d JOIN q ON d.i = q.i
    WHERE d.vec_id <> {QUERY_VEC_ID}
    GROUP BY d.vec_id
),
sem AS (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS r
    FROM sem_sc
    QUALIFY r <= {_TOPN}
),
fused AS (
    SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
           l.r AS r_lex, s.r AS r_sem,
           coalesce(CAST(round(1.0 / ({_RRF_K} + l.r) * 100000000)
                         / 100000000 AS DECIMAL(12,10)),
                    CAST(0 AS DECIMAL(12,10)))
         + coalesce(CAST(round(1.0 / ({_RRF_K} + s.r) * 100000000)
                         / 100000000 AS DECIMAL(12,10)),
                    CAST(0 AS DECIMAL(12,10))) AS rrf
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
)
SELECT doc_id, r_lex, r_sem,
       round(rrf::DOUBLE * 1000000) / 1000000 + 0.0 AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


@register("hybrid_rrf_fusion", oracle=_RRF_ORACLE)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    dec = "decimal(12,10)"

    lex50 = (
        bm25_scored(docs)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_TOPN)
    )
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = lex50.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("r_lex")
    )

    # query norm hoisted onto the 1-row broadcast side (r13, guide
    # §1.2) — it was recomputed per corpus row; bit-identical 4dp snap
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        A.as_double_array(F.col("embedding")).alias("qv")
    ).withColumn("nq", A.l2_norm(F.col("qv")))
    vec_s = A.as_double_array(F.col("embedding"))
    sem_sc = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            R.r(
                A.cosine_pre(
                    vec_s, F.col("qv"), A.l2_norm(vec_s), F.col("nq")
                ),
                4,
            ).alias("cosine"),
        )
    )
    sem50 = sem_sc.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(_TOPN)
    ws = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    sem = sem50.select(
        "vec_id", F.row_number().over(ws).cast("long").alias("r_sem")
    )

    def term(rank_col):
        return F.coalesce(
            R.r(F.lit(1.0) / (F.lit(_RRF_K) + rank_col), 8).cast(dec),
            F.lit(0).cast(dec),
        )

    fused = lex.join(sem, lex.doc_id == sem.vec_id, "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
        "r_lex",
        "r_sem",
        (term(F.col("r_lex")) + term(F.col("r_sem"))).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            R.r(F.col("rrf").cast("double"), 6).alias("rrf_score"),
        )
    )


# --- rank-biased overlap: full-dim vs MRL-truncated ranking -------------------
# RBO (Webber, Moffat & Zobel 2010) at p = 1/2, truncated at depth 30,
# between the FULL 64-dim cosine ranking and the 16-dim
# Matryoshka-truncated ranking of the SAME query — "how much does
# dimension truncation perturb retrieval ORDER", the rank-level
# companion to matryoshka_truncation_audit's recall number. (An RBO
# between unrelated signals — e.g. BM25 vs cosine on this synthetic
# corpus — degenerates to 0 overlap at every scale factor, the
# vacuous-match trap; same-family rankings keep it loaded.)
# RBO = ((1−p)/p) · Σ_d p^d · X_d / d with X_d the depth-d prefix
# overlap. With p = 1/2 the prefactor is 1 and every p^d/d term is
# the exact rational 1/(d·2^d) — denominators stay under 2^53, so
# both engines compute IDENTICAL doubles, snapped to DECIMAL(24,12)
# (12 significant digits round-trip exactly through double). X_d
# enters via each common doc's first co-appearance depth
# m = max(rank_a, rank_b): Σ_d p^d X_d/d = Σ_m cnt_m · W(m) with
# W(m) = Σ_{d≥m} t_d — a 30×30 suffix join, no window. Single-row
# output with overlap@10/@30 alongside.
_RBO_DEPTH = 30

_RBO_TRUNC_DIM = 16

_RBO_ORACLE = f"""
WITH {_DIMS_DUCK},
q AS (SELECT i, x AS qx FROM dims WHERE vec_id = {QUERY_VEC_ID}),
full_sc AS (
    SELECT d.vec_id,
           round(sum(d.x * q.qx) / (sqrt(sum(d.x * d.x))
                 * sqrt(sum(q.qx * q.qx))) * 10000) / 10000 + 0.0 AS cosine
    FROM dims d JOIN q ON d.i = q.i
    WHERE d.vec_id <> {QUERY_VEC_ID}
    GROUP BY d.vec_id
),
lex AS (
    SELECT vec_id AS doc_id,
           row_number() OVER (ORDER BY cosine DESC, vec_id) AS r
    FROM full_sc
    QUALIFY r <= {_RBO_DEPTH}
),
trunc_sc AS (
    SELECT d.vec_id,
           round(sum(d.x * q.qx) / (sqrt(sum(d.x * d.x))
                 * sqrt(sum(q.qx * q.qx))) * 10000) / 10000 + 0.0 AS cosine
    FROM dims d JOIN q ON d.i = q.i
    WHERE d.vec_id <> {QUERY_VEC_ID}
      AND d.i <= {_RBO_TRUNC_DIM} AND q.i <= {_RBO_TRUNC_DIM}
    GROUP BY d.vec_id
),
sem AS (
    SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS r
    FROM trunc_sc
    QUALIFY r <= {_RBO_DEPTH}
),
common AS (
    SELECT greatest(l.r, s.r)::BIGINT AS m
    FROM lex l JOIN sem s ON l.doc_id = s.vec_id
),
terms AS (
    SELECT d.d,
           CAST(round(1.0 / (d.d * (1::BIGINT << d.d)) * 1000000000000)
                / 1000000000000 AS DECIMAL(24,12)) AS t
    FROM (SELECT unnest(generate_series(1, {_RBO_DEPTH})) AS d) d
),
w AS (
    -- W(m) < 0.7 always: keep it DECIMAL(20,12) so cnt*W stays inside
    -- precision 38 (a wider product silently REDUCES SCALE in Spark -
    -- CLAUDE.md gotcha 8)
    SELECT t1.d AS m, CAST(sum(t2.t) AS DECIMAL(20,12)) AS wm
    FROM terms t1 JOIN terms t2 ON t2.d >= t1.d
    GROUP BY t1.d
),
cm AS (SELECT m, CAST(count(*) AS DECIMAL(10,0)) AS cnt FROM common
       GROUP BY m),
agg AS (
    SELECT coalesce(sum(cm.cnt * w.wm), CAST(0 AS DECIMAL(38,12))) AS rbo,
           coalesce(sum(cm.cnt), 0)::BIGINT AS n_common,
           coalesce(sum(CASE WHEN cm.m <= 10 THEN cm.cnt
                         ELSE CAST(0 AS DECIMAL(10,0)) END), 0)
               ::BIGINT AS overlap_at_10
    FROM cm JOIN w USING (m)
)
SELECT n_common AS overlap_at_{_RBO_DEPTH}, overlap_at_10,
       round(rbo::DOUBLE * 1000000) / 1000000 + 0.0 AS rbo,
       CAST(round(rbo::DOUBLE * 1000000) AS BIGINT) AS rbo_ppm
FROM agg
"""


@register("ranking_rbo_similarity", oracle=_RBO_ORACLE)
def ranking_rbo_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # query norms (full + truncated) hoisted onto the 1-row broadcast
    # side (r13, guide §1.2) — each was recomputed per corpus row
    qdf = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        A.as_double_array(F.col("embedding")).alias("qv")
    )
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(
        F.broadcast(
            qdf.select(
                "qv",
                A.l2_norm(F.col("qv")).alias("nq_full"),
                A.l2_norm(
                    F.slice(F.col("qv"), 1, _RBO_TRUNC_DIM)
                ).alias("nq_trunc"),
            )
        )
    )

    def ranked(vec_col, q_col, rank_name, nq_col):
        sc = base.select(
            "vec_id",
            R.r(
                A.cosine_pre(vec_col, q_col, A.l2_norm(vec_col), nq_col),
                4,
            ).alias("cosine"),
        )
        cut = sc.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(_RBO_DEPTH)
        w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
        return cut.select(
            "vec_id", F.row_number().over(w).cast("long").alias(rank_name)
        )

    v_full = A.as_double_array(F.col("embedding"))
    lex = ranked(
        v_full, F.col("qv"), "ra", F.col("nq_full")
    ).withColumnRenamed("vec_id", "doc_id")
    v_trunc = F.slice(A.as_double_array(F.col("embedding")), 1, _RBO_TRUNC_DIM)
    sem = ranked(
        v_trunc,
        F.slice(F.col("qv"), 1, _RBO_TRUNC_DIM),
        "rb",
        F.col("nq_trunc"),
    )
    common = lex.join(sem, lex.doc_id == sem.vec_id).select(
        F.greatest("ra", "rb").alias("m")
    )
    dec = "decimal(24,12)"
    terms = (
        common.sparkSession.range(1, _RBO_DEPTH + 1)
        .select(F.col("id").alias("d"))
        .select(
            "d",
            # F.shiftleft's numBits parameter is int-only; the SQL form
            # accepts a column
            R.r(
                F.lit(1.0)
                / (F.col("d") * F.expr("shiftleft(1L, cast(d AS int))")),
                12,
            )
            .cast(dec)
            .alias("t"),
        )
    )
    t1 = terms.select(F.col("d").alias("m"))
    t2 = terms.select(F.col("d").alias("d2"), "t")
    # W(m) < 0.7: DECIMAL(20,12) keeps cnt*W inside precision 38
    # (gotcha 8 - a wider product silently reduces scale)
    w = (
        t1.join(t2, F.col("d2") >= F.col("m"))
        .groupBy("m")
        .agg(F.sum("t").cast("decimal(20,12)").alias("wm"))
    )
    cm = common.groupBy("m").agg(
        F.count(F.lit(1)).cast("decimal(10,0)").alias("cnt")
    )
    agg = cm.join(F.broadcast(w), "m").agg(
        F.coalesce(
            F.sum(F.col("cnt") * F.col("wm")),
            F.lit(0).cast("decimal(38,12)"),
        ).alias("rbo"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_common"),
        F.coalesce(
            F.sum(F.when(F.col("m") <= 10, F.col("cnt")).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("overlap_at_10"),
    )
    return agg.select(
        F.col("n_common").alias(f"overlap_at_{_RBO_DEPTH}"),
        "overlap_at_10",
        R.r(F.col("rbo").cast("double"), 6).alias("rbo"),
        # the driver hash rounds floats to 4dp - rbo at ~5e-4 would be
        # barely pinned; the integer parts-per-million column pins all
        # six digits exactly
        F.round(F.col("rbo").cast("double") * 1000000)
        .cast("long")
        .alias("rbo_ppm"),
    )


# --- query-likelihood retrieval with Dirichlet smoothing -------------------------
# The language-modeling retrieval family (Ponte & Croft 1998; Zhai &
# Lafferty 2001) next to the repo's BM25: score(q,d) =
# Σ_t ln((tf_td + μ·p(t|C)) / (dl_d + μ)), μ = 300 — the standard
# Dirichlet-prior smoothing that backs short-document retrieval in
# Lucene/Anserini. Collection stats (corpus term frequency, total
# token count) come from ONE corpus scan; every per-(doc, term) log
# term is snapped to an INTEGER 1e-6 unit (the MI/jsd grid) before
# the 3-term sum, so ranking and the top-10 cut order by exact int64
# score with doc_id tie-break. The ln input expression is
# parenthesized IDENTICALLY in both engines.
_QL_TERMS = ("merge", "scan", "sort")
_QL_MU = 300.0

def _ql_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{w}')) AS tf_{i}"
        for i, w in enumerate(_QL_TERMS)
    )
    cf_cols = ", ".join(
        f"sum(tf_{i})::BIGINT AS cf_{i}" for i in range(len(_QL_TERMS))
    )
    score = " + ".join(
        f"CAST(round(ln((tf_{i} + {_QL_MU} * (s.cf_{i}::DOUBLE / s.tt))"
        f" / (dl + {_QL_MU})) * 1000000) AS BIGINT)"
        for i in range(len(_QL_TERMS))
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
    FROM documents
),
m AS (
    SELECT doc_id, len(t) AS dl, {tf_cols} FROM toks
),
s AS (
    SELECT sum(dl)::BIGINT AS tt, {cf_cols} FROM m
),
sc AS (
    SELECT doc_id, dl, ({score}) AS score_u,
           (tf_0 + tf_1 + tf_2)::BIGINT AS n_query_hits
    FROM m CROSS JOIN s
)
SELECT doc_id, dl AS doc_len, n_query_hits,
       round(score_u * 1.0 / 1000000 * 10000) / 10000 + 0.0 AS ql_score
FROM sc
ORDER BY score_u DESC, doc_id
LIMIT 10
"""


@register("ql_dirichlet_retrieval", oracle=_ql_oracle())
def ql_dirichlet_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions import text as T

    docs = read_table(spark, sf_dir, "documents")
    toks = T.ws_tokens(F.col("text"))

    def tf_of(word: str):
        return F.size(F.filter(toks, lambda x: x == F.lit(word)))

    m = docs.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[tf_of(w).alias(f"tf_{i}") for i, w in enumerate(_QL_TERMS)],
    )
    s = m.agg(
        F.sum("dl").alias("tt"),
        *[
            F.sum(F.col(f"tf_{i}")).cast("long").alias(f"cf_{i}")
            for i in range(len(_QL_TERMS))
        ],
    )
    score = None
    for i in range(len(_QL_TERMS)):
        term = F.round(
            F.log(
                (
                    F.col(f"tf_{i}")
                    + F.lit(_QL_MU)
                    * (F.col(f"cf_{i}").cast("double") / F.col("tt"))
                )
                / (F.col("dl") + F.lit(_QL_MU))
            )
            * F.lit(1e6)
        ).cast("long")
        score = term if score is None else score + term
    sc = m.crossJoin(F.broadcast(s)).select(
        "doc_id",
        "dl",
        score.alias("score_u"),
        (F.col("tf_0") + F.col("tf_1") + F.col("tf_2"))
        .cast("long")
        .alias("n_query_hits"),
    )
    return (
        sc.orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            "n_query_hits",
            R.r(F.col("score_u").cast("double") / F.lit(1e6), 4).alias(
                "ql_score"
            ),
        )
    )


# --- mean average precision @ 10 over the fixed query sample ------------------
# The ranking-quality companion to crossmodal_retrieval_eval's
# hit-rate/MRR on the SAME 32-query hash sample: label-match relevance,
# AP@10 = Σ_r rel_r · precision@r / min(R, 10) with R = |same-label
# corpus vectors|. Exact arithmetic: precision@r terms carry
# denominators r ≤ 10, so ap·2520·min(R,10) (2520 = lcm 1..10) is an
# exact integer per query; the per-query AP is snapped to integer 1e-8
# units BEFORE the cross-query mean so the sum is order-independent.

_MAP_K = 10
_MAP_Q = 32
_MAP_LCM = 2520  # lcm(1..10)


def _map_oracle() -> str:
    from swat_mapreduce_spark.functions import hashing as _H

    qs_hash = _H.duck_hash_uint(_H.sql_salted("vec_id", "'qs'"), 8)
    return f"""
WITH {_DIMS_DUCK},
q AS (SELECT vec_id AS qid, label AS qlabel FROM embeddings
      ORDER BY {qs_hash}, vec_id LIMIT {_MAP_Q}),
rtot AS (
    SELECT q.qid, count(*)::BIGINT AS rr
    FROM q JOIN embeddings e ON e.label = q.qlabel
                            AND e.vec_id <> q.qid
    GROUP BY q.qid
),
scores AS (
    SELECT q.qid, q.qlabel, d.vec_id,
           round(sum(d.x * qd.x) / (sqrt(sum(d.x * d.x))
                 * sqrt(sum(qd.x * qd.x))) * 10000) / 10000 + 0.0 AS c
    FROM q
    JOIN dims qd ON qd.vec_id = q.qid
    JOIN dims d ON d.i = qd.i AND d.vec_id <> q.qid
    GROUP BY q.qid, q.qlabel, d.vec_id
),
ranked AS (
    SELECT qid, qlabel, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY c DESC, vec_id) AS rnk
    FROM scores
),
rel AS (
    SELECT r.qid, r.rnk,
           CASE WHEN e.label = r.qlabel THEN 1 ELSE 0 END AS rel,
           sum(CASE WHEN e.label = r.qlabel THEN 1 ELSE 0 END)
               OVER (PARTITION BY r.qid ORDER BY r.rnk) AS cumrel
    FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
    WHERE r.rnk <= {_MAP_K}
),
ap AS (
    SELECT rel.qid,
           sum(rel.rel * rel.cumrel * ({_MAP_LCM} / rel.rnk))::BIGINT
               AS ap_u,
           coalesce(max(rt.rr), 0) AS rr
    FROM rel LEFT JOIN rtot rt ON rt.qid = rel.qid
    GROUP BY rel.qid
),
apq AS (
    SELECT qid,
           CASE WHEN least(rr, {_MAP_K}) = 0 THEN 0::BIGINT
                ELSE CAST(round(ap_u * 1.0
                          / ({_MAP_LCM} * least(rr, {_MAP_K}))
                          * 100000000) AS BIGINT)
           END AS ap8
    FROM ap
)
SELECT count(*)::BIGINT AS n_queries,
       round(sum(ap8) * 1.0 / count(*) / 100000000 * 10000) / 10000
           + 0.0 AS map_at_10
FROM apq
"""


@register("map_retrieval_eval", oracle=_map_oracle())
def map_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.queries.similarity import _query_sample

    emb = read_table(spark, sf_dir, "embeddings")
    qdf = _query_sample(
        emb,
        _MAP_Q,
        [
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            A.as_double_array(F.col("embedding")).alias("qv"),
        ],
    ).withColumn("nq", A.l2_norm(F.col("qv"))).persist()
    rtot = (
        F.broadcast(qdf.select("qid", "qlabel"))
        .join(
            emb.select("vec_id", "label"),
            (F.col("label") == F.col("qlabel"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("rr"))
    )
    vec = A.as_double_array(F.col("embedding"))
    # norms hoisted OUT of the 32-way pair fan-out (r12, guide §1.2
    # per-task work): cosine(v, qv) recomputed sqrt(Σv²) per (vector,
    # query) pair and sqrt(Σq²) per corpus row; nv is projected once
    # per vector and nq once per query — dot/(nv·nq) evaluates the
    # SAME doubles in the same order, so the 4dp snap is bit-identical
    scored = (
        emb.select("vec_id", "label", vec.alias("v"))
        .withColumn("nv", A.l2_norm(F.col("v")))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            R.r(
                A.dot(F.col("v"), F.col("qv"))
                / (F.col("nv") * F.col("nq")),
                4,
            ).alias("c"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    ranked = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _MAP_K
    )
    rel = F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
    wc = Window.partitionBy("qid").orderBy("rnk")
    with_rel = ranked.select(
        "qid", "rnk", rel.alias("rel")
    ).withColumn("cumrel", F.sum("rel").over(wc))
    ap = (
        with_rel.groupBy("qid")
        .agg(
            F.sum(
                F.col("rel")
                * F.col("cumrel")
                * (F.lit(_MAP_LCM) / F.col("rnk")).cast("long")
            )
            .cast("long")
            .alias("ap_u")
        )
        .join(rtot, "qid", "left")
        .select(
            "qid",
            F.when(
                F.least(F.coalesce(F.col("rr"), F.lit(0)), F.lit(_MAP_K))
                == 0,
                F.lit(0).cast("long"),
            )
            .otherwise(
                F.round(
                    F.col("ap_u")
                    * 1.0
                    / (
                        _MAP_LCM
                        * F.least(
                            F.coalesce(F.col("rr"), F.lit(0)),
                            F.lit(_MAP_K),
                        )
                    )
                    * 1e8
                ).cast("long")
            )
            .alias("ap8"),
        )
    )
    out = ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        R.r(
            F.sum("ap8") * F.lit(1.0) / F.count(F.lit(1)) / 1e8, 4
        ).alias("map_at_10"),
    )
    rows = out.collect()
    qdf.unpersist()
    return spark.createDataFrame(rows, out.schema)


# --- IVF recall audit against brute-force ground truth ------------------------
# The accuracy side of the ann_ivf_topk speed trade: for a fixed
# 16-query hash sample, compute the brute-force top-10 (ground truth)
# and the top-10 restricted to the nprobe=2 nearest label-cells in the
# SAME scored pass, and report per-sample mean/min recall@10. At
# corpus scale the brute-force side is the expensive half — which is
# exactly why it runs over a FIXED query count (an eval op, not a
# serving path).

_IVFR_K = 10
_IVFR_Q = 16
_IVFR_NPROBE = 2


def _ivf_recall_oracle() -> str:
    from swat_mapreduce_spark.functions import hashing as _H

    qs_hash = _H.duck_hash_uint(_H.sql_salted("vec_id", "'ivfr'"), 8)
    return f"""
WITH {_DIMS_DUCK},
q AS (SELECT vec_id AS qid FROM embeddings
      ORDER BY {qs_hash}, vec_id LIMIT {_IVFR_Q}),
cent AS (
    SELECT e.label AS cell, d.i, avg(d.x) AS m
    FROM dims d JOIN embeddings e ON e.vec_id = d.vec_id
    GROUP BY e.label, d.i
),
cq AS (
    -- centroid cosines are 4dp-SNAPPED before the rank cut, like the
    -- score ranking below: raw accumulation-order-dependent double
    -- sums could flip the nprobe set on a near-tie across engines
    -- (ADVICE r11 #2); ties at equal snapped values break on cell
    SELECT q.qid, c.cell,
           round(sum(c.m * qd.x) / (sqrt(sum(c.m * c.m))
                 * sqrt(sum(qd.x * qd.x))) * 10000) / 10000 + 0.0 AS cqs
    FROM q
    JOIN dims qd ON qd.vec_id = q.qid
    JOIN cent c ON c.i = qd.i
    GROUP BY q.qid, c.cell
),
probe AS (
    SELECT qid, cell FROM (
        SELECT qid, cell,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cqs DESC, cell) AS pr
        FROM cq
    ) t WHERE pr <= {_IVFR_NPROBE}
),
scores AS (
    SELECT q.qid, d.vec_id, e.label,
           round(sum(d.x * qd.x) / (sqrt(sum(d.x * d.x))
                 * sqrt(sum(qd.x * qd.x))) * 10000) / 10000 + 0.0 AS c
    FROM q
    JOIN dims qd ON qd.vec_id = q.qid
    JOIN dims d ON d.i = qd.i AND d.vec_id <> q.qid
    JOIN embeddings e ON e.vec_id = d.vec_id
    GROUP BY q.qid, d.vec_id, e.label
),
bf AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c DESC, vec_id) AS rnk
        FROM scores
    ) t WHERE rnk <= {_IVFR_K}
),
iv AS (
    SELECT qid, vec_id FROM (
        SELECT s.qid, s.vec_id,
               row_number() OVER (PARTITION BY s.qid
                                  ORDER BY s.c DESC, s.vec_id) AS rnk
        FROM scores s JOIN probe p ON p.qid = s.qid
                                  AND p.cell = s.label
    ) t WHERE rnk <= {_IVFR_K}
),
rec AS (
    SELECT bf.qid,
           sum(CASE WHEN iv.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_hit,
           count(*)::BIGINT AS n_gt
    FROM bf LEFT JOIN iv ON iv.qid = bf.qid AND iv.vec_id = bf.vec_id
    GROUP BY bf.qid
)
SELECT count(*)::BIGINT AS n_queries,
       sum(n_hit)::BIGINT AS n_hits,
       round(sum(n_hit) * 1.0 / sum(n_gt) * 10000) / 10000 + 0.0
           AS mean_recall_at_10,
       round(min(n_hit * 1.0 / n_gt) * 10000) / 10000 + 0.0
           AS min_recall_at_10
FROM rec
"""


@register("ann_ivf_recall_eval", oracle=_ivf_recall_oracle())
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions import hashing as _H

    emb = read_table(spark, sf_dir, "embeddings")
    vec = A.as_double_array(F.col("embedding"))
    qdf = (
        emb.select(
            F.col("vec_id").alias("qid"), vec.alias("qv")
        )
        .orderBy(
            _H.hash_uint(F.col("qid"), "ivfr", 8), F.asc("qid")
        )
        .limit(_IVFR_Q)
        .persist()
    )
    # centroids: one dims pass to |labels| x 64 means (posexplode)
    cent = (
        emb.select("label", F.posexplode(vec).alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("i", "m"))
                ),
                lambda s: s["m"],
            ).alias("cv")
        )
    )
    cq = (
        cent.withColumn("ncv", A.l2_norm(F.col("cv")))
        .crossJoin(F.broadcast(qdf))
        .select(
            "qid",
            F.col("label").alias("cell"),
            # 4dp snap before the rank cut, mirrored in the oracle
            # (ADVICE r11 #2); centroid norm hoisted per cell (r13)
            R.r(
                A.cosine_pre(
                    F.col("cv"),
                    F.col("qv"),
                    F.col("ncv"),
                    A.l2_norm(F.col("qv")),
                ),
                4,
            ).alias("cqs"),
        )
    )
    wp = Window.partitionBy("qid").orderBy(F.desc("cqs"), F.asc("cell"))
    probe = (
        cq.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= _IVFR_NPROBE)
        .select("qid", "cell")
    )
    # norms hoisted out of the 16-way pair fan-out (same bit-identical
    # rewrite as map_retrieval_eval above)
    scores = (
        emb.select("vec_id", "label", vec.alias("v"))
        .withColumn("nv", A.l2_norm(F.col("v")))
        .crossJoin(
            F.broadcast(qdf.withColumn("nq", A.l2_norm(F.col("qv"))))
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            R.r(
                A.dot(F.col("v"), F.col("qv"))
                / (F.col("nv") * F.col("nq")),
                4,
            ).alias("c"),
        )
        .persist()
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("vec_id"))
    bf = (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _IVFR_K)
        .select("qid", "vec_id")
    )
    iv = (
        scores.join(
            F.broadcast(probe.withColumnRenamed("qid", "pqid")),
            (F.col("qid") == F.col("pqid"))
            & (F.col("label") == F.col("cell")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _IVFR_K)
        .select(
            F.col("qid").alias("iqid"), F.col("vec_id").alias("ivid")
        )
    )
    # iv (<= _IVFR_Q x _IVFR_K rows) broadcast by hint: left to AQE, bf
    # was shuffled or not by whether the switch to a broadcast came
    # before its stage started, and the plan varied by run
    rec = (
        bf.join(
            F.broadcast(iv),
            (F.col("qid") == F.col("iqid"))
            & (F.col("vec_id") == F.col("ivid")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.sum(
                F.when(F.col("ivid").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hit"),
            F.count(F.lit(1)).cast("long").alias("n_gt"),
        )
    )
    out = rec.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("n_hit").cast("long").alias("n_hits"),
        R.r(F.sum("n_hit") * F.lit(1.0) / F.sum("n_gt"), 4).alias(
            "mean_recall_at_10"
        ),
        R.r(F.min(F.col("n_hit") * F.lit(1.0) / F.col("n_gt")), 4).alias(
            "min_recall_at_10"
        ),
    )
    rows = out.collect()
    qdf.unpersist()
    scores.unpersist()
    return spark.createDataFrame(rows, out.schema)
