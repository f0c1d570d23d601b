"""Round-7 LLM-pipeline text/retrieval operators.

* boilerplate_segment_removal — CCNet-style boilerplate stripping at
  segment granularity: a fixed 10-token segment that appears verbatim
  in MORE THAN ONE document is boilerplate (headers, footers, license
  blurbs) and is removed from every document; per-doc accounting
  reports what a cleaning pass would delete. (The testdata has no
  newlines, so the "line" unit is a fixed token window — the
  doc-frequency machinery is the operator under test and is real.)
* mmr_diversified_topk — Maximal Marginal Relevance (Carbonell &
  Goldstein 1998): greedy top-k re-ranking trading relevance against
  redundancy, score = λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s). The
  shortlist is a distributed TakeOrdered top-20; the 5-step greedy
  selection runs on the collected 20-row shortlist (bounded driver
  state — the kmeans/BPE iterative pattern) and the oracle replays
  the SAME greedy walk with a recursive CTE carrying the selected
  set as a list column.

Determinism (CLAUDE.md gotcha 13a): every cosine is built from
integer-quantized dot terms — round((x·y)·1e8) summed as
integers — so Spark, DuckDB, and the driver-side Python loop all see
bit-identical doubles; MMR argmax ties break on vec_id.

Scale posture: boilerplate is two shuffles of segment-table volume
(segment doc-frequency groupBy + the flag join back) — the
paragraph-dedup shape; MMR is TakeOrdered + O(k·shortlist) driver
work on 20 rows — candidate volume is shortlist-bounded, never
corpus-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.functions.text import ws_tokens
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.queries.curation import _ri, _rp
from swat_mapreduce_spark.sources.readers import read_table

_SEG = 10  # tokens per segment
# oracle-side series cap (docs are a few hundred tokens; the cap only
# bounds the DuckDB lateral-workaround join, never the Spark plan)
_SEG_CAP = 2000

_BOILER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> len(x) > 0) AS tk
    FROM documents
),
base AS (
    SELECT doc_id, tk, len(tk)::BIGINT AS n_tokens,
           (len(tk) // {_SEG})::BIGINT AS n_segments
    FROM toks
),
segs AS (
    SELECT b.doc_id, g.i AS seg_no,
           array_to_string(b.tk[(g.i*{_SEG}+1):(g.i*{_SEG}+{_SEG})], ' ')
               AS seg
    FROM base b, generate_series(0, {_SEG_CAP}) AS g(i)
    WHERE g.i < b.n_segments
),
df_t AS (
    SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1
),
flagged AS (
    SELECT s.doc_id,
           count(*) FILTER (WHERE d.df >= 2)::BIGINT AS n_boiler,
           min(s.seg_no) FILTER (WHERE d.df >= 2) AS first_boiler_seg
    FROM segs s JOIN df_t d USING (seg)
    GROUP BY 1
)
SELECT b.doc_id, b.n_tokens, b.n_segments,
       coalesce(f.n_boiler, 0)::BIGINT AS n_boiler_segments,
       (b.n_tokens - {_SEG} * coalesce(f.n_boiler, 0))::BIGINT
           AS n_tokens_clean,
       f.first_boiler_seg::BIGINT AS first_boiler_seg
FROM base b LEFT JOIN flagged f USING (doc_id)
"""


@register("boilerplate_segment_removal", oracle=_BOILER_ORACLE)
def boilerplate_segment_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", ws_tokens(F.col("text")).alias("tk")
    )
    base = docs.select(
        "doc_id",
        "tk",
        F.size("tk").cast("long").alias("n_tokens"),
        (F.size("tk").cast("long") / F.lit(_SEG))
        .cast("long")
        .alias("n_segments"),
    )
    # The oracle's generate_series lateral is capped at _SEG_CAP
    # segments; the Spark side is uncapped, so a testdata generation
    # with >_SEG tokens*_SEG_CAP per doc would silently hash-diverge.
    # Fail LOUDLY instead: raise_error if any doc exceeds the cap
    # (ADVICE r7). NullType coerces into the when-branch bigint.
    n_seg_checked = F.when(
        F.col("n_segments") <= F.lit(_SEG_CAP), F.col("n_segments")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "boilerplate_segment_removal: n_segments exceeds "
                    f"oracle cap _SEG_CAP={_SEG_CAP} for doc_id="
                ),
                F.col("doc_id").cast("string"),
            )
        )
    )
    # gotcha 10: sequence(0, n-1) descends when n_segments = 0
    idx = F.when(
        F.col("n_segments") >= 1,
        F.sequence(F.lit(0), n_seg_checked - 1),
    ).otherwise(F.array().cast("array<bigint>"))
    segs = base.select(
        "doc_id", F.explode(idx).alias("seg_no"), "tk"
    ).select(
        "doc_id",
        "seg_no",
        F.concat_ws(
            " ", F.slice("tk", (F.col("seg_no") * _SEG + 1).cast("int"), _SEG)
        ).alias("seg"),
    )
    segs = segs.persist()
    df_t = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("df")
    )
    flagged = (
        segs.join(df_t, "seg")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
            F.min(F.when(F.col("df") >= 2, F.col("seg_no")))
            .cast("long")
            .alias("first_boiler_seg"),
        )
    )
    return (
        base.drop("tk")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_segments",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler_segments"),
            (
                F.col("n_tokens")
                - F.lit(_SEG) * F.coalesce("n_boiler", F.lit(0))
            ).alias("n_tokens_clean"),
            "first_boiler_seg",
        )
    )


# --- Maximal Marginal Relevance diversified top-k ------------------------------
_MMR_LAMBDA = 0.7
_MMR_K = 5
_MMR_SHORTLIST = 20
_MMR_DIM = 64

_MMR_ORACLE = f"""
WITH RECURSIVE dims AS (
    SELECT vec_id, g.i, embedding[g.i]::DOUBLE AS x
    FROM embeddings, generate_series(1, {_MMR_DIM}) AS g(i)
),
norms AS (
    SELECT vec_id,
           sqrt(sum(CAST(round((x * x) * 100000000) AS BIGINT))::DOUBLE
                / 100000000) AS nrm
    FROM dims GROUP BY 1
),
qd AS (SELECT i, x FROM dims WHERE vec_id = 0),
rel_t AS (
    SELECT d.vec_id,
           (sum(CAST(round((d.x * q.x) * 100000000) AS BIGINT))::DOUBLE
            / 100000000) / (n.nrm * qn.nrm) AS rel
    FROM dims d JOIN qd q USING (i)
    JOIN norms n ON n.vec_id = d.vec_id
    CROSS JOIN (SELECT nrm FROM norms WHERE vec_id = 0) qn(nrm)
    WHERE d.vec_id <> 0
    GROUP BY d.vec_id, n.nrm, qn.nrm
),
shortlist AS (
    SELECT vec_id, rel FROM rel_t
    ORDER BY rel DESC, vec_id LIMIT {_MMR_SHORTLIST}
),
pairsims AS (
    SELECT a.vec_id AS a, b.vec_id AS b,
           (sum(CAST(round((da.x * db.x) * 100000000) AS BIGINT))::DOUBLE
            / 100000000) / (na.nrm * nb.nrm) AS sim
    FROM shortlist a JOIN shortlist b ON a.vec_id <> b.vec_id
    JOIN dims da ON da.vec_id = a.vec_id
    JOIN dims db ON db.vec_id = b.vec_id AND db.i = da.i
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm
),
sel(step, picked, score, chosen) AS (
    (SELECT 1, vec_id, {_MMR_LAMBDA} * rel, [vec_id]
     FROM shortlist ORDER BY rel DESC, vec_id LIMIT 1)
    UNION ALL
    SELECT s.step + 1, x.vec_id, x.score, list_append(s.chosen, x.vec_id)
    FROM sel s, LATERAL (
        SELECT c.vec_id,
               {_MMR_LAMBDA} * c.rel - {1.0 - _MMR_LAMBDA} * (
                   SELECT max(p.sim) FROM pairsims p
                   WHERE p.a = c.vec_id AND list_contains(s.chosen, p.b)
               ) AS score
        FROM shortlist c
        WHERE NOT list_contains(s.chosen, c.vec_id)
        ORDER BY score DESC, c.vec_id LIMIT 1
    ) x
    WHERE s.step < {_MMR_K}
)
SELECT sel.step::BIGINT AS step, sel.picked AS vec_id,
       round(r.rel * 1000000) / 1000000 + 0.0 AS rel,
       round(sel.score * 1000000) / 1000000 + 0.0 AS mmr_score
FROM sel JOIN rel_t r ON r.vec_id = sel.picked
"""


@register("mmr_diversified_topk", oracle=_MMR_ORACLE)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from swat_mapreduce_spark.functions import arrays as A

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", A.as_double_array(F.col("embedding")).alias("v")
    )
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    q = [float(x) for x in qrow["v"]]

    def py_dot(a, b):
        return sum(_ri(a[i] * b[i], 8) for i in range(_MMR_DIM)) / 1e8

    def py_nrm(a):
        return math.sqrt(
            sum(_ri(a[i] * a[i], 8) for i in range(_MMR_DIM)) / 1e8
        )

    qn = py_nrm(q)
    q_arr = F.array(*[F.lit(x) for x in q])

    def units(term):
        return F.round(term * F.lit(1e8)).cast("long")

    dot = (
        F.aggregate(
            F.zip_with(F.col("v"), q_arr, lambda x, y: units(x * y)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).cast("double")
        / F.lit(1e8)
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col("v"), lambda x: units(x * x)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).cast("double")
        / F.lit(1e8)
    )
    rel = (dot / (nrm * F.lit(qn))).alias("rel")
    shortlist = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "v", rel)
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_SHORTLIST)
        .collect()
    )
    cands = [
        (int(r["vec_id"]), [float(x) for x in r["v"]], float(r["rel"]))
        for r in shortlist
    ]
    nrms = {cid: py_nrm(v) for cid, v, _ in cands}
    sims = {}
    for cid, cv, _ in cands:
        for did, dv, _ in cands:
            if cid != did:
                sims[(cid, did)] = py_dot(cv, dv) / (nrms[cid] * nrms[did])
    chosen: list[int] = []
    rows = []
    rel_by_id = {cid: r for cid, _, r in cands}
    for step in range(1, _MMR_K + 1):
        best = None
        for cid, _, r in cands:
            if cid in chosen:
                continue
            if chosen:
                red = max(sims[(cid, s)] for s in chosen)
                score = _MMR_LAMBDA * r - (1.0 - _MMR_LAMBDA) * red
            else:
                score = _MMR_LAMBDA * r
            key = (score, -cid)
            if best is None or key > best[0]:
                best = (key, cid, score)
        _, pick, score = best
        chosen.append(pick)
        rows.append(
            (step, pick, _rp(rel_by_id[pick], 6) + 0.0, _rp(score, 6) + 0.0)
        )
    return spark.createDataFrame(
        rows, "step long, vec_id long, rel double, mmr_score double"
    )


# --- CCNet-style per-language quality buckets ---------------------------------
# Wenzek et al. 2020 (CCNet): score every document with the LM
# perplexity proxy, then split EACH LANGUAGE into head/middle/tail
# terciles — head (lowest NLL) feeds training, tail gets dropped or
# re-filtered. Bucketing is VALUE-LEVEL on the 4dp score grid: a
# score value v goes to head if 3*|{docs < v}| < n, middle if < 2n,
# else tail — exact integers over the (lang x distinct-score) table
# (bounded by the score grid), so no per-doc global rank and no
# per-lang mega-partition window at 100 TB. Reuses the char-bigram LM
# scorer (charlm_perplexity_proxy) as a subquery on both engines.
from swat_mapreduce_spark.queries.llm_text3 import _CHARLM_ORACLE

_CCNET_ORACLE = f"""
WITH chart AS ({_CHARLM_ORACLE}),
scored AS (
    SELECT d.lang, c.doc_id, c.avg_nll AS v
    FROM chart c JOIN documents d USING (doc_id)
),
n_t AS (SELECT lang, count(*)::BIGINT AS n FROM scored GROUP BY 1),
vals AS (SELECT lang, v, count(*)::BIGINT AS c FROM scored GROUP BY 1, 2),
cum AS (
    SELECT lang, v, c,
           coalesce(sum(c) OVER (PARTITION BY lang ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS c_lt
    FROM vals
),
b AS (
    SELECT cum.lang, cum.v, cum.c,
           CASE WHEN 3 * cum.c_lt < n_t.n THEN 'head'
                WHEN 3 * cum.c_lt < 2 * n_t.n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM cum JOIN n_t USING (lang)
)
SELECT lang, bucket, sum(c)::BIGINT AS n_docs,
       round(min(v) * 10000) / 10000 + 0.0 AS min_nll,
       round(max(v) * 10000) / 10000 + 0.0 AS max_nll,
       round(sum(CAST(v AS DECIMAL(20,6)) * CAST(c AS DECIMAL(10,0)))::DOUBLE
             / sum(c) * 10000) / 10000 + 0.0 AS avg_nll
FROM b GROUP BY 1, 2
"""


@register("ccnet_quality_buckets", oracle=_CCNET_ORACLE)
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from swat_mapreduce_spark.queries.llm_text3 import (
        charlm_perplexity_proxy,
    )

    scored = charlm_perplexity_proxy(spark, sf_dir).select(
        "doc_id", F.col("avg_nll").alias("v")
    )
    langs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    sl = scored.join(langs, "doc_id").select("lang", "v")
    n_t = sl.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    vals = sl.groupBy("lang", "v").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("lang")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vals.withColumn(
        "c_lt", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long")
    )
    b = cum.join(F.broadcast(n_t), "lang").withColumn(
        "bucket",
        F.when(3 * F.col("c_lt") < F.col("n"), "head")
        .when(3 * F.col("c_lt") < 2 * F.col("n"), "middle")
        .otherwise("tail"),
    )
    avg_nll = (
        F.sum(
            F.col("v").cast("decimal(20,6)")
            * F.col("c").cast("decimal(10,0)")
        ).cast("double")
        / F.sum("c")
    )
    return b.groupBy("lang", "bucket").agg(
        F.sum("c").cast("long").alias("n_docs"),
        R.r(F.min("v"), 4).alias("min_nll"),
        R.r(F.max("v"), 4).alias("max_nll"),
        R.r(avg_nll, 4).alias("avg_nll"),
    )


# --- tf-idf cosine near-duplicates over the rare-shingle space -----------------
# The sparse-vector sibling of embedding-cosine near-dup: documents as
# tf-idf vectors over 3-gram shingles, candidates blocked to pairs
# sharing a DF-capped shingle (MAX_DF — common shingles are
# non-discriminative AND the blocking-volume bound, exactly like
# dedup_containment_pairs), cosine from integer-quantized weight
# products. IDF is snapped to 8dp via the shared round procedure so
# a JVM-vs-libm ln() ulp cannot propagate (gotcha 13a).
_TFIDF_COS_T = 0.35

_TFIDF_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> len(x) > 0) AS tk
    FROM documents
),
sh AS (
    SELECT doc_id,
           unnest(list_transform(
               generate_series(1, len(tk) - 2),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
    FROM toks WHERE len(tk) >= 3
),
n_t AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM sh),
tf_t AS (
    SELECT doc_id, shingle, count(*)::BIGINT AS tf FROM sh GROUP BY 1, 2
),
df_t AS (
    SELECT shingle, count(*)::BIGINT AS df FROM tf_t GROUP BY 1
),
w_t AS (
    SELECT t.doc_id, t.shingle,
           t.tf * (round(ln(n_t.n * 1.0 / d.df) * 100000000) / 100000000)
               AS w
    FROM tf_t t JOIN df_t d USING (shingle) CROSS JOIN n_t
    WHERE d.df <= 1000
),
norms AS (
    SELECT doc_id,
           sqrt(sum(CAST(round((w * w) * 100000000) AS BIGINT))::DOUBLE
                / 100000000) AS nrm
    FROM w_t GROUP BY 1
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*)::BIGINT AS n_common,
           sum(CAST(round((a.w * b.w) * 100000000) AS BIGINT)) AS units
    FROM w_t a JOIN w_t b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.n_common,
       round((d.units::DOUBLE / 100000000) / (na.nrm * nb.nrm) * 10000)
           / 10000 + 0.0 AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE (d.units::DOUBLE / 100000000) / (na.nrm * nb.nrm) >= {_TFIDF_COS_T}
"""


@register("neardup_tfidf_cosine", oracle=_TFIDF_ORACLE)
def neardup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    from swat_mapreduce_spark.functions.text import shingles_from_tokens
    from swat_mapreduce_spark.operators import dedup as D
    from swat_mapreduce_spark.sources.readers import fan_out

    # positional shingles WITH duplicates (tf matters here) — not
    # doc_shingle_arrays, which array_distincts for set semantics
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    )
    arrs = toked.select(
        "doc_id", shingles_from_tokens(F.col("toks"), 3).alias("sh_arr")
    )
    sh = arrs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    tf_t = sh.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("tf")
    )
    n_t = sh.select(F.count_distinct("doc_id").alias("n"))
    df_t = tf_t.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # a shuffled hash join by hint: left to AQE, whichever of tf_t and
    # df_t finished first was broadcast, and the plan varied by run
    w_t = (
        tf_t.join(df_t.hint("shuffle_hash"), "shingle")
        .filter(F.col("df") <= D.MAX_DF)
        .crossJoin(F.broadcast(n_t))
        .select(
            "doc_id",
            "shingle",
            (
                F.col("tf")
                * R.r(
                    F.log(
                        F.col("n") * F.lit(1.0) / F.col("df")
                    ),
                    8,
                )
            ).alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def units(term):
        return F.round(term * F.lit(1e8)).cast("long")

    norms = w_t.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(units(F.col("w") * F.col("w"))).cast("double")
            / F.lit(1e8)
        ).alias("nrm")
    )
    a = w_t.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("w").alias("wa")
    )
    b = w_t.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(units(F.col("wa") * F.col("wb"))).alias("units"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = (F.col("units").cast("double") / F.lit(1e8)) / (
        F.col("na") * F.col("nb")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= _TFIDF_COS_T)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            R.r(cos, 4).alias("cosine"),
        )
    )


# --- PMI collocation mining ---------------------------------------------------
# Pointwise mutual information over adjacent token bigrams (Church &
# Hanks 1990), the classic collocation detector: PMI(x,y) =
# ln( c_xy * N_uni^2 / (N_bi * c_x * c_y) ) — the argument is an
# exact integer ratio evaluated identically in IEEE on both engines,
# the one ln is snapped at 6dp (gotcha 13a libm class), and the
# top-20 cut orders by the SNAPPED value with a lexicographic
# tie-break so the rank boundary is engine-independent. min-count 5
# suppresses the unstable low-frequency tail. One tokenize pass;
# bigram/unigram tables are vocab-bounded.
_PMI_MIN_C = 5
_PMI_TOPK = 20

_PMI_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> len(x) > 0) AS tk
    FROM documents
),
uni AS (
    SELECT unnest(tk) AS w FROM toks
),
uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
nu AS (SELECT sum(c)::BIGINT AS n FROM uc),
bi AS (
    SELECT tk[i] AS x, tk[i+1] AS y
    FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
    WHERE len(tk) >= 2
),
bc AS (SELECT x, y, count(*)::BIGINT AS c FROM bi GROUP BY 1, 2),
nb AS (SELECT sum(c)::BIGINT AS n FROM bc),
scored AS (
    SELECT bc.x, bc.y, bc.c AS c_xy, cx.c AS c_x, cy.c AS c_y,
           round(ln((bc.c * 1.0 * nu.n * nu.n)
                    / (nb.n * 1.0 * cx.c * cy.c)) * 1000000) / 1000000
               + 0.0 AS pmi
    FROM bc JOIN uc cx ON cx.w = bc.x JOIN uc cy ON cy.w = bc.y
    CROSS JOIN nu CROSS JOIN nb
    WHERE bc.c >= {_PMI_MIN_C}
)
SELECT x, y, c_xy, pmi, rank
FROM (SELECT *, row_number() OVER (ORDER BY pmi DESC, x, y) AS rank
      FROM scored)
WHERE rank <= {_PMI_TOPK}
"""


@register("pmi_top_bigrams", oracle=_PMI_ORACLE)
def pmi_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", ws_tokens(F.col("text")).alias("tk")
    )
    docs = docs.persist()
    uni = docs.select(F.explode("tk").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    nu = uc.agg(F.sum("c").cast("long").alias("n"))
    # adjacent bigrams: positional slice, gotcha-10 guard on short docs
    pairs = docs.select(
        F.explode(
            F.when(
                F.size("tk") >= 2,
                F.zip_with(
                    F.slice("tk", 1, F.size("tk") - 1),
                    F.slice("tk", 2, F.size("tk") - 1),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                ),
            ).otherwise(
                F.array().cast("array<struct<x:string,y:string>>")
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bc = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    nb = bc.agg(F.sum("c").cast("long").alias("n"))
    cx = uc.select(F.col("w").alias("x"), F.col("c").alias("c_x"))
    cy = uc.select(F.col("w").alias("y"), F.col("c").alias("c_y"))
    scored = (
        bc.filter(F.col("c") >= _PMI_MIN_C)
        .join(F.broadcast(cx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(nu.select(F.col("n").alias("nu"))))
        .crossJoin(F.broadcast(nb.select(F.col("n").alias("nb"))))
        .select(
            "x",
            "y",
            F.col("c").alias("c_xy"),
            R.r(
                F.log(
                    (F.col("c") * F.lit(1.0) * F.col("nu") * F.col("nu"))
                    / (F.col("nb") * F.lit(1.0) * F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # distributed TakeOrderedAndProject cut FIRST, then rank the
    # bounded top-k set — never a global window over the bigram table
    cut = scored.orderBy(
        F.desc("pmi"), F.asc("x"), F.asc("y")
    ).limit(_PMI_TOPK)
    w = Window.orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
    out = cut.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("x", "y", "c_xy", "pmi", "rank")
    docs.unpersist()
    return out


# --- semi-supervised label propagation over the LSH similarity graph ----------
# Weak supervision for corpus labeling: 20% of documents keep their
# lang label (seed = doc_id % 5 == 0), the rest take the MAJORITY
# label of their labeled neighbors in the MinHash-LSH candidate graph
# (ties → lexicographically smallest label), replayed for 2 rounds so
# round-1 winners vote in round 2 — Zhu & Ghahramani 2002 made
# discrete. The argmax is ONE scalar max_by key (c * 1000 − label
# rank, CLAUDE.md gotcha 9; label ranks come from the bounded distinct-
# label table). Per-round cost: one edge join + one (node,label)
# groupBy — the components/k-core bounded-round shape; the oracle
# reuses the registered MinHash pair SQL as a CTE and unrolls both
# rounds.
_LP_ROUNDS = 2


def _lp_oracle() -> str:
    from swat_mapreduce_spark.queries.dedup import _minhash_oracle

    pair_sql = _minhash_oracle().strip()
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
lrank AS (
    SELECT lang, row_number() OVER (ORDER BY lang) AS r
    FROM (SELECT DISTINCT lang FROM documents)
),
seed AS (
    SELECT d.doc_id, d.lang FROM documents d WHERE d.doc_id % 5 = 0
),
v1 AS (
    SELECT s.u AS doc_id, l.lang, count(*)::BIGINT AS c
    FROM sym s JOIN seed l ON l.doc_id = s.v
    WHERE s.u NOT IN (SELECT doc_id FROM seed)
    GROUP BY 1, 2
),
w1 AS (
    SELECT v1.doc_id,
           max_by(v1.lang, v1.c * 1000 - lr.r) AS lang
    FROM v1 JOIN lrank lr ON lr.lang = v1.lang
    GROUP BY 1
),
lab1 AS (SELECT * FROM seed UNION ALL SELECT * FROM w1),
v2 AS (
    SELECT s.u AS doc_id, l.lang, count(*)::BIGINT AS c
    FROM sym s JOIN lab1 l ON l.doc_id = s.v
    WHERE s.u NOT IN (SELECT doc_id FROM lab1)
    GROUP BY 1, 2
),
w2 AS (
    SELECT v2.doc_id,
           max_by(v2.lang, v2.c * 1000 - lr.r) AS lang
    FROM v2 JOIN lrank lr ON lr.lang = v2.lang
    GROUP BY 1
),
n_docs AS (SELECT count(*)::BIGINT AS n FROM documents)
SELECT lr.lang,
       (SELECT count(*) FROM seed s WHERE s.lang = lr.lang)::BIGINT
           AS n_seed,
       (SELECT count(*) FROM w1 w WHERE w.lang = lr.lang)::BIGINT
           AS n_round1,
       (SELECT count(*) FROM w2 w WHERE w.lang = lr.lang)::BIGINT
           AS n_round2
FROM lrank lr
"""


@register("label_propagation_semisup", oracle=_lp_oracle())
def label_propagation_semisup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from swat_mapreduce_spark.operators import dedup as D

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    sym = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lrank = (
        docs.select("lang")
        .distinct()
        .withColumn("r", F.row_number().over(Window.orderBy("lang")))
    )
    seed = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "lang")
    lab = seed.persist(StorageLevel.MEMORY_AND_DISK)
    per_round = []
    for _ in range(_LP_ROUNDS):
        votes = (
            sym.join(lab.select(F.col("doc_id").alias("v"), "lang"), "v")
            .join(lab.select(F.col("doc_id").alias("u")), "u", "anti")
            .groupBy(F.col("u").alias("doc_id"), "lang")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        key = F.col("c") * F.lit(1000) - F.col("r")
        winners = (
            votes.join(F.broadcast(lrank), "lang")
            .groupBy("doc_id")
            .agg(F.max_by("lang", key).alias("lang"))
        )
        per_round.append(winners.persist(StorageLevel.MEMORY_AND_DISK))
        lab = lab.unionAll(winners).persist(StorageLevel.MEMORY_AND_DISK)
    counts = [
        df.groupBy("lang").agg(F.count(F.lit(1)).alias(name))
        for df, name in [
            (seed, "n_seed"),
            (per_round[0], "n_round1"),
            (per_round[1], "n_round2"),
        ]
    ]
    out = lrank.select("lang")
    for c in counts:
        out = out.join(F.broadcast(c), "lang", "left")
    out = out.select(
        "lang",
        F.coalesce("n_seed", F.lit(0)).cast("long").alias("n_seed"),
        F.coalesce("n_round1", F.lit(0)).cast("long").alias("n_round1"),
        F.coalesce("n_round2", F.lit(0)).cast("long").alias("n_round2"),
    )
    rows = out.collect()  # bounded: |langs| rows — drain before unpersist
    sym.unpersist()
    return spark.createDataFrame(rows, out.schema)
