"""Dedup queries + DuckDB oracles (north-star LLM-pipeline ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R
from swat_mapreduce_spark.operators import dedup as D
from swat_mapreduce_spark.queries import register
from swat_mapreduce_spark.sources.readers import read_table
from swat_mapreduce_spark.sources.staging import staged_dir

# Shared DuckDB CTE: distinct 3-word shingles per doc (matches
# functions/text.py word_shingles + array_distinct).
_SH_DUCK = r"""
toks AS (
    SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t
    FROM documents
),
tok_idx AS (
    SELECT doc_id, lang, t,
           unnest(generate_series(1, len(t) - 2)) AS i
    FROM toks
),
sh AS (
    SELECT DISTINCT doc_id, lang,
           array_to_string(t[i : i + 2], ' ') AS shingle
    FROM tok_idx
)
"""


# --- exact dedup -----------------------------------------------------------
_EXACT_ORACLE = """
SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, md5(text) AS text_md5
FROM documents
GROUP BY text
"""


@register("dedup_exact", oracle=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper_id", "n_copies", F.md5("text").alias("text_md5"))
    )


# --- MinHash + LSH ---------------------------------------------------------
def _minhash_oracle() -> str:
    h = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    sig_cols = ",\n           ".join(
        f"min(({D.MH_A[k]} * {h} + {D.MH_B[k]}) % {D.MERSENNE61}) AS h{k}"
        for k in range(D.NUM_HASHES)
    )
    band_rows = []
    for b in range(D.BANDS):
        cols = ", ".join(
            f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, concat_ws('|', {cols}) AS bucket FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
WITH {_SH_DUCK},
sigs AS (
    SELECT doc_id, {sig_cols}
    FROM sh GROUP BY doc_id
),
bands AS ({bands_sql}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS c
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) >= 0.5
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, threshold=0.5)


# --- SimHash ---------------------------------------------------------------
_SIMHASH_ORACLE = r"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
    FROM documents
),
bits AS (
    SELECT doc_id, g.j,
           sum(CASE WHEN strpos('89abcdef', substr(md5(tok), g.j, 1)) > 0
                    THEN 1 ELSE -1 END) AS s
    FROM toks, generate_series(1, 32) AS g(j)
    GROUP BY doc_id, g.j
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)::BIGINT AS simhash
FROM bits
GROUP BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.simhash(docs)


# --- exact n-gram Jaccard within language ----------------------------------
# Mirrors operators/dedup.ngram_jaccard_pairs' MAX_DF hot-shingle cap:
# shingles in more than MAX_DF docs are dropped from the shingle sets
# (sizes AND intersections) before the self-join on both engines.
_NGRAM_ORACLE = f"""
WITH {_SH_DUCK},
capped AS (
    SELECT doc_id, lang, shingle FROM (
        SELECT s.*, count(*) OVER (PARTITION BY lang, shingle) AS df
        FROM sh s
    ) WHERE df <= {D.MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM capped a JOIN capped b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) >= 0.3
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, threshold=0.3)


# --- EXACT Jaccard pairs via prefix filtering (AllPairs/PPJoin) ------------
# The no-approximation alternative to the MAX_DF cap: shingles sorted
# rarest-first globally; only each doc's |s| - ceil(t|s|) + 1 prefix
# enters the candidate self-join (the globally smallest shared token
# of any qualifying pair provably lies in both prefixes), then exact
# verification. Hot shingles sort last and never reach a prefix — the
# stop-shingle blowup solves itself without dropping candidates.
# t = 0.7, the standard near-dup bar, which is also where prefix
# filtering earns its keep: prefix size is (1-t)·|s|, so t = 0.3 left
# 71% of postings in prefixes and 136k candidates at sf0.1 where 0.7
# leaves ~30% and ~100× fewer — and the testdata's true pair set is
# IDENTICAL at 0.3 and 0.7 (planted near-dups are high-similarity;
# verified 8/6/79 pairs at all SFs for both thresholds).
_PREFIX_JACCARD_T = 0.7
_PREFIX_ORACLE = f"""
WITH {_SH_DUCK},
dfq AS (SELECT lang, shingle, count(*) AS df FROM sh GROUP BY 1, 2),
ordered AS (
    SELECT s.doc_id, s.lang, s.shingle,
           row_number() OVER (PARTITION BY s.doc_id
                              ORDER BY f.df, s.shingle) AS pos,
           count(*) OVER (PARTITION BY s.doc_id) AS n
    FROM sh s JOIN dfq f ON f.lang = s.lang AND f.shingle = s.shingle
),
pre AS (
    SELECT doc_id, lang, shingle FROM ordered
    WHERE pos <= n - ceil({_PREFIX_JACCARD_T} * n) + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pre a JOIN pre b
      ON a.lang = b.lang AND a.shingle = b.shingle
     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS c
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.c::DOUBLE / (na.n + nb.n - i.c) * 10000) / 10000 + 0.0
           AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE round(i.c::DOUBLE / (na.n + nb.n - i.c) * 10000) / 10000
      >= {_PREFIX_JACCARD_T}
"""


@register("dedup_jaccard_prefix_filter", oracle=_PREFIX_ORACLE)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return D.jaccard_prefix_filter_pairs(
        docs, threshold=_PREFIX_JACCARD_T
    )


# --- decontamination vs a benchmark slice --------------------------------
# Benchmark = the src0 documents; flag any OTHER document sharing >=20%
# of its distinct 3-gram shingles with the benchmark shingle set.
_DECON_ORACLE = f"""
WITH {_SH_DUCK},
hashed AS (
    SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS sh_h
    FROM sh
),
bench AS (
    SELECT DISTINCT h.sh_h FROM hashed h
    JOIN documents d ON d.doc_id = h.doc_id
    WHERE d.source = 'src0'
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
matched AS (
    SELECT h.doc_id, count(*) AS n_matched
    FROM hashed h JOIN bench USING (sh_h)
    JOIN documents d ON d.doc_id = h.doc_id
    WHERE d.source <> 'src0'
    GROUP BY h.doc_id
)
SELECT m.doc_id, s.n_shingles, m.n_matched,
       round(m.n_matched::DOUBLE / s.n_shingles, 4) AS contamination
FROM matched m JOIN sizes s ON s.doc_id = m.doc_id
WHERE round(m.n_matched::DOUBLE / s.n_shingles, 4) >= 0.2
"""


@register("decontaminate_vs_benchmark", oracle=_DECON_ORACLE)
def decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return D.decontaminate(train, bench, n=3, threshold=0.2)


# --- near-dup cluster assignment (connected components) --------------------
# Pairs only relate docs two at a time; clustering A~B~C chains and
# electing min-id per cluster is the step that actually dedups.
# Spark side: iterative min-label propagation
# (operators/dedup.connected_components — O(diameter) rounds, lineage-
# checkpointed). Oracle: transitive closure by recursive CTE over the
# same MinHash-LSH pair list; min reachable id == propagated label.
def _cc_oracle() -> str:
    pair_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
)
SELECT c.doc_id, c.component,
       count(*) OVER (PARTITION BY c.component) AS comp_size,
       (c.doc_id = c.component) AS is_keeper
FROM comp c
"""


@register("dedup_cluster_components", oracle=_cc_oracle())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    comp = D.connected_components(pairs)
    w = F.count(F.lit(1)).over(Window.partitionBy("component"))
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        w.alias("comp_size"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


# --- end-to-end corpus clean: drop non-keeper near-dups --------------------
# The user-facing form of the whole near-dup stack: pairs → components
# → keeper election → anti-join the losers out of the corpus. Output
# is the cleaned-corpus census per (lang, source) so the check pins
# exactly which docs survived at any scale.
def _dedup_clean_oracle() -> str:
    pair_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
),
losers AS (SELECT doc_id FROM comp WHERE doc_id <> component)
SELECT d.lang, d.source, count(*) AS n_docs_kept
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY d.lang, d.source
"""


@register("corpus_dedup_clean", oracle=_dedup_clean_oracle())
def corpus_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    comp = D.connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs_kept")
    )


# --- MinHash estimator accuracy audit --------------------------------------
# ML-infra hygiene op: for every LSH candidate pair, compare the
# MinHash ESTIMATE of Jaccard (fraction of agreeing signature
# components — multiples of 1/16, exact doubles, no rounding hazard)
# against the EXACT shingle Jaccard, reporting the absolute error.
# This is how a production dedup pipeline validates its band/row
# parameters before trusting the estimator at 100 TB, where exact
# verification of every candidate is the expensive step being traded
# away. Plan shape: the same bucketed candidate generation as
# dedup_minhash_lsh, plus two broadcast-joinable signature lookups
# (one row per doc) and the pair-array exact verify.
def _mh_audit_oracle() -> str:
    h = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    sig_cols = ",\n           ".join(
        f"min(({D.MH_A[k]} * {h} + {D.MH_B[k]}) % {D.MERSENNE61}) AS h{k}"
        for k in range(D.NUM_HASHES)
    )
    band_rows = []
    for b in range(D.BANDS):
        cols = ", ".join(
            f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, concat_ws('|', {cols}) AS bucket"
            " FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    est_terms = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END"
        for k in range(D.NUM_HASHES)
    )
    return f"""
WITH {_SH_DUCK},
sigs AS (
    SELECT doc_id, {sig_cols}
    FROM sh GROUP BY doc_id
),
bands AS ({bands_sql}),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS c
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
    GROUP BY p.doc_a, p.doc_b
),
est AS (
    SELECT p.doc_a, p.doc_b,
           ({est_terms}) / {float(D.NUM_HASHES)} AS est_j
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
)
SELECT e.doc_a, e.doc_b,
       e.est_j AS est_jaccard,
       round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) AS exact_jaccard,
       round(abs(e.est_j - round(i.c::DOUBLE / (na.n + nb.n - i.c), 4))
             * 10000) / 10000 + 0.0 AS abs_err
FROM est e
JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes na ON na.doc_id = e.doc_a
JOIN sizes nb ON nb.doc_id = e.doc_b
"""


@register("minhash_estimate_accuracy", oracle=_mh_audit_oracle())
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = read_table(spark, sf_dir, "documents")
    # persist the per-doc shingle arrays and the candidate pairs (r13):
    # docsh feeds the signature build + BOTH verify-join sides, pairs
    # feed the estimate join + the exact verify — unpersisted, the
    # tokenize+shingle pipeline re-ran three times and the whole
    # band/bucket candidate generation twice (same materialization
    # contract as minhash_lsh_pairs)
    docsh = D.doc_shingle_arrays(docs, 3).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = D.minhash_signatures_from_arrays(docsh)
    pairs = D.candidate_pairs(D.lsh_bands(sigs)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    est_sum = sum(
        F.when(F.col(f"a_h{k}") == F.col(f"b_h{k}"), 1).otherwise(0)
        for k in range(D.NUM_HASHES)
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a_h{k}") for k in range(D.NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b_h{k}") for k in range(D.NUM_HASHES)],
    )
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (est_sum / float(D.NUM_HASHES)).alias("est_jaccard"),
        )
    )
    # shuffled hash joins by hint, here and below: left to AQE, the
    # join broadcast whichever of its persisted inputs finished first,
    # and the plan varied by run (CLAUDE.md gotcha 21)
    exact = D.jaccard_verify_arrays(
        pairs, docsh.hint("shuffle_hash"), threshold=0.0
    ).select("doc_a", "doc_b", F.col("jaccard").alias("exact_jaccard"))
    joined = est.join(exact.hint("shuffle_hash"), ["doc_a", "doc_b"])
    return joined.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "exact_jaccard",
        (
            F.round(
                F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
                * 10000.0
            )
            / 10000.0
            + 0.0
        ).alias("abs_err"),
    )


# --- SimHash hamming-distance pairs ----------------------------------------
# Completes the SimHash path from fingerprint to PAIRS: byte-band the
# 32-bit fingerprint (4 bands x 8 bits), candidates share >=1 exact
# band (the pigeonhole guarantee is total for hamming <= 3; beyond
# that this is the standard LSH recall trade — document, don't hide),
# verify with bit_count(xor) <= R. Same bucketed shape as MinHash:
# one groupBy on (band, byte), in-bucket pair expansion, no all-pairs
# join, degenerate buckets capped. The OUTPUT is the per-distance pair
# histogram, not the pair list: the synthetic 40-word vocabulary
# saturates 32-bit fingerprints (most docs share most distinct
# tokens), so the raw pair set is inherently dense here — the
# histogram is the tuning artifact you actually read (pick R where
# the count knees), and it keeps the result bounded at any scale.
_SIMHASH_R = 6  # max hamming distance reported
_SIMHASH_BANDS = 4

_SIMHASH_PAIRS_ORACLE = rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
    FROM documents
),
bits AS (
    SELECT doc_id, g.j,
           sum(CASE WHEN strpos('89abcdef', substr(md5(tok), g.j, 1)) > 0
                    THEN 1 ELSE -1 END) AS s
    FROM toks, generate_series(1, 32) AS g(j)
    GROUP BY doc_id, g.j
),
sims AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << (j - 1)) ELSE 0 END)
               ::BIGINT AS sh
    FROM bits GROUP BY doc_id
),
bands AS (
    SELECT doc_id, g.b, (sh >> (8 * g.b)) & 255 AS key
    FROM sims, generate_series(0, {_SIMHASH_BANDS - 1}) AS g(b)
),
-- mirror candidate_pairs' degenerate-bucket cap (max_bucket=1000):
-- saturated fingerprints make some byte-buckets exceed it at sf0.1
capped AS (
    SELECT doc_id, b, key FROM bands
    QUALIFY count(*) OVER (PARTITION BY b, key) <= 1000
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b
      ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT bit_count(xor(sa.sh, sb.sh))::BIGINT AS hamming,
       count(*)::BIGINT AS n_pairs
FROM pairs p
JOIN sims sa ON sa.doc_id = p.doc_a
JOIN sims sb ON sb.doc_id = p.doc_b
WHERE bit_count(xor(sa.sh, sb.sh)) <= {_SIMHASH_R}
GROUP BY 1
"""


@register("simhash_hamming_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # One long per doc; consumed three times (banding + both verify
    # sides), and the 32 per-token bit-folds behind it are the CPU hot
    # path — materialize once.
    from pyspark import StorageLevel

    sims = D.simhash(docs).persist(StorageLevel.MEMORY_AND_DISK)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.shiftright(F.col("simhash"), 8 * b)
                .bitwiseAND(255)
                .alias("key"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    bands = sims.select(
        "doc_id", F.explode(band_arr).alias("bb")
    ).select("doc_id", F.col("bb.b").alias("b"), F.col("bb.key").alias("key"))
    pairs = D.candidate_pairs(
        bands.withColumnRenamed("b", "band").withColumnRenamed(
            "key", "bucket"
        )
    )
    sa = sims.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")
    )
    sb = sims.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")
    )
    hamming = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    ).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_R)
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- LSH recall / precision evaluation -------------------------------------
# Quantifies the recall trade every LSH docstring references: ground
# truth = exact shingle-Jaccard pairs >= 0.5 (the capped inverted-
# index path), prediction = the MinHash band/bucket CANDIDATE set
# (pre-verification). recall = how many true near-dup pairs the
# bucketing surfaces; precision = how much of the candidate volume is
# real. This is the number that justifies the 4x4 band layout — rerun
# it when retuning bands/rows.
def _lsh_recall_oracle() -> str:
    h = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    sig_cols = ",\n           ".join(
        f"min(({D.MH_A[k]} * {h} + {D.MH_B[k]}) % {D.MERSENNE61}) AS h{k}"
        for k in range(D.NUM_HASHES)
    )
    band_rows = []
    for b in range(D.BANDS):
        cols = ", ".join(
            f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, concat_ws('|', {cols}) AS bucket"
            " FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
WITH {_SH_DUCK},
capped AS (
    SELECT doc_id, lang, shingle FROM (
        SELECT s.*, count(*) OVER (PARTITION BY lang, shingle) AS df
        FROM sh s
    ) WHERE df <= {D.MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM capped a JOIN capped b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
truth AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) >= 0.5
),
sigs AS (
    SELECT doc_id, {sig_cols}
    FROM sh GROUP BY doc_id
),
bands AS ({bands_sql}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
hit AS (
    SELECT t.doc_a FROM truth t
    JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
       (SELECT count(*) FROM hit)::BIGINT AS n_hit,
       round((SELECT count(*) FROM hit) * 10000.0
             / (SELECT count(*) FROM truth)) / 10000 + 0.0 AS recall,
       round((SELECT count(*) FROM hit) * 10000.0
             / (SELECT count(*) FROM cand)) / 10000 + 0.0 AS precision
"""


@register("lsh_recall_eval", oracle=_lsh_recall_oracle())
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    truth = D.ngram_jaccard_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    docsh = D.doc_shingle_arrays(docs, 3)
    cand = D.candidate_pairs(
        D.lsh_bands(D.minhash_signatures_from_arrays(docsh))
    )
    truth = truth.persist()
    cand = cand.persist()
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            (
                F.round(F.col("n_hit") * 10000.0 / F.col("n_truth"))
                / 10000.0
                + 0.0
            ).alias("recall"),
            (
                F.round(F.col("n_hit") * 10000.0 / F.col("n_candidates"))
                / 10000.0
                + 0.0
            ).alias("precision"),
        )
    )


# --- persisted LSH index: build once, probe incrementally ------------------
# Production dedup is index-once/probe-many: the corpus's MinHash
# signatures and band-bucket postings are written to parquet ONCE;
# each NEW document batch then computes signatures for ITS OWN docs
# only and equi-joins its bands against the persisted index — the
# corpus text is never re-shingled, so probe cost is O(new batch) +
# one index join, with the corpus touched zero times
# (incremental_dedup_vs_corpus, by contrast, re-derives corpus
# shingles on every run). Candidate pairs are scored by SIGNATURE
# AGREEMENT (matching minhashes / 16 — the standard unbiased Jaccard
# estimator), which is exactly what makes the index self-contained:
# verification needs only the 128-byte signature row, not the
# document text. The corpus split (doc_id % 10 < 8) and batch split
# (>= 8) mirror incremental_dedup_vs_corpus. At 100 TB the index is
# |corpus| × (16 longs + 4 band postings) — ~1% of corpus bytes —
# bucketed by (band, bucket) on write so probes co-locate without a
# corpus-side shuffle (SCALING.md).
#
# The oracles cannot read the index parquet (driver oracles see only
# the pre-registered views — CLAUDE.md gotcha 9a); they recompute the
# same signatures from the documents view, which checks exactly the
# CONTENT the index must contain.


def _sigs_sql(where: str) -> str:
    h = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    sig_cols = ",\n           ".join(
        f"min(({D.MH_A[k]} * {h} + {D.MH_B[k]}) % {D.MERSENNE61}) AS h{k}"
        for k in range(D.NUM_HASHES)
    )
    return f"SELECT doc_id, {sig_cols} FROM sh WHERE {where} GROUP BY doc_id"


def _bands_sql(sigs_cte: str) -> str:
    rows = []
    for b in range(D.BANDS):
        cols = ", ".join(
            f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
        )
        rows.append(
            f"SELECT doc_id, {b} AS band, concat_ws('|', {cols}) AS bucket "
            f"FROM {sigs_cte}"
        )
    return " UNION ALL ".join(rows)


def _lsh_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the corpus LSH index parquet exists for ``sf_dir``;
    build it on first call (one corpus pass: shingle → signatures →
    bands), reuse it afterwards (a staged fixture, ``sources/staging``)
    — the probe query's 'corpus touched zero times' contract. Two
    artifacts: ``sigs`` (doc_id, h0..h15) and ``bands`` (doc_id, band,
    bucket)."""

    def build(root: str) -> None:
        docs = read_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 < 8
        )
        # nonempty=True, not .filter(size(sh_arr) >= 1): the derived-column
        # filter pushes into the scan with the shingle pipeline re-inlined
        # (gotcha 13, r13); size(toks) >= 3 is the cheap equivalent
        docsh = D.doc_shingle_arrays(docs, 3, nonempty=True)
        sigs = D.minhash_signatures_from_arrays(docsh)
        # repartition(4), never coalesce(1) (CLAUDE.md gotcha 11); a real
        # deployment would bucketBy (band, bucket) here — the tmp-dir
        # index keeps plain parquet so the probe join stays readable
        sigs.repartition(4).write.parquet(root + "/sigs")
        bands = D.lsh_bands(spark.read.parquet(root + "/sigs"))
        bands.repartition(4).write.parquet(root + "/bands")

    return staged_dir("lsh_index", sf_dir, build)


def _index_build_oracle() -> str:
    return f"""
WITH {_SH_DUCK},
sigs AS ({_sigs_sql("doc_id % 10 < 8")}),
bands AS ({_bands_sql("sigs")})
SELECT doc_id, band, bucket FROM bands
"""


@register("dedup_index_build", oracle=_index_build_oracle())
def dedup_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build (or reuse) the persisted corpus LSH index and return its
    band-postings table — read back FROM THE PARQUET ARTIFACT, so the
    oracle checks what was actually written, not a live recompute."""
    root = _lsh_index_dir(spark, sf_dir)
    return spark.read.parquet(root + "/bands").select(
        "doc_id", "band", "bucket"
    )


def _probe_oracle() -> str:
    m_expr = " + ".join(
        f"(bs.h{k} = cs.h{k})::INT" for k in range(D.NUM_HASHES)
    )
    return f"""
WITH {_SH_DUCK},
csigs AS ({_sigs_sql("doc_id % 10 < 8")}),
bsigs AS ({_sigs_sql("doc_id % 10 >= 8")}),
cbands AS ({_bands_sql("csigs")}),
bbands AS ({_bands_sql("bsigs")}),
cand AS (
    SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
    FROM bbands b JOIN cbands c
      ON b.band = c.band AND b.bucket = c.bucket
),
est AS (
    SELECT cand.batch_id, cand.corpus_id, ({m_expr}) AS m
    FROM cand
    JOIN bsigs bs ON bs.doc_id = cand.batch_id
    JOIN csigs cs ON cs.doc_id = cand.corpus_id
),
best AS (
    -- unique tie-broken scalar key (CLAUDE.md gotcha 9): corpus_id is
    -- distinct per batch_id, so m*1e10 - corpus_id never ties, stays
    -- ordered by m for ids up to 1e10, and is exact under 2^53 for
    -- m <= 16 (ADVICE r6: 1e7 lost argmax-m meaning past 1e7 ids)
    SELECT batch_id, count(*) AS n_candidates,
           max_by(corpus_id, m * 10000000000 - corpus_id) AS best_match,
           max_by(m, m * 10000000000 - corpus_id) AS best_m
    FROM est GROUP BY batch_id
)
SELECT s.doc_id, coalesce(b.n_candidates, 0) AS n_candidates,
       b.best_match,
       round(b.best_m / 16.0, 4) AS best_est_jaccard,
       coalesce(b.best_m / 16.0 < 0.5, true) AS keep
FROM bsigs s LEFT JOIN best b ON b.batch_id = s.doc_id
"""


def probe_docs_against_index(
    spark: SparkSession,
    batch,
    root: str,
    persist: bool = True,
    index: tuple[DataFrame, DataFrame] | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """Probe a docs DataFrame against the persisted LSH index at
    ``root``: batch-only shingling, band equi-join against the index
    postings, signature-agreement Jaccard estimate, per-doc keep
    decision. Every batch doc is emitted (n_candidates=0 rows
    included) so the result can never be vacuously empty. Shared by
    the batch probe query and the foreachBatch streaming-ingest
    probe (``persist=False`` there — micro-batches are small and the
    sink drains immediately). ``index`` lets a streaming caller pass
    the (sigs, bands) DataFrames loaded+persisted ONCE so every
    micro-batch probes the same in-memory index instead of re-reading
    parquet per batch — the production ingest-gate shape.
    ``persisted_out`` (when given) collects every DataFrame this call
    persists so the caller can unpersist them INDIVIDUALLY after
    draining — never session-wide ``clearCache()``, which would drop
    caches owned by the shared one-session-per-process driver
    (gotcha 7, ADVICE r7)."""
    if index is not None:
        csigs, cbands = index
    else:
        csigs = spark.read.parquet(root + "/sigs")
        cbands = spark.read.parquet(root + "/bands")
    from pyspark import StorageLevel

    # bsigs feeds three consumers (bands, the est join, the all-docs
    # left join) — persist the 1-row-per-doc signature table, not the
    # corpus (which is only reached through the parquet index)
    # nonempty=True, not filter(size(sh_arr) >= 1) — gotcha 13 (r13)
    bsigs = D.minhash_signatures_from_arrays(
        D.doc_shingle_arrays(batch, 3, nonempty=True)
    )
    if persist:
        bsigs = bsigs.persist(StorageLevel.MEMORY_AND_DISK)
        if persisted_out is not None:
            persisted_out.append(bsigs)
    bbands = D.lsh_bands(bsigs)
    # the batch side is ingest-bounded (≪ corpus) — broadcast every
    # batch-derived join input so the corpus index is only ever
    # SCANNED, never shuffled: zero corpus-volume exchanges per probe
    cand = (
        F.broadcast(
            bbands.select(
                F.col("doc_id").alias("batch_id"), "band", "bucket"
            )
        )
        .join(
            cbands.select(
                F.col("doc_id").alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("batch_id", "corpus_id")
        .distinct()
    )
    bs = bsigs.select(
        F.col("doc_id").alias("batch_id"),
        *[F.col(f"h{k}").alias(f"b_h{k}") for k in range(D.NUM_HASHES)],
    )
    cs = csigs.select(
        F.col("doc_id").alias("corpus_id"),
        *[F.col(f"h{k}").alias(f"c_h{k}") for k in range(D.NUM_HASHES)],
    )
    m = None
    for k in range(D.NUM_HASHES):
        t = F.when(F.col(f"b_h{k}") == F.col(f"c_h{k}"), 1).otherwise(0)
        m = t if m is None else m + t
    est = (
        F.broadcast(cand.join(F.broadcast(bs), "batch_id"))
        .join(cs, "corpus_id")
        .select("batch_id", "corpus_id", m.alias("m"))
    )
    key = F.col("m") * F.lit(10_000_000_000) - F.col("corpus_id")
    best = est.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max_by("corpus_id", key).alias("best_match"),
        F.max_by("m", key).alias("best_m"),
    )
    ratio = F.col("best_m") / 16.0
    return (
        bsigs.select("doc_id")
        .join(F.broadcast(best), F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
            "best_match",
            R.r(ratio, 4).alias("best_est_jaccard"),
            F.coalesce(ratio < 0.5, F.lit(True)).alias("keep"),
        )
    )


@register("dedup_probe_incremental", oracle=_probe_oracle())
def dedup_probe_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _lsh_index_dir(spark, sf_dir)
    batch = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 >= 8
    )
    return probe_docs_against_index(spark, batch, root)


# --- quality-aware keeper election ------------------------------------------
# corpus_dedup_clean keeps min-doc-id per near-dup cluster; production
# pipelines keep the HIGHEST-QUALITY member instead (longest, cleanest
# variant of the duplicated content). Same pairs -> components stack,
# different election: argmax token count, ties to the SMALLER doc_id,
# encoded into ONE scalar max_by key (n_toks * 1e10 - doc_id, exact
# under 2^53 — CLAUDE.md gotcha 9's tie-break discipline).
def _keeper_quality_oracle() -> str:
    pair_sql = _minhash_oracle().strip()
    return rf"""
WITH RECURSIVE pairs AS ({pair_sql}),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
),
q AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> len(x) > 0))::BIGINT AS n_toks
    FROM documents
)
SELECT c.component,
       count(*)::BIGINT AS n_members,
       max_by(c.doc_id, q.n_toks * 10000000000 - c.doc_id) AS keeper_doc,
       max(q.n_toks) AS keeper_toks
FROM comp c JOIN q ON q.doc_id = c.doc_id
GROUP BY c.component
"""


@register("dedup_keeper_by_quality", oracle=_keeper_quality_oracle())
def dedup_keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    comp = D.connected_components(pairs)
    q = docs.select(
        "doc_id", F.size(ws_tokens(F.col("text"))).cast("long").alias("n_toks")
    )
    m = comp.join(q, comp.node == q.doc_id)
    key = F.col("n_toks") * F.lit(10_000_000_000) - F.col("doc_id")
    return m.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by("doc_id", key).alias("keeper_doc"),
        F.max("n_toks").alias("keeper_toks"),
    )


# --- intra-document repeated-chunk trimming ---------------------------------
# Self-repetition removal: segment each document into fixed 2-token
# chunks, keep only the FIRST occurrence of each distinct chunk within
# the document, and reassemble in original order. (Real pipelines trim
# repeated paragraphs/lines; this corpus is a flat word stream, so the
# unit is a token chunk — the machinery is unit-agnostic.) Both
# shuffles are keyed by doc_id(+chunk): fully partitioned at any
# corpus width; the md5 fingerprint pins the reassembled CONTENT
# without hashing megabytes through the driver.
_SELF_CHUNK = 2

_SELFDEDUP_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> len(x) > 0) AS toks
    FROM documents
),
ch AS (
    SELECT doc_id, i,
           array_to_string(
               toks[(i - 1) * {_SELF_CHUNK} + 1:
                    (i - 1) * {_SELF_CHUNK} + {_SELF_CHUNK}], ' ') AS c
    FROM t, unnest(generate_series(
        1, CAST(ceil(len(toks) * 1.0 / {_SELF_CHUNK}) AS BIGINT))) AS u(i)
    WHERE len(toks) >= 1
),
k AS (SELECT doc_id, c, min(i) AS i FROM ch GROUP BY doc_id, c),
r AS (
    SELECT doc_id, string_agg(c, ' ' ORDER BY i) AS clean
    FROM k GROUP BY doc_id
),
n AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM ch GROUP BY doc_id),
kept AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM k GROUP BY doc_id)
SELECT n.doc_id, n.n_chunks, kept.n_kept,
       (n.n_chunks - kept.n_kept) AS dup_chunks,
       md5(r.clean) AS clean_md5
FROM n JOIN kept ON kept.doc_id = n.doc_id
JOIN r ON r.doc_id = n.doc_id
"""


@register("selfdedup_repeated_chunks", oracle=_SELFDEDUP_ORACLE)
def selfdedup_repeated_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions.text import ws_tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(_SELF_CHUNK)).cast("long")
    # guard: sequence(1, 0) would DESCEND on an empty doc (gotcha 10)
    idx = F.when(
        F.size("toks") >= 1, F.sequence(F.lit(1).cast("long"), n_chunks)
    ).otherwise(F.array().cast("array<long>"))
    ch = toks.select(
        "doc_id", F.explode(idx).alias("i"), F.col("toks")
    ).select(
        "doc_id",
        "i",
        F.array_join(
            F.slice(
                "toks",
                ((F.col("i") - 1) * _SELF_CHUNK + 1).cast("int"),
                _SELF_CHUNK,
            ),
            " ",
        ).alias("c"),
    )
    k = ch.groupBy("doc_id", "c").agg(F.min("i").alias("i"))
    r = k.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ),
            " ",
        ).alias("clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    return n.join(r, "doc_id").select(
        "doc_id",
        "n_chunks",
        "n_kept",
        (F.col("n_chunks") - F.col("n_kept")).alias("dup_chunks"),
        F.md5(F.col("clean").cast("binary")).alias("clean_md5"),
    )


# --- containment (asymmetric Jaccard) pairs ----------------------------------
# Containment C(A→B) = |A∩B| / |A| catches near-SUPERSET relations —
# quotes, excerpts, doc-inside-doc — that symmetric Jaccard dilutes
# (a 20-shingle quote inside a 200-shingle doc has Jaccard ≤0.1 but
# containment 1.0 from the quote's side). Same MAX_DF-capped shingle
# join as dedup_ngram_jaccard (candidate volume Σ df², never corpus²);
# the threshold applies to max(C(A→B), C(B→A)) so the direction is
# reported, not lost.
_CONTAIN_T = 0.8

_CONTAIN_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           list_distinct(list_filter(
               list_transform(
                   generate_series(1, len(tk) - 2),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
               x -> true)) AS shs
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> len(x) > 0) AS tk
        FROM documents
    )
),
sh AS (SELECT doc_id, unnest(shs) AS shingle FROM t),
df AS (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING count(*) <= {D.MAX_DF}
),
shk AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)),
sizes AS (SELECT doc_id, len(shs)::BIGINT AS sz FROM t),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
    FROM shk a JOIN shk b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.i AS n_common,
       sa.sz AS size_a, sb.sz AS size_b,
       round(i.i * 1.0 / sa.sz * 10000) / 10000 + 0.0 AS contain_a_in_b,
       round(i.i * 1.0 / sb.sz * 10000) / 10000 + 0.0 AS contain_b_in_a
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE greatest(i.i * 1.0 / sa.sz, i.i * 1.0 / sb.sz) >= {_CONTAIN_T}
"""


@register("dedup_containment_pairs", oracle=_CONTAIN_ORACLE)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    docs = read_table(spark, sf_dir, "documents")
    # the shingle subtree feeds sizes + the exploded table; the capped
    # table feeds BOTH sides of the self-join - persist each once so
    # the corpus is shingled once, not four times
    arrs = D.doc_shingle_arrays(docs, n=3).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = arrs.select("doc_id", F.size("sh_arr").cast("long").alias("sz"))
    sh = arrs.select("doc_id", F.explode("sh_arr").alias("shingle"))
    df_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= D.MAX_DF)
        .select("shingle")
    )
    shk = sh.join(df_ok, "shingle").persist(StorageLevel.MEMORY_AND_DISK)
    a = shk.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shk.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    c_ab = F.col("i") * 1.0 / F.col("size_a")
    c_ba = F.col("i") * 1.0 / F.col("size_b")
    return j.filter(F.greatest(c_ab, c_ba) >= _CONTAIN_T).select(
        "doc_a",
        "doc_b",
        F.col("i").alias("n_common"),
        "size_a",
        "size_b",
        R.r(c_ab, 4).alias("contain_a_in_b"),
        R.r(c_ba, 4).alias("contain_b_in_a"),
    )


# --- winnowing fingerprints (MOSS) -------------------------------------------
# Schleimer/Wilkerson/Aiken 2003: hash every POSITIONAL k-gram (k=3),
# slide a window of w=4 consecutive hashes, keep each window's MINIMUM
# — guarantees any shared run of ≥ w+k-1 tokens shares a fingerprint,
# at ~2/(w+1) the storage. Entirely row-local array math (zero
# shuffle); the per-doc fingerprint SET is pinned exactly by an
# order-insensitive XOR of the selected hashes, so the oracle verifies
# the algorithm's every selection without shipping the sets.
_WINNOW_K = 3
_WINNOW_W = 4

_WINNOW_ORACLE = rf"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> len(x) > 0) AS tk
    FROM documents
),
h AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, len(tk) - {_WINNOW_K - 1}),
               i -> ('0x' || substr(md5(
                        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                    1, 8))::BIGINT) AS hs
    FROM t WHERE len(tk) >= {_WINNOW_W + _WINNOW_K - 1}
),
fp AS (
    SELECT doc_id, len(hs)::BIGINT AS n_kgrams,
           list_distinct(list_transform(
               generate_series(1, len(hs) - {_WINNOW_W - 1}),
               i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3]))) AS fps
    FROM h
)
SELECT doc_id, n_kgrams,
       len(fps)::BIGINT AS n_fingerprints,
       round(len(fps) * 1.0 / n_kgrams * 10000) / 10000 + 0.0 AS density,
       list_reduce(list_prepend(0::BIGINT, fps), (a, x) -> xor(a, x))
           AS fp_xor
FROM fp
"""


@register("winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.functions.text import ws_tokens
    from swat_mapreduce_spark.sources.readers import fan_out

    # TWO perf traps found at sf0.1 (9-11 s -> ~0.3 s warmed):
    # (1) the per-kgram md5 is the CPU hot path - fan_out so a
    # single-split source doesn't run it in one task; (2) a filter on
    # size(hs) gets PUSHED DOWN into the parquet scan's Filter, where
    # Catalyst re-inlines the whole md5 transform and evaluates it
    # per-row in that single pre-exchange task. The window-count
    # condition is therefore expressed on the TOKEN count
    # (size(tk) >= w+k-1, equivalent), so no Filter ever contains the
    # hash pipeline.
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    tk = docs.select("doc_id", ws_tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= _WINNOW_W + _WINNOW_K - 1
    )
    hs = tk.select(
        "doc_id",
        F.expr(
            f"transform(sequence(1, size(tk) - {_WINNOW_K - 1}), i -> "
            f"cast(conv(substr(md5(concat_ws(' ', tk[i-1], tk[i], tk[i+1])"
            f"), 1, 8), 16, 10) as bigint))"
        ).alias("hs"),
    )
    # least() over four direct lookups, NOT array_min(slice(...)):
    # the slice form allocates a 4-element array per window and ran
    # ~6x slower at sf0.1 (8.9 s vs ~1.5 s, bench r6)
    fp = hs.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_kgrams"),
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, size(hs) - {_WINNOW_W - 1}), "
                f"i -> least(hs[i-1], hs[i], hs[i+1], hs[i+2]))"
            )
        ).alias("fps"),
    )
    return fp.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").cast("long").alias("n_fingerprints"),
        R.r(F.size("fps") * 1.0 / F.col("n_kgrams"), 4).alias("density"),
        F.aggregate(
            "fps",
            F.lit(0).cast("long"),
            lambda a, x: a.bitwiseXOR(x),
        ).alias("fp_xor"),
    )


# --- B-cubed clustering quality of the near-dup components ---------------------
# Evaluates the MinHash-LSH dedup CLUSTERING itself (Bagga & Baldwin
# 1998; the standard entity/dedup clustering metric): against the
# exact-duplicate truth partition (identical text bytes), every doc i
# scores precision |C(i) ∩ T(i)|/|C(i)| and recall |C(i) ∩ T(i)|/|T(i)|
# — corpus averages + F1 reported. Docs outside every LSH pair are
# singleton clusters, so the metric covers the WHOLE corpus. The
# per-item fractions are quantized by INTEGER division
# ((n_ct·1e8) div n) so both engines sum exact int64 units — cells are
# (cluster × truth) bounded, never doc². Oracle reuses the registered
# MinHash pair SQL + the recursive-CTE closure (dedup_cluster_
# components) and replays the same integer lattice.
def _bcubed_oracle() -> str:
    pair_sql = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
sym AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (
    SELECT u AS doc_id, least(u, min(v)) AS component
    FROM reach GROUP BY u
),
assign AS (
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster,
           t.truth_id
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    JOIN (
        SELECT md5(text) AS h, min(doc_id) AS truth_id
        FROM documents GROUP BY 1
    ) t ON t.h = md5(d.text)
),
cells AS (
    SELECT cluster, truth_id, count(*)::BIGINT AS n_ct
    FROM assign GROUP BY 1, 2
),
nc AS (SELECT cluster, sum(n_ct)::BIGINT AS n FROM cells GROUP BY 1),
nt AS (SELECT truth_id, sum(n_ct)::BIGINT AS n FROM cells GROUP BY 1),
sums AS (
    SELECT sum(c.n_ct * ((c.n_ct * 100000000) // nc.n))::BIGINT AS p_u,
           sum(c.n_ct * ((c.n_ct * 100000000) // nt.n))::BIGINT AS r_u,
           sum(c.n_ct)::BIGINT AS n_docs
    FROM cells c
    JOIN nc ON nc.cluster = c.cluster
    JOIN nt ON nt.truth_id = c.truth_id
)
SELECT s.n_docs,
       (SELECT count(*) FROM nc)::BIGINT AS n_pred_clusters,
       (SELECT count(*) FROM nt)::BIGINT AS n_truth_groups,
       round(s.p_u * 1.0 / s.n_docs / 100000000 * 1000000) / 1000000 + 0.0
           AS bcubed_precision,
       round(s.r_u * 1.0 / s.n_docs / 100000000 * 1000000) / 1000000 + 0.0
           AS bcubed_recall,
       round(2.0 * (s.p_u * 1.0 / s.n_docs) * (s.r_u * 1.0 / s.n_docs)
             / ((s.p_u * 1.0 / s.n_docs) + (s.r_u * 1.0 / s.n_docs))
             / 100000000 * 1000000) / 1000000 + 0.0 AS bcubed_f1
FROM sums s
"""


@register("bcubed_cluster_quality", oracle=_bcubed_oracle())
def bcubed_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    comp = D.connected_components(pairs)
    truth = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("truth_id")
    )
    assign = (
        docs.select("doc_id", F.md5("text").alias("h"))
        .join(
            comp.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("cluster0"),
            ),
            "doc_id",
            "left",
        )
        .join(truth, "h")
        .select(
            "doc_id",
            F.coalesce("cluster0", "doc_id").alias("cluster"),
            "truth_id",
        )
    )
    cells = assign.groupBy("cluster", "truth_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ct")
    )
    nc = cells.groupBy("cluster").agg(F.sum("n_ct").alias("n_c"))
    nt = cells.groupBy("truth_id").agg(F.sum("n_ct").alias("n_t"))
    j = cells.join(nc, "cluster").join(nt, "truth_id")
    sums = j.agg(
        F.sum(
            F.col("n_ct") * F.expr("(n_ct * 100000000) div n_c")
        ).alias("p_u"),
        F.sum(
            F.col("n_ct") * F.expr("(n_ct * 100000000) div n_t")
        ).alias("r_u"),
        F.sum("n_ct").alias("n_docs"),
    )
    counts = sums.crossJoin(
        F.broadcast(nc.agg(F.count(F.lit(1)).alias("n_pred_clusters")))
    ).crossJoin(
        F.broadcast(nt.agg(F.count(F.lit(1)).alias("n_truth_groups")))
    )
    p = F.col("p_u").cast("double") / F.col("n_docs")
    r = F.col("r_u").cast("double") / F.col("n_docs")
    return counts.select(
        F.col("n_docs").cast("long"),
        F.col("n_pred_clusters").cast("long"),
        F.col("n_truth_groups").cast("long"),
        R.r(p / F.lit(1e8), 6).alias("bcubed_precision"),
        R.r(r / F.lit(1e8), 6).alias("bcubed_recall"),
        R.r(F.lit(2.0) * p * r / (p + r) / F.lit(1e8), 6).alias(
            "bcubed_f1"
        ),
    )


# --- LSH band S-curve: analytic vs observed candidate rate ----------------------
# THE number that justifies a band layout before trusting it at 100 TB:
# with b bands of r rows, a pair at Jaccard s becomes an LSH candidate
# with probability 1-(1-s^r)^b (the S-curve). This audit takes the
# MAX_DF-capped lang-blocked pair universe with its EXACT Jaccard (the
# dedup_ngram_jaccard machinery, threshold 0 — every blocked pair),
# marks which pairs the ACTUAL fixed MinHash tables made candidates
# (same mega-bucket cap as production), and reports observed vs
# analytic candidate rate per Jaccard decile. Determinism: the
# expected probability is computed from the 4dp-rounded Jaccard with
# ONLY IEEE multiply/subtract (s^4 by squaring — no libm), so both
# engines see bit-identical doubles; sums are integer 1e-8 units.
# Plan shape: the pair universe is shingle-blocked (never corpus²) and
# the candidate set is one bucket groupBy — both established shapes.
def _scurve_oracle() -> str:
    return f"""
WITH {_SH_DUCK},
capped AS (
    SELECT doc_id, lang, shingle FROM (
        SELECT s.*, count(*) OVER (PARTITION BY lang, shingle) AS df
        FROM sh s
    ) WHERE df <= {D.MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
    FROM capped a JOIN capped b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
exact AS (
    SELECT i.doc_a, i.doc_b,
           round(i.c::DOUBLE / (na.n + nb.n - i.c), 4) AS j
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
),
sigs AS ({_sigs_sql('TRUE')}),
bands AS ({_bands_sql('sigs')}),
bsz AS (SELECT band, bucket, count(*) AS nb FROM bands GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
    JOIN bsz z ON z.band = a.band AND z.bucket = a.bucket
    WHERE z.nb <= 1000
),
per AS (
    SELECT e.j,
           CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS is_cand,
           -- (q*q)*(q*q) grouping matches the Spark expression
           -- exactly: IEEE multiplication is not associative, so the
           -- pairing must be identical on both engines
           CAST(round((1.0 - ((1.0 - (e.j * e.j) * (e.j * e.j))
                              * (1.0 - (e.j * e.j) * (e.j * e.j)))
                             * ((1.0 - (e.j * e.j) * (e.j * e.j))
                                * (1.0 - (e.j * e.j) * (e.j * e.j))))
                      * 100000000) AS BIGINT) AS exp_u
    FROM exact e
    LEFT JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
)
SELECT least(9, CAST(floor(j * 10) AS BIGINT)) AS bin,
       count(*)::BIGINT AS n_pairs,
       sum(is_cand)::BIGINT AS n_candidates,
       round(sum(is_cand) * 1.0 / count(*) * 10000) / 10000 + 0.0
           AS observed_rate,
       round(sum(exp_u) * 1.0 / count(*) / 100000000 * 10000) / 10000
           + 0.0 AS expected_rate
FROM per
GROUP BY 1
"""


@register("lsh_scurve_audit", oracle=_scurve_oracle())
def lsh_scurve_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    exact = D.ngram_jaccard_pairs(docs, threshold=0.0).select(
        "doc_a", "doc_b", F.col("jaccard").alias("j")
    )
    docsh = D.doc_shingle_arrays(docs, 3).filter(F.size("sh_arr") >= 1)
    cand = D.candidate_pairs(
        D.lsh_bands(D.minhash_signatures_from_arrays(docsh))
    ).withColumn("is_cand", F.lit(1))
    s2 = F.col("j") * F.col("j")
    q = F.lit(1.0) - s2 * s2
    p_exp = F.lit(1.0) - (q * q) * (q * q)
    per = exact.join(cand, ["doc_a", "doc_b"], "left").select(
        "j",
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        F.round(p_exp * F.lit(1e8)).cast("long").alias("exp_u"),
    )
    return per.groupBy(
        F.least(F.lit(9), F.floor(F.col("j") * 10))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_cand").cast("long").alias("n_candidates"),
        R.r(
            F.sum("is_cand").cast("double") / F.count(F.lit(1)), 4
        ).alias("observed_rate"),
        R.r(
            F.sum("exp_u").cast("double") / F.count(F.lit(1)) / F.lit(1e8),
            4,
        ).alias("expected_rate"),
    )
