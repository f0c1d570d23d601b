"""The reference pipeline, Spark-first: manifest → clean → score →
softmax/top-1 → label lookup → error fallback → formatted, key-sorted
predictions.

Reproduces the end-to-end dataflow of ``thanhbinh2701/SWAT_mapreduce``
(SURVEY.md §3) with its exact semantic warts (SURVEY.md §5 item 3):

* blank/whitespace-only manifest lines skipped after trim
  (java/PredictBatchMapperCluster.java:48-49)
* ``#``-comment lines skipped (java/PredictBatchMapperCluster.java:114)
* UTF-8 BOM NOT stripped (imagelist1.txt ships one; the mapper only
  trims whitespace)
* unreadable image → ``(path, class_names[0], 0.0)`` — emitted, not
  dropped, not null (python/predict_batch_threaded_local.py:100-108)
* out-of-range class index → class_names[0]
  (python/predict_batch_threaded_local.py:159)
* duplicate manifest lines → duplicate output rows (identity reduce,
  java/PredictReducerCSV.java:9-11 — no dedup)
* probability rendered ``%.4f`` (python/predict_batch_threaded_local.py:160)
* output key-sorted by image_path (MR shuffle sort, SURVEY.md §2A #18)

The model itself is replaced by the deterministic md5-logit stand-in
(functions/hashing.py, FIXTURES.md §B3) so every stage is
oracle-checkable in DuckDB; the real Arrow-batched inference surface
(pluggable scorer, torch-gated) lives in operators/inference.py.

Scale notes: scoring and the label lookup are per-row JVM expression
work (no join, no shuffle, no Python — ceil(30/8) = 4 md5 digests per
row, labels a literal-array index); the only shuffle in the whole
plan is the key sort, which the reference also pays (its MR
key-sort). The TSV sink sorts an input that fits one advisory
partition in one reducer, the reference's Hadoop default, and a larger
one with a global ``orderBy`` (sources/sinks.py, CLAUDE.md gotcha 19);
a 100 TB run writes unsorted (``--no-sort``) unless a totally-ordered
output is demanded. Plan construction: every stage is parsed from SQL
strings, one Py4J call per column or filter; Column builders cost
~0.23 s per job for the score stage alone (gotcha 18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R

from swat_mapreduce_spark.functions import arrays as A
from swat_mapreduce_spark.functions import hashing as H
from swat_mapreduce_spark.functions.text import format_prob
from swat_mapreduce_spark.labels import (
    CLASS_NAMES,
    NUM_CLASSES,
    class_name_at,
    derive_class_names,
)

# Wart lines injected into the synthetic manifest (FIXTURES.md §B1).
# Shared constant between the Spark builder and the DuckDB oracle.
WART_LINES: list[str] = [
    "",  # blank → skipped
    "   ",  # whitespace-only → skipped
    "# commented.jpg",  # comment → skipped
    "﻿/data/img/src0/en_0.jpg",  # BOM kept (reference wart)
    "  /data/img/pad/es_1.jpg  ",  # whitespace-trimmed
]
DUP_MOD = 7  # doc_id % 7 == 0 rows appear twice (identity-reduce wart)


def synth_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic manifest (FIXTURES.md §B1) derived from the
    ``documents`` table: one image path per document, ~1/7 duplicated,
    plus the wart lines. Column: ``line string``."""
    from swat_mapreduce_spark.sources.readers import fan_out, read_table

    # fanned out so the downstream 30-logit md5 scoring (score()) is
    # not serialized by the testdata's single-row-group scan
    docs = fan_out(read_table(spark, sf_dir, "documents"))
    path = F.concat(
        F.lit("/data/img/"),
        F.col("source"),
        F.lit("/"),
        F.col("lang"),
        F.lit("_"),
        F.col("doc_id").cast("string"),
        F.lit(".jpg"),
    ).alias("line")
    # single scan: rows with doc_id % DUP_MOD == 0 are exploded twice
    # (same multiset as the oracle's self-UNION, half the parquet reads)
    base = docs.select(
        F.explode(
            F.when(
                F.col("doc_id") % DUP_MOD == 0, F.array(path, path)
            ).otherwise(F.array(path))
        ).alias("line")
    )
    warts = spark.createDataFrame([(w,) for w in WART_LINES], "line string")
    return base.unionAll(warts)


def manifest_sql_duck() -> str:
    """DuckDB CTE body producing the identical manifest (oracle side).
    DuckDB views for the tables are pre-registered by the driver."""
    path = "'/data/img/' || source || '/' || lang || '_' || doc_id::VARCHAR || '.jpg'"
    warts = []
    for w in WART_LINES:
        if "﻿" in w:
            warts.append(
                "SELECT chr(65279) || '" + w.replace("﻿", "") + "' AS line"
            )
        else:
            warts.append(f"SELECT '{w}' AS line")
    wart_sql = " UNION ALL ".join(warts)
    return f"""
        SELECT {path} AS line FROM documents
        UNION ALL
        SELECT {path} AS line FROM documents WHERE doc_id % {DUP_MOD} = 0
        UNION ALL {wart_sql}
    """


def clean_manifest(manifest: DataFrame) -> DataFrame:
    """Trim + drop blank + drop ``#``-comment lines → ``image_path``.

    SURVEY.md §2A #2,#3. BOM survives (it is not whitespace and the
    reference never strips it). One parsed projection and one parsed
    filter (CLAUDE.md gotcha 18)."""
    return manifest.select(F.expr("trim(line) AS image_path")).filter(
        F.expr("length(image_path) > 0 AND NOT startswith(image_path, '#')")
    )


CLEAN_SQL_DUCK = """
    SELECT trim(line) AS image_path FROM manifest
    WHERE length(trim(line)) > 0 AND substr(trim(line), 1, 1) <> '#'
"""


def score(paths: DataFrame, path_col: str = "image_path") -> DataFrame:
    """Attach deterministic logits + decode flag (FIXTURES.md §B3).

    Pure JVM expressions — whole-stage codegen, zero shuffle. The real
    model path swaps this stage for operators/inference.py."""
    return paths.select(
        "*",
        H.logits_array(path_col, NUM_CLASSES).alias("logits"),
        H.decode_ok(path_col).alias("decode_ok"),
    )


def predict_top1(scored: DataFrame) -> DataFrame:
    """softmax → argmax → error fallback (SURVEY.md §2A #11-13).

    decode failure → (class index 0, prob 0.0), matching
    python/predict_batch_threaded_local.py:100-108. Each column is one
    parsed ``CASE`` (CLAUDE.md gotcha 18)."""
    idx = f"CASE WHEN decode_ok THEN {A.argmax('logits')} ELSE 0 END"
    prob = f"CASE WHEN decode_ok THEN {A.top1_prob('logits')} ELSE 0.0D END"
    return scored.select(
        "image_path", F.expr(f"{idx} AS pred_idx"), F.expr(f"{prob} AS prob")
    )


def attach_labels(
    preds: DataFrame, spark: SparkSession, labels_path: str | None = None
) -> DataFrame:
    """Add ``class`` = the label of ``pred_idx``; out-of-range or null
    index → class_names[0] (python/predict_batch_threaded_local.py:159),
    via the literal lookup :func:`labels.class_name_at` — no join.

    ``labels_path`` loads a custom vocabulary with the reference's
    derivation rules (file lines / sorted dir names / sorted stems,
    labels.derive_class_names); default is the built-in 30-class set.
    ``spark`` is unused; it is kept for existing callers.
    """
    names = CLASS_NAMES
    if labels_path is not None:
        names = derive_class_names(labels_path)
    return preds.withColumn("class", F.expr(class_name_at("pred_idx", names)))


def predict(
    lines: DataFrame, spark: SparkSession, labels_path: str | None = None
) -> DataFrame:
    """Manifest ``line`` rows → ``(image_path, pred_idx, prob, class)``:
    clean → score → softmax/top-1 → label lookup. Works on batch and
    streaming frames alike (every stage is stateless per row)."""
    preds = predict_top1(score(clean_manifest(lines)))
    return attach_labels(preds, spark, labels_path=labels_path)


def classify_unsorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship output rows, in no particular order:
    ``(image_path, class, prob double(4dp), prob_str '%.4f')``,
    duplicates preserved."""
    return predict(synth_manifest(spark, sf_dir), spark).select(
        "image_path",
        "class",
        R.r("prob", 4).alias("prob"),
        format_prob("prob").alias("prob_str"),
    )


def classify_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship end-to-end query (entry() / bench headline):
    ``classify_unsorted`` sorted by image_path."""
    return classify_unsorted(spark, sf_dir).orderBy("image_path")


# ---------------------------------------------------------------------------
# DuckDB oracle for the full pipeline. Structure: score DISTINCT paths
# (the math is deterministic per path), then join back to the cleaned
# manifest so duplicate lines yield duplicate rows.
# ---------------------------------------------------------------------------

def classify_oracle_sql() -> str:
    from swat_mapreduce_spark.labels import labels_values_sql

    logit = H.duck_logit("p.image_path", "g.i")
    ok = H.duck_decode_ok("c.image_path")
    return f"""
WITH manifest(line) AS ({manifest_sql_duck()}),
cleaned AS ({CLEAN_SQL_DUCK}),
paths AS (SELECT DISTINCT image_path FROM cleaned),
li AS (
    SELECT p.image_path, g.i, {logit} AS logit
    FROM paths p, generate_series(0, {NUM_CLASSES - 1}) AS g(i)
),
sc AS (
    SELECT image_path, max(logit) AS mx, sum(exp(logit)) AS denom
    FROM li GROUP BY image_path
),
am AS (
    SELECT li.image_path, min(li.i) AS pred_raw,
           any_value(sc.mx) AS mx, any_value(sc.denom) AS denom
    FROM li JOIN sc ON li.image_path = sc.image_path AND li.logit = sc.mx
    GROUP BY li.image_path
),
pred AS (
    SELECT c.image_path,
           CASE WHEN {ok} THEN am.pred_raw ELSE 0 END AS pred_idx,
           CASE WHEN {ok} THEN exp(am.mx) / am.denom ELSE 0.0 END AS prob
    FROM cleaned c JOIN am ON c.image_path = am.image_path
)
SELECT pred.image_path,
       coalesce(labels.class_name, '{CLASS_NAMES[0]}') AS class,
       round(prob, 4) AS prob,
       printf('%.4f', prob) AS prob_str
FROM pred LEFT JOIN {labels_values_sql()} ON pred.pred_idx = labels.label_idx
ORDER BY pred.image_path
"""
