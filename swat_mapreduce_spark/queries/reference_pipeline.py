"""Queries pinning the reference pipeline's exact semantics
(SURVEY.md §2A; FIXTURES.md §B). Each has a DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions import rounding as R

from swat_mapreduce_spark.functions import arrays as A
from swat_mapreduce_spark.functions import hashing as H
from swat_mapreduce_spark.functions.text import sanitize_filename
from swat_mapreduce_spark.labels import (
    CLASS_NAMES,
    NUM_CLASSES,
    class_name_at,
    labels_values_sql,
)
from swat_mapreduce_spark.operators import classify
from swat_mapreduce_spark.queries import register


# --- flagship: the whole reference dataflow --------------------------------
@register("flagship_classify", oracle=classify.classify_oracle_sql())
def flagship_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify.classify_pipeline(spark, sf_dir)


# --- manifest cleaning (SURVEY §2A #1,2,3) ---------------------------------
_MANIFEST_CLEAN_ORACLE = f"""
WITH manifest(line) AS ({classify.manifest_sql_duck()})
{classify.CLEAN_SQL_DUCK}"""


@register("manifest_clean", oracle=_MANIFEST_CLEAN_ORACLE)
def manifest_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify.clean_manifest(classify.synth_manifest(spark, sf_dir))


# --- basename sanitization (SURVEY §2A #4) ---------------------------------
_SANITIZE_ORACLE = f"""
WITH manifest(line) AS ({classify.manifest_sql_duck()}),
cleaned AS ({classify.CLEAN_SQL_DUCK})
SELECT image_path,
       regexp_replace(
           CASE WHEN strpos(image_path, '/') > 0
                THEN list_extract(string_split(image_path, '/'), -1)
                ELSE image_path END,
           '[^A-Za-z0-9._-]', '_', 'g') AS safe_name
FROM cleaned
"""


@register("sanitize_filenames", oracle=_SANITIZE_ORACLE)
def sanitize_filenames(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = classify.clean_manifest(classify.synth_manifest(spark, sf_dir))
    return df.select(
        "image_path", sanitize_filename(F.col("image_path")).alias("safe_name")
    )


# --- subprocess stdout CSV parse, drop-malformed (SURVEY §2A #3,16) --------
# Reference: skip empty + '#' lines, split on ',', keep ONLY 3-field rows
# (java/PredictBatchMapperCluster.java:114-116).
def _csv_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stand-in for subprocess stdout: mostly valid
    ``path,class,prob`` rows with injected malformed/comment/blank
    lines keyed off doc_id."""
    from swat_mapreduce_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = F.concat(F.lit("/img/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string"), F.lit(".jpg"))
    cls = F.element_at(
        F.array(*[F.lit(c) for c in CLASS_NAMES]),
        (F.col("doc_id") % NUM_CLASSES + 1).cast("int"),
    )
    # pre-round before %.4f: raw h/65536 values can land EXACTLY on a
    # 5th-decimal tie (e.g. 2048/65536 = 0.03125) where Java's HALF_UP
    # format and C printf's half-even disagree; rounding first (both
    # engines use the same half-away formula) makes the format tie-free
    prob = F.format_string("%.4f", R.r(H.hash_unit(F.col("doc_id"), "p", 4), 4))
    line = (
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit("badline_"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 13 == 0, F.concat(path, F.lit(","), cls, F.lit(","), prob, F.lit(",extra")))
        .when(F.col("doc_id") % 17 == 0, F.lit("# progress comment"))
        .when(F.col("doc_id") % 19 == 0, F.lit(""))
        .otherwise(F.concat(path, F.lit(","), cls, F.lit(","), prob))
    )
    return docs.select(line.alias("line"))


_CSV_LINES_DUCK = f"""
    SELECT CASE
        WHEN doc_id % 11 = 0 THEN 'badline_' || doc_id::VARCHAR
        WHEN doc_id % 13 = 0 THEN '/img/' || source || '/' || doc_id::VARCHAR || '.jpg,'
             || cls || ',' || prob || ',extra'
        WHEN doc_id % 17 = 0 THEN '# progress comment'
        WHEN doc_id % 19 = 0 THEN ''
        ELSE '/img/' || source || '/' || doc_id::VARCHAR || '.jpg,' || cls || ',' || prob
    END AS line
    FROM (
        SELECT doc_id, source,
               list_extract({CLASS_NAMES!r}, (doc_id % {NUM_CLASSES} + 1)::INT) AS cls,
               printf('%.4f', round(({H.duck_hash_uint(H.sql_salted('doc_id', "'p'"), 4)} / {float(16**4)}) * 10000) / 10000) AS prob
        FROM documents
    )
"""

_CSV_PARSE_ORACLE = f"""
WITH lines(line) AS ({_CSV_LINES_DUCK}),
kept AS (
    SELECT line FROM lines
    WHERE length(trim(line)) > 0 AND substr(trim(line), 1, 1) <> '#'
)
SELECT list_extract(string_split(line, ','), 1) AS image_path,
       list_extract(string_split(line, ','), 2) AS class,
       list_extract(string_split(line, ','), 3)::DOUBLE AS prob
FROM kept
WHERE len(string_split(line, ',')) = 3
"""


@register("csv_parse_dropmalformed", oracle=_CSV_PARSE_ORACLE)
def csv_parse_dropmalformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _csv_lines(spark, sf_dir)
    kept = lines.filter(
        (F.length(F.trim("line")) > 0) & (~F.trim(F.col("line")).startswith("#"))
    )
    parts = F.split(F.col("line"), ",")
    return (
        kept.withColumn("p", parts)
        .filter(F.size("p") == 3)
        .select(
            F.element_at("p", 1).alias("image_path"),
            F.element_at("p", 2).alias("class"),
            F.element_at("p", 3).cast("double").alias("prob"),
        )
    )


# --- label lookup with out-of-range guard (SURVEY §2A #14) -----------------
_LABEL_GUARD_ORACLE = f"""
SELECT g.i AS idx,
       coalesce(labels.class_name, '{CLASS_NAMES[0]}') AS class
FROM generate_series(0, 35) AS g(i)
LEFT JOIN {labels_values_sql()} ON g.i = labels.label_idx
"""


@register("label_lookup_guard", oracle=_LABEL_GUARD_ORACLE)
def label_lookup_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(0, 36).select(
        F.col("id").alias("idx"), F.expr(class_name_at("id")).alias("class")
    )


# --- softmax / argmax in isolation (SURVEY §2A #11,12) ---------------------
_SOFTMAX_ORACLE = f"""
WITH manifest(line) AS ({classify.manifest_sql_duck()}),
cleaned AS ({classify.CLEAN_SQL_DUCK}),
paths AS (SELECT DISTINCT image_path FROM cleaned),
li AS (
    SELECT p.image_path, g.i, {H.duck_logit('p.image_path', 'g.i')} AS logit
    FROM paths p, generate_series(0, {NUM_CLASSES - 1}) AS g(i)
),
sc AS (
    SELECT image_path, max(logit) AS mx, sum(exp(logit)) AS denom
    FROM li GROUP BY image_path
),
am AS (
    SELECT li.image_path, min(li.i)::INT AS pred_idx
    FROM li JOIN sc ON li.image_path = sc.image_path AND li.logit = sc.mx
    GROUP BY li.image_path
)
SELECT sc.image_path, am.pred_idx,
       round(exp(sc.mx) / sc.denom, 4) AS top1_prob,
       round(sc.denom / sc.denom, 4) AS prob_sum
FROM sc JOIN am ON sc.image_path = am.image_path
"""


@register("softmax_top1", oracle=_SOFTMAX_ORACLE)
def softmax_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = classify.clean_manifest(
        classify.synth_manifest(spark, sf_dir)
    ).distinct()
    scored = paths.withColumn(
        "logits", H.logits_array("image_path", NUM_CLASSES)
    )
    probs = A.softmax(F.col("logits"))
    return scored.select(
        "image_path",
        F.expr(A.argmax("logits")).alias("pred_idx"),
        R.r(F.expr(A.top1_prob("logits")), 4).alias("top1_prob"),
        R.r(A.asum(probs), 4).alias("prob_sum"),
    )


# --- the Arrow/mapInPandas inference path, validated by the SAME SQL
# oracle as the JVM expression path (the scorer is bit-identical) ----------
_INFER_ORACLE = f"""
SELECT image_path, class, prob FROM ({classify.classify_oracle_sql()})
"""


@register("infer_mapinpandas", oracle=_INFER_ORACLE)
def infer_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swat_mapreduce_spark.operators.inference import predict_batch

    paths = classify.clean_manifest(classify.synth_manifest(spark, sf_dir))
    preds = predict_batch(paths)
    return preds.select(
        "image_path", "class", R.r("prob", 4).alias("prob")
    )


# --- end-to-end binary inference (SURVEY §2A #6 + #8 joined up) ------------
# manifest → binaryFile content fetch → content-addressed scorer →
# label join: the full dataflow of java/PredictBatchMapperCluster
# .java:51-67 (per-record HDFS fetch + subprocess scoring) as one Spark
# plan. The file-writing step is test scaffolding (in production the
# objects already sit in object storage); the binaryFile read, the
# manifest⋈content join, and the payload-keyed mapInPandas scorer are
# the production shapes. Output keys on doc_id (parsed from the object
# path) so the oracle is temp-dir-independent.
def _binary_e2e_oracle() -> str:
    logit = H.duck_logit("sc.k", "g.i")
    ok = H.duck_decode_ok("sc.k")
    return f"""
WITH sel AS (
    SELECT doc_id, md5(text) AS k FROM documents WHERE doc_id % 5 = 0
),
li AS (
    SELECT sc.doc_id, sc.k, g.i, {logit} AS logit
    FROM sel sc, generate_series(0, {NUM_CLASSES - 1}) AS g(i)
),
sc AS (
    SELECT doc_id, any_value(k) AS k,
           max(logit) AS mx, sum(exp(logit)) AS denom
    FROM li GROUP BY doc_id
),
am AS (
    SELECT li.doc_id, min(li.i) AS pred_raw
    FROM li JOIN sc ON li.doc_id = sc.doc_id AND li.logit = sc.mx
    GROUP BY li.doc_id
),
pred AS (
    SELECT sc.doc_id,
           CASE WHEN {ok} THEN am.pred_raw ELSE 0 END AS pred_idx,
           CASE WHEN {ok} THEN exp(sc.mx) / sc.denom ELSE 0.0 END AS prob
    FROM sc JOIN am ON sc.doc_id = am.doc_id
)
SELECT pred.doc_id,
       coalesce(labels.class_name, '{CLASS_NAMES[0]}') AS class,
       round(prob, 4) AS prob
FROM pred LEFT JOIN {labels_values_sql()} ON pred.pred_idx = labels.label_idx
"""


@register("binary_inference_e2e", oracle=_binary_e2e_oracle())
def binary_inference_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    from swat_mapreduce_spark.operators.inference import (
        predict_batch_from_payload,
    )
    from swat_mapreduce_spark.sources.readers import (
        read_binary_objects,
        read_table,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
    )
    outdir = os.path.join(
        tempfile.gettempdir(), f"swat_bin_{uuid.uuid4().hex[:8]}"
    )
    os.makedirs(outdir, exist_ok=True)

    def write_part(rows):
        # executor-side object store stand-in: one file per record,
        # named by doc_id (the manifest key)
        for r in rows:
            with open(os.path.join(outdir, f"{r.doc_id}.bin"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))

    # scaffold write parallelized: documents arrive as ONE parquet
    # split, and writing 1k files from a single task is serial I/O.
    # One task per core, not more: each Python task pays the worker's
    # fixed set-up (CLAUDE.md gotcha 16)
    docs.repartition(spark.sparkContext.defaultParallelism).foreachPartition(
        write_part
    )

    manifest = docs.select("doc_id")
    objects = read_binary_objects(spark, outdir + "/*.bin").withColumn(
        "doc_id",
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long"),
    )
    joined = manifest.join(objects, "doc_id")
    preds = predict_batch_from_payload(joined)
    return preds.select("doc_id", "class", R.r("prob", 4).alias("prob"))


# --- flagship, scale form: no global sort ---------------------------------
# classify_pipeline ends in a global orderBy because the reference's
# MR key-sort does (wart parity, SURVEY §2A #18). At 100x data the
# total order is a cross-cluster range exchange no consumer actually
# needs; the scale path keeps everything else identical and sorts only
# within partitions (downstream writers still get locally-ordered
# output, e.g. for run-length-friendly sinks). The driver's value hash
# is row-order-insensitive, so the SAME oracle pins this variant.
@register("flagship_classify_scale", oracle=classify.classify_oracle_sql())
def flagship_classify_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify.classify_unsorted(spark, sf_dir).sortWithinPartitions(
        "image_path"
    )


# --- CSV PERMISSIVE mode: corrupt-record capture ---------------------------
# Complement of csv_parse_dropmalformed: instead of silently dropping
# bad subprocess output, PERMISSIVE parses what it can and captures
# the raw line in _corrupt_record — the auditable form of the
# reference's "skip rows that don't have 3 fields" rule
# (java/PredictBatchMapperCluster.java:114-116). Pinned semantics
# (verified against Spark 4): 1-field and 4-field and bad-typed rows
# are parsed-best-effort AND marked corrupt; comment/blank lines are
# skipped by the reader.
_CSV_PERMISSIVE_ORACLE = f"""
WITH lines(line) AS ({_CSV_LINES_DUCK}),
kept AS (
    SELECT line FROM lines
    WHERE length(trim(line)) > 0 AND substr(trim(line), 1, 1) <> '#'
),
cls AS (
    SELECT line,
           len(string_split(line, ',')) = 3 AS is_valid,
           CASE WHEN len(string_split(line, ',')) = 3
                THEN list_extract(string_split(line, ','), 3)::DOUBLE
                END AS prob
    FROM kept
)
SELECT count(*) AS n_rows,
       sum(CASE WHEN is_valid THEN 0 ELSE 1 END)::BIGINT AS n_corrupt,
       sum(CASE WHEN is_valid THEN 1 ELSE 0 END)::BIGINT AS n_valid,
       round(sum(CASE WHEN is_valid THEN prob ELSE 0 END), 4) AS sum_prob
FROM cls
"""


@register("csv_permissive_corrupt", oracle=_CSV_PERMISSIVE_ORACLE)
def csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile
    import uuid

    lines = _csv_lines(spark, sf_dir)
    d = os.path.join(tempfile.gettempdir(), f"swat_csvp_{uuid.uuid4().hex[:8]}")
    lines.write.mode("overwrite").text(d)
    back = (
        spark.read.schema(
            "image_path string, class string, prob double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("comment", "#")
        .csv(d)
        # cache REQUIRED for _corrupt_record correctness: without it,
        # column pruning re-parses only the referenced columns and the
        # corrupt marker silently reads as NULL (documented Spark CSV
        # behavior — "queries on the internal corrupt record column
        # need the data cached")
        .cache()
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(corrupt, 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(~corrupt, 1).otherwise(0)).alias("n_valid"),
        R.r(F.sum(F.when(~corrupt, F.col("prob")).otherwise(0.0)), 4).alias(
            "sum_prob"
        ),
    )
