"""Remaining SURVEY §2A parity pieces: label-dict derivation rules
(#22), artifact distribution via SparkFiles (#21), MR-style
repartition+sortWithinPartitions (#18)."""

from __future__ import annotations

import os

from pyspark import SparkFiles
from pyspark.sql import functions as F

from swat_mapreduce_spark.labels import derive_class_names


def test_derive_labels_from_file(tmp_path):
    p = tmp_path / "labels.txt"
    p.write_text("zeta\n\n  alpha  \nmid\n")
    # file rule: stripped non-empty lines, ORDER PRESERVED (not sorted)
    assert derive_class_names(str(p)) == ["zeta", "alpha", "mid"]


def test_derive_labels_from_dir(tmp_path):
    for d in ["shoes", "clothing", "eggshells"]:
        (tmp_path / d).mkdir()
    (tmp_path / ".DS_Store").write_text("")  # junk file, ignored (dirs win)
    assert derive_class_names(str(tmp_path)) == [
        "clothing",
        "eggshells",
        "shoes",
    ]


def test_derive_labels_from_file_stems(tmp_path):
    for f in ["b_class.json", "a_class.json"]:
        (tmp_path / f).write_text("{}")
    assert derive_class_names(str(tmp_path)) == ["a_class", "b_class"]


def test_artifact_distribution_sparkfiles(spark, tmp_path):
    """Distributed-cache parity (java/PredictDriverCluster.java:45-51):
    sc.addFile ships an artifact; executors resolve it via SparkFiles."""
    art = tmp_path / "checkpoint_meta.txt"
    art.write_text("model_cfg=vitb32_openclip_laion400m")
    spark.sparkContext.addFile(str(art))

    def read_artifact(_):
        p = SparkFiles.get("checkpoint_meta.txt")
        with open(p) as f:
            return [f.read()]

    out = spark.sparkContext.parallelize([1, 2], 2).flatMap(read_artifact).collect()
    assert out == ["model_cfg=vitb32_openclip_laion400m"] * 2


def test_repartition_sort_within_partitions(spark, sf_dir):
    """The MR shuffle contract (SURVEY §2A #18): hash-partition by key,
    key-sorted within each partition — without a global sort."""
    from swat_mapreduce_spark.operators.classify import (
        classify_pipeline,
    )

    preds = (
        classify_pipeline(spark, sf_dir)
        .repartition(4, "image_path")
        .sortWithinPartitions("image_path")
    )

    def check_sorted(it):
        keys = [r.image_path for r in it]
        yield keys == sorted(keys)

    assert all(preds.rdd.mapPartitions(check_sorted).collect())


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL++) has no cross-engine-exact oracle;
    pin it to within 5% relative error of the exact distinct count
    (rsd default 0.05), per-column."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    li = read_table(spark, sf_dir, "lineitem")
    rsd = 0.02
    row = li.agg(
        F.approx_count_distinct("l_orderkey", rsd).alias("a"),
        F.count_distinct("l_orderkey").alias("x"),
        F.approx_count_distinct("l_partkey", rsd).alias("ap"),
        F.count_distinct("l_partkey").alias("xp"),
    ).first()
    # 3-sigma bound: |approx - exact| <= 3 * rsd * exact
    assert abs(row["a"] - row["x"]) <= 3 * rsd * row["x"] + 1
    assert abs(row["ap"] - row["xp"]) <= 3 * rsd * row["xp"] + 1


def test_coverage_md_names_exist(spark):
    """COVERAGE.md must not drift: every backticked query name it
    cites must exist in the registry. (spark fixture: query modules
    build Column expressions at import time.)"""
    import re

    from swat_mapreduce_spark.queries import load_all

    reg = load_all()
    text = open("COVERAGE.md").read()
    cited = set(re.findall(r"`([a-z0-9_]+)`", text))
    known_non_queries = {q for q in cited if "/" in q or "." in q}
    missing = [
        q
        for q in cited - known_non_queries
        if q not in reg
        and not q.startswith(("test_", "tests", "spark", "sc", "sources"))
        and q not in {
            "queries", "oracle_sql", "entry", "binaryfile", "maxrecordsperbatch",
            "batch_size", "udtf", "q4", "q15", "q17", "q18", "q22", "q3", "q10",
            "q5", "q7", "q8", "q9", "q12", "q20", "prob_str",
            # function/operator names (not query keys) cited in §2A rows
            "clean_manifest", "repartition",
            # env-gated: registers only when the protobuf runtime exists
            "stream_tws_user_stats",
        }
    ]
    assert not missing, f"COVERAGE.md cites unknown queries: {missing}"


def test_custom_python_data_source(spark):
    """Spark 4 Python data source API: the swat_manifest generator must
    read with declared schema, honor partitioning (parallel,
    driver-free generation), and produce deterministic rows."""
    import hashlib

    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.manifest_source import (
        ManifestDataSource,
        _path_for,
    )

    spark.dataSource.register(ManifestDataSource)
    df = (
        spark.read.format("swat_manifest")
        .option("rows", 97)
        .option("partitions", 8)
        .load()
    )
    assert df.schema.simpleString() == "struct<idx:bigint,image_path:string>"
    assert df.rdd.getNumPartitions() == 8
    rows = {r["idx"]: r["image_path"] for r in df.collect()}
    assert len(rows) == 97
    assert rows[0] == _path_for(0) and rows[96] == _path_for(96)
    # composes with the classification pipeline's manifest cleaning
    from swat_mapreduce_spark.operators.classify import clean_manifest

    cleaned = clean_manifest(df.select(F.col("image_path").alias("line")))
    assert cleaned.count() == 97


def test_percentile_approx_within_tolerance(spark, sf_dir):
    """percentile_approx (t-digest-style sketch) has no cross-engine
    exact oracle; pin it to within accuracy-bound distance of the
    exact percentile."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    row = orders.agg(
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("approx"),
        F.percentile("o_totalprice", 0.5).alias("exact"),
        F.expr("percentile(o_totalprice, 0.99)").alias("exact99"),
        F.percentile_approx("o_totalprice", 0.99, 1000).alias("approx99"),
    ).first()
    # accuracy=1000 → rank error <= n/1000; translate to a loose value
    # tolerance of 2% of the exact value for this distribution
    assert abs(row["approx"] - row["exact"]) <= 0.02 * row["exact"]
    assert abs(row["approx99"] - row["exact99"]) <= 0.02 * row["exact99"]


def test_registry_contract():
    """Every registered query must carry a DuckDB oracle (no silent
    rows-only slippage as the registry grows) and the queries()/
    oracle_sql() views of the registry must agree key-for-key."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(qs) == set(osql), "queries()/oracle_sql() key mismatch"
    missing = [k for k, v in osql.items() if not (v and v.strip())]
    assert not missing, f"queries without oracles: {missing}"
    assert all(callable(f) for f in qs.values())


def test_observe_metrics_surface(spark, sf_dir):
    """df.observe() metrics: the engine's run-time row/value counters
    (the declarative replacement for Hadoop job Counters the reference
    reads from the MR framework) — collected via the observation API
    without a second pass over the data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    obs = Observation("lineitem_scan")
    li = read_table(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    )
    kept = observed.filter(F.col("l_quantity") > 25).count()
    m = obs.get
    assert m["n_rows"] == li.count()
    assert m["total_qty"] > 0
    assert kept < m["n_rows"]


def test_manifest_stream_reader_replay_slice():
    """readBetweenOffsets must regenerate EXACTLY the committed slice —
    the restart/replay contract of the simple stream reader (offsets
    are values, rows are pure functions of the index)."""
    from swat_mapreduce_spark.sources.manifest_source import (
        ManifestStreamReader,
        _path_for,
    )

    r = ManifestStreamReader({"rows": "120", "batch_size": "50"})
    assert r.initialOffset() == {"i": 0}
    it, nxt = r.read({"i": 0})
    first = list(it)
    assert nxt == {"i": 50} and len(first) == 50
    # replay the same span: byte-identical rows
    assert list(r.readBetweenOffsets({"i": 0}, {"i": 50})) == first
    # drain: final partial batch then empty batches at a fixed offset
    it, nxt = r.read({"i": 100})
    assert len(list(it)) == 20 and nxt == {"i": 120}
    it, nxt = r.read({"i": 120})
    assert list(it) == [] and nxt == {"i": 120}
    assert first[7] == (7, _path_for(7))


def test_archive_distribution_auto_unzip(spark, tmp_path):
    """sc.addArchive ships a zip that executors see UNPACKED — the
    Spark form of the reference's distributed-cache archive for
    class_folder.zip (java/PredictDriverCluster.java:51, label dirs
    auto-unzipped beside the task). The label vocabulary is derived
    from the extracted directory names on the executor."""
    import zipfile

    from pyspark.sql import functions as F

    zpath = tmp_path / "labels_arch.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for name in ["clothing", "shoes", "tea_bags"]:
            z.writestr(f"labels_arch/{name}/.keep", "")
    spark.sparkContext.addArchive(str(zpath))

    def read_labels(_):
        import os

        from pyspark import SparkFiles

        root = os.path.join(SparkFiles.getRootDirectory(), "labels_arch.zip")
        inner = os.path.join(root, "labels_arch")
        yield sorted(os.listdir(inner))

    got = (
        spark.sparkContext.parallelize([0], 1)
        .mapPartitions(read_labels)
        .collect()
    )
    assert got == [["clothing", "shoes", "tea_bags"]]
    # and the derived dict matches labels.derive semantics: sorted order
    labels = spark.createDataFrame(
        [(i, n) for i, n in enumerate(got[0])], "label_idx int, class_name string"
    )
    assert labels.filter(F.col("label_idx") == 1).first().class_name == "shoes"


def test_catalog_managed_table_roundtrip(spark, sf_dir, tmp_path):
    """The catalog surface a switching user hits first: saveAsTable a
    partitioned managed table, append via insertInto, prune partitions
    on read, and introspect via the catalog API."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").withColumn(
        "etype", F.col("event_type")
    )
    tbl = "swat_cat_events"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    half = ev.filter(F.col("event_id") % 2 == 0)
    rest = ev.filter(F.col("event_id") % 2 == 1)
    half.write.partitionBy("etype").saveAsTable(tbl)
    rest.write.insertInto(tbl)
    back = spark.table(tbl)
    assert back.count() == ev.count()
    one = back.filter(F.col("etype") == "click").count()
    assert one == ev.filter(F.col("event_type") == "click").count()
    cols = {c.name for c in spark.catalog.listColumns(tbl)}
    assert "etype" in cols and "event_id" in cols
    parts = spark.sql(f"SHOW PARTITIONS {tbl}").count()
    assert parts == 5  # one per event_type
    spark.sql(f"DROP TABLE {tbl}")


def test_manifest_reader_pushdown_narrows_partitions():
    """pushFilters must narrow the planned index range (fewer rows
    generated), claim supported idx filters (not re-yield them), and
    pass through unsupported ones."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        LessThan,
        StringStartsWith,
    )

    from swat_mapreduce_spark.sources.manifest_source import ManifestReader

    r = ManifestReader({"rows": "1000", "partitions": "4"})
    residual = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("idx",), 100),
                LessThan(("idx",), 150),
                StringStartsWith(("image_path",), "/data"),
            ]
        )
    )
    # only the string filter comes back for Spark to evaluate
    assert len(residual) == 1 and isinstance(residual[0], StringStartsWith)
    parts = r.partitions()
    spans = [(p.start, p.end) for p in parts]
    assert min(s for s, _ in spans) == 100
    assert max(e for _, e in spans) == 150
    assert sum(e - s for s, e in spans) == 50  # only 50 rows generated

    # EqualTo pins a single row; contradictory bounds yield zero rows
    r2 = ManifestReader({"rows": "1000"})
    list(r2.pushFilters([EqualTo(("idx",), 7)]))
    assert sum(e - s for s, e in (

        (p.start, p.end) for p in r2.partitions()
    )) == 1
    r3 = ManifestReader({"rows": "1000"})
    list(r3.pushFilters([EqualTo(("idx",), 7), LessThan(("idx",), 3)]))
    assert sum(
        e - s for s, e in ((p.start, p.end) for p in r3.partitions())
    ) == 0


def test_plans_census_covers_full_registry(spark):
    """PLANS.md is the shuffle-audit contract: a registered query with
    no census row is a query whose physical plan was never
    machine-checked (r4 verdict: html_tag_strip_clean and
    label_balance_audit shipped un-audited). Every batch query must
    have a census row; every stream_* query is explicitly skipped;
    no census row may cite an unknown query."""
    import re

    from swat_mapreduce_spark.queries import load_all

    reg = load_all()
    text = open("PLANS.md").read()
    census = set(re.findall(r"^\| ([a-z0-9_]+) \|", text, re.M))
    census.discard("query")  # header row
    batch = {q for q in reg if not q.startswith("stream_")}
    missing = sorted(batch - census)
    unknown = sorted(census - set(reg))
    assert not missing, f"registered queries with no PLANS.md census row: {missing}"
    assert not unknown, f"PLANS.md cites unregistered queries: {unknown}"


def test_census_reads_plan_fn_plans():
    """A query with a plan_fn collects inside its spark_fn, which plans
    as a bare LocalTableScan of the collected rows. Every such query is
    a multi-stage job, so a census row reading 0 shuffles means the
    census explained the collected rows, not the plan_fn."""
    import re

    from swat_mapreduce_spark.queries import load_all

    with_plan_fn = {n for n, q in load_all().items() if q.plan_fn}
    text = open("PLANS.md").read()
    header = next(l for l in text.splitlines() if l.startswith("| query |"))
    cols = [c.strip() for c in header.strip("|").split("|")]
    idx = cols.index("shuffles")
    shuffles = {}
    for line in text.splitlines():
        m = re.match(r"\| (\w+) \|", line)
        if m and m.group(1) in with_plan_fn:
            shuffles[m.group(1)] = line.strip("|").split("|")[idx].strip()
    assert sorted(shuffles) == sorted(with_plan_fn)
    flat = {n: s for n, s in shuffles.items() if not (s.isdigit() and int(s))}
    assert not flat, f"plan_fn queries censused with no shuffle: {flat}"


def test_census_has_no_cartesian_products():
    """Registry-wide no-cartesian contract: the pytest guardrail walks
    only the headline set; the census walks EVERY batch query, so its
    cartesian column being all-zero extends the guarantee to the full
    registry at zero pytest cost."""
    import re

    text = open("PLANS.md").read()
    header = next(
        l for l in text.splitlines() if l.startswith("| query |")
    )
    cols = [c.strip() for c in header.strip("|").split("|")]
    assert "cartesian" in cols, "census missing the cartesian column"
    idx = cols.index("cartesian")
    bad = []
    for line in text.splitlines():
        m = re.match(r"\| (\w+) \|", line)
        if not m or m.group(1) == "query":
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(cols) and cells[idx].isdigit():
            if int(cells[idx]) != 0:
                bad.append((m.group(1), cells[idx]))
    assert not bad, f"queries with CartesianProduct in their plan: {bad}"


# Queries whose physical plan is ALLOWED to contain Python/Arrow eval
# stages — each is a deliberate Python surface (mapInPandas inference,
# multimodal decode, UDTF/UDF demonstrations). Everything else in the
# registry must stay whole-stage-codegen JVM.
_PYTHON_STAGE_ALLOWLIST = {
    "applyinpandas_zscore",
    "arrow_scalar_udf",
    "binary_inference_e2e",
    "infer_mapinpandas",
    "multimodal_audio_energy",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_scene_cuts",
    "sql_registered_udfs",
    "udtf_dynamic_schema",
    "udtf_table_argument",
    "udtf_tokenize",
    # Arrow surfaces whose python-stage count can read 0 in the census
    # when the stage hides inside a cached/persisted segment:
    "token_count_arrow",
    "applyinarrow_source_stats",
    "arrow_udtf_batch_filter",
    "cogroup_click_purchase",
    "pandas_udaf_weighted_mean",
    "pandas_api_groupby",
    "python_datasource_scan",
    "python_datasource_pushdown",
    "python_datasource_write",
    "multimodal_meta",
    "crossmodal_retrieval_eval",
    "modality_coverage_join",
}


def test_census_python_stages_only_on_deliberate_surfaces():
    """Registry-wide Python-stage contract: any census row with a
    Python/Arrow eval stage must be on the deliberate-surface
    allowlist — a Python stage appearing in a relational/dedup/ANN
    query is a hot-path regression (UDFs are the slow path)."""
    import re

    text = open("PLANS.md").read()
    header = next(l for l in text.splitlines() if l.startswith("| query |"))
    cols = [c.strip() for c in header.strip("|").split("|")]
    idx = cols.index("python")
    offenders = []
    for line in text.splitlines():
        m = re.match(r"\| (\w+) \|", line)
        if not m or m.group(1) == "query":
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(cols) and cells[idx].isdigit():
            if int(cells[idx]) > 0 and m.group(1) not in _PYTHON_STAGE_ALLOWLIST:
                offenders.append((m.group(1), cells[idx]))
    assert not offenders, (
        f"Python eval stages outside the deliberate surfaces: {offenders}"
    )


# Queries whose physical plan is ALLOWED a partition-less WindowExec —
# each window runs over a table already cut to a bounded row count, so
# the single task it forces is correct by construction (r6, VERDICT r5
# #6). Everything else must partition its windows: an unlisted global
# window funnels the full input through one task at 100 TB.
_GLOBAL_WINDOW_ALLOWLIST = {
    # --- round 10 additions: all windows over bounded derived tables ---
    # row_number over the 30-row daily deviation table
    "grubbs_outlier_daily",
    # median-grid cumsum over the document-length value domain (x3:
    # grid median + the two cell passes)
    "mood_median_test_lang",
    # |d|-rank over the <=30 half-day pair table
    "wilcoxon_signed_rank_halfday",
    # row_number + count over the 465 Walsh-average pairs (30 days)
    "hodges_lehmann_daily",
    # lag-1/lag-7 over the 30-row daily table (calendar-bounded)
    "mase_seasonal_naive_eval",
    # descending cumulative over the distinct-4dp-score table
    "pr_auc_average_precision",
    # ECDF cumsums over the length domain (grid-bounded)
    "cliff_delta_lengths",
    # split-candidate cumsum over the length domain
    "gini_stump_split",
    # rank + lead over the 30-row daily table
    "xi_correlation_chatterjee",
    # decile cumsums over the length domain
    "qq_plot_deciles",
    # at-risk suffix sum over the calendar-bounded duration-week table
    "nelson_aalen_hazard",
    # the same duration-week suffix sums, two groups
    "logrank_test_survival",
    # KM fold + lead over the duration-week table
    "rmst_survival",
    # descending cumulative over the distinct-score table
    "youden_j_threshold",
    # ECDF cumsum over the length domain + rank over the 20-test table
    "holm_bonferroni_tests",
    # rank over the TakeOrdered top-21 frequency cut (zipf pattern)
    "hill_tail_index_tokens",
    # running sum over the per-day aggregate (|days| rows)
    "cumulative_distinct_users",
    # cumulative attrition over the pipeline-stage table (|stages| rows)
    "filter_attrition_funnel",
    # argmin + growth windows over the 10-row decile table
    "heaps_vocab_growth",
    # global max over the per-source aggregate (|sources| rows)
    "temperature_mix_sources",
    # rank/max windows over the TakeOrdered top-100 cut
    "zipf_rank_frequency",
    # deterministic top-10 cut over the <=50-row sketch estimate
    "approx_topk_sketch_tokens",
    # at-risk suffix sum + survival fold over the <= ~350-row
    # duration-week table (calendar-bounded)
    "survival_km_weekly",
    # cumulative negatives over the distinct-4dp-score table
    # (<= 10^4 rows by score granularity)
    "classifier_auc_ranksum",
    # 7-day centered MA over the per-day table (calendar-bounded)
    "seasonal_decompose_dow",
    # rank numbering over the two TakeOrdered top-50 cuts
    "hybrid_rrf_fusion",
    # ECDF cumulative over the distinct-length table (bounded by the
    # document-length domain)
    "ks_two_sample_lengths",
    # CUSUM cumulative over the per-day table (calendar-bounded)
    "cusum_changepoint_daily",
    # pooled-CDF cumulative over the distinct-length table (bounded
    # by the document-length domain)
    "quantile_normalize_sources",
    # 7-day centered MA over the per-day table (calendar-bounded)
    "seasonal_residual_outliers",
    # rank numbering over the two TakeOrdered top-30 cuts
    "ranking_rbo_similarity",
    # pooled-ECDF cumsum over the distinct-length domain + BH rank
    # over the |sources|-row test table (both bounded by construction)
    "fdr_bh_source_length_tests",
    # rank numbering over the TakeOrdered top-20 PMI cut
    "pmi_top_bigrams",
    # rank numbering over the two TakeOrdered top-10 role cuts
    "hits_hubs_authorities",
    # cumulative LLR over the per-day table (calendar-bounded, r9)
    "sprt_sequential_conversion",
    # CDF cumulatives + lead over the distinct-length domain (r9)
    "wasserstein1d_length_drift",
    # midrank cumulative over the distinct-length domain (r9)
    "kruskal_wallis_length_by_lang",
    # PH cumulative/min over the per-day table (calendar-bounded, r9)
    "page_hinkley_drift_daily",
    # AD midrank cumulatives over the distinct-length domain (r9)
    "anderson_darling_two_sample",
    # suffix max over the distinct-length grid (r9)
    "pareto_frontier_quality",
    # pooled-ECDF cumsum over the length domain + rank/suffix-min over
    # the |sources|-row test table (fdr_bh shape, r9)
    "storey_qvalue_ks_tests",
    # decile cumulative over the bounded DECIMAL(6,4) score grid (r9)
    "lift_gains_en_detector",
    # --- round 11 ---
    # ECDF cumsums over the distinct-length domain (ks_two_sample
    # shape). The text_overlap pair ops and quade also run bounded
    # global windows (48-row LIMIT subtree / day table) but return
    # materialized LocalRelations, so the census never sees them.
    "cramer_von_mises_two_sample",
    # positional row_number + count over the calendar-bounded day table
    "cox_stuart_trend_daily",
    # two rank windows over the calendar-bounded day table
    "spearman_footrule_daily",
    # prefix-count/sum cumulatives over the distinct-length domain
    "gini_mean_difference_lengths",
}


def test_census_global_windows_only_on_bounded_inputs():
    """Registry-wide single-task-window contract: any census row with a
    partition-less WindowExec must be on the bounded-input allowlist —
    a global window in an unlisted query means the full input flows
    through ONE task, the classic silent scale killer."""
    import re

    text = open("PLANS.md").read()
    header = next(l for l in text.splitlines() if l.startswith("| query |"))
    cols = [c.strip() for c in header.strip("|").split("|")]
    assert "global_windows" in cols, "census missing global_windows column"
    idx = cols.index("global_windows")
    offenders = []
    listed_but_clean = set(_GLOBAL_WINDOW_ALLOWLIST)
    for line in text.splitlines():
        m = re.match(r"\| (\w+) \|", line)
        if not m or m.group(1) == "query":
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(cols) and cells[idx].isdigit():
            if int(cells[idx]) > 0:
                if m.group(1) not in _GLOBAL_WINDOW_ALLOWLIST:
                    offenders.append((m.group(1), cells[idx]))
                listed_but_clean.discard(m.group(1))
    assert not offenders, (
        f"partition-less WindowExec outside the bounded-input "
        f"allowlist: {offenders}"
    )
    # keep the allowlist honest: stale entries must be pruned so the
    # list stays a faithful census of single-task windows
    assert not listed_but_clean, (
        f"allowlist entries with no global window anymore: "
        f"{sorted(listed_but_clean)}"
    )


def test_census_cross_sf_plan_invariance_sample(spark):
    """Cross-SF plan-shape drift guard (VERDICT r6 #4): the PLANS.md
    claim is that plan node counts are IDENTICAL at sf0.01 and sf0.1
    for every row (re-verified in full for r7). This guard keeps the
    claim live in CI for a sample of r6-added join-bearing queries at
    two SFs, 10x apart — a broadcast that silently flips to SMJ or an
    extra Exchange as data grows fails here before it ships."""
    from tools.planaudit import audit_one

    from swat_mapreduce_spark.queries import load_all, run_query

    reg = load_all()
    sample = [
        "sliding_distinct_users_bitmap",
        "woe_iv_length_feature",
        "wilson_interval_rates",
        "chi2_independence_lang_source",
        "entity_resolution_parts",
        "hybrid_rrf_fusion",
        "pareto_abc_cumshare",
        "churn_feature_table",
    ]
    for name in sample:
        counts = {}
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            counts[sf] = audit_one(run_query(spark, reg[name], sf, "plan"))
        a, b = counts.values()
        assert a == b, f"{name}: plan reshaped across SFs: {a} vs {b}"


# Queries whose physical plan is ALLOWED unproven hint-forced
# broadcasts (nonzero `corpus_bcast` in PLANS.md) — each input is
# bounded for a reason the plan-tree auditor cannot see (VERDICT r11
# #1). The value is the exact expected count, so a NEW unproven
# broadcast in a listed query still fails. Everything else must prove
# every broadcast() hint bounded-by-construction: an unlisted
# corpus-dependent broadcast is an executor/driver OOM at 100 TB.
_CORPUS_BCAST_ALLOWLIST = {
    # benchmark shingle set: a benchmark corpus is externally
    # FIXED-SIZE (it does not grow with training data); the testdata
    # models it as a filtered documents slice, which the tree reads
    # as corpus-dependent
    "decontaminate_vs_benchmark": 1,
    # same benchmark-set rationale, positional-shingle variant
    "contamination_longest_run": 1,
    # the probe side is a bounded incremental batch staged behind a
    # persisted relation (InMemoryRelation) the tree cannot traverse;
    # the (batch_id, corpus_id) match table is batch-side bounded
    "dedup_probe_incremental": 3,
    # contingency-grid aggregates keyed (p, q) = (priority rank,
    # quantity cell) — bounded attribute domains; the single-letter
    # names are too generic for the shared key-domain dict (p = part
    # node id in the graph family, where it must NOT pass)
    "goodman_kruskal_gamma": 1,
    "jonckheere_terpstra_priority_qty": 1,
    "somers_d_priority_qty": 1,
    # Spark plans a NOT IN over a nullable subquery ONLY as a
    # broadcast null-aware anti join (engine constraint, both the
    # demo pair); scale guidance: rewrite to NOT EXISTS (SCALING.md)
    "null_aware_anti_join": 2,
    # hit set <= the fixed _PH_Q query sample (vid == cid
    # self-matches); the cut hides inside the banded candidate join
    "phash_neardup_recall": 1,
    # the co-occurrence (d_ij) and document-frequency (d) tables, both
    # keyed on the TOP-K topic words; the K-cut sits behind a persisted
    # relation the tree cannot traverse. The query's third hint (the
    # topic-word semi-join) is proven bounded and is not counted.
    "umass_topic_coherence": 2,
}


def test_census_broadcasts_bounded_by_construction():
    """Registry-wide broadcast-boundedness contract (VERDICT r11 #1):
    every hint-forced BroadcastExchange must be proven bounded by the
    planaudit subtree classifier, or carry a rationale entry here with
    the EXACT expected count. A corpus-dependent broadcast ships the
    whole input to every executor — the 100 TB OOM class this census
    exists to keep extinct."""
    import re

    text = open("PLANS.md").read()
    header = next(l for l in text.splitlines() if l.startswith("| query |"))
    cols = [c.strip() for c in header.strip("|").split("|")]
    assert "corpus_bcast" in cols, "census missing corpus_bcast column"
    idx = cols.index("corpus_bcast")
    offenders = []
    listed_but_clean = set(_CORPUS_BCAST_ALLOWLIST)
    for line in text.splitlines():
        m = re.match(r"\| (\w+) \|", line)
        if not m or m.group(1) == "query":
            continue
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(cols) and cells[idx].isdigit():
            n = int(cells[idx])
            if n > 0:
                if _CORPUS_BCAST_ALLOWLIST.get(m.group(1)) != n:
                    offenders.append((m.group(1), n))
                listed_but_clean.discard(m.group(1))
    assert not offenders, (
        f"unproven hint-forced broadcasts outside (or exceeding) the "
        f"rationale allowlist: {offenders}"
    )
    # stale entries must be pruned so the list stays a faithful census
    assert not listed_but_clean, (
        f"allowlist entries whose broadcasts are now proven bounded: "
        f"{sorted(listed_but_clean)}"
    )
