"""Physical-plan assertions: the plans we'd want at 100 TB, not just
plans that happen to work at sf0.001 (predicate pushdown, broadcast
dims, TakeOrderedAndProject top-k, whole-stage codegen)."""

from __future__ import annotations

from pyspark.sql import functions as F

from swat_mapreduce_spark.plans.explain import formatted_plan, plan_has
from swat_mapreduce_spark.sources.readers import read_table


def test_filter_pushdown_to_parquet(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = formatted_plan(q)
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    plan = formatted_plan(q)
    # ReadSchema must not include unused columns like l_comment/l_tax
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_tax" not in read_schema
    assert "l_orderkey" in read_schema


def test_small_dim_join_broadcasts(spark, sf_dir):
    from swat_mapreduce_spark.queries.relational import q5_local_supplier_volume

    plan = formatted_plan(q5_local_supplier_volume(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    from swat_mapreduce_spark.queries.relational import topk_orders

    plan = formatted_plan(topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, (
        "global top-k must not be a full sort"
    )


def test_classify_pipeline_stays_jvm_side(spark, sf_dir):
    """Scoring is pure JVM expressions: no Python eval stages anywhere,
    and the labels are a per-row literal lookup, so the plan has no
    join and no broadcast. (WholeStageCodegen subtrees aren't
    annotated in un-executed AQE plans, so we assert the JVM-only
    property instead.)"""
    from swat_mapreduce_spark.operators.classify import classify_pipeline

    plan = formatted_plan(classify_pipeline(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan


def test_score_codegen_shares_md5_blocks(spark):
    """The logit vector is one codegen'd projection in which each of
    the ceil(30/8) = 4 md5 blocks is computed once per row — not a
    higher-order function re-digesting per element (CLAUDE.md
    gotcha 17)."""
    from swat_mapreduce_spark.operators.classify import score

    paths = spark.createDataFrame([("/x/a.jpg",)], "image_path string")
    jdf = score(paths).select("logits")._jdf
    code = jdf.queryExecution().debug().codegenToSeq().mkString("\n")
    assert code.count("md5Hex(") == 4


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    from swat_mapreduce_spark.queries.temporal import range_join_price_bands

    plan = formatted_plan(range_join_price_bands(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_skew_split_join_matches_plain_join(spark, sf_dir):
    """Hot/cold split join must be semantically identical to the plain
    inner join, and its hot path must be a broadcast join."""
    from swat_mapreduce_spark.operators import skew
    from pyspark.sql import functions as F

    events = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    hot = skew.hot_keys(events, "user_id", min_count=5)
    assert hot, "test data should have users above the threshold"
    split = skew.skew_split_join(events, cust, "user_id", "c_custkey", hot)
    plain = events.join(cust, events.user_id == cust.c_custkey).drop("c_custkey")
    assert split.count() == plain.count()
    assert (
        split.groupBy("user_id").count().exceptAll(
            plain.groupBy("user_id").count()
        ).count()
        == 0
    )
    assert "BroadcastHashJoin" in formatted_plan(split)


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Co-located fact-fact join: two tables bucketed by the join key
    join WITHOUT an Exchange on either side — the 100 TB answer to
    repeated orders⋈lineitem joins. (Bucketed reads require the
    session catalog/warehouse, hence saveAsTable.)"""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df, key in [
            ("t_orders_b", orders, "o_orderkey"),
            ("t_lineitem_b", li, "l_orderkey"),
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        j = ob.join(lb, ob.o_orderkey == lb.l_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        plan = formatted_plan(j)
        join_section = plan.split("SortMergeJoin")[0]
        assert "Exchange hashpartitioning" not in join_section, (
            "bucketed join sides must not re-shuffle"
        )
        # correctness: same result as the unbucketed join
        expected = orders.join(li, orders.o_orderkey == li.l_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        assert sorted(map(tuple, j.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet layout: a read with a partition-column
    filter must plan a pruned scan (partitionFilters, not a full
    scan + post-filter) — the layout a 100 TB corpus would use."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table
    from swat_mapreduce_spark.sources.sinks import write_parquet

    docs = read_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_parquet(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = formatted_plan(back)
    assert "PartitionFilters" in plan and "lang" in plan.split(
        "PartitionFilters"
    )[1].splitlines()[0]
    expected = docs.filter(F.col("lang") == "en").count()
    assert back.count() == expected


def test_repartition_by_range_sorted_write(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions before writing:
    produces globally range-ordered files (each file covers a disjoint
    key range), the layout that makes min/max row-group pruning work
    for range predicates downstream."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_ranged")
    (
        orders.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    import glob as _glob

    ranges = []
    for f in sorted(_glob.glob(f"{out}/part-*.parquet")):
        stats = (
            spark.read.parquet(f)
            .agg(
                F.min("o_orderdate").alias("lo"),
                F.max("o_orderdate").alias("hi"),
            )
            .first()
        )
        if stats["lo"] is not None:
            ranges.append((stats["lo"], stats["hi"]))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, "file key ranges must be disjoint"


def test_join_strategy_hints_honored(spark, sf_dir):
    """Catalyst must honor explicit join strategy hints: merge() forces
    SortMergeJoin, shuffle_hash() forces ShuffledHashJoin, broadcast()
    forces BroadcastHashJoin — the manual override surface when the
    optimizer's stats-based choice is wrong."""
    from pyspark.sql import functions as F

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    for hint, node in [
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ]:
        j = orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey)
        assert node in formatted_plan(j), f"hint {hint} must plan {node}"


def test_registry_plans_no_cartesian_bounded_python(spark, sf_dir):
    """Plan guardrails over every batch query, on the plan its "plan"
    mode explains (a ``plan_fn`` query's real plan, not its collected
    rows): (a) no CartesianProduct node — an accidental unkeyed join
    is the classic 100 TB killer; (b) Python-worker stages only in the
    deliberate Python surfaces of ``_PYTHON_STAGE_ALLOWLIST``. Nodes
    are counted by the census's own rule (``planaudit.audit_one``)."""
    from swat_mapreduce_spark.queries import load_all, run_query
    from tests.test_parity_utils import _PYTHON_STAGE_ALLOWLIST
    from tools.planaudit import audit_one

    offenders, cartesians = [], []
    for name, q in sorted(load_all().items()):
        if name.startswith("stream_"):
            continue  # execute on construction; covered by batch twins
        counts = audit_one(run_query(spark, q, sf_dir, "plan"))
        if counts["cartesian"]:
            cartesians.append(name)
        if counts["python"] and name not in _PYTHON_STAGE_ALLOWLIST:
            offenders.append(name)
    assert not cartesians, f"cartesian products in: {cartesians}"
    assert not offenders, f"unexpected Python stages in: {offenders}"


def test_triangle_count_reuses_persisted_edges(spark, sf_dir):
    """The oriented edge list must be materialized once and read from
    cache by all four references — not re-derived from the fact
    table per join leg (the 16-scan shape the census caught)."""
    from swat_mapreduce_spark.queries import load_all

    import re

    df = load_all()["graph_triangle_count"].spark_fn(spark, sf_dir)
    plan = formatted_plan(df).split("== Initial Plan ==")[0]
    # count numbered TREE nodes only — InMemoryRelation detail text
    # re-prints the cached pipeline, inflating a plain substring count
    nodes = re.findall(r"\(\d+\)\s+([A-Za-z]+)", plan)
    assert nodes.count("InMemoryTableScan") >= 2
    assert nodes.count("Scan") <= 4


def test_watermark_late_audit_no_single_partition_window(spark, sf_dir):
    """The prefix-MAX must stay bucketed: no Exchange SinglePartition
    anywhere in the plan (the global-window scale trap)."""
    from swat_mapreduce_spark.queries import load_all

    df = load_all()["watermark_late_audit"].spark_fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SinglePartition" not in plan


def test_countmin_cells_bounded(spark, sf_dir):
    """The sketch table is at most d*w rows no matter the corpus —
    the mergeable-constant-state property."""
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.queries.scale_patterns import _CM_D, _CM_W

    out = load_all()["countmin_heavy_hitters"].spark_fn(spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert r.est_count >= r.true_count  # CM never underestimates


def test_jsonl_sink_commit_protocol(tmp_path):
    """Writer commit renames temp files into place; abort removes
    them — no partial output can ever be read as committed."""
    import os

    from swat_mapreduce_spark.sources.manifest_source import (
        JsonlSinkWriter, _JsonlCommit,
    )

    w = JsonlSinkWriter({"path": str(tmp_path)})
    t1 = tmp_path / "_tmp_part-00000-aa.jsonl"
    t2 = tmp_path / "_tmp_part-00001-bb.jsonl"
    t1.write_text('{"a": 1}\n')
    t2.write_text('{"a": 2}\n')
    w.commit([_JsonlCommit(str(t1), 1), _JsonlCommit(str(t2), 1)])
    names = sorted(os.listdir(tmp_path))
    assert names == ["part-00000-aa.jsonl", "part-00001-bb.jsonl"]
    t3 = tmp_path / "_tmp_part-00002-cc.jsonl"
    t3.write_text('{"a": 3}\n')
    w.abort([_JsonlCommit(str(t3), 1)])
    assert not t3.exists()
    w.abort([_JsonlCommit(str(t3), 1)])  # idempotent on missing files


def test_inverted_index_prunes_text_from_final_join(spark, sf_dir):
    """The conjunctive search must resolve via posting lists: the final
    result join reads only (doc_id, n_chars) from the docs side — the
    text column stays out of the last scan's ReadSchema — and the
    posting-list lookups are filter-pushed on the token."""
    from swat_mapreduce_spark.queries.scale_patterns import (
        search_inverted_index,
    )

    plan = formatted_plan(search_inverted_index(spark, sf_dir))
    # every scan that feeds the final projection join must be pruned;
    # at least one scan reads only the two output columns
    assert "doc_id" in plan
    read_schemas = [
        seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]
    ]
    assert any(
        "n_chars" in rs and "text" not in rs for rs in read_schemas
    ), read_schemas


def test_incremental_join_single_aggregate_exchange(spark, sf_dir):
    """The delta-join maintenance terms union BEFORE the aggregate, so
    the plan carries exactly one hash-aggregate exchange (on the
    5-value priority key) — the four join terms must not each
    introduce their own aggregation shuffle."""
    from swat_mapreduce_spark.queries.lakehouse import incremental_join_delta

    plan = formatted_plan(incremental_join_delta(spark, sf_dir))
    n_agg_exchanges = plan.count("Exchange hashpartitioning(o_orderpriority")
    assert n_agg_exchanges <= 1, plan[:2000]


def test_sketch_rollup_shuffles_sketch_bytes_not_rows(spark, sf_dir):
    """The two-level HLL rollup's second aggregate consumes the daily
    sketch table — its exchange moves (type, day) sketch rows, and no
    Python stage appears anywhere (pure JVM Datasketches)."""
    from swat_mapreduce_spark.queries.engine_observability import (
        sketch_union_rollup,
    )

    plan = formatted_plan(sketch_union_rollup(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "hll_union_agg" in plan or "hll_union" in plan.lower()


def test_retrieval_evals_broadcast_fixed_query_set(spark, sf_dir):
    """r4 scale fix (VERDICT r3 #1): the retrieval-eval query sets are
    fixed-count TakeOrderedAndProject samples shipped via a broadcast
    join — NOT corpus fractions collected into plan literals. The plan
    must show the broadcast join and the bounded top-k sample; a plan
    literal would show neither."""
    from swat_mapreduce_spark.queries.similarity import (
        crossmodal_retrieval_eval,
        matryoshka_truncation_audit,
    )

    for fn in (crossmodal_retrieval_eval, matryoshka_truncation_audit):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan, fn.__name__
        assert "TakeOrderedAndProject" in plan, fn.__name__


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    """The staged fact scan must carry a dynamicpruningexpression on
    its partition column — runtime partition pruning driven by the
    filtered month dimension, not a full fact scan."""
    import shutil
    import tempfile

    from swat_mapreduce_spark.queries.lakehouse import _dpp_query

    base = tempfile.mkdtemp(prefix="swat_dpp_test_")
    try:
        plan = formatted_plan(_dpp_query(spark, sf_dir, base + "/t"))
        assert "dynamicpruning" in plan.lower(), plan[:3000]
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_null_aware_anti_join_plan_and_3vl(spark, sf_dir):
    """The NOT-IN-with-nullable-probe branch must plan as Spark's
    null-aware anti join (BroadcastNestedLoopJoin) and return 0 under
    3VL, while the null-filtered NOT IN and NOT EXISTS branches agree
    on a positive count."""
    from swat_mapreduce_spark.queries.relational import null_aware_anti_join

    df = null_aware_anti_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    (row,) = df.collect()
    assert row.n_notin_with_nulls == 0
    assert row.n_notin_nulls_filtered == row.n_not_exists > 0
