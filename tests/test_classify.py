"""Wart-for-wart semantics of the reference pipeline (SURVEY.md §5
item 3, FIXTURES.md §B): blank/comment skip, BOM preservation,
duplicate passthrough, error fallback, %.4f, key-sort."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from swat_mapreduce_spark.labels import CLASS_NAMES
from swat_mapreduce_spark.operators import classify


def test_clean_manifest_warts(spark, sf_dir):
    manifest = classify.synth_manifest(spark, sf_dir)
    cleaned = classify.clean_manifest(manifest).collect()
    paths = [r.image_path for r in cleaned]
    # blank / whitespace-only / comment lines are gone
    assert "" not in paths
    assert not any(p.startswith("#") for p in paths)
    # BOM is NOT stripped (reference wart: imagelist1.txt ships one)
    assert any(p.startswith("﻿") for p in paths)
    # whitespace-padded line was trimmed
    assert "/data/img/pad/es_1.jpg" in paths


def test_duplicates_preserved(spark, sf_dir):
    """Identity reduce (java/PredictReducerCSV.java:9-11): duplicate
    manifest lines → duplicate output rows."""
    out = classify.classify_pipeline(spark, sf_dir).collect()
    by_path: dict[str, int] = {}
    for r in out:
        by_path[r.image_path] = by_path.get(r.image_path, 0) + 1
    dup_counts = {p: c for p, c in by_path.items() if c > 1}
    assert dup_counts, "expected duplicated manifest paths in output"
    # duplicated rows must be identical (same class/prob)
    seen = {}
    for r in out:
        key = (r.image_path, r["class"], r.prob)
        seen.setdefault(r.image_path, set()).add(key)
    for p in dup_counts:
        assert len(seen[p]) == 1


def test_error_fallback_rows(spark, sf_dir):
    """decode failure → (path, class_names[0], 0.0), emitted not
    dropped (python/predict_batch_threaded_local.py:100-108)."""
    out = classify.classify_pipeline(spark, sf_dir).collect()
    fallback = [r for r in out if r.prob == 0.0]
    assert fallback, "~5% of paths should take the decode-failure path"
    assert all(r["class"] == CLASS_NAMES[0] for r in fallback)
    assert all(r.prob_str == "0.0000" for r in fallback)
    # and the failing paths are exactly the hash-designated ones
    for r in fallback[:5]:
        h = hashlib.md5(f"{r.image_path}:decode".encode()).hexdigest()[:2]
        assert int(h, 16) < 13


def test_output_sorted_and_formatted(spark, sf_dir):
    out = classify.classify_pipeline(spark, sf_dir).collect()
    paths = [r.image_path for r in out]
    assert paths == sorted(paths), "MR key-sort order (SURVEY §2A #18)"
    for r in out[:20]:
        assert r.prob_str == f"{r.prob:.4f}" or abs(float(r.prob_str) - r.prob) < 1e-9
        assert r["class"] in CLASS_NAMES


def test_argmax_first_index_tiebreak(spark):
    """torch.max returns the FIRST maximal index; array_position does
    the same — pin it with a constructed tie."""
    from swat_mapreduce_spark.functions import arrays as A

    df = spark.createDataFrame([([1.0, 3.0, 3.0, 0.0],)], "arr array<double>")
    row = df.select(F.expr(A.argmax("arr")).alias("i")).first()
    assert row.i == 1


def test_softmax_matches_left_fold_numpy(spark):
    """Every softmax element is exactly exp(x) / Σexp, the sum taken as
    a left fold (F.aggregate's order), for uniform, tied, spread and
    logit-range rows. The exps come from the JVM: its StrictMath.exp
    and numpy's exp differ by 1 ulp on some inputs."""
    import numpy as np

    from swat_mapreduce_spark.functions import arrays as A

    rows = [
        [0.0, 0.0, 0.0],
        [1.0, 3.0, 3.0, 0.0],
        [-8.0, -0.5, 0.25, 7.999755859375],
        [float(i) / 4 - 4 for i in range(30)],
    ]
    df = spark.createDataFrame([(r,) for r in rows], "arr array<double>")
    got = df.select(
        F.transform("arr", F.exp).alias("e"), A.softmax(F.col("arr")).alias("p")
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        e = np.array(r.e)
        total = 0.0
        for v in e:
            total += v
        assert r.p == list(e / total)


def test_attach_labels_custom_vocabulary(spark, tmp_path):
    """A custom vocabulary maps in-range indices to their names and
    every out-of-range or null index to names[0]
    (python/predict_batch_threaded_local.py:159)."""
    labels = tmp_path / "labels.txt"
    labels.write_text("cat\ndog\n")
    idx = [0, 1, -1, 2, 29, None]
    preds = spark.createDataFrame([(i,) for i in idx], "pred_idx int")
    out = classify.attach_labels(preds, spark, labels_path=str(labels))
    got = {r.pred_idx: r["class"] for r in out.collect()}
    assert got == {0: "cat", 1: "dog", -1: "cat", 2: "cat", 29: "cat", None: "cat"}


def test_attach_labels_escapes_quote_and_backslash(spark, tmp_path):
    """Custom names are Spark SQL string literals in the lookup: a
    quote, a backslash and a backtick come back verbatim."""
    names = ["it's", "back\\slash", "a\\'b", "`tick`"]
    labels = tmp_path / "labels.txt"
    labels.write_text("\n".join(names) + "\n")
    preds = spark.createDataFrame([(i,) for i in range(-1, 5)], "pred_idx int")
    out = classify.attach_labels(preds, spark, labels_path=str(labels))
    got = {r.pred_idx: r["class"] for r in out.collect()}
    assert got == {-1: names[0], 0: names[0], 1: names[1], 2: names[2],
                   3: names[3], 4: names[0]}


def test_tsv_sink_reference_format(spark, sf_dir, tmp_path):
    """TextOutputFormat parity: ``path\\tclass,prob`` lines
    (java/PredictDriverCluster.java:39,43)."""
    from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

    preds = classify.classify_pipeline(spark, sf_dir).limit(50)
    out_dir = str(tmp_path / "tsv_out")
    write_predictions_tsv(preds, out_dir)
    lines = spark.read.text(out_dir).collect()
    assert lines
    for r in lines:
        path_part, kv = r.value.split("\t")
        cls, prob = kv.rsplit(",", 1)
        assert cls in CLASS_NAMES
        float(prob)  # %.4f parses
        assert len(prob.split(".")[1]) == 4


def _sink_jobs_and_lines(spark, preds, out_dir) -> tuple[int, int, list[str]]:
    """(Spark jobs, part files, lines in part-file order) of one sorted
    ``write_predictions_tsv``; jobs are counted under a job group."""
    import os

    from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

    sc = spark.sparkContext
    group = f"sink-{os.path.basename(out_dir)}"
    sc.setJobGroup(group, group)
    try:
        write_predictions_tsv(preds, out_dir, sort=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    parts = sorted(n for n in os.listdir(out_dir) if n.startswith("part-"))
    lines = []
    for name in parts:
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            lines += f.read().splitlines()
    return jobs, len(parts), lines


def test_sorted_sink_sorts_small_input_in_one_reducer(spark, tmp_path):
    """A sort input that fits one advisory partition is sorted in one
    reducer: no range-bounds sampling job re-running the input plan,
    so 2 jobs (shuffle map, write) and one part file (CLAUDE.md gotcha
    19). With a tiny advisory size the same write takes the global
    ``orderBy`` (3 jobs: sample, shuffle map, write) and writes the
    same lines in the same global order."""
    n = 500
    preds = spark.range(0, n, 1, 4).select(
        F.format_string("/p/%05d.jpg", (F.col("id") * 7919) % n).alias("image_path"),
        F.lit("c").alias("class"),
        (F.col("id") / n).alias("prob"),
    )
    jobs, parts, lines = _sink_jobs_and_lines(spark, preds, str(tmp_path / "small"))
    paths = [ln.split("\t")[0] for ln in lines]
    assert (jobs, parts) == (2, 1)
    assert paths == [f"/p/{i:05d}.jpg" for i in range(n)]

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "64b")
    try:
        jobs, _, big_lines = _sink_jobs_and_lines(spark, preds, str(tmp_path / "big"))
    finally:
        spark.conf.set(key, before)
    assert jobs == 3
    assert big_lines == lines


def _gateway_commands(spark, build) -> int:
    """Py4J commands this thread sends while ``build()`` runs. Collected
    proxies send their own delete commands, so GC stays off while
    counting and py4j's finalizer thread, which flushes deletes queued
    earlier, is not counted."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = 0

    def counting(*args, **kwargs):
        nonlocal sent
        sent += threading.get_ident() == me
        return send(*args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = send
        gc.enable()
    return sent


def test_score_plan_builds_in_few_gateway_calls(spark, tmp_path):
    """Plan construction is paid on every job before any task runs
    (CLAUDE.md gotcha 18): the 30-logit array is one parsed expression,
    not ~2,300 Column-builder round trips, and every other stage of
    ``predict`` is parsed SQL too (546 commands when only the score
    stage was)."""
    from swat_mapreduce_spark.functions import hashing as H
    from swat_mapreduce_spark.sources.readers import read_manifest

    manifest = tmp_path / "list.txt"
    manifest.write_text("/a.jpg\n# c\n/b.jpg\n")
    lines = read_manifest(spark, str(manifest))
    assert _gateway_commands(spark, lambda: H.logits_array("image_path", 30)) <= 10
    assert _gateway_commands(spark, lambda: classify.predict(lines, spark)) <= 150


def test_score_matches_numpy_scorer_bit_for_bit(spark):
    """The JVM score stage equals the Arrow scorer's numpy logits and
    decode flag exactly, on paths that stress SQL quoting and UTF-8,
    and keeps its schema (a column name with a backtick included)."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from swat_mapreduce_spark.operators.inference import (
        hash_decode_ok_np,
        hash_logits_np,
    )

    paths = ["", "﻿/a.jpg", "/a﻿b.jpg", "#x", "a:b:c",
             "/données/图像.jpg", "'q'", "a\\b", "`tick`"]
    df = spark.createDataFrame([(p,) for p in paths], "image_path string")
    scored = classify.score(df)
    assert scored.schema == StructType([
        StructField("image_path", StringType(), True),
        StructField("logits", ArrayType(DoubleType(), True), False),
        StructField("decode_ok", BooleanType(), True),
    ])
    got = {r.image_path: (r.logits, r.decode_ok) for r in scored.collect()}
    logits = hash_logits_np(pd.Series(paths))
    ok = hash_decode_ok_np(pd.Series(paths))
    assert got == {p: (list(logits[i]), bool(ok[i])) for i, p in enumerate(paths)}

    odd = classify.score(df.withColumnRenamed("image_path", "p`a th"), "p`a th")
    assert sorted(r.logits for r in odd.collect()) == sorted(v[0] for v in got.values())
