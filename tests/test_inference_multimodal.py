"""Arrow inference path + multimodal plumbing."""

from __future__ import annotations

import functools
import hashlib
import math
import os

import pytest

from pyspark.sql import functions as F

from swat_mapreduce_spark.operators import classify, multimodal
from swat_mapreduce_spark.operators.inference import (
    _scorer_key,
    hash_scorer,
    predict_batch,
    torch_scorer,
)
from swat_mapreduce_spark.sources.readers import read_table


def test_mapinpandas_matches_jvm_path(spark, sf_dir):
    """The Python scorer must agree with the JVM expression path — same
    md5 math, so identical (class, prob) per path."""
    paths = classify.clean_manifest(classify.synth_manifest(spark, sf_dir))
    py = predict_batch(paths)
    jvm = classify.classify_pipeline(spark, sf_dir)
    pyr = {(r.image_path, r["class"], round(r.prob, 4)) for r in py.collect()}
    jvr = {(r.image_path, r["class"], r.prob) for r in jvm.collect()}
    assert pyr == jvr


@pytest.mark.parametrize("name", ["infer_mapinpandas", "binary_inference_e2e"])
def test_inference_paths_match_duckdb_oracle(spark, sf_dir, name):
    """Both mapInPandas paths against their DuckDB oracles, value hash
    and all: binary_inference_e2e keys on md5(content) from Spark's
    built-in md5, the oracle on DuckDB's md5(text)."""
    from swat_mapreduce_spark.queries import load_all
    from tools.selfcheck import assert_matches_oracle

    rows = assert_matches_oracle(spark, load_all()[name], sf_dir)
    assert rows


def test_partial_scorer_factory_runs_once_per_worker(spark, tmp_path):
    """A ``functools.partial`` factory (how a checkpoint is bound) is
    built once per Python worker across jobs, though every task
    unpickles a fresh factory object; a distinct factory gets its own
    scorer. Each call leaves one mark in a file named after its pid."""

    def counting(log_dir, tag):
        with open(os.path.join(log_dir, f"{tag}-{os.getpid()}"), "a") as f:
            f.write("x")
        return hash_scorer()

    paths = spark.range(40, numPartitions=4).select(
        F.col("id").cast("string").alias("image_path")
    )
    for tag in ("a", "a", "a", "b"):
        factory = functools.partial(counting, str(tmp_path), tag)
        assert len(predict_batch(paths, factory).collect()) == 40
    calls = {p.name: p.read_text() for p in tmp_path.iterdir()}
    assert any(name.startswith("a-") for name in calls)
    assert any(name.startswith("b-") for name in calls)
    assert set(calls.values()) == {"x"}, calls


def test_scorer_key_separates_factories():
    a1 = functools.partial(torch_scorer, "a.pt")
    a2 = functools.partial(torch_scorer, "a.pt")
    b = functools.partial(torch_scorer, "b.pt")
    assert _scorer_key(a1) == _scorer_key(a2) != _scorer_key(b)
    assert _scorer_key(hash_scorer) not in {_scorer_key(a1), _scorer_key(b)}


def test_binary_payload_metadata(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    meta = multimodal.with_binary_payload(docs).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in meta[:20]:
        raw = texts[r.doc_id].encode()
        assert r.n_bytes == len(raw)
        assert r.sha256 == hashlib.sha256(raw).hexdigest()
        assert bytes(r.payload) == raw


def test_fake_decode_deterministic(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    feats = multimodal.fake_decode_features(
        multimodal.with_binary_payload(docs)
    ).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(feats) == len(texts)
    for r in feats[:20]:
        w, h, c, m = multimodal._fake_decode(texts[r.doc_id].encode())
        assert (r.width, r.height, r.channels) == (w, h, c)
        assert abs(r.mean_pixel - m) < 1e-12


def test_real_decode_is_gated(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(None)


def test_binary_file_source(spark, tmp_path):
    """binaryFile read replaces the reference's per-record HDFS copy."""
    from swat_mapreduce_spark.sources.readers import read_binary_objects

    p = tmp_path / "img_0.bin"
    p.write_bytes(b"\x89PNG fakebytes")
    df = read_binary_objects(spark, str(tmp_path / "*.bin"))
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0].content) == b"\x89PNG fakebytes"
    assert rows[0].length == 14


@pytest.fixture(scope="module")
def tiny_objects(tmp_path_factory):
    """200 small distinct objects named ``<doc_id>.bin``: far more files
    than cores, the shape Spark would pack into one split per ~4 MB of
    open cost (7 splits on local[4] without a cap)."""
    d = tmp_path_factory.mktemp("tiny_objects")
    payloads = {}
    for i in range(200):
        payloads[i] = f"object-{i}:".encode() * (1 + i % 7)
        (d / f"{i}.bin").write_bytes(payloads[i])
    return str(d / "*.bin"), payloads


def _expected_payload_prediction(content: bytes) -> tuple[str, float]:
    """predict_batch_from_payload in plain Python: key = md5(content)
    hex; logit i = nibbles [4*(i%8), 4*(i%8)+4) of md5(f"{key}:{i//8}")
    / 4096 - 8; decode failure (first md5 byte of f"{key}:decode" < 13)
    gives (class 0, 0.0); else softmax at the first argmax."""
    from swat_mapreduce_spark.labels import CLASS_NAMES

    key = hashlib.md5(content).hexdigest()
    logits = []
    for i in range(len(CLASS_NAMES)):
        h = hashlib.md5(f"{key}:{i // 8}".encode()).hexdigest()
        logits.append(int(h[4 * (i % 8) : 4 * (i % 8) + 4], 16) / 4096.0 - 8.0)
    if int(hashlib.md5(f"{key}:decode".encode()).hexdigest()[:2], 16) < 13:
        return CLASS_NAMES[0], 0.0
    top = logits.index(max(logits))
    return CLASS_NAMES[top], math.exp(logits[top]) / sum(map(math.exp, logits))


def test_binary_scan_splits_capped_at_cores(spark, tiny_objects):
    """Many small objects scan as at most one split per core, so the
    Python scorer downstream runs no more tasks than cores."""
    from swat_mapreduce_spark.sources.readers import read_binary_objects

    df = read_binary_objects(spark, tiny_objects[0])
    assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism


def test_payload_scorer_matches_hashlib_on_capped_scan(spark, tiny_objects):
    """The capped scan feeds the payload scorer every object exactly
    once: (doc_id, class, prob) equals a hashlib computation over each
    object's bytes."""
    from swat_mapreduce_spark.operators.inference import (
        predict_batch_from_payload,
    )
    from swat_mapreduce_spark.sources.readers import read_binary_objects

    glob_path, payloads = tiny_objects
    objects = read_binary_objects(spark, glob_path).withColumn(
        "doc_id",
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long"),
    )
    rows = predict_batch_from_payload(objects).collect()
    got = {r.doc_id: (r["class"], r.prob) for r in rows}
    assert len(rows) == len(got) == len(payloads)
    expected = {i: _expected_payload_prediction(b) for i, b in payloads.items()}
    assert got.keys() == expected.keys()
    for doc_id, (cls, prob) in expected.items():
        assert got[doc_id][0] == cls, doc_id
        assert got[doc_id][1] == pytest.approx(prob, rel=1e-12, abs=1e-15), doc_id
    # the fixture exercises both the softmax rows and the fallback rows
    assert {p == 0.0 for _, p in expected.values()} == {True, False}


def test_ensure_engine_conf_caps_file_splits(spark):
    """The driver's vanilla session gets the split cap through
    ensure_engine_conf alone; every conf is restored afterwards."""
    from swat_mapreduce_spark.session import ensure_engine_conf

    key = "spark.sql.files.maxPartitionNum"
    before = dict(spark.conf.getAll)
    try:
        spark.conf.unset(key)
        assert key not in dict(spark.conf.getAll)
        ensure_engine_conf(spark)
        assert spark.conf.get(key) == str(spark.sparkContext.defaultParallelism)
    finally:
        for k in dict(spark.conf.getAll).keys() - before.keys():
            spark.conf.unset(k)
        for k, v in before.items():
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
    assert dict(spark.conf.getAll) == before


def test_checkpoint_unwrap_rules():
    """The three wrapper keys unwrap in priority order; raw dicts and
    non-dict objects pass through (predict_batch_threaded_local.py:53-59)."""
    from swat_mapreduce_spark.operators.inference import unwrap_checkpoint

    sd = {"layer.weight": [1.0]}
    assert unwrap_checkpoint({"state_dict": sd}) is sd
    assert unwrap_checkpoint({"model_state_dict": sd}) is sd
    assert unwrap_checkpoint({"model": sd}) is sd
    # priority: state_dict wins over model
    assert unwrap_checkpoint({"model": {"x": 1}, "state_dict": sd}) is sd
    # wrapper key holding a non-dict is NOT unwrapped
    raw = {"state_dict": "not-a-dict", "layer.weight": [2.0]}
    assert unwrap_checkpoint(raw) is raw
    # raw state-dict passes through
    assert unwrap_checkpoint(sd) is sd
    # non-dict (e.g. a pickled nn.Module) passes through
    assert unwrap_checkpoint("opaque") == "opaque"


def test_model_arch_branch():
    from swat_mapreduce_spark.operators.inference import model_arch_for_cfg

    assert model_arch_for_cfg("vitb32_openclip_laion400m") == "vit_b_32"
    assert model_arch_for_cfg("ViTB32-custom") == "vit_b_32"
    assert model_arch_for_cfg("resnet18_imagenet") == "resnet18"
    assert model_arch_for_cfg("anything_else") == "resnet18"


def test_torch_scorer_is_gated():
    """Only the literal torch/PIL import should be missing — reaching
    the gate means all pure-Python wiring above it is importable."""
    from swat_mapreduce_spark.operators.inference import torch_scorer

    with pytest.raises(NotImplementedError):
        torch_scorer("/nonexistent/ckpt.pt")
