"""Arrow inference path + multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from swat_mapreduce_spark.operators import classify, multimodal
from swat_mapreduce_spark.operators.inference import predict_batch
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
