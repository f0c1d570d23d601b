"""End-to-end CLI test: manifest file (with every reference wart) →
key-sorted TSV part files, mirroring the §3.1/§3.3 entry points."""

from __future__ import annotations

import glob


def test_cli_manifest_to_tsv(spark, tmp_path):
    # manifest with the reference warts: blank, whitespace-only,
    # comment, duplicate line, BOM line, padded line
    manifest = tmp_path / "imagelist.txt"
    manifest.write_text(
        "﻿/user/binh/garbage/shoes/shoes_1.jpg\n"
        "\n"
        "   \n"
        "# a comment\n"
        "/data/img/b.jpg\n"
        "/data/img/b.jpg\n"
        "  /data/img/a.jpg  \n"
    )
    out = tmp_path / "out"

    from swat_mapreduce_spark.cli import main

    rc = main([str(manifest), str(out)])
    assert rc == 0

    lines = []
    for part in sorted(glob.glob(f"{out}/part-*")):
        with open(part) as f:
            lines += [ln.rstrip("\n") for ln in f if ln.strip()]
    # 4 surviving rows: BOM line, b.jpg x2 (duplicate preserved), a.jpg
    assert len(lines) == 4
    # layout: path \t class,prob with %.4f
    for ln in lines:
        path, kv = ln.split("\t")
        cls, prob = kv.rsplit(",", 1)
        assert cls and len(prob.split(".")[1]) == 4
    # duplicates preserved, key-sorted across the part files read in
    # name order; the file-leading BOM is stripped by Spark's text
    # source (documented divergence — the BOM wart is pinned by the
    # synthetic-manifest oracle instead)
    paths = [ln.split("\t")[0] for ln in lines]
    assert paths.count("/data/img/b.jpg") == 2
    assert "/user/binh/garbage/shoes/shoes_1.jpg" in paths
    assert not any(p.startswith("﻿") for p in paths)
    assert all(a <= b for a, b in zip(paths, paths[1:]))


def test_cli_custom_labels(spark, tmp_path):
    manifest = tmp_path / "m.txt"
    manifest.write_text("/x/one.jpg\n/x/two.jpg\n")
    labels = tmp_path / "labels.txt"
    labels.write_text("cat\ndog\n")
    out = tmp_path / "out2"

    from swat_mapreduce_spark.cli import main

    assert main([str(manifest), str(out), "--labels", str(labels)]) == 0
    lines = []
    for part in glob.glob(f"{out}/part-*"):
        with open(part) as f:
            lines += [ln for ln in f if ln.strip()]
    assert len(lines) == 2
    for ln in lines:
        cls = ln.split("\t")[1].rsplit(",", 1)[0]
        assert cls in ("cat", "dog")


def test_cli_leaves_session_confs_unchanged(spark, tmp_path):
    """A CLI run inside a live session must leave every runtime conf as
    it found it — the Arrow batch size above all, which later
    mapInPandas stages in the same session read."""
    manifest = tmp_path / "m.txt"
    manifest.write_text("/x/one.jpg\n/x/two.jpg\n")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = dict(spark.conf.getAll)
    batch_before = spark.conf.get(key)

    from swat_mapreduce_spark.cli import main

    assert main([str(manifest), str(tmp_path / "out")]) == 0
    assert spark.conf.get(key) == batch_before
    assert dict(spark.conf.getAll) == before


def test_cli_bad_args_exit_code():
    """Arg-count validation parity (java/PredictDriverCluster.java:17-20):
    missing args → non-zero exit."""
    import pytest

    from swat_mapreduce_spark.cli import main

    with pytest.raises(SystemExit) as e:
        main(["only_one_arg"])
    assert e.value.code == 2


def test_query_cli_list_and_unknown(capsys):
    from swat_mapreduce_spark.query_cli import main

    assert main(["--list"]) == 0
    out = capsys.readouterr().out.splitlines()
    names = [ln.split(" ")[0] for ln in out]
    assert "q1_pricing_summary" in names and len(names) > 150
    # every registered query advertises its oracle in the listing
    assert "q1_pricing_summary [oracle]" in out
    assert main(["definitely_not_a_query"]) == 2


def test_query_cli_leaves_session_confs_unchanged(spark, capsys):
    """The registry runner, like the CLI, uses a caller's live session
    as it stands: no app name, shuffle width or engine default rewritten."""
    before = dict(spark.conf.getAll)

    from swat_mapreduce_spark.query_cli import main

    argv = ["label_lookup_guard", "--sf-dir", "/root/testdata/sf0.001"]
    assert main(argv + ["--format", "tsv"]) == 0
    assert capsys.readouterr().out.splitlines()[0] == "idx\tclass"
    assert dict(spark.conf.getAll) == before


def test_query_cli_explain_prints_plan_fn(spark, capsys):
    """A query whose spark_fn collects internally plans as a
    LocalTableScan; --explain prints its plan_fn, the real scan."""
    from swat_mapreduce_spark.plans.explain import formatted_plan
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.query_cli import main

    sf_dir = "/root/testdata/sf0.001"
    q = load_all()["shapley_coverage_attribution"]
    assert q.plan_fn is not None
    assert "Scan parquet" not in formatted_plan(q.spark_fn(spark, sf_dir))
    assert main([q.name, "--sf-dir", sf_dir, "--explain"]) == 0
    assert "Scan parquet" in capsys.readouterr().out
