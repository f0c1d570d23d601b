"""Seeded workload inputs and their expected outputs, computed without Spark.

* classify_tsv: a manifest directory of image paths across the 30 class
  directories, ~1/7 of its lines repeated, with the FIXTURES.md §B1 wart
  lines (blank, whitespace-only, ``#`` comment, mid-file BOM, padded
  path), split over a few part files that each start with a BOM. Its
  expected output is DuckDB's answer from the engine's shared md5-logit
  SQL helpers.
* fetch_infer: a directory of ``<doc_id>.bin`` objects of random bytes,
  4-32 KiB each, no duplicates. Its expected output is computed with
  hashlib and the math module.

Both generators use only ``random.Random(seed)``, so one seed always gives
byte-identical inputs.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

BOM = "﻿"
# Wart lines, one of each per manifest (FIXTURES.md §B1).
WART_LINES = (
    "",
    "   ",
    "# commented/out.jpg",
    BOM + "/data/img/shoes/bom_mid.jpg",
    "  /data/img/tea_bags/padded.jpg  ",
)
DUP_EVERY = 7  # ~1/7 of the manifest's lines are repeats
# One text-scan task per part file: three keep the scoring stage parallel
# (a single task makes job time follow one core's speed) while leaving a
# core idle, as a larger single-file manifest splits today.
MANIFEST_FILES = 3
OBJ_MIN_BYTES = 4 * 1024
OBJ_MAX_BYTES = 32 * 1024

LOGIT_BLOCK = 8  # logits per md5 digest (functions/hashing.py)
DECODE_FAIL_BELOW = 13


# --------------------------------------------------------------------------
# classify_tsv
# --------------------------------------------------------------------------

def manifest_lines(seed: int, n_lines: int, class_names: list[str]) -> list[str]:
    """``n_lines`` manifest lines: unique paths, every DUP_EVERY-th line a
    repeat of an earlier one, the wart lines at seeded positions."""
    rng = random.Random(seed)
    n_body = n_lines - len(WART_LINES)
    lines: list[str] = []
    for i in range(n_body):
        if i >= DUP_EVERY and i % DUP_EVERY == 0:
            lines.append(lines[rng.randrange(len(lines))])
        else:
            cls = class_names[rng.randrange(len(class_names))]
            lines.append(f"/data/img/{cls}/{cls}_{rng.getrandbits(40):010x}.jpg")
    for w in WART_LINES:
        lines.insert(rng.randrange(1, len(lines)), w)
    return lines


def write_manifest(path: str, lines: list[str]) -> None:
    """Directory of MANIFEST_FILES part files of consecutive lines; one
    path per line, UTF-8, each file starting with a BOM (as
    imagelist1.txt)."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(lines) // MANIFEST_FILES)
    for i in range(MANIFEST_FILES):
        part = lines[i * step : (i + 1) * step]
        with open(os.path.join(path, f"part-{i}.txt"), "w", encoding="utf-8", newline="\n") as fh:
            fh.write(BOM + "\n".join(part) + "\n")


def read_manifest_lines(path: str) -> list[str]:
    """The lines the engine's text scan sees: each file's leading BOM is
    stripped (cli.py documents it), mid-file BOMs are kept."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            text = fh.read()
        if text.startswith(BOM):
            text = text[1:]
        lines.extend(text.split("\n")[:-1] if text.endswith("\n") else text.split("\n"))
    return lines


def expected_tsv_lines(manifest_path: str) -> list[str]:
    """Expected ``path\\tclass,prob`` lines (unordered), from DuckDB.

    Uses the engine's shared SQL helpers (functions/hashing.duck_logit,
    duck_decode_ok, operators/classify.CLEAN_SQL_DUCK) over the lines the
    text scan sees; duplicates stay duplicated."""
    import duckdb
    import pyarrow as pa

    from swat_mapreduce_spark.functions import hashing as H
    from swat_mapreduce_spark.labels import CLASS_NAMES, NUM_CLASSES, labels_values_sql
    from swat_mapreduce_spark.operators.classify import CLEAN_SQL_DUCK

    manifest = pa.table({"line": read_manifest_lines(manifest_path)})
    con = duckdb.connect()
    try:
        con.register("manifest", manifest)
        sql = f"""
WITH cleaned AS ({CLEAN_SQL_DUCK}),
paths AS (SELECT DISTINCT image_path FROM cleaned),
li AS (
    SELECT p.image_path, g.i, {H.duck_logit("p.image_path", "g.i")} AS logit
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
           CASE WHEN {H.duck_decode_ok("c.image_path")}
                THEN am.pred_raw ELSE 0 END AS pred_idx,
           CASE WHEN {H.duck_decode_ok("c.image_path")}
                THEN exp(am.mx) / am.denom ELSE 0.0 END AS prob
    FROM cleaned c JOIN am ON c.image_path = am.image_path
)
SELECT pred.image_path || chr(9)
       || coalesce(labels.class_name, '{CLASS_NAMES[0]}')
       || ',' || printf('%.4f', prob)
FROM pred LEFT JOIN {labels_values_sql()} ON pred.pred_idx = labels.label_idx
"""
        return [r[0] for r in con.sql(sql).fetchall()]
    finally:
        con.close()


def read_tsv_output(out_dir: str) -> tuple[list[str], bool]:
    """(all lines, keys globally ordered) of the CLI's part files read
    in part order; keys compare as UTF-8 bytes, as Spark sorts strings."""
    lines: list[str] = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    keys = [ln.split("\t", 1)[0].encode() for ln in lines]
    return lines, all(a <= b for a, b in zip(keys, keys[1:]))


# --------------------------------------------------------------------------
# fetch_infer
# --------------------------------------------------------------------------

def write_objects(obj_dir: str, seed: int, n_objects: int) -> int:
    """``n_objects`` files ``<doc_id>.bin`` of random bytes; returns the
    total byte count."""
    rng = random.Random(seed)
    os.makedirs(obj_dir, exist_ok=True)
    ids = rng.sample(range(10**9), n_objects)
    total = 0
    for doc_id in ids:
        payload = rng.randbytes(rng.randint(OBJ_MIN_BYTES, OBJ_MAX_BYTES))
        with open(os.path.join(obj_dir, f"{doc_id}.bin"), "wb") as fh:
            fh.write(payload)
        total += len(payload)
    return total


def _predict_key(key: str, class_names: list[str]) -> tuple[str, float]:
    """Reference semantics of the content-keyed scorer: block-md5 logits,
    softmax, first-max argmax, decode-failure fallback to class 0."""
    n = len(class_names)
    logits = []
    for b in range((n + LOGIT_BLOCK - 1) // LOGIT_BLOCK):
        h = hashlib.md5(f"{key}:{b}".encode()).hexdigest()
        for j in range(min(LOGIT_BLOCK, n - b * LOGIT_BLOCK)):
            logits.append(int(h[4 * j : 4 * j + 4], 16) / 4096.0 - 8.0)
    if int(hashlib.md5(f"{key}:decode".encode()).hexdigest()[:2], 16) < DECODE_FAIL_BELOW:
        return class_names[0], 0.0
    top = max(range(n), key=lambda i: (logits[i], -i))
    return class_names[top], math.exp(logits[top]) / sum(math.exp(x) for x in logits)


def prediction_line(doc_id: int, cls: str, prob: float) -> str:
    # 9 decimals: numpy and math.exp may differ in the last ulp
    return f"{doc_id}\t{cls}\t{prob:.9f}"


def expected_prediction_lines(obj_dir: str, class_names: list[str]) -> list[str]:
    out = []
    for name in os.listdir(obj_dir):
        with open(os.path.join(obj_dir, name), "rb") as fh:
            key = hashlib.md5(fh.read()).hexdigest()
        out.append(prediction_line(int(name[: -len(".bin")]), *_predict_key(key, class_names)))
    return out


def read_parquet_output(out_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    rows = pq.read_table(out_dir).to_pylist()
    return [prediction_line(r["doc_id"], r["class"], r["prob"]) for r in rows]


def summary(lines: list[str]) -> dict:
    """Line count and an order-insensitive digest of a multiset of lines."""
    digest = hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()
    return {"count": len(lines), "digest": digest}
