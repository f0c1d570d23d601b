"""Portable deterministic hashing — identical in Spark SQL and DuckDB.

The engine's deterministic stand-in for model logits (FIXTURES.md §B3)
and all LSH/minhash machinery are built on md5 so that every derived
number is bit-identical between the Spark implementation and the DuckDB
oracle: both engines agree on ``md5(utf8_string)`` and on hex→int
conversion, so ``hash_uint(expr, salt, nibbles)`` is the one shared
primitive.

Spark side: ``conv(substr(md5(x),1,n),16,10)`` (JVM, codegen'd).
DuckDB side: ``('0x' || substr(md5(x),1,n))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions.text import sql_ident


def salted(col: Column, salt) -> Column:
    """``concat(col, ':', salt)`` — the canonical salting layout."""
    return F.concat(col.cast("string"), F.lit(":"), F.lit(str(salt)))


def hash_hex(col: Column, nibbles: int = 8) -> Column:
    """First ``nibbles`` hex chars of md5(col)."""
    return F.substring(F.md5(col.cast("string")), 1, nibbles)


def hash_uint(col: Column, salt=None, nibbles: int = 8) -> Column:
    """Deterministic uniform uint in [0, 16**nibbles) from md5.

    JVM-side only (md5 + conv + cast) — stays inside whole-stage
    codegen; no Python boundary.
    """
    s = salted(col, salt) if salt is not None else col.cast("string")
    return F.conv(hash_hex(s, nibbles), 16, 10).cast("bigint")


def hash_unit(col: Column, salt=None, nibbles: int = 8) -> Column:
    """Deterministic uniform double in [0, 1)."""
    return hash_uint(col, salt, nibbles) / float(16**nibbles)


# ---------------------------------------------------------------------------
# SQL-string builders (both dialects) — the oracle SQL, and the score
# stage's wide expressions, parsed in one gateway call (CLAUDE.md gotcha 18).
# ---------------------------------------------------------------------------

def sql_salted(expr: str, salt_expr: str) -> str:
    return f"({expr}) || ':' || ({salt_expr})"


def spark_hash_uint(expr: str, nibbles: int = 8) -> str:
    return f"cast(conv(substring(md5({expr}),1,{nibbles}),16,10) as bigint)"


def duck_hash_uint(expr: str, nibbles: int = 8) -> str:
    return f"('0x' || substr(md5({expr}),1,{nibbles}))::BIGINT"


# --- deterministic logits (FIXTURES.md §B3 stand-in for the model) ---------
# Block-derived: one md5 digest yields EIGHT 4-nibble logits, so a
# 30-class score vector costs ceil(30/8)=4 md5 calls per row instead of
# 30 — this is the hot path of the flagship pipeline, and hash CPU is
# the whole cost of the stand-in model at scale.
#   block b = md5(path || ':' || (i div 8)); logit_i = int(hex nibbles
#   [4*(i%8), 4*(i%8)+4) of block, 16)/4096 - 8  ∈ [-8, 8)
# decode_ok(path): first byte of md5(path||':decode') >= 13 (~5% failures,
# FIXTURES.md §B3's decode_ok=false fraction).

LOGIT_NIBBLES = 4
LOGIT_PER_BLOCK = 32 // LOGIT_NIBBLES  # 8 logits per md5 digest
LOGIT_SCALE = 4096.0
LOGIT_SHIFT = 8.0
DECODE_SALT = "decode"
DECODE_FAIL_BELOW = 13  # P(fail) = 13/256 ≈ 5%


def spark_logit(path_expr: str, i: int) -> str:
    """Class ``i``'s logit. ``D``: Spark SQL reads ``4096.0`` as DECIMAL."""
    block, off = divmod(int(i), LOGIT_PER_BLOCK)
    salted_path = sql_salted(path_expr, f"'{block}'")
    nib = f"substring(md5({salted_path}), {off * LOGIT_NIBBLES + 1}, {LOGIT_NIBBLES})"
    return f"cast(conv({nib}, 16, 10) as bigint) / {LOGIT_SCALE}D - {LOGIT_SHIFT}D"


def duck_logit(path_expr: str, i_expr: str) -> str:
    block = f"(({i_expr}) // {LOGIT_PER_BLOCK})"
    off = f"((({i_expr}) % {LOGIT_PER_BLOCK}) * {LOGIT_NIBBLES} + 1)"
    nib = f"substr(md5({sql_salted(path_expr, block)}), {off}, {LOGIT_NIBBLES})"
    return f"('0x' || {nib})::BIGINT/{LOGIT_SCALE} - {LOGIT_SHIFT}"


def duck_decode_ok(path_expr: str) -> str:
    h = duck_hash_uint(sql_salted(path_expr, f"'{DECODE_SALT}'"), 2)
    return f"{h} >= {DECODE_FAIL_BELOW}"


def logits_array(path_col: str, n: int = 30) -> Column:
    """Length-``n`` array<double> of column ``path_col``'s logits, the
    model score vector (``python/predict_batch_threaded_local.py:113-115``):
    ONE parsed expression of ``n`` unrolled :func:`spark_logit` elements
    (one Py4J call; CLAUDE.md gotcha 18), in which whole-stage codegen
    computes each of the ceil(n/8) md5 digests once per row — unlike a
    ``transform``, which re-ran all 4 per element (CLAUDE.md gotcha 17)."""
    q = sql_ident(path_col)
    return F.expr("array(" + ", ".join(spark_logit(q, i) for i in range(n)) + ")")


def decode_ok(path_col: str) -> Column:
    """~95% true; stands in for PIL decode success
    (``python/predict_batch_threaded_local.py:100-108``)."""
    h = spark_hash_uint(sql_salted(sql_ident(path_col), f"'{DECODE_SALT}'"), 2)
    return F.expr(f"{h} >= {DECODE_FAIL_BELOW}")
