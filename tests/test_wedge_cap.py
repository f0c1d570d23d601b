"""Wedge-center degree cap binds identically on both engines
(VERDICT r10 #3, the LSH planted-mega-bucket pattern).

Planted co-purchase graph:
- CELEBRITY star: hub part 100 shares a 2-part order with each of the
  130 leaf parts 300..429 → deg(100) = 130 > _WEDGE_MAX_DEG = 128.
  Uncapped, hub 100 alone would generate 130·129/2 = 8385 candidate
  pairs (all non-edges); capped, it generates ZERO.
- SMALL hub: part 200 shares a 2-part order with each of 400-range
  parts 500, 501, 502 → deg(200) = 3 ≤ cap; its three candidate
  pairs must survive.
- One closing edge (500, 501) so a triangle exists for the LCC check.

Every assertion runs the REAL registered query on the planted parquet
AND the REAL registered DuckDB oracle on views of the same parquet,
and requires identical sorted row sets — proving the cap is mirrored
verbatim, not merely present on one side.
"""

from __future__ import annotations

import pytest

from swat_mapreduce_spark.queries import load_all
from swat_mapreduce_spark.queries.scale_patterns import _WEDGE_MAX_DEG
from tools.selfcheck import assert_matches_oracle, duck_con

REG = load_all()

_CELEB_LEAVES = list(range(300, 430))  # 130 leaves > cap of 128
_SMALL_LEAVES = [500, 501, 502]


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("wedgecap")
    li = []
    order = 1
    for leaf in _CELEB_LEAVES:  # star through celebrity hub 100
        li += [(order, 100), (order, leaf)]
        order += 1
    for leaf in _SMALL_LEAVES:  # star through small hub 200
        li += [(order, 200), (order, leaf)]
        order += 1
    li += [(order, 500), (order, 501)]  # closing edge → one triangle
    parts = [(p, "PROMO") for p in [100, 200] + _CELEB_LEAVES + _SMALL_LEAVES]
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
    spark.createDataFrame(parts, "p_partkey long, p_type string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/part.parquet")
    return str(tmp)


def test_cap_constant_sane():
    assert len(_CELEB_LEAVES) > _WEDGE_MAX_DEG >= len(_SMALL_LEAVES)


@pytest.mark.parametrize(
    "name,pair_cols",
    [
        ("adamic_adar_link_prediction", ("part_a", "part_b")),
        ("resource_allocation_links", ("part_a", "part_b")),
        ("jaccard_link_prediction", ("part_a", "part_b")),
        ("preferential_attachment_links", ("part_a", "part_b")),
    ],
)
def test_celebrity_wedges_dropped_identically(spark, planted, name, pair_cols):
    rows = assert_matches_oracle(spark, REG[name], planted)
    assert rows, f"{name}: small-hub candidates must survive the cap"
    for r in rows:
        for c in pair_cols:
            assert r[c] not in set(_CELEB_LEAVES) and r[c] != 100, (
                f"{name}: celebrity-star pair {r} escaped the cap"
            )
    # the small hub's candidate pairs are exactly the non-edge leaf
    # pairs: (500,502) and (501,502) — (500,501) is an edge (anti-joined)
    got = sorted((r[pair_cols[0]], r[pair_cols[1]]) for r in rows)
    assert got == [(500, 502), (501, 502)], got


def test_lcc_excludes_capped_node_identically(spark, planted):
    rows = assert_matches_oracle(
        spark, REG["local_clustering_coefficient"], planted
    )
    parts = {r["part"] for r in rows}
    assert 100 not in parts, "celebrity hub must be excluded from LCC"
    # the triangle-closing edge gives 500 and 501 degree 2 with one
    # closed wedge each: coefficient 1.0
    by_part = {r["part"]: r for r in rows}
    assert by_part[500]["clustering_coef"] == 1.0
    assert by_part[501]["clustering_coef"] == 1.0


def test_rich_club_unaffected_by_celebrity(spark, planted):
    """rich_club enumerates no wedges and is deliberately uncapped —
    it must still hash-match its oracle on a >cap-degree graph and
    COUNT the celebrity: the k=2 tier (degree > 2) is exactly
    {hub 100 (d=130), hub 200 (d=3)} — the >cap node is present."""
    rows = assert_matches_oracle(spark, REG["rich_club_coefficient"], planted)
    k2 = next(r for r in rows if r["min_degree_excl"] == 2)
    assert k2["n_nodes"] == 2 and k2["n_edges"] == 0


def test_cap_actually_bound(spark, planted):
    """Counter-evidence: the UNCAPPED wedge count through hub 100 is
    8385, so a run without the cap could not produce the 2-row
    candidate sets asserted above. Recompute uncapped candidates in
    DuckDB to prove the planted graph would exercise the blowup."""
    con = duck_con(planted)
    n = con.execute(
        """
        WITH items AS (
            SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p
            FROM lineitem l JOIN part ON p_partkey = l.l_partkey
            WHERE p_type = 'PROMO'),
        edges AS (
            SELECT DISTINCT a.p AS pa, b.p AS pb
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        und AS (SELECT pa AS u, pb AS v FROM edges
                UNION ALL SELECT pb, pa FROM edges),
        wedges AS (
            SELECT n1.v AS a, n2.v AS b
            FROM und n1 JOIN und n2 ON n2.u = n1.u AND n1.v < n2.v)
        SELECT count(*) FROM wedges w
        LEFT JOIN edges e ON e.pa = w.a AND e.pb = w.b
        WHERE e.pa IS NULL
        """
    ).fetchone()[0]
    assert n >= 130 * 129 // 2, n


def test_ktruss_support_capped_identically(spark, planted):
    """ktruss support enumeration goes through the SAME capped wedge
    subtree (VERDICT r11 #3): supports are counted only through wedge
    centers with d(z) <= _WEDGE_MAX_DEG, mirrored in the oracle. On
    the planted graph the only triangle is (200, 500, 501) — all its
    wedge centers are small — so k=3 keeps exactly its 3 edges, k>=4
    keeps none, and the 130 celebrity-star edges (no triangles, and
    hub 100 above the cap) contribute zero support."""
    rows = assert_matches_oracle(spark, REG["ktruss_support_ladder"], planted)
    by_k = {r["k"]: r for r in rows}
    assert sorted(by_k) == [3, 4, 5, 6]
    # 130 celebrity + 3 small-star + 1 closing edge
    assert by_k[3]["n_edges"] == 134
    assert by_k[3]["max_support"] == 1
    assert by_k[3]["n_truss_edges"] == 3
    for k in (4, 5, 6):
        assert by_k[k]["n_truss_edges"] == 0, by_k[k]
