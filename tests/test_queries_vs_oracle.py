"""Every registered SQL-expressible query must match its DuckDB oracle
at sf0.001 (fast local replica of the driver's sf0.01 gate)."""

from __future__ import annotations

import pytest

from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import compare, duck_connection

ORACLE_QUERIES = [(n, qd) for n, qd in QUERY_REGISTRY.items() if qd.oracle is not None]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("name,qd", ORACLE_QUERIES, ids=[n for n, _ in ORACLE_QUERIES])
def test_query_matches_oracle(spark, duck, name, qd):
    df = qd.fn(spark, SF_SMOKE)
    ok, msg = compare(df, duck, qd.oracle)
    assert ok, f"{name}: {msg}"


def test_rows_only_queries_run(spark):
    for name, qd in QUERY_REGISTRY.items():
        if qd.oracle is None:
            n = qd.fn(spark, SF_SMOKE).count()
            assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"c_mktsegment", "revenue_ratio", "net_revenue", "n_items"}
    assert set(e.oracle_sql()) <= set(e.queries())


def test_lsh_recall_is_total_on_current_corpus(spark):
    """q24/q50/q91/q97's full-value oracles pin the EXACT Jaccard pair
    set while the engine side verifies only MinHash-LSH candidates —
    that is sound iff LSH recall is 1.0 on the corpus at hand
    (expected ~0.986 per pair at t=0.5 with k=96/b=32, so a borderline
    pair in regenerated testdata COULD slip a band).  This test names
    the assumption per round: every exact >=0.5 pair must surface as an
    LSH candidate, in both the symmetric (q24/q50) and the incremental
    index-vs-batch (q97) blocking."""
    from pyspark.sql import functions as F

    from team_aragon_spark.operators.text_dedup import (
        incremental_candidate_pairs,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from team_aragon_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", SF_ORACLE)
    exact = {(r.a, r.b) for r in jaccard_pairs(docs).collect()}  # all-pairs truth
    assert exact, "corpus regenerated with no near-dup pairs; oracle is vacuous"

    sym = {(r.a, r.b) for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()}
    assert exact <= sym, f"symmetric LSH missed exact pairs: {exact - sym}"

    is_new = F.col("doc_id") % 5 == 4  # q97's index/batch split
    inc = {
        (r.a, r.b)
        for r in incremental_candidate_pairs(
            minhash_signatures(docs.filter(~is_new)),
            minhash_signatures(docs.filter(is_new)),
        ).collect()
    }
    cross = {  # oriented (index_id, batch_id), exactly one endpoint in batch
        (a, b) if b % 5 == 4 else (b, a)
        for a, b in exact
        if (a % 5 == 4) != (b % 5 == 4)
    }
    assert cross <= inc, f"incremental LSH missed cross pairs: {cross - inc}"


def test_q70_empty_is_correct_vs_brute_force(spark):
    """q70 returned spark_rows=0 in CORRECTNESS_r03 on the regenerated
    testdata.  Prove that empty is CORRECT, not degenerate: compute the
    exact all-pairs cosine ground truth with numpy on the real parquet
    (both sf0.001 and sf0.01) and assert (a) the blocked result is a
    subset of the exact result at the same threshold — IVF blocking may
    only MISS pairs, never invent them — and (b) when the exact result
    is empty the blocked result is too.  Live-computed, so the
    assertion survives future testdata regenerations either way."""
    import numpy as np
    import pyarrow.parquet as pq

    from team_aragon_spark.operators.similarity import ivf_blocked_neardup_pairs
    from team_aragon_spark.sources.catalog import read_table

    for sf_dir in (SF_SMOKE, SF_ORACLE):
        t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
        ids = np.asarray(t.column("vec_id").to_pylist())
        v = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
        u = v / np.linalg.norm(v, axis=1, keepdims=True)
        sim = u @ u.T
        iu = np.triu_indices(len(ids), k=1)
        exact = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(*iu)
            if round(sim[i, j], 4) >= 0.95
        }
        emb = read_table(spark, "embeddings", sf_dir)
        got = {
            (r["a"], r["b"])
            for r in ivf_blocked_neardup_pairs(emb, threshold=0.95).collect()
        }
        assert got <= exact, f"{sf_dir}: blocked pairs not in exact ground truth: {got - exact}"
        if not exact:
            assert got == set(), f"{sf_dir}: expected empty, got {got}"
        else:
            # Recall floor, so planted near-dups in regenerated testdata
            # can't silently vanish: IVF blocking may only miss pairs
            # that STRADDLE a cell boundary; any exact pair whose
            # endpoints land in the same (deterministic) cell MUST be
            # found.  Centroid training is deterministic (hash-ordered
            # sample + fixed RandomState), so the test can recompute
            # the assignment the operator used.
            from team_aragon_spark.operators.similarity import (
                assign_cells,
                train_centroids,
            )

            centroids = train_centroids(emb, 16)
            cell_of = {
                r[0]: r["cell"]
                for r in assign_cells(emb, centroids).select("vec_id", "cell").collect()
            }
            same_cell = {
                (a, b) for a, b in exact if cell_of[a] == cell_of[b]
            }
            assert same_cell <= got, (
                f"{sf_dir}: IVF blocking missed same-cell exact pairs: "
                f"{same_cell - got}"
            )


def test_ahash_planted_image_dups_collide(spark):
    """q120's multimodal-dedup guard, the aHash sibling of the LSH
    total-recall test above: the PNG synth is id-arithmetic with
    period 256 (pixel = (7x+13y+i) % 256, w = 16+i%32, h = 8+i%16),
    so doc_ids congruent mod 256 are byte-identical images — PLANTED
    exact near-dups that MUST land in the same aHash cluster.  Named
    assumption, re-checked per testdata regeneration: if the corpus
    ever stops containing a mod-256 pair, this test fails loudly as
    vacuous instead of silently attesting nothing."""
    from team_aragon_spark.plans.star_queries import QUERY_REGISTRY

    rows = QUERY_REGISTRY["q120_image_ahash_clusters"].fn(spark, SF_ORACLE).collect()
    by_doc = {r.doc_id: r for r in rows}
    planted = [
        (i, j)
        for i in by_doc
        for j in by_doc
        if i < j and (j - i) % 256 == 0
    ]
    assert planted, (
        "corpus regenerated with no doc_id pair congruent mod 256: "
        "the planted-duplicate guard is vacuous — re-derive the plant"
    )
    for i, j in planted:
        assert by_doc[i].ahash == by_doc[j].ahash, (i, j)
        assert by_doc[i].rep_id == by_doc[j].rep_id, (i, j)
        assert by_doc[i].cluster_size >= 2, (i, j)


def test_hashed_shingles_collision_free_on_current_corpus(spark):
    """q159's value oracle reuses q158's STRING count-join SQL, which
    is sound iff no two distinct shingles hash-collide (probability
    ~2^-63 per pair, but not zero).  Named assumption, re-checked per
    testdata regeneration at both oracle SFs: every document's
    distinct-hash count must equal its distinct-string count — a
    collision anywhere fails this loudly instead of silently shifting
    a containment denominator."""
    from pyspark.sql import functions as F

    from team_aragon_spark.operators import text_dedup
    from team_aragon_spark.sources.catalog import read_table

    for sf in (SF_SMOKE, SF_ORACLE):
        docs = read_table(spark, "documents", sf)
        hashed = text_dedup.hashed_shingles(docs).select(
            "doc_id", F.size("sh").alias("nh")
        )
        strings = docs.select(
            "doc_id",
            F.size(F.expr(text_dedup.shingle_expr("text", 3))).alias("ns"),
        )
        bad = hashed.join(strings, "doc_id").filter(F.col("nh") != F.col("ns"))
        assert bad.count() == 0, (
            f"{sf}: shingle hash collision detected — q159's oracle "
            "assumption is violated on this corpus"
        )


def test_bloom_guarantee_and_fp_rate(spark):
    """The Bloom contract (q167): ZERO false negatives — every true
    member tests positive — and a false-positive rate in the
    ballpark of the (1 - e^(-kn/m))^k theory value (m=4096, k=4), so
    the filter is doing real rejection work, not degenerating to
    all-ones or all-zeros."""
    import math

    from team_aragon_spark.plans.star_queries import (
        _BLOOM_K,
        _BLOOM_M,
        QUERY_REGISTRY,
    )

    rows = QUERY_REGISTRY["q167_bloom_membership"].fn(spark, SF_ORACLE).collect()
    members = [r for r in rows if r.is_member == 1]
    non = [r for r in rows if r.is_member == 0]
    assert members and non, "corpus must exercise both sides"
    assert all(r.in_bloom == 1 for r in members), "false negative!"
    fp_rate = sum(1 for r in non if r.in_bloom == 1) / len(non)
    theory = (1 - math.exp(-_BLOOM_K * len(members) / _BLOOM_M)) ** _BLOOM_K
    assert abs(fp_rate - theory) < 0.1, (fp_rate, theory)
