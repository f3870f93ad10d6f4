"""Round-12 optimization pins: every gate/probe rewrite in this
optimization round must be value-identical to the plan it replaced,
and the driver-side gates must decline safely on oversized inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_aragon_spark.operators import similarity
from team_aragon_spark.sources.catalog import read_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_topk_shortlist_declines_oversized_queries_side(spark, monkeypatch):
    """A queries relation over the gate must DECLINE (LIMIT-bounded
    collect, r11 VERDICT item 1) and the distributed brute plan must
    serve — with the result identical to the gate-closed plan."""
    emb = read_table(spark, "embeddings", SF)
    n = emb.count()
    monkeypatch.setattr(similarity, "_SHORTLIST_MIN_FOLDS", 0)
    # gate below the query count: the queries side overflows its
    # bounded collect and the shortlist must return None
    monkeypatch.setattr(similarity, "_SHORTLIST_MAX_CORPUS", n - 1)
    sub_corpus = emb.limit(n - 2)
    assert (
        similarity._topk_shortlist(
            sub_corpus.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cv"),
            ),
            emb.select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
            ),
            k=5,
            round_digits=4,
        )
        is None
    )
    served = _rows(similarity.cosine_topk_bruteforce(sub_corpus, emb, k=5))
    monkeypatch.setattr(similarity, "_SHORTLIST_MAX_CORPUS", -1)
    brute = _rows(similarity.cosine_topk_bruteforce(sub_corpus, emb, k=5))
    assert served == brute and len(served) > 0


def test_topk_shortlist_bounded_corpus_probe_exact_under_gate(spark, monkeypatch):
    """The LIMIT-bounded corpus probe is exact under the gate: the
    shortlist still fires and reproduces the brute result."""
    emb = read_table(spark, "embeddings", SF)
    monkeypatch.setattr(similarity, "_SHORTLIST_MIN_FOLDS", 0)
    fast = _rows(similarity.cosine_topk_bruteforce(emb, emb, k=7))
    monkeypatch.setattr(similarity, "_SHORTLIST_MAX_CORPUS", -1)
    brute = _rows(similarity.cosine_topk_bruteforce(emb, emb, k=7))
    assert fast == brute and len(fast) > 0


def test_kcore_peel_selects_edge_columns_by_name(spark):
    """kcore_peel_rounds reads its edge relation by the documented
    (a, b) names, so a caller whose DataFrame carries the columns in
    a different physical order gets identical results."""
    from team_aragon_spark.operators import graph

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    ab = spark.createDataFrame(edges, "a bigint, b bigint")
    ba = spark.createDataFrame([(b, a) for a, b in edges], "b bigint, a bigint")
    r1, c1 = graph.kcore_peel_rounds(ab, k=2, max_rounds=10)
    r2, c2 = graph.kcore_peel_rounds(ba, k=2, max_rounds=10)
    assert r1 == r2 and list(c1) == list(c2)
    assert set(c1) == {1, 2, 3}  # the triangle is the 2-core


def test_sens_cascade_arm_equals_full_derivation(spark):
    """The q316 cascade prune (wider arm's grams digested only where
    both halves are corpus-repeated) must reproduce the UNPRUNED
    _repeat_spans arm exactly — spans, per-doc coverage, and the
    repeated-position arrays — on a corpus with planted repeats,
    overlapping same-doc repeats, short docs and unique docs."""
    from team_aragon_spark.operators import text_dedup as td

    boiler = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while seventeen more boilerplate tokens pad this shared run "
        "out well past sixteen"
    )
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta iota kappa"),
            (3, "unique words only here nothing repeats at all today"),
            (4, f"x y z {boiler} x y z {boiler}"),  # same-doc repeat
            (5, "tiny doc"),  # shorter than every window
            (6, boiler),
        ],
        "doc_id bigint, text string",
    )
    for j, k in ((4, 8), (8, 16)):
        # full (unpruned) arm
        base_f, spans_f, rep_f, _ = td._repeat_spans_arm(docs, "text", "doc_id", k)
        # cascaded arm: candidates from the j-arm's repeat positions
        _, _, rep_j, _ = td._repeat_spans_arm(docs, "text", "doc_id", j)
        cand = rep_j.select(
            "doc_id",
            F.expr(
                f"array_intersect(__ps, transform(__ps, p -> p - {j}))"
            ).alias("__ps"),
        ).filter(F.size("__ps") > 0)
        base_c, spans_c, rep_c, _ = td._repeat_spans_arm(
            docs, "text", "doc_id", k, cand
        )
        assert _rows(spans_c) == _rows(spans_f)
        assert _rows(rep_c) == _rows(rep_f)
        assert _rows(base_c) == _rows(base_f)
        assert len(_rows(spans_f)) > 0  # the fixture must exercise repeats


def test_sens_cascade_query_matches_per_arm_form(spark):
    """q316's cascaded output must equal the original per-arm
    _repeat_spans readout on real test data (sf0.001)."""
    from team_aragon_spark.plans.star_queries import (
        _SENS2_KS,
        q316_substring_window_sensitivity,
    )
    from team_aragon_spark.operators import text_dedup as td
    from team_aragon_spark.sources.catalog import read_table

    got = _rows(q316_substring_window_sensitivity(spark, SF))
    docs = read_table(spark, "documents", SF)
    want = []
    for k in _SENS2_KS:
        base, spans, occ = td._repeat_spans(docs, "text", "doc_id", k)
        per_doc = spans.groupBy("doc_id").agg(
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens")
        )
        r = (
            base.join(per_doc, "doc_id", "left")
            .agg(
                F.count(F.when(F.col("dup_tokens") > 0, 1))
                .cast("bigint")
                .alias("n_docs_affected"),
                F.coalesce(F.sum("dup_tokens"), F.lit(0))
                .cast("bigint")
                .alias("dup_tokens"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                F.round(
                    F.coalesce(F.sum("dup_tokens"), F.lit(0))
                    / F.nullif(F.sum("n_tokens").cast("double"), F.lit(0.0)),
                    6,
                ).alias("dup_rate"),
            )
            .first()
        )
        occ.unpersist()
        want.append((k, *r))
    assert got == sorted(want)


def test_ssjoin_auto_gate_double_estimate_dispatch(spark):
    """The fan-out gate's DOUBLE-typed estimate must dispatch exactly
    like the bigint form on normal data: low fan-out -> count join,
    hot-item -> prefix path, identical result sets."""
    from team_aragon_spark.operators.setsim import set_similarity_join

    rows = [(i, f"it{j}") for i in range(1, 13) for j in range(i, i + 4)]
    df = spark.createDataFrame(rows, "sid int, item string")
    auto = _rows(set_similarity_join(df, "sid", "item", 0.4, strategy="auto"))
    pref = _rows(set_similarity_join(df, "sid", "item", 0.4, strategy="prefix"))
    cnt = _rows(set_similarity_join(df, "sid", "item", 0.4, strategy="count"))
    assert auto == pref == cnt and len(auto) > 0


def test_q316_leaves_no_persistent_rdds(spark):
    """q316 materializes one repeat relation per window arm; each is
    released once nothing reads it, so the query leaves the session's
    persistent-RDD registry as it found it."""
    from team_aragon_spark.plans.star_queries import (
        _SENS2_KS,
        q316_substring_window_sensitivity,
    )

    def n_persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent_rdds()
    assert len(q316_substring_window_sensitivity(spark, SF).collect()) == len(_SENS2_KS)
    assert n_persistent_rdds() == before
