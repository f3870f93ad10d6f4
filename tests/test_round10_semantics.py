"""Round-10 semantics pins.

Four new operators this round, each pinned on the property its oracle
cannot express directly:

- q311 exact-substring spans: planted-corpus span arithmetic (first
  occurrence wins, overlapping repeats merge, a one-token gap splits).
- q312 SemDeDup: conservation (kept + pruned partitions the corpus)
  and the dominated rule's invariants (pruned_by is a lower id in the
  same cluster).
- q313 ensemble gate: funnel monotonicity and the keep-share identity.
- q314 gated LPA: value equality to q246 on BOTH physical branches,
  with the vote join's physical strategy pinned per branch.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_aragon_spark.operators import text_dedup
from team_aragon_spark.plans import star_queries as sq
from tests.conftest import SF_SMOKE


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_q311_planted_spans(spark):
    """Planted corpus, window=8: first occurrences are never counted
    as repeats; overlapping repeated grams merge into one maximal
    span; a single-token gap between repeated regions yields two
    spans with the gap token uncovered."""
    toks = "a b c d e f g h i j".split()
    docs = spark.createDataFrame(
        [
            # doc 0: first occurrence of every gram it contains
            (0, " ".join(toks)),                       # a..j  (10 tokens)
            # doc 1: grams at pos 0 and 1 both repeat doc 0 ->
            # intervals [0,7] and [1,8] merge into ONE 9-token span
            (1, " ".join(toks[:9])),                   # a..i  (9 tokens)
            # doc 2: first occurrence of its own gram (8 tokens)
            (2, "p q r s t u v w"),
            # doc 3: repeat of doc 0's first gram, a unique gap
            # token, then a repeat of doc 2's gram -> [0,7], gap at
            # 8, [9,16]: TWO spans, 16 covered of 17
            (3, "a b c d e f g h GAP p q r s t u v w"),
            # doc 4: shorter than the window -> no grams, no repeats
            (4, "x y z"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in text_dedup.exact_substring_spans(docs, window=8).collect()
    }
    assert out[0]["dup_tokens"] == 0 and out[0]["n_spans"] == 0
    assert out[1] == {
        "doc_id": 1, "n_tokens": 9, "dup_tokens": 9, "n_spans": 1,
        "max_span": 9, "dup_ratio": 1.0,
    }
    assert out[2]["dup_tokens"] == 0
    assert out[3]["n_tokens"] == 17 and out[3]["dup_tokens"] == 16
    assert out[3]["n_spans"] == 2 and out[3]["max_span"] == 8
    assert out[4] == {
        "doc_id": 4, "n_tokens": 3, "dup_tokens": 0, "n_spans": 0,
        "max_span": 0, "dup_ratio": 0.0,
    }


def test_q315_apply_matches_audit(spark):
    """The apply form is the audit's complement: per doc,
    n_removed_tokens == q311.dup_tokens and n_kept + n_removed ==
    n_tokens; on the planted corpus, reassembly drops exactly the
    covered spans and keeps token order."""
    audit = {
        r["doc_id"]: r
        for r in sq.QUERY_REGISTRY["q311_repeated_substring_dedup"].fn(
            spark, SF_SMOKE
        ).collect()
    }
    spark.catalog.clearCache()
    applied = {
        r["doc_id"]: r
        for r in sq.QUERY_REGISTRY["q315_exact_substring_dedup_apply"].fn(
            spark, SF_SMOKE
        ).collect()
    }
    spark.catalog.clearCache()
    assert set(audit) == set(applied)
    for d, a in audit.items():
        b = applied[d]
        assert b["n_removed_tokens"] == a["dup_tokens"]
        assert b["n_kept_tokens"] + b["n_removed_tokens"] == a["n_tokens"]

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),
            (1, "X a b c d e f g h Y"),   # middle 8 repeat doc 0 at pos 1
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text_dedup.exact_substring_dedup_reassemble(
            docs, window=8
        ).collect()
    }
    assert out[0]["clean_text"] == "a b c d e f g h i j"
    assert out[1]["clean_text"] == "X Y" and out[1]["n_removed_tokens"] == 8


def test_q316_coverage_monotone_in_window(spark):
    """A span repeated at >= k tokens is caught by every window <= k,
    so covered-token totals and affected-doc counts are non-
    increasing in the gram window."""
    rows = sorted(
        sq.QUERY_REGISTRY["q316_substring_window_sensitivity"].fn(
            spark, SF_SMOKE
        ).collect(),
        key=lambda r: r["window_k"],
    )
    assert [r["window_k"] for r in rows] == list(sq._SENS2_KS)
    assert len({r["total_tokens"] for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a["dup_tokens"] >= b["dup_tokens"]
        assert a["n_docs_affected"] >= b["n_docs_affected"]


def test_q317_funnel_conservation(spark):
    """v4's per-source funnel: tokens_clean == tokens_raw - removed
    (the q315 identity aggregated), allocations never exceed clean
    capacity, and the water-fill spends the half-budget to the
    rounding bound (the r10 absolute-tolerance pin)."""
    rows = sq.QUERY_REGISTRY["q317_curation_pipeline_v4"].fn(
        spark, SF_SMOKE
    ).collect()
    spark.catalog.clearCache()
    per_doc = {
        r["doc_id"]: r
        for r in sq.QUERY_REGISTRY["q315_exact_substring_dedup_apply"].fn(
            spark, SF_SMOKE
        ).collect()
    }
    assert sum(r["tokens_clean"] for r in rows) == sum(
        v["n_kept_tokens"] for v in per_doc.values()
    )
    for r in rows:
        assert 0 <= r["tokens_clean"] <= r["tokens_raw"]
        assert r["token_allocation"] <= r["tokens_clean"] + 1e-9
    budget = sum(r["tokens_clean"] for r in rows) // 2
    spent = sum(r["token_allocation"] for r in rows)
    assert abs(spent - budget) <= len(rows) * 5e-7


def test_q312_conservation_and_dominated_rule(spark):
    """kept + pruned partitions the corpus; every pruned vector names
    a strictly-lower pruned_by in its OWN cluster; kept vectors name
    nobody."""
    df = sq.QUERY_REGISTRY["q312_semantic_dedup"].fn(spark, SF_SMOKE)
    rows = df.collect()
    n = len(rows)
    kept = [r for r in rows if r["kept"]]
    pruned = [r for r in rows if not r["kept"]]
    assert n == 500 and len(kept) + len(pruned) == n
    assert len(pruned) > 0  # threshold sits at the corpus's high tail
    assert all(r["pruned_by"] is None for r in kept)
    cluster_of = {r["vec_id"]: r["cluster"] for r in rows}
    for r in pruned:
        assert r["pruned_by"] is not None and r["pruned_by"] < r["vec_id"]
        assert cluster_of[r["pruned_by"]] == r["cluster"]


def test_q318_arrow_twin_equals_q312(spark):
    """The Arrow SemDeDup chain (kernel assignment + kernel prune)
    must reproduce the JVM chain row for row — the pin that lets
    q318 register q312's value oracle (the q270/q264 discipline)."""
    a = sorted(
        map(tuple, sq.QUERY_REGISTRY["q312_semantic_dedup"].fn(
            spark, SF_SMOKE).collect())
    )
    spark.catalog.clearCache()
    b = sorted(
        map(tuple, sq.QUERY_REGISTRY["q318_semantic_dedup_arrow"].fn(
            spark, SF_SMOKE).collect())
    )
    assert a == b


def test_arrow_kernels_blocked_exact(spark):
    """Blocking cannot move a bit: centroid_assign_arrow with a
    2-centroid block and cluster_dominated_prune_arrow with a 3-row
    member block must equal the unblocked kernels on the real smoke
    corpus."""
    import math

    from team_aragon_spark.operators import similarity

    emb = sq._t(spark, SF_SMOKE, "embeddings")
    base = (
        emb.select("vec_id", F.col("embedding").alias("v"))
        .withColumn("vnorm", F.expr(similarity._norm_expr("v")))
        .persist()
    )
    nc = int(math.ceil(math.sqrt(base.count())))
    cent = emb.filter(F.col("vec_id") < nc).select(
        F.col("vec_id").cast("int").alias("cluster"),
        F.col("embedding").alias("cv"),
    )
    rows = cent.select(
        "cluster", "cv", F.expr(similarity._norm_expr("cv")).alias("n")
    ).collect()
    big = similarity.centroid_assign_arrow(base, rows)
    small = similarity.centroid_assign_arrow(base, rows, centroid_block=2)
    ab = {(r["vec_id"], r["cluster"]) for r in big.collect()}
    asml = {(r["vec_id"], r["cluster"]) for r in small.collect()}
    assert ab == asml
    asg = big
    pb = sorted(
        map(tuple, similarity.cluster_dominated_prune_arrow(
            asg, sq._SEMDD_T).collect())
    )
    ps = sorted(
        map(tuple, similarity.cluster_dominated_prune_arrow(
            asg, sq._SEMDD_T, member_block=3).collect())
    )
    assert pb == ps


def test_q319_good_turing_identities(spark):
    """Frequency-of-frequencies sanity: p_unseen = N_1/total in
    (0,1); r* is NULL exactly when N_r = 0; the mass accounted by
    the r<=10 classes never exceeds the corpus."""
    rows = sq.QUERY_REGISTRY["q319_good_turing_unseen_mass"].fn(
        spark, SF_SMOKE
    ).collect()
    assert [r["r"] for r in rows] == list(range(1, sq._GT_MAX_R + 1))
    total = rows[0]["total_tokens"]
    n1 = rows[0]["n_r"]
    assert 0.0 <= rows[0]["p_unseen"] <= 1.0
    assert abs(rows[0]["p_unseen"] - round(n1 / total, 6)) < 1e-12
    assert sum(r["r"] * r["n_r"] for r in rows) <= total
    for r in rows:
        assert (r["r_star"] is None) == (r["n_r"] == 0)


def test_q320_attribution_accounts_every_repeat(spark):
    """The attribution matrix partitions the repeat occurrences:
    sum(n_occurrences) over all source pairs must equal the
    independently-computed total repeats (gram occurrences minus
    distinct grams — each gram has exactly one first occurrence),
    with no winner/ranking logic involved."""
    from team_aragon_spark.operators import text_dedup

    docs = sq._t(spark, SF_SMOKE, "documents")
    _b, _s, occ = text_dedup._repeat_spans(
        docs, "text", "doc_id", sq._SUBSTR_K
    )
    expected = occ.count() - occ.select("gk").distinct().count()
    rows = sq.QUERY_REGISTRY["q320_boilerplate_source_attribution"].fn(
        spark, SF_SMOKE
    ).collect()
    assert sum(r["n_occurrences"] for r in rows) == expected
    assert all(1 <= r["n_grams"] <= r["n_occurrences"] for r in rows)


def test_q313_funnel_monotonicity(spark):
    """Per source: every pass count and the kept count are bounded by
    n_docs; keep_share is exactly round(n_kept/n_docs, 6); median
    thresholds keep each signal's pass count near half its source
    (not exactly half: the threshold is rounded to 6 digits, which
    can round past the middle value — so the pin is a band)."""
    rows = sq.QUERY_REGISTRY["q313_quality_ensemble_gate"].fn(
        spark, SF_SMOKE
    ).collect()
    assert rows, "gate produced no sources"
    for r in rows:
        n = r["n_docs"]
        for c in ("n_pass_logreg", "n_pass_logprob", "n_pass_readability",
                  "n_kept"):
            assert 0 <= r[c] <= n
        # a >= (rounded) median gate passes roughly half: the exact
        # count shifts by the tie mass at the middle value plus the
        # 6-digit threshold rounding, never by more
        for c in ("n_pass_logreg", "n_pass_logprob", "n_pass_readability"):
            assert n // 4 <= r[c] <= n - n // 4
        assert abs(r["keep_share"] - round(r["n_kept"] / n, 6)) < 1e-12


def test_q314_gate_branches_equal_q246(spark, monkeypatch):
    """Both physical branches of the (now shared) gated LPA body
    produce identical rows, and q246/q314 — which both delegate to it
    since r11 (r10 VERDICT item 2: no ungated slow twin in the
    registry) — agree with each other: the default branch at smoke
    scale broadcasts the label relation, the monkeypatched gate
    (0 nodes) forces the shuffled branch (the pre-r11 q246 plan, so
    this pin also guards the shared oracle both names register)."""
    fn246 = sq.QUERY_REGISTRY["q246_label_propagation_communities"].fn
    fn314 = sq.QUERY_REGISTRY["q314_label_propagation_gated"].fn
    bcast = _rows(fn314(spark, SF_SMOKE))
    spark.catalog.clearCache()
    assert _rows(fn246(spark, SF_SMOKE)) == bcast
    spark.catalog.clearCache()
    monkeypatch.setattr(sq, "_LPA_BCAST_MAX_NODES", 0)
    shuffled = _rows(fn314(spark, SF_SMOKE))
    assert shuffled == bcast


def test_q314_vote_join_physical_strategy(spark):
    """The per-round vote join's executed plan, pinned on the exact
    join expressions q314 builds each round: the under-gate branch's
    F.broadcast(lab) always produces a broadcast hash join, and the
    fallback branch (plain `und.join(lab)`, exactly as in the query
    body) leaves Catalyst free to shuffle — asserted with the
    auto-broadcast threshold disabled, the condition that holds by
    size alone at the >5M-node scale the gate exists for (at smoke
    scale AQE would broadcast the tiny label relation on its own,
    which is correct and value-identical)."""
    li = sq._t(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    und = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") != F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("node"),
            F.col("y.l_partkey").alias("nbr"),
        )
        .repartition("nbr")
        .dropDuplicates(["node", "nbr"])
    )
    lab = (
        und.select("node").distinct()
        .withColumn("label", F.col("node"))
        .select(F.col("node").alias("nbr"), "label")
    )

    def plan(j):
        return j._jdf.queryExecution().executedPlan().toString()

    votes_b = und.join(F.broadcast(lab), "nbr").groupBy("node", "label").count()
    # the REAL fallback shape from the query body — no hint; disable
    # auto-broadcast so the plan reflects what Catalyst does when the
    # label relation is too big to broadcast (the gate's reason to
    # exist), not what it does at smoke size
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        votes_s = und.join(lab, "nbr").groupBy("node", "label").count()
        ps = plan(votes_s)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    pb = plan(votes_b)
    # the broadcast branch's vote join is a BroadcastHashJoin and the
    # plan needs no sort-merge anywhere; the un-broadcastable fallback
    # runs the vote join as SortMergeJoin
    assert "BroadcastHashJoin" in pb
    assert "SortMergeJoin" not in pb
    assert "SortMergeJoin" in ps
