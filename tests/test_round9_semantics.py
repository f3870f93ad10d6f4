"""Round-9 semantics pins.

Two r9 rewrites changed HOW results are computed without being
allowed to move a single output row: q248's prefix-bounded candidate
enumeration (escalating lower-key prefix) and the Arrow kNN kernel's
query-block chunking.  Both are pinned here against their unbounded
formulations.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from team_aragon_spark.plans import star_queries as sq
from tests.conftest import SF_SMOKE


def test_q248_prefix_escalation_exact(spark, monkeypatch):
    """q248 with a pathologically small initial prefix (forcing the
    x8 escalation path through every candidate source) must return
    exactly the rows of the default run (which at sf0.001 covers the
    corpus outright, i.e. full enumeration)."""
    fn = sq.QUERY_REGISTRY["q248_entity_resolution_scoring"].fn
    full = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    spark.catalog.clearCache()
    monkeypatch.setattr(sq, "_ER_PREFIX0", 4)
    tiny = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    assert tiny == full
    assert len(full) == sq._ER_TOPK


def test_cell_knn_arrow_query_block_exact(spark):
    """cell_knn_topk_arrow must be bit-identical under any query
    blocking (the r9 memory-ceiling chunking): block=3 forces many
    blocks per cell on the real corpus and must reproduce the
    single-block result row for row."""
    from team_aragon_spark.operators import similarity

    asg, probes, _ = sq._ivf_loo_sides(spark, SF_SMOKE, arrow=True)
    p2 = probes.drop("rk").withColumnRenamed("cell", "qcell")
    big = similarity.cell_knn_topk_arrow(asg, p2, k=sq._KNN_K)
    small = similarity.cell_knn_topk_arrow(asg, p2, k=sq._KNN_K, query_block=3)
    assert big.exceptAll(small).count() == 0
    assert small.exceptAll(big).count() == 0


def test_q274_sample_is_fixed_size_prefix(spark):
    """The audit sample is the md5-ordered PREFIX: at smoke scale the
    corpus (500 docs) is smaller than the sample budget, so q274's
    frame must equal q273's exactly — the fixed-size sample degrades
    to the full audit on small corpora instead of silently thinning."""
    a = sq.QUERY_REGISTRY["q273_lsh_recall_audit"].fn(spark, SF_SMOKE)
    b = sq.QUERY_REGISTRY["q274_lsh_recall_audit_sampled"].fn(spark, SF_SMOKE)
    ra = [tuple(r) for r in a.orderBy("threshold").collect()]
    spark.catalog.clearCache()
    rb = [tuple(r) for r in b.orderBy("threshold").collect()]
    assert ra == rb


def test_kmeans_partition_and_compaction_conservation(spark):
    """Late-r9 structural pins: q282's final assignment must PARTITION
    the corpus (cluster sizes sum to |embeddings|, every vector lands
    in exactly one cluster), q288 must partition the linked documents
    the same way, and q286's bins must conserve bytes (sum of
    bin_bytes == |lineitem| * row width — the packing never drops or
    double-counts a file)."""
    from team_aragon_spark.sources.catalog import read_table

    n_emb = read_table(spark, "embeddings", SF_SMOKE).count()
    km = sq.QUERY_REGISTRY["q282_kmeans_lloyd"].fn(spark, SF_SMOKE).collect()
    assert sum(r.n_members for r in km) == n_emb
    assert all(-1.0 <= r.mean_cos <= 1.0 for r in km)
    spark.catalog.clearCache()

    mix = (
        sq.QUERY_REGISTRY["q288_cluster_mixture_plan"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert sum(r.n_docs for r in mix) == n_emb
    assert all(0.0 < r.top_source_share <= 1.0 for r in mix)
    assert all(r.source_entropy >= 0.0 for r in mix)
    spark.catalog.clearCache()

    n_li = read_table(spark, "lineitem", SF_SMOKE).count()
    bins = (
        sq.QUERY_REGISTRY["q286_compaction_bin_packing"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert sum(r.bin_bytes for r in bins) == n_li * sq._ROW_BYTES
    assert all(r.n_files >= 1 for r in bins)


def test_waterfill_budget_conservation(spark):
    """q289/q290's water-fill must spend exactly the budget when any
    source is unsaturated: saturated capacities + (n-k) * level == B.
    The level is emitted as round(level, 6) — each of the at most
    n-k unsaturated allocations carries an ABSOLUTE error of at most
    5e-7 tokens, so |spent - budget| <= n * 5e-7 (an absolute bound
    independent of the budget; the old budget-relative tolerance was
    orders of magnitude looser and would have weakened the pin as
    corpora grow — r9 ADVICE)."""
    rows = (
        sq.QUERY_REGISTRY["q289_budgeted_mixture_waterfill"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    total = sum(r.capacity for r in rows)
    budget = total // 2
    spent = sum(r.allocation for r in rows)
    assert abs(spent - budget) <= len(rows) * 5e-7
    assert all(r.allocation <= r.capacity + 1e-9 for r in rows)
    assert any(not r.saturated for r in rows)
    spark.catalog.clearCache()

    v3 = (
        sq.QUERY_REGISTRY["q290_curation_pipeline_v3"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    # funnel monotonicity: raw >= selected >= deduped, per source
    assert all(r.n_docs_raw >= r.n_docs_selected >= r.n_docs_deduped for r in v3)
    assert all(r.token_allocation <= r.capacity_tokens + 1e-9 for r in v3)


def test_cluster_aware_split_has_no_leakage(spark):
    """q303's whole point, pinned structurally: after cluster-aware
    assignment, NO >= 0.5 near-dup pair crosses a split boundary (the
    is_leak rows q275 surfaces must be absent), and every emitted row
    is a within-split pair.  Also pins that the assignment covers the
    corpus: the per-doc split relation inside the plan partitions all
    documents."""
    rows = (
        sq.QUERY_REGISTRY["q303_cluster_aware_split"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert rows, "corpus has near-dup pairs at sf0.001"
    assert all(not r.is_leak for r in rows)
    assert all(r.split_pair.split("|")[0] == r.split_pair.split("|")[1]
               for r in rows)
    assert abs(sum(r.pair_share for r in rows) - 1.0) < 1e-6
