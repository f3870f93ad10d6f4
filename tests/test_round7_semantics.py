"""Planted-input semantics pins for the round-7 operational queries.

The DuckDB oracle rows prove value equality on the generated corpus;
these tests prove the SEMANTICS on inputs constructed to exercise the
interesting cases (a single flipped row, every live IVM quadrant, a
planted seasonal spike) — the cases the corpus may not contain.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
from team_aragon_spark.sources.catalog import read_table

from tests.conftest import SF_SMOKE

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_events(spark, tmp_path_factory, rows_or_df, name):
    out = tmp_path_factory.mktemp(name)
    df = (
        rows_or_df
        if not isinstance(rows_or_df, list)
        else spark.createDataFrame(rows_or_df, EVENTS_SCHEMA)
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(out / "events.parquet"))
    return str(out)


def test_partition_checksum_detects_single_row_change(
    spark, tmp_path_factory
):
    """Flipping ONE field of ONE row must change exactly that day's
    digest and no other — the property that makes per-partition
    digests usable as a replication diff."""
    base = read_table(spark, "events", SF_SMOKE).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props"
    )
    dir_a = _stage_events(spark, tmp_path_factory, base, "ck_a")
    mutated = base.withColumn(
        "value",
        F.when(F.col("event_id") == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    dir_b = _stage_events(spark, tmp_path_factory, mutated, "ck_b")

    fn = QUERY_REGISTRY["q169_partition_checksums"].fn
    da = {r.day: (r.n_rows, r.digest) for r in fn(spark, dir_a).collect()}
    db = {r.day: (r.n_rows, r.digest) for r in fn(spark, dir_b).collect()}
    assert set(da) == set(db)
    changed_day = (
        base.filter(F.col("event_id") == 0)
        .select(F.to_date(F.date_trunc("day", "ts")))
        .collect()[0][0]
    )
    diff = [d for d in da if da[d] != db[d]]
    assert diff == [changed_day]
    assert da[changed_day][0] == db[changed_day][0]  # count same, digest not


def test_delta_join_ivm_quadrants_planted(spark, tmp_path_factory):
    """Every LIVE quadrant of the q170 decomposition on a constructed
    event set.  Note the 'de' (delta-error x base-click) quadrant is
    provably EMPTY for this temporal join — a click joins only at
    click_ts >= error_ts, so a click older than the cutoff cannot
    follow an error newer than it; the planted set pins the three
    live quadrants and the no-match exclusion."""
    base_t = datetime.datetime(2024, 6, 1, 0, 0, 0)

    def ts(days, hours=0):
        return base_t + datetime.timedelta(days=days, hours=hours)

    # max ts = day 10 => cutoff = day 3
    rows = [
        # user 1: error+click both before cutoff, within 1 day -> 'old'
        (1, ts(0), 1, "error", 0.0, "{}"),
        (2, ts(0, 5), 1, "click", 0.0, "{}"),
        # user 2: error just before cutoff, click after it, within 1d -> 'dc'
        (3, ts(2, 20), 2, "error", 0.0, "{}"),
        (4, ts(3, 6), 2, "click", 0.0, "{}"),
        # user 3: both after cutoff, within 1 day -> 'dd'
        (5, ts(8), 3, "error", 0.0, "{}"),
        (6, ts(8, 3), 3, "click", 0.0, "{}"),
        # user 4: click 2 days after error -> excluded entirely
        (7, ts(4), 4, "error", 0.0, "{}"),
        (8, ts(6), 4, "click", 0.0, "{}"),
        # pin max(ts) so the cutoff lands at day 3
        (9, ts(10), 5, "signup", 0.0, "{}"),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "ivm")
    got = {
        (r.user_id, r.error_id, r.click_id, r.src)
        for r in QUERY_REGISTRY["q170_delta_join_view_maintenance"]
        .fn(spark, d)
        .collect()
    }
    assert got == {
        (1, 1, 2, "old"),
        (2, 3, 4, "dc"),
        (3, 5, 6, "dd"),
    }


def test_seasonal_anomaly_planted_spike(spark, tmp_path_factory):
    """A 50x spike at one (type, hour-of-day) cell must be flagged
    against its OWN hour-of-day baseline while every regular cell
    stays quiet — and the spike must NOT drag other hours' baselines
    (the property q124's global z-score lacks)."""
    base_t = datetime.datetime(2024, 6, 1, 0, 0, 0)
    rows = []
    eid = 0
    # 30 days x 24 hours, one click per hour.  30 matters: the spike
    # sits INSIDE its own baseline, and with n samples a single
    # outlier's z-score is bounded by (n-1)/sqrt(n) — under 3 until
    # n >= 11, comfortably past it at 30 (z ~= 5.3 here).
    for day in range(30):
        for hour in range(24):
            rows.append(
                (
                    eid,
                    base_t + datetime.timedelta(days=day, hours=hour),
                    1,
                    "click",
                    0.0,
                    "{}",
                )
            )
            eid += 1
    # spike: +50 extra events at day 5, 03:00
    for i in range(50):
        rows.append(
            (
                eid,
                base_t + datetime.timedelta(days=5, hours=3, seconds=i),
                1,
                "click",
                0.0,
                "{}",
            )
        )
        eid += 1
    d = _stage_events(spark, tmp_path_factory, rows, "spike")
    out = QUERY_REGISTRY["q171_seasonal_residual_anomaly"].fn(spark, d).collect()
    flagged = {(r.event_type, r.hour) for r in out if r.is_anomaly == 1}
    assert flagged == {
        ("click", base_t + datetime.timedelta(days=5, hours=3))
    }


def _stage_table(spark, tmp_path_factory, df, table, name):
    out = tmp_path_factory.mktemp(name)
    df.coalesce(1).write.mode("overwrite").parquet(
        str(out / f"{table}.parquet")
    )
    return str(out)


def test_cms_join_size_one_sided_and_exact_when_collision_free(
    spark, tmp_path_factory
):
    """The CMS inner-product estimate is GUARANTEED one-sided
    (collisions only add mass): overestimate >= 0 on the real corpus;
    and with a single joining user the sketches hold one nonzero cell
    per row, so the estimate is EXACTLY fA*fB."""
    out = (
        QUERY_REGISTRY["q173_join_size_cms_estimate"]
        .fn(spark, SF_SMOKE)
        .collect()[0]
    )
    spark.catalog.clearCache()
    assert out.overestimate >= 0
    assert out.cms_estimate >= out.exact_join_size

    base_t = datetime.datetime(2024, 6, 1)
    rows = []
    eid = 0
    for i in range(3):
        rows.append((eid, base_t, 7, "click", 0.0, "{}")); eid += 1
    for i in range(4):
        rows.append((eid, base_t, 7, "purchase", 0.0, "{}")); eid += 1
    d = _stage_events(spark, tmp_path_factory, rows, "cms_one")
    got = QUERY_REGISTRY["q173_join_size_cms_estimate"].fn(spark, d).collect()[0]
    assert (got.exact_join_size, got.cms_estimate, got.overestimate) == (
        12, 12, 0
    )


def test_hll_merge_equals_rebuild_over_union(spark, tmp_path_factory):
    """The mergeability identity the sketch family exists for:
    max-merging two types' registers (q177) must equal rebuilding one
    sketch directly over the UNION of the two types' rows — pinned by
    retagging the pair's rows to a single label and running q164's
    single-set estimator on the staged copy."""
    pairs = {
        (r.type_a, r.type_b): (r.hll_union_est, r.exact_union)
        for r in QUERY_REGISTRY["q177_hll_set_algebra"].fn(spark, SF_SMOKE).collect()
    }
    spark.catalog.clearCache()
    base = read_table(spark, "events", SF_SMOKE).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props"
    )
    for ta, tb in [("click", "purchase"), ("error", "view")]:
        retag = base.withColumn(
            "event_type",
            F.when(
                F.col("event_type").isin(ta, tb), F.lit("__pair__")
            ).otherwise(F.col("event_type")),
        )
        d = _stage_events(spark, tmp_path_factory, retag, f"hllu_{ta}")
        rebuilt = {
            r.event_type: (r.hll_estimate, r.exact_distinct)
            for r in QUERY_REGISTRY["q164_portable_hll_distinct"]
            .fn(spark, d)
            .collect()
        }
        spark.catalog.clearCache()
        assert rebuilt["__pair__"] == pairs[(ta, tb)], (ta, tb)


def test_k_anonymity_planted_ladder(spark, tmp_path_factory):
    """A constructed customer table where the ladder is known by hand:
    5 spread balances collapse into one safe group only at scale 100+;
    a 4-record group violates k=5 at EVERY generalization level."""
    cust = spark.createDataFrame(
        [(i + 1, f"c{i}", 1, 100.0 + 10 * i, "A") for i in range(5)]
        + [(10 + i, f"d{i}", 2, 5000.0 + i, "B") for i in range(4)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    d = _stage_table(spark, tmp_path_factory, cust, "customer", "kanon")
    got = {
        r.level: (
            r.n_groups,
            r.n_violating_groups,
            r.n_records_at_risk,
        )
        for r in QUERY_REGISTRY["q176_k_anonymity_generalization"]
        .fn(spark, d)
        .collect()
    }
    # scale 10: balances 100..140 split into 5 buckets (all k=1) and
    # the 4-record group shares bucket 500 -> 6 groups, all violating
    assert got[0] == (6, 6, 9)
    # scale 100: the 5 collapse into one k=5 group (safe); the 4 stay
    # one violating group
    assert got[1] == (2, 1, 4)
    # scales 1000/10000: same shape — only the 4-record group violates
    assert got[2] == (2, 1, 4)
    assert got[3] == (2, 1, 4)


def test_ann_recall_is_total_on_separable_clusters(
    spark, tmp_path_factory
):
    """With 16 orthogonal clusters (centroid = one-hot axis c, members
    tightly around it), every query's true top-10 lives in its own
    cell, so IVF recall@10 must be EXACTLY 1.0 for all 24 queries and
    the candidate volume must stay two cells' worth — the blocked-scan
    property that makes the index worth building."""
    rows = []
    dim = 64
    for c in range(16):  # centroids: vec_id 0..15 = one-hot axis c
        v = [0.0] * dim
        v[c] = 1.0
        rows.append((c, v, c))
    for i in range(16, 240):  # members: cluster (i-16) % 16
        c = (i - 16) % 16
        v = [0.0] * dim
        v[c] = 1.0
        v[16 + (i % 48)] = 0.05  # tiny off-axis wiggle, cos ~ 0.9988
        rows.append((i, v, c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "annrec")
    out = QUERY_REGISTRY["q175_ann_recall_audit"].fn(spark, d).collect()
    assert len(out) == 24
    assert all(r.recall == 1.0 for r in out)
    # 2 probed cells x (1 centroid + 14 members) minus self
    assert all(r.n_candidates <= 29 for r in out)


def test_table_stats_null_semantics_planted(spark, tmp_path_factory):
    """The corpus has no NULLs, so the ANALYZE null conventions are
    pinned on a plant: NULL props count into n_nulls and n_rows but
    not NDV/min/max/MCV; the MCV tie breaks to the smaller value."""
    base_t = datetime.datetime(2024, 6, 1)
    rows = [
        (1, base_t, 1, "click", 0.0, "b"),
        (2, base_t, 1, "click", 0.0, "b"),
        (3, base_t, 1, "click", 0.0, "a"),
        (4, base_t, 1, "click", 0.0, "a"),
        (5, base_t, 1, "click", 0.0, "c"),
        (6, base_t, 1, "click", 0.0, None),
        (7, base_t, 1, "click", 0.0, None),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "stats_null")
    got = {
        r.column_name: r
        for r in QUERY_REGISTRY["q174_table_stats_one_pass"].fn(spark, d).collect()
    }
    p = got["props"]
    assert (p.n_rows, p.n_nulls, p.ndv) == (7, 2, 3)
    assert (p.min_val, p.max_val) == ("a", "c")
    assert (p.mcv_value, p.mcv_count) == ("a", 2)  # tie a/b -> smaller


def test_ols_perfect_line_planted(spark, tmp_path_factory):
    """A noiseless planted line value = 3*hour + 10 must come back
    with slope 3, intercept 10, r2 = 1 exactly (the sufficient
    statistics are small integers, so no float residue survives the
    6-digit round)."""
    base_t = datetime.datetime(2024, 6, 1)
    rows = [
        (h, base_t + datetime.timedelta(hours=h), 1, "click",
         3.0 * h + 10.0, "{}")
        for h in range(24)
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "ols_line")
    out = QUERY_REGISTRY["q178_grouped_ols_regression"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n, r.slope, r.intercept, r.r2) == (24, 3.0, 10.0, 1.0)


def test_time_decay_exact_half_life_planted(spark, tmp_path_factory):
    """Events exactly 0, 7 and 14 days before the watermark must score
    1, 0.5 and 0.25 — the half-life arithmetic pinned at its own
    boundary; only the purchase contributes to decayed_purchases."""
    base_t = datetime.datetime(2024, 6, 15)
    rows = [
        (1, base_t, 1, "purchase", 0.0, "{}"),                        # age 0
        (2, base_t - datetime.timedelta(days=7), 1, "click", 0.0, "{}"),
        (3, base_t - datetime.timedelta(days=14), 1, "view", 0.0, "{}"),
        (4, base_t, 2, "click", 0.0, "{}"),                           # age 0
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "decay_hl")
    got = {
        r.user_id: (r.n_events, r.decayed_activity, r.decayed_purchases)
        for r in QUERY_REGISTRY["q179_time_decay_engagement"].fn(spark, d).collect()
    }
    assert got[1] == (3, 1.75, 1.0)   # 1 + 0.5 + 0.25
    assert got[2] == (1, 1.0, 0.0)


def _stage_tables(spark, tmp_path_factory, named_dfs, name):
    out = tmp_path_factory.mktemp(name)
    for table, df in named_dfs.items():
        df.coalesce(1).write.mode("overwrite").parquet(
            str(out / f"{table}.parquet")
        )
    return str(out)


PART_SCHEMA = (
    "p_partkey long, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double"
)

LINEITEM_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)


def test_skyline_tie_semantics_planted(spark, tmp_path_factory):
    """Pins the dominance conventions the q183 size-reduction must
    reproduce: equal (price, size) duplicates dominate nothing and
    co-survive; same size + strictly cheaper excludes; equal price +
    strictly larger size excludes."""
    rows = [
        (1, "a", "b", "t", 10, 5.0),   # frontier (dup pair with 2)
        (2, "a", "b", "t", 10, 5.0),   # frontier (dup pair with 1)
        (3, "a", "b", "t", 5, 3.0),    # frontier: cheaper, smaller
        (4, "a", "b", "t", 20, 8.0),   # frontier: largest size
        (5, "a", "b", "t", 20, 9.0),   # dominated by 4 (same size, cheaper exists)
        (6, "a", "b", "t", 10, 6.0),   # dominated by 1/2 (same size, cheaper)
        (7, "a", "b", "t", 8, 5.0),    # dominated by 1 (equal price, larger size)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"part": spark.createDataFrame(rows, PART_SCHEMA)},
        "sky",
    )
    got = sorted(
        r.p_partkey
        for r in QUERY_REGISTRY["q183_part_pareto_skyline"].fn(spark, d).collect()
    )
    assert got == [1, 2, 3, 4]


def test_autocorrelation_constant_null_and_alternating_exact(
    spark, tmp_path_factory
):
    """Zero-variance series yield NULL acf (no 0/0); a perfectly
    alternating daily count series yields exactly -1.0 at lag 1 and
    +1.0 at lag 2 (the shifted series is an exact linear function of
    the original, so Pearson r hits the bound)."""
    n_days = 10
    orders, day0 = [], datetime.datetime(2024, 1, 1)
    ok = 0
    for i in range(n_days):
        dt = day0 + datetime.timedelta(days=i)
        # customer 1 -> region RA: constant one order/day
        ok += 1
        orders.append((ok, 1, "O", 10.0, dt, "1-URGENT"))
        # customer 2 -> region RB: alternating 1, 2, 1, 2 ...
        for _ in range(1 + (i % 2)):
            ok += 1
            orders.append((ok, 2, "O", 10.0, dt, "1-URGENT"))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            ),
            "customer": spark.createDataFrame(
                [(1, "c1", 0, 0.0, "S"), (2, "c2", 1, 0.0, "S")],
                "c_custkey long, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
            ),
            "nation": spark.createDataFrame(
                [(0, "NA", 0), (1, "NB", 1)],
                "n_nationkey int, n_name string, n_regionkey int",
            ),
            "region": spark.createDataFrame(
                [(0, "RA", ), (1, "RB", )],
                "r_regionkey int, r_name string",
            ),
        },
        "acf",
    )
    got = {
        (r.region, r.lag): r.acf
        for r in QUERY_REGISTRY["q182_daily_order_autocorrelation"]
        .fn(spark, d)
        .collect()
    }
    assert got[("RA", 1)] is None and got[("RA", 7)] is None
    assert got[("RB", 1)] == -1.0
    assert got[("RB", 2)] == 1.0


def test_activity_streaks_islands_and_tie_start(spark, tmp_path_factory):
    """Islands split exactly on a 1-day gap; equal-length maximal
    streaks resolve best_start to the EARLIEST start day."""
    def ev(i, day, user):
        return (
            i,
            datetime.datetime(2024, 1, day, 12, 0, 0),
            user,
            "view",
            1.0,
            None,
        )

    rows = (
        # user 1: days 1,2,3 | 5 | 10,11  (+ a same-day dup that must not count)
        [ev(1, 1, 1), ev(2, 2, 1), ev(3, 3, 1), ev(4, 5, 1),
         ev(5, 10, 1), ev(6, 11, 1), ev(7, 11, 1)]
        # user 2: two max-length-2 streaks [1,2] and [5,6] -> best_start = day 1
        + [ev(8, 1, 2), ev(9, 2, 2), ev(10, 5, 2), ev(11, 6, 2)]
    )
    d = _stage_events(spark, tmp_path_factory, rows, "streaks")
    got = {
        r.user_id: (r.active_days, r.n_streaks, r.max_streak, r.best_start_day)
        for r in QUERY_REGISTRY["q184_activity_streaks"].fn(spark, d).collect()
    }
    epoch = datetime.date(1970, 1, 1)
    d1 = (datetime.date(2024, 1, 1) - epoch).days
    assert got[1] == (6, 3, 3, d1)
    assert got[2] == (4, 2, 2, d1)


def test_kmv_exact_below_k_and_union_merge(spark, tmp_path_factory):
    """A sketch that never fills (ndv < k) must report est == exact for
    every source AND every pair union — the below-k escape path; the
    pair row's estimate comes purely from merged per-source sketches,
    so this also pins the lossless union-merge property."""
    rows = [
        (1, "alpha beta gamma", "en", "sA", 10),
        (2, "beta delta", "en", "sA", 8),
        (3, "gamma epsilon zeta", "en", "sB", 9),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "kmv",
    )
    out = QUERY_REGISTRY["q180_kmv_distinct_sketch"].fn(spark, d).collect()
    by = {(r.a, r.b): r for r in out}
    assert by[("sA", "sA")].exact_ndv == 4
    assert by[("sB", "sB")].exact_ndv == 3
    assert by[("sA", "sB")].exact_ndv == 6  # gamma shared
    for r in out:
        assert r.est_ndv == r.exact_ndv and r.rel_err == 0.0


def test_bfs_hops_planted_chain(spark, tmp_path_factory):
    """Hop levels, horizon cutoff, and the unreached bucket on a
    hand-built graph: chain 1-2-3-4 (reached at hops 0..3) plus a
    disconnected component {5,6} and a never-ordered part 7."""
    def li(ok, pk):
        return (
            ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
            datetime.datetime(2024, 1, 1),
        )

    lines = [
        li(100, 1), li(100, 2),
        li(101, 2), li(101, 3),
        li(102, 3), li(102, 4),
        li(103, 5), li(103, 6),
    ]
    parts = [
        (k, "p", "b", "t", 1, 1.0) for k in range(1, 8)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA),
            "part": spark.createDataFrame(parts, PART_SCHEMA),
        },
        "bfs",
    )
    got = {
        r.hops: (r.n_nodes, r.checksum)
        for r in QUERY_REGISTRY["q181_copurchase_bfs_hops"].fn(spark, d).collect()
    }
    assert got == {
        -1: (3, 18),  # parts 5, 6 (disconnected), 7 (never ordered)
        0: (1, 1),
        1: (1, 2),
        2: (1, 3),
        3: (1, 4),
    }


def test_referential_audit_planted_orphan_and_unref(
    spark, tmp_path_factory
):
    """An orphan FK row (child value missing from the parent) and an
    unreferenced parent row must land in their exact counters on the
    lineitem->part edge."""
    from tests.conftest import SF_SMOKE

    tables = {}
    for t in (
        "lineitem", "part", "supplier", "orders", "customer", "events",
        "nation",
    ):
        tables[t] = read_table(spark, t, SF_SMOKE)
    # plant: one lineitem row pointing at a part that does not exist,
    # and one extra part no lineitem references
    orphan = spark.createDataFrame(
        [(999901, 999901, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          datetime.datetime(2024, 1, 1))],
        LINEITEM_SCHEMA,
    )
    extra_part = spark.createDataFrame(
        [(888801, "ghost", "b", "t", 1, 1.0)], PART_SCHEMA
    )
    base_li = tables["lineitem"].select(*[c for c in orphan.columns])
    base_pt = tables["part"].select(*[c for c in extra_part.columns])
    n_li = base_li.count()
    n_pt = base_pt.count()
    tables["lineitem"] = base_li.unionByName(orphan)
    tables["part"] = base_pt.unionByName(extra_part)
    d = _stage_tables(spark, tmp_path_factory, tables, "refaudit")
    got = {
        r.edge: r
        for r in QUERY_REGISTRY["q185_referential_usage_audit"]
        .fn(spark, d)
        .collect()
    }
    e = got["lineitem.l_partkey->part"]
    assert e.child_rows == n_li + 1
    assert e.orphan_keys == 1 and e.orphan_rows == 1
    assert e.parent_rows == n_pt + 1
    assert e.unref_parents >= 1  # at least the planted ghost part


def test_kcore_planted_cascade_and_corpus_convergence(
    spark, tmp_path_factory
):
    """k-core peeling must CASCADE (removing a node can drop a
    neighbor below k next round) and stop at the maximal subgraph.
    Planted graph (k=3): a K4 clique {1,2,3,4} plus a pendant hub 5
    joined to 4, 6, 7 (degree 3 — survives round 1) while 6 and 7
    (degree 2 each) fall in round 1, which drops 5 to degree 1 and
    removes it in round 2; the clique survives as the core.  Orders
    encode edges pairwise.
    Also asserts the CORPUS run converges inside the fixed horizon,
    the condition that makes the R-round semantics equal true k-core."""
    from team_aragon_spark.plans.star_queries import (
        _KCORE_K, _KCORE_ROUNDS,
    )

    def li(ok, pk):
        return (
            ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
            datetime.datetime(2024, 1, 1),
        )

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5), (5, 6), (5, 7), (6, 7),  # pendant hub + triangle tail
    ]
    lines, ok = [], 0
    for a, b in edges:
        ok += 1
        lines += [li(ok, a), li(ok, b)]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "kcore",
    )
    import team_aragon_spark.plans.star_queries as sq

    orig = sq._KCORE_K
    sq._KCORE_K = 3
    try:
        got = {
            r.round: (r.n_nodes, r.checksum)
            for r in QUERY_REGISTRY["q186_copurchase_kcore"].fn(spark, d).collect()
        }
    finally:
        sq._KCORE_K = orig
    spark.catalog.clearCache()
    # round 1 removes 6 and 7 (deg 2 each); the cascade drops 5 to
    # deg 1 and round 2 removes it; rounds 3+ remove nothing; core = K4
    assert got[1] == (2, -1)
    assert got[2] == (1, -1)
    assert got[0] == (4, 1 + 2 + 3 + 4)
    assert set(got) == {0, 1, 2}

    # corpus convergence inside the horizon: strictly fewer removal
    # rounds than _KCORE_ROUNDS means at least one no-op round ran
    # before the horizon, i.e. the fixpoint was reached
    from tests.conftest import SF_SMOKE

    rows = QUERY_REGISTRY["q186_copurchase_kcore"].fn(spark, SF_SMOKE).collect()
    removal_rounds = [r.round for r in rows if r.round > 0]
    assert len(removal_rounds) < _KCORE_ROUNDS


def test_phrase_search_positions_and_tiebreak(spark, tmp_path_factory):
    """The top bigram is chosen by (df DESC, tf DESC, lexicographic)
    and hit positions are exact: 'x y' appears in 3 docs (df=3) while
    'a a' appears 4 times in one doc (tf=4, df=1) — df must win; the
    repeated-token doc pins overlapping-occurrence counting."""
    rows = [
        (1, "x y q x y", "en", "s", 9),       # 'x y' twice, pos 1 and 4
        (2, "x y", "en", "s", 3),
        (3, "p x y", "en", "s", 5),
        (4, "a a a a a", "en", "s", 9),       # 'a a' tf=4 but df=1
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "phrase",
    )
    got = {
        r.doc_id: (r.phrase, r.n_hits, r.first_pos)
        for r in QUERY_REGISTRY["q187_phrase_positional_search"]
        .fn(spark, d)
        .collect()
    }
    assert got == {
        1: ("x y", 2, 1),
        2: ("x y", 1, 1),
        3: ("x y", 1, 2),
    }


def test_peak_concurrency_boundary_conventions(spark, tmp_path_factory):
    """Closed-interval semantics: a session ending at t and another
    starting at the SAME ms t must both count (the -1 fires at
    t_end + 1); two single-event sessions at the same instant
    overlap.  Planted day: u1 [00:00, 01:00] (intra-session gaps
    kept under 30 min), u2 [01:00, 02:00] — touching endpoints ->
    peak 2 at 01:00.000; u3+u4 both at exactly 03:00 (peak 2); a
    lone u5 on day 2."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, user, minutes):
        return (
            i,
            t0 + datetime.timedelta(minutes=minutes),
            user,
            "view",
            1.0,
            None,
        )

    rows = [
        ev(1, 1, 0), ev(2, 1, 25), ev(3, 1, 50), ev(4, 1, 60),
        ev(5, 2, 60), ev(6, 2, 85), ev(7, 2, 110), ev(8, 2, 120),
        ev(9, 3, 180), ev(10, 4, 180),      # u3, u4 at exactly 03:00
        ev(11, 5, 24 * 60 + 30),            # u5 alone on day 2
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "conc")
    got = {
        r.dayno: (r.peak_concurrency, r.n_sessions_started)
        for r in QUERY_REGISTRY["q188_peak_concurrency_sweep"]
        .fn(spark, d)
        .collect()
    }
    epoch = datetime.date(1970, 1, 1)
    d1 = (datetime.date(2024, 1, 1) - epoch).days
    assert got[d1] == (2, 4)
    assert got[d1 + 1] == (1, 1)


def test_association_rules_hand_computed(spark, tmp_path_factory):
    """Support / confidence / lift on a hand-built basket set:
    5 orders; {1,2} together in 2, part 1 in 3, part 2 in 2,
    {1,3} together once (below min support 2, must be absent)."""
    def li(ok, pk):
        return (
            ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
            datetime.datetime(2024, 1, 1),
        )

    def o(ok):
        return (ok, 1, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT")

    baskets = {100: [1, 2], 101: [1, 2, 3], 102: [1, 3], 103: [2, 9], 104: [9]}
    lines = [li(ok, pk) for ok, pks in baskets.items() for pk in pks]
    orders = [o(ok) for ok in baskets]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA),
            "orders": spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            ),
        },
        "assoc",
    )
    got = {
        (r.a, r.b): (r.support, r.conf_a_to_b, r.conf_b_to_a, r.lift)
        for r in QUERY_REGISTRY["q189_copurchase_association_rules"]
        .fn(spark, d)
        .collect()
    }
    # part 1 in orders {100,101,102} (c=3); part 2 in {100,101,103}
    # (c=3); part 3 in {101,102} (c=2); N=5
    assert got[(1, 2)] == (2, round(2 / 3, 6), round(2 / 3, 6),
                           round(2 * 5 / (3 * 3), 6))
    assert got[(1, 3)] == (2, round(2 / 3, 6), 1.0, round(2 * 5 / (3 * 2), 6))
    # below min support: {2,3} and {2,9} co-occur once each
    assert (2, 3) not in got and (2, 9) not in got
    assert set(got) == {(1, 2), (1, 3)}


def test_greedy_coverage_marginal_not_total(spark, tmp_path_factory):
    """Greedy must rank by MARGINAL gain, not total richness: doc 1
    covers {a b c d}, doc 2 covers {a b c e}, doc 3 covers {e f}.
    Round 1 picks doc 1 (gain 4).  Round 2 must pick doc 3 (marginal
    2) over the richer doc 2 (marginal 1) — the submodular property;
    equal-gain ties resolve to the lowest doc_id."""
    rows = [
        (1, "a b c d", "en", "s", 7),
        (2, "a b c e", "en", "s", 7),
        (3, "e f", "en", "s", 3),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "greedy",
    )
    got = [
        (r.round, r.doc_id, r.gain, r.covered_total)
        for r in QUERY_REGISTRY["q190_greedy_coverage_selection"]
        .fn(spark, d)
        .collect()
    ]
    assert got[0] == (1, 1, 4, 4)
    assert got[1] == (2, 3, 2, 6)
    # after round 2 every token is covered -> doc 2's marginal is 0,
    # the gains relation is empty, and greedy stops early
    assert len(got) == 2


# ---------------------------------------------------------------------------
# Batch-7 pins (q191-q196)
# ---------------------------------------------------------------------------


def test_activity_bitmap_planted_slots(spark, tmp_path_factory):
    """Three events on epoch-days whose mod-60 slots are 0, 5, and 59
    (plus a repeat on slot 5 that must NOT double-count) must yield
    bitmap 2^0 + 2^5 + 2^59 with popcount 3."""
    day = 86400000

    def ev(eid, dayno):
        return (
            eid,
            datetime.datetime.utcfromtimestamp(dayno * day / 1000),
            7,
            "click",
            1.0,
            "{}",
        )

    # epoch days 60 (slot 0), 5 (slot 5), 119 (slot 59), 65 (slot 5 again)
    d = _stage_events(
        spark,
        tmp_path_factory,
        [ev(1, 60), ev(2, 5), ev(3, 119), ev(4, 65)],
        "bitmap",
    )
    rows = QUERY_REGISTRY["q191_user_activity_bitmap"].fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.bitmap == (1 << 0) + (1 << 5) + (1 << 59)
    assert r.n_active_slots == 3
    assert r.slot_coverage == round(3 / 60, 6)


def test_dq_suite_planted_violations(spark, tmp_path_factory):
    """Each check must fail on exactly its own planted violation:
    5 orders with one NULL custkey, one duplicated orderkey, one
    negative total, one malformed priority, one orphan custkey."""
    orders = [
        (1, 10, "O", 5.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
        (1, 10, "O", 5.0, datetime.datetime(2024, 1, 1), "2-HIGH"),  # dup key
        (2, None, "O", 5.0, datetime.datetime(2024, 1, 1), "3-MEDIUM"),
        (3, 10, "O", -1.0, datetime.datetime(2024, 1, 1), "bogus"),
        (4, 99, "O", 5.0, datetime.datetime(2024, 1, 1), "5-LOW"),  # orphan
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            ),
            "customer": spark.createDataFrame(
                [(10, "c", 1, 0.0, "BUILDING")],
                "c_custkey long, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
            ),
        },
        "dq",
    )
    got = {
        r.check_name: (r.metric, r.passed)
        for r in QUERY_REGISTRY["q192_dq_constraint_suite"].fn(spark, d).collect()
    }
    assert got["completeness:o_custkey"] == (0.8, False)  # 4/5 non-null
    assert got["uniqueness:o_orderkey"] == (0.8, False)  # 4 distinct / 5
    assert got["compliance:totalprice_positive"] == (0.8, False)
    assert got["pattern:orderpriority_format"] == (0.8, False)  # 'bogus'
    # custkey NULL and orphan 99 both miss the customer join -> 3/5
    assert got["referential:custkey_in_customer"] == (0.6, False)


def test_mann_whitney_hand_computed(spark, tmp_path_factory):
    """Dual reproduction: the textbook tie-corrected U/z on a planted
    sample (click values [1,2,2,5], purchase [2,3,3]) computed in pure
    Python must equal the engine's output after its round."""

    def ev(eid, etype, v):
        return (eid, datetime.datetime(2024, 1, 1, 0, 0, eid), 1, etype, v, "{}")

    clicks = [1.0, 2.0, 2.0, 5.0]
    purchases = [2.0, 3.0, 3.0]
    rows = [ev(i, "click", v) for i, v in enumerate(clicks)] + [
        ev(10 + i, "purchase", v) for i, v in enumerate(purchases)
    ] + [ev(50, "view", 100.0)]  # other types must be ignored
    d = _stage_events(spark, tmp_path_factory, rows, "mwu")

    # pure-python replay of the count-table formulation
    from collections import Counter

    c1, call = Counter(clicks), Counter(clicks + purchases)
    n1, n2 = len(clicks), len(purchases)
    nn = n1 + n2
    r1 = 0.0
    cum = 0
    for v in sorted(call):
        cnt = call[v]
        r1 += c1.get(v, 0) * (cum + (cnt + 1) / 2.0)
        cum += cnt
    tsum = sum(c**3 - c for c in call.values())
    u1 = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    sigma = ((n1 * n2 / 12.0) * ((nn + 1) - tsum / (nn * (nn - 1.0)))) ** 0.5
    z = round((u1 - mu) / sigma, 6)

    got = QUERY_REGISTRY["q193_mann_whitney_utest"].fn(spark, d).collect()[0]
    assert (got.n_click, got.n_purchase) == (n1, n2)
    assert got.u_stat == round(u1, 2)
    assert got.z == z
    assert got.significant == (abs(z) > 1.96)


def test_hits_planted_bipartite_matrix(spark, tmp_path_factory):
    """Pure-python matrix replay on a planted 3-customer / 3-part
    graph: the engine's un-normalized integer scores must equal
    A^T h and A a iterated exactly _HITS_ITERS times from h0 = 1."""
    from team_aragon_spark.plans.star_queries import _HITS_ITERS

    edges = {
        100: [1, 2],
        101: [2, 3],
        102: [2],
    }  # customer -> parts; part 2 is the hub-favorite (authority)
    lines = [
        (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
         datetime.datetime(2024, 1, 1))
        for ok, pks in edges.items()
        for pk in pks
    ]
    orders = [
        (ok, 200 + ok, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT")
        for ok in edges
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA),
            "orders": spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            ),
        },
        "hits",
    )
    custs = sorted(200 + ok for ok in edges)
    parts = sorted({p for pks in edges.values() for p in pks})
    adj = {(200 + ok, p) for ok, pks in edges.items() for p in pks}
    h = {c: 1 for c in custs}
    a = {}
    for _ in range(_HITS_ITERS):
        a = {p: sum(h[c] for c in custs if (c, p) in adj) for p in parts}
        h = {c: sum(a[p] for p in parts if (c, p) in adj) for c in custs}
    got = QUERY_REGISTRY["q194_bipartite_hits"].fn(spark, d).collect()
    got_a = {r.id: (r.score, r.norm_score) for r in got if r.role == "authority"}
    got_h = {r.id: (r.score, r.norm_score) for r in got if r.role == "hub"}
    ma, mh = max(a.values()), max(h.values())
    assert got_a == {p: (a[p], round(a[p] / ma, 6)) for p in parts}
    assert got_h == {c: (h[c], round(h[c] / mh, 6)) for c in custs}
    # part 2 is bought by every customer -> strictly top authority
    assert max(got_a, key=lambda p: got_a[p][0]) == 2


def test_pmi_planted_always_together_pair(spark, tmp_path_factory):
    """A bigram that always co-occurs ('new york' x5) must rank above
    an independent high-frequency pair, with pmi = ln(c_ab*T/(ca*cb))
    replayed in pure python; pairs below min count must be absent."""
    import math

    from team_aragon_spark.plans.star_queries import _PMI_MIN

    # 5 docs 'new york', 5 docs 'the cat', 5 docs 'the dog', and one
    # 'rare pair' (below min count 5)
    texts = (
        ["new york"] * 5 + ["the cat"] * 5 + ["the dog"] * 5 + ["rare pair"]
    )
    rows = [
        (i, t, "en", "s", len(t)) for i, t in enumerate(texts)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "pmi",
    )
    got = {
        (r.a, r.b): (r.n_pair, r.pmi)
        for r in QUERY_REGISTRY["q195_pmi_collocations"].fn(spark, d).collect()
    }
    t_total = 32  # 16 docs x 2 tokens
    assert got[("new", "york")] == (
        5,
        round(math.log(5 * t_total / (5 * 5)), 6),
    )
    # 'the cat' : c_the = 10 dilutes the association
    assert got[("the", "cat")] == (
        5,
        round(math.log(5 * t_total / (10 * 5)), 6),
    )
    assert ("rare", "pair") not in got  # n_pair 1 < min count
    assert all(n >= _PMI_MIN for n, _ in got.values())
    assert got[("new", "york")][1] > got[("the", "cat")][1]


def test_session_paths_planted_prefix_and_boundary(spark, tmp_path_factory):
    """One user, two sessions: a 4-event session whose 4th event must
    NOT appear in the path, split from a 2nd session by a gap of
    exactly 1800001 ms; a 1800000 ms gap must MERGE (strict-> pin,
    the q151 convention)."""
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, ms, etype):
        return (
            eid,
            t0 + datetime.timedelta(milliseconds=ms),
            1,
            etype,
            1.0,
            "{}",
        )

    rows = [
        ev(1, 0, "view"),
        ev(2, 1000, "click"),
        # exactly 30 min after previous -> SAME session (strict >)
        ev(3, 1000 + 1800000, "purchase"),
        ev(4, 1000 + 1800000 + 1, "signup"),  # 4th event, not in path
        # 30 min + 1 ms after previous -> NEW session
        ev(5, 1000 + 1800000 + 1 + 1800001, "error"),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "paths")
    got = {
        r.path: (r.n_sessions, r.avg_events)
        for r in QUERY_REGISTRY["q196_session_path_analysis"].fn(spark, d).collect()
    }
    assert got == {"view>click>purchase": (1, 4.0), "error": (1, 1.0)}


# ---------------------------------------------------------------------------
# Batch-8 pins (q197-q201)
# ---------------------------------------------------------------------------


def test_capped_balance_planted_clamps(spark, tmp_path_factory):
    """Hand-traced clamp recurrence for one user (cap 100, floor 0):
    purchases +80, +50 (clamp top at 130 -> 100), error -120 (clamp
    bottom -> 0), purchase +30, click +999 ignored -> final 30,
    one top clamp, one bottom clamp.  Prefix-sum semantics would
    give 80+50-120+30 = 40 — the test distinguishes the two."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, etype, v):
        return (eid, t0 + datetime.timedelta(seconds=eid), 1, etype, v, "{}")

    rows = [
        ev(1, "purchase", 80.0),
        ev(2, "purchase", 50.0),
        ev(3, "error", 120.0),
        ev(4, "purchase", 30.0),
        ev(5, "click", 999.0),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "bal")
    got = QUERY_REGISTRY["q197_capped_running_balance"].fn(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_events, r.final_balance) == (5, 30.0)
    assert (r.n_clamped_top, r.n_clamped_bottom) == (1, 1)
    assert r.final_balance != 40.0  # the prefix-sum wrong answer


def test_benford_digit_extraction_boundaries(spark, tmp_path_factory):
    """First-digit binning on planted totals spanning every magnitude
    bin, including exact powers of 10 (the log10-library hazard the
    CASE formulation exists to avoid)."""
    totals = [1.0, 9.99, 10.0, 99.0, 100.0, 999.0, 1000.0, 123456.0,
              1000000.0, 9999999.0, 0.5]  # 0.5 filtered (< 1)
    rows = [
        (i, 1, "O", v, datetime.datetime(2024, 1, 1), "1-URGENT")
        for i, v in enumerate(totals)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(
                rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            )
        },
        "benford",
    )
    got = {
        r.digit: r.n
        for r in QUERY_REGISTRY["q198_benford_digit_audit"].fn(spark, d).collect()
    }
    # digits: 1,9,1,9,1,9,1,1,1,9 -> six 1s, four 9s; 0.5 excluded
    assert got == {1: 6, 9: 4}


def test_crosscorrelation_planted_shifted_series(spark, tmp_path_factory):
    """Purchases exactly one hour after clicks: r must be 1.0 at
    lag +1 (perfect linear track) and the lag-0 pairing must see the
    misaligned (weaker) relation."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    clicks_per_hour = [1, 5, 2, 8, 3, 9, 4]
    for h, n in enumerate(clicks_per_hour):
        for _ in range(n):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(hours=h, seconds=eid % 60),
                         1, "click", 1.0, "{}"))
        for _ in range(n):  # same count, one hour later
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(hours=h + 1, seconds=eid % 60),
                         1, "purchase", 1.0, "{}"))
    d = _stage_events(spark, tmp_path_factory, rows, "xcorr")
    got = {r.lag: r.r for r in
           QUERY_REGISTRY["q199_hourly_crosscorrelation"].fn(spark, d).collect()}
    assert got[1] == 1.0
    assert got[0] < 1.0


def test_funnel_latency_strictly_later_purchase(spark, tmp_path_factory):
    """A purchase BEFORE the first click must not count; the first
    strictly-later purchase defines the latency.  Two users with
    hand-known latencies 60s and 120s -> p50 = 90s (interpolated)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 1, "purchase", 0),   # before first click: ignored
        ev(2, 1, "click", 10),
        ev(3, 1, "purchase", 70),  # latency 60 s
        ev(4, 1, "purchase", 500),  # not first
        ev(5, 2, "click", 0),
        ev(6, 2, "purchase", 120),  # latency 120 s
        ev(7, 3, "click", 0),       # never converts
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "funnel")
    got = QUERY_REGISTRY["q200_funnel_latency_quantiles"].fn(spark, d).collect()[0]
    assert got.n == 2
    assert got.p_50 == round((60000 + 120000) / 2, 6)
    assert got.p_99 == round(60000 + 0.99 * 60000, 6)


def test_zipf_fit_perfect_power_law(spark, tmp_path_factory):
    """A corpus built so token counts follow EXACTLY c = 64/rank
    (counts 64,32,16,8 for ranks 1..4 after the min-count cut) must
    fit slope -1 with R^2 = 1 under ln-ln OLS... but 64/rank is only
    a power law at slope -1 for rank in powers of 2 — so plant counts
    64,32,16,8 at ranks 1,2,3,4: ln(c) = ln(64) - ln(2)*log2(rank),
    which is linear in ln(rank) ONLY at ranks {1,2,4,8}.  Use ranks
    {1,2,4,8} padding with below-threshold noise tokens."""
    import math

    counts = {"a": 64, "b": 32, "c": 16, "d": 8}
    words = []
    for w, n in counts.items():
        words += [w] * n
    rows = [(i, w, "en", "s", len(w)) for i, w in enumerate(words)]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "zipf",
    )
    got = QUERY_REGISTRY["q201_token_zipf_fit"].fn(spark, d).collect()[0]
    assert got.n_tokens == 4
    # replay the OLS in pure python over (ln rank, ln count)
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(c) for c in (64, 32, 16, 8)]
    n = 4
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert got.zipf_slope == round(slope, 6)
    assert got.intercept == round((sy - slope * sx) / n, 6)
    assert got.r2 == round(r2, 6)


# ---------------------------------------------------------------------------
# Batch-9 pins (q202-q206)
# ---------------------------------------------------------------------------


def test_rfm_planted_quintiles(spark, tmp_path_factory):
    """Five purchasing users with strictly ordered R/F/M -> with
    ntile(5) each lands alone in a bucket; hand-computed scores.
    A sixth user with only clicks must be absent, and a later view
    event pins 'now'."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, days, v):
        return (eid, t0 + datetime.timedelta(days=days), uid, etype, v, "{}")

    rows = []
    eid = 0
    # user u: last purchase at day u*2, freq = u purchases, monetary u*10
    for u in range(1, 6):
        for k in range(u):
            eid += 1
            rows.append(ev(eid, u, "purchase", u * 2 - k, 10.0))
    rows.append(ev(99, 9, "click", 50, 1.0))  # non-purchaser; also 'now'
    d = _stage_events(spark, tmp_path_factory, rows, "rfm")
    got = {
        r.user_id: (r.recency_days, r.frequency, r.monetary,
                    r.r_score, r.f_score, r.m_score, r.rfm_code)
        for r in QUERY_REGISTRY["q202_rfm_segmentation"].fn(spark, d).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    # recency: now = day 50; user u last purchase day u*2
    for u in range(1, 6):
        rec, freq, mon, r, f, m, code = got[u]
        assert rec == 50 - u * 2
        assert freq == u
        assert mon == u * 10.0
        # user 5: most recent (r=5), most frequent (f=5), highest spend (m=5)
        assert (r, f, m) == (u, u, u)
        assert code == u * 111


def test_label_medoid_planted_and_tie(spark, tmp_path_factory):
    """Label 0: v2 = [0.8, 0.6] sits between [1,0] and [0,1] ->
    medoid with total cosine 1.4.  Label 1: two orthogonal vectors
    tie at 0.0 -> the LOWER vec_id must win."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.8, 0.6], 0),
        (3, [0.0, 1.0], 0),
        (10, [1.0, 0.0], 1),
        (11, [0.0, 1.0], 1),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "embeddings": spark.createDataFrame(
                rows, "vec_id long, embedding array<float>, label int"
            )
        },
        "medoid",
    )
    got = {
        r.label: (r.medoid_id, r.total_cos, r.n_members)
        for r in QUERY_REGISTRY["q203_label_medoids"].fn(spark, d).collect()
    }
    assert got[0] == (2, 1.4, 3)
    assert got[1] == (10, 0.0, 2)


def test_burstiness_regular_clock_and_hand_gaps(spark, tmp_path_factory):
    """A metronome (every 60 s) has cv 0 and burstiness -1; gaps
    [10 s, 40 s] give mean 25, population sigma 15, cv 0.6,
    burstiness -0.25.  A cross-midnight gap must NOT count."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, etype, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), 1, etype, 1.0, "{}")

    rows = [ev(i, "click", 60 * i) for i in range(5)]  # 4 gaps of 60 s
    rows += [ev(10, "error", 0), ev(11, "error", 10), ev(12, "error", 50)]
    # purchase: one event at 23:59:50, one at 00:00:10 next day -> no gap
    rows += [ev(20, "purchase", 86390), ev(21, "purchase", 86410)]
    d = _stage_events(spark, tmp_path_factory, rows, "burst")
    got = {
        r.event_type: (r.n_gaps, r.mean_gap_s, r.cv, r.burstiness)
        for r in QUERY_REGISTRY["q204_interarrival_burstiness"].fn(spark, d).collect()
    }
    assert got["click"] == (4, 60.0, 0.0, -1.0)
    assert got["error"] == (2, 25.0, 0.6, -0.25)
    # purchase's only adjacent pair straddles midnight -> zero gaps,
    # so the type must be absent entirely
    assert "purchase" not in got


def test_cohort_ltv_hand_triangle(spark, tmp_path_factory):
    """Two Jan users (one buys $100 in Jan and $50 in Feb), one Feb
    user ($20 in Feb): the cumulative per-user curve is hand-known,
    including the divide-by-cohort-size convention."""
    def ev(eid, uid, etype, month, day, v):
        return (eid, datetime.datetime(2024, month, day), uid, etype, v, "{}")

    rows = [
        ev(1, 1, "signup", 1, 5, 0.0),
        ev(2, 1, "purchase", 1, 10, 100.0),
        ev(3, 1, "purchase", 2, 10, 50.0),
        ev(4, 2, "click", 1, 20, 0.0),     # Jan cohort, never buys
        ev(5, 3, "purchase", 2, 15, 20.0),  # Feb cohort
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "ltv")
    got = {
        (r.cohort.month, r.age_months): (r.n_users, r.month_revenue, r.cum_ltv_per_user)
        for r in QUERY_REGISTRY["q205_cohort_ltv_curves"].fn(spark, d).collect()
    }
    assert got[(1, 0)] == (2, 100.0, 50.0)
    assert got[(1, 1)] == (2, 50.0, 75.0)
    assert got[(2, 0)] == (1, 20.0, 20.0)
    assert len(got) == 3


def test_gini_hand_computed_and_uniform(spark, tmp_path_factory):
    """Orders [1,1,1,1,6] dollars: Gini = 0.4, top-20% share = 0.6
    (k = 1, the 6).  All-equal orders: Gini 0, top-20% share exactly
    k/n (tie block straddles the cut, overlap arithmetic)."""
    def orders_dir(name, totals):
        rows = [
            (i, 1, "O", v, datetime.datetime(2024, 1, 1), "1-URGENT")
            for i, v in enumerate(totals)
        ]
        return _stage_tables(
            spark,
            tmp_path_factory,
            {
                "orders": spark.createDataFrame(
                    rows,
                    "o_orderkey long, o_custkey long, o_orderstatus string, "
                    "o_totalprice double, o_orderdate timestamp, "
                    "o_orderpriority string",
                )
            },
            name,
        )

    fn = QUERY_REGISTRY["q206_revenue_concentration"].fn
    g1 = fn(spark, orders_dir("gini1", [1.0, 1.0, 1.0, 1.0, 6.0])).collect()[0]
    assert (g1.n_orders, g1.total_revenue) == (5, 10.0)
    assert g1.gini == 0.4
    assert g1.top20_share == 0.6
    g2 = fn(spark, orders_dir("gini2", [2.0] * 5)).collect()[0]
    assert g2.gini == 0.0
    assert g2.top20_share == round(1 / 5, 6)


def test_centroid_medoid_proxy_agreement_and_divergence(
    spark, tmp_path_factory
):
    """Label 0 (the q203 planted cluster): proxy and exact medoid
    agree on [1,0] / [0.8,0.6] / [0,1] -> both pick vec 2.
    Label 7: a LONG outlier [10,0] drags the centroid toward itself
    (centroid uses magnitudes, cosine-medoid does not), so the proxy
    picks the outlier while the exact medoid is the middle vector —
    the documented divergence mode of the linear approximation."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.8, 0.6], 0),
        (3, [0.0, 1.0], 0),
        (10, [10.0, 0.0], 7),
        (11, [0.0, 1.0], 7),
        (12, [0.7, 0.7], 7),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "embeddings": spark.createDataFrame(
                rows, "vec_id long, embedding array<float>, label int"
            )
        },
        "cmed",
    )
    proxy = {
        r.label: r.proxy_medoid_id
        for r in QUERY_REGISTRY["q207_centroid_medoid_proxy"].fn(spark, d).collect()
    }
    exact = {
        r.label: r.medoid_id
        for r in QUERY_REGISTRY["q203_label_medoids"].fn(spark, d).collect()
    }
    assert proxy[0] == exact[0] == 2
    assert exact[7] == 12  # cosine medoid: the 45-degree middle vector
    assert proxy[7] == 10  # centroid dragged to the long outlier


# ---------------------------------------------------------------------------
# Batch-10 pins (q208-q212)
# ---------------------------------------------------------------------------


def _orders_dir(spark, tmp_path_factory, name, rows):
    return _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(
                rows,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            )
        },
        name,
    )


def test_cusum_planted_level_shift(spark, tmp_path_factory):
    """10 days at 10 orders/day then 10 days at 30/day: the CUSUM
    arg-max must land exactly on the last low day, with segment
    means 10 and 30 and peak |S_t - t*mean| = 10*|10-20| = 100."""
    rows = []
    ok = 0
    t0 = datetime.datetime(2024, 1, 1)
    for day in range(20):
        n = 10 if day < 10 else 30
        for _ in range(n):
            ok += 1
            rows.append((ok, 1, "O", 1.0, t0 + datetime.timedelta(days=day),
                         "1-URGENT"))
    d = _orders_dir(spark, tmp_path_factory, "cusum", rows)
    got = QUERY_REGISTRY["q208_order_volume_changepoint"].fn(spark, d).collect()[0]
    day9 = int((t0 + datetime.timedelta(days=9)).timestamp() // 86400)
    assert got.change_dayno == day9
    assert (got.mean_before, got.mean_after) == (10.0, 30.0)
    assert got.cusum_peak == 100.0


def test_abc_boundary_is_strict(spark, tmp_path_factory):
    """Revenues 80/15/5: the 15-part STARTS exactly at the 80% line,
    so the strict < places it in B (and the 5-part starts exactly at
    95% -> C).  One lineitem per part, no discount."""
    lines = [
        (1, 1, 1, 1, 1.0, 80.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
        (2, 2, 1, 1, 1.0, 15.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
        (3, 3, 1, 1, 1.0, 5.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "abc",
    )
    got = {
        r.abc_class: (r.n_parts, r.revenue_share)
        for r in QUERY_REGISTRY["q209_part_abc_classification"].fn(spark, d).collect()
    }
    assert got == {"A": (1, 0.8), "B": (1, 0.15), "C": (1, 0.05)}


def test_negative_sampling_pure_python_replay(spark, tmp_path_factory):
    """The LCG candidate stream replayed in pure python must equal
    the engine's output exactly: existing parts only, purchased
    pairs excluded, j preserved."""
    from team_aragon_spark.plans.star_queries import (
        _NEG_A, _NEG_C, _NEG_K, _NEG_M,
    )

    parts = [(pk, f"p{pk}", "B", "T", 1, 1.0) for pk in range(1, 8)]  # mpk=7
    lines = [
        (100, 3, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
        (101, 5, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
    ]
    orders = [
        (100, 42, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
        (101, 42, "O", 1.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "part": spark.createDataFrame(rows := parts, PART_SCHEMA),
            "lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA),
            "orders": spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string, "
                "o_totalprice double, o_orderdate timestamp, "
                "o_orderpriority string",
            ),
        },
        "negsamp",
    )
    expected = []
    purchased = {3, 5}
    for j in range(1, _NEG_K + 1):
        pk = ((_NEG_A * (42 * (_NEG_K + 1) + j) + _NEG_C) % _NEG_M) % 7 + 1
        if pk not in purchased:  # all 1..7 exist
            expected.append((42, j, pk))
    got = [
        (r.user_id, r.j, r.neg_partkey)
        for r in QUERY_REGISTRY["q210_negative_sampling"].fn(spark, d).collect()
    ]
    assert got == expected
    assert all(pk not in purchased for _, _, pk in got)


def test_assortativity_star_is_minus_one(spark, tmp_path_factory):
    """A star co-purchase graph (hub part in 3 orders, each with one
    distinct leaf) is maximally disassortative: r = -1 exactly."""
    lines = []
    for i, leaf in enumerate([2, 3, 4]):
        ok = 100 + i
        lines.append((ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                      datetime.datetime(2024, 1, 1)))
        lines.append((ok, leaf, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O",
                      datetime.datetime(2024, 1, 1)))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "assort",
    )
    got = QUERY_REGISTRY["q211_degree_assortativity"].fn(spark, d).collect()[0]
    assert got.n_edges == 3
    assert got.assortativity == -1.0


def test_ks_disjoint_supports_d_is_one(spark, tmp_path_factory):
    """Fully separated samples (clicks at 1,2; purchases at 10,20):
    D = 1.0 exactly, attained at the last click value; the tiny-n
    critical value exceeds 1, so reject_05 is False."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0, 1, "click", 2.0, "{}"),
        (3, t0, 1, "purchase", 10.0, "{}"),
        (4, t0, 1, "purchase", 20.0, "{}"),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "ks")
    got = QUERY_REGISTRY["q212_ks_two_sample_test"].fn(spark, d).collect()[0]
    assert (got.n_click, got.n_purchase) == (2, 2)
    assert got.ks_d == 1.0
    assert got.ks_at_value == 2.0
    assert got.crit_05 == round(1.358 * (4 / 4) ** 0.5, 6)
    assert got.reject_05 is False


# ---------------------------------------------------------------------------
# Batch-11 pins (q213-q216)
# ---------------------------------------------------------------------------


def test_markov_heldout_hand_computed(spark, tmp_path_factory):
    """Hand-built split: train users 1-2 fit pred(click)=purchase,
    pred(purchase)=click, global-mode baseline=purchase; test user 5
    scores 2/3 (the click->error transition misses) and the
    error->click transition is EXCLUDED (state unseen in training
    can't be scored — the inner-join convention)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), uid, etype, 1.0, "{}")

    rows = [
        # user 1 (train): click > purchase > click > purchase
        ev(1, 1, "click", 0), ev(2, 1, "purchase", 10),
        ev(3, 1, "click", 20), ev(4, 1, "purchase", 30),
        # user 2 (train): click > error
        ev(5, 2, "click", 0), ev(6, 2, "error", 10),
        # user 5 (test): click > purchase > click > error > click
        ev(7, 5, "click", 0), ev(8, 5, "purchase", 10),
        ev(9, 5, "click", 20), ev(10, 5, "error", 30), ev(11, 5, "click", 40),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "markov")
    got = QUERY_REGISTRY["q213_markov_heldout_accuracy"].fn(spark, d).collect()[0]
    assert (got.n_train, got.n_test) == (4, 3)
    assert got.markov_accuracy == round(2 / 3, 6)
    assert got.baseline_accuracy == round(1 / 3, 6)


def test_feature_hashing_pure_python_replay(spark, tmp_path_factory):
    """The md5 bucket/sign assignment replayed with hashlib must
    equal the engine's bucket rows exactly (collisions included)."""
    import hashlib

    from team_aragon_spark.plans.star_queries import _FH_BUCKETS

    words = ["alpha", "beta", "gamma", "alpha", "beta", "alpha"]
    rows = [(1, " ".join(words), "en", "s", 1)]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "fh",
    )
    from collections import Counter, defaultdict

    exp = defaultdict(lambda: [0, 0, 0])  # bucket -> [occ, tokens, signed]
    for w, c in Counter(words).items():
        hv = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        b, sgn = hv % _FH_BUCKETS, 1 if (hv // _FH_BUCKETS) % 2 == 0 else -1
        exp[b][0] += c
        exp[b][1] += 1
        exp[b][2] += sgn * c
    got = {
        r.bucket: [r.n_occurrences, r.n_tokens, r.signed_sum]
        for r in QUERY_REGISTRY["q214_feature_hashing"].fn(spark, d).collect()
    }
    assert got == dict(exp)


def test_quantile_normalization_ties_and_singleton(spark, tmp_path_factory):
    """Lengths 1/2/3 in one source -> pct 0 / 0.5 / 1; a singleton
    source pins the n=1 -> 0.0 convention; equal lengths take
    DISTINCT pct ranks in doc_id order (total-order ranking, not
    average ranks)."""
    rows = [
        (1, "a", "s1", "s1", 1),
        (2, "a b", "s1", "s1", 3),
        (3, "a b c", "s1", "s1", 5),
        (4, "solo doc here", "s2", "s2", 13),
        (10, "x y", "s3", "s3", 3),
        (11, "p q", "s3", "s3", 3),
    ]
    rows = [(i, t, "en", src, n) for (i, t, src, _, n) in rows]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "documents": spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )
        },
        "qnorm",
    )
    got = {
        r.doc_id: r.pct_rank
        for r in QUERY_REGISTRY["q215_source_quantile_normalization"]
        .fn(spark, d)
        .collect()
    }
    assert (got[1], got[2], got[3]) == (0.0, 0.5, 1.0)
    assert got[4] == 0.0
    assert (got[10], got[11]) == (0.0, 1.0)  # tie broken by doc_id


def test_link_prediction_square_graph(spark, tmp_path_factory):
    """Baskets {1,2},{1,3},{4,2},{4,3} (each duplicated so every
    edge clears min support 2) build a 4-cycle; the two diagonals
    (1,4) and (2,3) are the only common-neighbor non-edges, each
    with Jaccard 1.0 (two degree-2 neighborhoods that coincide)."""
    baskets = {
        100: [1, 2], 101: [1, 3], 102: [4, 2], 103: [4, 3],
        200: [1, 2], 201: [1, 3], 202: [4, 2], 203: [4, 3],
    }
    lines = [
        (ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
         datetime.datetime(2024, 1, 1))
        for ok, pks in baskets.items()
        for pk in pks
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "linkpred",
    )
    got = [
        (r.part_a, r.part_b, r.common_neighbors, r.jaccard)
        for r in QUERY_REGISTRY["q216_copurchase_link_prediction"]
        .fn(spark, d)
        .collect()
    ]
    assert got == [(1, 4, 2, 1.0), (2, 3, 2, 1.0)]


# ---------------------------------------------------------------------------
# Batch-12 pins (q217-q219)
# ---------------------------------------------------------------------------


def test_calibration_bins_hand_computed(spark, tmp_path_factory):
    """On the q213 planted split: pred(click)=purchase at confidence
    2/3 (bin 6), pred(purchase)=click at 1.0 (clamped to bin 9).
    Test transitions: two from state click (one hit, one miss) and
    one from purchase (hit) -> bin 6 shows the 2/3-vs-0.5 gap,
    bin 9 is perfectly calibrated."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 1, "click", 0), ev(2, 1, "purchase", 10),
        ev(3, 1, "click", 20), ev(4, 1, "purchase", 30),
        ev(5, 2, "click", 0), ev(6, 2, "error", 10),
        ev(7, 5, "click", 0), ev(8, 5, "purchase", 10),
        ev(9, 5, "click", 20), ev(10, 5, "error", 30), ev(11, 5, "click", 40),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "calib")
    got = {
        r.bin: (r.n, r.mean_confidence, r.observed_accuracy, r.calibration_gap)
        for r in QUERY_REGISTRY["q217_prediction_calibration"].fn(spark, d).collect()
    }
    conf = round(2 / 3, 6)
    assert got[6] == (2, conf, 0.5, round(2 / 3 - 0.5, 6))
    assert got[9] == (1, 1.0, 1.0, 0.0)
    assert set(got) == {6, 9}


def test_mann_kendall_monotone_and_constant(spark, tmp_path_factory):
    """A strictly increasing 10-day series: S = 45, no ties,
    z = 44/sqrt(125), trend flagged.  A constant series: S = 0 and
    the all-tied variance collapses to 0 — the z CASE must return 0
    without dividing."""
    t0 = datetime.datetime(2024, 1, 1)

    def orders_for(counts, name):
        rows = []
        ok = 0
        for day, n in enumerate(counts):
            for _ in range(n):
                ok += 1
                rows.append((ok, 1, "O", 1.0,
                             t0 + datetime.timedelta(days=day), "1-URGENT"))
        return _orders_dir(spark, tmp_path_factory, name, rows)

    fn = QUERY_REGISTRY["q218_mann_kendall_trend"].fn
    up = fn(spark, orders_for(list(range(1, 11)), "mk_up")).collect()[0]
    assert (up.n_days, up.s_stat) == (10, 45)
    assert up.z == round(44 / 125 ** 0.5, 6)
    assert up.trend_05 is True
    flat = fn(spark, orders_for([3] * 8, "mk_flat")).collect()[0]
    assert (flat.s_stat, flat.z, flat.trend_05) == (0, 0.0, False)


def test_bootstrap_pure_python_replay(spark, tmp_path_factory):
    """The Poisson-bootstrap weights and trimmed CI replayed in pure
    python over 5 planted orders must equal the engine exactly."""
    from team_aragon_spark.plans.star_queries import (
        _BOOT_A, _BOOT_B, _BOOT_C, _BOOT_M,
        _BOOT_T1, _BOOT_T2, _BOOT_T3, _BOOT_T4,
    )

    totals = {ok: 100.0 * ok for ok in range(1, 21)}  # 20 orders
    rows = [
        (ok, 1, "O", v, datetime.datetime(2024, 1, 1), "1-URGENT")
        for ok, v in totals.items()
    ]
    d = _orders_dir(spark, tmp_path_factory, "boot", rows)

    means = []
    for b in range(1, _BOOT_B + 1):
        num = den = 0
        for ok, v in totals.items():
            u = (_BOOT_A * ((ok * (_BOOT_B + 1) + b) % _BOOT_M) + _BOOT_C) % _BOOT_M
            wt = sum(u < t for t in (_BOOT_T1, _BOOT_T2, _BOOT_T3, _BOOT_T4))
            num += wt * int(round(v * 100))
            den += wt
        if den > 0:  # the engine's empty-resample drop convention
            means.append((num * 1.0 / den / 100, b))
    means.sort()
    trimmed = [m for m, _ in means[1:-1]]
    got = QUERY_REGISTRY["q219_hash_bootstrap_ci"].fn(spark, d).collect()[0]
    assert got.n_resamples == len(trimmed)
    assert got.ci_low == round(min(trimmed), 4)
    assert got.ci_high == round(max(trimmed), 4)
    assert got.boot_mean == round(sum(trimmed) / len(trimmed), 4)


# ---------------------------------------------------------------------------
# Batch-13 pins (q220-q222)
# ---------------------------------------------------------------------------


def test_streaming_histogram_hand_bins_and_clamp(spark, tmp_path_factory):
    """Clicks at values 0,0,8,8 -> bins {0:2, 1:2}: p50 lands at
    rank 1.5 in bin 0 (est 6.0), p90 at 2.7 in bin 1 (est 10.8),
    p99 at 2.97 (est 11.88).  A 600-valued error event must clamp
    into the last bin (63) and interpolate inside it."""
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "click", 0.0, "{}"),
        (2, t0, 1, "click", 0.0, "{}"),
        (3, t0, 1, "click", 8.0, "{}"),
        (4, t0, 1, "click", 8.0, "{}"),
        (5, t0, 1, "error", 600.0, "{}"),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "shist")
    got = {
        (r.event_type, r.p): (r.n, r.est)
        for r in QUERY_REGISTRY["q220_streaming_value_histogram"].fn(spark, d).collect()
    }
    assert got[("click", 0.5)] == (4, 6.0)
    assert got[("click", 0.9)] == (4, 10.8)
    assert got[("click", 0.99)] == (4, 11.88)
    # clamped: bin 63 starts at 504; single row -> target 0 -> est 504
    assert got[("error", 0.5)] == (1, 504.0)


def test_pit_join_boundaries_and_same_ts_update(spark, tmp_path_factory):
    """Interval semantics pinned end to end: click before any
    purchase -> NULL; click exactly AT a purchase ts -> that
    purchase (from-inclusive); between versions -> earlier version;
    two purchases at the SAME ts -> the higher event_id wins (the
    lead()-order zero-width-interval convention)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, secs, v):
        return (eid, t0 + datetime.timedelta(seconds=secs), uid, etype, v, "{}")

    rows = [
        ev(10, 1, "purchase", 100, 10.0),
        ev(20, 1, "purchase", 200, 20.0),
        ev(1, 1, "click", 50, 0.0),    # before -> NULL
        ev(2, 1, "click", 100, 0.0),   # at v1 -> 10
        ev(3, 1, "click", 150, 0.0),   # between -> 10
        ev(4, 1, "click", 200, 0.0),   # at v2 -> 20
        ev(5, 1, "click", 300, 0.0),   # after -> 20
        # user 2: same-ts double update, click at that ts
        ev(30, 2, "purchase", 100, 30.0),
        ev(31, 2, "purchase", 100, 40.0),
        ev(6, 2, "click", 100, 0.0),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "pit")
    got = {
        r.event_id: r.value_at_click
        for r in QUERY_REGISTRY["q221_point_in_time_feature_join"].fn(spark, d).collect()
    }
    assert got == {1: None, 2: 10.0, 3: 10.0, 4: 20.0, 5: 20.0, 6: 40.0}


def test_process_conformance_planted_rules(spark, tmp_path_factory):
    """Four planted single-user sessions (separated by > 30 min):
    'vcp' conforms, 'pv' violates unattributed-purchase, 'ev'
    violates error-start, 'ecp' violates ONLY error-start (its
    purchase has a prior click)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, secs, etype):
        return (eid, t0 + datetime.timedelta(seconds=secs), 1, etype, 1.0, "{}")

    sessions = [
        ["view", "click", "purchase"],
        ["purchase", "view"],
        ["error", "view"],
        ["error", "click", "purchase"],
    ]
    rows = []
    eid = 0
    base = 0
    for sess in sessions:
        for k, etype in enumerate(sess):
            eid += 1
            rows.append(ev(eid, base + k, etype))
        base += 10000  # > 30 min gap
    d = _stage_events(spark, tmp_path_factory, rows, "conform")
    got = QUERY_REGISTRY["q222_process_conformance"].fn(spark, d).collect()[0]
    assert got.n_sessions == 4
    assert got.n_unattributed_purchase == 1  # 'pv'
    assert got.n_error_start == 2  # 'ev', 'ecp'
    assert got.n_conforming == 1  # 'vcp'
    assert got.conforming_share == 0.25


# ---------------------------------------------------------------------------
# Batch-14 pins (q223-q225)
# ---------------------------------------------------------------------------


def test_wasserstein_one_bin_shift_and_zero(spark, tmp_path_factory):
    """Clicks move from value 0 (first half) to value 8 (second
    half): all mass shifts exactly one 8-wide bin -> W1 = 8.0.
    Views identical in both halves -> W1 = 0.0."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, etype, secs, v):
        return (eid, t0 + datetime.timedelta(seconds=secs), 1, etype, v, "{}")

    rows = [
        ev(1, "click", 0, 0.0), ev(2, "click", 1, 0.0),
        ev(3, "click", 999, 8.0), ev(4, "click", 1000, 8.0),
        ev(10, "view", 0, 16.0), ev(11, "view", 1000, 16.0),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "w1")
    got = {
        r.event_type: (r.n_first_half, r.n_second_half, r.w1_distance)
        for r in QUERY_REGISTRY["q223_wasserstein_value_drift"].fn(spark, d).collect()
    }
    assert got["click"] == (2, 2, 8.0)
    assert got["view"] == (1, 1, 0.0)


def test_daily_peaks_height_gate_and_gap_day(spark, tmp_path_factory):
    """Series 10,12,10,30,10: the 12-peak fails the 1.2x-mean gate
    (mean 14.4), the 30-peak passes.  A second window 10,[gap],40,10
    must NOT flag 40 (its lag neighbor is not calendar-adjacent)."""
    t0 = datetime.datetime(2024, 1, 1)

    def orders_for(day_counts, name):
        rows = []
        ok = 0
        for day, n in day_counts:
            for _ in range(n):
                ok += 1
                rows.append((ok, 1, "O", 1.0,
                             t0 + datetime.timedelta(days=day), "1-URGENT"))
        return _orders_dir(spark, tmp_path_factory, name, rows)

    fn = QUERY_REGISTRY["q224_daily_order_peaks"].fn
    d1 = orders_for([(0, 10), (1, 12), (2, 10), (3, 30), (4, 10)], "pk1")
    got = [(r.orders, r.vs_mean) for r in fn(spark, d1).collect()]
    assert got == [(30, round(30 * 5 / 72, 6))]
    spark.catalog.clearCache()
    # gap: days 0,1,3,4 — 40 at day 3 has no day-2 neighbor
    d2 = orders_for([(0, 10), (1, 10), (3, 40), (4, 10)], "pk2")
    assert fn(spark, d2).collect() == []


def test_theil_sen_perfect_line_and_outlier(spark, tmp_path_factory):
    """Counts 3,5,7,9,11 over consecutive days: every pairwise slope
    is 2.0 -> median 2.0 over 10 slopes.  One day blown up to 1000
    still leaves the majority of slopes at 2.0 -> the median holds
    (the 29%-breakdown robustness OLS lacks)."""
    t0 = datetime.datetime(2024, 1, 1)

    def orders_for(counts, name):
        rows = []
        ok = 0
        for day, n in enumerate(counts):
            for _ in range(n):
                ok += 1
                rows.append((ok, 1, "O", 1.0,
                             t0 + datetime.timedelta(days=day), "1-URGENT"))
        return _orders_dir(spark, tmp_path_factory, name, rows)

    fn = QUERY_REGISTRY["q225_theil_sen_slope"].fn
    line = fn(spark, orders_for([3, 5, 7, 9, 11], "ts1")).collect()[0]
    assert (line.theil_sen_slope, line.n_slopes) == (2.0, 10)
    spark.catalog.clearCache()
    out = fn(spark, orders_for([3, 5, 1000, 9, 11], "ts2")).collect()[0]
    assert out.theil_sen_slope == 2.0


# ---------------------------------------------------------------------------
# Batch-15 pins (q226-q227)
# ---------------------------------------------------------------------------


def test_windowed_funnel_step_windows(spark, tmp_path_factory):
    """Per-user journeys pin every depth and both boundary rules:
    A converts fully within windows (depth 3); B's click misses the
    30-min window (depth 1); C's purchase misses ITS window even
    though it is near the view (depth 2); D has no view (absent);
    E's click lands exactly ON the 30-min boundary (inclusive ->
    depth 2)."""
    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, etype, secs):
        return (eid, t0 + datetime.timedelta(seconds=secs), uid, etype, 1.0, "{}")

    rows = [
        ev(1, 1, "view", 0), ev(2, 1, "click", 600), ev(3, 1, "purchase", 1200),
        ev(4, 2, "view", 0), ev(5, 2, "click", 2400),          # 40 min: out
        ev(6, 3, "view", 0), ev(7, 3, "click", 600),
        ev(8, 3, "purchase", 600 + 2400),                      # 40 min after click
        ev(9, 4, "click", 0),                                  # never viewed
        ev(10, 5, "view", 0), ev(11, 5, "click", 1800),        # exactly 30 min
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "wfunnel")
    got = {
        r.depth: (r.n_users, r.share)
        for r in QUERY_REGISTRY["q226_windowed_funnel"].fn(spark, d).collect()
    }
    # anchored users: 1, 2, 3, 5 -> depths 3, 1, 2, 2
    assert got[3] == (1, 0.25)
    assert got[2] == (2, 0.5)
    assert got[1] == (1, 0.25)
    assert set(got) == {1, 2, 3}


def test_weighted_quantiles_lower_convention(spark, tmp_path_factory):
    """Prices 10/20/30 with quantities 1/1/8: half the UNITS sit at
    30 (cum weights 1,2,10 of W=10: first cw*2 >= 10 is price 30),
    while the unweighted median would be 20 — the test separates the
    weighted from the unweighted semantics; p90 also lands on 30."""
    lines = [
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
        (2, 2, 1, 1, 1.0, 20.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
        (3, 3, 1, 1, 8.0, 30.0, 0.0, 0.0, "N", "O", datetime.datetime(2024, 1, 1)),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "wq",
    )
    got = QUERY_REGISTRY["q227_weighted_quantiles"].fn(spark, d).collect()[0]
    assert (got.flag, got.total_weight) == ("N", 10)
    assert got.p_50 == 30.0
    assert got.p_90 == 30.0


# ---------------------------------------------------------------------------
# Batch 17: survival, forecasting, heavy hitters, keywords
# ---------------------------------------------------------------------------

_ORDERS_SCHEMA_B17 = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)

_DOCS_SCHEMA_B17 = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def test_kaplan_meier_censoring_and_risk_sets(spark, tmp_path_factory):
    """Hand-computed KM curve: censored customers enter every risk set
    they survive but never the event count; S multiplies only at
    event times.  c1 (t=10, event), c2 (t=20, event), c3 (t=150,
    censored: last order 50d before corpus end), c4 (t=0, censored
    anchor) => S(10) = 2/3, S(20) = 2/3 * 1/2 = 1/3."""
    day0 = datetime.datetime(2024, 1, 1)

    def at(days):
        return day0 + datetime.timedelta(days=days)

    orders = [
        (1, 1, "O", 1.0, at(0), "1-URGENT"),
        (2, 1, "O", 1.0, at(10), "1-URGENT"),
        (3, 2, "O", 1.0, at(0), "1-URGENT"),
        (4, 2, "O", 1.0, at(20), "1-URGENT"),
        (5, 3, "O", 1.0, at(0), "1-URGENT"),
        (6, 3, "O", 1.0, at(150), "1-URGENT"),
        (7, 4, "O", 1.0, at(200), "1-URGENT"),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "km",
    )
    rows = [
        (r.t_days, r.n_risk, r.n_events, r.survival)
        for r in QUERY_REGISTRY["q228_kaplan_meier_survival"].fn(spark, d).collect()
    ]
    assert rows == [(10, 3, 1, 0.666667), (20, 2, 1, 0.333333)]


def test_ses_fold_recurrence_exact(spark, tmp_path_factory):
    """The smoothing fold on counts [4, 8, 8] (alpha = 0.25, an exact
    binary fraction): s = 4 -> 5 -> 5.75, one-step SSE = 16 + 9 = 25,
    RMSE = sqrt(25/2).  Gap days (0, 5, 6) are consecutive
    OBSERVATIONS — the documented row-sequence convention."""
    day0 = datetime.datetime(2024, 1, 1)
    orders, ok = [], 0
    for dayno, cnt in ((0, 4), (5, 8), (6, 8)):
        for _ in range(cnt):
            ok += 1
            orders.append(
                (ok, 1, "O", 1.0,
                 day0 + datetime.timedelta(days=dayno), "1-URGENT")
            )
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "ses",
    )
    rows = QUERY_REGISTRY["q229_ses_forecast"].fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.priority, r.n_days, r.level) == ("1-URGENT", 3, 5.75)
    assert r.rmse == round((25 / 2) ** 0.5, 6)


def test_backtest_naive7_exact_on_weekly_pattern(spark, tmp_path_factory):
    """A perfectly 7-periodic daily series makes the seasonal-naive
    model EXACT (mae = rmse = 0) while the trailing mean stays wrong —
    the separation that proves lag-7 is measured per observation and
    the evaluation window starts at rn > 28."""
    day0 = datetime.datetime(2024, 1, 1)
    lines, lk = [], 0
    for i in range(36):
        for _ in range((i % 7) + 1):
            lk += 1
            lines.append(
                (lk, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 day0 + datetime.timedelta(days=i))
            )
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "bt",
    )
    got = {
        r.model: (r.n_days, r.mae, r.rmse)
        for r in QUERY_REGISTRY["q230_forecast_backtest"].fn(spark, d).collect()
    }
    assert got["naive_lag7"] == (8, 0.0, 0.0)
    n_days, mae, rmse = got["trailing_mean28"]
    assert n_days == 8 and mae > 0 and rmse >= mae


def test_misra_gries_superset_guarantee_adversarial(spark):
    """The pigeonhole guarantee under adversarial layout: a global
    heavy hitter diluted across 10 round-robin partitions (never
    locally dominant) must still survive SOME partition's k=9
    summary — the property the q231 two-pass plan rests on."""
    from team_aragon_spark.operators.corpus import misra_gries_candidates

    rows = [("hh",)] * 50 + [(f"f{i}",) for i in range(60) for _ in range(6)]
    df = spark.createDataFrame(rows, "term string").repartition(10)
    cand = {r.term for r in misra_gries_candidates(df, "term", 9).collect()}
    assert "hh" in cand  # 50 > n/(k+1) = 410/10


def test_misra_gries_query_equals_brute_force(spark, tmp_path_factory):
    """End-to-end q231 on planted documents equals the brute-force
    full groupBy with the same integer threshold."""
    docs = [
        (i, "common common rare%d filler%d" % (i, i), "en", "s", 0)
        for i in range(40)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"documents": spark.createDataFrame(docs, _DOCS_SCHEMA_B17)},
        "mg",
    )
    got = [
        (r.term, r.cnt)
        for r in QUERY_REGISTRY["q231_misra_gries_heavy_hitters"].fn(spark, d).collect()
    ]
    # 160 tokens total; threshold n/300 < 1 token, so EVERY distinct
    # term with cnt*300 > 160 qualifies -> brute force = all terms
    # with cnt >= 1; sharpen by checking against explicit counts.
    assert ("common", 80) == got[0]
    assert len(got) == 81 and all(c * 300 > 160 for _, c in got)


def test_llr_keywords_enrichment_gate_and_value(spark, tmp_path_factory):
    """Hand-computed G2 for a source-exclusive token; the enrichment
    gate (a*n > at*ns) must drop a token whose in-source share does
    not exceed its corpus share."""
    import math

    docs = [
        (1, "zzz zzz zzz common", "en", "A", 0),
        (2, "common common common yyy", "en", "B", 0),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"documents": spark.createDataFrame(docs, _DOCS_SCHEMA_B17)},
        "llr",
    )
    rows = QUERY_REGISTRY["q232_llr_keywords"].fn(spark, d).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # A: zzz is rank 1; 'common' (share 1/4 vs corpus 4/8) is gated out
    assert by_src["A"][0].term == "zzz"
    assert all(r.term != "common" for r in by_src["A"])
    # hand-computed G2 for zzz in A: a=3 b=0 c=1 d=4, n=8 at=3 ns=4
    expect = round(2.0 * (3 * math.log(2.0) + math.log(0.4)
                          + 4 * math.log(1.6)), 4)
    assert by_src["A"][0].llr == expect
    # B: both common and yyy are enriched; ranks are 1..k dense
    assert [r.rank for r in by_src["B"]] == list(range(1, len(by_src["B"]) + 1))


# ---------------------------------------------------------------------------
# Batch 18: rank correlation, YoY, l-diversity, classifier eval
# ---------------------------------------------------------------------------

_CUSTOMER_SCHEMA_B18 = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)


def test_spearman_monotone_ties_and_nonlinearity(spark, tmp_path_factory):
    """Spearman must hit exactly +1 on any strictly monotone pair —
    even a nonlinear one where Pearson < 1 — and the average-rank tie
    convention yields the hand-computed 0.866025 for x = [1,1,2]
    against a strictly increasing partner."""
    lines = [
        # (x=l_quantity, d=l_discount, t=l_tax): q ties, d/t monotone
        (1, 1, 1, 1, 1.0, 1.0, 0.01, 0.01, "N", "O",
         datetime.datetime(2024, 1, 1)),
        (2, 1, 1, 1, 1.0, 1.0, 0.02, 0.02, "N", "O",
         datetime.datetime(2024, 1, 1)),
        (3, 1, 1, 1, 2.0, 1.0, 0.08, 0.08, "N", "O",
         datetime.datetime(2024, 1, 1)),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "spear",
    )
    got = {
        (r.var_x, r.var_y): (r.n, r.spearman_rho)
        for r in QUERY_REGISTRY["q233_spearman_corr"].fn(spark, d).collect()
    }
    # hand-computed with average ranks [1.5, 1.5, 3] vs [1, 2, 3]:
    # rho = 4.5 / sqrt(4.5 * 6) = 0.866025
    assert got[("l_quantity", "l_discount")] == (3, 0.866025)
    assert got[("l_quantity", "l_tax")] == (3, 0.866025)
    # discount vs tax: identical strictly monotone (nonlinear) -> exactly 1
    assert got[("l_discount", "l_tax")] == (3, 1.0)


def test_yoy_growth_first_year_null_and_ratio(spark, tmp_path_factory):
    """First year per segment reports NULL growth; 100 -> 150 reports
    exactly 0.5; segments window independently."""
    orders = [
        (1, 1, "O", 100.0, datetime.datetime(2020, 3, 1), "1-URGENT"),
        (2, 1, "O", 150.0, datetime.datetime(2021, 3, 1), "1-URGENT"),
        (3, 2, "O", 70.0, datetime.datetime(2021, 6, 1), "1-URGENT"),
    ]
    custs = [(1, "c1", 1, 0.0, "SA"), (2, "c2", 1, 0.0, "SB")]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17),
            "customer": spark.createDataFrame(custs, _CUSTOMER_SCHEMA_B18),
        },
        "yoy",
    )
    rows = [
        (r.segment, r.yr, r.revenue, r.yoy_growth)
        for r in QUERY_REGISTRY["q234_yoy_growth"].fn(spark, d).collect()
    ]
    assert rows == [
        ("SA", 2020, 100.0, None),
        ("SA", 2021, 150.0, 0.5),
        ("SB", 2021, 70.0, None),
    ]


def test_l_diversity_homogeneous_group_flagged(spark, tmp_path_factory):
    """A 3-member group sharing ONE segment is k-anonymous (k=3) yet
    l-deficient (l=1) — the homogeneity case q176 cannot flag; at the
    next generalization level the merged group reaches l=3."""
    custs = [
        (1, "a", 1, 5.0, "S1"), (2, "b", 1, 6.0, "S1"), (3, "c", 1, 7.0, "S1"),
        (4, "d", 1, 15.0, "S1"), (5, "e", 1, 16.0, "S2"), (6, "f", 1, 17.0, "S3"),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"customer": spark.createDataFrame(custs, _CUSTOMER_SCHEMA_B18)},
        "ldiv",
    )
    got = {
        r.level: (r.n_groups, r.min_l, r.n_low_diversity_groups,
                  r.n_records_at_risk, r.pct_at_risk)
        for r in QUERY_REGISTRY["q235_l_diversity_audit"].fn(spark, d).collect()
    }
    assert got[0] == (2, 1, 1, 3, 0.5)
    for level in (1, 2, 3):
        assert got[level] == (1, 3, 0, 0, 0.0)


def test_langid_prf1_hand_computed(spark, tmp_path_factory):
    """A German doc written with English markers: en gets precision
    2/3 / recall 1; de gets the 0-convention everywhere (never
    predicted, tp = 0 -> precision = recall = f1 = 0, no 0/0)."""
    docs = [
        (1, "the a and of to", "en", "s", 0),
        (2, "the a and of to the", "en", "s", 0),
        (3, "the a and", "de", "s", 0),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"documents": spark.createDataFrame(docs, _DOCS_SCHEMA_B17)},
        "prf",
    )
    got = {
        r.lang: (r.n_true, r.n_pred, r.tp, r.precision, r.recall, r.f1)
        for r in QUERY_REGISTRY["q236_langid_prf1"].fn(spark, d).collect()
    }
    assert got["en"] == (2, 3, 2, 0.666667, 1.0, 0.8)
    assert got["de"] == (1, 0, 0, 0.0, 0.0, 0.0)


# ---------------------------------------------------------------------------
# Batch 19: weighted SSSP, mutual-NN, info gain, recommender eval
# ---------------------------------------------------------------------------

_EMB_SCHEMA_B19 = "vec_id long, embedding array<float>, label int"


def test_weighted_sssp_relay_beats_direct_edge(spark, tmp_path_factory):
    """With the deterministic toll w = 1 + (7a + 3b) % 10, the parts
    {1,4,5} triangle has w(1,4) = 10 but w(1,5) + w(5,4) = 3 + 4 = 7 —
    the relaxation must route through the relay (hop counting would
    call both 1 hop).  Single-line orders create no edges, so part 9
    stays unreachable and absent."""
    day = datetime.datetime(2024, 1, 1)
    lines, lk = [], 0
    for ok, parts in ((1, (1, 5)), (2, (4, 5)), (3, (1, 4)), (4, (9,))):
        for pk in parts:
            lk += 1
            lines.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "sssp",
    )
    rows = sorted(
        (r.partkey, r.dist)
        for r in QUERY_REGISTRY["q237_weighted_shortest_path"].fn(spark, d).collect()
    )
    assert rows == [(1, 0), (4, 7), (5, 3)]


def test_mutual_nn_kills_asymmetric_hub_match(spark, tmp_path_factory):
    """Hub H is nearest neighbor of both A and B, but only A is H's
    top-1 (equal cosines, neighbor-id tie-break) — so (H, A) is the
    ONLY mutual pair; B->H and C->A stay asymmetric and are dropped."""
    vecs = [
        (1, [1.0, 0.0], 0),    # H
        (2, [1.0, 0.1], 0),    # A (ties with B for H's top-1; lower id wins)
        (3, [1.0, -0.1], 0),   # B
        (4, [0.0, 1.0], 0),    # C
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"embeddings": spark.createDataFrame(vecs, _EMB_SCHEMA_B19)},
        "mnn",
    )
    rows = [
        (r.a, r.b, r.cosine)
        for r in QUERY_REGISTRY["q238_mutual_nn_pairs"].fn(spark, d).collect()
    ]
    assert rows == [(1, 2, 0.995)]  # 1/sqrt(1.01) rounded at 4


def test_info_gain_perfect_split_and_no_split_feature(spark, tmp_path_factory):
    """A feature that separates the classes perfectly earns gain
    exactly H0 = ln 2; a single-valued feature has NO legal threshold
    (empty right side) and is absent; a weak feature earns the
    hand-computed 0.056633."""
    import math

    day = datetime.datetime(2024, 1, 1)
    rows = [
        # (quantity, flag, tax): q=1 -> A, q=2 -> N; discount constant
        (1, 1, 1, 1, 1.0, 1.0, 0.05, 0.01, "A", "O", day),
        (2, 1, 1, 1, 1.0, 1.0, 0.05, 0.02, "A", "O", day),
        (3, 1, 1, 1, 1.0, 1.0, 0.05, 0.01, "A", "O", day),
        (4, 1, 1, 1, 2.0, 1.0, 0.05, 0.02, "N", "O", day),
        (5, 1, 1, 1, 2.0, 1.0, 0.05, 0.01, "N", "O", day),
        (6, 1, 1, 1, 2.0, 1.0, 0.05, 0.02, "N", "O", day),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(rows, LINEITEM_SCHEMA)},
        "ig",
    )
    got = {
        r.feature: (r.best_threshold, r.info_gain, r.n_left, r.n_right)
        for r in QUERY_REGISTRY["q239_info_gain_split"].fn(spark, d).collect()
    }
    assert got["l_quantity"] == (1.0, round(math.log(2), 6), 3, 3)
    h13 = -(1 / 3 * math.log(1 / 3) + 2 / 3 * math.log(2 / 3))
    assert got["l_tax"] == (0.01, round(math.log(2) - h13, 6), 3, 3)
    assert "l_discount" not in got  # single value -> no legal split


def test_rec_hitk_leave_last_out_and_novelty(spark, tmp_path_factory):
    """Popularity counted on histories only; each customer served the
    top-10 NOT in their history; a held-out part that never appears
    in any history cannot hit (novelty convention); single-order
    customers are ineligible."""
    d1, d2 = datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 5)
    orders = [
        (1, 1, "O", 1.0, d1, "1-URGENT"), (2, 1, "O", 1.0, d2, "1-URGENT"),
        (3, 2, "O", 1.0, d1, "1-URGENT"), (4, 2, "O", 1.0, d2, "1-URGENT"),
        (5, 3, "O", 1.0, d1, "1-URGENT"),
        (6, 4, "O", 1.0, d1, "1-URGENT"), (7, 4, "O", 1.0, d2, "1-URGENT"),
    ]
    day = d1
    li = []
    for ok, parts in (
        (1, (10, 11)), (2, (20,)),      # c1: hist {10,11}, tgt {20} -> hit
        (3, (20, 21)), (4, (10,)),      # c2: hist {20,21}, tgt {10} -> hit
        (5, (10,)),                     # c3: single order, ineligible
        (6, (10,)), (7, (99,)),         # c4: tgt 99 never popular -> miss
    ):
        for i, pk in enumerate(parts):
            li.append((ok, pk, 1, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", day))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17),
            "lineitem": spark.createDataFrame(li, LINEITEM_SCHEMA),
        },
        "rec",
    )
    r = QUERY_REGISTRY["q240_popularity_rec_hitk"].fn(spark, d).collect()[0]
    assert (r.n_customers, r.hits_at_1, r.hits_at_10) == (3, 2, 2)
    assert (r.hit_rate_1, r.hit_rate_10) == (0.666667, 0.666667)


# ---------------------------------------------------------------------------
# Batch 20: Holt trend, path taxonomy, robust means, burst compaction
# ---------------------------------------------------------------------------


def test_holt_perfect_trend_zero_rmse(spark, tmp_path_factory):
    """On the perfectly linear series [2,4,6,8] Holt locks on exactly:
    level 8, trend 2, zero one-step error everywhere, and the h-step
    forecasts extrapolate level + h*trend."""
    day0 = datetime.datetime(2024, 1, 1)
    orders, ok = [], 0
    for dayno, cnt in enumerate((2, 4, 6, 8)):
        for _ in range(cnt):
            ok += 1
            orders.append(
                (ok, 1, "O", 1.0,
                 day0 + datetime.timedelta(days=dayno), "1-URGENT")
            )
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "holt",
    )
    r = QUERY_REGISTRY["q241_holt_trend_forecast"].fn(spark, d).collect()[0]
    assert (r.priority, r.n_days, r.level, r.trend) == ("1-URGENT", 4, 8.0, 2.0)
    assert (r.forecast_1d, r.forecast_7d, r.forecast_28d) == (10.0, 22.0, 64.0)
    assert r.rmse == 0.0


def test_path_taxonomy_ranks_and_distances(spark, tmp_path_factory):
    """Transcript frequencies rank 'view' (3) > 'view>click' (2) >
    'view>click>purchase' (1); pairwise Levenshtein runs on the
    '>'-joined strings."""
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(uid, offset_s, etype):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(seconds=offset_s), uid,
             etype, 0.0, "{}")
        )

    for uid in (1, 2):
        ev(uid, 0, "view"); ev(uid, 1, "click")
    for uid in (3, 4, 5):
        ev(uid, 0, "view")
    ev(6, 0, "view"); ev(6, 1, "click"); ev(6, 2, "purchase")
    d = _stage_events(spark, tmp_path_factory, rows, "ptax")
    got = {
        (r.rank_a, r.rank_b): (r.path_a, r.path_b, r.edit_dist)
        for r in QUERY_REGISTRY["q242_session_path_taxonomy"].fn(spark, d).collect()
    }
    assert got[(1, 2)] == ("view", "view>click", 6)
    assert got[(1, 3)] == ("view", "view>click>purchase", 15)
    assert got[(2, 3)] == ("view>click", "view>click>purchase", 9)


def test_robust_means_hand_computed(spark, tmp_path_factory):
    """Values 1..19 plus outlier 1000: lo = 1.95, hi = 68.05 (exact
    interpolation); trimmed mean = mean(2..19) = 10.5, winsorized =
    (1.95 + sum(2..19) + 68.05)/20 = 12.95, raw = 59.5, 2 clipped."""
    day = datetime.datetime(2024, 1, 1)
    vals = [float(i) for i in range(1, 20)] + [1000.0]
    lines = [
        (i + 1, 1, 1, 1, 1.0, v, 0.0, 0.0, "A", "O", day)
        for i, v in enumerate(vals)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "robm",
    )
    r = QUERY_REGISTRY["q243_robust_means"].fn(spark, d).collect()[0]
    assert (r.flag, r.n, r.n_clipped) == ("A", 20, 2)
    assert (r.mean_raw, r.mean_trimmed, r.mean_winsorized) == (
        59.5, 10.5, 12.95,
    )


def test_burst_compaction_gap_boundary(spark, tmp_path_factory):
    """Gaps under 5 s chain; a gap of EXACTLY 5000 ms starts a new
    burst (inclusive-new convention): [0,1,2s | 10,11s | 30s] gives
    bursts of 3/2/1, and the exact-boundary pair [0s, 5s] splits."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i, off_ms in enumerate((0, 1000, 2000, 10000, 11000, 30000)):
        rows.append(
            (i + 1, base + datetime.timedelta(milliseconds=off_ms), 1,
             "click", 0.0, "{}")
        )
    for i, off_ms in enumerate((0, 5000)):
        rows.append(
            (100 + i, base + datetime.timedelta(milliseconds=off_ms), 1,
             "view", 0.0, "{}")
        )
    d = _stage_events(spark, tmp_path_factory, rows, "burst")
    got = {
        r.event_type: (r.n_raw, r.n_bursts, r.max_burst, r.avg_burst)
        for r in QUERY_REGISTRY["q244_event_burst_compaction"].fn(spark, d).collect()
    }
    assert got["click"] == (6, 3, 3, 2.0)
    assert got["view"] == (2, 2, 1, 1.0)


def test_lease_coverage_touch_vs_overlap_boundary(spark, tmp_path_factory):
    """Pins the q245 interval-merge convention: a lease starting
    EXACTLY at the running max end (touching) starts a NEW interval;
    one starting 1 ms earlier merges.  User 1: leases at 0 s and
    600 s touch -> 2 intervals, 1,200,000 ms covered; user 2: leases
    at 0 s and 599 s overlap -> 1 interval of 1,199,000 ms; user 3:
    a lease fully inside an earlier one must NOT extend coverage
    (span = max(end) - min(start), not sum of lengths)."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "click", 0.0, "{}"),
        (2, base + datetime.timedelta(milliseconds=600_000), 1, "click", 0.0, "{}"),
        (3, base, 2, "click", 0.0, "{}"),
        (4, base + datetime.timedelta(milliseconds=599_000), 2, "click", 0.0, "{}"),
        (5, base, 3, "click", 0.0, "{}"),
        (6, base + datetime.timedelta(milliseconds=1_000), 3, "click", 0.0, "{}"),
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "lease")
    got = {
        r.user_id: (r.n_events, r.n_intervals, r.covered_ms, r.max_interval_ms)
        for r in QUERY_REGISTRY["q245_activity_lease_coverage"].fn(spark, d).collect()
    }
    assert got[1] == (2, 2, 1_200_000, 600_000)
    assert got[2] == (2, 1, 1_199_000, 1_199_000)
    assert got[3] == (2, 1, 601_000, 601_000)


def test_lpa_two_cliques_with_bridge(spark, tmp_path_factory):
    """Hand-replayed 3-round synchronous LPA on two triangles
    {1,2,3} and {10,11,12} joined by bridge 3-10 (each order's parts
    form a clique): neighbors-only votes with min-label ties settle
    clique A on label 1 and clique B on label 3 (the bridge IMPORTS
    A's old label into B — the sync-update artifact the oracle must
    reproduce exactly).  Final communities: {1: 3 members, 3: 3}."""
    day = datetime.datetime(2024, 1, 1)
    lines, ln = [], 0
    for okey, parts in ((1, (1, 2, 3)), (2, (10, 11, 12)), (3, (3, 10))):
        for p in parts:
            ln += 1
            lines.append((okey, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "A", "O", day))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "lpa",
    )
    got = {
        r.community: r.n_members
        for r in QUERY_REGISTRY["q246_label_propagation_communities"]
        .fn(spark, d)
        .collect()
    }
    assert got == {1: 3, 3: 3}


def test_ams_single_key_is_exact(spark, tmp_path_factory):
    """On a single-key column every AMS estimator is Z_j = +-c, so
    Z^2 = c^2 = the exact F2 for ALL 64 estimators and the
    median-of-means estimate is exact with rel_err 0 — the algebraic
    identity that distinguishes a correct sign-sketch from a buggy
    one (any sign imbalance or double-count shifts it)."""
    day = datetime.datetime(2024, 1, 1)
    lines = [
        (i + 1, 7, 3, 1, 1.0, 1.0, 0.0, 0.0, "A", "O", day) for i in range(5)
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "ams",
    )
    rows = QUERY_REGISTRY["q247_ams_f2_sketch"].fn(spark, d).collect()
    got = {r.col: (r.n_keys, r.exact_f2, r.est_f2, r.rel_err) for r in rows}
    assert got["l_partkey"] == (1, 25, 25.0, 0.0)
    assert got["l_suppkey"] == (1, 25, 25.0, 0.0)


def test_er_scoring_smoothing_and_ordering(spark, tmp_path_factory):
    """One block, three customers (bal 100.00, 100.00, 5000.00):
    every pair agrees on sign, so WITHOUT add-one smoothing u_sign
    would be 1 and the disagreement weight log2((1-m)/0) infinite —
    the smoothing pin is that every score is finite.  The
    identical-balance pair must outrank both distant pairs (which
    score equal), and the u-estimates are hand-checkable:
    u_bucket = u_close = (1+1)/(3+2) = 0.4, u_sign = (3+1)/5 = 0.8."""
    import math

    custs = [
        (1, "Customer#1", 5, 100.0, "BUILDING"),
        (2, "Customer#2", 5, 100.0, "BUILDING"),
        (3, "Customer#3", 5, 5000.0, "BUILDING"),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"customer": spark.createDataFrame(custs, _CUSTOMER_SCHEMA_B18)},
        "ers",
    )
    rows = QUERY_REGISTRY["q248_entity_resolution_scoring"].fn(spark, d).collect()
    assert [(r.a, r.b) for r in rows] == [(1, 2), (1, 3), (2, 3)]
    scores = {(r.a, r.b): r.fs_score for r in rows}
    assert all(math.isfinite(s) for s in scores.values())
    assert scores[(1, 3)] == scores[(2, 3)] < scores[(1, 2)]
    expected_top = round(
        2 * math.log2(0.95 / 0.4) + math.log2(0.95 / 0.8), 6
    )
    assert scores[(1, 2)] == expected_top


def test_watermark_audit_planted_lateness(spark, tmp_path_factory):
    """Ingest order (event_id) [1s, 5s, 3s, 4s, 10s]: running max
    gives lateness [0, 0, 2000, 1000, 0] ms — n_late counts only
    strictly-late rows, and the interpolated percentiles over
    sorted [0,0,0,1000,2000] are p50 = 0, p95 = 1800, p99 = 1960."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i + 1, base + datetime.timedelta(milliseconds=off), 1,
         "click", 0.0, "{}")
        for i, off in enumerate((1000, 5000, 3000, 4000, 10000))
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "wmaudit")
    r = QUERY_REGISTRY["q249_watermark_delay_audit"].fn(spark, d).collect()[0]
    assert (r.event_type, r.n, r.n_late, r.max_late_ms) == ("click", 5, 2, 2000)
    assert (r.p50_late_ms, r.p95_late_ms, r.p99_late_ms) == (0.0, 1800.0, 1960.0)


def test_seasonal_decomposition_perfect_period(spark, tmp_path_factory):
    """A perfectly 7-periodic daily series (count = dayno%7 + 1 over
    21 consecutive days): every centered 7-row window sums to 28, so
    trend = 4 everywhere, seasonal(dow) = (dow+1) - 4 exactly, and
    the remainder RMS is 0 for every weekday; edge days without a
    full window are excluded (21 days -> 15 decomposed)."""
    epoch = datetime.datetime(1970, 1, 1)
    base = datetime.datetime(2024, 1, 1)
    orders, ok = [], 0
    for i in range(21):
        day = base + datetime.timedelta(days=i)
        dayno = (day - epoch).days
        for _ in range(dayno % 7 + 1):
            ok += 1
            orders.append((ok, 1, "O", 1.0, day, "1-URGENT"))
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "seas",
    )
    rows = (
        QUERY_REGISTRY["q250_weekday_seasonal_decomposition"]
        .fn(spark, d)
        .collect()
    )
    assert sum(r.n_days for r in rows) == 15
    for r in rows:
        assert r.seasonal == float(r.dow7 - 3), r
        assert r.rms_remainder == 0.0, r


def test_spatial_radius_join_boundary_equals_brute_force(
    spark, tmp_path_factory
):
    """Planted boundary-straddlers: (0.0095, 0) and (0.0105, 0) sit
    in DIFFERENT grid cells 0.001 apart — the pair the 3x3 fan-out
    exists to find; (0.0305, 0) vs (0.0415, 0) are cell-adjacent but
    0.011 apart — a candidate the exact verify must reject.  The
    whole grid-join result must equal a float32-faithful Python
    brute force."""
    import math

    coords = {
        1: (0.0095, 0.0),
        2: (0.0105, 0.0),
        3: (0.0095, 0.0095),
        4: (0.0105, 0.0105),
        5: (0.0305, 0.0),
        6: (0.0415, 0.0),
    }
    import struct

    def f32(v):  # value after the float32 parquet round-trip
        return struct.unpack("f", struct.pack("f", v))[0]

    rows = [
        (vid, [x, y, 0.0, 0.0], 0) for vid, (x, y) in coords.items()
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "spatial")
    got = {
        (r.a, r.b): r.dist
        for r in QUERY_REGISTRY["q251_spatial_radius_join"].fn(spark, d).collect()
    }
    pts = {
        vid: (round(f32(x), 6), round(f32(y), 6))
        for vid, (x, y) in coords.items()
    }
    expect = {}
    for a in pts:
        for b in pts:
            if a < b:
                d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
                if d2 <= 0.01 * 0.01:
                    expect[(a, b)] = round(math.sqrt(d2), 6)
    assert got == expect
    assert (1, 2) in got and (5, 6) not in got


def test_ann_ndcg_is_one_on_separable_clusters(spark, tmp_path_factory):
    """Same 16 one-hot clusters as the q175 recall pin: the probed
    cells contain every true neighbor and both rankings use the same
    round(cos,4)/neighbor-id order, so the predicted list EQUALS the
    ideal list — hits = 10, ndcg = 1.0, and dcg = the in-engine
    IDCG = sum_{i=1..10} (11-i)/log2(i+1)."""
    import math

    rows = []
    dim = 64
    for c in range(16):
        v = [0.0] * dim
        v[c] = 1.0
        rows.append((c, v, c))
    for i in range(16, 240):
        c = (i - 16) % 16
        v = [0.0] * dim
        v[c] = 1.0
        v[16 + (i % 48)] = 0.05
        rows.append((i, v, c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "ndcg")
    out = QUERY_REGISTRY["q252_ann_ndcg_eval"].fn(spark, d).collect()
    assert len(out) == 24
    idcg = sum((11 - i) / math.log2(i + 1) for i in range(1, 11))
    for r in out:
        assert (r.hits, r.ndcg) == (10, 1.0), r
        assert abs(r.dcg - idcg) < 1e-4, r


def test_readability_planted_prose_and_degenerate(spark, tmp_path_factory):
    """Hand-computed Flesch on real prose — 'Hello world. This is
    fun! Right?' has 6 words, 7 vowel groups, 3 sentence marks ->
    206.835 - 1.015*2 - 84.6*(7/6) = 106.105 — and the
    punctuation-free branch floors sentences at 1 ('xyz xyz': y
    counts as a vowel group, flesch = 206.835 - 2.03 - 84.6)."""
    docs = [
        (1, "Hello world. This is fun! Right?", "en", "a", 32),
        (2, "xyz xyz", "en", "a", 7),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"documents": spark.createDataFrame(docs, _DOCS_SCHEMA_B17)},
        "read",
    )
    got = {
        r.doc_id: (r.n_words, r.n_syllables, r.n_sentences, r.flesch)
        for r in QUERY_REGISTRY["q253_doc_readability_scores"].fn(spark, d).collect()
    }
    assert got[1] == (6, 7, 3, 106.105)
    assert got[2] == (2, 2, 0, 120.205)


def test_woe_pure_category_stays_finite(spark, tmp_path_factory):
    """A category pure in one class (month 1: 3 urgent, 0 other)
    would hit ln(x/0) without smoothing; the +0.5 inside BOTH shares
    keeps it finite and hand-checkable: woe = ln((3.5/4)/(0.5/3))."""
    import math

    day1 = datetime.datetime(2024, 1, 15)
    day2 = datetime.datetime(2024, 2, 15)
    orders = [
        (1, 1, "O", 1.0, day1, "1-URGENT"),
        (2, 1, "O", 1.0, day1, "1-URGENT"),
        (3, 1, "O", 1.0, day1, "1-URGENT"),
        (4, 1, "O", 1.0, day2, "1-URGENT"),
        (5, 1, "O", 1.0, day2, "3-MEDIUM"),
        (6, 1, "O", 1.0, day2, "3-MEDIUM"),
        (7, 1, "O", 1.0, day2, "3-MEDIUM"),
    ]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "woe",
    )
    got = {
        (r.feature, r.category): (r.n, r.n_pos, r.woe, r.iv_term)
        for r in QUERY_REGISTRY["q254_woe_feature_encoding"].fn(spark, d).collect()
    }

    def woe_iv(n, pos, pt, nt):
        ps, ns = (pos + 0.5) / pt, (n - pos + 0.5) / nt
        w = math.log(ps / ns)
        return round(w, 6), round((ps - ns) * w, 6)

    assert got[("month", "1")][:2] == (3, 3)
    assert got[("month", "1")][2:] == woe_iv(3, 3, 4, 3)
    assert got[("month", "2")][2:] == woe_iv(4, 1, 4, 3)
    assert got[("status", "O")][2:] == woe_iv(7, 4, 4, 3)
    assert all(
        math.isfinite(v[2]) and math.isfinite(v[3]) for v in got.values()
    )


def test_encoding_advisor_runs_and_gates(spark, tmp_path_factory):
    """Two orders x 4 lines: constant returnflag/shipday give
    n_runs = 2 (cross-order boundaries ALWAYS start a run — the
    row-group-local pin) and sit exactly on the RLE gate
    (n = 8 = 4*n_runs); alternating linestatus/quantity give 8 runs,
    entropy ln 2, and fall through to PLAIN (DICT needs
    ndv*100 <= n)."""
    import math

    day = datetime.datetime(2024, 1, 1)
    lines = []
    for okey in (1, 2):
        for ln_ in range(1, 5):
            lines.append(
                (okey, 1, 1, ln_, float(1 + ln_ % 2), 1.0, 0.0, 0.0,
                 "A", "O" if ln_ % 2 else "F", day)
            )
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "encadv",
    )
    got = {
        r.col: (r.n, r.ndv, r.n_runs, r.avg_run_len, r.entropy, r.encoding)
        for r in QUERY_REGISTRY["q255_column_encoding_advisor"].fn(spark, d).collect()
    }
    ln2 = round(math.log(2), 6)
    assert got["returnflag"] == (8, 1, 2, 4.0, 0.0, "RLE")
    assert got["shipday"] == (8, 1, 2, 4.0, 0.0, "RLE")
    assert got["linestatus"] == (8, 2, 8, 1.0, ln2, "PLAIN")
    assert got["quantity"] == (8, 2, 8, 1.0, ln2, "PLAIN")


def test_knn_loo_flags_mislabeled_vector(spark, tmp_path_factory):
    """Two tight clusters; one cluster-X vector carries cluster-Y's
    label: its 10 nearest neighbors all vote the X label, so it is
    the ONLY miss — label 0 scores 11/11, label 1 scores 12/13."""
    dim = 4
    rows = []
    for i in range(1, 13):  # cluster X on axis 0; id 12 mislabeled
        rows.append((i, [1.0, 0.0, 0.001 * i, 0.0], 1 if i == 12 else 0))
    for i in range(13, 25):  # cluster Y on axis 1
        rows.append((i, [0.0, 1.0, 0.0, 0.001 * i], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "knn")
    got = {
        r.label: (r.n, r.n_correct, r.accuracy)
        for r in QUERY_REGISTRY["q256_knn_loo_classifier_eval"].fn(spark, d).collect()
    }
    assert got[0] == (11, 11, 1.0)
    assert got[1] == (13, 12, round(12 / 13, 4))


def test_markov_attribution_hand_chain(spark, tmp_path_factory):
    """Three journeys (view->purchase, view->click, click->purchase)
    give an exactly solvable DAG chain: v(click) = 0.5, v(view) =
    0.75, v(START) = 2/3; removing click halves conversion (effect
    0.5), removing view costs 0.75, and absent channels cost 0.
    A post-purchase event is planted to pin journey truncation."""
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(uid, off_s, etype):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, base + datetime.timedelta(seconds=off_s), uid, etype,
             0.0, "{}")
        )

    ev(1, 0, "view"); ev(1, 10, "purchase"); ev(1, 20, "click")  # truncated
    ev(2, 0, "view"); ev(2, 10, "click")
    ev(3, 0, "click"); ev(3, 10, "purchase")
    d = _stage_events(spark, tmp_path_factory, rows, "mrk")
    got = {
        r.channel: (r.v_base, r.v_removed, r.removal_effect)
        for r in QUERY_REGISTRY["q257_markov_removal_attribution"].fn(spark, d).collect()
    }
    vb = round(2 / 3, 6)
    assert got["click"] == (vb, round(1 / 3, 6), 0.5)
    assert got["view"] == (vb, round(1 / 6, 6), 0.75)
    assert got["error"] == (vb, vb, 0.0)
    assert got["signup"] == (vb, vb, 0.0)


def test_pca_axis_aligned_variance(spark, tmp_path_factory):
    """Vectors varying only on dim 0 (values 0..9, others zero):
    the covariance is diag(8.25, 0, ...), one power iteration locks
    onto e0, and the Rayleigh quotient is exactly the dim-0
    variance — loading[0] = 1, all other loadings 0, eigval 8.25."""
    dim = 16
    rows = [
        (i, [float(i)] + [0.0] * (dim - 1), 0) for i in range(10)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "pca")
    got = {
        r.dim: (r.loading, r.eigval)
        for r in QUERY_REGISTRY["q258_power_iteration_pca"].fn(spark, d).collect()
    }
    assert got[0] == (1.0, 8.25)
    assert all(got[i] == (0.0, 8.25) for i in range(1, dim))


def test_simpson_reversal_planted(spark, tmp_path_factory):
    """The classic reversal: F beats O inside BOTH segments (0.8 vs
    0.7 and 0.2 vs 0.1) yet loses pooled (28/110 vs 71/110) because
    segment sizes confound the arms — both strata must flag
    reversed = 1 with stratum_sign +1 against pooled_sign -1."""
    day = datetime.datetime(2024, 1, 1)
    custs = [(1, "c1", 1, 0.0, "SEG1"), (2, "c2", 1, 0.0, "SEG2")]
    orders, ok = [], 0

    def add(ck, status, urgent, n):
        nonlocal ok
        for _ in range(n):
            ok += 1
            orders.append(
                (ok, ck, status, 1.0, day,
                 "1-URGENT" if urgent else "3-MEDIUM")
            )

    add(1, "F", True, 8); add(1, "F", False, 2)      # SEG1 F: 8/10
    add(1, "O", True, 70); add(1, "O", False, 30)    # SEG1 O: 70/100
    add(2, "F", True, 20); add(2, "F", False, 80)    # SEG2 F: 20/100
    add(2, "O", True, 1); add(2, "O", False, 9)      # SEG2 O: 1/10
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17),
            "customer": spark.createDataFrame(custs, _CUSTOMER_SCHEMA_B18),
        },
        "simp",
    )
    got = {
        r.segment: (r.stratum_sign, r.pooled_sign, r.reversed)
        for r in QUERY_REGISTRY["q259_simpsons_paradox_screen"].fn(spark, d).collect()
    }
    assert got["SEG1"] == (1, -1, 1)
    assert got["SEG2"] == (1, -1, 1)


def test_retention_triangle_hand_counts(spark, tmp_path_factory):
    """Cohort of 3 users in week 0 (users 1-3), user 4 arrives week
    1: retention cells are (0,0) 3/3, (0,1) 1/3, (0,2) 2/3 and
    (1,0) 1/1 — repeated events inside a week must not double-count
    (the distinct (user, week) pin)."""
    week = datetime.timedelta(milliseconds=604_800_000)
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(uid, wk):
        nonlocal eid
        eid += 1
        rows.append(
            (eid, base + wk * week, uid, "click", 0.0, "{}")
        )

    for u in (1, 2, 3):
        ev(u, 0); ev(u, 0)  # dup inside the week
    ev(1, 1)
    ev(1, 2); ev(2, 2)
    ev(4, 1)
    d = _stage_events(spark, tmp_path_factory, rows, "ret")
    out = QUERY_REGISTRY["q260_cohort_retention_triangle"].fn(spark, d).collect()
    w0 = min(r.cohort_week for r in out)
    got = {
        (r.cohort_week - w0, r.offset_w): (r.cohort_size, r.n_active, r.retention)
        for r in out
    }
    assert got[(0, 0)] == (3, 3, 1.0)
    assert got[(0, 1)] == (3, 1, round(1 / 3, 6))
    assert got[(0, 2)] == (3, 2, round(2 / 3, 6))
    assert got[(1, 0)] == (1, 1, 1.0)


def test_weiszfeld_replication_and_coincident_guard(
    spark, tmp_path_factory
):
    """Two pins: (a) a label whose points all coincide keeps its
    median AT that point with mean_dist 0 — the eps floor makes
    x/eps / (1/eps) collapse to x instead of dividing by zero; (b)
    for a 3-vs-1 outlier label the query must equal a pure-Python
    replication of the exact same iteration (float32 coords,
    round-6 centroid, 8 rounds, round-6 per iterate)."""
    import math
    import struct

    def f32(v):
        return struct.unpack("f", struct.pack("f", v))[0]

    pts0 = [(0.25, 0.25)] * 4  # label 0: all coincident
    pts1 = [(0.1, 0.1), (0.1, 0.1), (0.1, 0.1), (0.9, 0.9)]  # label 1
    rows = []
    vid = 0
    for lbl, pts in ((0, pts0), (1, pts1)):
        for x, y in pts:
            vid += 1
            rows.append((vid, [x, y, 0.0, 0.0], lbl))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "gm")
    got = {
        r.label: (r.n, r.med_x, r.med_y, r.mean_dist)
        for r in QUERY_REGISTRY["q261_geometric_median_weiszfeld"].fn(spark, d).collect()
    }
    assert got[0] == (4, 0.25, 0.25, 0.0)

    p1 = [(round(f32(x), 6), round(f32(y), 6)) for x, y in pts1]
    mx = round(sum(x for x, _ in p1) / 4, 6)
    my = round(sum(y for _, y in p1) / 4, 6)
    for _ in range(8):
        ws = [
            1.0 / max(math.sqrt((x - mx) ** 2 + (y - my) ** 2), 1e-9)
            for x, y in p1
        ]
        mx = round(sum(w * x for w, (x, _) in zip(ws, p1)) / sum(ws), 6)
        my = round(sum(w * y for w, (_, y) in zip(ws, p1)) / sum(ws), 6)
    md = round(
        sum(math.sqrt((x - mx) ** 2 + (y - my) ** 2) for x, y in p1) / 4, 6
    )
    assert got[1] == (4, mx, my, md)
    # the median must sit far closer to the 3-point mass than the mean
    assert math.sqrt((mx - 0.1) ** 2 + (my - 0.1) ** 2) < 0.05


def test_scd2_intervals_hand_timeline(spark, tmp_path_factory):
    """Timeline click@0s, click@10s, view@20s, click@30s compresses
    to click[0,20) -> view[20,30) -> click[30, open): click has 2
    episodes (one open, closed dwell 20000 ms), view has 1 closed
    episode of 10000 ms."""
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i + 1, base + datetime.timedelta(seconds=s), 1, et, 0.0, "{}")
        for i, (s, et) in enumerate(
            ((0, "click"), (10, "click"), (20, "view"), (30, "click"))
        )
    ]
    d = _stage_events(spark, tmp_path_factory, rows, "scd2")
    got = {
        r.state: (r.n_episodes, r.n_open, r.closed_dwell_ms, r.avg_dwell_ms)
        for r in QUERY_REGISTRY["q262_scd2_state_intervals"].fn(spark, d).collect()
    }
    assert got["click"] == (2, 1, 20000, 20000.0)
    assert got["view"] == (1, 0, 10000, 10000.0)


def test_trending_rank_shifts_hand_weeks(spark, tmp_path_factory):
    """Week 0 top-3 = parts 1(3 orders), 2(2), 3(1, beating the tied
    part 4 on part-id); week 1 = 2(5), 3(4), 9(3): part 2 climbs
    rank 2 -> 1 (delta +1), part 3 climbs 3 -> 2 (+1), part 9 is a
    new entrant (NULL delta).  Duplicate lines of one order must
    not inflate the distinct order count."""
    week = datetime.timedelta(milliseconds=604_800_000)
    base = datetime.datetime(2024, 1, 6)
    lines, ok = [], 0

    def add(wk, part, n_orders, dup=1):
        nonlocal ok
        for _ in range(n_orders):
            ok += 1
            for _ in range(dup):
                lines.append(
                    (ok, part, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "O",
                     base + wk * week)
                )

    add(0, 1, 3, dup=2); add(0, 2, 2); add(0, 3, 1); add(0, 4, 1)
    add(1, 2, 5); add(1, 3, 4); add(1, 9, 3); add(1, 1, 1)
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA)},
        "trend",
    )
    out = QUERY_REGISTRY["q263_weekly_trending_parts"].fn(spark, d).collect()
    w0 = min(r.weekno for r in out)
    got = {
        (r.weekno - w0, r.rnk): (r.l_partkey, r.n_orders, r.prev_rnk, r.rank_delta)
        for r in out
    }
    assert got[(0, 1)] == (1, 3, None, None)
    assert got[(0, 2)] == (2, 2, None, None)
    assert got[(0, 3)] == (3, 1, None, None)
    assert got[(1, 1)] == (2, 5, 2, 1)
    assert got[(1, 2)] == (3, 4, 3, 1)
    assert got[(1, 3)] == (9, 3, None, None)


def test_knn_ivf_twin_matches_brute_on_separable_clusters(
    spark, tmp_path_factory
):
    """On the 16 one-hot clusters every true neighbor lives in the
    probed cells, so the IVF-blocked LOO vote (q264) must equal the
    brute vote (q256) label for label — accuracy 1.0 everywhere —
    while scanning a bounded candidate slice (avg_candidates <= two
    cells' worth), which is the whole point of the twin."""
    rows = []
    dim = 64
    for c in range(16):
        v = [0.0] * dim
        v[c] = 1.0
        rows.append((c, v, c))
    for i in range(16, 240):
        c = (i - 16) % 16
        v = [0.0] * dim
        v[c] = 1.0
        v[16 + (i % 48)] = 0.05
        rows.append((i, v, c))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = _stage_table(spark, tmp_path_factory, emb, "embeddings", "knnivf")
    fast = {
        r.label: (r.n, r.accuracy, r.avg_candidates)
        for r in QUERY_REGISTRY["q264_knn_ivf_loo_fast"].fn(spark, d).collect()
    }
    spark.catalog.clearCache()
    brute = {
        r.label: (r.n, r.accuracy)
        for r in QUERY_REGISTRY["q256_knn_loo_classifier_eval"].fn(spark, d).collect()
    }
    assert set(fast) == set(brute)
    for lbl, (n, acc, cands) in fast.items():
        assert (n, acc) == brute[lbl]
        assert acc == 1.0
        assert cands <= 30.0


def test_gap_audit_bucket_boundaries(spark, tmp_path_factory):
    """Planted keys [1,2,3,5,4095,4096,4200,5000,9000] around the
    4096 bucket edge: in-bucket gaps, a bucket-SPANNING gap
    (5001-8999 crosses buckets 1->2), and the contiguous pair
    4095/4096 across the boundary which must NOT produce a spurious
    gap — the exactly-once guarantee of the bucketed formulation."""
    day = datetime.datetime(2024, 1, 1)
    keys = [1, 2, 3, 5, 4095, 4096, 4200, 5000, 9000]
    orders = [(kk, 1, "O", 1.0, day, "1-URGENT") for kk in keys]
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {"orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17)},
        "gap",
    )
    got = [
        (r.gap_start, r.gap_end, r.gap_len)
        for r in QUERY_REGISTRY["q265_orderkey_gap_audit"].fn(spark, d).collect()
    ]
    assert got == [
        (6, 4094, 4089),
        (5001, 8999, 3999),
        (4201, 4999, 799),
        (4097, 4199, 103),
        (4, 4, 1),
    ]


def test_lead_time_negative_flag_and_percentiles(spark, tmp_path_factory):
    """Lead times [1,2,3,4,100] days for one priority: p50 = 3,
    p95 = interpolated 4 + 0.8*96 = 80.8, and a line shipping the
    day BEFORE its order counts into n_negative (the clock audit)."""
    day0 = datetime.datetime(2024, 1, 10)
    orders, lines = [], []
    for i, lead in enumerate((1, 2, 3, 4, 100)):
        ok = i + 1
        orders.append((ok, 1, "O", 1.0, day0, "1-URGENT"))
        lines.append(
            (ok, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "O",
             day0 + datetime.timedelta(days=lead))
        )
    orders.append((99, 1, "O", 1.0, day0, "2-HIGH"))
    lines.append(
        (99, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "A", "O",
         day0 - datetime.timedelta(days=1))
    )
    d = _stage_tables(
        spark,
        tmp_path_factory,
        {
            "orders": spark.createDataFrame(orders, _ORDERS_SCHEMA_B17),
            "lineitem": spark.createDataFrame(lines, LINEITEM_SCHEMA),
        },
        "lead",
    )
    got = {
        r.priority: (r.n, r.min_days, r.p50_days, r.p95_days, r.max_days,
                     r.n_negative)
        for r in QUERY_REGISTRY["q266_fulfillment_lead_time"].fn(spark, d).collect()
    }
    assert got["1-URGENT"] == (5, 1, 3.0, 80.8, 100, 0)
    assert got["2-HIGH"] == (1, -1, -1.0, -1.0, -1, 1)
