"""The one query-timing harness: bench.py's ``time_queries`` and
``select_queries``, the ``scripts/time_queries.py`` CLI over them, and
the ``session.query_scope`` that releases each query's storage."""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest
from conftest import SF_SMOKE
from pyspark import StorageLevel

from team_aragon_spark.plans.star_queries import QUERY_REGISTRY
from team_aragon_spark.session import query_scope

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_cli():
    spec = importlib.util.spec_from_file_location(
        "time_queries_cli", os.path.join(REPO, "scripts", "time_queries.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # puts the repo root on sys.path
    return mod


cli = _load_cli()
import bench  # noqa: E402


def test_time_queries_cold_is_first_pass_steady_is_min(spark):
    (t,) = bench.time_queries(spark, ["q01_week_count"], SF_SMOKE, runs=2)
    assert t.name == "q01_week_count"
    assert len(t.passes) == 2 and all(p > 0 for p in t.passes)
    assert t.cold == t.passes[0]
    assert t.steady == min(t.passes) <= t.cold
    # the job description is the query name only while its passes run
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_query_scope_releases_only_what_it_saw_materialized(spark):
    """A DataFrame persist and both local-checkpoint forms go on exit
    (``clearCache()`` alone misses the checkpoints); an RDD cached
    before entry stays, a DataFrame cached before entry does not (the
    clear drops every DataFrame cache).  The registry holds its RDDs
    weakly, so the test holds every DataFrame: a JVM GC must not
    release them first."""
    jsc = spark.sparkContext._jsc
    kept = spark.sparkContext.parallelize(range(8)).cache()
    assert kept.sum() == 28
    before = set(jsc.getPersistentRDDs().keySet())
    table = spark.range(9).persist()
    assert table.count() == 9
    with query_scope(spark):
        held = [
            spark.range(10).persist(),
            spark.range(11).localCheckpoint(eager=True),
            spark.range(12).localCheckpoint(eager=False),
        ]
        assert [df.count() for df in held] == [10, 11, 12]
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 4
    assert set(jsc.getPersistentRDDs().keySet()) == before
    assert table.storageLevel == StorageLevel.NONE


def test_time_queries_leaves_no_persistent_rdds(spark):
    """q181's BFS checkpoints its frontier each hop; clearing the cache
    after the passes left those checkpoints behind."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert len(list(bench.time_queries(spark, ["q181_copurchase_bfs_hops"], SF_SMOKE, runs=1))) == 1
    assert set(jsc.getPersistentRDDs().keySet()) == before


@pytest.mark.parametrize(
    "argv, message",
    [
        (["q01", "--out"], "expected one argument"),
        (["q9999_no_such_query"], "no registered query matches"),
        (["q01", "--runs", "0"], "--runs must be at least 1"),
    ],
)
def test_cli_rejects_bad_argv_before_any_session(argv, message, monkeypatch, capsys):
    def no_session(*_a, **_k):
        raise AssertionError("a session was started before argv was checked")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(SystemExit) as exc:
        cli.main(argv)
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert err.startswith("usage:") and message in err


def test_cli_defaults_and_intermixed_options():
    args = cli.parse_args([])
    assert args.names == bench.HEADLINE and args.runs == 2 and args.out is None
    args = cli.parse_args(["q24", "--runs", "3", "q42", "--out", "t.json"])
    assert args.names == ["q24_minhash_neardup_pairs", "q42_srp_lsh_neardup_pairs"]
    assert args.runs == 3 and args.out == "t.json"


def test_select_queries_matches_whole_name_segments():
    assert [n for n in QUERY_REGISTRY if n.startswith("q24")][1:]  # q240-q249 exist
    assert bench.select_queries(QUERY_REGISTRY, ["q24"]) == ["q24_minhash_neardup_pairs"]
    full = "q24_minhash_neardup_pairs"
    assert bench.select_queries(QUERY_REGISTRY, [full]) == [full]
    assert bench.select_queries(QUERY_REGISTRY, ["q2"]) == []


def test_perfbench_headline_is_bench_headline():
    """perfbench/run.py fixes its own copy of the headline list; read
    it without importing that module, so the two cannot drift."""
    with open(os.path.join(REPO, "perfbench", "run.py")) as f:
        tree = ast.parse(f.read())
    (value,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "HEADLINE" for t in node.targets)
    ]
    assert list(ast.literal_eval(value)) == bench.HEADLINE
