"""End-to-end load of HHS/CMS inputs through the engine.

Loads two HHS weekly CSVs + one CMS snapshot into a temp ParquetStore
and asserts the reference's load semantics: cross-file dedup,
validation quarantine, first-wins, the 'Not Available'→0 rating quirk,
and that all seven report queries run over the resulting store.  The
inputs are the reference's own CSVs (read-only, as data fixtures) when
present; otherwise the benchmark's seeded generator
(``perfbench/gen.py::write_etl_inputs``) writes them, and the load
counts must equal the ones it planted.
"""

from __future__ import annotations

import importlib.util
import os
from typing import NamedTuple

import pytest

from pyspark.sql import functions as F

from team_aragon_spark.pipeline.hhs_load import load_hhs_batch
from team_aragon_spark.pipeline.quality_load import load_quality_batch
from team_aragon_spark.pipeline.sinks import ParquetStore
from team_aragon_spark.plans import reports

HHS_W1 = "/root/reference/hhs_data/2022-09-23-hhs-data.csv"
HHS_W2 = "/root/reference/hhs_data/2022-09-30-hhs-data.csv"
CMS_1 = "/root/reference/hospital_data/Hospital_General_Information-2021-07.csv"
GEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "gen.py")


class Inputs(NamedTuple):
    hhs: tuple[str, str]
    cms: str
    cms_date: str
    week: str  # the first HHS week
    planted: dict | None  # the generator's counts; None for the reference


def _expect(got: int, planted: int | None, reference_ok) -> None:
    """Generated inputs: exactly the planted count.  Reference replay:
    the real-data bound ``reference_ok``."""
    assert got == planted if planted is not None else reference_ok(got), got


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    if all(map(os.path.exists, (HHS_W1, HHS_W2, CMS_1))):
        return Inputs((HHS_W1, HHS_W2), CMS_1, "2021-07-01", "2022-09-23", None)
    spec = importlib.util.spec_from_file_location("perfbench_gen", GEN)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    planted = gen.write_etl_inputs(str(tmp_path_factory.mktemp("etl_inputs")), 13)
    (w1, w2), (cms,) = planted["hhs"], planted["cms"]
    return Inputs((w1["path"], w2["path"]), cms["path"], cms["date"], w1["week"], planted)


@pytest.fixture(scope="module")
def store(spark, inputs, tmp_path_factory):
    root = tmp_path_factory.mktemp("store")
    s = ParquetStore(str(root))
    r1 = load_hhs_batch(spark, inputs.hhs[0], s, quarantine_dir=str(root / "quarantine_w1"))
    r2 = load_hhs_batch(spark, inputs.hhs[1], s, quarantine_dir=str(root / "quarantine_w2"))
    q1 = load_quality_batch(spark, inputs.cms_date, inputs.cms, s)
    return s, r1, r2, q1


def test_week1_load_counts(spark, store, inputs):
    s, r1, _, _ = store
    # every valid row lands exactly once per table on first load
    hhs = inputs.planted and inputs.planted["hhs"][0]
    _expect(r1.table_rows["hospitals"], hhs and hhs["new_keys"], lambda n: n > 4000)
    assert r1.table_rows["hospitals"] == r1.table_rows["hospital_locations"]
    assert r1.table_rows["hospital_beds"] == r1.table_rows["hospitals"]
    assert r1.quarantined_duplicate["hospitals"] == 0


def test_cross_file_dedup(spark, store, inputs):
    """Week-2 file: ~99.98 % of hospital_pks repeat (SURVEY.md D1) →
    dimensions nearly no-op, beds append a full new week."""
    s, r1, r2, _ = store
    hhs = inputs.planted and inputs.planted["hhs"][1]
    _expect(r2.table_rows["hospitals"], hhs and hhs["new_keys"], lambda n: n < 50)  # only genuinely new pks
    _expect(r2.quarantined_duplicate["hospitals"], hhs and hhs["duplicate_keys"], lambda n: n > 4000)
    _expect(r2.table_rows["hospital_beds"], hhs and hhs["new_beds"], lambda n: n > 4000)  # new composite key week
    assert r2.quarantined_duplicate["hospital_beds"] == 0


def test_no_duplicate_keys_in_store(spark, store, inputs):
    s, *_ = store
    hosp = s.read(spark, "hospitals")
    assert hosp.count() == hosp.select("hospital_pk").distinct().count()
    beds = s.read(spark, "hospital_beds")
    assert beds.count() == beds.select("hospital_fk", "collection_week").distinct().count()
    if inputs.planted:
        for table in ("hospitals", "hospital_locations", "hospital_beds"):
            assert s.read(spark, table).count() == inputs.planted["store"][table], table


def test_validation_quarantine_negative_rows(spark, store, inputs):
    """F1: rows with negative bed metrics (post-sentinel-replace) are
    quarantined, and no negative metric survives into the store."""
    s, r1, r2, _ = store
    if inputs.planted:
        assert [r1.quarantined_invalid, r2.quarantined_invalid] == [
            h["invalid"] for h in inputs.planted["hhs"]
        ]
    beds = s.read(spark, "hospital_beds")
    from team_aragon_spark.schemas import HHS_BED_METRIC_COLS

    for c in HHS_BED_METRIC_COLS:
        assert beds.filter(F.col(c) < 0).count() == 0, c
    # sentinel values must be NULL, not -999999
    assert beds.filter(F.col("total_icu_beds_7_day_avg") == -999999).count() == 0


def test_quality_not_available_becomes_zero(spark, store, inputs):
    s, _, _, q1 = store
    _expect(q1.inserted, inputs.planted and inputs.planted["cms"][0]["inserted"], lambda n: n > 5000)
    quality = s.read(spark, "hospital_quality")
    # the reference maps 'Not Available' → 0.0 (load_quality.py:103); the
    # rating-0 group must exist and no rating is NULL or negative
    assert quality.filter(F.col("hospital_overall_rating") == 0.0).count() > 0
    assert quality.filter(F.col("hospital_overall_rating") < 0).count() == 0
    assert quality.filter(F.col("emergency_services").isNull()).count() == 0


def test_quality_reload_is_full_duplicate(spark, store, inputs):
    s, _, _, _ = store
    r = load_quality_batch(spark, inputs.cms_date, inputs.cms, s)
    assert r.inserted == 0
    _expect(r.duplicates, inputs.planted and inputs.planted["cms"][0]["rows"], lambda n: n > 5000)


def test_all_seven_reports_run(spark, store, inputs):
    s, *_ = store
    week = inputs.week
    assert reports.records_loaded_per_week(spark, s, week).count() >= 1
    assert reports.beds_summary_for_week(spark, s, week).count() == 1
    assert reports.beds_summary_recent_weeks(spark, s).count() <= 4
    frac = reports.fraction_beds_in_use_by_rating(spark, s, week)
    rows = frac.collect()
    assert len(rows) > 0
    assert {r.hospital_overall_rating for r in rows} >= {0.0}  # the quirk group
    assert reports.hospital_cases_by_week(spark, s, week).count() >= 1
    top20 = reports.emergency_services_by_state(spark, s).collect()
    assert 0 < len(top20) <= 20
    own = reports.beds_in_use_by_ownership(spark, s, "Proprietary")
    assert own.count() >= 1
    top, bottom = reports.top_and_bottom_rated_states(spark, s, inputs.cms_date)
    t, b = top.collect(), bottom.collect()
    assert len(t) == 10 and len(b) == 10
    assert t[0].avg_rating >= b[0].avg_rating


def test_load_timing_and_log_lines(spark, store, inputs, tmp_path):
    """O2/O3 parity: every load report carries wall-clock seconds
    (load_hhs.py:65,149-150) and the rotating-file logger emits
    start/finish + counter lines (logging_module.py:5-15)."""
    import logging

    from team_aragon_spark.pipeline.obs import setup_logging

    s, r1, r2, q1 = store
    for rep in (r1, r2, q1):
        assert rep.wall_s > 0.0

    log_file = tmp_path / "log_output.txt"
    setup_logging(str(log_file))
    r = load_quality_batch(spark, inputs.cms_date, inputs.cms, s)  # cheap full-dup reload
    assert r.wall_s > 0.0
    # third-party DEBUG chatter (py4j fires on every JVM call) must NOT
    # reach the file: DEBUG is scoped to the package logger, root stays
    # at WARNING (ADVICE round-2 fix)
    logging.getLogger("py4j.java_gateway").debug("py4j-noise-sentinel")
    for h in logging.getLogger().handlers:
        h.flush()
    text = log_file.read_text()
    assert f"quality_load[{inputs.cms_date}]: load started" in text
    assert "load finished in" in text
    assert "inserted=0" in text
    assert "py4j-noise-sentinel" not in text


def test_jdbc_sink_roundtrip_derby(spark, store, tmp_path):
    """K1/K2: jdbc_append writes through a real JDBC driver (embedded
    Derby, already on Spark's classpath) and the rows read back intact
    — upgrading the sink from 'documented' to exercised.  batchsize
    mirrors the reference's executemany batches (load_quality.py:130)."""
    from team_aragon_spark.pipeline.sinks import jdbc_append

    s, *_ = store
    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    hosp = s.read(spark, "hospitals").limit(200)
    jdbc_append(hosp, url, "hospitals_sink", properties=props, batchsize=500)
    back = spark.read.jdbc(url, "hospitals_sink", properties=props)
    assert back.count() == hosp.count()
    assert set(c.lower() for c in back.columns) == set(c.lower() for c in hosp.columns)
    # append mode really appends (the reference INSERTs, never replaces)
    jdbc_append(hosp, url, "hospitals_sink", properties=props)
    assert spark.read.jdbc(url, "hospitals_sink", properties=props).count() == 2 * hosp.count()


def test_jsonl_roundtrip_adversarial_text(spark, tmp_path):
    """The JSONL source leg (q325) must round-trip every byte of
    ``text`` through JSON escaping: embedded quotes, backslashes,
    literal newlines/tabs, non-ASCII, and the empty string."""
    from team_aragon_spark.sources.jsonl import DOCUMENTS_SCHEMA

    rows = [
        (1, 'she said "hi"', "en", "web", 13),
        (2, "back\\slash and tab\there", "en", "web", 23),
        (3, "line\nbreak\r\nand more", "en", "books", 20),
        (4, "naïve — résumé — 日本語 — 𝕌nicode", "fr", "books", 31),
        (5, "", "en", "web", 0),
        (6, "{\"looks\": \"like json\"}", "en", "code", 22),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    path = str(tmp_path / "docs_jsonl")
    df.write.mode("overwrite").json(path)
    back = spark.read.schema(DOCUMENTS_SCHEMA).json(path)
    got = {tuple(r) for r in back.collect()}
    assert got == {tuple(r) for r in rows}


def test_staged_jsonl_equals_parquet_rows(spark):
    """sources/jsonl.py staging: the JSONL copy of the documents table
    is row-for-row identical to the parquet original (full outer
    compare on doc_id, every column equal)."""
    from team_aragon_spark.sources.catalog import read_table
    from team_aragon_spark.sources.jsonl import staged_documents_jsonl

    sf = "/root/testdata/sf0.001"
    orig = read_table(spark, "documents", sf)
    back = staged_documents_jsonl(spark, sf)
    assert back.count() == orig.count()
    joined = orig.alias("o").join(back.alias("j"), "doc_id", "full_outer")
    from pyspark.sql import functions as F

    bad = joined.filter(
        ~(
            F.col("o.text").eqNullSafe(F.col("j.text"))
            & F.col("o.lang").eqNullSafe(F.col("j.lang"))
            & F.col("o.source").eqNullSafe(F.col("j.source"))
            & F.col("o.n_chars").eqNullSafe(F.col("j.n_chars"))
        )
    )
    assert bad.count() == 0


def test_staged_orc_events_equal_parquet_rows(spark):
    """sources/orc.py staging: the ORC copy of events is row-for-row
    identical to the parquet original — ids, epoch-microsecond
    timestamps (the zone-free interchange form; ORC's wall-clock
    TIMESTAMP cannot round-trip under a non-UTC session), values,
    and props."""
    from team_aragon_spark.session import tune
    from team_aragon_spark.sources.catalog import read_table
    from team_aragon_spark.sources.orc import staged_events_orc

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    tune(spark)
    orig = read_table(spark, "events", sf).select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    back = staged_events_orc(spark, sf)
    assert back.count() == orig.count()
    joined = orig.alias("o").join(back.alias("b"), "event_id", "full_outer")
    bad = joined.filter(
        ~(
            F.col("o.ts_us").eqNullSafe(F.col("b.ts_us"))
            & F.col("o.user_id").eqNullSafe(F.col("b.user_id"))
            & F.col("o.event_type").eqNullSafe(F.col("b.event_type"))
            & F.col("o.value").eqNullSafe(F.col("b.value"))
            & F.col("o.props").eqNullSafe(F.col("b.props"))
        )
    )
    assert bad.count() == 0
