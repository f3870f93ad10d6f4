"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import filecmp
import hashlib
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
from oracle import normalize_result  # noqa: E402  (tests/oracle.py, via checks)

# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def etl_inputs(tmp_path_factory):
    a = tmp_path_factory.mktemp("a")
    b = tmp_path_factory.mktemp("b")
    c = tmp_path_factory.mktemp("c")
    return (
        (str(a), gen.write_etl_inputs(str(a), 5)),
        (str(b), gen.write_etl_inputs(str(b), 5)),
        (str(c), gen.write_etl_inputs(str(c), 6)),
    )


def _strip_paths(planted):
    return [{k: v for k, v in x.items() if k != "path"} for x in planted["hhs"] + planted["cms"]]


def test_etl_generator_is_deterministic_per_seed(etl_inputs):
    (da, pa_), (db, pb), (dc, pc) = etl_inputs
    assert _strip_paths(pa_) == _strip_paths(pb) and pa_["store"] == pb["store"]
    names = sorted(os.listdir(da))
    assert names == sorted(os.listdir(db))
    match, mismatch, errors = filecmp.cmpfiles(da, db, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert not filecmp.cmp(os.path.join(da, names[-1]), os.path.join(dc, names[-1]), shallow=False)


def test_star_generator_is_deterministic_per_seed():
    a, b, c = gen.star_tables(1), gen.star_tables(1), gen.star_tables(2)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def _read(path):
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def _value(v):
    if v == "NA" or v == gen.SENTINEL:
        return None
    return float(v)


def test_planted_counts_match_the_files(etl_inputs):
    """Re-derive every planted count from the CSV text alone, with the
    loaders' rules: NA and -999999 are NULL, a negative bed metric makes
    the row invalid, a key or (key, week) already stored is a duplicate."""
    _, planted = etl_inputs[0]
    stored, beds = set(), set()
    seen_files = []
    for h in planted["hhs"]:
        header, rows = _read(h["path"])
        assert len(header) == gen.HHS_COLUMNS
        idx = [header.index(m) for m, _ in gen.BED_METRICS]
        pk, wk = header.index("hospital_pk"), header.index("collection_week")
        assert len({r[pk] for r in rows}) == len(rows) == h["rows"]
        invalid = [any((x := _value(r[i])) is not None and x < 0 for i in idx) for r in rows]
        valid = [r for r, bad in zip(rows, invalid) if not bad]
        keys = {r[pk] for r in valid}
        assert sum(invalid) == h["invalid"] > 0
        first = not seen_files
        assert h["new_keys"] == len(keys - stored)
        assert h["duplicate_keys"] == (0 if first else len(keys & stored))
        pairs = {(r[pk], r[wk]) for r in valid}
        assert h["new_beds"] == len(pairs - beds)
        assert h["duplicate_beds"] == (0 if first else len(pairs & beds))
        stored |= keys
        beds |= pairs
        seen_files.append({r[pk] for r in rows})
        text = open(h["path"]).read()
        assert ",NA," in text and f",{gen.SENTINEL}," in text
    assert len(seen_files) >= 2
    assert planted["hhs"][-1]["duplicate_keys"] > 0
    for prev, cur in zip(seen_files, seen_files[1:]):
        assert len(prev & cur) / len(cur) >= 0.998
    assert planted["store"]["hospitals"] == len(stored)
    assert planted["store"]["hospital_beds"] == len(beds)
    quality = 0
    for c in planted["cms"]:
        header, rows = _read(c["path"])
        assert header[:5] == list(gen.CMS_CONSUMED) and len(header) == gen.CMS_COLUMNS
        assert len({r[0] for r in rows}) == len(rows) == c["rows"] == c["inserted"]
        assert any(r[4] == "Not Available" for r in rows)
        quality += len(rows)
    assert planted["store"]["hospital_quality"] == quality


# ---------------------------------------------------------------------------
# Digest
# ---------------------------------------------------------------------------


def test_digest_uses_the_oracle_normalisation():
    cols = ["b", "a"]
    rows = [(1.0000000001, "x"), (float("nan"), "y"), (None, "z")]
    want = hashlib.sha256(repr((["a", "b"], normalize_result(cols, rows))).encode()).hexdigest()
    assert checks.digest(cols, rows) == want


def test_digest_ignores_row_and_column_order_and_float_noise():
    a = checks.digest(["k", "v"], [(1, 0.1 + 0.2), (2, 1.5)])
    b = checks.digest(["v", "k"], [(1.5, 2), (0.3, 1)])
    assert a == b
    assert checks.digest(["k", "v"], [(1, 0.3), (2, 1.6)]) != a
    assert checks.digest(["k", "w"], [(1, 0.3), (2, 1.5)]) != a


# ---------------------------------------------------------------------------
# Spans, medians
# ---------------------------------------------------------------------------


class _Fake:
    def __init__(self):
        self.t = 0.0
        self.jobs = 0


def _tracer(fake, active=True):
    return spans.Tracer(job_count=lambda: fake.jobs, clock=lambda: fake.t, active=active)


def test_span_self_time_subtracts_direct_children_only():
    f = _Fake()
    tr = _tracer(f)
    with tr.span("outer"):
        f.t = 2.0
        with tr.span("child"):
            f.t, f.jobs = 3.0, 1
            with tr.span("grandchild"):
                f.t, f.jobs = 4.5, 3
            f.t = 5.0
        f.t = 6.0
        with tr.span("child"):
            f.t, f.jobs = 7.0, 4
        f.t, f.jobs = 10.0, 5
    by = {}
    for s in tr.closed:
        by.setdefault(s.name, []).append(s)
    outer = by["outer"][0]
    assert outer.duration == 10.0
    assert outer.self_s == pytest.approx(10.0 - 3.0 - 1.0)
    assert outer.self_jobs == 5 - 3 - 1
    assert by["child"][0].self_s == pytest.approx(3.0 - 1.5)
    assert by["child"][0].self_jobs == 3 - 2
    tot = tr.totals()
    assert tot["child"]["calls"] == 2
    assert tot["child"]["s"] == pytest.approx(1.5 + 1.0)
    assert sum(t["s"] for t in tot.values()) == pytest.approx(outer.duration)
    assert sum(t["jobs"] for t in tot.values()) == 5


def test_inactive_tracer_records_nothing():
    f = _Fake()
    tr = _tracer(f, active=False)
    wrapped = tr.wrap("layer", lambda x: x + 1)
    assert wrapped(1) == 2 and tr.closed == []
    tr.active = True
    assert wrapped(2) == 3 and [s.name for s in tr.closed] == ["layer"]


def test_median_and_count():
    assert spans.median_and_count([3.0, 1.0, 2.0]) == (2.0, 3)
    assert spans.median_and_count([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    with pytest.raises(ValueError):
        spans.median_and_count([])


def test_tracer_counts_the_time_it_spends_reading_job_counts():
    def slow_count():
        time.sleep(0.01)
        return 0

    tr = spans.Tracer(job_count=slow_count)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert 0.04 <= tr.overhead_s < 1.0
