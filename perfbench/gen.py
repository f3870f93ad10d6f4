"""Deterministic input generators for the benchmark.

Two families, both pure functions of their seed:

- ``write_star``: the star schema the ``headline`` queries read
  (region ... embeddings), shaped like the 0.01-scale test tables:
  same column names and physical types, same value domains, uniform
  keys, 5 % near-duplicate documents (a copy of another document plus
  the token ``dup``) and unit-norm 64-d embeddings.
- ``write_etl_inputs``: HHS weekly hospital-capacity CSVs and CMS
  hospital-information CSVs shaped like the reference inputs
  (two HHS weeks of about 5k rows x 127 columns, ``NA`` nulls, ``-999999``
  suppression sentinels, a few raw negatives, ~99.9 % week-to-week key
  overlap; CMS ratings ``1``..``5`` or ``Not Available``).  It returns
  the counts the loaders must report, computed by replaying the load
  rules (sentinel -> NULL, non-negative check, first load wins) in
  plain Python over the generated rows.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Star schema
# ---------------------------------------------------------------------------

STAR_SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """Every star table as an Arrow table, a pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    n = STAR_SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n["part"], 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    # As in TPC-H, a third of the customers (key % 3 == 0) never order:
    # k + k // 2 + 1 maps 0, 1, 2, 3, ... onto 1, 2, 4, 5, ...
    k = rng.integers(0, n["customer"] * 2 // 3, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": (k + k // 2 + 1).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(("N", "R", "A"), m),
        "l_linestatus": rng.choice(("F", "O"), m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, e).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    v = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
        for _ in range(n)
    ]
    # 5 % near-duplicates: another document's text plus one extra token.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_star(out_dir: str, seed: int) -> None:
    """Write every star table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# HHS / CMS ETL inputs
# ---------------------------------------------------------------------------

# Two weeks and one snapshot rather than the reference's five weeks, a
# replay and three snapshots: an ETL pass is mostly per-batch overhead,
# and the first load, an overlapping load and one CMS insert already
# run the load paths of real weekly traffic.  More batches would make
# an ETL run too long for the benchmark's time budget.
HHS_WEEKS = ("2022-09-02", "2022-09-09")
CMS_DATES = ("2022-01-01",)
HHS_ROWS = 5_000
WEEKLY_CHURN = 5  # keys dropped and added per week: ~99.9 % overlap
HHS_COLUMNS = 127
SENTINEL = "-999999"
# The 8 consumed bed metrics and the share of each that HHS suppresses.
BED_METRICS = (
    ("all_adult_hospital_beds_7_day_avg", 0.002),
    ("all_pediatric_inpatient_beds_7_day_avg", 0.09),
    ("all_adult_hospital_inpatient_bed_occupied_7_day_coverage", 0.0),
    ("all_pediatric_inpatient_bed_occupied_7_day_avg", 0.13),
    ("total_icu_beds_7_day_avg", 0.06),
    ("icu_beds_used_7_day_avg", 0.14),
    ("inpatient_beds_used_covid_7_day_avg", 0.38),
    ("staffed_icu_adult_patients_confirmed_covid_7_day_avg", 0.37),
)
HHS_ID_COLUMNS = (
    "hospital_pk", "collection_week", "state", "ccn", "hospital_name",
    "address", "city", "zip", "hospital_subtype", "fips_code", "is_metro_micro",
)
N_FILLER = HHS_COLUMNS - len(HHS_ID_COLUMNS) - len(BED_METRICS) - 1
STATES = (
    "AK AL AR AZ CA CO CT DC DE FL GA HI IA ID IL IN KS KY LA MA MD ME MI MN MO "
    "MS MT NC ND NE NH NJ NM NV NY OH OK OR PA PR RI SC SD TN TX UT VA VT WA WI "
    "WV WY GU VI"
).split()
SUBTYPES = ("Short Term", "Critical Access Hospitals", "Long Term", "Childrens Hospitals")
CMS_TYPES = (
    "Acute Care Hospitals", "Critical Access Hospitals", "Childrens",
    "Psychiatric", "Acute Care - Department of Defense",
)
CMS_OWNERSHIP = (
    "Government - Federal", "Government - Hospital District or Authority",
    "Government - Local", "Government - State", "Proprietary",
    "Voluntary non-profit - Church", "Voluntary non-profit - Other",
    "Voluntary non-profit - Private", "Tribal", "Physician",
    "Department of Defense",
)
CMS_COLUMNS = 38
CMS_CONSUMED = (
    "Facility ID", "Hospital Type", "Hospital Ownership",
    "Emergency Services", "Hospital overall rating",
)


def _ccn(i: int) -> str:
    return f"{(i * 7919) % 1_000_000:06d}"


def _hospital_key(rng, i: int) -> str:
    # Most keys are 6-digit CCNs; about 3 % are 64-hex ids.
    if rng.random() < 0.03:
        return "".join(f"{b:02x}" for b in rng.integers(0, 256, 32))
    return _ccn(i)


def _num_column(rng, n: int, hi: float, null_p: float, sentinel_p: float, integer: bool) -> list[str]:
    """One numeric CSV column: ``NA`` nulls, sentinels, else 0..hi."""
    u = rng.random(n)
    x = rng.uniform(0.0, hi, n)
    vals = [str(int(v)) for v in x] if integer else [f"{v:.1f}" for v in x]
    for i in np.flatnonzero(u < null_p + sentinel_p):
        vals[i] = "NA" if u[i] < null_p else SENTINEL
    return vals


def write_etl_inputs(out_dir: str, seed: int) -> dict:
    """Write the HHS weeks and the CMS snapshots.

    Returns ``{"hhs": [...], "cms": [...], "store": {...}}``: per file
    the path, the load parameters and the counts its load must report,
    plus the row count every stored table must end with.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    next_id = 0

    def new_hospital() -> tuple[str, str, str]:
        nonlocal next_id
        next_id += 1
        return (
            _hospital_key(rng, next_id),
            f"HOSPITAL {next_id} MEDICAL CENTER" + (", INC" if next_id % 9 == 0 else ""),
            STATES[int(rng.integers(0, len(STATES)))],
        )

    population = [new_hospital() for _ in range(HHS_ROWS)]  # (pk, name, state)
    filler = [
        (f"filler_metric_{j:03d}", j % 3 == 0, float(10 ** (1 + j % 4)))
        for j in range(N_FILLER)
    ]
    header = (
        list(HHS_ID_COLUMNS[:8]) + [m for m, _ in BED_METRICS[:4]]
        + [f for f, _, _ in filler[: N_FILLER // 2]]
        + list(HHS_ID_COLUMNS[8:]) + [m for m, _ in BED_METRICS[4:]]
        + [f for f, _, _ in filler[N_FILLER // 2:]] + ["geocoded_hospital_address"]
    )
    assert len(header) == HHS_COLUMNS
    hhs: list[dict] = []
    stored_keys: set[str] = set()
    n_beds = 0
    for w, week in enumerate(HHS_WEEKS):
        if w:
            for _ in range(WEEKLY_CHURN):
                population.pop(int(rng.integers(0, len(population))))
            population += [new_hospital() for _ in range(WEEKLY_CHURN)]
        path = os.path.join(out_dir, f"hhs-{week}.csv")
        n = len(population)
        pks = [p[0] for p in population]
        metrics, invalid = [], np.zeros(n, dtype=bool)
        for _, sent_p in BED_METRICS:
            col = _num_column(rng, n, 400.0, 0.03, sent_p, False)
            neg = np.flatnonzero(rng.random(n) < 0.001)  # raw negatives
            for i, v in zip(neg, rng.integers(1, 10, len(neg))):
                col[i] = f"-{v}"
            invalid[neg] = True
            metrics.append(col)
        fill = [_num_column(rng, n, hi, 0.05, 0.02, integer) for _, integer, hi in filler]
        ident = [
            pks, [week] * n, [p[2] for p in population], [k[:6] for k in pks],
            [p[1] for p in population],
            ["NA" if u < 0.01 else f"{a} MAIN ST" for u, a in zip(rng.random(n), rng.integers(1, 9999, n))],
            [f"CITY {c}" for c in rng.integers(0, 900, n)],
            [f"{z:05d}" for z in rng.integers(0, 100000, n)],
            [SUBTYPES[s] for s in rng.integers(0, len(SUBTYPES), n)],
            ["NA" if u < 0.1 else f"{c:05d}" for u, c in zip(rng.random(n), rng.integers(1000, 57000, n))],
            ["true" if u < 0.7 else "false" for u in rng.random(n)],
        ]
        geo = [
            "NA" if u < 0.05 else f"POINT ({x:.6f} {y:.6f})"
            for u, x, y in zip(rng.random(n), rng.uniform(-160, -65, n), rng.uniform(18, 65, n))
        ]
        columns = (
            ident[:8] + metrics[:4] + fill[: N_FILLER // 2]
            + ident[8:] + metrics[4:] + fill[N_FILLER // 2:] + [geo]
        )
        with open(path, "w", newline="") as f:
            out = csv.writer(f)
            out.writerow(header)
            out.writerows(zip(*columns))
        valid_keys = [k for k, bad in zip(pks, invalid) if not bad]
        n_invalid = int(invalid.sum())
        seen = sum(k in stored_keys for k in valid_keys)
        hhs.append({
            "path": path, "week": week, "rows": len(population),
            "invalid": n_invalid, "new_keys": len(valid_keys) - seen,
            "duplicate_keys": seen, "new_beds": len(valid_keys), "duplicate_beds": 0,
        })
        stored_keys.update(valid_keys)
        n_beds += len(valid_keys)

    ccns = sorted({pk for pk, _, _ in population if len(pk) == 6})
    cms: list[dict] = []
    cms_header = list(CMS_CONSUMED) + [f"Extra Measure {j}" for j in range(CMS_COLUMNS - 5)]
    for date in CMS_DATES:
        ids = [ccns[i] for i in sorted(rng.choice(len(ccns), len(ccns) * 19 // 20, replace=False))]
        path = os.path.join(out_dir, f"cms-{date}.csv")
        n = len(ids)
        ratings = [
            "Not Available" if u < 0.34 else str(r)
            for u, r in zip(rng.random(n), rng.integers(1, 6, n))
        ]
        columns = [
            ids,
            [CMS_TYPES[t] for t in rng.integers(0, len(CMS_TYPES), n)],
            [CMS_OWNERSHIP[o] for o in rng.integers(0, len(CMS_OWNERSHIP), n)],
            ["Yes" if u < 0.8 else "No" for u in rng.random(n)],
            ratings,
        ] + [list(map(str, rng.integers(0, 100, n))) for _ in range(CMS_COLUMNS - 5)]
        with open(path, "w", newline="") as f:
            out = csv.writer(f)
            out.writerow(cms_header)
            out.writerows(zip(*columns))
        cms.append({"path": path, "date": date, "rows": len(ids), "inserted": len(ids), "duplicates": 0})

    n_hosp = len(stored_keys)
    return {
        "hhs": hhs,
        "cms": cms,
        "store": {
            "hospitals": n_hosp,
            "hospital_locations": n_hosp,
            "hospital_beds": n_beds,
            "hospital_quality": sum(c["rows"] for c in cms),
        },
    }
