"""Output checks: query result digests and ETL store checks.

A query result is reduced to an order-insensitive digest of its
column names and its rows, normalised as the repository oracle does
(``tests/oracle.py``: columns sorted by name, floats rounded to 9
places, rows sorted by ``repr``), so a result that passes the oracle
comparison has the oracle's digest.
The expected digests live in ``expected.json``; ``record_expected.py``
writes them from DuckDB over the generated star tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")

sys.path.insert(0, os.path.join(ROOT, "tests"))
from oracle import normalize_result  # noqa: E402


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result set and its column names."""
    norm = normalize_result(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def spark_digest(df) -> tuple[str, int]:
    rows = df.collect()
    return digest(df.columns, rows), len(rows)


# ---------------------------------------------------------------------------
# ETL checks
# ---------------------------------------------------------------------------


def load_mismatches(kind: str, report, planted: dict) -> list[str]:
    """Compare one loader report with the generator's planted counts."""
    if kind == "hhs":
        want = {
            "hospitals": (planted["new_keys"], planted["duplicate_keys"]),
            "hospital_locations": (planted["new_keys"], planted["duplicate_keys"]),
            "hospital_beds": (planted["new_beds"], planted["duplicate_beds"]),
        }
        got = {t: (report.table_rows[t], report.quarantined_duplicate[t]) for t in want}
        got_invalid = report.quarantined_invalid
        out = [f"{t}: got (new, dup) {got[t]}, planted {want[t]}" for t in want if got[t] != want[t]]
        if got_invalid != planted["invalid"]:
            out.append(f"invalid: got {got_invalid}, planted {planted['invalid']}")
        return out
    got = (report.inserted, report.duplicates)
    want = (planted["inserted"], planted["duplicates"])
    return [] if got == want else [f"quality {planted['date']}: got {got}, planted {want}"]


def _duck_store(store_root: str):
    import duckdb

    con = duckdb.connect()
    for table in ("hospitals", "hospital_locations", "hospital_beds", "hospital_quality"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
            f"'{store_root}/{table}/**/*.parquet', hive_partitioning = true)"
        )
    return con


_BEDS = (
    "round(sum(all_adult_hospital_beds_7_day_avg), 2) AS total_adult_beds, "
    "round(sum(all_pediatric_inpatient_beds_7_day_avg), 2) AS total_pediatric_beds, "
    "round(sum(total_icu_beds_7_day_avg), 2) AS total_icu_beds, "
    "round(sum(icu_beds_used_7_day_avg), 2) AS icu_beds_used, "
    "round(sum(inpatient_beds_used_covid_7_day_avg), 2) AS covid_beds_used"
)
_FRACTION = (
    "round(sum(icu_beds_used_7_day_avg + inpatient_beds_used_covid_7_day_avg) / "
    "nullif(sum(total_icu_beds_7_day_avg + all_adult_hospital_beds_7_day_avg), 0), 6)"
)
_WEEK = "CAST(collection_week AS DATE)"


def report_sql(week: str, ownership: str, data_date: str) -> dict[str, str]:
    """DuckDB SQL for each report DataFrame the ETL pass collects."""
    by_state = (
        "SELECT state, round(avg(hospital_overall_rating), 4) AS avg_rating "
        "FROM hospital_quality q JOIN hospital_locations l ON q.facility_id = l.hospital_fk "
        f"WHERE CAST(q.data_date AS DATE) = DATE '{data_date}' "
        "AND hospital_overall_rating IS NOT NULL GROUP BY state"
    )
    return {
        "records_loaded_per_week": (
            f"SELECT {_WEEK} AS collection_week, count(*) AS n_records FROM hospital_beds "
            f"WHERE {_WEEK} <= DATE '{week}' GROUP BY 1"
        ),
        "beds_summary_for_week": f"SELECT {_BEDS} FROM hospital_beds WHERE {_WEEK} = DATE '{week}'",
        "beds_summary_recent_weeks": (
            f"SELECT {_WEEK} AS collection_week, {_BEDS} FROM hospital_beds "
            "GROUP BY 1 ORDER BY 1 DESC LIMIT 4"
        ),
        "fraction_beds_in_use_by_rating": (
            f"SELECT hospital_overall_rating, {_FRACTION} AS fraction_of_beds_in_use "
            "FROM hospital_beds b JOIN hospital_quality q ON b.hospital_fk = q.facility_id "
            f"WHERE CAST(b.collection_week AS DATE) = DATE '{week}' GROUP BY 1"
        ),
        "hospital_cases_by_week": (
            f"SELECT {_WEEK} AS collection_week, round(sum("
            "all_adult_hospital_inpatient_bed_occupied_7_day_coverage + "
            "all_pediatric_inpatient_bed_occupied_7_day_avg + icu_beds_used_7_day_avg), 2) AS all_cases, "
            "round(sum(inpatient_beds_used_covid_7_day_avg), 2) AS covid_cases "
            f"FROM hospital_beds WHERE {_WEEK} <= DATE '{week}' GROUP BY 1"
        ),
        "emergency_services_by_state": (
            "SELECT state, count(*) AS n_hospitals FROM hospital_quality q "
            "JOIN hospitals h ON q.facility_id = h.hospital_pk "
            "JOIN hospital_locations l ON h.hospital_pk = l.hospital_fk "
            "WHERE q.emergency_services GROUP BY state ORDER BY n_hospitals DESC, state LIMIT 20"
        ),
        "beds_in_use_by_ownership": (
            f"SELECT hospital_ownership, CAST(b.collection_week AS DATE) AS collection_week, "
            f"{_FRACTION} AS fraction_in_use FROM hospital_beds b JOIN hospital_quality q "
            f"ON b.hospital_fk = q.facility_id WHERE hospital_ownership = '{ownership}' GROUP BY 1, 2"
        ),
        "top_rated_states": f"{by_state} ORDER BY avg_rating DESC, state LIMIT 10",
        "bottom_rated_states": f"{by_state} ORDER BY avg_rating ASC, state LIMIT 10",
    }


class StoreChecker:
    """DuckDB reading the store the ETL pass wrote."""

    def __init__(self, store_root: str):
        self.con = _duck_store(store_root)

    def digest(self, sql: str) -> str:
        rel = self.con.execute(sql)
        return digest([d[0] for d in rel.description], rel.fetchall())

    def row_counts(self) -> dict[str, int]:
        return {
            t: self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            for t in ("hospitals", "hospital_locations", "hospital_beds", "hospital_quality")
        }

    def close(self) -> None:
        self.con.close()
