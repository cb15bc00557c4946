"""Independent DuckDB checks of the warehouse the program wrote.

- silver: ``event_id`` is unique and the id set equals the one the
  manifest gives under the event-time watermark (``gen.expected_silver``);
  the region, depth class, risk level and tsunami flag of every row agree
  with the reference rules recomputed from its coordinates and
  magnitude;
- gold: all six gold tables are recomputed from the silver parquet and
  compared row by row;
- dashboard: each query's SQL text runs on DuckDB over the same parquet
  files and its rows are compared with what Spark returned.

Numbers compare within one unit in the last decimal place either side
printed (the engines round .5 cases differently) or a relative 1e-9;
everything else compares exactly. Row order is not compared: several
dashboard queries order by keys with ties.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime, timezone
from decimal import Decimal

import duckdb

from gen import REGION_BOXES

GOLD_TABLES = (
    "gold_regional_risk", "gold_temporal_metrics", "gold_kpi_summary",
    "gold_region_summary", "gold_physics_analysis", "gold_regional_physics",
)


def connect(warehouse_root: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per warehouse table."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for name in sorted(os.listdir(warehouse_root)):
        path = os.path.join(warehouse_root, name)
        if name.startswith(".") or not os.path.isdir(path):
            continue
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
            f"'{path}/**/*.parquet', hive_partitioning=true, union_by_name=true)"
        )
    return con


# -- value comparison ------------------------------------------------------
def norm(v):
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    if isinstance(v, Decimal):
        return float(v)
    return v


def _decimals(x: float) -> int | None:
    r = repr(float(x))
    if "e" in r or "inf" in r or "nan" in r:
        return None
    return len(r.split(".")[1]) if "." in r else 0


def same(a, b) -> bool:
    a, b = norm(a), norm(b)
    if isinstance(a, bool) or isinstance(b, bool):
        return a is b or (a == b and type(a) is type(b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if a == b:
            return True
        if math.isnan(a) or math.isnan(b):
            return False
        if abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
            return True
        da, db = _decimals(a), _decimals(b)
        if da is None or db is None:
            return False
        d = max(da, db)
        return d <= 6 and abs(a - b) <= 10.0 ** -d * 1.000001
    return a == b


def _sort_key(row: tuple) -> tuple:
    out = []
    for v in row:
        v = norm(v)
        if v is None:
            out.append((0, ""))
        elif isinstance(v, bool):
            out.append((1, int(v)))
        elif isinstance(v, (int, float)):
            out.append((2, round(float(v), 6)))
        elif isinstance(v, (datetime, date)):
            out.append((3, v.isoformat()))
        else:
            out.append((4, str(v)))
    return tuple(out)


def diff_rows(got: list[tuple], want: list[tuple], cols: list[str], label: str,
              limit: int = 3) -> list[str]:
    """Order-insensitive row comparison; returns mismatch descriptions."""
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    out = []
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        bad = [c for c, x, y in zip(cols, g, w) if not same(x, y)]
        if bad:
            out.append(f"{label}: {bad[0]} got {g[cols.index(bad[0])]!r} "
                       f"expected {w[cols.index(bad[0])]!r}")
            if len(out) >= limit:
                break
    return out


# -- silver ----------------------------------------------------------------
def _region_case() -> str:
    arms = " ".join(
        f"WHEN latitude BETWEEN {y0} AND {y1} AND longitude BETWEEN {x0} AND {x1} "
        f"THEN '{code}'"
        for code, _n, x0, x1, y0, y1 in REGION_BOXES  # listed in priority order
    )
    return f"CASE {arms} ELSE 'OTHER' END"


def check_silver(con, expected_ids: set[str]) -> list[str]:
    problems = []
    n, n_distinct = con.execute(
        "SELECT count(*), count(DISTINCT event_id) FROM silver_earthquakes"
    ).fetchone()
    if n != n_distinct:
        problems.append(f"silver: {n - n_distinct} duplicate event_id rows")
    got = {r[0] for r in con.execute("SELECT event_id FROM silver_earthquakes").fetchall()}
    if got != expected_ids:
        problems.append(
            f"silver: {len(got - expected_ids)} unexpected ids, "
            f"{len(expected_ids - got)} missing ids (of {len(expected_ids)})"
        )
    bad = con.execute(f"""
        SELECT count(*) FROM silver_earthquakes WHERE
            tectonic_region IS DISTINCT FROM ({_region_case()})
         OR depth_category IS DISTINCT FROM (CASE WHEN depth_km >= 300 THEN 'DEEP'
                 WHEN depth_km >= 70 THEN 'INTERMEDIATE' ELSE 'SHALLOW' END)
         OR risk_level IS DISTINCT FROM (CASE WHEN magnitude >= 7 THEN 'CRITICAL'
                 WHEN magnitude >= 6 THEN 'HIGH' WHEN magnitude >= 5 THEN 'MODERATE'
                 WHEN magnitude >= 4 THEN 'LOW' ELSE 'MINIMAL' END)
         OR tsunami_potential IS DISTINCT FROM (magnitude >= 7.0 AND depth_km < 70)
         OR depth_km NOT BETWEEN 0 AND 700 OR magnitude IS NULL
    """).fetchone()[0]
    if bad:
        problems.append(f"silver: {bad} rows with wrong derived columns")
    return problems


# -- gold ------------------------------------------------------------------
def gold_sql(clock: datetime) -> dict[str, str]:
    ts = f"TIMESTAMP '{clock:%Y-%m-%d %H:%M:%S}'"
    crit = "sum(CASE WHEN risk_level = 'CRITICAL' THEN 1 ELSE 0 END)"
    high = "sum(CASE WHEN risk_level = 'HIGH' THEN 1 ELSE 0 END)"
    mod = "sum(CASE WHEN risk_level = 'MODERATE' THEN 1 ELSE 0 END)"
    tsu = "sum(CASE WHEN tsunami_potential THEN 1 ELSE 0 END)"
    mmi = "round(1.5 * magnitude - 2.5 * log10(depth_km + 1) + 2.0, 1)"
    return {
        "gold_regional_risk": f"""
            WITH a AS (
              SELECT tectonic_region, region_name, year, month,
                count(*) AS total_events,
                round(avg(magnitude), 3) AS avg_magnitude,
                round(max(magnitude), 2) AS max_magnitude,
                round(min(magnitude), 2) AS min_magnitude,
                round(coalesce(stddev_samp(magnitude), 0.0), 3) AS stddev_magnitude,
                round(avg(depth_km), 2) AS avg_depth_km,
                sum(CASE WHEN depth_category = 'SHALLOW' THEN 1 ELSE 0 END) AS shallow_count,
                sum(CASE WHEN depth_category = 'INTERMEDIATE' THEN 1 ELSE 0 END) AS intermediate_count,
                sum(CASE WHEN depth_category = 'DEEP' THEN 1 ELSE 0 END) AS deep_count,
                {crit} AS critical_count, {high} AS high_risk_count,
                {mod} AS moderate_count, {tsu} AS tsunami_count,
                round(sum(energy_joules), 2) AS total_energy_joules
              FROM silver_earthquakes GROUP BY ALL)
            SELECT *, round(critical_count * 50 + high_risk_count * 20
                            + moderate_count * 5 + max_magnitude * 10, 2) AS risk_score,
              CASE WHEN risk_score >= 100 THEN 'CRITICAL' WHEN risk_score >= 50 THEN 'HIGH'
                   WHEN risk_score >= 20 THEN 'MODERATE' WHEN risk_score >= 5 THEN 'LOW'
                   ELSE 'MINIMAL' END AS risk_level,
              {ts} AS calculated_ts
            FROM a""",
        "gold_temporal_metrics": f"""
            WITH d AS (
              SELECT CAST(event_time AS DATE) AS event_date,
                count(*) AS total_events,
                round(avg(magnitude), 3) AS avg_magnitude,
                round(max(magnitude), 2) AS max_magnitude,
                count(DISTINCT tectonic_region) AS active_regions,
                {crit} AS critical_events, {high} AS high_risk_events,
                {tsu} AS tsunami_events,
                round(sum(energy_joules), 2) AS total_energy
              FROM silver_earthquakes GROUP BY 1),
            r AS (
              SELECT *, year(event_date) AS year, month(event_date) AS month,
                sum(total_events) OVER (ORDER BY event_date
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rolling_7d_count,
                sum(total_events) OVER (ORDER BY event_date
                    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS rolling_30d_count
              FROM d)
            SELECT *, CASE WHEN rolling_7d_count > 0
                      THEN total_events > CAST(rolling_7d_count AS DOUBLE) / 7 * 2
                      ELSE false END AS is_anomaly,
              {ts} AS calculated_ts
            FROM r""",
        "gold_kpi_summary": f"""
            SELECT count(*) AS total_earthquakes,
              round(avg(magnitude), 2) AS avg_magnitude,
              max(magnitude) AS max_magnitude, min(magnitude) AS min_magnitude,
              count(DISTINCT tectonic_region) AS active_regions,
              {crit} AS critical_events, {high} AS high_risk_events,
              {tsu} AS tsunami_events,
              round(sum(energy_joules), 2) AS total_energy_joules,
              round(avg(depth_km), 1) AS avg_depth_km,
              min(event_time) AS data_start, max(event_time) AS data_end,
              {ts} AS refresh_ts
            FROM silver_earthquakes""",
        "gold_region_summary": f"""
            WITH a AS (
              SELECT tectonic_region, region_name,
                count(*) AS total_events,
                round(avg(magnitude), 2) AS avg_magnitude,
                max(magnitude) AS max_magnitude,
                {crit} AS critical_events, {high} AS high_risk_events,
                {tsu} AS tsunami_events,
                round(avg(latitude), 2) AS center_lat,
                round(avg(longitude), 2) AS center_lon
              FROM silver_earthquakes GROUP BY ALL)
            SELECT *, dense_rank() OVER (ORDER BY critical_events DESC,
                total_events DESC, tectonic_region) AS risk_rank,
              {ts} AS calculated_ts
            FROM a""",
        "gold_physics_analysis": f"""
            WITH p AS (
              SELECT event_id, event_time, latitude, longitude, magnitude, depth_km,
                place, tectonic_region, risk_level, tsunami_potential,
                round(1.5 * magnitude + 4.8, 2) AS energy_joules_log,
                {mmi} AS mercalli_intensity,
                round(1.5 * magnitude + 9.1, 2) AS seismic_moment_log,
                round(pow(10.0, 0.74 * magnitude - 3.55), 2) AS rupture_length_km,
                round(magnitude - 1.2, 1) AS expected_aftershock_mag,
                round(magnitude * 15 - depth_km * 0.2
                      + CASE WHEN depth_km < 70 THEN 25 ELSE 0 END
                      + CASE WHEN magnitude >= 7.0 THEN 30 ELSE 0 END, 1) AS tsunami_risk_score
              FROM silver_earthquakes)
            SELECT *,
              CASE WHEN mercalli_intensity >= 10 THEN 'X+ (Extreme)'
                   WHEN mercalli_intensity >= 8 THEN 'VIII-IX (Severe)'
                   WHEN mercalli_intensity >= 6 THEN 'VI-VII (Strong)'
                   WHEN mercalli_intensity >= 4 THEN 'IV-V (Moderate)'
                   WHEN mercalli_intensity >= 2 THEN 'II-III (Weak)'
                   ELSE 'I (Not Felt)' END AS mercalli_scale,
              CASE WHEN mercalli_intensity >= 8 THEN 'EXTREME'
                   WHEN mercalli_intensity >= 6 THEN 'HIGH'
                   WHEN mercalli_intensity >= 4 THEN 'MODERATE'
                   WHEN mercalli_intensity >= 2 THEN 'LOW'
                   ELSE 'MINIMAL' END AS damage_potential,
              {ts} AS physics_calculated_ts
            FROM p""",
        # derived from the oracle's own physics rows, not the program's
        "gold_regional_physics": f"""
            SELECT tectonic_region, count(*) AS total_events,
              round(avg(magnitude), 2) AS avg_magnitude,
              round(avg(mercalli_intensity), 1) AS avg_mmi,
              round(avg(rupture_length_km), 2) AS avg_rupture_km,
              round(avg(tsunami_risk_score), 1) AS avg_tsunami_score,
              sum(CASE WHEN damage_potential = 'EXTREME' THEN 1 ELSE 0 END) AS extreme_count,
              sum(CASE WHEN damage_potential = 'HIGH' THEN 1 ELSE 0 END) AS high_count,
              {ts} AS calculated_ts
            FROM oracle_physics GROUP BY tectonic_region""",
    }


def check_gold(con, clock: datetime) -> list[str]:
    sql = gold_sql(clock)
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_physics AS {sql['gold_physics_analysis']}")
    problems = []
    for table in GOLD_TABLES:
        got_rel = con.execute(f"SELECT * FROM {table}")
        cols = [d[0] for d in got_rel.description]
        got = got_rel.fetchall()
        want_rel = con.execute(f"SELECT * FROM ({sql[table]})")
        want_cols = [d[0] for d in want_rel.description]
        want = want_rel.fetchall()
        if sorted(cols) != sorted(want_cols):
            problems.append(f"{table}: columns {sorted(cols)} != {sorted(want_cols)}")
            continue
        order = [want_cols.index(c) for c in cols]
        want = [tuple(r[i] for i in order) for r in want]
        problems += diff_rows(got, want, cols, table)
    return problems


def run_sql(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()
