"""DuckDB twins of the benchmark's outputs and the row normalization
shared by every correctness check.

Rows are normalized the way ``tests/test_oracle_parity.py`` does it:
columns sorted by name, floats by ``repr``, everything else by ``str``,
rows sorted. Two outputs match when their normalized rows hash equal.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

# bbox_weekly_avg's box: central Prague
BBOX = (14.30, 49.95, 14.60, 50.15)
DATASOURCE = "cheap_mobile"


def _cell(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def digest(cols: list[str], rows: list[tuple], drop_one: bool = False) -> str:
    """Order-insensitive hash of a result; ``drop_one`` removes one row
    first (the benchmark's own corrupted-output self-test)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    if drop_one and norm:
        norm = norm[1:]
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()


_WOM = ("strftime(ts, '%Y-%m') || '-0' || "
        "CAST(CAST(ceil(day(ts) / 7.0) AS INTEGER) AS VARCHAR)")
_RE = r"POINT\s*\(\s*(-?[0-9.]+)\s+(-?[0-9.]+)\s*\)"


def _coord(col: str, group: int) -> str:
    return f"CAST(NULLIF(regexp_extract({col}, '{_RE}', {group}), '') AS DOUBLE)"


def _cell_sql(col: str) -> str:
    return (f"CAST(floor({_coord(col, 1)} / 0.05) AS BIGINT) || ':' || "
            f"CAST(floor({_coord(col, 2)} / 0.05) AS BIGINT)")


TRIPS_VIEWS_SQL = {
    "weekly_avg_by_region": f"""
        SELECT region, week_of_month, CAST(ceil(avg(cnt)) AS BIGINT) AS weekly_avg
        FROM (SELECT region, {_WOM} AS week_of_month, count(*) AS cnt
              FROM hist GROUP BY ALL) GROUP BY ALL""",
    "regions_for_datasource": f"""
        SELECT region FROM hist WHERE datasource = '{DATASOURCE}'
        GROUP BY region""",
    "latest_datasource": """
        WITH top AS (SELECT region FROM hist GROUP BY region
                     ORDER BY count(*) DESC, region LIMIT 2),
             last AS (SELECT max(ts) AS m FROM hist
                      WHERE region IN (SELECT region FROM top))
        SELECT datasource FROM hist, last WHERE hist.ts = last.m""",
    "trip_groups": f"""
        SELECT {_cell_sql('origin_coord')} AS origin_cell,
               {_cell_sql('destination_coord')} AS dest_cell,
               CAST(hour(ts) AS INTEGER) AS hour_of_day,
               count(*) AS n_trips
        FROM hist GROUP BY ALL""",
    "bbox_weekly_avg": f"""
        SELECT round(avg(cnt), 4) AS weekly_avg_trips
        FROM (SELECT {_WOM} AS week_of_month, count(*) AS cnt FROM hist
              WHERE {_coord('origin_coord', 1)} BETWEEN {BBOX[0]} AND {BBOX[2]}
                AND {_coord('origin_coord', 2)} BETWEEN {BBOX[1]} AND {BBOX[3]}
              GROUP BY ALL)""",
}


def trips_view_digests(csv_files: list[str]) -> dict[str, str]:
    """Digest of each trips view over the distinct rows of ``csv_files``
    (distinct full rows == distinct ``trip_key``)."""
    con = duckdb.connect()
    files = ", ".join(f"'{f}'" for f in csv_files)
    con.execute(f"""
        CREATE TABLE hist AS
        SELECT DISTINCT *, CAST(datetime AS TIMESTAMP) AS ts
        FROM read_csv([{files}], header = true, all_varchar = true)""")
    out = {}
    for name, sql in TRIPS_VIEWS_SQL.items():
        cur = con.execute(sql)
        out[name] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def query_digests(sql_by_key: dict[str, str], tables_dir: str,
                  tables: tuple[str, ...]) -> dict[str, str]:
    """Digest of each registered query's ``oracle_sql()`` twin over the
    parquet tables under ``tables_dir``."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    out = {}
    for key, sql in sql_by_key.items():
        cur = con.execute(sql)
        out[key] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out
