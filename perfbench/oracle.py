"""DuckDB oracles and result comparison.

Every oracle reads the same files the engine reads (raw CSV/JSON-lines,
stream drops) and recomputes the expected answer with DuckDB,
independently of Spark.
"""

from __future__ import annotations

import json
import math

import duckdb

from aws_lakehouse_project_spark.streaming.events_stream import _STREAM_ORACLE

_CSV_COLS = {
    "erp_orders": ("order_id", "customer_id", "store_id", "dt", "order_value", "status"),
    "crm_leads": ("lead_id", "name", "email", "source", "status", "store_id", "dt"),
}

FACT_SQL = """
WITH o AS (
    SELECT store_id, CAST(dt AS DATE) AS dt,
           SUM(CAST(order_value AS DECIMAL(12,2))) AS revenue,
           COUNT(*) AS order_count
    FROM erp_orders GROUP BY 1, 2),
l AS (
    SELECT store_id, CAST(dt AS DATE) AS dt,
           COUNT(*) FILTER (WHERE status = 'converted') AS converted_leads
    FROM crm_leads GROUP BY 1, 2),
w AS (
    SELECT store_id, CAST(dt AS DATE) AS dt, COUNT(*) AS sessions
    FROM web_events GROUP BY 1, 2)
SELECT store_id, dt,
       CAST(COALESCE(revenue, 0) AS DECIMAL(12,2)) AS revenue,
       COALESCE(order_count, 0) AS order_count,
       COALESCE(converted_leads, 0) AS converted_leads,
       COALESCE(sessions, 0) AS sessions
FROM o FULL OUTER JOIN l USING (store_id, dt) FULL OUTER JOIN w USING (store_id, dt)
ORDER BY store_id, dt
"""

def domain_connection(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the raw domain files as views. CSV rows
    with the wrong field count are skipped (the quarantine); JSON-lines
    are parsed strictly line by line, unparseable lines skipped."""
    import pyarrow as pa

    con = duckdb.connect()
    for domain, cols in _CSV_COLS.items():
        spec = ", ".join(f"'{c}': 'VARCHAR'" for c in cols)
        con.execute(
            f"CREATE VIEW {domain} AS SELECT * FROM read_csv('{paths[domain]}', "
            f"header=true, ignore_errors=true, columns={{{spec}}})"
        )
    rows = {"event_id": [], "store_id": [], "dt": []}
    with open(paths["web_events"]) as fh:
        for line in fh:
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            for k in rows:
                rows[k].append(obj.get(k))
    con.register("web_events", pa.table(rows))
    return con


def fact_rows(paths: dict[str, str]) -> list[tuple]:
    with domain_connection(paths) as con:
        return con.execute(FACT_SQL).fetchall()


def stream_rows(drop_files: list[str]) -> list[tuple]:
    """The engine's own stream oracle query over every dropped event."""
    files = ", ".join(f"'{p}'" for p in drop_files)
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
        return con.execute(_STREAM_ORACLE).fetchall()


def _sort_key(row: tuple) -> tuple:
    # floats rounded so that last-digit differences between engines
    # cannot reorder otherwise equal rows; None sorts first
    return tuple(
        ("", 0) if v is None else (type(v).__name__, round(v, 6) if isinstance(v, float) else v)
        for v in row
    )


def same_rows(got: list[tuple], want: list[tuple], ordered: bool = False) -> bool:
    """Multiset (or ordered) equality with a 1e-9 relative tolerance on
    floats; decimals, ints, strings and dates compare exactly."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif not math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True
