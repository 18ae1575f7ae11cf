"""Output checks: landed counts, and query results against DuckDB.

A result that fails its check counts as a failed op. Each query's result
is compared once, in full, with the repository's oracle compare
(``tests/oracle_utils.assert_frames_match``); later runs of the same query
must reproduce the verified result's row-multiset hash exactly.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

LAKE_GLOB = "{lake}/*/*.parquet"


def landed_counts(con: duckdb.DuckDBPyConnection, lake_dir: str) -> dict:
    """(event_type, direction) -> rows in a parquet directory partitioned
    by event_type."""
    rows = con.execute(
        "SELECT event_type, direction, COUNT(*) FROM read_parquet(?, "
        "hive_partitioning = true) GROUP BY ALL",
        [LAKE_GLOB.format(lake=lake_dir)],
    ).fetchall()
    return {(t, d): n for t, d, n in rows}


def frame_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result's rows (columns keyed by name)."""
    cols = sorted(pdf.columns)
    rows = pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy()
    h = hashlib.sha1(",".join(cols).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


def table_connection(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the generated source tables, as the registry
    oracles expect them."""
    con = duckdb.connect()
    for name in names:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{name}.parquet')"
        )
    return con


def lake_view(con: duckdb.DuckDBPyConnection, lake_dir: str) -> None:
    """``lake`` view over the sink's partitioned output; the Kafka
    timestamp is compared as naive UTC, the way Spark hands it to pandas
    under a UTC session."""
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE OR REPLACE VIEW lake AS SELECT * REPLACE "
        "(CAST(\"timestamp\" AS TIMESTAMP) AS \"timestamp\") FROM "
        f"read_parquet('{LAKE_GLOB.format(lake=lake_dir)}', hive_partitioning = true)"
    )


# DuckDB twins of the reference's Presto queries (analytics.*) over the lake
REFERENCE_SQL = {
    "ref_count_events": "SELECT COUNT(*) AS num_entries FROM lake",
    "ref_first_events": 'SELECT * FROM lake ORDER BY "timestamp" LIMIT 10',
    "ref_events_by_type": (
        "SELECT event_type, COUNT(*) AS num_events FROM lake GROUP BY 1"
    ),
    "ref_events_by_host_and_type": (
        'SELECT "Host" AS host, event_type, COUNT(*) AS num_events '
        "FROM lake GROUP BY 1, 2"
    ),
    "ref_distinct_host_type_detail": (
        'SELECT DISTINCT "Host" AS host, event_type, event_detail FROM lake'
    ),
}


def catalog_matches(name: str, pdf: pd.DataFrame, con, table: str) -> bool:
    """SHOW TABLES / DESCRIBE have no SQL twin over parquet: the table list
    must be exactly the benchmark's table, and DESCRIBE must list exactly
    the lake's columns as DuckDB reads them."""
    if name == "ref_show_tables":
        return sorted(pdf["tableName"]) == [table]
    cols = [r[0] for r in con.execute("DESCRIBE lake").fetchall()]
    described = [c for c in pdf["col_name"] if c and not c.startswith("#")]
    return sorted(set(described)) == sorted(cols)
