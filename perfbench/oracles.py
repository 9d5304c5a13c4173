"""Output checks: DuckDB recomputes over the same generated inputs.

Rows are compared in the canonical form the repository's oracle tests
use (tests/test_queries_oracle.py): columns in name order, every cell
stringified type-distinguishingly (int vs float, floats by repr), rows
sorted, then hashed. Equal hashes mean byte-identical canonical rows.
"""

from __future__ import annotations

import datetime
import hashlib
import os

import duckdb
import pandas as pd


def _cell_str(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, float) and v != v:
        return "nan"
    if isinstance(v, pd.Timestamp):
        return str(v.tz_localize(None) if v.tzinfo else v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, bool):
        return str(v)
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canon_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns, key=str.lower), axis=1)
    rows = sorted(
        "\x1f".join(_cell_str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1f".join(sorted(map(str.lower, pdf.columns))).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def connect(data_dir: str, tables: list[str], temp_dir: str):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET threads = 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{os.path.join(data_dir, t + '.parquet')}'"
        )
    return con


# -------------------------------------------------------- podcast_daily
# PodcastPipeline's chart in SQL: rank each (day, event type) by score
# desc with entry_id as tie-break, keep the top 10, left-join customers.
PODCAST_CHART_SQL = """
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS snapshot_date, event_type AS chart,
               event_id AS entry_id, user_id, value AS score
        FROM events
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY snapshot_date, chart
            ORDER BY score DESC, entry_id) AS rank
        FROM ev
    )
    SELECT r.chart, r.entry_id, r.user_id, r.score, r.rank,
           c.c_name, c.c_mktsegment, c.c_nationkey, r.snapshot_date
    FROM ranked r LEFT JOIN customer c ON c.c_custkey = r.user_id
    WHERE r.rank <= {k}
"""


def podcast_expected(con, chart_len: int) -> str:
    return canon_hash(con.execute(PODCAST_CHART_SQL.format(k=chart_len)).df())


def consolidated_csv_hash(con, csv_path: str) -> str:
    """The single consolidated CSV, typed the way the oracle is."""
    pdf = con.execute(
        f"""SELECT chart, CAST(entry_id AS BIGINT) AS entry_id,
                   CAST(user_id AS BIGINT) AS user_id,
                   CAST(score AS DOUBLE) AS score,
                   CAST(rank AS BIGINT) AS rank, c_name, c_mktsegment,
                   CAST(c_nationkey AS INTEGER) AS c_nationkey,
                   CAST(snapshot_date AS DATE) AS snapshot_date
            FROM read_csv('{csv_path}', header = true, all_varchar = true)"""
    ).df()
    return canon_hash(pdf)


def daily_parquet_hash(con, charts_path: str) -> str:
    """Every daily partition of the snapshot table."""
    pdf = con.execute(
        f"""SELECT chart, entry_id, user_id, score,
                   CAST(rank AS BIGINT) AS rank, c_name, c_mktsegment,
                   c_nationkey, CAST(snapshot_date AS DATE) AS snapshot_date
            FROM read_parquet('{charts_path}/*/*.parquet',
                              hive_partitioning = true)"""
    ).df()
    return canon_hash(pdf)


# -------------------------------------------------------------- ann_index
def ann_serve_expected(con) -> str:
    """The one-shot-rebuild oracle of the incremental store's serve."""
    from spotify_podcasts_airflow_batch_spark.plans.similarity4 import (
        _inc_serve_oracle,
    )

    return canon_hash(con.execute(_inc_serve_oracle()).df())


def ann_store_counts(con, root: str) -> tuple[int, int]:
    """(segment rows, tombstone rows) of an incremental store."""
    seg = con.execute(
        f"SELECT count(*) FROM read_parquet('{root}/segments/*/*/*.parquet')"
    ).fetchone()[0]
    tomb = con.execute(
        f"SELECT count(*) FROM read_parquet('{root}/tombstones/*.parquet')"
    ).fetchone()[0]
    return int(seg), int(tomb)
