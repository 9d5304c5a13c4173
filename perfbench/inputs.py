"""Seeded input tables for the benchmark workloads.

The inputs are derived from the repository's generated test data
(TESTDATA.md). ``testdata/`` holds byte-identical copies of the sf0.01
tables each workload reads (checksums in the README), because a run
reads nothing outside its checkout. A run builds an N× replicate of
them with the repository's own recipe (``tools/make_replicate.build``:
surrogate ids offset per copy, everything else verbatim), then perturbs
every copy from ``--seed``:

- ``events`` (×20): ``user_id`` and ``value`` are shuffled within each
  copy, so every column keeps the test data's exact multiset of values
  while each (day, chart) group gets other scores and users per seed.
  ``customer`` is copied verbatim, so the enrichment join never
  reports a mismatch.
- ``embeddings`` (×2): each vector gets a seeded Gaussian nudge of norm
  about 0.1 (a tenth of the test data's nearest-neighbour distance)
  and is renormalized to unit length; labels are kept.

The same seed always yields the same bytes. Every table is written as
ONE row group, the layout the test data has (readers.table's
scan-parallelism rule depends on it).
"""

from __future__ import annotations

import contextlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.make_replicate import build

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
EVENT_COPIES = 20
VECTOR_COPIES = 2
# norm of the seeded nudge added to every embedding
NUDGE = 0.1

# run_backfill's date range: seven days of the test data's January 2024
BACKFILL_RANGE = ("2024-01-08", "2024-01-14")


def _replicate(workload: str, out_dir: str, times: int) -> None:
    # build() reports each table on stdout; the run's stdout is its result
    with contextlib.redirect_stdout(sys.stderr):
        build(os.path.join(TESTDATA, workload), out_dir, times)


def _rewrite(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=table.num_rows or 1)


def _info(out_dir: str, tables: list[str]) -> dict[str, dict]:
    out = {}
    for t in tables:
        path = os.path.join(out_dir, t + ".parquet")
        out[t] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return out


def podcast_tables(out_dir: str, seed: int) -> dict[str, dict]:
    """Write events.parquet and customer.parquet; return rows/bytes."""
    _replicate("podcast_daily", out_dir, EVENT_COPIES)
    path = os.path.join(out_dir, "events.parquet")
    events = pq.read_table(path)
    n = events.num_rows // EVENT_COPIES
    rng = np.random.default_rng([seed, 1])
    for col in ("user_id", "value"):
        vals = events[col].to_numpy()
        order = np.concatenate(
            [i * n + rng.permutation(n) for i in range(EVENT_COPIES)]
        )
        events = events.set_column(
            events.schema.get_field_index(col), col, pa.array(vals[order])
        )
    _rewrite(events, path)
    return _info(out_dir, ["events", "customer"])


def ann_tables(out_dir: str, seed: int) -> dict[str, dict]:
    """Write embeddings.parquet; return rows/bytes."""
    _replicate("ann_index", out_dir, VECTOR_COPIES)
    path = os.path.join(out_dir, "embeddings.parquet")
    emb = pq.read_table(path)
    x = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    rng = np.random.default_rng([seed, 2])
    x += rng.normal(scale=NUDGE / np.sqrt(x.shape[1]), size=x.shape)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        "embedding",
        pa.array(list(x), type=emb.schema.field("embedding").type),
    )
    _rewrite(emb, path)
    return _info(out_dir, ["embeddings"])
