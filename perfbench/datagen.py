"""Benchmark inputs.

The tables are the engine's own deterministic test tables (TPC-H-shaped
star schema, an ``events`` stream, a ``documents`` corpus and an
``embeddings`` set), kept under ``perfbench/data/sf<scale>/`` so a run
reads nothing outside its checkout: ``sf0.01`` is what the timed passes
read, ``sf0.001`` what the warm-up passes read.

``make_delta_dir`` derives the front-door incremental input from a table
dir and the workload seed: about 1% new and 1% re-delivered ``orders`` and
``events`` rows, all with cursors past the seeded maximum; the other tables
are copied unchanged.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
DATA_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_DAY_US = 86_400_000_000


def table_dir(scale: str) -> str:
    return os.path.join(DATA_DIR, f"sf{scale}")


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLES
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _grow(table: pa.Table, key: str, cursor: str, step_us: int, rng) -> tuple[pa.Table, dict]:
    """Re-deliver ~1% of ``table``'s keys and append ~1% new keys, every
    delta row stamped past the current cursor maximum."""
    n = table.num_rows
    n_new = n_re = max(1, n // 100)
    cur = table.column(cursor).to_numpy().astype("datetime64[us]").astype(np.int64)
    top = int(cur.max())
    re_idx = np.sort(rng.choice(n, n_re, replace=False))
    cur = cur.copy()
    cur[re_idx] = top + rng.integers(1, 30, n_re) * step_us
    new_idx = rng.choice(n, n_new)
    base = table.set_column(table.schema.get_field_index(cursor), cursor, _ts(cur))
    new = base.take(pa.array(new_idx))
    new_keys = np.arange(n_new, dtype=np.int64) + int(table.column(key).to_numpy().max()) + 1
    new = new.set_column(new.schema.get_field_index(key), key, pa.array(new_keys))
    new = new.set_column(
        new.schema.get_field_index(cursor), cursor,
        _ts(top + rng.integers(1, 30, n_new) * step_us),
    )
    grown = pa.concat_tables([base, new])
    return grown, {"rows_loaded": n_new + n_re, "target_rows": n + n_new}


def make_delta_dir(base_dir: str, out_dir: str, seed: int) -> dict[str, dict]:
    """Write the incremental input dir; returns the expected load counts
    for ``orders`` and ``events``."""
    rng = np.random.default_rng([DATA_SEED, seed])
    os.makedirs(out_dir, exist_ok=True)
    expected = {}
    for name, key, cursor, step in (
        ("orders", "o_orderkey", "o_orderdate", _DAY_US),
        ("events", "event_id", "ts", 60_000_000),
    ):
        grown, expected[name] = _grow(
            pq.read_table(os.path.join(base_dir, f"{name}.parquet")), key, cursor, step, rng
        )
        _write(grown, os.path.join(out_dir, f"{name}.parquet"))
    for name in TABLES:
        if name not in expected:
            shutil.copyfile(
                os.path.join(base_dir, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet")
            )
    return expected
