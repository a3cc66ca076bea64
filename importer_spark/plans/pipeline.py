"""Seed / incremental orchestration (SURVEY §2.9 I4, §3.1).

The reference's orchestrator runs sources in priority order with
--seed / --incremental / full modes (orchestrator.py:580-629), upserts each
source with dlt's merge disposition and keeps the incremental cursor in the
load state. Here: one function composing the library — (seed ? full
replace : rows past the cursor merged by key) → DAG rebuild → quality gates.
Each source is a transaction-log table (txn.py): a load's rows and its new
cursor publish in one commit, so the cursor can never disagree with the data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from importer_spark.io import merge_by_key
from importer_spark.txn import TxnTable, _dec_stat, _enc_stat


@dataclass
class LoadResult:
    mode: str
    rows_loaded: int
    target_rows: int


def committed_cursor(table: TxnTable):
    """The load cursor recorded by the newest commit that carries one, in
    its native type (None before the first load)."""
    for v in reversed(table._versions()):
        txn = table._manifest(v).get("txn") or {}
        if "cursor" in txn:
            return _dec_stat(txn["cursor"])
    return None


def run_source_load(
    spark: SparkSession,
    source: DataFrame,
    warehouse_path: str,
    keys: list[str],
    cursor_col: str,
    mode: str = "incremental",
) -> LoadResult:
    """Load one source table with seed/incremental semantics.

    seed: full replace;
    incremental: only rows past the committed cursor, merged by PK with the
    cursor column as the version, so re-delivered rows upsert (reference I3
    late-data handling).

    One aggregate job counts the batch and takes its cursor max; the rows
    and that cursor then publish in ONE commit. A run that fails before the
    commit leaves the table and the cursor as they were, and its re-run
    loads the batch exactly once. An empty incremental batch commits
    nothing. After a commit the superseded files are vacuumed, so the table
    keeps one copy on disk.
    """
    if mode not in ("seed", "incremental"):
        raise ValueError(f"unknown mode {mode!r}; use 'seed' or 'incremental'")
    table = TxnTable(spark, warehouse_path)
    delta = source
    if mode == "incremental":
        prev = committed_cursor(table)
        if prev is not None:
            delta = source.filter(F.col(cursor_col) > F.lit(prev))
    n, new_max = delta.agg(F.count(F.lit(1)), F.max(cursor_col)).first()
    ok, cursor = _enc_stat(new_max)
    if new_max is not None and not ok:
        raise TypeError(f"unsupported cursor value {new_max!r} in {cursor_col!r}")
    if mode == "seed":
        table.commit_replace(delta, txn={"cursor": cursor})
    elif n:
        merge_by_key(
            spark, delta, warehouse_path, keys=keys, version_col=cursor_col,
            txn={"cursor": cursor},
        )
    latest = table.latest_version()
    if mode == "seed" or n:
        table.vacuum(latest)
    target_rows = 0 if latest is None else table.num_rows(latest)
    return LoadResult(mode=mode, rows_loaded=n, target_rows=target_rows)
