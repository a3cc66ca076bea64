"""Readers and writers (sources / sinks).

Covers the reference's table semantics (SURVEY §1.4): full replace, append
and incremental snapshot-append on plain parquet, and merge/upsert by primary
key through the transaction-log table (txn.py), which makes the merge atomic
and records the load cursor in the same commit.
"""

from __future__ import annotations

import os
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet path, returning None ONLY when the path does not exist.
    Any other failure (corrupt footer, permissions, storage errors)
    propagates — treating those as 'missing table' would make the merge/
    append writers silently discard existing data."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in (getattr(e, "getErrorClass", lambda: "")() or str(e)):
            return None
        raise

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# Estimated scan-split size: the default spark.sql.files.maxPartitionBytes.
_WIDEN_SPLIT_BYTES = 128 * 1024 * 1024


def widen_narrow_scan(df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive scan-parallelism guard (optimization guide §2.5:
    an unsplittable input is repartitioned immediately after the read).

    A bench-scale table ships ONE parquet row group, so its scan stage is
    one task no matter the plan — any pipeline that (correctly, for
    shuffle volume) runs heavy per-row work BEFORE its first exchange
    serializes that work on one core. Production inputs split into
    thousands of scan tasks and must NOT pay a blanket repartition, so
    the round-robin spread applies only when the on-disk size says the
    scan cannot reach the width it would be spread to on its own
    (bytes / 128 MB-split estimate < that width). Deterministic and
    value-neutral: repartition() round-robin sorts its input first
    (SPARK-23207), and only row placement changes, never row content."""
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        else:
            size = os.path.getsize(path)
    except OSError:
        return df
    # Half the session's parallelism, not all of it (r11, guide §2.2/§2.6):
    # the spread exists so heavy per-row scan work stops serializing on one
    # task, and a width-W sweep (W ∈ {4,8,16,32} on the five heaviest wide
    # consumers, isolated min-of-4) measured parallelism/2 flat with full
    # parallelism (dsir 0.88 vs 0.89 s, minhash 0.57 vs 0.56 s) while W ≤ 4
    # lost 15-40%. Full-width stages only finish in one wave when the query
    # runs ALONE; under the engine's concurrent scheduler they run in waves
    # anyway, so the extra tasks are pure per-task/shuffle-block overhead
    # (M×R block growth). Still session-derived — never a local constant.
    width = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    if max(1, size // _WIDEN_SPLIT_BYTES) >= width:
        return df
    return df.repartition(width)


def normalize_column_name(name: str) -> str:
    """dlt-style column-name standardization (reference:
    pipelines/quickbooks/pipeline.py:151-154): strip, '/'→'_', ' '→'_', drop '.',
    plus lowercase + collapse repeats for a canonical snake_case form."""
    out = name.strip().replace("/", "_").replace(" ", "_").replace(".", "")
    out = re.sub(r"_+", "_", out)
    return out.lower()


def normalize_columns(df: DataFrame) -> DataFrame:
    return df.toDF(*[normalize_column_name(c) for c in df.columns])


class Tables:
    """Lazy handle on a scale-factor directory of parquet tables.

    Each attribute access returns the DataFrame (cached per instance so a
    query touching `lineitem` twice builds one scan node that Catalyst can
    reuse). Filters/projections on these scans push down to parquet.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        self._dfs: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLES:
            raise AttributeError(f"unknown table {name!r}; have {TABLES}")
        if name not in self._dfs:
            path = f"{self.sf_dir}/{name}.parquet"
            if name == "events":
                df = self._read_events(path)
            else:
                df = self.spark.read.parquet(path)
            self._dfs[name] = df
        return self._dfs[name]

    def wide(self, name: str) -> DataFrame:
        """The table with the scan-parallelism guard applied (see
        widen_narrow_scan) — for pipelines whose heavy per-row work runs
        in the scan stage (shingling, fingerprint hashing, LSH bucket
        dot-products) rather than after their first exchange. Cached per
        instance like the plain scans so branches share one subtree."""
        key = f"__wide_{name}"
        if key not in self._dfs:
            self._dfs[key] = widen_narrow_scan(
                getattr(self, name), f"{self.sf_dir}/{name}.parquet"
            )
        return self._dfs[key]

    def _read_events(self, path: str) -> DataFrame:
        """events.ts has shipped as parquet TIMESTAMP(MICROS) with and
        without a timezone flag, and as TIMESTAMP(NANOS) (which Spark's
        reader rejects — read nanos as long and truncate to microseconds,
        the same conversion DuckDB applies). Normalize all variants to
        TimestampType so downstream micros/window arithmetic
        (``unix_micros`` rejects TIMESTAMP_NTZ) behaves identically:
        the session timezone is pinned to UTC (session.py), so an NTZ →
        instant cast is value-preserving and DuckDB parity holds. Only a
        schema-rejection error falls through to the nanos path; storage
        errors (missing path, corrupt footer) propagate, matching
        read_parquet_if_exists policy. The legacy flag is restored
        afterwards (the read captures the schema eagerly) so the
        session's behavior for other parquet sources is untouched."""
        try:
            df = self.spark.read.parquet(path)
            if "ts" not in df.columns:
                return df
            ts_type = df.schema["ts"].dataType.typeName()
            if ts_type == "timestamp_ntz":
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
            if ts_type.startswith("timestamp"):
                return df
        except Exception as e:
            msg = str(e)
            if "TIMESTAMP(NANOS" not in msg and "Illegal Parquet type" not in msg:
                raise
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = self.spark.conf.get(conf_key, None)
        self.spark.conf.set(conf_key, "true")
        try:
            return self.spark.read.parquet(path).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        finally:
            if prev is None:
                self.spark.conf.unset(conf_key)
            else:
                self.spark.conf.set(conf_key, prev)


def read_csv_with_rejects(
    spark: SparkSession, path: str, schema: str, header: bool = True
) -> tuple[DataFrame, DataFrame, "Callable[[], None]"]:
    """Typed CSV scan with dlt-style bad-row capture: rows that fail the
    declared schema don't kill the load (FAILFAST) and don't silently
    null-out (plain PERMISSIVE) — they come back as a second frame carrying
    the raw line for quarantine/repair. Returns (good, rejects, release).

    Implementation is PERMISSIVE + columnNameOfCorruptRecord: one scan
    feeds both outputs, and the split predicate is a null-check on the
    corrupt column, so at scale this is a single pass with no shuffle.
    Spark requires the corrupt column to be cached before filtering on it
    alone, and caches persist for the SESSION, not the first action — so
    the third element is an explicit ``release()`` that unpersists the raw
    scan once both outputs are consumed; call it (or wrap in
    ``contextlib.closing``-style finally) to avoid pinning one
    InMemoryRelation per load in a long-lived session.
    """
    corrupt = "_corrupt_record"
    raw = (
        spark.read.schema(f"{schema}, {corrupt} STRING")
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .csv(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt).isNull()).drop(corrupt)
    rejects = raw.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )

    def release() -> None:
        raw.unpersist()

    return good, rejects, release


def read_jsonl(spark: SparkSession, path: str, blank_nulls: bool = True) -> DataFrame:
    """JSONL scan (reference S4/S5: pipelines/quickbooks/pipeline.py:374-456):
    schema-inferred line-delimited JSON; optionally null→'' on string columns
    to mirror dlt's string-forcing load behavior."""
    df = spark.read.json(path)
    if blank_nulls:
        str_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
        df = df.na.fill("", subset=str_cols)
    return df


def write_replace(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Full-reload semantics (reference S13 / trade_shows replace)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Append semantics (reference S6 historical export log)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    sort_cols: list[str] | None = None,
    n_files: int = 8,
) -> None:
    """Data-skipping layout: range-partition rows on ``range_col`` into
    ``n_files`` output files and sort within each (``sort_cols`` defaults to
    the range column). Parquet then records tight, near-disjoint min/max
    stats per file and row group, so a pushed-down range predicate skips
    whole files/row groups instead of decoding them — the plain-parquet
    analog of clustering/Z-ordering a 100 TB fact on its dominant filter
    column. Pair with the pushdown plan audits in tests/test_plans.py."""
    (
        df.repartitionByRange(n_files, F.col(range_col))
        .sortWithinPartitions(*(sort_cols or [range_col]))
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(cols: list[Column], mins: list[Column], maxes: list[Column], bits: int = 12) -> Column:
    """Morton (Z-order) key: each column min/max-scales to a ``bits``-wide
    unsigned int, then the bit planes interleave (bit i of column j lands at
    position i·ncols+j). Locality in ANY of the columns maps to locality in
    the key, which is what lets one physical sort serve range predicates on
    several columns at once. Pure shift/mask Column arithmetic — codegen'd,
    ncols·bits ops per row."""
    ncols = len(cols)
    width = (1 << bits) - 1
    scaled = [
        F.least(
            F.lit(width),
            F.greatest(
                F.lit(0),
                F.floor(
                    (c.cast("double") - mn.cast("double"))
                    / F.nullif(mx.cast("double") - mn.cast("double"), F.lit(0.0))
                    * width
                ),
            ),
        ).cast("long")
        for c, mn, mx in zip(cols, mins, maxes)
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            z = z.bitwiseOR(F.shiftleft(F.shiftright(s, i).bitwiseAND(F.lit(1)), i * ncols + j))
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 12,
    n_files: int = 8,
) -> None:
    """Multi-dimensional data-skipping layout: cluster the table on the
    Morton key of ``zorder_cols`` (numeric; cast dates to epoch days first)
    so parquet min/max stats are tight on EVERY clustered column — a pushed
    range predicate on any of them skips most files. This is the
    plain-parquet analog of Delta/Iceberg Z-ORDER table maintenance, and the
    multi-column upgrade of :func:`write_sorted` (whose single-axis layout
    leaves the other columns' per-file spans at ~full range). Column min/max
    come from one scalar agg broadcast back into the plan — no driver
    round-trip, no single-task window."""
    zorder_frame(df, zorder_cols, bits=bits, n_files=n_files).write.mode(
        "overwrite"
    ).parquet(path)


def zorder_frame(
    df: DataFrame, zorder_cols: list[str], bits: int = 12, n_files: int = 8
) -> DataFrame:
    """The layout transformation behind :func:`write_zorder`, reusable by
    any sink (e.g. TxnTable.commit_compact): range-partition + in-partition
    sort on the Morton key, helper columns dropped before write."""
    stats = df.agg(
        *[F.min(c).alias(f"_mn_{c}") for c in zorder_cols],
        *[F.max(c).alias(f"_mx_{c}") for c in zorder_cols],
    )
    z = zorder_key(
        [F.col(c) for c in zorder_cols],
        [F.col(f"_mn_{c}") for c in zorder_cols],
        [F.col(f"_mx_{c}") for c in zorder_cols],
        bits=bits,
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("_zkey", z)
        .repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *[f"_mn_{c}" for c in zorder_cols], *[f"_mx_{c}" for c in zorder_cols])
    )


def export_jsonl_snapshot(
    df: DataFrame,
    path: str,
    snapshot_col: str,
    after: str | None = None,
    order_by: list[str] | None = None,
) -> None:
    """JSONL append sink for historical export (reference S6:
    pipelines/quickbooks/pipeline.py:459-558 — rows past the last exported
    snapshot, deterministically ordered, appended as line-JSON). Ordering is
    per-file (sortWithinPartitions) — a global order would force a single
    partition; consumers re-sort on read, as the reference's importer does."""
    out = df if after is None else df.filter(F.col(snapshot_col) > F.lit(after))
    if order_by:
        out = out.sortWithinPartitions(*order_by)
    out.write.mode("append").json(path)


def merge_by_key(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    version_col: str | None = None,
    txn: dict | None = None,
) -> int:
    """Upsert-by-primary-key (reference S12: dlt write_disposition="merge",
    pipelines/quickbooks/pipeline.py:301-347) into the transaction-log table
    at ``path`` — the library's one upsert entry point. Source rows replace
    matched target rows (with ``version_col``, the higher version wins) and
    new keys append; ``txn`` is recorded in the same commit (e.g. a load
    cursor). The commit rewrites only the live files whose key range the
    batch overlaps (see txn.TxnTable.commit_merge). Returns the committed
    version."""
    from importer_spark.txn import TxnTable

    return TxnTable(spark, path).commit_merge(
        source, keys, version_col=version_col, txn=txn
    )


def snapshot_append(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    snapshot_col: str,
) -> None:
    """dbt-style incremental append (reference I2:
    int_quickbooks__inventory_history.sql:60-64): append only rows with
    ``snapshot_col`` strictly greater than the target's current max."""
    target = read_parquet_if_exists(spark, path)
    high = None if target is None else target.agg(F.max(snapshot_col)).first()[0]
    delta = source if high is None else source.filter(F.col(snapshot_col) > F.lit(high))
    delta.write.mode("append").parquet(path)
