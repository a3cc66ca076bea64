"""Incremental materialized-aggregate maintenance — combine partial
aggregates from new data into a stored mart without reaggregating history.

The reference's incremental dbt models re-filter and re-aggregate a lookback
window every run (int_quickbooks__inventory_history.sql incremental block);
at 100 TB the correct shape is algebraic: aggregate ONLY the new batch, then
merge the partials into the stored aggregate state with a full-outer join.
Every measure here is a commutative monoid (sum/count/min/max — avg and
ratios derive from sum+count at read time), so merged state equals the
full recompute exactly — pinned by tests/test_incremental_agg.py.

Scale shape: the merge touches |stored keys ∩ touched keys| + |new keys|
rows via one key-partitioned join; history volume never re-enters the job.
Compose with io.merge_by_key (an atomic txn.TxnTable merge that rewrites
only the files the batch's keys overlap) for the storage side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# measure name -> (aggregate fn for the batch, combine fn for merge)
_COMBINERS = {
    "sum": (F.sum, lambda a, b: a + b),
    "count": (F.count, lambda a, b: a + b),
    "min": (F.min, F.least),
    "max": (F.max, F.greatest),
}


def aggregate_batch(
    batch: DataFrame, keys: list[str], measures: dict[str, tuple[str, str]]
) -> DataFrame:
    """Aggregate one batch into partial state. ``measures`` maps output
    column -> (agg, input expression), e.g. {"revenue": ("sum",
    "CAST(price AS DECIMAL(18,2))"), "n": ("count", "*")}."""
    aggs = []
    for out, (agg, expr) in measures.items():
        if agg not in _COMBINERS:
            raise ValueError(f"unsupported agg {agg!r}; have {sorted(_COMBINERS)}")
        fn = _COMBINERS[agg][0]
        col = F.count("*") if (agg == "count" and expr == "*") else fn(F.expr(expr))
        aggs.append(col.alias(out))
    return batch.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_aggregate_state(
    stored: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Combine a delta partial (from aggregate_batch) into stored state:
    full-outer join on the keys, measure-wise monoid combine (null = absent
    side). With stored=None the delta IS the state (bootstrap)."""
    if stored is None:
        return delta
    s = stored.alias("s")
    d = delta.alias("d")
    joined = s.join(d, on=keys, how="full_outer")
    cols = [F.col(k) for k in keys]
    for out, (agg, _expr) in measures.items():
        combine = _COMBINERS[agg][1]
        a, b = F.col(f"s.{out}"), F.col(f"d.{out}")
        cols.append(
            F.when(a.isNull(), b).when(b.isNull(), a).otherwise(combine(a, b)).alias(out)
        )
    return joined.select(*cols)
