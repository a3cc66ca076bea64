"""Incremental JOIN-view maintenance — the delta rule for materialized
equi-join views, insert-only deltas:

    V        =  A ⋈ B
    ΔV       =  (ΔA ⋈ (B ∪ ΔB))  ∪  (A ⋈ ΔB)
    V_new    =  V ∪ ΔV

(the classical counting-free special case of Gupta/Mumick/Subrahmanian,
"Maintaining views incrementally", SIGMOD 1993 — exact for multiset UNION
ALL semantics because the three disjoint provenance classes new×old,
new×new, old×new partition V_new − V).

Sibling of operators/incremental_agg.py (monoid aggregate maintenance):
together they cover the two mart shapes the reference recomputes from
scratch each dbt run (models/mart/fct_orders.sql joins; the incremental
lookback blocks). Scale shape: each delta join probes the FULL other side
but carries only |Δ| rows on the delta side — a small Δ broadcasts, so
the probe is one pass over the stored side; history never re-joins
history.

Deletes/updates need counting or Z-relation semantics — out of scope here
and raised loudly, not silently mis-maintained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def join_view_delta(
    a_old: DataFrame,
    delta_a: DataFrame | None,
    b_old: DataFrame,
    delta_b: DataFrame | None,
    on: list[str],
) -> DataFrame | None:
    """ΔV for V = a ⋈ b under insert-only deltas (None = no new rows on
    that side). Returns None when both deltas are empty-by-construction."""
    parts: list[DataFrame] = []
    if delta_a is not None:
        b_new = b_old if delta_b is None else b_old.unionByName(delta_b)
        parts.append(delta_a.join(b_new, on))
    if delta_b is not None:
        parts.append(a_old.join(delta_b, on))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def refresh_join_view(
    view_old: DataFrame | None,
    a_old: DataFrame,
    delta_a: DataFrame | None,
    b_old: DataFrame,
    delta_b: DataFrame | None,
    on: list[str],
) -> DataFrame:
    """V_new = V_old ∪ ΔV. With view_old=None the view bootstraps as
    a_old ⋈ b_old (deltas must then be None too — mixing a bootstrap with
    deltas would double-count)."""
    if view_old is None:
        if delta_a is not None or delta_b is not None:
            raise ValueError("bootstrap refresh must not carry deltas")
        return a_old.join(b_old, on)
    d = join_view_delta(a_old, delta_a, b_old, delta_b, on)
    return view_old if d is None else view_old.unionByName(d)
