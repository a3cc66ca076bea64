"""Model DAG: the reference's dbt ref()-graph as function composition
(SURVEY §3.1-3.2: staging views → intermediate → mart tables, topologically
executed; dbt's per-model eager materialization becomes Spark's whole-plan
laziness with explicit persistence only at fan-out nodes).

A model is a function (ctx) -> DataFrame registered with its dependencies.
``ModelGraph.run`` resolves topologically; models consumed by ≥2 downstream
models are cached (the reference materializes these as tables —
fct_order_line_items is read by 4 marts, SURVEY §7.1).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ModelContext:
    spark: SparkSession
    sf_dir: str
    # Source frames a load committed (e.g. the pipeline's ``orders``); a
    # staging model reads its source from here when present, else sf_dir.
    sources: dict[str, DataFrame] = field(default_factory=dict)
    outputs: dict[str, DataFrame] = field(default_factory=dict)

    def ref(self, name: str) -> DataFrame:
        """dbt ref() — dependency lookup, guaranteed built by topo order."""
        return self.outputs[name]


@dataclass
class _Model:
    name: str
    deps: list[str]
    fn: Callable[[ModelContext], DataFrame]


class ModelGraph:
    def __init__(self):
        self._models: dict[str, _Model] = {}

    def model(self, name: str, deps: list[str] | None = None):
        def deco(fn):
            if name in self._models:
                raise ValueError(f"duplicate model {name!r}")
            self._models[name] = _Model(name, deps or [], fn)
            return fn

        return deco

    def _topo_order(self, targets: list[str]) -> list[str]:
        order: list[str] = []
        seen: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(name: str):
            if seen.get(name) == 1:
                return
            if seen.get(name) == 0:
                raise ValueError(f"cycle through model {name!r}")
            if name not in self._models:
                raise KeyError(f"unknown model {name!r}")
            seen[name] = 0
            for d in self._models[name].deps:
                visit(d)
            seen[name] = 1
            order.append(name)

        for t in targets:
            visit(t)
        return order

    def run(
        self,
        spark: SparkSession,
        sf_dir: str,
        targets: list[str] | None = None,
        cache_fanout: bool = True,
        sources: dict[str, DataFrame] | None = None,
    ) -> dict[str, DataFrame]:
        """Build ``targets`` (default: every model). Models with ≥2 dependents
        among the resolved set get ``.cache()`` — the lazy-Spark equivalent of
        the reference's table materialization for shared intermediates.
        ``sources`` overrides the sf_dir tables the staging models read."""
        targets = targets or list(self._models)
        order = self._topo_order(targets)
        dependents: dict[str, int] = {}
        for name in order:
            for d in self._models[name].deps:
                dependents[d] = dependents.get(d, 0) + 1
        ctx = ModelContext(spark, sf_dir, dict(sources or {}))
        for name in order:
            df = self._models[name].fn(ctx)
            if cache_fanout and dependents.get(name, 0) >= 2:
                df = df.cache()
            ctx.outputs[name] = df
        return ctx.outputs

    @staticmethod
    def release(outputs: dict[str, DataFrame]) -> None:
        """Unpersist any fan-out caches from a ``run`` — call when done with
        the outputs (repeated runs otherwise accumulate orphaned cached
        plans in executor storage). Single-target runs cache nothing (a
        node needs ≥2 dependents within the resolved set)."""
        for df in outputs.values():
            if df.is_cached:
                df.unpersist()


# The default graph used by the mart queries.
GRAPH = ModelGraph()
model = GRAPH.model
