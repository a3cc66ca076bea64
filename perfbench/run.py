"""Engine benchmark: one workload per process, end-to-end or traced.

    python3 perfbench/run.py --workload relational_catalog --seed 1 --seconds 20 --trace 0

Workloads (tables from perfbench/data, see perfbench/datagen.py; the seed
fixes the catalog submission order, the checked sample and the front-door
delta):

* ``relational_catalog`` — a fixed slice of the non-``llm_*`` catalog and
  diagnostics queries on the sf0.01 tables, each submitted several times,
  run as a closed loop of min(4, nproc) client threads under FAIR
  scheduling, each materialized through the noop sink, after an untimed
  warm-up pass of the slice over the sf0.001 tables. Many short queries:
  table opens and query build carry much of the time.
* ``frontdoors`` — one cycle of ``pipeline --mode seed``, ``pipeline --mode
  incremental`` over a seeded delta, and ``refine``, each into fresh dirs,
  on the sf0.01 tables, through ``importer_spark.__main__.main``, after an
  untimed warm-up ``pipeline --mode seed --skip-quality`` over the sf0.001
  tables. The only workload that writes.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans the benchmark records around calls into the engine
(monkeypatched from here, the engine's source is untouched). Either way the
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
full per-operation record goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.util
import io
import json
import os
import random
import resource
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = {
    # rate: queries per requested second, fixed so every run of a given
    # --seconds does the same work however fast the engine is.
    # distinct: the size of the slice the timed queries cycle through. The
    # warm-up pass costs a first pass's JIT and class loading plus a little
    # per query, so a small slice, repeated, keeps set-up short.
    # warm_scale: the warm-up (the catalog's slice, or the front doors'
    # seed pipeline) runs over the smaller, separate sf0.001 tables, so it
    # warms code paths (JIT, codegen, Python workers) but fills no cache
    # keyed by the timed tables.
    # sf0.01, not the sf0.1 of bench.py, fits a warm-up pass and the timed
    # pass into one run of the benchmark's time budget.
    "relational_catalog": {"kind": "catalog", "scale": "0.01", "warm_scale": "0.001",
                           "rate": 1.2, "distinct": 8, "sample": 2},
    "frontdoors": {"kind": "frontdoors", "scale": "0.01", "warm_scale": "0.001"},
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}

# Per-layer metric → (unit, the end-to-end metric and workload it should move).
PER_LAYER = {
    "session.start_s": ("s", "setup_s, all workloads"),
    "io.table_opens": ("count", "latency_p50_s and wall_s, relational_catalog"),
    "io.table_open_s": ("s", "latency_p50_s and wall_s, relational_catalog"),
    "io.merge_s": ("s", "wall_s (pipeline incremental), frontdoors"),
    "io.write_s": ("s", "wall_s (pipeline seed, refine), frontdoors"),
    "io.bytes_written": ("bytes", "wall_s, frontdoors"),
    "io.write_amplification": ("ratio", "wall_s, frontdoors"),
    "queries.build_s": ("s", "latency_p50_s, relational_catalog"),
    "queries.build_jobs": ("count", "latency_p50_s, relational_catalog"),
    "plan.s": ("s", "latency_p50_s, relational_catalog"),
    "execute.s": ("s", "wall_s and latency_tail_s, all workloads"),
    "execute.jobs": ("count", "wall_s, all workloads"),
    "execute.stages": ("count", "wall_s, all workloads"),
    "execute.tasks": ("count", "wall_s, all workloads"),
    "execute.failed_tasks": ("count", "wall_s, all workloads"),
    "execute.executor_run_s": ("s", "wall_s, all workloads"),
    "execute.executor_cpu_s": ("s", "wall_s, all workloads"),
    "execute.gc_s": ("s", "wall_s, all workloads"),
    "execute.shuffle_read_bytes": ("bytes", "wall_s and latency_tail_s, all workloads"),
    "execute.shuffle_write_bytes": ("bytes", "wall_s and latency_tail_s, all workloads"),
    "execute.spill_bytes": ("bytes", "latency_tail_s, all workloads"),
    "execute.core_busy": ("ratio", "wall_s, relational_catalog"),
    "plans.source_load_s": ("s", "frontdoors.pipeline_seed_s and _incremental_s, frontdoors"),
    "plans.source_load_rows": ("count", "frontdoors.pipeline_incremental_s, frontdoors"),
    "plans.mart_s": ("s", "frontdoors.pipeline_seed_s and _incremental_s, frontdoors"),
    "quality.suite_s": ("s", "frontdoors.pipeline_*_s and refine_s, frontdoors"),
    "quality.checks": ("count", "frontdoors.pipeline_*_s and refine_s, frontdoors"),
    "refine.span_removal_s": ("s", "frontdoors.refine_s, frontdoors"),
    "refine.keep_best_s": ("s", "frontdoors.refine_s, frontdoors"),
    "refine.write_s": ("s", "frontdoors.refine_s, frontdoors"),
    "refine.quality_s": ("s", "frontdoors.refine_s, frontdoors"),
    "cache.peak_bytes": ("bytes", "frontdoors.refine_s, frontdoors"),
    "frontdoors.pipeline_seed_s": ("s", "wall_s, frontdoors"),
    "frontdoors.pipeline_incremental_s": ("s", "wall_s, frontdoors"),
    "frontdoors.refine_s": ("s", "wall_s, frontdoors"),
    "trace.wall_s": ("s", "wall_s of the untraced run, all workloads"),
}

EXPECTED_PATH = os.path.join(HERE, "expected.json")
SAMPLE_MAX_ROWS = 2000


@functools.cache
def load_conftest():
    """tests/conftest.py, for its ``canonical`` result form and DuckDB views."""
    spec = importlib.util.spec_from_file_location(
        "_engine_conftest", os.path.join(ROOT, "tests", "conftest.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(pdf) -> str:
    canon = load_conftest().canonical(pdf)
    h = hashlib.sha256(json.dumps(list(canon.columns)).encode())
    h.update(canon.to_csv(index=False).encode())
    return h.hexdigest()[:16]


def catalog_pool() -> dict:
    """name → query function for the relational catalog workload."""
    from importer_spark.queries import DIAGNOSTICS, QUERIES

    catalog = {**QUERIES, **DIAGNOSTICS}
    return {
        n: f for n, f in sorted(catalog.items())
        if not f.__module__.rsplit(".", 1)[-1].startswith("llm_")
    }


def catalog_work(pool: list[str], seconds: int, rate: float, distinct: int,
                 seed: int) -> list[str]:
    """The timed query list: a fixed, seed-independent slice of the pool
    (a hash order spreads it over every module), cycled through and
    submitted from a seeded starting point. Rotating rather than shuffling
    keeps each query's concurrent neighbours, so the seed moves the
    start, not the mix."""
    fixed = sorted(pool, key=lambda n: hashlib.sha1(n.encode()).hexdigest())[:distinct]
    n = max(1, round(seconds * rate))
    work = [fixed[i % len(fixed)] for i in range(n)]
    k = random.Random(seed).randrange(n)
    return work[k:] + work[:k]


class Spark:
    """The session plus the status-store reads the benchmark needs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism

    def drain(self) -> None:
        """Wait until the listener bus has applied every event to the
        status store, so job and stage metrics are final."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, groups: list[str]) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker, store = self.sc.statusTracker(), self.sc._jsc.sc().statusStore()
        jobs = [j for g in groups for j in self.job_ids(g)]
        stage_ids = sorted({s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])})
        m = dict.fromkeys(
            ["stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"], 0)
        m["jobs"] = len(jobs)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never attempted: skipped by a reused shuffle
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            m["failed_tasks"] += sd.numFailedTasks()
            m["executor_run_s"] += sd.executorRunTime() / 1e3
            m["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return m

    def cached_bytes(self) -> int:
        return sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo())

    def peak_rss_mb(self) -> float:
        """Driver JVM VmHWM plus the driver Python's max RSS."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def stop(self) -> None:
        """Stop the session and wait until the driver JVM has exited (it
        exits when its stdin closes)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def conf(self) -> dict:
        keys = ("spark.master", "spark.app.name", "spark.scheduler.mode", "spark.driver.memory")
        c = {k: self.sc.getConf().get(k, None) for k in keys}
        c["spark.sql.shuffle.partitions"] = self.spark.conf.get("spark.sql.shuffle.partitions")
        return c


def trace_engine(tracer: tracing.Tracer) -> None:
    """Wrap the engine entry points whose cost the per-layer metrics split
    out. Only the traced run calls this."""
    from pyspark.sql import DataFrameWriter

    import importer_spark.io as eio
    import importer_spark.plans.pipeline as epipe
    import importer_spark.quality as equality

    open_table = eio.Tables.__getattr__

    def traced_open(self, name):
        if name.startswith("_") or name in self.__dict__.get("_dfs", {}):
            return open_table(self, name)
        with tracer.span("io.table_open", table=name):
            return open_table(self, name)

    eio.Tables.__getattr__ = traced_open
    tracer.wrap(DataFrameWriter, "parquet", "io.write")
    for owner in (eio, epipe):
        tracer.wrap(owner, "merge_by_key", "io.merge")
    tracer.wrap(
        epipe, "run_source_load", "plans.source_load",
        on_result=lambda s, a, k, r: s.update(rows=r.rows_loaded),
    )
    tracer.wrap(
        equality, "run_suite", "quality.run_suite",
        on_result=lambda s, a, k, r: s.update(checks=len(a[1] if len(a) > 1 else k["checks"])),
    )


# --------------------------------------------------------------------------
# relational_catalog


def run_catalog(sp: Spark, tracer, data_dir: str, work: list[str], threads: int,
                prefix: str = "pb") -> list[dict]:
    pool = catalog_pool()
    ops: list[dict] = []
    next_i = iter(range(len(work)))
    lock = threading.Lock()

    def one(i: int) -> dict:
        name = work[i]
        group = f"{prefix}{i}"
        op = {"op": name, "i": i, "group": group}
        sp.sc.setLocalProperty("spark.scheduler.pool", "perfbench")
        span = tracer.begin("query", op=f"{i}:{name}")
        t0 = time.perf_counter()
        try:
            sp.sc.setJobGroup(f"{group}-build", name)
            with tracer.span("build"):
                df = pool[name](sp.spark, data_dir)
            if tracer.enabled:
                sp.sc.setJobGroup(f"{group}-plan", name)
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            sp.sc.setJobGroup(f"{group}-execute", name)
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # one failing query must not end the run
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            op["latency_s"] = time.perf_counter() - t0
            sp.sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.end(span)
        return op

    def client():
        while True:
            with lock:
                i = next(next_i, None)
            if i is None:
                return
            op = one(i)
            with lock:
                ops.append(op)

    clients = [threading.Thread(target=client) for _ in range(threads)]
    for c in clients:
        c.start()
    for c in clients:
        c.join()
    return sorted(ops, key=lambda o: o["i"])


def check_catalog(sp: Spark, data_dir: str, work: list[str], seed: int, k: int) -> list[dict]:
    """Re-run a seeded sample of the timed queries untimed and compare
    their canonical digests with the stored ones."""
    expected = load_expected()["relational_catalog"]
    # Small results only: digesting is per-cell Python work.
    candidates = sorted(n for n in set(work) & set(expected) if expected[n]["rows"] <= SAMPLE_MAX_ROWS)
    sample = random.Random(seed).sample(candidates, min(k, len(candidates)))
    pool = catalog_pool()
    out = []
    for name in sample:
        rec = {"op": name, "expected": expected[name]["digest"]}
        try:
            rec["digest"] = digest(pool[name](sp.spark, data_dir).toPandas())
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["check"] = rec.get("digest") == rec["expected"]
        out.append(rec)
    return out


def catalog_layers(sp: Spark, tracer, ops: list[dict]) -> dict:
    spans = [s for s in tracer.spans if s["op"] is not None]
    selft = tracing.self_times(spans)
    groups = [f"{op['group']}-execute" for op in ops]
    m = {f"execute.{k}": v for k, v in sp.stage_metrics(groups).items()}
    m.update({
        "queries.build_s": sum(selft[s["id"]] for s in spans if s["name"] == "build"),
        "queries.build_jobs": sum(op["build_jobs"] for op in ops),
        "plan.s": tracing.total(spans, "plan"),
        "execute.s": tracing.total(spans, "execute"),
    })
    return m


# --------------------------------------------------------------------------
# frontdoors


class StageOut(io.TextIOBase):
    """The ``out`` handed to the CLI: stamps each JSON line ``main`` writes,
    which ends one front-door stage. When tracing, each stage gets its own
    span and Spark job group."""

    def __init__(self, sp: Spark, tracer, command: str):
        self.sp, self.tracer, self.command = sp, tracer, command
        self.lines: list[dict] = []
        self.groups: list[str] = []
        self.cache_peak = 0
        self._buf = ""
        self._last = time.perf_counter()
        self._span = None
        self._next_stage()

    def _next_stage(self) -> None:
        group = f"pb-{self.command}-{len(self.groups)}"
        self.groups.append(group)
        self.sp.sc.setJobGroup(group, self.command)
        self._span = self.tracer.begin("stage")

    def write(self, s: str) -> int:
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self._line(line)
        return len(s)

    def _line(self, line: str) -> None:
        now = time.perf_counter()
        try:
            rec = json.loads(line)
        except ValueError:
            rec = {"text": line}
        rec["_s"] = now - self._last
        self._last = now
        self.lines.append(rec)
        if self.tracer.enabled:
            self.cache_peak = max(self.cache_peak, self.sp.cached_bytes())
        self.tracer.end(self._span, name=f"stage.{rec.get('stage', 'line')}")
        self._next_stage()

    def close_stage(self) -> None:
        self.tracer.end(self._span, name="stage.tail")
        self.sp.sc.setLocalProperty("spark.jobGroup.id", None)


def _files(path: str) -> dict[str, tuple[int, int]]:
    return {
        os.path.join(dp, f): (st.st_size, st.st_mtime_ns)
        for dp, _, fs in os.walk(path)
        for f in fs
        for st in [os.stat(os.path.join(dp, f))]
    }


def _rows_loaded_bytes(data_dir: str, loads: dict, rows: dict) -> float:
    """On-disk bytes of the rows a command loaded, pro rata per table."""
    return sum(
        os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) * n / rows[t]
        for t, n in loads.items()
    )


def run_frontdoors(sp: Spark, tracer, base_dir: str, delta_dir: str, work_dir: str,
                   master: str, rows: dict, delta_rows: dict) -> list[dict]:
    from importer_spark.__main__ import main

    wh, ref = os.path.join(work_dir, "warehouse"), os.path.join(work_dir, "refined")
    commands = [
        ("pipeline_seed", ["pipeline", "--sf-dir", base_dir, "--warehouse", wh, "--mode", "seed"],
         base_dir, rows),
        ("pipeline_incremental",
         ["pipeline", "--sf-dir", delta_dir, "--warehouse", wh, "--mode", "incremental"],
         delta_dir, delta_rows),
        ("refine", ["refine", "--sf-dir", base_dir, "--out", ref], base_dir, rows),
    ]
    ops = []
    for name, argv, data_dir, table_rows in commands:
        before = {**_files(wh), **_files(ref)}
        span = tracer.begin("command", op=name)
        out = StageOut(sp, tracer, name)
        op = {"op": name}
        t0 = time.perf_counter()
        try:
            op["exit_code"] = main([*argv, "--master", master], out=out)
        except Exception as e:
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            op["latency_s"] = time.perf_counter() - t0
            out.close_stage()
            tracer.end(span)
        after = {**_files(wh), **_files(ref)}
        op["bytes_written"] = sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))
        summary = out.lines[-1] if out.lines else {}
        loads = {t: v["rows_loaded"] for t, v in summary.get("sources", {}).items()}
        if name == "refine":
            loads = {"documents": summary.get("docs_in", 0)}
        op["loaded_bytes"] = _rows_loaded_bytes(data_dir, loads, table_rows)
        op.update(stages=out.lines, groups=out.groups, cache_peak=out.cache_peak,
                  conf=sp.conf())
        ops.append(op)
    return ops


def warm_frontdoors(data_dir: str, work_dir: str, master: str) -> int:
    """The front-door warm-up, one ``pipeline --mode seed --skip-quality``.
    A session's first pipeline pays most of the session's one-time JIT and
    class loading, mostly in the seed's source loads and first mart (on a
    4-core host a cold cycle took 52-57 s, one after this warm-up 40-45 s);
    this moves it into set-up at about half the cost of a warm-up cycle."""
    from importer_spark.__main__ import main

    argv = ["pipeline", "--sf-dir", data_dir, "--warehouse", os.path.join(work_dir, "warehouse"),
            "--mode", "seed", "--skip-quality", "--master", master]
    return main(argv, out=io.StringIO())


def grown_rows(rows: dict, loads: dict) -> dict:
    """Row counts by table of a delta dir made from tables with ``rows``."""
    return {**rows, **{t: v["target_rows"] for t, v in loads.items()}}


def check_frontdoors(ops: list[dict], expected_loads: dict, rows: dict) -> None:
    """Mark each command's record with whether its summary matches."""
    exp = load_expected()["frontdoors"]
    want = {
        "pipeline_seed": {
            "sources": {t: {"mode": "seed", "rows_loaded": rows[t], "target_rows": rows[t]}
                        for t in ("orders", "events")},
            "marts": exp["marts"], "quality_failures": 0, "ok": True,
        },
        "pipeline_incremental": {
            "sources": {t: {"mode": "incremental", **v} for t, v in expected_loads.items()},
            "marts": exp["marts"], "quality_failures": 0, "ok": True,
        },
        "refine": {"docs_in": rows["documents"], "docs_out": exp["docs_out"],
                   "buckets": exp["buckets"], "ok": True},
    }
    for op in ops:
        summary = op["stages"][-1] if op["stages"] else {}
        got = {k: summary.get(k) for k in want[op["op"]]}
        op["check"] = op.get("exit_code") == 0 and got == want[op["op"]]
        if not op["check"]:
            op["check_detail"] = {"want": want[op["op"]], "got": got}


def frontdoor_layers(sp: Spark, tracer, ops: list[dict]) -> dict:
    spans = [s for s in tracer.spans if s["op"] is not None]
    by_id = {s["id"]: s for s in spans}
    m = {f"execute.{k}": v for k, v in sp.stage_metrics([g for op in ops for g in op["groups"]]).items()}
    stage = {}
    for op in ops:
        for rec in op["stages"]:
            key = (op["op"], rec.get("stage"))
            stage[key] = stage.get(key, 0.0) + rec["_s"]
    written = sum(op["bytes_written"] for op in ops)
    m.update({
        "io.merge_s": tracing.total(spans, "io.merge"),
        "io.write_s": sum(
            tracing.duration(s) for s in spans
            if s["name"] == "io.write" and not tracing.has_ancestor(s, "io.merge", by_id)
        ),
        "io.bytes_written": written,
        "io.write_amplification": written / max(1.0, sum(op["loaded_bytes"] for op in ops)),
        "execute.s": sum(tracing.duration(s) for s in spans if s["name"].startswith("stage.")),
        "plans.source_load_s": tracing.total(spans, "plans.source_load"),
        "plans.source_load_rows": tracing.total(spans, "plans.source_load", "rows"),
        # A mart line's stamp covers its graph run, write and count.
        "plans.mart_s": sum(v for (c, st), v in stage.items() if st == "mart"),
        "quality.suite_s": sum(v for (c, st), v in stage.items() if st == "quality"),
        "quality.checks": tracing.total(spans, "quality.run_suite", "checks"),
        "refine.span_removal_s": stage.get(("refine", "span_removal"), 0.0),
        "refine.keep_best_s": stage.get(("refine", "keep_best"), 0.0),
        "refine.write_s": stage.get(("refine", "write"), 0.0),
        "refine.quality_s": stage.get(("refine", "quality"), 0.0),
        "cache.peak_bytes": max(op["cache_peak"] for op in ops),
    })
    for op in ops:
        m[f"frontdoors.{op['op']}_s"] = op["latency_s"]
    return m


# --------------------------------------------------------------------------


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def start_session(workload: str, tracer, data_dir: str, cores: int):
    """The catalog session is built like bench.py builds its own; the front
    doors get exactly the session their CLI commands ask for (``main``'s
    ``get_spark`` then returns it unchanged)."""
    from importer_spark.session import get_spark, shuffle_partitions_for_dir

    master = f"local[{cores}]"
    with tracer.span("session.start"):
        if WORKLOADS[workload]["kind"] == "catalog":
            spark = get_spark(
                app_name=f"perfbench-{workload}", master=master,
                shuffle_partitions=shuffle_partitions_for_dir(data_dir),
                extra_conf={"spark.scheduler.mode": "FAIR"},
            )
        else:
            spark = get_spark(app_name="importer-spark-pipeline", master=master)
        spark.sparkContext.setLogLevel("ERROR")
    return Spark(spark), master


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    cfg = WORKLOADS[workload]
    cores = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    data_dir = datagen.table_dir(cfg["scale"])
    rows = datagen.row_counts(data_dir)
    # Python workers import the engine too; Spark's scratch files stay in
    # the work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    scratch = os.path.join(work_dir, "tmp")
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = scratch
    tracer = tracing.Tracer(trace)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "cores": cores, "scale": cfg["scale"], "rows": rows}
    sp = None
    try:
        if cfg["kind"] == "frontdoors":
            # Input generation, outside set-up.
            delta_dir = os.path.join(work_dir, "delta")
            expected_loads = datagen.make_delta_dir(data_dir, delta_dir, seed)
        t_setup = time.perf_counter()
        import importer_spark.queries  # noqa: F401 — engine import is set-up work

        if trace:
            trace_engine(tracer)
        sp, master = start_session(workload, tracer, data_dir, cores)
        record["conf_start"] = sp.conf()
        if cfg["kind"] == "catalog":
            pool = catalog_pool()
            work = catalog_work(list(pool), seconds, cfg["rate"], cfg["distinct"], seed)
            threads = min(4, cores)
            t_warm = time.perf_counter()
            warm_dir = datagen.table_dir(cfg["warm_scale"])
            warm_ops = run_catalog(sp, tracing.Tracer(False), warm_dir, sorted(set(work)),
                                   threads, "warm")
            record["warm_s"] = time.perf_counter() - t_warm
            record["warm_errors"] = [op for op in warm_ops if "error" in op]
            setup_s = time.perf_counter() - t_setup
            t0 = time.perf_counter()
            ops = run_catalog(sp, tracer, data_dir, work, threads)
            wall = time.perf_counter() - t0
            sp.drain()
            for op in ops:
                op["build_jobs"] = len(sp.job_ids(f"{op['group']}-build"))
            checks = check_catalog(sp, data_dir, work, seed, cfg["sample"])
            failed_checks = {c["op"] for c in checks if not c["check"]}
            for op in ops:
                if op["op"] in failed_checks:
                    op["check"] = False
            record.update(threads=threads, work=work, checks=checks)
            layers = catalog_layers(sp, tracer, ops) if trace else {}
        else:
            t_warm = time.perf_counter()
            record["warm_exit_code"] = warm_frontdoors(
                datagen.table_dir(cfg["warm_scale"]), os.path.join(work_dir, "warm"), master)
            record["warm_s"] = time.perf_counter() - t_warm
            setup_s = time.perf_counter() - t_setup
            t0 = time.perf_counter()
            ops = run_frontdoors(sp, tracer, data_dir, delta_dir, os.path.join(work_dir, "cycle"),
                                 master, rows, grown_rows(rows, expected_loads))
            wall = time.perf_counter() - t0
            sp.drain()
            check_frontdoors(ops, expected_loads, rows)
            layers = frontdoor_layers(sp, tracer, ops) if trace else {}
        lat = [op["latency_s"] for op in ops]
        tail, pct = tracing.tail_percentile(lat)
        attempted, failed = tracing.count_failures(ops)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "latency_p50_s": tracing.median(lat),
            "latency_tail_s": tail,
        }
        record.update(
            peak_rss_mb=sp.peak_rss_mb(), ops=ops, attempted=attempted, failed=failed,
            error_rate=tracing.error_rate(ops), tail_percentile=pct, tail_samples=len(lat),
            conf_end=sp.conf(), end_to_end=metrics,
        )
        if trace:
            in_ops = [s for s in tracer.spans if s["op"] is not None]
            layers.update({
                "session.start_s": tracing.total(tracer.spans, "session.start"),
                "io.table_opens": sum(1 for s in in_ops if s["name"] == "io.table_open"),
                "io.table_open_s": tracing.total(in_ops, "io.table_open"),
                "execute.core_busy": layers["execute.executor_run_s"] / (wall * sp.cores),
                "trace.wall_s": wall,
            })
            record["per_layer"] = {k: layers.get(k, 0) for k in PER_LAYER}
            record["spans"] = tracer.spans
            # Host speed anchor for reading traced records across hosts;
            # context only, and left out of the timed runs for their length.
            from bench import calibration_seconds

            record["host.calibration_s"] = calibration_seconds(sp.spark)
    finally:
        if sp is not None:
            sp.stop()
        shutil.rmtree(work_dir, ignore_errors=True)
    return record, metrics


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    record, metrics = run(args.workload, args.seed, args.seconds, bool(args.trace))
    results = os.path.join(ROOT, ".perfbench_work", "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if args.trace:
        untraced = path.replace("-trace1.json", "-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                record["trace_overhead_s"] = metrics["wall_s"] - json.load(fh)["end_to_end"]["wall_s"]
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("PERFBENCH_CONTEXT " + json.dumps({
        "workload": args.workload, "host.calibration_s": record.get("host.calibration_s"),
        "error_rate": record["error_rate"], "tail_percentile": record["tail_percentile"],
        "record": os.path.relpath(path, ROOT),
    }))
    if args.trace:
        shown = {k: (record["per_layer"][k], PER_LAYER[k][0]) for k in PER_LAYER}
    else:
        shown = {k: (metrics[k], END_TO_END[k]) for k in END_TO_END}
    print(tracing.result_line(record["attempted"], record["failed"], record["failed"] == 0, shown,
                              max_bytes=None if args.trace else tracing.MAX_RESULT_LINE_BYTES))
    return 0


if __name__ == "__main__":
    sys.exit(main())
