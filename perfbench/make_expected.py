"""Regenerate perfbench/expected.json, the outputs the benchmark checks.

    python3 perfbench/make_expected.py

* relational_catalog: the canonical digest (tests/conftest.py ``canonical``
  form) of every query in the workload's pool on the sf0.01 tables —
  from the DuckDB oracle for catalog queries, from the engine for
  diagnostics. A query is left out (with the reason) when the engine
  disagrees with its oracle, or, for a diagnostic, with itself on a second
  run.
* frontdoors: mart row counts, refine's ``docs_out`` and bucket histogram
  at the seed inputs. The load counts are derived from the inputs at run
  time and are not stored.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run  # perfbench/run.py
from run import ROOT, WORKLOADS, datagen, tracing


def catalog_digests(sp, data_dir: str) -> tuple[dict, dict]:
    from importer_spark.queries import ORACLES

    con = run.load_conftest().duck_con(data_dir)
    digests, excluded = {}, {}
    for name, fn in run.catalog_pool().items():
        try:
            pdf = fn(sp.spark, data_dir).toPandas()
            got = run.digest(pdf)
        except Exception as e:
            excluded[name] = f"engine error: {type(e).__name__}"
            continue
        if name in ORACLES:
            want = run.digest(con.execute(ORACLES[name]).df())
            reason = "engine differs from its DuckDB oracle"
        else:
            want = run.digest(fn(sp.spark, data_dir).toPandas())
            reason = "diagnostic differs between two runs"
        if got == want:
            digests[name] = {"digest": want, "rows": len(pdf)}
        else:
            excluded[name] = reason
        print(name, "ok" if got == want else reason, flush=True)
    return digests, excluded


def frontdoor_outputs(sp, master: str, data_dir: str, work_dir: str, rows: dict) -> dict:
    delta_dir = os.path.join(work_dir, "delta")
    loads = datagen.make_delta_dir(data_dir, delta_dir, 0)
    ops = run.run_frontdoors(sp, tracing.Tracer(False), data_dir, delta_dir,
                             os.path.join(work_dir, "cycle"), master, rows,
                             run.grown_rows(rows, loads))
    seed, incremental, refine = (op["stages"][-1] for op in ops)
    assert seed["marts"] == incremental["marts"], (seed, incremental)
    return {"marts": seed["marts"], "docs_out": refine["docs_out"], "buckets": refine["buckets"]}


def main() -> int:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", "make-expected")
    out = {}
    try:
        for workload in ("relational_catalog", "frontdoors"):
            data_dir = datagen.table_dir(WORKLOADS[workload]["scale"])
            sp, master = run.start_session(workload, tracing.Tracer(False), data_dir, cores)
            if workload == "relational_catalog":
                digests, excluded = catalog_digests(sp, data_dir)
                out[workload] = digests
                out["relational_catalog_excluded"] = excluded
            else:
                out[workload] = frontdoor_outputs(sp, master, data_dir,
                                                  os.path.join(work, workload),
                                                  datagen.row_counts(data_dir))
            sp.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(out['relational_catalog'])} digests, "
          f"{len(out['relational_catalog_excluded'])} excluded", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
