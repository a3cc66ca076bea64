"""CLI entry point: ``python -m importer_spark <command>``.

Commands:
  list                      print every catalog + diagnostics query name
  run <query>               execute a query and print rows (JSON lines)
  explain <query>           print the formatted physical plan
  oracle <query>            print the query's DuckDB oracle SQL
  pipeline                  end-to-end run: source loads → model DAG →
                            mart writes → declarative quality gates
                            (the orchestrator.py-equivalent front door)
  refine                    corpus refinement run: exact-substring span
                            removal → near-dup keep-best survivor filter →
                            CCNet quality-tier tag → bucket-partitioned
                            parquet + quality gates (the LLM-curation
                            front door; beyond-reference surface)

Options: --sf-dir (default /root/testdata/sf0.001), --limit N (default 20,
0 = no limit), --master (default local[*]); pipeline adds --warehouse DIR
(required), --mode seed|incremental|auto (default auto: seed a source whose
table has no commit yet), --skip-quality.

The reference's surface is an orchestrator CLI (orchestrator.py:580-629:
sources in priority order, seed/incremental modes, then dbt build + test);
`pipeline` is that loop composed from this library: run_source_load per
source into a transaction-log table, ModelGraph topological build over the
loaded sources, write marts, quality_manifest suites on the WRITTEN marts
(as dbt tests run against the materialized tables). Exit code 1 = a quality
gate failed (the dbt-test contract); the programmatic API remains
importer_spark.queries.QUERIES.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    p = argparse.ArgumentParser(prog="importer_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    for name in ("run", "explain", "oracle"):
        sp = sub.add_parser(name)
        sp.add_argument("query")
        sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
        sp.add_argument("--limit", type=int, default=20)
        sp.add_argument("--master", default="local[*]")
    pp = sub.add_parser("pipeline")
    pp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pp.add_argument("--warehouse", required=True)
    pp.add_argument("--mode", choices=["seed", "incremental", "auto"], default="auto")
    pp.add_argument("--master", default="local[*]")
    pp.add_argument("--skip-quality", action="store_true")
    rf = sub.add_parser("refine")
    rf.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    rf.add_argument("--out", required=True)
    rf.add_argument("--master", default="local[*]")
    rf.add_argument("--skip-quality", action="store_true")
    args = p.parse_args(argv)

    if args.cmd == "pipeline":
        return _pipeline(args, out)
    if args.cmd == "refine":
        return _refine(args, out)

    from importer_spark.queries import DIAGNOSTICS, ORACLES, QUERIES

    catalog = {**QUERIES, **DIAGNOSTICS}
    if args.cmd == "list":
        for name in sorted(QUERIES):
            print(name, file=out)
        for name in sorted(DIAGNOSTICS):
            print(f"{name}  [diagnostics]", file=out)
        return 0

    if args.query not in catalog:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    if args.cmd == "oracle":
        sql = ORACLES.get(args.query)
        if sql is None:
            print(f"{args.query} is a diagnostics query (no oracle)", file=sys.stderr)
            return 1
        print(sql.strip(), file=out)
        return 0

    from importer_spark.session import get_spark

    spark = get_spark(app_name=f"importer-spark-cli-{args.cmd}", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    df = catalog[args.query](spark, args.sf_dir)
    if args.cmd == "explain":
        print(
            df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ),
            file=out,
        )
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str, sort_keys=True), file=out)
    return 0


def _pipeline(args, out) -> int:
    """Seed/incremental source loads → model DAG build → mart writes →
    quality suites, as one command. Each stage prints a JSON line; the
    final line is a summary (tail-capture friendly, like bench.py)."""
    import os

    from importer_spark.io import Tables, write_replace
    from importer_spark.plans import models  # noqa: F401 — registers GRAPH models
    from importer_spark.plans.dag import GRAPH
    from importer_spark.plans.pipeline import run_source_load
    from importer_spark.quality_manifest import MANIFEST
    from importer_spark.session import get_spark
    from importer_spark.txn import TxnTable

    spark = get_spark(app_name="importer-spark-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    t = Tables(spark, args.sf_dir)

    # --- stage 1: source loads (orchestrator.py source loop analog) -------
    sources = {
        "orders": (t.orders, ["o_orderkey"], "o_orderdate"),
        "events": (t.events, ["event_id"], "ts"),
    }
    loads = {}
    loaded = {}
    for name, (df, keys, cursor) in sources.items():
        table = TxnTable(spark, os.path.join(args.warehouse, "sources", name))
        mode = args.mode
        if mode == "auto":
            mode = "seed" if table.latest_version() is None else "incremental"
        res = run_source_load(spark, df, table.path, keys=keys, cursor_col=cursor, mode=mode)
        loads[name] = {"mode": res.mode, "rows_loaded": res.rows_loaded,
                       "target_rows": res.target_rows}
        loaded[name] = table.read()
        print(json.dumps({"stage": "source_load", "source": name, **loads[name]}),
              file=out)

    # --- stage 2: model DAG build over the loaded sources + mart writes ---
    outputs = GRAPH.run(spark, args.sf_dir, sources=loaded)
    marts = {}
    written = {}
    try:
        for name, df in outputs.items():
            if not name.startswith("mart_"):
                continue  # staging/intermediate stay lazy (dbt view layers)
            path = os.path.join(args.warehouse, "marts", name)
            write_replace(df, path)
            written[name] = spark.read.parquet(path)
            marts[name] = written[name].count()
            print(json.dumps({"stage": "mart", "model": name, "rows": marts[name],
                              "path": path}), file=out)
    finally:
        GRAPH.release(outputs)

    # --- stage 3: quality suites on the WRITTEN marts ---------------------
    failed = []
    checked = 0
    if not args.skip_quality:
        from importer_spark.quality import run_suite

        for name, df in written.items():
            checks = MANIFEST.get(name)
            if not checks:
                continue
            res = run_suite(df, checks).collect()
            checked += len(res)
            bad = [(r.check_name, r.n_violations) for r in res if not r.passed]
            failed.extend((name, c, n) for c, n in bad)
            print(json.dumps({"stage": "quality", "model": name,
                              "checks": len(res), "failed": bad}), file=out)

    summary = {
        "stage": "summary",
        "sources": loads,
        "marts": marts,
        "quality_checks": checked,
        "quality_failures": len(failed),
        "ok": not failed,
    }
    print(json.dumps(summary, sort_keys=True), file=out)
    return 0 if not failed else 1


def _refine(args, out) -> int:
    """The LLM-curation front door: the certified refinement layers
    (exact_substring_removal → dedup_keep_best → ccnet_perplexity_buckets)
    composed into one corpus-rewriting job with declarative exit gates —
    what `pipeline` is to the reference's mart DAG, `refine` is to the
    training-data side. Stages print JSON lines; the last line is a
    summary; exit 1 = a quality gate failed (the dbt-test contract)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from importer_spark.io import Tables
    from importer_spark.operators.dedup import near_dup_pairs, remove_duplicate_spans
    from importer_spark.operators.graph import connected_components
    from importer_spark.operators.text import quality_score, tokens
    from importer_spark.quality import run_suite
    from importer_spark.session import get_spark

    spark = get_spark(app_name="importer-spark-refine", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    docs = Tables(spark, args.sf_dir).documents
    docs_in = docs.count()

    # --- stage 1: exact-substring span removal; drop fully-cut docs -------
    cleaned = (
        remove_duplicate_spans(docs, "doc_id", "text")
        .filter(F.col("clean_n_tokens") > 0)
        .select("doc_id", "lang", "source", "clean_text", "clean_n_tokens")
        # two downstream consumers (pair generation + LM scoring) and a
        # count: pin one materialization of the surgery
        .localCheckpoint(eager=True)
    )
    tokens_in = docs.select(F.sum(F.size(tokens(F.col("text"))))).first()[0] or 0
    tokens_clean = cleaned.select(F.sum("clean_n_tokens")).first()[0] or 0
    print(json.dumps({"stage": "span_removal", "docs_in": docs_in,
                      "docs_after": cleaned.count(),
                      "tokens_removed": int(tokens_in - tokens_clean)}), file=out)

    # --- stage 2: near-dup keep-best survivor filter on the CLEANED text --
    pairs = near_dup_pairs(cleaned, "doc_id", "clean_text")
    labels = connected_components(pairs, out_id="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col("doc_id")
    )
    losers = (
        labels.join(
            cleaned.select("doc_id", quality_score(F.col("clean_text")).alias("_q")),
            "doc_id",
        )
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select("doc_id")
    )
    # pin kept: it feeds the LM tokenize, the score join, and the final
    # projection — without the checkpoint the quality-window/anti-join
    # lineage above re-evaluates per consumer
    kept = cleaned.join(losers, "doc_id", "left_anti").localCheckpoint(eager=True)
    print(json.dumps({"stage": "keep_best",
                      "near_dup_losers_dropped": losers.count()}), file=out)

    # --- stage 3: CCNet tier tag — the SAME certified derivations the
    # unigram_logprob_scores / ccnet_perplexity_buckets queries run
    # (operators/text.py), applied to the cleaned kept corpus ------------
    from importer_spark.operators.text import (
        unigram_avg_logprob,
        value_tercile_buckets,
    )

    scored = unigram_avg_logprob(kept, "doc_id", "clean_text").select(
        "doc_id", "avg_logprob"
    )
    tagged = kept.join(scored, "doc_id")
    refined = value_tercile_buckets(tagged, ["lang"], "avg_logprob").select(
        "doc_id", "lang", "source", "clean_text", "clean_n_tokens", "bucket"
    )

    # --- stage 4: bucket-partitioned write + exit gates -------------------
    refined.write.mode("overwrite").partitionBy("bucket").parquet(args.out)
    written = spark.read.parquet(args.out)
    hist = {
        r["bucket"]: r["n"]
        for r in written.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({"stage": "write", "path": args.out, "buckets": hist}),
          file=out)

    failed = []
    if not args.skip_quality:
        checks = [
            {"kind": "not_null", "name": "doc_id_not_null", "col": "doc_id"},
            {"kind": "not_null", "name": "clean_text_not_null", "col": "clean_text"},
            {"kind": "unique", "name": "doc_id_unique", "col": "doc_id"},
            {"kind": "accepted_values", "name": "bucket_domain", "col": "bucket",
             "values": ["head", "middle", "tail"]},
            {"kind": "accepted_range", "name": "clean_tokens_positive",
             "col": "clean_n_tokens", "lo": 1},
        ]
        res = run_suite(written, checks).collect()
        failed = [(r.check_name, r.n_violations) for r in res if not r.passed]
        print(json.dumps({"stage": "quality", "checks": len(res),
                          "failed": failed}), file=out)

    summary = {
        "stage": "summary",
        "docs_in": docs_in,
        "docs_out": sum(hist.values()),
        "tokens_removed": int(tokens_in - tokens_clean),
        "buckets": hist,
        "ok": not failed,
    }
    print(json.dumps(summary, sort_keys=True), file=out)
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
