"""Single-box scaling sweep: time a representative heavy-query set at one
scale directory and merge the timings into a cumulative artifact, so runs
at sf0.1 / /tmp/sf1 (10x) / /tmp/sf5 (50x) build one scaling curve
(PERF.md "scaling extension" sections; data from tools/make_scaled_data.py).

Methodology matches the bench's isolated pass: one warm session
(local[SPARK_GRAFT_CPUS], shuffle partitions from SPARK_GRAFT_SHUFFLE with
a data-proportional default), tables and the Python worker pool warmed
first, every query fully materialized through the noop sink, queries run
sequentially, and each query's time is the MIN of SPARK_GRAFT_SWEEP_RUNS
runs (default 2 — on a shared machine noise only inflates).

Perf experiments only: correctness gates run on the driver's testdata
(run_local_gate.py). Cross-copy-quadratic embedding queries are excluded
by default (make_scaled_data.py documents why twin-pair counts scale with
copy PAIRS, not rows).

Usage: python tools/run_scale_sweep.py <sf_dir> <label> [out_json] [--only a,b,c]
Writes {label: {query: seconds}} merged into out_json (default
SCALE_SWEEP.json at the repo root).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Representative heavy set: scan/agg/join shapes, the text-dedup family,
# the learned/iterative algorithms, and the round-5 refinement queries.
SWEEP_QUERIES = [
    "pricing_summary",
    "orders_fact",
    "region_revenue",
    "mart_product_period_spending",
    "tpch_q1_pricing_summary_sql",
    "tpch_q21_suppliers_kept_waiting",
    "product_pricing_history",
    "near_dup_pairs",
    "near_dup_clusters_star",
    "exact_substring_spans",
    "exact_substring_removal",
    "exact_substring_removal_incremental",
    "region_spend_rank",
    "simhash_near_dups",
    "dedup_keep_best",
    "tfidf_weights",
    "unigram_logprob_scores",
    "ccnet_perplexity_buckets",
    "lang_quality_deciles",
    "sequence_packing",
    "bigram_backoff_scores",
    "dsir_importance_weights",
    "nb_source_classifier",
    "nb_confidence_calibration",
    "source_kl_drift",
    "basket_pair_lift",
    "copurchase_pagerank",
    "semantic_dedup_cells",
    "bpe_token_stats",
    # round-5 retrieval/mixture family
    "bm25_topk",
    "hybrid_rrf_topk",
    "leakage_safe_split",
    "unimax_language_budget",
    "margin_bitext_mine",
    "quality_auc_by_source",
    "retrieval_arm_ndcg",
    "lang_id_ngram_nb",
    "lang_id_kappa",
    "lang_id_class_f1",
    "pmi_collocations",
    "chunk_overlap_pairs",
    "chunk_overlap_pairs_incremental",
    "segment_dedup_removal",
    "segment_dedup_removal_incremental",
    "embedding_near_dups_incremental",
    # r7 emit-cap dials: the bounded-degradation twins of the two
    # output/candidate-driven probes above.
    "embedding_probe_emit_capped",
    "simhash_bucket_capped",
]


def main() -> None:
    argv = list(sys.argv[1:])
    only = None
    if "--only" in argv:
        i = argv.index("--only")
        if i + 1 >= len(argv):
            raise SystemExit(__doc__)
        only = argv[i + 1].split(",")
        del argv[i : i + 2]
    if len(argv) < 2:
        raise SystemExit(__doc__)
    sf_dir, label = argv[0], argv[1]
    out_path = argv[2] if len(argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_SWEEP.json",
    )
    runs = int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", "2"))

    from importer_spark.io import TABLES, Tables
    from importer_spark.queries import DIAGNOSTICS, QUERIES
    from importer_spark.session import get_spark, shuffle_partitions_for_dir

    catalog = {**QUERIES, **DIAGNOSTICS}
    names = only if only is not None else SWEEP_QUERIES
    unknown = sorted(set(names) - set(catalog))
    if unknown:
        raise SystemExit(f"not in catalog: {unknown}")

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Shuffle partitions scale with the data via the ONE measured rule in
    # session.shuffle_partitions_for_dir (spill-cliff divisor history lives
    # in its docstring) — a fixed dial under-partitions a 50x input.
    shuffle = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", shuffle_partitions_for_dir(sf_dir))
    )
    spark = get_spark(
        app_name=f"scale-sweep-{label}",
        master=f"local[{cpus}]",
        shuffle_partitions=shuffle,
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm = Tables(spark, sf_dir)
    for t in TABLES:
        try:
            getattr(warm, t).count()
        except Exception:
            pass
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(max(1, runs)):
            start = time.perf_counter()
            catalog[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - start
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 2)
        print(f"{label} {name}: {times[name]}s", flush=True)

    merged: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            merged = json.load(fh)
    from importer_spark.cert import cert_stamp

    entry = merged.setdefault(label, {})
    entry.update(times)
    # Per-SECTION stamp (informational, not sync-enforced — perf sections
    # from different trees legitimately coexist in one sweep file; the
    # correctness gates are the sync-enforced artifacts).
    entry["_cert"] = cert_stamp()
    entry["_sf_dir"] = sf_dir
    entry["_shuffle_partitions"] = shuffle
    entry["_runs"] = runs
    with open(out_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    print(json.dumps({"label": label, "n": len(times), "out": out_path}))


if __name__ == "__main__":
    sys.exit(main())
