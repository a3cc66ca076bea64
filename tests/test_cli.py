"""CLI entry point (python -m importer_spark)."""

from __future__ import annotations

import io
import json

from importer_spark.__main__ import main


def test_cli_list():
    buf = io.StringIO()
    assert main(["list"], out=buf) == 0
    lines = buf.getvalue().splitlines()
    assert "pricing_summary" in lines
    assert any(line.startswith("kmeans_embeddings") and "[diagnostics]" in line for line in lines)


def test_cli_oracle():
    buf = io.StringIO()
    assert main(["oracle", "pricing_summary"], out=buf) == 0
    assert "SELECT" in buf.getvalue().upper()


def test_cli_unknown_query():
    assert main(["run", "nope"], out=io.StringIO()) == 2


def test_cli_run_and_explain(spark):
    # Reuses the test session via getOrCreate inside get_spark.
    buf = io.StringIO()
    assert main(["run", "doc_length_histogram", "--limit", "3"], out=buf) == 0
    rows = [json.loads(line) for line in buf.getvalue().splitlines()]
    assert rows and all("bucket" in r or r for r in rows)
    buf = io.StringIO()
    assert main(["explain", "pricing_summary"], out=buf) == 0
    assert "Exchange" in buf.getvalue() or "Scan" in buf.getvalue()


def test_query_docs_in_sync():
    """QUERIES.md must list every registered query (regenerate with
    tools/gen_query_docs.py when adding one)."""
    import os

    from importer_spark.queries import DIAGNOSTICS, QUERIES

    path = os.path.join(os.path.dirname(__file__), "..", "QUERIES.md")
    with open(path) as fh:
        doc = fh.read()
    missing = [n for n in list(QUERIES) + list(DIAGNOSTICS) if f"`{n}`" not in doc]
    assert not missing, f"regenerate QUERIES.md: missing {missing}"


def test_doc_gate_counts_match_shipped_artifacts():
    """Doc claims about certification-gate sizes must match the shipped
    artifacts (r6 verdict: DEPLOY.md still said 156/156 two catalog-growth
    rounds later). Every 'N/N' or 'all N queries' style count mentioned in
    DEPLOY.md / README.md / COVERAGE.md for a gate artifact must equal
    that artifact's actual pass count — so the docs can't silently drift
    when the catalog grows."""
    import json
    import os
    import re

    root = os.path.join(os.path.dirname(__file__), "..")

    def _artifact_passes(name):
        with open(os.path.join(root, name)) as fh:
            d = json.load(fh)
        if "passes" in d:
            return int(d["passes"])
        return int(d["n"]) - len(d.get("fails", {}))

    local_gate = _artifact_passes("LOCAL_GATE_sf0.01.json")
    smoke = _artifact_passes("FLOATSPECIAL_SMOKE.json")

    deploy = open(os.path.join(root, "DEPLOY.md")).read()
    m = re.search(r"LOCAL_GATE_sf0\.01\.json\s*\((\d+)/(\d+)", deploy)
    assert m, "DEPLOY.md no longer states the LOCAL_GATE count"
    assert int(m.group(1)) == int(m.group(2)) == local_gate, (
        f"DEPLOY.md claims {m.group(0)}, artifact has {local_gate} passes"
    )

    for doc_name in ("README.md", "COVERAGE.md"):
        doc = open(os.path.join(root, doc_name)).read()
        m = re.search(r"all (\d+)\s*\n?\s*queries\+diagnostics", doc)
        # assert, not skip-on-no-match: a reword that breaks the regex
        # would otherwise silently disarm this gate — the exact drift
        # mode it exists to prevent.
        assert m, f"{doc_name} no longer states the float-special smoke count"
        assert int(m.group(1)) == smoke, (
            f"{doc_name} claims float-special smoke over {m.group(1)} "
            f"queries, artifact has {smoke} passes"
        )


def test_cli_pipeline_end_to_end(spark, tmp_path):
    """The orchestrator front door: seed run loads sources, builds marts,
    passes quality; the rerun flips to incremental and is idempotent
    (0 new rows, same mart counts, still green)."""
    wh = str(tmp_path / "wh")
    buf = io.StringIO()
    assert main(["pipeline", "--warehouse", wh], out=buf) == 0
    lines = [json.loads(line) for line in buf.getvalue().splitlines()]
    summary = lines[-1]
    assert summary["stage"] == "summary" and summary["ok"]
    assert summary["sources"]["orders"]["mode"] == "seed"
    assert summary["marts"]["mart_customer_health"] > 0
    assert summary["quality_checks"] >= 16 and summary["quality_failures"] == 0

    buf2 = io.StringIO()
    assert main(["pipeline", "--warehouse", wh], out=buf2) == 0
    summary2 = [json.loads(line) for line in buf2.getvalue().splitlines()][-1]
    assert summary2["sources"]["orders"]["mode"] == "incremental"
    assert summary2["sources"]["orders"]["rows_loaded"] == 0  # nothing new
    assert summary2["marts"] == summary["marts"]
    assert summary2["ok"]


def test_cli_refine_end_to_end(spark, tmp_path):
    """The LLM-curation front door: span removal drops fully-cut docs,
    keep-best drops near-dup losers, every survivor lands in exactly one
    quality tier, the parquet output is bucket-partitioned, gates pass,
    and a rerun is deterministic (same counts, same bucket histogram)."""
    out_dir = str(tmp_path / "refined")
    buf = io.StringIO()
    assert main(["refine", "--out", out_dir], out=buf) == 0
    lines = [json.loads(line) for line in buf.getvalue().splitlines()]
    summary = lines[-1]
    assert summary["stage"] == "summary" and summary["ok"]
    assert 0 < summary["docs_out"] < summary["docs_in"]
    assert summary["tokens_removed"] > 0
    assert set(summary["buckets"]) == {"head", "middle", "tail"}
    assert sum(summary["buckets"].values()) == summary["docs_out"]

    written = spark.read.parquet(out_dir)
    assert written.count() == summary["docs_out"]
    # bucket-partitioned layout on disk
    import os

    assert any(d.startswith("bucket=") for d in os.listdir(out_dir))

    buf2 = io.StringIO()
    assert main(["refine", "--out", str(tmp_path / "refined2")], out=buf2) == 0
    summary2 = [json.loads(line) for line in buf2.getvalue().splitlines()][-1]
    assert summary2["buckets"] == summary["buckets"]
    assert summary2["docs_out"] == summary["docs_out"]


def test_pipeline_marts_read_the_loaded_orders(spark, tmp_path):
    """After a delta-only incremental delivery (the sf dir holds only new
    and re-delivered orders), the marts are built from the orders the load
    committed, so they equal a full rebuild over the merged rows — not a
    build over the delta alone."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from importer_spark.io import TABLES
    from importer_spark.plans.dag import GRAPH
    from tests.conftest import SF_DIR

    def table_dir(name, orders):
        d = tmp_path / name
        d.mkdir()
        for t in TABLES:
            if t != "orders":
                os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), d / f"{t}.parquet")
        pq.write_table(orders, d / "orders.parquet")
        return str(d)

    base = pq.read_table(os.path.join(SF_DIR, "orders.parquet"))
    top = pc.max(base["o_orderdate"]).as_py()
    day = datetime.timedelta(days=1)
    redelivered = base.slice(0, 40)
    redelivered = redelivered.set_column(
        redelivered.schema.get_field_index("o_totalprice"), "o_totalprice",
        pc.multiply(redelivered["o_totalprice"], 2.0),
    ).set_column(
        redelivered.schema.get_field_index("o_orderdate"), "o_orderdate",
        pa.array([top + day] * 40, type=base.schema.field("o_orderdate").type),
    )
    new = base.slice(100, 20)
    max_key = pc.max(base["o_orderkey"]).as_py()
    new = new.set_column(
        new.schema.get_field_index("o_orderkey"), "o_orderkey",
        pa.array(range(max_key + 1, max_key + 21), type=pa.int64()),
    ).set_column(
        new.schema.get_field_index("o_orderdate"), "o_orderdate",
        pa.array([top + 2 * day] * 20, type=base.schema.field("o_orderdate").type),
    )
    delta = pa.concat_tables([redelivered, new])
    merged = pa.concat_tables([base.slice(40), redelivered, new])
    delta_dir = table_dir("delta", delta)
    full_dir = table_dir("full", merged)

    wh = str(tmp_path / "wh")
    assert main(["pipeline", "--warehouse", wh, "--mode", "seed", "--skip-quality"],
                out=io.StringIO()) == 0
    buf = io.StringIO()
    assert main(["pipeline", "--sf-dir", delta_dir, "--warehouse", wh,
                 "--mode", "incremental"], out=buf) == 0
    summary = [json.loads(line) for line in buf.getvalue().splitlines()][-1]
    assert summary["ok"]
    assert summary["sources"]["orders"] == {
        "mode": "incremental", "rows_loaded": 60, "target_rows": base.num_rows + 20,
    }

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = GRAPH.run(spark, full_dir)
    try:
        for name in ("mart_customer_health", "mart_segment_summary"):
            got = spark.read.parquet(os.path.join(wh, "marts", name))
            assert rows(got) == rows(want[name].select(*got.columns)), name
    finally:
        GRAPH.release(want)
