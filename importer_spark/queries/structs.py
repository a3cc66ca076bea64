"""Struct / JSON / nested-table queries (SURVEY §1.1 nested child tables,
§2.3 F23 JSON construction) and embedding aggregate/near-dup queries.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from importer_spark.functions import dec, out_double
from importer_spark.io import Tables
from importer_spark.queries.core import D2
from importer_spark.queries.registry import query

_JSON_BUILD_SQL = """
SELECT c_custkey AS cust_key,
  to_json(struct_pack(
    name := c_name,
    segment := c_mktsegment,
    nation := CAST(c_nationkey AS VARCHAR)
  )) AS contact_json,
  json_extract_string(to_json(struct_pack(
    name := c_name,
    segment := c_mktsegment,
    nation := CAST(c_nationkey AS VARCHAR)
  )), '$.segment') AS roundtrip_segment
FROM customer
"""


@query("json_build_roundtrip", oracle=_JSON_BUILD_SQL)
def json_build_roundtrip(spark, sf_dir):
    """F23 JSON_BUILD_OBJECT → to_json(struct(...)) with a get_json_object
    round-trip (reference: dim_customer_contacts.sql:65-70 phone-fields JSON).
    String-valued fields keep serialization engine-identical."""
    t = Tables(spark, sf_dir)
    obj = F.struct(
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("string").alias("nation"),
    )
    # ignoreNullFields=false: a NULL field must serialize as "k":null —
    # Spark's default silently drops the key, DuckDB (and JSON consumers
    # relying on a stable document shape) keep it
    opts = {"ignoreNullFields": "false"}
    return t.customer.select(
        F.col("c_custkey").alias("cust_key"),
        F.to_json(obj, opts).alias("contact_json"),
        F.get_json_object(F.to_json(obj, opts), "$.segment").alias("roundtrip_segment"),
    )


_NESTED_CHILD_SQL = f"""
WITH nested AS (
  SELECT o_custkey AS cust_key,
         list(struct_pack(order_key := o_orderkey,
                          total := CAST(CAST(o_totalprice AS {D2}) AS DOUBLE))
              ORDER BY o_orderkey) AS orders
  FROM orders GROUP BY 1
)
SELECT cust_key,
       UNNEST(range(1, len(orders) + 1)) AS child_idx,
       UNNEST([o.order_key FOR o IN orders]) AS order_key,
       UNNEST([o.total FOR o IN orders]) AS order_total
FROM nested
"""


@query("nested_child_table", oracle=_NESTED_CHILD_SQL)
def nested_child_table(spark, sf_dir):
    """§1.1 dlt parent/child pattern: build array-of-struct children per
    parent (deterministic order), then explode back to a child table with
    parent key + ordinality — the Spark form of `orders__line_items` with
    `_dlt_parent_id` (sources.yml:119-155)."""
    t = Tables(spark, sf_dir)
    nested = t.orders.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("o_orderkey").alias("order_key"),
                    out_double(dec(F.col("o_totalprice"))).alias("total"),
                )
            )
        ).alias("orders")
    )
    return nested.select(
        "cust_key", F.posexplode("orders").alias("idx0", "child")
    ).select(
        "cust_key",
        (F.col("idx0") + 1).alias("child_idx"),
        F.col("child.order_key").alias("order_key"),
        F.col("child.total").alias("order_total"),
    )


_CENTROID_SQL = """
WITH dims AS (
  SELECT label,
         UNNEST(embedding::DOUBLE[]) AS v,
         UNNEST(range(1, len(embedding) + 1)) AS dim
  FROM embeddings
)
SELECT label, dim,
  COUNT(*) AS n_vectors,
  ROUND(CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS centroid_val
FROM dims
GROUP BY label, dim
"""


@query("embedding_centroids", oracle=_CENTROID_SQL)
def embedding_centroids(spark, sf_dir):
    """Per-label centroid, dimension-wise (the reduce step of distributed
    k-means / IVF training). Explode dims → decimal-exact mean per (label,
    dim): one shuffle, map-side partial sums; order-independent because the
    accumulation is exact decimal."""
    t = Tables(spark, sf_dir)
    dims = t.embeddings.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "v"),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "v")
    return dims.groupBy("label", "dim").agg(
        F.count("*").alias("n_vectors"),
        F.round(
            F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"), 6
        ).alias("centroid_val"),
    )


_EMB_NEAR_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45
"""


@query("embedding_near_dups", oracle=_EMB_NEAR_DUP_SQL)
def embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs (the dedup variant over vectors) via
    exact triangle block decomposition: rows hash into blocks, each block
    pair computes its pairs with a numpy matmul inside applyInPandas — no
    whole-corpus driver materialization, executor memory bounded by two
    blocks. Exactness is what the oracle demands; the approximate
    corpus-scale alternatives are the LSH/IVF bucketed paths
    (embedding_ann_lsh / embedding_ivf_topk). Threshold 0.45 sits just
    under this dataset's max pairwise cosine (0.51) so the semantics are
    visible."""
    from importer_spark.operators.similarity import as_double_array, cosine_pairs_exact

    t = Tables(spark, sf_dir)
    e = t.embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("emb"))
    return cosine_pairs_exact(e, "vec_id", "emb", threshold=0.45)


def _emb_clusters_sql(rounds: int = 8) -> str:
    """Oracle SQL for embedding_dup_clusters: contract-then-solve connected
    components instead of a direct recursive-CTE transitive closure.

    The r4 sf1 gate timed the direct closure out: the scaled corpus's
    cross-copy cosine tail glues components into a 14k-node blob, and
    ``reach(id, r)`` materializes |component|^2 rows before the MIN — the
    one quadratic stage in an otherwise linear oracle. A pure unrolled
    min-label scheme is no fix: the label-of-label jump doubles coverage on
    paths but NOT on general trees (the jump target's ball need not face
    the component min), and the sf1 blob under-converged at 16 rounds
    (14151 vs the union-find ground truth 14174). So: (1) ``rounds``
    unrolled min(own, neighbors, label-of-label) stages — sound for any
    round count (labels never cross components, never pass the component
    min) and guaranteed to contract every ≥(rounds+1)-node radius
    neighborhood; (2) build the CONTRACTED super-node graph on those
    labels; (3) run the EXACT recursive closure on the contracted graph,
    now quadratic only in contracted-component size (≤ |comp|/(rounds+1)
    even in the adversarial-path case); (4) map node→super-label→component
    min. The component's min node keeps its own id as label through every
    stage, so the final MIN over the closure is the true component min.
    Every stage is MATERIALIZED so DuckDB 1.0 never re-inlines the
    quadratic cosine join.
    """
    head = """
WITH RECURSIVE e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
pairs AS MATERIALIZED (
  -- list_cosine_similarity, NOT inner-product-on-prenormalized: the scaled
  -- corpus has cosine mass right at the 0.45 boundary and the two
  -- formulations differ by ULPs there — the pair set must match the
  -- embedding_near_dups oracle bit-for-bit (certified green at sf1).
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS r FROM edges)"""
    blocks = []
    prev = "l0"
    for k in range(1, rounds + 1):
        cur = f"l{k}"
        blocks.append(
            f""",
{cur} AS MATERIALIZED (
  SELECT id, MIN(v) AS r FROM (
    SELECT id, r AS v FROM {prev}
    UNION ALL
    SELECT e2.src AS id, l.r AS v FROM edges e2 JOIN {prev} l ON e2.dst = l.id
    UNION ALL
    SELECT l1.id AS id, l2.r AS v FROM {prev} l1 JOIN {prev} l2 ON l1.r = l2.id
  ) GROUP BY id
)"""
        )
        prev = cur
    tail = f""",
cedges AS MATERIALIZED (
  SELECT DISTINCT la.r AS src, lb.r AS dst
  FROM edges e2
  JOIN {prev} la ON e2.src = la.id
  JOIN {prev} lb ON e2.dst = lb.id
  WHERE la.r <> lb.r
),
csym AS MATERIALIZED (
  SELECT src, dst FROM cedges UNION SELECT dst, src FROM cedges
),
cnodes AS MATERIALIZED (SELECT DISTINCT r AS id FROM {prev}),
reach(id, r) AS (
  SELECT id, id FROM cnodes
  UNION
  SELECT c.src, reach.r FROM csym c JOIN reach ON c.dst = reach.id
),
clabel AS (SELECT id, MIN(r) AS r FROM reach GROUP BY id)
SELECT vec_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM (
  SELECT l.id AS vec_id, c.r AS cluster_id
  FROM {prev} l JOIN clabel c ON l.r = c.id
)
"""
    return head + "".join(blocks) + tail


_EMB_CLUSTERS_SQL = _emb_clusters_sql()


@query("embedding_dup_clusters", oracle=_EMB_CLUSTERS_SQL)
def embedding_dup_clusters(spark, sf_dir):
    """Embedding-space dedup GROUPS: connected components over the
    cosine-similarity pair graph (exact triangle-block pairs feed the
    min-label propagation operator) — the vector twin of
    near_dup_clusters, closing the pairs→groups arc for both text and
    embedding dedup. Oracle: recursive-CTE transitive closure over the
    brute-force pair set."""
    from importer_spark.operators.graph import connected_components

    return connected_components(embedding_near_dups(spark, sf_dir), out_id="vec_id")


_PRIORITY_JSON_SQL = """
WITH per AS (
  SELECT o_custkey, o_orderpriority AS k, COUNT(*) AS v
  FROM orders GROUP BY 1, 2
)
SELECT o_custkey AS cust_key,
  -- explicit NULLS FIRST: Spark's sort_array ranks a NULL struct field
  -- first; DuckDB's list_sort default ranks it last
  to_json(list(struct_pack(k := k, v := v) ORDER BY k NULLS FIRST, v))
    AS priority_counts
FROM per GROUP BY 1
"""


@query("priority_counts_json", oracle=_PRIORITY_JSON_SQL)
def priority_counts_json(spark, sf_dir):
    """Map-style aggregation serialized to JSON: per customer, the
    priority→count histogram as a SORTED array-of-structs JSON string
    (sort_array makes the collect_list order — which is partition-arrival
    nondeterministic — canonical; Spark and DuckDB emit byte-identical
    compact JSON for it). The 'document per entity' export shape for
    feature stores / API payloads."""
    t = Tables(spark, sf_dir)
    per = t.orders.groupBy("o_custkey", F.col("o_orderpriority").alias("k")).agg(
        F.count("*").alias("v")
    )
    return per.groupBy(F.col("o_custkey").alias("cust_key")).agg(
        F.to_json(
            F.sort_array(F.collect_list(F.struct(F.col("k"), F.col("v")))),
            {"ignoreNullFields": "false"},  # NULL priority key → "k":null
        ).alias("priority_counts")
    )


_VARIANT_SQL = """
WITH j AS (
  -- json_object, never '||'-concatenation: raw strings may contain JSON
  -- control characters (a literal TAB crashed parse_json under the Unicode
  -- fuzz gate) — the constructor escapes them, so the document is always
  -- well-formed and extraction round-trips the original value.
  SELECT o_orderkey,
    json_object(
      'order', json_object('status', o_orderstatus,
                           'priority', o_orderpriority),
      'price_cents',
      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
    )::VARCHAR AS payload
  FROM orders
)
SELECT o_orderkey,
  payload ->> '$.order.status' AS status,
  payload ->> '$.order.priority' AS priority,
  CAST(payload ->> '$.price_cents' AS BIGINT) AS price_cents
FROM j
"""


@query("variant_payload_extract", oracle=_VARIANT_SQL)
def variant_payload_extract(spark, sf_dir):
    """Semi-structured payloads through Spark 4's VARIANT type: build a JSON
    document per order, `parse_json` it into a variant, and pull typed
    fields back out with `variant_get` path expressions. Unlike
    get_json_object (string re-parse per access), a variant parses once
    into a binary-encoded tree — the Spark-4-native path for
    schema-on-read event payloads. Oracle: DuckDB JSON path extraction on
    the identical document."""
    t = Tables(spark, sf_dir)
    # to_json(struct(...)), never string concatenation: raw column values can
    # contain JSON control characters (a literal TAB crashed parse_json under
    # the Unicode fuzz gate). The serializer escapes them; a NULL field is
    # dropped (Spark) vs rendered null (DuckDB json_object) — both extract to
    # NULL, so the OUTPUT columns stay engine-identical either way.
    payload = F.to_json(
        F.struct(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("order"),
            (dec(F.col("o_totalprice")) * 100).cast("bigint").alias("price_cents"),
        )
    )
    v = F.parse_json(payload)
    return t.orders.select(
        "o_orderkey",
        F.variant_get(v, "$.order.status", "string").alias("status"),
        F.variant_get(v, "$.order.priority", "string").alias("priority"),
        F.variant_get(v, "$.price_cents", "bigint").alias("price_cents"),
    )


_INCR_EMB_NEAR_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.45
  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
"""


@query("embedding_near_dups_incremental", oracle=_INCR_EMB_NEAR_DUP_SQL)
def embedding_near_dups_incremental(spark, sf_dir):
    """Incremental embedding dedup: vectors with vec_id % 5 == 0 play the
    NEW ingest batch, probed against the full stored corpus with
    `cosine_pairs_probe` — the batch broadcasts (bounded by definition),
    the corpus streams one scan, and the result is EXACTLY the batch
    slice of `embedding_near_dups`' full answer (the same contract the
    gram/band/chunk/segment stores carry — one incremental twin per
    dedup modality: substring, shingle, chunk, embedding, segment). At production scale the corpus scan prunes further
    through the LSH bucket store (probe only the batch's buckets — the
    embedding_ann_lsh geometry); the exact streamed scan here is the
    certifiable baseline."""
    from importer_spark.operators.similarity import (
        as_double_array,
        cosine_pairs_probe,
    )

    t = Tables(spark, sf_dir)
    e = t.embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("emb"))
    batch = e.filter(F.col("vec_id") % 5 == 0)
    return cosine_pairs_probe(batch, e, "vec_id", "emb", threshold=0.45)


_EMIT_CAP = 8  # top-K matches kept per probe


@query("embedding_probe_emit_capped", catalog=False)
def embedding_probe_emit_capped(spark, sf_dir):
    """The production emit-cap dial over the same incremental probe
    (r6 verdict #2): `embedding_near_dups_incremental`'s 100× exponent
    ~2.3 is OUTPUT-driven — emitted pairs grow 4.01×/doubling on the
    clone-heavy scaled data (measured, commit 12316cd) — so a duplicate-
    heavy shard materializes an unbounded pair set. With the cap
    (`_EMIT_CAP`, 8; `cosine_pairs_probe(max_pairs_per_probe=)`) each probe
    keeps only its cap highest-cosine matches — output bounded by
    cap·|batch| regardless of corpus duplication — and saturated probes
    surface in the overflow relation (returned here as per-pair rows; the
    operator's return_overflow=True form exposes the exact pre-cap degree,
    pinned by tests/test_emit_caps.py). Diagnostic (no oracle): the capped
    answer is a deliberate top-K subset, not the SQL-expressible full
    pair set — the uncapped twin above stays the certified catalog entry."""
    from importer_spark.operators.similarity import (
        as_double_array,
        cosine_pairs_probe,
    )

    t = Tables(spark, sf_dir)
    e = t.embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("emb"))
    batch = e.filter(F.col("vec_id") % 5 == 0)
    return cosine_pairs_probe(
        batch, e, "vec_id", "emb", threshold=0.45, max_pairs_per_probe=_EMIT_CAP
    )
