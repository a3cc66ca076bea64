"""Round-4 analytics extensions, batch 3: per-group OLS trend fitting,
SemDeDup-style semantic deduplication, degree-ordered triangle counting,
and incremental join-view maintenance.

- ``order_volume_trend_ols``: least-squares slope/intercept of daily order
  volume per priority class — the trend-line primitive behind forecasting
  marts (reference mart layer: models/mart/mart_order_trends.sql shape).
  All five OLS sufficient statistics (n, Σx, Σy, Σxx, Σxy) accumulate in
  exact BIGINT — x is a small day offset, y a daily count — so the closed
  forms  slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²)  and
  intercept = (ΣyΣxx − ΣxΣxy)/(nΣxx − (Σx)²)  are each ONE double division
  of two exactly-computed integers: bit-identical on any engine, at any
  parallelism, in any accumulation order.

- ``semantic_dedup_cells``: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-
  efficient learning at web-scale through semantic deduplication"): coarse
  semantic cells + within-cell cosine pruning. Deterministic variant: the
  K lowest-id vectors seed the cells (argmax-cosine assignment, ties to
  the lower seed), and a vector is a duplicate iff a LOWER-id vector in
  the SAME cell has cosine ≥ τ — the parallel, order-free form of the
  paper's keep-one-per-group rule. The quadratic stage is confined to a
  cell-bucketed self-join (the SemDeDup scale contract: cells bound the
  pair fan-out; at 100 TB cells come from k-means — operators/clustering
  — and this query's plumbing is unchanged).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from importer_spark.io import Tables
from importer_spark.operators.similarity import as_double_array
from importer_spark.queries.registry import query

# Anchor inside the data range keeps |x| ~ 1e3: every OLS sum then fits
# bigint with ~6 orders of magnitude to spare even at sf100.
_ANCHOR = "1995-06-01"

_OLS_SQL = f"""
WITH daily AS (
  SELECT o_orderpriority,
         DATEDIFF('day', DATE '{_ANCHOR}', CAST(o_orderdate AS DATE)) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders
  GROUP BY 1, 2
),
sums AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM daily
  GROUP BY 1
)
SELECT o_orderpriority, n,
  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
    AS slope_per_day,
  CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
    AS intercept
FROM sums
"""


@query("order_volume_trend_ols", oracle=_OLS_SQL)
def order_volume_trend_ols(spark, sf_dir):
    """OLS trend of daily order counts per priority. Two map-side-combined
    aggregations (daily counts, then the 5 sufficient statistics — the
    classic mergeable-moments reduction, so the fit is one O(groups)
    reduce regardless of table size), then closed-form slope/intercept.
    No window, no collect, no iteration."""
    t = Tables(spark, sf_dir)
    daily = (
        t.orders.select(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit(_ANCHOR).cast("date")).alias("x"),
        )
        .groupBy("o_orderpriority", "x")
        .agg(F.count("*").alias("y"))
    )
    sums = daily.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    # NULLIF: a priority whose orders all land on ONE day has zero x-variance
    # — the slope is undefined (NULL), not a divide-by-zero crash (found by
    # the Unicode fuzz gate: mutated priority values form singleton groups).
    den = F.nullif(n * sxx - sx * sx, F.lit(0)).cast("double")
    return sums.select(
        "o_orderpriority",
        "n",
        ((n * sxy - sx * sy).cast("double") / den).alias("slope_per_day"),
        ((sy * sxx - sx * sxy).cast("double") / den).alias("intercept"),
    )


# K (cell count) is THE SemDeDup scale dial — in-cell work is O(N²/K), so K
# must grow ∝ corpus (DEPLOY.md "SemDeDup sizing"). The catalog query runs
# the driver-scale K; a deployer passes `semantic_dedup(n_seeds=)`. The
# oracle string below bakes the same constant, keeping parity by construction.
_N_SEEDS = 8
_SEM_TAU = 0.45  # below this corpus's max pairwise cosine — dups exist

# ROUND(…, 9) before the argmax on BOTH engines: near-tie FP noise below the
# 1e-9 grid cannot flip a cell assignment (r4 ADVICE; operators/semdedup.py
# ROUND_SCALE is the same constant).
_SEMDEDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
seeds AS (SELECT vec_id AS seed_id, emb AS semb FROM e WHERE vec_id < {_N_SEEDS}),
assign AS (
  SELECT vec_id, emb, seed_id,
    ROW_NUMBER() OVER (
      PARTITION BY vec_id
      ORDER BY ROUND(list_cosine_similarity(emb, semb), 9) DESC, seed_id ASC
    ) AS rk
  FROM e CROSS JOIN seeds
),
cells AS (SELECT vec_id, emb, seed_id AS cell FROM assign WHERE rk = 1)
SELECT a.vec_id, a.cell,
  CAST(EXISTS (
    SELECT 1 FROM cells b
    WHERE b.cell = a.cell AND b.vec_id < a.vec_id
      AND list_cosine_similarity(a.emb, b.emb) >= {_SEM_TAU}
  ) AS BOOLEAN) AS is_semantic_dup
FROM cells a
"""


@query("semantic_dedup_cells", oracle=_SEMDEDUP_SQL)
def semantic_dedup_cells(spark, sf_dir):
    """SemDeDup via operators/semdedup.py: argmax-cosine seed cells (K
    fold-cosines per row, 1e-9-quantized, no join), then within-cell
    lower-id cosine-≥-τ flags from ONE applyInPandas per cell — the pair
    stage shuffles on the cell key only, which is the entire point of
    semantic pre-partitioning. The oracle keeps the naive correlated-EXISTS
    form, so parity certifies the bucketed rewrite. K is `_N_SEEDS`
    (seeds here are vec_id < K ≡ the K lowest ids — this corpus's ids are
    dense from 0)."""
    from importer_spark.operators.semdedup import semantic_dedup

    t = Tables(spark, sf_dir)
    e = t.wide("embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("emb")
    )
    return semantic_dedup(e, "vec_id", "emb", n_seeds=_N_SEEDS, tau=_SEM_TAU)


_TRI_SQL = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS MATERIALIZED (
  SELECT a.l_partkey AS a, b.l_partkey AS b
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node AS part_key, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY 1
"""


@query("copurchase_triangles", oracle=_TRI_SQL)
def copurchase_triangles(spark, sf_dir):
    """Per-part triangle counts over the co-purchase graph (same edge rule
    as copurchase_pagerank: co-occurrence >= 2). Engine side runs the
    degree-ordered orientation algorithm (Suri & Vassilvitskii, WWW 2011,
    "Counting triangles and the curse of the last reducer"): every edge
    points from its (degree, id)-smaller endpoint, each triangle becomes
    exactly ONE wedge-plus-closing-edge, and — the scale property — the
    wedge fan-out per node is bounded by O(sqrt(m)) regardless of raw
    degree, so a celebrity part cannot blow up a reducer. The oracle is
    the naive id-ordered chain join; identical triangle sets, independent
    derivations."""
    t = Tables(spark, sf_dir)
    # Edge derivation via per-order basket arrays (r10, guide §2.4/§3):
    # one shuffle builds sorted distinct-part baskets, pairs are generated
    # LOCALLY by a nested array transform — the same pass basket_pair_lift
    # and copurchase_pagerank run. The previous items-self-join form paid
    # two extra shuffles of (orderkey, partkey) plus a SortMergeJoin whose
    # fan-out is the same basket² blowup, just shuffled first. Identical
    # edge set: collect_set = DISTINCT parts per order; ordered pairs
    # (a < b) counted once per order; HAVING COUNT(*) >= 2 unchanged.
    baskets = t.lineitem.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    ps = F.col("ps")
    pair_structs = F.flatten(
        F.transform(
            ps,
            lambda x, i: F.transform(
                F.slice(ps, i + 2, F.size(ps)),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    edges = (
        baskets.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.u").alias("u"), F.col("pr.v").alias("v"))
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total order (deg, id): orient every edge small → large
    ed = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_deg"),
    )
    # The oriented edge set feeds THREE self-join arms; checkpointing it
    # keeps the plan constant-size instead of re-inlining the whole
    # items-self-join lineage per arm (same move as copurchase_pagerank).
    # Width = the session's shuffle-partition setting (r10: was a
    # hard-coded 8 — identical at bench scale where the derived setting IS
    # 8, scale-adaptive on a cluster).
    oriented = oriented.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "src"
    ).localCheckpoint(eager=True)
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("m1"), F.col("dst_deg").alias("g1")
    )
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("m2"), F.col("dst_deg").alias("g2")
    )
    wedges = e1.join(e2, "src").filter(
        (F.col("g1") < F.col("g2"))
        | ((F.col("g1") == F.col("g2")) & (F.col("m1") < F.col("m2")))
    )
    closing = oriented.select(
        F.col("src").alias("m1"), F.col("dst").alias("m2")
    )
    tri = wedges.join(closing, ["m1", "m2"]).select(
        F.col("src").alias("x"), F.col("m1").alias("y"), F.col("m2").alias("z")
    )
    nodes = (
        tri.select(F.col("x").alias("part_key"))
        .unionAll(tri.select(F.col("y").alias("part_key")))
        .unionAll(tri.select(F.col("z").alias("part_key")))
    )
    return nodes.groupBy("part_key").agg(F.count("*").alias("n_triangles"))


_IVM_SQL = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, o.o_orderdate,
       c.c_mktsegment, c.c_nationkey
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@query("incremental_join_view", oracle=_IVM_SQL)
def incremental_join_view(spark, sf_dir):
    """Materialized join view maintained INCREMENTALLY (operators/ivm.py):
    orders arrive in three date-bounded batches against a customer dim
    that gains its high-key half in batch 2; each refresh joins only the
    delta rows against the other side (ΔA⋈B_new ∪ A⋈ΔB — the Gupta et
    al. delta rule), never history against history. The oracle is the
    plain one-shot join, so value parity proves the three-step
    incremental maintenance converges to exactly the full recompute —
    the semantics-preserving-rewrite certification pattern
    (salted_segment_revenue's oracle plays the same role)."""
    from importer_spark.operators.ivm import refresh_join_view

    t = Tables(spark, sf_dir)
    orders = t.orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cust = t.customer.select("c_custkey", "c_mktsegment", "c_nationkey")
    med_cust = cust.approxQuantile("c_custkey", [0.5], 0.0)[0]
    cut1, cut2 = "1995-01-01", "1997-01-01"
    # batching is internal partitioning — its union must be ALL rows, so
    # NULL order dates (which fail every range predicate) ride in batch 1
    o1 = orders.filter(
        (F.col("o_orderdate") < cut1) | F.col("o_orderdate").isNull()
    )
    o2 = orders.filter(
        (F.col("o_orderdate") >= cut1) & (F.col("o_orderdate") < cut2)
    )
    o3 = orders.filter(F.col("o_orderdate") >= cut2)
    c1 = cust.filter(F.col("c_custkey") <= med_cust)
    c2 = cust.filter(F.col("c_custkey") > med_cust)

    # dim key renamed so the view joins on one column name
    c1r = c1.withColumnRenamed("c_custkey", "o_custkey")
    c2r = c2.withColumnRenamed("c_custkey", "o_custkey")
    view = refresh_join_view(None, o1, None, c1r, None, ["o_custkey"])
    view = refresh_join_view(view, o1, o2, c1r, c2r, ["o_custkey"])
    a12 = o1.unionByName(o2)
    c12 = c1r.unionByName(c2r)
    view = refresh_join_view(view, a12, o3, c12, None, ["o_custkey"])
    return view.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "c_mktsegment", "c_nationkey",
    )
