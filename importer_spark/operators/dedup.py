"""Deduplication operators for LLM-data pipelines (BASELINE.json north star):
exact hash dedup and MinHash+LSH near-dup detection.

Scale design: LSH is the whole point — candidate generation is a self-join on
band buckets (shuffle on band key), never an all-pairs cross join. At 100 TB
the quadratic verify step only runs inside buckets, whose expected size is
controlled by (n_hashes, band_size). Skewed buckets (a shingle-set that
collapses many docs) are absorbed by AQE skew-join splitting.

Implementation note (measured on sf0.1): shingles are built via
posexplode + window-lead rather than array higher-order functions — HOF
lambdas are interpreted per element, while explode/window/hash-agg stay in
generated code. The shingle stream is rows, not arrays, so MinHash reduces
with map-side partial mins and nothing allocates per-document arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from importer_spark.operators.text import lsh_band_keys


def shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """(id, shingle) rows of k-word shingles (with multiplicity). Documents
    shorter than k tokens contribute their whole text as one shingle.

    Zero-shuffle shape (r10): explode a 1..n-k+1 position sequence and
    read the k adjacent tokens with element_at inside the same codegen
    stage — one scan, no exchange, no sort. The previous posexplode +
    window-lead form shuffled and sorted the whole exploded TOKEN stream
    on id before any consumer aggregation (plus a second scan unioned in
    for short docs), so every MinHash/shingle-set consumer paid a
    corpus-token-sized exchange; now the first exchange a consumer sees
    is its own aggregation, which partial-aggregates map-side to per-doc
    rows first. (Array HOF lambdas stay out — transform() is interpreted
    per element; element_at/concat_ws here are codegen expressions.)
    NULL text drops in both forms: sequence(1, NULL) is NULL and explode
    of NULL emits nothing, exactly as the old size(NULL)>=k filter did."""
    toks = F.split(F.col(text_col), " ")
    full = F.size(F.col("_t")) >= shingle_k
    exploded = df.select(
        F.col(id_col), toks.alias("_t"), F.col(text_col).alias("_text")
    ).select(
        F.col(id_col),
        "_t",
        "_text",
        F.explode(
            # NULL text must DROP (old form's size(NULL)>=k filter): no
            # otherwise() — a NULL size falls through both whens to a NULL
            # sequence bound and explode(NULL) emits nothing.
            F.sequence(
                F.lit(1),
                F.when(
                    F.size(F.col("_t")) >= shingle_k,
                    F.size(F.col("_t")) - (shingle_k - 1),
                ).when(F.size(F.col("_t")) < shingle_k, F.lit(1)),
            )
        ).alias("_i"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("_t"), F.col("_i") + j) for j in range(shingle_k)]
    )
    return exploded.select(
        F.col(id_col),
        F.when(full, gram).otherwise(F.col("_text")).alias("shingle"),
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int = 3
) -> DataFrame:
    """(id, shingles) with the distinct shingle set per document."""
    return (
        shingle_rows(df, id_col, text_col, shingle_k)
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("shingles"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: every row keeps its hash, group size, and
    canonical flag (min id wins). Generalizes reference W1/W2 dedup to
    content-addressed grouping; one shuffle on the hash."""
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    w_rank = w.orderBy(F.col(id_col).asc())
    return hashed.select(
        id_col,
        "content_hash",
        F.count("*").over(w).alias("group_size"),
        (F.row_number().over(w_rank) == 1).alias("is_canonical"),
        F.min(id_col).over(w).alias("canonical_id"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{n-1}.

    One seeded md5 per 4 components (8-hex slices of the digest); min is
    duplicate-insensitive, so the raw shingle stream needs no distinct.
    Single shuffle: the groupBy(id) partial-aggregates map-side."""
    rows = shingle_rows(df, id_col, text_col, shingle_k)
    n_seeds = (n_hashes + 3) // 4
    hashed = rows.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{m}:"), F.col("shingle"))).alias(f"_h{m}")
            for m in range(n_seeds)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.substring(F.col(f"_h{j // 4}"), (j % 4) * 8 + 1, 8)).alias(f"mh{j}")
            for j in range(n_hashes)
        ]
    )


def band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key) — the persistable LSH index rows for ``df``.
    This is the STATE of incremental dedup: merge each batch's rows into a
    band table (io.merge_by_key on (id, band_idx), or partitioned by
    band_key for co-located candidate joins) and new batches probe it
    without recomputing corpus signatures."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k)
    bands = lsh_band_keys([F.col(f"mh{j}") for j in range(n_hashes)], band_size)
    return sigs.select(
        F.col(id_col), F.posexplode(F.array(*bands)).alias("band_idx", "band_key")
    )


def cap_band_buckets(
    bands: DataFrame,
    key_cols: list[str],
    bucket_cap: int,
    return_members: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Route oversized candidate buckets out of a banded self-join: returns
    (bands_within_cap, overflow) where overflow lists each skipped
    bucket's key columns + exact ``bucket_size``. The shared emit-cap
    primitive of the banded dedup family (SimHash byte bands, MinHash LSH
    bands — r6 verdict #2: candidate work inside clone buckets grows
    quadratically in members, so a duplicate-heavy shard pays unbounded
    verification; with a cap it is bounded by cap²/2 per bucket and the
    degradation is OBSERVABLE, never silent).

    With ``return_members=True`` the overflow keeps every MEMBER ROW of
    each oversized bucket (all input columns + ``bucket_size``) instead
    of one distinct row per bucket — the input :func:`snm_chain_pairs`
    needs to recover candidates from the routed-out buckets at
    O(bucket×window) instead of dropping them (r8 RECALL_CURVE.json:
    bucket-drop at cap 64 lost 26% of flagged docs on Zipf clone data
    because whole clone clusters live in oversized buckets).

    Shape: ONE window count on the same key the self-join shuffles on —
    no groupBy+rejoin (that would re-derive the band relation a third
    time; both join sides already recompute it, the certified base
    shape). Recall loss is confined to pairs whose ONLY shared bucket is
    oversized — on real corpora an oversized band bucket is a
    boilerplate/clone cluster better handled by exact dedup upstream (or
    recovered via the sorted-neighborhood pass)."""
    w = Window.partitionBy(*key_cols)
    sized = bands.withColumn("_bucket_size", F.count("*").over(w))
    oversized = sized.filter(F.col("_bucket_size") > bucket_cap)
    if return_members:
        overflow = oversized.withColumnRenamed("_bucket_size", "bucket_size")
    else:
        overflow = oversized.select(
            *key_cols, F.col("_bucket_size").alias("bucket_size")
        ).distinct()
    within = sized.filter(F.col("_bucket_size") <= bucket_cap).drop("_bucket_size")
    return within, overflow


def snm_chain_pairs(
    members: DataFrame,
    key_cols: list[str],
    id_col: str,
    order_cols: list[str],
    window: int,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernandez & Stolfo 1995, the
    merge/purge sorted-neighborhood method) over bucket MEMBER rows: each
    bucket's rows sort by ``order_cols`` (+ ``id_col`` tiebreak) and every
    row pairs with its next ``window - 1`` successors — O(bucket×window)
    candidates instead of the self-join's O(bucket²). The recovery path
    for buckets :func:`cap_band_buckets` routes out of a banded self-join:
    clone-cluster members are near-identical, so a sort on the fingerprint
    value places true pairs adjacently and a small window recovers most of
    what bucket-drop loses (measured on the Zipf clone corpus —
    RECALL_CURVE.json).

    Returns one row per candidate with struct columns ``a`` and ``b``
    (each carrying every non-key input column, id included), oriented so
    ``a.<id_col> < b.<id_col>``; the same pair found in several buckets
    or at several chain offsets collapses via distinct. Verification
    (Hamming, Jaccard, cosine — whatever the family uses) stays the
    caller's job, exactly as with self-join candidates."""
    if window < 2:
        raise ValueError(f"snm_chain_pairs: window must be >= 2, got {window}")
    value_cols = [c for c in members.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c) for c in order_cols], F.col(id_col)
    )
    row = F.struct(*[F.col(c) for c in value_cols])
    # Window exprs first, generator second: Spark rejects window functions
    # inside a Generate operator's child expressions.
    led = members.select(
        row.alias("_x"),
        *[F.lead(row, j).over(w).alias(f"_n{j}") for j in range(1, window)],
    )
    neighbors = F.array(*[F.col(f"_n{j}") for j in range(1, window)])
    chained = (
        led.select("_x", F.explode(neighbors).alias("_y"))
        .filter(F.col("_y").isNotNull())
        .filter(F.col(f"_x.{id_col}") != F.col(f"_y.{id_col}"))
    )
    a_first = F.col(f"_x.{id_col}") < F.col(f"_y.{id_col}")
    return chained.select(
        F.when(a_first, F.col("_x")).otherwise(F.col("_y")).alias("a"),
        F.when(a_first, F.col("_y")).otherwise(F.col("_x")).alias("b"),
    ).distinct()


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
    return_overflow: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """MinHash+LSH near-duplicate pairs, verified by exact shingle Jaccard.

    shingle → minhash → band → bucket self-join → exact-verify:
      1. signatures + band keys per doc;
      2. explode bands, self-join on (band_idx, band_key) with id_a < id_b —
         moves ONLY (id, band key), never document content;
      3. distinct candidate pairs; shingle sets are built ONLY for docs that
         appear in a candidate pair (semi-join prune), then exact Jaccard
         keeps pairs >= threshold.
    With (16,2) parameters — 8 bands of 2 — recall is 1-(1-j²)⁸: ≈1-8e-9
    at j=0.95, ≈1-2e-3 at the j=0.8 threshold edge. The defaults were
    raised from (8,2) after the 10× certification caught a real j=0.95
    pair missed by 4 bands (P≈9e-5 per pair — expected once per ~10k
    pairs, observed once at sf1); doubling the bands buys back the tail
    for one extra md5 per shingle row and twice the (id, band_key)
    candidate-join volume, which stays the only thing shuffled.

    ``bucket_cap`` is the duplicate-heavy-shard dial (see
    :func:`cap_band_buckets`); with ``return_overflow=True`` returns
    (pairs, overflow). Default None is the certified uncapped contract.
    """
    banded = band_index(df, id_col, text_col, n_hashes, band_size, shingle_k)
    overflow = None
    if bucket_cap is not None:
        banded, overflow = cap_band_buckets(
            banded, ["band_idx", "band_key"], bucket_cap
        )
    elif return_overflow:
        raise ValueError("return_overflow requires bucket_cap")
    candidates = (
        banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
        .join(
            banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        # NOT cached, deliberately: the static plan shows the candidate
        # subtree repeated per consumer, but Spark's ReusedExchange collapses
        # the identical shuffles at runtime, and AQE's runtime-size broadcast
        # decisions survive. Caching here was measured SLOWER (9 s vs 5.6 s
        # at sf0.1 for the clusters consumer): an InMemoryRelation blocks
        # AQE inside and below it, degrading the sets joins to sort-merge.
    )
    pairs = verify_candidates(df, candidates, id_col, text_col, shingle_k, threshold)
    if return_overflow:
        return pairs, overflow
    return pairs


def verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-Jaccard verification of (id_a, id_b) candidate pairs: shingle
    sets are built ONLY for docs appearing in a candidate (semi-join prune
    against ``df``, the content source)."""
    cand_ids = (
        candidates.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
        .distinct()
    )
    sets = shingle_sets(
        df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, shingle_k
    )
    jac = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double") / F.size(
        F.array_union(F.col("sh_a"), F.col("sh_b"))
    )
    verified = (
        candidates.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .withColumn("jaccard", jac)
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_pairs_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    band_store: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
    return_overflow: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental near-dup detection: dedup a NEW batch against an already
    indexed corpus without recomputing corpus signatures.

    ``bucket_cap`` (see :func:`cap_band_buckets`) bounds the probe against
    a store bucket that a duplicate-heavy corpus has blown up — the cap
    applies to the UNION of store and batch bands, so a bucket's total
    population decides, exactly as in the batch path. With
    ``return_overflow=True`` the return gains a third element — the
    skipped-bucket relation — because capped degradation must stay
    observable in the incremental path too, not just the batch one.

    ``band_store`` holds (id, band_idx, band_key) for previously indexed
    docs (built by :func:`band_index`, persisted with io.merge_by_key).
    Per batch:
      1. index only the new docs (cost ∝ batch);
      2. candidates = new bands ⋈ (store ∪ new bands) on (band_idx,
         band_key) — only pairs touching a new doc are generated, and only
         band-key ints move (at scale, partition the store by band_key so
         the probe prunes);
      3. exact-Jaccard verify reads content for candidate ids only
         (point-lookup against ``corpus``).
    Returns (pairs, new_band_rows); the caller merges new_band_rows into
    the store — the same batch-cost-not-corpus-cost contract as the
    partition-pruned merge sink. Deterministic banding makes the result
    EXACTLY the full-batch pairs restricted to pairs touching a new doc
    (property-tested)."""
    bands_new = band_index(new_docs, id_col, text_col, n_hashes, band_size, shingle_k)
    all_bands = band_store.select(id_col, "band_idx", "band_key").unionByName(bands_new)
    overflow = None
    if bucket_cap is not None:
        # Capping the store∪batch side is sufficient: an oversized bucket
        # loses its right-side rows, so the probe join emits nothing for
        # it — no second filter needed on the batch side.
        all_bands, overflow = cap_band_buckets(
            all_bands, ["band_idx", "band_key"], bucket_cap
        )
    elif return_overflow:
        raise ValueError("return_overflow requires bucket_cap")
    left = bands_new.select(F.col(id_col).alias("_id_n"), "band_idx", "band_key")
    right = all_bands.select(F.col(id_col).alias("_id_o"), "band_idx", "band_key")
    candidates = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("_id_n") != F.col("_id_o"))
        .select(
            F.least("_id_n", "_id_o").alias("id_a"),
            F.greatest("_id_n", "_id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = verify_candidates(corpus, candidates, id_col, text_col, shingle_k, threshold)
    if return_overflow:
        return pairs, bands_new, overflow
    return pairs, bands_new


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr shape,
    re-expressed relationally): every maximal token span covered by n-grams
    that occur in >= min_docs distinct documents.

    Plan shape (the suffix-array-free 100 TB formulation):
      1. position_ngrams builds position-stamped n-grams without a
         shuffle: explode(sequence) over gram start positions, reading the
         n tokens with element_at in the same codegen stage.
      2. Grams shuffle ONCE on a 128-bit key: two independently-seeded
         xxhash64 longs (16 bytes instead of the ~n*avg_token gram text;
         jointly collision-free at any realistic corpus — a single 64-bit
         key would start colliding near 2^32 distinct grams). Measured at
         10x bench scale this is ~30% faster than an md5-hex-string key
         (the hash is cheaper and the shuffled key drops from a 32-char
         string to two longs). The key construction is invisible to the result — dup
         detection only needs key equality ⇔ gram equality — so the SQL
         oracle keys on md5 and still agrees.
      3. The duplicated-key set semi-joins back to positions (AQE
         broadcasts it when the dup set is small, as in a mostly-clean
         corpus).
      4. Overlapping/adjacent hits merge into maximal spans with the
         gaps-and-islands running sum, partitioned per document.
    Returns (id, span_start, span_end) in 0-based token positions, both
    inclusive.
    """
    grams = position_ngrams(df, id_col, text_col, n)
    dup_keys = (
        grams.groupBy("_k1", "_k2")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_k1", "_k2")
    )
    hits = grams.join(dup_keys, ["_k1", "_k2"], "left_semi").select(id_col, "pos")
    return _merge_hit_spans(hits, id_col, n)


def position_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """(id, pos, _k1, _k2): position-stamped n-grams under the two-longs
    128-bit key (see duplicate_ngram_spans). Zero-shuffle (r11): explode a
    0..size−n position sequence and read the n adjacent tokens with
    element_at in the same codegen stage — the shingle_rows shape, with
    the explode index doubling as the 0-based gram position. The previous
    posexplode + Window((n−1) leads) form shuffled AND sorted the whole
    token stream on id before any consumer aggregation — a corpus-sized
    exchange at any scale, paid once per plan branch's window evaluation
    (ReusedExchange shares the shuffle, not the post-shuffle lead/concat
    work). Now the first exchange a consumer sees is its own map-side
    partial aggregate (guide §2.3/§2.4). The token array never crosses a
    stage boundary, so nothing materializes per exploded row.

    The explicit ``id_col IS NOT NULL`` keeps every consumer branch
    textually identical (r10 canonicalization lesson) and is semantics-
    preserving: a NULL-id doc's grams could only reach an output through
    a doc_id equi-join (never matches), countDistinct(id)/min(id) (NULLs
    ignored), or a window keyed on id whose rows die in the same joins."""
    toks = F.split(F.col(text_col), " ")
    base = df.filter((F.size(toks) >= n) & F.col(id_col).isNotNull()).select(
        F.col(id_col), toks.alias("_t")
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("_t"), F.col("pos") + j + 1) for j in range(n)]
    )
    return base.select(
        F.col(id_col),
        "_t",
        F.explode(F.sequence(F.lit(0), F.size("_t") - n)).alias("pos"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.xxhash64(gram).alias("_k1"),
        F.xxhash64(F.lit("g2"), gram).alias("_k2"),
    )


def _merge_hit_spans(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Gaps-and-islands merge of fixed-length-n hit positions into maximal
    (id, span_start, span_end) spans, partitioned per document."""
    wp = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        hits.withColumn("_prev", F.lag("pos").over(wp))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > n), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("_brk").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n - 1)).alias("span_end"),
    ).drop("island")


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """ExactSubstr REMOVAL (Lee et al. 2022 §4.1): rebuild every document's
    text WITHOUT the spans flagged by ``duplicate_ngram_spans`` — the
    transformation a curation pipeline actually writes out, not just the
    report. Returns the input rows plus ``out_col`` (the cleaned text;
    docs with no duplicated span keep their single-space-normalized text).

    Plan: the span derivation's one shuffle, a per-doc span-array rollup
    (only docs WITH duplication produce one — AQE broadcasts the join back
    when duplication is sparse), then ONE JVM higher-order-function pass
    per doc filters uncovered token positions and re-joins them. Spans are
    disjoint and sorted by construction, so the per-token ``exists`` probe
    is O(spans_per_doc) local arithmetic — no Python, no extra shuffle."""
    spans = duplicate_ngram_spans(df, id_col, text_col, n=n, min_docs=min_docs)
    return _apply_span_removal(df, spans, id_col, text_col, out_col)


def remove_duplicate_spans_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    out_col: str = "clean_text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental ExactSubstr removal: clean a NEW batch against an
    already-indexed corpus represented only by its persisted gram store —
    batch cost, not corpus cost (the spans come from
    ``duplicate_ngram_spans_incremental``; the surgery is the same
    one-pass rebuild as ``remove_duplicate_spans``). Returns
    (cleaned_batch, store_delta) — fold the delta with
    ``merge_ngram_stores`` exactly as the spans-incremental path does."""
    spans, delta = duplicate_ngram_spans_incremental(
        new_docs, store, id_col, text_col, n=n
    )
    return _apply_span_removal(new_docs, spans, id_col, text_col, out_col), delta


def _apply_span_removal(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str, out_col: str
) -> DataFrame:
    sp = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"), F.col("span_end").alias("e")
                )
            )
        ).alias("_spans")
    )
    toks = F.split(F.col(text_col), " ")
    idx = F.sequence(F.lit(0), F.size("_t") - F.lit(1))
    kept = F.when(F.col("_spans").isNull(), idx).otherwise(
        F.filter(
            idx,
            lambda i: ~F.exists(
                F.col("_spans"), lambda x: (x["s"] <= i) & (i <= x["e"])
            ),
        )
    )
    clean = F.array_join(
        F.transform(kept, lambda i: F.element_at(F.col("_t"), i + F.lit(1))), " "
    )
    return (
        df.join(sp, id_col, "left")
        .withColumn("_t", toks)
        .withColumn(out_col, clean)
        # size(kept), not size(split(clean)): the two differ on empty
        # results — split("", " ") is [""], so a fully-removed doc (0 kept
        # tokens) and an originally-empty doc (1 empty token) both re-split
        # to size 1. The array length is the truth.
        .withColumn("clean_n_tokens", F.size(kept).cast("bigint"))
        .drop("_t", "_spans")
    )


def ngram_store(df: DataFrame, id_col: str, text_col: str, n: int = 8) -> DataFrame:
    """The persistable gram-store STATE for incremental exact-substring
    dedup: per distinct gram key, the distinct-holder count CAPPED at 2
    (only "one doc" vs "already duplicated" matters downstream — the cap
    keeps the store a fixed-width row regardless of how hot a gram is) and,
    for single-holder grams, that holder's id (so re-processing the same
    document is idempotent rather than self-duplicating)."""
    return (
        position_ngrams(df, id_col, text_col, n)
        .groupBy("_k1", "_k2")
        .agg(
            F.least(F.countDistinct(id_col), F.lit(2)).alias("n_docs"),
            F.min(id_col).alias("solo_id"),
        )
    )


def merge_ngram_stores(store: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a batch's gram-store delta into the persisted store: capped
    counts add (then re-cap), and solo_id survives only while the merged
    count is 1. At scale this is io.merge_by_key on (_k1, _k2) — a
    bucket-pruned rewrite proportional to the batch's key set."""
    s = store.select(
        "_k1", "_k2",
        F.col("n_docs").alias("_ns"), F.col("solo_id").alias("_ss"),
    )
    d = delta.select(
        "_k1", "_k2",
        F.col("n_docs").alias("_nd"), F.col("solo_id").alias("_sd"),
    )
    both = s.join(d, ["_k1", "_k2"], "full_outer")
    ns, nd = F.coalesce(F.col("_ns"), F.lit(0)), F.coalesce(F.col("_nd"), F.lit(0))
    # Disjoint-id assumption only matters when both sides are solo with the
    # SAME holder (a re-ingested doc): that stays count 1.
    same_solo = (ns == 1) & (nd == 1) & (F.col("_ss") == F.col("_sd"))
    merged_n = F.when(same_solo, F.lit(1)).otherwise(F.least(ns + nd, F.lit(2)))
    return both.select(
        "_k1", "_k2",
        merged_n.alias("n_docs"),
        F.when(merged_n == 1, F.coalesce(F.col("_ss"), F.col("_sd")))
        .otherwise(F.least(F.col("_ss"), F.col("_sd")))
        .alias("solo_id"),
    )


def duplicate_ngram_spans_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact-substring dedup: duplicated spans of a NEW batch
    against an already-indexed corpus, at batch cost.

    A new doc's position is duplicated iff its gram is held by >= 2 distinct
    documents across corpus ∪ batch:
      - the store says n_docs >= 2 (corpus already duplicated it), or
      - the store says n_docs == 1 by a DIFFERENT holder (the new doc is
        the second), or
      - >= 2 distinct batch docs carry it (batch-internal duplication).
    Only the batch is tokenized; the store probe is an equi-join on the
    16-byte gram key (at scale: store partitioned by key bucket, probe
    prunes). Returns (spans, store_delta); callers fold the delta in with
    :func:`merge_ngram_stores`. With disjoint doc ids this returns EXACTLY
    the full-corpus duplicate_ngram_spans restricted to batch docs
    (property-tested), and re-processing an already-indexed doc is
    idempotent thanks to the solo_id guard."""
    grams = position_ngrams(new_docs, id_col, text_col, n)
    batch_stats = grams.groupBy("_k1", "_k2").agg(
        F.countDistinct(id_col).alias("_bn")
    )
    st = store.select(
        "_k1", "_k2", F.col("n_docs").alias("_sn"), F.col("solo_id").alias("_sid")
    )
    hits = (
        grams.join(batch_stats, ["_k1", "_k2"])
        .join(st, ["_k1", "_k2"], "left")
        .filter(
            (F.col("_sn") >= 2)
            | ((F.col("_sn") == 1) & (F.col("_sid") != F.col(id_col)))
            | (F.col("_bn") >= 2)
        )
        .select(id_col, "pos")
    )
    delta = grams.groupBy("_k1", "_k2").agg(
        F.least(F.countDistinct(id_col), F.lit(2)).alias("n_docs"),
        F.min(id_col).alias("solo_id"),
    )
    return _merge_hit_spans(hits, id_col, n), delta


def segment_rows(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """(id, seg, seg_text, seg_tokens, _h) rows of the disjoint
    ``width``-token segment grid — the segment STORE's row format, shared
    by the batch and incremental paths so hashes are
    construction-identical (the `_chunk_rows` convention). Narrow ops
    only: split / sequence / explode / slice, zero shuffle."""
    toks = F.split(F.col(text_col), " ")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n")
    )
    sliced = F.slice(F.col("_t"), F.col("seg") * width + 1, F.lit(width))
    return (
        base.select(
            id_col,
            "_t",
            F.explode(
                F.sequence(F.lit(0), F.expr(f"(_n + {width - 1}) div {width}") - 1)
            ).alias("seg"),
        )
        .select(
            id_col,
            "seg",
            F.concat_ws(" ", sliced).alias("seg_text"),
            F.size(sliced).alias("seg_tokens"),
        )
        .select(
            id_col, "seg", "seg_text", "seg_tokens", F.md5("seg_text").alias("_h")
        )
    )


def segment_store(
    df: DataFrame, id_col: str, text_col: str, width: int = 16
) -> DataFrame:
    """The persisted segment-dedup store: (_h, _first) — each segment
    md5's FIRST corpus occurrence as a (i, s) = (id, seg) struct. A
    monoid: merging a new batch is min(_first, batch_min) per hash, so
    production appends fold in at batch cost (the gram/band/chunk-store
    contract); bucket by pmod of the hash so probes prune to touched
    buckets."""
    return segment_rows(df, id_col, text_col, width).groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("seg").alias("s"))).alias(
            "_first"
        )
    )


def dedup_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 16,
) -> DataFrame:
    """Corpus-wide SEGMENT dedup (CCNet's paragraph-hash dedup, Wenzek et
    al. 2020 §3.1, on fixed ``width``-token disjoint segments — the
    line/paragraph analog for whitespace-token corpora without newline
    structure): every segment whose exact text appeared EARLIER in the
    corpus (first occurrence = lexicographic min (id, seg) over its md5)
    is dropped; each document's text is rebuilt from its kept segments in
    order. NULL-``text_col`` rows are out of the operator's domain.

    Returns one row per non-NULL-text document: id, ``n_segments``,
    ``removed_segments``, ``clean_n_tokens`` (kept-token count) and
    ``clean_text`` (the rebuilt text — md5 it to certify the surgery).

    Scale shape: segmenting is narrow (split/sequence/explode/slice);
    first-occurrence selection is ONE hash agg (min-struct per segment
    md5, map-side partial) plus ONE equi-join back on the md5 — never a
    corpus-sized window over skewed hash partitions (a boilerplate
    segment shared by millions of documents lands in one window
    partition; the agg+join shape partial-aggregates it) — then ONE
    groupBy(id) rebuild. Three shuffles total, all on natural keys."""
    segs = segment_rows(df, id_col, text_col, width)
    first = segment_store(df, id_col, text_col, width)
    flagged = segs.join(first, "_h").select(
        id_col,
        "seg",
        "seg_text",
        "seg_tokens",
        (
            (F.col("_first.i") == F.col(id_col)) & (F.col("_first.s") == F.col("seg"))
        ).alias("_keep"),
    )
    return _rebuild_from_kept(flagged, id_col)


def _rebuild_from_kept(flagged: DataFrame, id_col: str) -> DataFrame:
    """Shared rebuild tail of the segment-dedup paths: per-doc counts +
    clean_text reassembled from kept segments in order."""
    kept_struct = F.when(
        F.col("_keep"), F.struct(F.col("seg"), F.col("seg_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("removed_segments"),
        F.sum(F.when(F.col("_keep"), F.col("seg_tokens")).otherwise(0))
        .cast("bigint")
        .alias("clean_n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["seg_text"]
            ),
            " ",
        ).alias("clean_text"),
    )


def dedup_segments_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    width: int = 16,
) -> DataFrame:
    """Incremental segment dedup: rewrite ONLY the new batch against the
    persisted :func:`segment_store` without re-segmenting the corpus. A
    batch segment survives iff its (id, seg) equals the min of the
    store's first occurrence and the batch's own first occurrence for
    that hash (`F.least` skips NULLs, so store-unseen hashes fall back to
    the batch min) — exactly the batch slice of :func:`dedup_segments`'
    full-corpus answer, at batch-probe cost: one batch-sized agg + one
    equi-join against the (bucketable) store + the per-doc rebuild."""
    rows = segment_rows(new_docs, id_col, text_col, width)
    batch_min = rows.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("seg").alias("s"))).alias(
            "_bfirst"
        )
    )
    merged = batch_min.join(store, "_h", "left").select(
        "_h", F.least("_first", "_bfirst").alias("_first")
    )
    flagged = rows.join(merged, "_h").select(
        id_col,
        "seg",
        "seg_text",
        "seg_tokens",
        (
            (F.col("_first.i") == F.col(id_col)) & (F.col("_first.s") == F.col("seg"))
        ).alias("_keep"),
    )
    return _rebuild_from_kept(flagged, id_col)
