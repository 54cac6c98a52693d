"""All-pairs Jaccard document similarity — the reference's one real query.

Reference pipeline (3 chained MapReduce jobs, DocumentSimilarityDriver.java:29-94):
  Job 1 "DocSizes":          doc -> |unique tokens|
  Job 2 "PairIntersections": word -> co-occurring doc pairs, one vote per shared word
  Job 3 "Jaccard":           sum votes = |A∩B|; J = |A∩B| / (|A|+|B|-|A∩B|)

Here the whole pipeline is ONE lazy DataFrame expression (SURVEY.md §3,
"Spark lifecycle target"): Catalyst fuses the stages, inserts partial
aggregation (the reference's rejected combiner, Reducer:53-63), pushes
filters, and broadcasts the doc-size side (the reference's
DistributedCache HashMap, Reducer:67-88). The corpus is scanned ONCE
(the reference tokenizes it twice, Driver:42,65).

Semantics preserved exactly (SURVEY.md §7.0):
  * tokenization regex + per-doc set dedup (Mapper:80-89)
  * pairs exist only when |A∩B| >= 1 (co-occurrence-driven generation)
  * canonical pair order doc_a < doc_b (Reducer:42-47; string order for
    string ids — "Document10" < "Document2")
  * inner-join size lookup (missing size drops the pair, Reducer:101)
  * divide guard: union == 0 -> 0.0 (Reducer:103-104)

Two physical strategies, chosen adaptively:
  * ``join``   — self-equi-join the inverted index on token and count
    votes per pair. Scales with Σ C(df_t, 2) over tokens t; AQE
    skew-join splitting absorbs hot tokens. The 100 TB path (combined
    with threshold / top-k / MinHash-LSH pruning — all-pairs output is
    inherently quadratic, SURVEY.md §7.3).
  * ``bitmask`` — when the vocabulary is small, encode each document's
    token set as a fixed-width bitmask (array<long>) and score pairs
    with bitwise AND + popcount on a broadcast nested-loop join. No
    token-level shuffle at all; pair generation is embarrassingly
    parallel over the left side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jaccard_mapreduce_spark.functions.text import tokenize_unique
from jaccard_mapreduce_spark.operators._cache import pin as _pin
from jaccard_mapreduce_spark.sources.corpus import read_corpus_text, write_formatted_text

# bitmask strategy limits: masks of <= 32 longs, pair matrix <= ~1.25e9
_BITMASK_MAX_VOCAB = 2048
_BITMASK_MAX_DOCS = 50_000


def doc_tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted-index relation ``(doc_id, token)``, distinct per doc.

    Fuses reference O4 (normalize) + O5 (set dedup) + O6 (explode):
    DocumentSimilarityMapper.java:80-89, 28-31, 51-56.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_unique(text_col)).alias("token"),
    )


def doc_sizes(tokens: DataFrame) -> DataFrame:
    """``|A|`` per document — reference Job 1 (DocSizeReducer, Reducer:15-25)."""
    return tokens.groupBy("doc_id").agg(F.count("*").alias("size"))


def pair_intersections(tokens: DataFrame) -> DataFrame:
    """``|A∩B|`` per co-occurring pair — reference Job 2 + Job 3's sum
    (Reducer:33-48, 91-93), as a self-equi-join on token.

    The ``<`` predicate canonicalizes pairs (each unordered pair once),
    exactly the reference's sorted nested loop (Reducer:42-47).
    """
    a = tokens.alias("a")
    b = tokens.alias("b")
    return (
        a.join(b, "token")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("intersection"))
    )


def jaccard_similarity():
    """The guarded Jaccard column over ``intersection``, ``size_a`` and
    ``size_b``: ``|A∩B| / (|A|+|B|-|A∩B|)``, 0.0 when the union is empty
    (Reducer:103-104). Every token-set scorer projects this one column."""
    union = F.col("size_a") + F.col("size_b") - F.col("intersection")
    return F.when(union > 0, F.col("intersection") / union).otherwise(F.lit(0.0))


def _score(pairs: DataFrame, sizes: DataFrame) -> DataFrame:
    """Join |A|,|B| (broadcast — the DistributedCache analog, Reducer:67-88;
    inner join drops pairs with missing sizes, Reducer:101) and compute
    the guarded Jaccard score (Reducer:103-104)."""
    sa = F.broadcast(sizes).alias("sa")
    sb = F.broadcast(sizes).alias("sb")
    joined = (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"), "inner")
        .join(sb, pairs.doc_b == F.col("sb.doc_id"), "inner")
        .select(
            "doc_a",
            "doc_b",
            "intersection",
            F.col("sa.size").alias("size_a"),
            F.col("sb.size").alias("size_b"),
        )
    )
    return joined.withColumn("similarity", jaccard_similarity())


def jaccard_from_tokens(tokens: DataFrame) -> DataFrame:
    """Scored Jaccard relation from any ``(doc_id, item)`` set relation —
    the same machinery works for word tokens, n-gram shingles (near-dup),
    or any other set representation."""
    tokens = _pin(tokens)  # three consumers: two join sides + sizes
    return _score(pair_intersections(tokens), doc_sizes(tokens))


def token_masks(tokens: DataFrame, vocab_size: int) -> DataFrame:
    """Encode each document's token set as a fixed-width bitmask:
    ``(doc_id, size, mask array<long>)``. Only sensible when the global
    vocabulary is small (strategy-gated by the callers).

    ``vocab_size`` may be an UPPER BOUND (callers may size the mask from
    an inflated sketch estimate to skip an exact-count job); a dense id
    beyond the resulting width raises at runtime rather than silently
    truncating the mask — the fence sits on the vocab relation (one row
    per distinct token), so it costs nothing on the token stream."""
    n_words = (vocab_size + 63) // 64

    # Dense token ids. The vocab is tiny by construction (strategy gate),
    # so a single-partition window over it is safe and cheap.
    vocab = (
        tokens.select("token")
        .distinct()
        .withColumn(
            "tid", F.row_number().over(Window.orderBy("token")) - F.lit(1)
        )
        .withColumn(
            "tid",
            F.when(F.col("tid") < n_words * 64, F.col("tid")).otherwise(
                F.raise_error(
                    F.lit(
                        "token_masks: vocabulary exceeds the sized mask "
                        "width — vocab_size under-estimated"
                    )
                ).cast("int")
            ),
        )
    )

    with_tid = tokens.join(F.broadcast(vocab), "token").select(
        "doc_id",
        (F.col("tid") / 64).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))").alias("bit"),
    )

    # Per-doc mask: OR bits within each 64-bit word, then assemble the
    # fixed-width array (missing words -> 0).
    return (
        with_tid.groupBy("doc_id", "word")
        .agg(F.bit_or("bit").alias("w"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("word"), F.col("w")))
            ).alias("wm"),
            F.sum(F.bit_count("w")).alias("size"),
        )
        .select(
            "doc_id",
            "size",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at("wm", i), F.lit(0).cast("long")
                ),
            ).alias("mask"),
        )
    )


def mask_intersection(mask_a, mask_b, n_words: int):
    """popcount(a AND b) — the engine's one bitmask intersection.

    ``mask_a``/``mask_b`` are equal-width ``array<long>`` masks of
    ``n_words`` words. A one-word mask is passed as its word (``mask[0]``,
    or a mask column already narrowed to it), so scoring stays a plain
    ``bit_count(long & long)`` inside whole-stage codegen (higher-order
    array functions are interpreted per element)."""
    if n_words == 1:
        return F.bit_count(mask_a.bitwiseAND(mask_b)).cast("long")
    return F.aggregate(
        F.zip_with(mask_a, mask_b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")


def _integral_id(df: DataFrame, col: str) -> bool:
    return isinstance(
        df.schema[col].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
    )


# The two gates below size masks by different rules on purpose. The
# all-pairs bitmask path scores n² pairs, and one extra mask word moves it
# off the single-word codegen path, so it pays an exact count and sizes
# masks to the exact vocabulary. The verify path scores only candidate
# pairs, so it sizes masks from the sketch (a few spare zero words cost
# little) and pays an exact count only in the ambiguous band at the cap.


def _allpairs_mask_vocab(tokens: DataFrame, force: bool = False) -> int | None:
    """All-pairs gate, shared by :func:`jaccard_pairs` and the streaming
    frontier: the exact vocabulary size to build bitmasks with, or
    ``None`` for the token join. ``force`` skips the caps (the forced
    ``strategy='bitmask'``).

    Two tiers: an HLL probe (approx_count_distinct — partial-agg sketch,
    no distinct shuffle of the token relation) decides whether the
    bitmask path is even plausible; only then pay the exact count the
    mask width needs — cheap at that point, because the distinct set is
    small after map-side partial aggregation. At 100 TB the common
    outcome is "vocab too big", which costs one narrow pass instead of a
    full distinct shuffle."""
    if not force:
        probe = tokens.agg(
            F.approx_count_distinct("token", rsd=0.05).alias("v"),
            F.approx_count_distinct("doc_id", rsd=0.05).alias("d"),
        ).first()
        # 1.3x headroom over the 5% rsd so a small-vocab input never
        # misses the exact recheck
        if (
            probe["v"] > _BITMASK_MAX_VOCAB * 1.3
            or probe["d"] > _BITMASK_MAX_DOCS * 1.3
        ):
            return None
    stats = tokens.agg(
        F.countDistinct("token").alias("v"),
        F.countDistinct("doc_id").alias("d"),
    ).first()
    if force or (
        stats["v"] <= _BITMASK_MAX_VOCAB and stats["d"] <= _BITMASK_MAX_DOCS
    ):
        return max(int(stats["v"]), 1)
    return None


def _verify_sets(tokens: DataFrame):
    """Verify gate, shared by the MinHash-LSH verify paths
    (``dedup._lsh_scored_pairs``, ``dedup.minhash_error_audit``).

    Returns ``(n_docs, ids_fit_31_bits, sets, intersection)``: the HLL
    doc count inflated 1.3x (~6 sigma at rsd=0.05 — an undercount can't
    sneak past a broadcast gate); whether every doc id fits 31 bits (the
    candidate pair-packing test; the id range is EXACT over the docs
    that can ever appear in a pair, i.e. docs with tokens); the per-doc
    set relation ``(doc_id, size, mask)``; and ``intersection(a, b)``,
    the matching ``|A∩B|`` column for two aliases of ``sets``.

    ONE probe job decides all of it and materializes a pinned
    ``tokens`` as a side effect. The set representation comes from the
    sketch alone when it is decisive (±1.3x): clearly small vocab ->
    bitmasks sized at the INFLATED estimate (an upper bound is fine;
    ``token_masks`` raises loudly if it still under-covered, so wrong
    results are impossible), scored by popcount(AND) — pure codegen,
    ~10x faster than string-array intersection per candidate; clearly
    large -> ``collect_set`` token arrays scored with ``array_intersect``.
    Only the ambiguous band around the cap pays an exact distinct count.
    """
    probe = tokens.agg(
        F.approx_count_distinct("doc_id", rsd=0.05).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.approx_count_distinct("token", rsd=0.05).alias("v"),
    ).first()
    ids_fit = (
        _integral_id(tokens, "doc_id")
        and probe["lo"] is not None
        and probe["lo"] >= 0
        and probe["hi"] < (1 << 31)
    )
    approx_vocab = probe["v"]
    if approx_vocab * 1.3 <= _BITMASK_MAX_VOCAB:
        vocab_size = int(approx_vocab * 1.3)
    elif approx_vocab > _BITMASK_MAX_VOCAB * 1.3:
        vocab_size = _BITMASK_MAX_VOCAB + 1
    else:
        vocab_size = tokens.select("token").distinct().count()
    if vocab_size <= _BITMASK_MAX_VOCAB:
        n_words = (vocab_size + 63) // 64
        sets = token_masks(tokens, max(vocab_size, 1))

        def intersection(a: str, b: str):
            ma, mb = F.col(f"{a}.mask"), F.col(f"{b}.mask")
            if n_words == 1:
                ma, mb = ma[0], mb[0]
            return mask_intersection(ma, mb, n_words)
    else:
        sets = tokens.groupBy("doc_id").agg(
            F.collect_set("token").alias("mask"), F.count("*").alias("size")
        )

        def intersection(a: str, b: str):
            return F.size(
                F.array_intersect(F.col(f"{a}.mask"), F.col(f"{b}.mask"))
            ).cast("long")
    return int(probe["n"] * 1.3), ids_fit, sets, intersection


def _jaccard_pairs_bitmask(tokens: DataFrame, vocab_size: int) -> DataFrame:
    """Small-vocabulary fast path: token set -> bitmask array<long>;
    pair scoring = popcount(AND) on a broadcast nested-loop join.

    Avoids the token-level shuffle entirely: Σ C(df,2) pair-vote rows
    (224M at sf0.1 for the 31-token documents table) never materialize.
    """
    n_words = (vocab_size + 63) // 64
    # pinned: masks feed the repartitioned probe AND the broadcast side
    masks = _pin(token_masks(tokens, vocab_size))
    if n_words == 1:
        # narrowed to a plain long column: every one of the O(n²) pairs
        # scores in whole-stage codegen
        masks = masks.select(
            "doc_id", "size", F.col("mask")[0].alias("mask")
        )
    # spread the probe side to full parallelism: the mask relation is tiny
    # (one row per doc) so AQE coalesces it, but the pair fanout is O(n²)
    n_par = tokens.sparkSession.sparkContext.defaultParallelism
    a = masks.repartition(n_par).alias("a")
    b = F.broadcast(masks).alias("b")
    inter = mask_intersection(F.col("a.mask"), F.col("b.mask"), n_words)
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("intersection"),
            F.col("a.size").alias("size_a"),
            F.col("b.size").alias("size_b"),
        )
        # co-occurring pairs only — reference pairs exist solely via
        # shared-word votes (Reducer:43-48)
        .where(F.col("intersection") >= 1)
        .withColumn("similarity", jaccard_similarity())
    )


def jaccard_pairs(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "auto",
) -> DataFrame:
    """Full Jaccard relation
    ``(doc_a, doc_b, intersection, size_a, size_b, similarity)``.

    ``strategy``: ``'join'`` | ``'bitmask'`` | ``'auto'`` (inspect vocab /
    doc counts and pick; the two are semantically identical — tested).
    """
    if strategy not in ("join", "bitmask", "auto"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # pinned: the token relation feeds both join sides + the size agg
    # (join strategy) or the strategy-gate stats + mask build (bitmask)
    tokens = _pin(doc_tokens(documents, id_col, text_col))
    if strategy != "join":
        vocab_size = _allpairs_mask_vocab(tokens, force=strategy == "bitmask")
        if vocab_size is not None:
            return _jaccard_pairs_bitmask(tokens, vocab_size)
    return jaccard_from_tokens(tokens)


def jaccard_threshold(pairs: DataFrame, min_similarity: float) -> DataFrame:
    """Similarity-threshold filter — the scale-friendly output mode."""
    return pairs.where(F.col("similarity") >= min_similarity)


def jaccard_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k most-similar neighbors per document (both directions of each
    canonical pair), deterministic tie-break on neighbor id.

    Returns ``(doc_id, neighbor_id, similarity, rank)``.
    """
    # symmetrize with ONE pass over the pair relation — a unionAll of two
    # selects would recompute the (expensive) pair subtree twice
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("neighbor_id"),
                ),
            )
        ).alias("e"),
        "similarity",
    ).select("e.doc_id", "e.neighbor_id", "similarity")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("similarity"), F.asc("neighbor_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _line_expr():
    """The reference's output line ``"A, B\\tSimilarity: 0.XX"`` as a
    column expression — single authoritative definition shared by
    :func:`format_output` and :func:`jaccard_formatted`."""
    return F.format_string(
        "%s, %s\tSimilarity: %.2f", "doc_a", "doc_b", F.col("similarity")
    )


def format_output(pairs: DataFrame) -> DataFrame:
    """Reference output formatting: ``"A, B\\tSimilarity: 0.XX"``
    (Reducer:105-107 + TextOutputFormat). ``format_string`` runs Java's
    ``String.format`` — bit-identical HALF_UP tie rounding (SURVEY.md §2 O16).
    """
    return pairs.select("doc_a", "doc_b", _line_expr().alias("line"))


def jaccard_formatted(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strategy: str = "auto",
    n_buckets: int = 1024,
    id_range: tuple[int, int] | None = None,
) -> DataFrame:
    """The reference's user-visible artifact as a graded relation —
    ``(doc_a, doc_b, line, out_pos)`` where ``line`` is the formatted
    output line (O16–O17, Reducer:105-107 + TextOutputFormat) and
    ``out_pos`` the row's position in the global (doc_a, doc_b) order
    (O18 — the single reducer's sorted file, made hash-visible as data).

    ``%.2f`` runs Java's formatter: HALF_UP on the double's shortest
    decimal repr, so exact ``.xx5`` ties round UP (9/200 → "0.05").
    The oracle emulates that in integer arithmetic —
    ``pct = (200·I + U) div (2·U)`` — which equals Java's output for
    every pair: a tie requires ``200·I ≡ 0 (mod U)``, i.e. the rational
    is a terminating 3-decimal ``.xx5`` whose shortest double repr is
    itself; every non-tie rational sits ≥ ``1/(2U)`` from the boundary,
    astronomically beyond double error for any real document size.

    ``out_pos`` is composed scale-safely (the ``global_shuffle``
    recipe): in-bucket ``row_number`` over fixed-width doc_a ranges +
    broadcast cumulative bucket offsets — no data-sized
    single-partition window. Requires integral ids (the documents
    table); the string-id text pipeline keeps its single-reducer sort
    in :func:`run_reference_pipeline`.

    Building the plan runs ONE eager id-range probe for the bucket
    width; pass ``id_range=(lo, hi)`` to keep construction fully lazy
    when the bounds are known (ADVICE r5 — the
    ``ids_fit_31_bits`` convention from ``minhash_lsh_candidates``).
    """
    id_type = documents.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise NotImplementedError(
            "jaccard_formatted needs integral doc ids for the bucketed "
            "global rank; use run_reference_pipeline for string-id corpora"
        )
    if id_range is not None:
        lo, hi = id_range
    else:
        lo, hi = documents.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:  # empty corpus -> empty formatted relation, with the
        # pair columns typed like the input ids (the non-empty branch
        # inherits that type, so the schema must not depend on emptiness)
        spark = documents.sparkSession
        idt = documents.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_a", idt),
                    T.StructField("doc_b", idt),
                    T.StructField("line", T.StringType()),
                    T.StructField("out_pos", T.LongType()),
                ]
            ),
        )
    width = max(1, (int(hi) - int(lo) + n_buckets) // n_buckets)

    pairs = jaccard_pairs(documents, id_col, text_col, strategy)
    # pinned SKINNY: the cached relation carries only the pair key,
    # similarity, and bucket — the formatted string materializes once,
    # in the final projection, instead of being cached for both the
    # bucket-count aggregate and the ranked join (string-heavy cache +
    # string-carrying sort measured ~1.5× slower at sf0.1)
    keyed = _pin(
        pairs.select(
            "doc_a",
            "doc_b",
            "similarity",
            ((F.col("doc_a") - F.lit(int(lo))) / width)
            .cast("long")
            .alias("_bucket"),
        )
    )
    offsets = (
        keyed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            "_off",
            F.sum("_n")
            .over(
                Window.orderBy("_bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .cast("long"),
        )
        .select("_bucket", F.coalesce("_off", F.lit(0)).alias("_off"))
    )
    w = Window.partitionBy("_bucket").orderBy("doc_a", "doc_b")
    return (
        keyed.withColumn("_pos", F.row_number().over(w))
        .join(F.broadcast(offsets), "_bucket")
        .select(
            "doc_a",
            "doc_b",
            _line_expr().alias("line"),
            (F.col("_off") + F.col("_pos")).cast("long").alias("out_pos"),
        )
    )


def run_reference_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """End-to-end reference-parity run: text corpus in, formatted +
    globally sorted lines out (single file, like the reference's one
    reducer). Returns the sorted line DataFrame; writes if a path given.
    """
    corpus = read_corpus_text(spark, input_path)
    pairs = jaccard_pairs(corpus, strategy=strategy)
    # global lexicographic order on the pair key — framework behavior in
    # the reference (single reducer; SURVEY.md §2 O18)
    lines = (
        format_output(pairs)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
        .select("line")
    )
    if output_path is not None:
        write_formatted_text(lines, output_path)
    return lines
