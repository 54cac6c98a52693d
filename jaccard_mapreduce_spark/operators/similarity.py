"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k is the exact baseline (O(n²·d) — fine to a few
tens of thousands of vectors, and embarrassingly parallel since the
probe side broadcasts). The scale path is random-hyperplane LSH: bucket
vectors by sign-bit signature, search within buckets — candidate
generation is linear and shuffle-friendly (equi-join on the bucket key),
the standard trade of recall for the quadratic blowup. An IVF variant
would swap the hash for k-means cell assignment; same plan shape.

All arithmetic is double-precision with a FIXED accumulation order
(``F.aggregate`` over ``zip_with`` evaluates sequentially by index, and
DuckDB's ``list_dot_product`` matches it bit-for-bit — verified), so
cosine scores are oracle-hash-exact. float32 -> float64 casts and
float32×float32 products are exact in double (24-bit mantissas), so no
precision is lost before accumulation.
"""

from __future__ import annotations

import math
import random
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PLANES = 4
DEFAULT_TABLES = 16
DEFAULT_SEED = 42


def lsh_planes(dim: int, n_planes: int = DEFAULT_PLANES, seed: int = DEFAULT_SEED) -> list[list[float]]:
    """Deterministic random hyperplanes (Gaussian components)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_tables(
    dim: int,
    n_planes: int = DEFAULT_PLANES,
    n_tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
) -> list[list[list[float]]]:
    """Per-table hyperplane sets: table ``t`` draws its planes from
    ``seed + t`` — deterministic, and reproducible one table at a time."""
    return [lsh_planes(dim, n_planes, seed + t) for t in range(n_tables)]


def lsh_params_for(n_vectors: int, target_bucket: int = 64) -> int:
    """Corpus-size-aware plane count: ``ceil(log2(n / target_bucket))``,
    floored at the graded default.

    Sign-bit LSH cost is CORPUS-SIZE-DEPENDENT by construction: with
    ``p`` planes a table has 2^p buckets, so bucket occupancy — and the
    per-table candidate volume, ~n·occupancy — grows linearly in ``n``
    at fixed ``p``. The shipped defaults (4 planes × 16 tables) are
    tuned by the recall audit for the graded corpus size; at 10⁹
    vectors the same recall/cost point needs ~24 planes
    (2²⁴ buckets ≈ 60-vector occupancy), with ``n_tables`` then re-tuned
    from :func:`ann_recall_audit` on a sample — the audit exists
    precisely so this retuning is measured, not guessed. This helper
    encodes the occupancy math; it deliberately does NOT silently
    change ``ann_lsh_topk`` defaults (the oracle pins the plane set)."""
    import math

    if n_vectors <= target_bucket:
        return DEFAULT_PLANES
    return max(DEFAULT_PLANES, math.ceil(math.log2(n_vectors / target_bucket)))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (oracle: list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


DIST_BLOCK_ROWS = 4096


def _resolve_rerank(
    rerank: str,
    allowed: tuple[str, ...],
    estimate: Callable[[], float] | None = None,
    kernel_min_pairs: int | None = None,
) -> str:
    """The one rerank-tier dispatch of the ANN family
    (``ann_lsh_topk``, ``ann_ivf_topk``, ``search_lsh_index``,
    ``search_ivf_index``): validate ``rerank`` against the caller's
    ``allowed`` tiers and return the plan form the caller builds —
    ``"exact_kernel"``, ``"exact_relational"`` or ``"sq8"``. ``auto``
    and ``exact`` name the same tier: every form is bit-identical.

    ``kernel_min_pairs`` is the stored-index searches' gate: a search
    whose ``estimate`` (the caller's occupancy estimate of scored
    candidate pairs, evaluated once; the store's sizes come from
    parquet footers, and only the query batch is counted by a Spark
    job) is at or below it takes the relational plan, whose per-pair
    fold beats the kernel's fixed Arrow overhead at small volumes. The
    one-plan searches pass ``None`` and always run the exact kernel
    without counting anything. The stored-index searches cast the
    batch's and the store's ids to one type before they get here, so
    every form runs in that one type."""
    if rerank not in allowed:
        raise ValueError(
            f"rerank must be one of {'/'.join(allowed)}, got {rerank!r}"
        )
    if rerank == "sq8":
        return "sq8"
    if kernel_min_pairs is None or estimate() > kernel_min_pairs:
        return "exact_kernel"
    return "exact_relational"


def _pair_core():
    """The worker-side pair scoring shared by the fold kernels
    (:func:`_score_bucket_local`, :func:`_score_bipartite_local`,
    :func:`_score_cell_sq8_local`). It is built inside a function so
    that cloudpickle ships it BY VALUE with the kernel closures: the
    kernels run on any worker without the package installed.

    - ``side(rows, t)``: one side's ids, float64 matrix, norms and
      zero-norm mask, plus the signatures of the tables before ``t``
      for the canonical-table ownership check (``None`` in table 0,
      which owns every collision it sees).
    - ``pairs(li, rj)``: LAZY enumeration of ``li × rj``. Chunks of the
      flattened pair index decode with divmod instead of materializing
      O(pairs) index arrays up front — a maximal block pair is
      ~block_rows² ≈ 16.7M pairs, ~400 MB per task as eager int64
      index+keep arrays (round-8 ADVICE). Chunks are L2-sized: the
      fold's ordered passes over the product array thrash cache at
      larger chunks (measured 1.7 s vs 3.7 s per 4M pairs at 4k vs 32k
      rows). Per-pair arithmetic is row-independent, so chunk
      boundaries never change a score.
    - ``cosine(a, b, q, j)``: the SEQUENTIAL-ORDER fold (``acc +=
      p[:, i]`` in index order, from 0.0), so each pair's dot product
      is bit-identical to the interpreted ``_dot`` and to DuckDB's
      ``list_dot_product``. Zero-norm pairs get literal +0.0, the JVM
      ``otherwise(0.0)`` (an inf division would keep the dot's sign
      bit).
    - ``local_topk(qa, na, sa, k)``: the positions of the per-query
      local top-``k`` under the EXACT global tie order (score desc,
      neighbor asc). Every global top-k candidate is in its owning
      group's local top-k, so pruning is invisible to the final
      ranking, and it shrinks the Arrow return from O(pairs) to
      O(queries·k) per group.
    - ``scored(a, b, li, rj, rule, local_k)``: a kernel's output frame
      over ``li × rj``. ``rule`` is the kernel's own self-pair rule;
      ownership, the fold and the local top-k follow."""
    import types

    import numpy as np
    import pandas as pd

    def side(rows, t=0):
        norm = np.sqrt(rows["norm2"].to_numpy().astype("float64"))
        zero = norm == 0
        norm[zero] = np.inf
        # signatures compare as STRINGS: a decimal astype('int64')
        # parse overflows at >= 19 '1'-bits (lsh_params_for emits >= 20
        # planes above ~33M vectors — round-13 ADVICE)
        sig = np.vstack(rows["sigs"].to_numpy())[:, :t] if t > 0 else None
        return types.SimpleNamespace(
            ids=rows["vec_id"].to_numpy(),
            m=np.vstack(rows["vec"].to_numpy()).astype("float64"),
            norm=norm,
            zero=zero,
            sig=sig,
        )

    def pairs(li, rj, chunk=1 << 12):
        n, nr = len(li) * len(rj), len(rj)
        for lo in range(0, n, chunk):
            idx = np.arange(lo, min(lo + chunk, n))
            yield li[idx // nr], rj[idx % nr]

    def cosine(a, b, q, j):
        p = a.m[q] * b.m[j]
        acc = np.zeros(len(p))
        for i in range(p.shape[1]):
            acc += p[:, i]
        s = acc / (a.norm[q] * b.norm[j])
        bad = a.zero[q] | b.zero[j]
        if bad.any():
            s[bad] = 0.0
        return s

    def local_topk(qa, na, sa, k):
        order = np.lexsort((na, -sa, qa))
        qs = qa[order]
        starts = np.r_[0, np.flatnonzero(qs[1:] != qs[:-1]) + 1]
        sizes = np.diff(np.r_[starts, len(qs)])
        ranks = np.arange(len(qs)) - np.repeat(starts, sizes)
        return order[ranks < k]

    def empty():
        return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})

    def scored(a, b, li, rj, rule, local_k):
        parts_q, parts_n, parts_s = [], [], []
        for q, j in pairs(li, rj):
            q, j = rule(q, j)
            if a.sig is not None:
                owned = ~(a.sig[q] == b.sig[j]).any(axis=1)
                q, j = q[owned], j[owned]
            if len(q) == 0:
                continue
            parts_q.append(a.ids[q])
            parts_n.append(b.ids[j])
            parts_s.append(cosine(a, b, q, j))
        if not parts_s:
            return empty()
        qa = np.concatenate(parts_q)
        na = np.concatenate(parts_n)
        sa = np.concatenate(parts_s)
        if local_k is not None and len(qa) > local_k:
            sel = local_topk(qa, na, sa, local_k)
            qa, na, sa = qa[sel], na[sel], sa[sel]
        return pd.DataFrame({"query_id": qa, "neighbor_id": na, "score": sa})

    return types.SimpleNamespace(
        side=side,
        pairs=pairs,
        cosine=cosine,
        local_topk=local_topk,
        empty=empty,
        scored=scored,
    )


def _one_table(df: DataFrame, bucket: Column, *extra) -> DataFrame:
    """The kernel input frame of a scoring without LSH tables: null
    ``sigs`` and table 0 (no ownership check), ``bucket`` as the group
    key, then ``extra`` columns (the bipartite kernel's ``role``)."""
    return df.select(
        "vec_id",
        "vec",
        "norm2",
        F.lit(None).cast("array<bigint>").alias("sigs"),
        F.lit(0).alias("tbl"),
        bucket.alias("bucket"),
        *extra,
    )


def _score_bucket_local(
    sigv: DataFrame,
    id_type: str,
    block_rows: int = DIST_BLOCK_ROWS,
    local_k: int | None = None,
) -> DataFrame:
    """Distributed vectorized scoring for the LSH family and the
    all-pairs kernels: candidates are scored WHERE THEY COLLIDE.

    ``sigv`` is the signature relation with the vectors AND the full
    per-table signature array riding along —
    ``(vec_id, vec, norm2, sigs, tbl, bucket)``, n_tables rows per
    vector (one row per vector with null ``sigs`` and ``tbl`` 0 for the
    all-pairs and cluster-scoped callers, :func:`_one_table`). One
    ``applyInPandas`` per (tbl, bucket) group scores the in-bucket
    ordered pairs with the hash-exact fold of :func:`_pair_core`, so
    scores are bit-identical to the interpreted ``_dot`` plan and the
    DuckDB oracle. Two design points make it scale:

    **Canonical-table ownership.** A pair colliding in several tables
    is scored ONCE, in the lowest table where it collides: the kernel
    checks ``sigs[:t]`` equality between the two rows and skips pairs
    already owned by an earlier table. The first cut of this kernel
    scored every collision and collapsed duplicates with a
    (query, neighbor) max-aggregate afterward — measured 496.7 s at
    the 20k/9-plane probe shape, because a replica-heavy corpus
    co-buckets the same pair in ~all 16 tables, multiplying both the
    scoring flops and (worse) the post-kernel shuffle by n_tables. The
    ownership check is an integer compare per earlier table — ~16×
    cheaper than the dim-64 dot it avoids — and leaves the output
    already distinct, so the dedup aggregate disappears entirely.

    **Hot-bucket block decomposition.** A bucket with more than
    ``block_rows`` members is split into ``ceil(n/block_rows)``
    hash-blocks and one kernel group is created per unordered BLOCK
    PAIR — so no single task ever scores more than ~(2·block_rows)²
    pairs, and a pathological bucket (mirrors, near-duplicates, a
    mistuned plane count) spreads across the cluster instead of
    serializing in one task. The overrides come from a count aggregate
    filtered to hot buckets only, which is broadcast: its size is
    self-limiting (≤ input_rows / block_rows entries, each 3 longs).
    Normal buckets take ``nblk = 1`` and pay nothing.

    Scale shape: the only data-sized shuffles are ``sigv``
    hash-partitioned on (tbl, bucket, block-pair) — n_tables × corpus
    rows, the same expansion a signature equi-join shuffles — and the
    distinct scored pairs flowing into the top-k (which Spark's
    WindowGroupLimit pre-prunes map-side). NO broadcast matrix, NO
    driver collect, no cap."""
    core = _pair_core()

    def score(pdf):
        import numpy as np

        if len(pdf) < 2:
            return core.empty()
        a = core.side(pdf, int(pdf["tbl"].iloc[0]))
        gi = int(pdf["gi"].iloc[0])
        gj = int(pdf["gj"].iloc[0])
        if gi == gj:
            # within one block (or the whole of a normal-sized bucket):
            # all ordered pairs minus the diagonal, by position
            li = rj = np.arange(len(pdf))

            def rule(q, b):
                keep = q != b
                return q[keep], b[keep]

        else:
            # cross-block group of a hot bucket: block gi × block gj,
            # both directions (each ordered pair lands in exactly one
            # unordered block-pair group, so nothing double-scores)
            blk = pdf["blk"].to_numpy()
            li = np.flatnonzero(blk == gi)
            rj = np.flatnonzero(blk == gj)

            def rule(q, b):
                return np.concatenate([q, b]), np.concatenate([b, q])

        return core.scored(a, a, li, rj, rule, local_k)

    schema = f"query_id {id_type}, neighbor_id {id_type}, score double"
    # hot-bucket overrides: the count aggregate prunes to (tbl, bucket)
    # before shuffling (map-side partials of two ints + a long), and the
    # filter keeps only buckets needing decomposition — self-limited to
    # input_rows / block_rows entries, hence always broadcastable
    hot = (
        sigv.groupBy("tbl", "bucket")
        .count()
        .where(F.col("count") > block_rows)
        .withColumnRenamed("count", "n_bucket")
    )
    blocked = (
        sigv.join(F.broadcast(hot), ["tbl", "bucket"], "left")
        .withColumn(
            "nblk",
            F.coalesce(
                F.ceil(F.col("n_bucket") / block_rows), F.lit(1)
            ).cast("int"),
        )
        .withColumn(
            "blk",
            F.pmod(F.xxhash64("vec_id"), F.col("nblk")).cast("int"),
        )
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.col("nblk") - 1)))
        .withColumn("gi", F.least("blk", "j"))
        .withColumn("gj", F.greatest("blk", "j"))
    )
    return blocked.select(
        "vec_id", "vec", "norm2", "sigs", "tbl", "bucket", "blk", "gi", "gj"
    ).groupBy("tbl", "bucket", "gi", "gj").applyInPandas(score, schema)


def _score_bipartite_local(
    sv: DataFrame,
    id_type: str,
    block_rows: int = DIST_BLOCK_ROWS,
    local_k: int | None = None,
) -> DataFrame:
    """The asymmetric form of :func:`_score_bucket_local`, for
    searching a QUERY batch against a STORED corpus or a query slice
    against its corpus: ``sv`` is the role-tagged union of both sides —
    ``(vec_id, vec, norm2, sigs, tbl, bucket, role)`` with ``role``
    ``'q'`` (query) or ``'i'`` (indexed) — and each kernel group scores
    (its q rows) × (its i rows), one direction only, skipping pairs
    whose ids are equal. Canonical-table ownership, the fold and the
    per-query local top-k are the shared :func:`_pair_core`; hot
    buckets decompose on an ASYMMETRIC block grid
    (:func:`_block_bipartite`), so a (q, i) pair lands in exactly one
    group and no task scores more than ~``block_rows``² pairs."""
    core = _pair_core()

    def score(pdf):
        import numpy as np

        qrows = pdf[pdf["role"] == "q"]
        irows = pdf[pdf["role"] == "i"]
        if len(qrows) == 0 or len(irows) == 0:
            return core.empty()
        t = int(pdf["tbl"].iloc[0])
        a, b = core.side(qrows, t), core.side(irows, t)

        def rule(q, j):
            keep = a.ids[q] != b.ids[j]
            return q[keep], j[keep]

        return core.scored(
            a, b, np.arange(len(qrows)), np.arange(len(irows)), rule, local_k
        )

    schema = f"query_id {id_type}, neighbor_id {id_type}, score double"
    blocked = _block_bipartite(sv, block_rows)
    return blocked.select(
        "vec_id", "vec", "norm2", "sigs", "tbl", "bucket", "role", "gq", "gi"
    ).groupBy("tbl", "bucket", "gq", "gi").applyInPandas(score, schema)


def _block_bipartite(sv: DataFrame, block_rows: int) -> DataFrame:
    """Shared asymmetric hot-group block decomposition for the
    bipartite kernels (:func:`_score_bipartite_local`,
    :func:`_score_cell_sq8_local`): adds ``(gq, gi)`` group
    coordinates to a role-tagged ``(tbl, bucket)`` relation so no
    kernel task scores more than ~``block_rows``² pairs."""
    # per-side hot counts; overrides broadcast, self-limited as in the
    # symmetric kernel
    hot = (
        sv.groupBy("tbl", "bucket")
        .agg(
            F.sum(F.when(F.col("role") == "q", 1).otherwise(0)).alias("nq"),
            F.sum(F.when(F.col("role") == "i", 1).otherwise(0)).alias("ni"),
        )
        .where((F.col("nq") > block_rows) | (F.col("ni") > block_rows))
    )
    # greatest(.., 1): a bucket hot on ONE side with zero rows on the
    # other (possible — the i side is semi-join pruned upstream) would
    # give nblk = ceil(0/block_rows) = 0, and F.sequence(0, nblk-1) =
    # sequence(0, -1) generates a DESCENDING [0, -1] rather than an
    # empty array, duplicating the hot side's rows into phantom groups
    # (harmless output — the groups have no opposite side — but wasted
    # shuffle and kernel invocations). Clamping also keeps the pmod
    # block assignment away from a zero modulus.
    nblk_q = F.greatest(
        F.coalesce(F.ceil(F.col("nq") / block_rows), F.lit(1)), F.lit(1)
    ).cast("int")
    nblk_i = F.greatest(
        F.coalesce(F.ceil(F.col("ni") / block_rows), F.lit(1)), F.lit(1)
    ).cast("int")
    is_q = F.col("role") == "q"
    return (
        sv.join(F.broadcast(hot), ["tbl", "bucket"], "left")
        .withColumn("nblk_self", F.when(is_q, nblk_q).otherwise(nblk_i))
        .withColumn("nblk_other", F.when(is_q, nblk_i).otherwise(nblk_q))
        .withColumn(
            "blk",
            F.pmod(F.xxhash64("vec_id"), F.col("nblk_self")).cast("int"),
        )
        .withColumn(
            "j", F.explode(F.sequence(F.lit(0), F.col("nblk_other") - 1))
        )
        .withColumn("gq", F.when(is_q, F.col("blk")).otherwise(F.col("j")))
        .withColumn("gi", F.when(is_q, F.col("j")).otherwise(F.col("blk")))
    )


def _score_cell_sq8_local(
    sv: DataFrame,
    id_type: str,
    local_k: int | None = None,
    block_rows: int = DIST_BLOCK_ROWS,
    with_exact: bool = False,
) -> DataFrame:
    """Cell-local SQ8 rerank kernel (optimization round 12) — the
    quantized-space form of :func:`_score_cell_local`, replacing the
    relational cell join's per-pair interpreted integer fold
    (:func:`_sq8_pair_score`) with a vectorized kernel that is
    HASH-exact by construction: the only pair-level reduction is the
    integer code dot product (order-free — int64 sums are exact in any
    order), and the float factors are combined elementwise in the
    pinned parenthesization the DuckDB oracle reproduces.

    ``sv`` is the role-tagged union (role 'q' probes, role 'i' cell
    residents, ``tbl`` 0, ``bucket`` = cell id) carrying the
    :func:`_sq8_enrich` columns ``scale, zp, qs, qsum, d, qnorm2``.
    With ``with_exact`` the rows also carry ``vec, norm2`` and the
    kernel emits BOTH scores per pair — ``(query_id, neighbor_id,
    score_exact, score_sq8)`` — computing the exact score with the
    shared fold of :func:`_pair_core` (bit-identical to ``_dot``); the
    local top-``local_k`` prune then keeps the UNION of the per-query
    local top-k under each score, so both downstream global top-k
    windows are preserved exactly (any pair in a global top-k is in its
    group's local top-k under that score)."""
    core = _pair_core()

    def score(pdf):
        import numpy as np
        import pandas as pd

        cols = {"query_id": [], "neighbor_id": [], "score_sq8": []}
        if with_exact:
            cols["score_exact"] = []
        empty = pd.DataFrame(cols)
        qrows = pdf[pdf["role"] == "q"]
        irows = pdf[pdf["role"] == "i"]
        if len(qrows) == 0 or len(irows) == 0:
            return empty

        def mat(sl):
            out = {
                "ids": sl["vec_id"].to_numpy(),
                "qs": np.vstack(sl["qs"].to_numpy()).astype("int64"),
                "sc": sl["scale"].to_numpy(dtype="float64"),
                "zp": sl["zp"].to_numpy(dtype="float64"),
                # integer sums cast exactly to double (|Σq| < 2^53)
                "qsum": sl["qsum"].to_numpy().astype("float64"),
                "d": sl["d"].to_numpy(dtype="float64"),
            }
            qn2 = sl["qnorm2"].to_numpy(dtype="float64")
            ok = qn2 > 0  # the _cosine guard (reconstructed norms can
            # cancel to ~0 or slightly negative in float)
            out["sqn"] = np.sqrt(np.where(ok, qn2, 1.0))
            out["qzero"] = ~ok
            return out

        A = mat(qrows)
        B = mat(irows)
        if with_exact:
            xa, xb = core.side(qrows), core.side(irows)
        parts = {k2: [] for k2 in cols}
        for q, b in core.pairs(np.arange(len(qrows)), np.arange(len(irows))):
            keep = A["ids"][q] != B["ids"][b]
            q, b = q[keep], b[keep]
            if len(q) == 0:
                continue
            s1 = (A["qs"][q] * B["qs"][b]).sum(axis=1).astype("float64")
            sa, sb = A["sc"][q], B["sc"][b]
            za, zb = A["zp"][q], B["zp"][b]
            dot = ((sa * sb) * s1 + (sa * zb) * A["qsum"][q]) + (
                (sb * za) * B["qsum"][b] + A["d"][q] * (za * zb)
            )
            s8 = dot / (A["sqn"][q] * B["sqn"][b])
            bad = A["qzero"][q] | B["qzero"][b]
            if bad.any():
                s8[bad] = 0.0
            parts["query_id"].append(A["ids"][q])
            parts["neighbor_id"].append(B["ids"][b])
            parts["score_sq8"].append(s8)
            if with_exact:
                parts["score_exact"].append(core.cosine(xa, xb, q, b))
        if not parts["score_sq8"]:
            return empty
        out = {k2: np.concatenate(v) for k2, v in parts.items()}
        if local_k is not None and len(out["query_id"]) > local_k:
            qa, na = out["query_id"], out["neighbor_id"]
            sel = core.local_topk(qa, na, out["score_sq8"], local_k)
            if with_exact:
                sel = np.union1d(
                    sel, core.local_topk(qa, na, out["score_exact"], local_k)
                )
            out = {k2: v[sel] for k2, v in out.items()}
        return pd.DataFrame(out)

    extra = ", score_exact double" if with_exact else ""
    schema = (
        f"query_id {id_type}, neighbor_id {id_type}, "
        f"score_sq8 double{extra}"
    )
    payload = ["vec_id", "scale", "zp", "qs", "qsum", "d", "qnorm2"]
    if with_exact:
        payload += ["vec", "norm2"]
    blocked = _block_bipartite(sv, block_rows)
    return blocked.select(
        *payload, "tbl", "bucket", "role", "gq", "gi"
    ).groupBy("tbl", "bucket", "gq", "gi").applyInPandas(score, schema)


def _score_cell_local(
    assigned: DataFrame,
    id_type: str,
    local_k: int | None = None,
    block_rows: int = DIST_BLOCK_ROWS,
) -> DataFrame:
    """The IVF form of :func:`_score_bucket_local`: score (every
    probing query) × (the cell's resident vectors), cell-locally. No
    ownership check or post-dedup is needed — the index side is
    single-cell, so a query meets a neighbor at most once (the same
    argument ``ann_ivf_topk`` makes for skipping its pair dedup).

    Implemented as a thin adapter over :func:`_score_bipartite_local`
    (:func:`_one_table` frame, the cell id as the bucket): ``assigned``
    in the one-plan form — ``(vec_id, vec, norm2, cell_id, crank)`` —
    is split into the role-tagged union the bipartite kernel expects
    (every assignment row probes as ``'q'``; the ``crank == 1`` slice
    additionally rides as ``'i'``, ≈ 1/n_probe extra rows), while a
    caller that already role-tags (the stored-index search) passes
    through unchanged. Sharing the kernel buys the IVF family the
    asymmetric hot-group block decomposition for free:
    ``ivf_params_for`` keeps WELL-TUNED cells near 32 residents, but
    the public API accepts any stored codebook, and a mistuned
    ``n_cells`` (or a corpus-scale probing batch) can concentrate one
    cell — it decomposes into ≤ ``block_rows``² blocks like any hot
    LSH bucket (round-8 ADVICE, medium)."""
    if "role" in assigned.columns:
        sv = assigned
    else:
        qside = assigned.select(
            "vec_id", "vec", "norm2", "cell_id", F.lit("q").alias("role")
        )
        iside = assigned.where(F.col("crank") == 1).select(
            "vec_id", "vec", "norm2", "cell_id", F.lit("i").alias("role")
        )
        sv = qside.unionByName(iside)
    return _score_bipartite_local(
        _one_table(sv, F.col("cell_id"), "role"),
        id_type,
        block_rows=block_rows,
        local_k=local_k,
    )


def vectors(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Normalize schema to ``(vec_id, vec array<double>, norm2 double)``."""
    vec = F.transform(vec_col, lambda x: x.cast("double"))
    return embeddings.select(
        F.col(id_col).alias("vec_id"), vec.alias("vec")
    ).withColumn("norm2", _dot(F.col("vec"), F.col("vec")))


def replicate_embeddings(
    embeddings: DataFrame,
    factor: int = 10,
    id_stride: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic ``factor``× corpus replication — the scale-probe
    fixture (rounds 5–6 ran 10× ANN probes as one-off SCALE.md
    measurements; this makes the replication a graded, regression-
    checked operator). Copy ``r`` of vector ``v`` gets
    ``vec_id + r·id_stride`` and, for ``r > 0``, an integer
    perturbation per coordinate::

        vec[i] += ((vec_id·31 + r·17 + (i+1)·7) mod 5) - 2

    so copies are near the original but not identical (an exact clone
    would make every LSH bucket a trivial dup cluster). The
    perturbation is INTEGER-VALUED, and integer-valued doubles add
    exactly in any engine — the replicated corpus is hash-paritable
    with a DuckDB replica of the same formula (the kmeans-int8
    convention), which is what lets a retuned search over it be graded
    rather than merely timed. Copy 0 is the original corpus verbatim.

    Plan shape: one explode per input row — no shuffle, no driver
    state; at cluster scale replication is a map-side row multiplier."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("embedding"),
    )
    rep = base.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("r"),
    )
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: x
        + (
            (F.col("vec_id") * 31 + F.col("r") * 17 + (i + 1) * 7) % 5 - 2
        ).cast("double"),
    )
    return rep.select(
        (F.col("vec_id") + F.col("r") * id_stride).alias("vec_id"),
        F.when(F.col("r") == 0, F.col("embedding"))
        .otherwise(pert)
        .alias("embedding"),
    )


def _cosine(dot: Column, norm2_a: Column, norm2_b: Column) -> Column:
    return F.when(
        (norm2_a > 0) & (norm2_b > 0),
        dot / (F.sqrt(norm2_a) * F.sqrt(norm2_b)),
    ).otherwise(F.lit(0.0))


def cosine_pairs(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All ordered pairs (a != b) with cosine score — the exact kernel.

    The probe side is broadcast: no shuffle of the big side; at cluster
    scale the left side stays partition-local while each executor scans
    its slice against the broadcast probes.
    """
    v = vectors(embeddings, id_col, vec_col)
    a = v.alias("a")
    b = F.broadcast(v).alias("b")
    dot = _dot(F.col("a.vec"), F.col("b.vec"))
    return (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cosine(dot, F.col("a.norm2"), F.col("b.norm2")).alias("score"),
        )
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


ALLPAIRS_BLOCK_ROWS = 256

# Estimated scored-pair volume BELOW which an exact-tier query slice
# routes to the relational plan instead of the Arrow fold kernel
# (optimization round 13, VERDICT item 1). The two forms are proven
# bit-identical (the round-12/13 equivalence suites), so the gates are
# semantics-free — they only pick who pays: the kernel's ~1.5–2 s
# fixed Python-stage overhead (hot-group aggregate + broadcast +
# explode + Arrow workers), or the relational plan's per-pair
# interpreted fold. The crossover is FAMILY-SPECIFIC because the
# relational plans differ (measured at sf0.1, 3-rep fresh-process
# probes, round-13 notes):
#
# - brute-force slice (broadcast NLJ + fold): ~150k pairs/s effective
#   — 100k pairs 1.3 s vs kernel 1.6 s; 400k 3.0 vs 1.8; 1M 7.0 vs
#   1.6; 4M 21 vs 1.8. Crossover ~150–200k.
# - stored-LSH exact (candidate join + distinct + 2 join-backs +
#   fold): est 100k 1.5 vs 2.2; 1M 3.0–3.5 vs 2.6–3.4; self-search 4M
#   5.6 vs ~4. Crossover ~0.5–1M of the occupancy estimate.
# - stored-IVF exact (codegen'd cell equi-join + inline fold — no
#   distinct, no join-backs): relational ahead through ~1M (1.5 vs
#   2.0 s); kernel ahead at the 2M self-search shape. Crossover ~1.5M.
#
# Each gate sits inside its measured bracket with the graded shapes on
# their round-12-proven sides (hybrid ~40k slices relational; the
# self-search demos >= 2M kernel).
EXACT_KERNEL_MIN_PAIRS = 200_000
LSH_EXACT_KERNEL_MIN_PAIRS = 500_000
IVF_EXACT_KERNEL_MIN_PAIRS = 1_500_000


def exact_slice_topk(
    emb: DataFrame,
    query_pred,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_kernel_pairs: int | None = None,
) -> DataFrame:
    """Exact cosine top-``k`` for a query SLICE of the corpus — the
    shared gated form behind the hybrid vector leg and the recall
    audits' exact baseline.

    Routes by estimated scored-pair volume ``|slice| · |corpus|``
    (one cheap two-count aggregate over the id column — EAGER): small
    slices take the broadcast nested-loop join + interpreted ``_dot``
    fold (whose per-query cost beats the kernel's fixed Arrow
    overhead), large ones the bipartite
    block-grid fold kernel (hash-exact sequential-order scores,
    per-group local top-k). Both forms are bit-identical — verified
    for every hybrid-family graded key in round 12 and pinned by
    tests/test_opt_r13.py — so the gate can never change a result."""
    if min_kernel_pairs is None:
        min_kernel_pairs = EXACT_KERNEL_MIN_PAIRS
    v = vectors(emb, id_col, vec_col)
    id_type = emb.schema[id_col].dataType.simpleString()
    c = (
        emb.select(F.col(id_col).alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(query_pred, 1)).alias("nq"),
        )
        .first()
    )
    if c["nq"] * c["n"] <= min_kernel_pairs:
        # the serving orientation: broadcast the (small) query slice,
        # corpus side stays partition-local; interpreted fold scores
        q = F.broadcast(v.where(query_pred)).alias("a")
        b = v.alias("b")
        dot = _dot(F.col("a.vec"), F.col("b.vec"))
        scored = q.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            _cosine(dot, F.col("a.norm2"), F.col("b.norm2")).alias("score"),
        )
        return _topk(scored, k)

    sv = _one_table(
        v.where(query_pred), F.lit(0), F.lit("q").alias("role")
    ).unionByName(_one_table(v, F.lit(0), F.lit("i").alias("role")))
    return _topk(
        _score_bipartite_local(
            sv, id_type, block_rows=ALLPAIRS_BLOCK_ROWS, local_k=k
        ),
        k,
    )


def cosine_topk(embeddings: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k per vector:
    ``(query_id, neighbor_id, score, rank)``.

    Optimization round 12: runs as ONE all-pairs "bucket" through the
    hash-exact fold block kernel instead of the broadcast
    nested-loop join + 4M interpreted ``_dot`` folds + full-pair
    window. The block grid (``ALLPAIRS_BLOCK_ROWS``-row blocks, one
    group per unordered block pair) spreads the O(n²) scoring across
    the cluster, and the per-group local top-k shrinks the window
    input from O(n²) to O(n·k·blocks). Scores are bit-identical to the
    ``cosine_pairs`` form (sequential-fold arithmetic; verified
    bitwise at sf0.01 and sf0.1 and against the DuckDB oracle), so the
    hash-graded contract is unchanged. ``cosine_pairs`` keeps the
    relational form for full-pair-relation consumers."""
    v = vectors(embeddings, id_col, vec_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return _topk(
        _score_bucket_local(
            _one_table(v, F.lit(0)),
            id_type,
            block_rows=ALLPAIRS_BLOCK_ROWS,
            local_k=k,
        ),
        k,
    )


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature string, e.g. ``'0110...'`` — the bucket key."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def _lsh_signature_expr(vec_sql: str, planes: list[list[float]]) -> str:
    """SQL-string form of :func:`lsh_signature` — the plane literals go
    through ONE F.expr instead of tables×planes×dim F.lit() py4j round
    trips (the kmeans literal-codebook convention; ~0.5 s of driver
    time per query construction at 16×4×64). ``repr()`` + the ``D``
    suffix round-trips every double exactly."""
    bits = ", ".join(
        "CASE WHEN aggregate(zip_with({v}, array({lits}), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END".format(
            v=vec_sql, lits=", ".join(f"{x!r}D" for x in plane)
        )
        for plane in planes
    )
    return f"concat({bits})"


def _lsh_sigs_kernel(v: DataFrame, tables: list[list[list[float]]]) -> DataFrame:
    """Per-vector multi-table signature arrays — ``input columns +
    sigs array<string>`` — computed in one ``mapInPandas`` kernel
    (optimization round 12).

    The former per-plane ``aggregate(zip_with(vec, plane))`` SQL
    expressions evaluate tables×planes interpreted 64-element folds
    per vector (~43 M lambda evaluations for the 6k-vector scale
    probe, the bulk of its wall-clock); the kernel computes the same
    dot products with the sequential-order accumulation (bit-identical
    to the fold — sign decisions, hence buckets, cannot drift) and
    builds the same ``'0'/'1'`` concatenated bucket strings. A vector
    whose width differs from the planes' hashes to the all-'0' bucket,
    exactly like the SQL form (``zip_with`` pads with NULL, the NULL
    sum fails ``>= 0`` in every CASE) — widths are resolved PER ROW
    (round-13: a single odd-width row formerly poisoned its whole
    Arrow batch with a vstack ValueError where the SQL form degraded
    that row alone). A NaN accumulation emits '1' exactly like the SQL
    CASE (Spark orders NaN above every double, so ``NaN >= 0`` is true
    there — numpy's IEEE ``False`` would silently flip the bucket,
    round-13 ADVICE). A NULL element (or a NULL vector) nulls every
    SQL fold, so every CASE takes its ELSE '0' — but Arrow hands a
    NULL element to pandas as NaN, which would bucket '1', so such rows
    are flagged in Spark before the kernel and emit the all-'0'
    signatures. Verified bitwise against the expression form for every
    LSH-family graded query plus the NaN/NULL/ragged fixtures."""
    tbls = [[list(p) for p in planes] for planes in tables]
    zero_sigs = ["0" * len(planes) for planes in tbls]
    flag = "_sigs_null"

    def sigs(batches):
        import numpy as np
        import pandas as pd  # noqa: F401 - worker-side dependency

        P = [np.asarray(t, dtype="float64") for t in tbls]

        def table_bits(V, planes):
            # one table's bucket strings for a uniform-width matrix
            n_p = planes.shape[0]
            bits = np.empty((len(V), n_p), dtype="U1")
            if V.shape[1] != planes.shape[1]:
                bits[:] = "0"
            else:
                for j in range(n_p):
                    acc = np.zeros(len(V))
                    for i in range(planes.shape[1]):
                        acc += V[:, i] * planes[j, i]
                    # Spark CASE: NaN >= 0 is TRUE (NaN sorts above all
                    # doubles); numpy's False would mis-bucket NaN rows
                    bits[:, j] = np.where(
                        np.isnan(acc) | (acc >= 0), "1", "0"
                    )
            return np.ascontiguousarray(bits).view(f"U{n_p}").ravel()

        for pdf in batches:
            if len(pdf) == 0:
                continue
            has_null = pdf.pop(flag).to_numpy(dtype=bool)
            vec_arr = pdf["vec"].to_numpy()
            sig_rows = np.empty(len(vec_arr), dtype=object)
            for pos in np.flatnonzero(has_null):
                sig_rows[pos] = list(zero_sigs)
            ok = np.flatnonzero(~has_null)
            lens = np.fromiter(
                (len(vec_arr[i]) for i in ok), dtype="int64", count=len(ok)
            )
            # group rows by vector width: vstack needs uniform rows, and
            # the SQL form's degrade-to-'0' is a per-ROW decision
            for wdt in np.unique(lens):
                sel = ok[lens == wdt]
                V = np.vstack(vec_arr[sel]).astype("float64")
                per_table = [table_bits(V, planes) for planes in P]
                for pos, row_sigs in zip(sel, zip(*per_table)):
                    sig_rows[pos] = list(row_sigs)
            out = pdf.copy()
            out["sigs"] = sig_rows
            yield out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in v.schema.fields
    )
    has_null = F.coalesce(
        F.exists("vec", lambda x: x.isNull()), F.lit(True)
    )
    return v.withColumn(flag, has_null).mapInPandas(
        sigs, schema=f"{fields}, sigs array<string>"
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_planes: int = DEFAULT_PLANES,
    n_tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: str = "auto",
    block_rows: int = DIST_BLOCK_ROWS,
) -> DataFrame:
    """Approximate cosine top-k: candidates share an LSH bucket in ANY
    of ``n_tables`` independent hash tables (the classic multi-table
    construction), exact rerank over the deduplicated candidate set.

    ``rerank`` accepts ``"auto"`` (the default) and ``"exact"``; both
    run the hash-exact fold kernel, and plan construction is LAZY (no
    Spark job runs until the result is consumed). ``block_rows`` tunes
    the kernel's hot-bucket decomposition threshold (the graded
    ``lsh_dist_skew`` fixture lowers it to force the block-grid path at
    test scale).

    One wide table (many planes) has miss probability ``1-(1-θ/π)^p``
    per neighbor — round-4's audit measured recall 0.045 at 6 planes
    and ~0 at 16 on this corpus. ``L`` narrow tables recover it:
    miss = ``(1-(1-θ/π)^p)^L``, tunable without touching bucket
    selectivity. Defaults (4 planes × 16 tables) are re-derived from
    the measured audit: audited recall 0.844 at sf0.01 vs 0.045 before
    (the offline numpy parameter sweep that chose (4,16) read 0.87)
    (SCALE.md round 5).

    Plan shape: the signature relation is ``n_tables`` rows per vector
    (one explode of the kernel-computed signature array), and pairs
    score in ONE hash shuffle on ``(table, bucket)`` — every pair
    is scored once, in the first table where it collides
    (:func:`_score_bucket_local`), so there is no candidate ``distinct``
    and no vector join-back; nothing data-sized is broadcast.
    """
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    tables = lsh_tables(dim, n_planes, n_tables, seed)
    _resolve_rerank(rerank, ("auto", "exact"))
    # pinned: the kernel's hot-bucket count and its scoring shuffle
    # both read the signature relation built from it
    v = _pin(vectors(embeddings, id_col, vec_col))
    # bucket-local scoring: the vectors AND the full signature array
    # (from the vectorized kernel — bit-identical bucket strings, see
    # _lsh_sigs_kernel) ride the signature explode into the (tbl,
    # bucket) shuffle, and every pair is scored exactly once, in the
    # first table where it collides — the relational plan's
    # distinct-pairs set — with the hash-exact fold (verified bitwise
    # at sf0.01/sf0.1 and vs the DuckDB oracle).
    sigv = _lsh_sigs_kernel(v, tables).select(
        "vec_id",
        "vec",
        "norm2",
        "sigs",
        F.posexplode("sigs").alias("tbl", "bucket"),
    )
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return _topk(
        _score_bucket_local(sigv, id_type, block_rows=block_rows, local_k=k),
        k,
    )


def embedding_duplicates(
    embeddings: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (canonical a < b).

    Optimization round 12: all pairs score in the block-grid fold
    kernel (hash-exact — and exact cosine is bitwise symmetric, so
    keeping the ``query < neighbor`` direction of the kernel's
    directed output is the identical canonical relation)."""
    v = vectors(embeddings, id_col, vec_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    pairs = _score_bucket_local(
        _one_table(v, F.lit(0)), id_type, block_rows=ALLPAIRS_BLOCK_ROWS
    )
    return (
        pairs.where(
            (F.col("query_id") < F.col("neighbor_id"))
            & (F.col("score") >= min_cosine)
        )
        .select(
            F.col("query_id").alias("vec_a"),
            F.col("neighbor_id").alias("vec_b"),
            F.col("score"),
        )
    )


MAX_FAST_INDEX_ROWS = 2_000_000


def cosine_topk_fast(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_index_rows: int = MAX_FAST_INDEX_ROWS,
) -> DataFrame:
    """Vectorized brute-force cosine top-k: the probe matrix is collected
    once (it is the *index* — small by assumption), broadcast to workers,
    and each Arrow batch scores against it with one numpy matmul.

    ~100× faster than the expression-tree kernel at bench scale; float
    accumulation order is numpy's (pairwise), so use the exact kernel
    (``cosine_topk``) when bit-level oracle parity matters.

    The "small index" assumption is ENFORCED: the index is counted before
    collecting, and above ``max_index_rows`` (~1 GB of float64 at dim 64)
    the operator refuses instead of OOMing the driver — route oversized
    corpora to ``ann_lsh_topk`` / ``ann_ivf_topk``, whose candidate
    generation is a bucketed equi-join with no driver-side index at all.
    """
    import numpy as np
    from pyspark.sql import types as T

    spark = embeddings.sparkSession
    n_index = embeddings.count()
    if n_index > max_index_rows:
        raise ValueError(
            f"cosine_topk_fast: index has {n_index} rows > max_index_rows="
            f"{max_index_rows}; collecting it would exhaust driver memory. "
            "Use ann_lsh_topk or ann_ivf_topk for corpora this size (or "
            "raise max_index_rows if the driver genuinely has the memory)."
        )
    pdf = embeddings.select(id_col, vec_col).toPandas()
    index_ids = pdf[id_col].to_numpy()
    index_m = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
    index_norm = np.sqrt((index_m * index_m).sum(axis=1))
    index_norm[index_norm == 0] = np.inf  # zero vectors score 0 everywhere
    bc = spark.sparkContext.broadcast((index_ids, index_m, index_norm))

    def score(batches):
        import pandas as pd

        ids_b, m_b, n_b = bc.value
        for batch in batches:
            q = np.vstack(batch[vec_col].to_numpy()).astype("float64")
            qn = np.sqrt((q * q).sum(axis=1))
            qn[qn == 0] = np.inf
            s = (q @ m_b.T) / (qn[:, None] * n_b[None, :])
            qids = batch[id_col].to_numpy()
            # exclude self-matches
            self_mask = qids[:, None] == ids_b[None, :]
            s[self_mask] = -np.inf
            kk = min(k, s.shape[1] - 1)
            out_q, out_n, out_s, out_r = [], [], [], []
            for row_i in range(s.shape[0]):
                row = s[row_i]
                top = np.argpartition(-row, kk - 1)[:kk] if kk > 0 else []
                order = sorted(top, key=lambda j: (-row[j], ids_b[j]))
                for rank, j in enumerate(order, start=1):
                    if row[j] == -np.inf:
                        continue
                    out_q.append(qids[row_i])
                    out_n.append(ids_b[j])
                    out_s.append(float(row[j]))
                    out_r.append(rank)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "neighbor_id": out_n,
                    "score": out_s,
                    "rank": out_r,
                }
            )

    id_type = embeddings.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ]
    )
    return embeddings.mapInPandas(score, schema=schema)


# Re-derived from the round-6 ivf_recall_audit sweep (docs/SCALE.md):
# recall on this corpus tracks the scanned fraction almost linearly
# (the synthetic embeddings are weakly clustered), but finer codebooks
# still win at a FIXED scan fraction — at probe/cells = 0.50,
# 8/4 → 0.720, 16/8 → 0.737, 32/16 → 0.795, 64/32 → 0.840. Shipped:
# 64 cells / probe 32 — audited recall@10 0.840 (vs the round-5
# 8/3 config's 0.642 at 0.38 scan fraction), matching the LSH tier's
# 0.844. Extra Lloyd iterations measured flat (iters 2 == iters 4 to
# within noise), so training stays at 2.
DEFAULT_IVF_CELLS = 64
DEFAULT_IVF_PROBE = 32
DEFAULT_IVF_ITERS = 2


def ivf_params_for(
    n_vectors: int, candidate_budget: int = 1000, target_cell: int = 32
) -> tuple[int, int]:
    """Corpus-size-aware ``(n_cells, n_probe)`` — the IVF twin of
    :func:`lsh_params_for`, promoting the measured cells-∝-n retune
    discipline (docs/SCALE.md rounds 5–6) from prose to API.

    The 10× probe showed the fixed 64/32 config's 0.50 scan fraction is
    a recall-optimal choice at 2k vectors that does NOT scale: per-query
    rerank work is ``n_probe · n/n_cells`` scored pairs, so holding the
    config while n grows 10× grows per-query cost 10× (the 20k probe
    blew a 10-minute budget). The formula holds per-CELL size roughly
    constant instead (``target_cell``, the finest codebook the sweep
    showed still wins at fixed fraction — 64 cells over 2,000 ≈ 31/cell)
    and spends a fixed per-query ``candidate_budget`` of rerank pairs:

      ``n_cells  = 2^ceil(log2(n / target_cell))``   (cells ∝ n)
      ``n_probe  = clamp(budget · n_cells / n, 1, n_cells)``

    The defaults reproduce the shipped graded config exactly —
    ``ivf_params_for(2000) == (64, 32)`` — so a config DERIVED from the
    corpus size hash-matches the audited sweep point, and at any n the
    per-query rerank volume stays within ``(budget/2, budget]`` until
    the probe caps at a full scan (tiny corpora). Like
    :func:`lsh_params_for` this does not silently resize graded
    defaults; growing ``n_cells`` is a codebook retrain, and
    :func:`ivf_recall_audit` re-measures recall after every resize."""
    import math

    if n_vectors <= target_cell:
        return 1, 1
    n_cells = 2 ** math.ceil(math.log2(n_vectors / target_cell))
    n_probe = max(1, min(n_cells, candidate_budget * n_cells // n_vectors))
    return n_cells, n_probe


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int,
    iters: int = DEFAULT_IVF_ITERS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Trained coarse-quantizer codebook —
    ``(cell_id, cvec array<double>, cnorm2)`` — from the integer-exact
    Lloyd's loop (:func:`kmeans_int8`), so the codebook is
    deterministic and hash-gradeable like everything downstream.

    Round 4 shipped a stand-in codebook (the ``n_cells`` smallest-id
    vectors); the recall audit measured it at 0.44 — training plus the
    round-6 (n_cells, n_probe) retune moves the shipped tier to 0.840
    (SCALE.md rounds 5–6). The k×dim codebook is
    driver-resident (a few KB, the MLlib loop shape) and enters the
    plan as a literal local relation; the vector relation never
    shuffles for it. Centroids are integer centroids of the
    int8-quantized codes used as double coordinates — cosine cell
    assignment only needs the direction, and integer-valued doubles
    dot-product exactly in any accumulation order.
    """
    spark = embeddings.sparkSession
    if dim is None:
        # one-row probe of the (uniform-width) embedding column
        dim = embeddings.select(F.size(vec_col).alias("d")).first()["d"]
    q = _int8_codes(embeddings, id_col, vec_col)
    q.persist()
    try:
        codebook = _train_codebook(q, n_cells, iters, dim)
    finally:
        q.unpersist()
    cents = spark.createDataFrame(
        [(cid, [float(x) for x in cvec]) for cid, cvec in codebook],
        "cell_id bigint, cvec array<double>",
    )
    return cents.withColumn("cnorm2", _dot(F.col("cvec"), F.col("cvec")))


# Above this many cells the codebook is no longer sensibly
# driver-resident and the kernel assignment falls back to the
# relational crossJoin + window plan (the broadcast in that plan has
# the same scale limit, so nothing is lost).
MAX_LOCAL_CODEBOOK = 1 << 16

# Codebooks whose driver-resident form exceeds this ride a Spark
# broadcast variable into the assignment kernel instead of pickled
# closure literals — a literal codebook re-serializes into EVERY task
# binary (~34 MB per task at the 65k-cell cap), a broadcast ships once
# per executor (guide §5; round-13 optimization).
_CODEBOOK_BROADCAST_MIN_BYTES = 1 << 20


def ivf_assign(v: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest cells by cosine
    (deterministic tie-break on cell_id).

    Optimization round 12: the assignment runs as one ``mapInPandas``
    kernel over the vector relation with the (driver-resident, tiny)
    codebook closed over — each batch computes every cell score with
    the sequential-order fold (bit-identical to the former
    ``crossJoin(broadcast) + _dot + row_number`` plan, which evaluated
    n·n_cells interpreted folds and shuffled n·n_cells rows through a
    per-vector rank window) and emits the top ``n_probe`` cells
    directly. Ties on bitwise-equal scores break to the lower cell_id
    via a stable argsort over the cell_id-ordered codebook — the
    window's ``(cscore DESC, cell_id ASC)`` order. Extra input columns
    (e.g. the SQ8 enrichment) pass through untouched, which is what
    lets the SQ8 tiers enrich the n-row vector relation instead of the
    n·n_probe assignment. Falls back to the relational plan above
    ``MAX_LOCAL_CODEBOOK`` cells. Verified bitwise (sf0.01 + sf0.1)
    against the relational plan for every IVF-family graded query.

    EAGER by construction: the codebook is collected at plan-
    construction time (one small Spark job even if the returned frame
    is never executed), so ``centroids`` must be deterministic — a
    non-deterministic centroid plan would be frozen to one sample here
    instead of re-evaluating per consumer (round-13 ADVICE; every
    in-repo caller passes a trained, deterministic codebook). Above
    ``_CODEBOOK_BROADCAST_MIN_BYTES`` the collected codebook ships as
    a Spark broadcast variable instead of a pickled closure literal —
    one copy per executor, not one re-serialization per task binary
    (a 65k-cell × 64-dim codebook is ~34 MB of closure otherwise)."""
    cents_rows = None
    if centroids.isStreaming is False:
        collected = centroids.select(
            "cell_id", "cvec", "cnorm2"
        ).orderBy("cell_id").limit(MAX_LOCAL_CODEBOOK + 1).collect()
        if len(collected) <= MAX_LOCAL_CODEBOOK:
            cents_rows = collected
    if cents_rows is None:
        dot = _dot(F.col("vec"), F.col("cvec"))
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("cscore"), F.asc("cell_id")
        )
        return (
            v.crossJoin(F.broadcast(centroids))
            .withColumn(
                "cscore", _cosine(dot, F.col("norm2"), F.col("cnorm2"))
            )
            .withColumn("crank", F.row_number().over(w))
            .where(F.col("crank") <= n_probe)
            .select(*v.columns, "cell_id", "crank")
        )
    cell_ids = [int(r["cell_id"]) for r in cents_rows]
    cmat = [list(r["cvec"]) for r in cents_rows]
    cnorm = [float(r["cnorm2"]) for r in cents_rows]
    take = min(n_probe, len(cell_ids))
    dim_c = len(cmat[0]) if cmat else 0
    # big codebooks ride a broadcast variable (shipped once per
    # executor); small ones stay closure literals (no broadcast job /
    # bookkeeping for a few-KB codebook)
    bc = None
    local_payload = (cell_ids, cmat, cnorm)
    if len(cell_ids) * (dim_c + 2) * 8 > _CODEBOOK_BROADCAST_MIN_BYTES:
        bc = v.sparkSession.sparkContext.broadcast(local_payload)
        local_payload = None

    def assign(batches):
        import numpy as np
        import pandas as pd

        cell_ids_l, cmat_l, cnorm_l = (
            bc.value if bc is not None else local_payload
        )
        C = np.asarray(cmat_l, dtype="float64")
        cn = np.sqrt(np.asarray(cnorm_l, dtype="float64"))
        c_zero = ~(np.asarray(cnorm_l, dtype="float64") > 0)
        cids = np.asarray(cell_ids_l, dtype="int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            n2 = pdf["norm2"].to_numpy(dtype="float64")
            vn = np.sqrt(n2)
            v_zero = ~(n2 > 0)
            # sequential-order fold per cell: scores bit-identical to
            # the relational plan's interpreted _dot
            S = np.zeros((len(pdf), len(cids)))
            for c in range(len(cids)):
                acc = S[:, c]
                for i in range(C.shape[1]):
                    acc += V[:, i] * C[c, i]
            S /= vn[:, None] * cn[None, :]
            if v_zero.any() or c_zero.any():
                S[v_zero, :] = 0.0
                S[:, c_zero] = 0.0
            # stable argsort on -score: bitwise ties keep codebook
            # order = cell_id ascending (the window's tie-break)
            order = np.argsort(-S, axis=1, kind="stable")[:, :take]
            rep = np.repeat(np.arange(len(pdf)), take)
            out = pdf.iloc[rep].reset_index(drop=True)
            out["cell_id"] = cids[order.ravel()]
            out["crank"] = np.tile(
                np.arange(1, take + 1, dtype="int32"), len(pdf)
            )
            yield out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in v.schema.fields
    )
    return v.mapInPandas(
        assign, schema=f"{fields}, cell_id bigint, crank int"
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = DEFAULT_IVF_CELLS,
    n_probe: int = DEFAULT_IVF_PROBE,
    iters: int = DEFAULT_IVF_ITERS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
    rerank: str = "auto",
) -> DataFrame:
    """IVF approximate top-k: index vectors live in their single nearest
    cell; each query probes its ``n_probe`` nearest cells and reranks
    exactly within them. Candidate generation is an equi-join on
    ``cell_id`` — linear and shuffle-friendly like the LSH variant, with
    recall tunable via ``n_probe`` instead of hash width. The codebook
    is k-means-trained (:func:`ivf_centroids`); defaults re-derived
    from the round-6 :func:`ivf_recall_audit` sweep — 64 cells /
    probe 32, audited recall@10 0.840 at a 0.50 scan fraction (the
    full grid and the recall-vs-fraction finding are in docs/SCALE.md
    round 6).

    ``rerank`` accepts ``"auto"`` (the default) and ``"exact"``; both
    run the hash-exact fold kernel without counting anything.
    """
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    _resolve_rerank(rerank, ("auto", "exact"))
    v = vectors(embeddings, id_col, vec_col)
    # training runs its k-means jobs while the plan is built (the MLlib
    # loop shape); a prebuilt ``cents`` (cell_id, cvec, cnorm2), e.g. a
    # codebook read from a persisted index, skips them. Construction is
    # never fully lazy: ivf_assign collects the codebook either way
    if cents is None:
        cents = ivf_centroids(
            embeddings, n_cells, iters=iters, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )
    # cell-local scoring: ONE applyInPandas per cell over the PINNED
    # assignment relation; no dedup needed since the index side is
    # single-cell; hash-exact fold scores (see ann_lsh_topk). The pin
    # matters: the kernel adapter reads the ONE n_probe assignment
    # twice (query side + crank==1 index side), and unpinned each
    # branch would recompute the assignment (measured ~2.5 s of the
    # 10.6 s at sf0.1).
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return _topk(
        _score_cell_local(
            _pin(ivf_assign(v, cents, n_probe)), id_type, local_k=k
        ),
        k,
    )


def ann_sq8_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = DEFAULT_IVF_CELLS,
    n_probe: int = DEFAULT_IVF_PROBE,
    iters: int = DEFAULT_IVF_ITERS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF search with the rerank run ENTIRELY in int8-quantized space —
    the memory-bandwidth scale path: at 10⁹ vectors the rerank reads
    8× fewer bytes than float64 (the reason production IVF indexes
    store SQ8 codes, not floats), at the price of quantization error
    in the scores.

    Candidate generation is byte-identical to :func:`ann_ivf_topk`
    (same trained codebook, same cell equi-join). The rerank
    reconstructs each dot product from the per-vector
    (scale, zero_point, codes) of :func:`quantize_embeddings`::

        dot(a,b) = (sa·sb)·Σ(qa+128)(qb+128) + (sa·zb)·Σ(qa+128)
                 + (sb·za)·Σ(qb+128) + d·(za·zb)

    The only pair-level fold (Σ(qa+128)(qb+128)) is an INTEGER fold —
    order-free, so it can never ulp-drift — and every float factor is
    a per-vector scalar combined in one pinned expression tree the
    DuckDB oracle reproduces operation-for-operation. Unlike the
    float-cosine tiers, SQ8 SCORES are therefore fully hash-gradeable,
    not just ranks. Norms reconstruct the same way (per-vector
    Σ(q+128) and Σ(q+128)² ride along as precomputed columns), with
    the zero-norm guard matching :func:`_cosine`."""
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    v = vectors(embeddings, id_col, vec_col)
    if cents is None:
        cents = ivf_centroids(
            embeddings, n_cells, iters=iters, dim=dim, id_col=id_col,
            vec_col=vec_col,
        )
    # Attach the quantized columns BEFORE the cell join (an n-sized
    # equi-join), so both sides carry them INTO the join and the score
    # computes inline — the first cut joined the candidate relation
    # back to the quantized relation twice, shuffling ~candidate-count
    # rows of 64-long arrays (measured 18.7 s at sf0.1 vs 5.7 s for the
    # exact tier whose scores compute inline; this shape removes both
    # candidate-scale join-backs). Round 8: the columns are computed IN
    # PLACE on the assignment relation (_sq8_enrich — quantization is a
    # per-row projection of vec), removing the remaining n-sized
    # quantize-relation equi-join too.
    # Optimization round 12: the cell join + per-pair interpreted
    # integer fold is replaced by the cell-local SQ8 kernel
    # (hash-exact by construction — the integer dot is order-free and
    # the float factors combine in the pinned parenthesization);
    # verified bitwise at sf0.01/sf0.1 and vs the DuckDB oracle.
    # Enrichment runs on the n-row VECTOR relation and rides through
    # the assignment kernel, instead of enriching the n·n_probe
    # assignment (quantization is per-vector — measured ~20 s of the
    # old plan's 23.5 s assignment+enrich at sf0.1 was the 64k-row
    # enrichment).
    enriched = _pin(ivf_assign(_sq8_enrich(v), cents, n_probe))
    sv = _sq8_role_union(enriched)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    return _topk(
        _score_cell_sq8_local(sv, id_type, local_k=k)
        .withColumnRenamed("score_sq8", "score"),
        k,
    )


def _sq8_role_union(
    enriched: DataFrame, with_exact: bool = False
) -> DataFrame:
    """Role-tagged (q ∪ i) union of an enriched assignment relation in
    the shape :func:`_score_cell_sq8_local` consumes (tbl 0, bucket =
    cell id); the index side is the ``crank == 1`` slice."""
    cols = ["vec_id", "scale", "zp", "qs", "qsum", "d", "qnorm2"]
    if with_exact:
        cols += ["vec", "norm2"]

    def side(df: DataFrame, role: str) -> DataFrame:
        return df.select(
            *cols,
            F.lit(0).alias("tbl"),
            F.col("cell_id").alias("bucket"),
            F.lit(role).alias("role"),
        )

    return side(enriched, "q").unionByName(
        side(enriched.where(F.col("crank") == 1), "i")
    )


def _sq8_enrich(df: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Append the per-vector SQ8 scoring columns — ``scale, zp, qs,
    qsum, d, qnorm2`` — computed from an ``array<double>`` vector
    column as PURE per-row projections (quantization + integer folds,
    no join, no shuffle). The one authoritative expression set behind
    the SQ8 tiers: :func:`_sq8_vector_cols` wraps it for standalone
    relations, :func:`ann_sq8_topk` / :func:`sq8_rank_audit` apply it
    directly to the assignment relation (round 8 — the former
    quantize-then-join-by-id shape shuffled the corpus a second time
    for columns derivable in place), and the persisted IVF index
    computes the stored codes with it at build/upsert time. The
    quantization expressions mirror :func:`quantize_embeddings`
    operation-for-operation; the reconstructed-norm parenthesization
    is the cross-engine contract with the DuckDB oracle."""
    zero = F.lit(0).cast("long")
    # staged mn/span (optimization round 12) — same reasoning as
    # quantize_embeddings: embedded in the lambda, the interpreted
    # transform re-folded min/max per ELEMENT, which made enriching
    # the n·n_probe assignment ~20 s at sf0.1
    staged = (
        df.withColumn(
            "_ve", F.transform(vec_col, lambda x: x.cast("double"))
        )
        .withColumn("_mn", F.array_min("_ve"))
        .withColumn("_span", F.array_max("_ve") - F.col("_mn"))
    )
    q = F.transform(
        "_ve",
        lambda x: (
            F.floor(
                (x - F.col("_mn")) / F.col("_span") * F.lit(255.0)
                + F.lit(0.5)
            )
            - 128
        ).cast("int"),
    )
    zeros = F.transform("_ve", lambda x: F.lit(-128).cast("int"))
    qvec = F.when(F.col("_span") > 0, q).otherwise(zeros)
    return (
        staged.withColumn("scale", F.col("_span") / F.lit(255.0))
        .withColumn("zp", F.col("_mn"))
        .withColumn(
            "qs", F.transform(qvec, lambda x: x.cast("long") + 128)
        )
        .withColumn(
            "qsum", F.aggregate(F.col("qs"), zero, lambda a, x: a + x)
        )
        .withColumn(
            "q2", F.aggregate(F.col("qs"), zero, lambda a, x: a + x * x)
        )
        .withColumn("d", F.size("qs").cast("double"))
        # reconstructed ||x||²: (s·s)·Σq² + ((2s)·z)·Σq + d·(z·z) —
        # parenthesization is the cross-engine contract
        .withColumn(
            "qnorm2",
            (F.col("scale") * F.col("scale")) * F.col("q2")
            + ((F.lit(2.0) * F.col("scale")) * F.col("zp")) * F.col("qsum")
            + F.col("d") * (F.col("zp") * F.col("zp")),
        )
        .drop("q2", "_ve", "_mn", "_span")
    )


def _sq8_vector_cols(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector SQ8 scoring columns — ``(vec_id, scale, zp, qs, qsum,
    d, qnorm2)`` — :func:`_sq8_enrich` over a standalone id+vector
    relation."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("vec"),
    )
    return _sq8_enrich(base, "vec").drop("vec")


def _sq8_pair_score() -> Column:
    """The SQ8 reconstructed-cosine expression over an ``a``/``b``
    aliased self-join carrying :func:`_sq8_vector_cols` columns. The
    only pair-level fold is integer (order-free); the float factors are
    per-vector scalars combined in the pinned parenthesization the
    DuckDB oracle reproduces operation-for-operation."""
    zero = F.lit(0).cast("long")
    s1 = F.aggregate(
        F.zip_with(F.col("a.qs"), F.col("b.qs"), lambda x, y: x * y),
        zero,
        lambda a, x: a + x,
    )
    dot = (
        (F.col("a.scale") * F.col("b.scale")) * s1.cast("double")
        + (F.col("a.scale") * F.col("b.zp")) * F.col("a.qsum").cast("double")
    ) + (
        (F.col("b.scale") * F.col("a.zp")) * F.col("b.qsum").cast("double")
        + F.col("a.d") * (F.col("a.zp") * F.col("b.zp"))
    )
    return _cosine(dot, F.col("a.qnorm2"), F.col("b.qnorm2"))


def sq8_rank_audit(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = DEFAULT_IVF_CELLS,
    n_probe: int = DEFAULT_IVF_PROBE,
    iters: int = DEFAULT_IVF_ITERS,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantization-quality audit — measure, don't assume (the
    ann_recall_audit discipline applied to SQ8): per query,
    ``(query_id, n_exact, n_sq8, n_common)`` where ``n_common`` is the
    overlap between the exact-rerank top-``k`` and the SQ8-rerank
    top-``k`` over the SAME candidate cells (one codebook trains once
    and serves both tiers). A deployment choosing the 8×-cheaper SQ8
    rerank reads this relation to know what the compression costs in
    ranking fidelity ON ITS corpus, instead of trusting a paper
    number. All counts integer — hash-graded.

    Plan shape: the two tiers share their candidate generation exactly
    (same codebook, same cell equi-join), so the audit runs ONE
    enriched cell join that computes BOTH scores inline and feeds two
    top-k windows from the pinned pair relation — the first cut called
    each tier separately and then consumed each result twice (count agg
    + overlap join), paying the assignment, the candidate join, and
    both rerank folds twice over (measured 12.2 s at sf0.1 vs 8–9 s
    fused). Both score expressions are the tiers' own (shared helpers),
    so the graded counts are identical to running the tiers verbatim —
    pinned by ``test_sq8_audit_fused_equals_tiers``."""
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    v = vectors(embeddings, id_col, vec_col)
    cents = ivf_centroids(
        embeddings, n_cells, iters=iters, dim=dim, id_col=id_col,
        vec_col=vec_col,
    )
    # Optimization round 12: ONE cell-local kernel pass computes both
    # scores per pair (exact via the hash-exact sequential fold, SQ8
    # via the order-free integer dot + pinned float combination) and
    # prunes to the union of the per-query local top-k under EACH
    # score — both global top-k windows below see exactly the rows
    # they would have ranked from the full pair relation (any global
    # top-k pair is in its group's local top-k under that score).
    # Replaces the pinned full-pair relational join that evaluated two
    # interpreted folds per candidate pair. Enrichment on the n-row
    # vector relation, riding through the assignment kernel (see
    # ann_sq8_topk).
    enriched = _pin(ivf_assign(_sq8_enrich(v), cents, n_probe))
    sv = _sq8_role_union(enriched, with_exact=True)
    id_type = embeddings.schema[id_col].dataType.simpleString()
    pairs = _pin(
        _score_cell_sq8_local(sv, id_type, local_k=k, with_exact=True)
    )
    ex = _pin(
        _topk(
            pairs.select(
                "query_id",
                "neighbor_id",
                F.col("score_exact").alias("score"),
            ),
            k,
        ).select("query_id", "neighbor_id")
    )
    q8 = _pin(
        _topk(
            pairs.select(
                "query_id",
                "neighbor_id",
                F.col("score_sq8").alias("score"),
            ),
            k,
        ).select("query_id", "neighbor_id")
    )
    n_ex = ex.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_q8 = q8.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_sq8"))
    common = (
        ex.join(q8, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    zero = F.lit(0).cast("long")
    return (
        n_ex.join(n_q8, "query_id")
        .join(common, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            "n_sq8",
            F.coalesce("n_common", zero).alias("n_common"),
        )
    )


def kmeans_int8(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means in int8-quantized space —
    ``(vec_id, cluster, dist)`` after ``iters`` centroid updates.

    Reproducibility is the design driver: float k-means is not
    hash-checkable across engines (sum order changes the last ulp, a
    borderline point flips cluster, everything downstream diverges), so
    the iterative loop runs entirely in INTEGER space:

    - vectors are the int8 codes from :func:`quantize_embeddings`
      (deterministic per-row projection, no data-dependent state);
    - distances are exact integer squared-L2 — a sequential
      ``aggregate(zip_with(...))`` fold of ``(x-y)²`` built as one SQL
      string inside ``with_assignment`` below (the single authoritative
      distance kernel; with int8-range components and 64 dims the max
      is ``64·255² < 2²³``, nowhere near long overflow);
    - centroid update is a per-dimension floored mean, computed as
      ``floor(double(sum)/count)`` — sums of ≤ a few million stay exact
      in double, and ``floor`` matches bit-for-bit across engines
      (unlike integer-division operators, whose negative-operand
      semantics differ between engines);
    - seeding is the ``k`` smallest ids' codes (deterministic), ties on
      distance break to the lower cluster id.

    Scale shape: the codebook (k × dim longs, a few KB) lives on the
    driver and ships into each pass as literals — each iteration is one
    flat argmin projection over the cached codes plus one k-way
    groupBy with map-side partial sums; the vector relation never
    shuffles except by its cluster key. The per-iteration driver
    collect is k×(dim+1) longs — bounded and tiny, the same loop shape
    as Spark MLlib's KMeans. Empty clusters simply drop out of the
    codebook (deterministically in both engines).

    Plays the role of the offline codebook trainer that
    :func:`ivf_centroids` stands in for (reference has no analog; this
    is LLM-pipeline tier — SemDeDup-style clustering,
    arXiv:2303.09540).
    """
    q = _int8_codes(embeddings, id_col, vec_col)
    q.persist()
    try:
        cents = _train_codebook(q, k, iters, dim)
        return _codes_assignment(q, cents).select("vec_id", "cluster", "dist")
    finally:
        q.unpersist()


def _int8_codes(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(vec_id, q array<long>)`` — the int8 codes the integer-exact
    training loop runs on."""
    # Spread the codes before they are persisted for the Lloyd loop: a
    # single-file parquet scan (or an AQE-coalesced upstream) otherwise
    # caches as ONE partition, and every training pass evaluates its
    # k×dim interpreted distance folds on a single task (measured 9.2 s
    # of a 64-cell sf0.1 training at 1 partition vs ~1.5 s spread —
    # the same single-task failure mode the round-6 index-search fix
    # closed). Integer sums are order-free, so the shuffle is
    # semantically invisible.
    spark = embeddings.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return quantize_embeddings(embeddings, id_col=id_col, vec_col=vec_col).repartition(
        n_shuffle, "vec_id"
    ).select(
        "vec_id", F.transform("qvec", lambda x: x.cast("long")).alias("q")
    )


def _codes_assignment(
    q: DataFrame, codebook: list[tuple[int, list[int]]]
) -> DataFrame:
    """Nearest-centroid assignment ``(vec_id, q, cluster, dist)``.

    Optimization round 12: one ``mapInPandas`` kernel with the k×dim
    integer codebook closed over, replacing the literal-array
    projection whose interpreted ``aggregate(zip_with)`` distance fold
    dominated every Lloyd pass (measured: ~8.5 s of a 64-cell sf0.1
    training). All arithmetic is exact int64 (components are int8-range,
    64·255² per term — nowhere near overflow), so any evaluation order
    gives the identical distances the oracle computes; argmin takes the
    FIRST minimum, which with the codebook sorted by cluster id is the
    same lowest-cluster-id tie-break as ``array_position`` on the
    min. Verified bitwise at sf0.01/sf0.1 for every kmeans-family
    graded query."""
    cids_l = [int(cid) for cid, _ in codebook]
    cmat_l = [list(cvec) for _, cvec in codebook]

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat_l, dtype="int64")  # (k, dim)
        cids = np.asarray(cids_l, dtype="int64")
        c2 = (C * C).sum(axis=1)  # (k,)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.vstack(pdf["q"].to_numpy()).astype("int64")
            # ||q - c||² = ||q||² - 2 q·c + ||c||² — exact in int64
            q2 = (Q * Q).sum(axis=1)
            cross = Q @ C.T  # (n, k) int64, exact
            d = q2[:, None] - 2 * cross + c2[None, :]
            amin = d.argmin(axis=1)  # first min → lowest cluster id
            out = pdf[["vec_id", "q"]].copy()
            out["cluster"] = cids[amin]
            out["dist"] = d[np.arange(len(d)), amin]
            yield out

    id_type = q.schema["vec_id"].dataType.simpleString()
    return q.mapInPandas(
        assign,
        schema=(
            f"vec_id {id_type}, q array<bigint>, "
            "cluster bigint, dist bigint"
        ),
    )


def _codes_cluster_partials(
    q: DataFrame, codebook: list[tuple[int, list[int]]]
) -> DataFrame:
    """One Lloyd pass fused into a single kernel: per-partition
    ``(cluster, sums array<bigint>, n)`` partials — nearest-centroid
    assignment AND the per-cluster coordinate sums computed in one
    ``mapInPandas`` over the cached codes (optimization round 12; the
    former pass ran the assignment kernel, then a 64-column
    ``element_at`` hash aggregate, then a shuffle — ~1.5 s per
    iteration of mostly fixed overhead). All arithmetic exact int64,
    so partials combine on the driver in any order."""
    cids_l = [int(cid) for cid, _ in codebook]
    cmat_l = [list(cvec) for _, cvec in codebook]

    def partials(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cmat_l, dtype="int64")
        cids = np.asarray(cids_l, dtype="int64")
        c2 = (C * C).sum(axis=1)
        sums = np.zeros((len(cids), C.shape[1]), dtype="int64")
        counts = np.zeros(len(cids), dtype="int64")
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.vstack(pdf["q"].to_numpy()).astype("int64")
            d = (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T) + c2[None, :]
            amin = d.argmin(axis=1)
            np.add.at(sums, amin, Q)
            counts += np.bincount(amin, minlength=len(cids))
        nz = counts > 0
        if nz.any():
            yield pd.DataFrame(
                {
                    "cluster": cids[nz],
                    "sums": [[int(x) for x in s] for s in sums[nz]],
                    "n": counts[nz],
                }
            )

    return q.mapInPandas(
        partials, schema="cluster bigint, sums array<bigint>, n bigint"
    )


def _train_codebook(
    q: DataFrame, k: int, iters: int, dim: int
) -> list[tuple[int, list[int]]]:
    """Lloyd's loop over a (persisted) code relation; returns the final
    ``[(cluster_id, centroid ints)]`` codebook.

    The codebook is k×dim longs — a few KB. Iterating lazily would
    nest each round's plan inside the next (the final assignment
    would recompute every earlier round once per reference:
    measured 6.8 s at sf0.1); collecting the codebook per round
    keeps every pass a flat projection over the cached codes. This
    bounded driver round-trip per iteration is exactly how Spark
    MLlib's KMeans iterates, and integer sums make the collect
    order irrelevant (exact in any order). Each pass is ONE job over
    the cache — the fused partials kernel (see
    :func:`_codes_cluster_partials`) collects ≤ partitions×k skinny
    rows and the floored means compute on the driver exactly as
    before (same Python ``math.floor(sum / n)`` on exact ints)."""
    cents: list[tuple[int, list[int]]] = [
        (i, row["q"])
        for i, row in enumerate(q.orderBy("vec_id").limit(k).collect())
    ]
    for _ in range(iters):
        acc: dict[int, tuple[list[int], int]] = {}
        for r in _codes_cluster_partials(q, cents).collect():
            cur = acc.get(r["cluster"])
            if cur is None:
                acc[r["cluster"]] = ([int(x) for x in r["sums"]], int(r["n"]))
            else:
                s, n = cur
                for i, x in enumerate(r["sums"]):
                    s[i] += int(x)
                acc[r["cluster"]] = (s, n + int(r["n"]))
        cents = sorted(
            (
                int(cid),
                [int(math.floor(s[i] / n)) for i in range(dim)],
            )
            for cid, (s, n) in acc.items()
        )
    return cents


def semantic_dedup(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    min_cosine: float = 0.3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication —
    ``(vec_id, cluster, keep)``.

    Cluster with :func:`kmeans_int8`, then look for near-duplicates
    ONLY within a cluster: a vector is dropped when a lower-id vector
    in the same cluster has cosine ≥ ``min_cosine`` (exact
    fixed-order float cosine, same parity-safe kernel as the ANN
    tier). The cluster-scoped pair join replaces the O(n²) all-pairs
    probe — the candidate relation is an equi-join on ``cluster``,
    linear per cluster, the same scale shape as the LSH/IVF tiers.

    Mirrors arXiv:2303.09540 (SemDeDup): cluster first so the
    quadratic kernel only ever runs inside a cell.
    """
    from jaccard_mapreduce_spark.operators._cache import pin

    clusters = kmeans_int8(
        embeddings, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cluster")
    # consumed three times (both kernel union sides + the final left
    # join): pin so the scan/normalize/cluster-join subtree runs once
    v = pin(vectors(embeddings, id_col, vec_col).join(clusters, "vec_id"))
    # Optimization round 12: the cluster-scoped pair join's per-pair
    # interpreted fold runs through the cluster-local fold kernel
    # instead (cluster = bucket, hash-exact sequential-order scores).
    # The kernel emits both directions of each pair; exact cosine is
    # bitwise SYMMETRIC (elementwise products commute, accumulation
    # order is the index order either way, the norm product commutes),
    # so filtering to ``neighbor_id < query_id`` afterwards is the
    # identical ``b.vec_id < a.vec_id`` predicate. Verified bitwise at
    # sf0.01/sf0.1.
    id_type = embeddings.schema[id_col].dataType.simpleString()
    scored = _score_bucket_local(
        _one_table(v, F.col("cluster")),
        id_type,
        block_rows=ALLPAIRS_BLOCK_ROWS,
    )
    dup_of_smaller = (
        scored.where(
            (F.col("score") >= F.lit(min_cosine))
            & (F.col("neighbor_id") < F.col("query_id"))
        )
        .select(F.col("query_id").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        v.join(dup_of_smaller, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def kmeans_label_purity(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Ground-truth audit of the k-means clustering —
    ``(cluster, n_vectors, majority_label, n_majority)`` per cluster:
    how concentrated each :func:`kmeans_int8` cell is on its dominant
    ground-truth label (the testdata embeddings carry one). The
    codebook-quality twin of the recall audits: semantic dedup and IVF
    both scope work to cells, so cell/label alignment is the number
    that says whether the trained codebook respects the data's actual
    structure — measured, not assumed.

    All integers (counts; majority tie breaks to the LOWER label id in
    both engines), so the relation is hash-exact by construction. Plan:
    the assignment projection joined to the (id, label) slice, one
    (cluster, label) hash agg, then a per-cluster argmax over the
    ≤ k×|labels| count relation.
    """
    clusters = kmeans_int8(
        embeddings, k=k, iters=iters, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("vec_id", "cluster")
    labels = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(label_col).alias("label")
    )
    counts = (
        clusters.join(labels, "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "n_vectors", F.sum("n").over(Window.partitionBy("cluster"))
        )
        .where(F.col("_rk") == 1)
        .select(
            "cluster",
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization — the storage/transfer
    compression step of a vector index at 100 TB (4x smaller than
    float32, 8x than float64; recall loss is bounded by per-vector
    min/max scaling).

    ``q_i = floor((x_i - mn) / (mx - mn) * 255 + 0.5) - 128`` with
    ``scale = (mx - mn) / 255`` and ``zero_point = mn``, so
    ``x_i ≈ (q_i + 128) * scale + zero_point``. Constant vectors
    (mx == mn) quantize to all -128 with scale 0. The rounding is an
    explicit ``floor(x + 0.5)`` — identical IEEE double ops in Spark and
    DuckDB, unlike engine round() whose tie behavior differs.

    Pure per-row array projection: no shuffle, whole plan codegen.
    Returns ``(vec_id, scale, zero_point, qvec array<int>)``.
    """
    # Optimization round 12: mn/span are STAGED as columns instead of
    # being embedded in the per-element lambda — interpreted
    # higher-order functions re-evaluate embedded subexpressions PER
    # ELEMENT, so the inlined form folded array_min/array_max over a
    # freshly-cast array 64 times per row (measured 1.13 s vs 0.15 s
    # per sf0.1 pass; values bit-identical — same math, computed once
    # per row).
    staged = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_mn", F.array_min("_v")).withColumn(
        "_span", F.array_max("_v") - F.col("_mn")
    )
    q = F.transform(
        "_v",
        lambda x: (
            F.floor(
                (x - F.col("_mn")) / F.col("_span") * F.lit(255.0)
                + F.lit(0.5)
            )
            - 128
        ).cast("int"),
    )
    zeros = F.transform("_v", lambda x: F.lit(-128).cast("int"))
    return staged.select(
        "vec_id",
        (F.col("_span") / F.lit(255.0)).alias("scale"),
        F.col("_mn").alias("zero_point"),
        F.when(F.col("_span") > 0, q).otherwise(zeros).alias("qvec"),
    )


def ann_recall_audit(
    embeddings: DataFrame,
    k: int = 10,
    n_planes: int = DEFAULT_PLANES,
    n_tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
    dim: int = 64,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall audit of the hyperplane-LSH tier against the exact kernel
    — ``(query_id, n_exact, n_approx, n_hits)`` per query vector, all
    integer counts (engine-exact): ``n_hits`` is how many of the exact
    top-k the LSH tier returned, ``n_approx`` how many candidates it
    produced at all (< k when the query's bucket is small).

    The audit-tier twin of the MinHash accuracy audit
    (:func:`~jaccard_mapreduce_spark.operators.dedup.minhash_error_audit`):
    the relation you read before trusting LSH parameters on a new
    embedding distribution — recall is distribution-dependent, so it
    must be MEASURED on a sample, not assumed from the band math.
    Runs both kernels at sample scale (the exact side is the O(n²)
    baseline, so audit a sample, never the full index) and reduces to
    per-query counts with one join on (query, neighbor).

    Defaults track the SEARCH TIER's defaults — the audit measures
    what ships, not a private configuration. Round-4's audit of the
    old single-table tier measured recall 0.045 (6 planes) / ~0
    (16 planes); the multi-table defaults it motivated measure 0.844
    on this corpus (SCALE.md round 5).
    """
    # deterministic query sample (every sample_mod-th id), ranked
    # against the FULL index: recall needs complete neighborhoods per
    # audited query, not a complete set of audited queries. The query
    # predicate pushes below the rank window and into the pair join's
    # probe side (Catalyst — the window partitions by query_id), so the
    # exact side costs n_sample x n, not n^2: measured 24 s -> ~2.5 s
    # at sf0.1 with sample_mod=10.
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    # pin both sampled top-k relations (tiny: <= k rows per audited
    # query) — each is consumed twice below (count agg + hits join),
    # which would re-run the full scoring kernel per consumer otherwise
    is_sampled = (F.col("query_id") % sample_mod == 0)
    # exact baseline through the SLICED form (round-13, VERDICT item
    # 6): the round-12 all-pairs kernel is opaque to Catalyst, so the
    # sampled-query filter no longer pushed below it and the exact leg
    # scored all n² pairs where O(sample·n) suffices. exact_slice_topk
    # scores only (sampled q) × corpus — bit-identical ranking for the
    # sampled queries (per-query windows are independent, so filtering
    # before or after ranking commutes; pinned by test_opt_r13.py).
    exact = _pin(
        exact_slice_topk(
            embeddings,
            (F.col("vec_id") % sample_mod == 0),
            k,
            id_col=id_col,
            vec_col=vec_col,
        ).select("query_id", "neighbor_id")
    )
    approx = _pin(
        ann_lsh_topk(
            embeddings, k=k, n_planes=n_planes, n_tables=n_tables,
            seed=seed, dim=dim, id_col=id_col, vec_col=vec_col,
        )
        .where(is_sampled)
        .select("query_id", "neighbor_id")
    )
    ex_c = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    ap_c = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = embeddings.select(F.col(id_col).alias("query_id")).where(is_sampled)
    return (
        base.join(ex_c, "query_id", "left")
        .join(ap_c, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_approx", F.lit(0).cast("long")).alias("n_approx"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        )
    )


def ivf_recall_audit(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = DEFAULT_IVF_CELLS,
    n_probe: int = DEFAULT_IVF_PROBE,
    sample_mod: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF twin of :func:`ann_recall_audit` —
    ``(query_id, n_exact, n_approx, n_hits)`` for the coarse-cell tier,
    same sampled-queries/full-index discipline. Together the two audits
    cover both approximate tiers: tune ``n_probe`` (IVF) or the hash
    width (LSH) from MEASURED recall on a sample, never from the
    geometry alone."""
    from jaccard_mapreduce_spark.operators._cache import pin as _pin

    # same twice-consumed shape as ann_recall_audit: pin the sampled
    # top-k relations so the brute-force baseline and the IVF pipeline
    # each evaluate once
    is_sampled = (F.col("query_id") % sample_mod == 0)
    # sliced exact baseline — O(sample·n), not n²; see ann_recall_audit
    exact = _pin(
        exact_slice_topk(
            embeddings,
            (F.col("vec_id") % sample_mod == 0),
            k,
            id_col=id_col,
            vec_col=vec_col,
        ).select("query_id", "neighbor_id")
    )
    approx = _pin(
        ann_ivf_topk(
            embeddings, k=k, n_cells=n_cells, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
        )
        .where(is_sampled)
        .select("query_id", "neighbor_id")
    )
    ex_c = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    ap_c = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = (
        embeddings.select(F.col(id_col).alias("query_id")).where(is_sampled)
    )
    return (
        base.join(ex_c, "query_id", "left")
        .join(ap_c, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_exact", F.lit(0).cast("long")).alias("n_exact"),
            F.coalesce("n_approx", F.lit(0).cast("long")).alias("n_approx"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
        )
    )
