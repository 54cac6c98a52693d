"""The benchmark's workloads.

Each workload owns its inputs (generated from the seed), a ``setup``
that builds whatever a user would build once (tables, indexes) in the
workload's own directory, an
``iterate`` that runs one timed iteration of user-visible operations, a
``trace`` that runs the same work layer by layer for the per-layer
metrics, and an ``oracle`` that gives the expected outputs from the
repository's DuckDB SQL.

An iteration times each operation through ``ctx.op(kind)`` (``kind``
groups latencies: ``search``, ``upsert`` ...) and hands each output to
``ctx.record(key, frame)`` for the oracle gate. ``MEASURES`` names the
declared metrics a workload measures, besides the ones every workload
measures: a name, or a layer prefix ending in a dot.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from jaccard_mapreduce_spark import oracles
from jaccard_mapreduce_spark.operators import similarity as S
from jaccard_mapreduce_spark.operators.jaccard import (
    doc_tokens,
    jaccard_pairs,
    jaccard_threshold,
    jaccard_topk,
)
from jaccard_mapreduce_spark.sources.vector_index import (
    build_lsh_index,
    compact_lsh_index,
    delete_from_lsh_index,
    lsh_index_stats,
    search_lsh_index,
    upsert_lsh_index,
)

from perfbench import gen

JACCARD_THRESHOLD = 0.5
JACCARD_K = 5
ANN_K = 10
# jaccard_pairs(strategy="auto") takes the bitmask path when an HLL probe
# (5 % rsd) puts the vocabulary under 2,048 x 1.3 tokens; three standard
# errors above that gate the join path is certain
JOIN_PATH_MIN_VOCAB = int(2048 * 1.3 * 1.15)


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def dir_usage(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            files += name.endswith(".parquet")
    return files, size


def restore(pristine: str, live: str) -> None:
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(pristine, live)


class Workload:
    name = ""
    MEASURES: tuple[str, ...] = ()
    # sizes per --size; "full" is the measured configuration, "tiny" is
    # the smoke test's
    SIZES: dict[str, dict] = {}

    def __init__(self, ctx, size: str, home: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = dict(self.SIZES[size])
        self.rng = np.random.default_rng(ctx.seed)
        self.inputs: dict = {}
        # every file of this set-up lives here
        self.home = home
        os.makedirs(home)

    def path(self, name: str) -> str:
        return os.path.join(self.home, name)


# ---------------------------------------------------------------------------
# jaccard_allpairs
# ---------------------------------------------------------------------------


class JaccardAllPairs(Workload):
    """The paper's query: all-pairs Jaccard on a topic corpus with a small
    planted near-duplicate share. The vocabulary stays above the
    bitmask gate, so ``jaccard_pairs(strategy="auto")`` takes the token
    self-join path; the set-up checks it."""

    name = "jaccard_allpairs"
    MEASURES = ("text.", "jaccard.")
    SIZES = {
        "full": dict(n_docs=2400, tokens_per_doc=30, n_topics=24, vocab_topic=80, vocab_global=1400),
        "tiny": dict(n_docs=200, tokens_per_doc=30, n_topics=4, vocab_topic=800, vocab_global=3000),
    }

    def setup(self):
        self.spec = gen.CorpusSpec(**self.size, dup_share=0.02, dup_edit=0.1)
        pdf = gen.topic_corpus(self.rng, self.spec)
        self.inputs = gen.corpus_properties(pdf, self.spec)
        self.ctx.expect("vocabulary above the join-path gate",
                        self.inputs["vocabulary"] >= JOIN_PATH_MIN_VOCAB, True)
        self.docs_path = write_parquet(pdf, self.path("documents.parquet"))
        self.docs = self.spark.read.parquet(self.docs_path)

    def iterate(self):
        self.spark.catalog.clearCache()
        ctx = self.ctx
        with ctx.iteration():
            pairs = jaccard_pairs(self.docs)
            with ctx.op("threshold"):
                ctx.record("threshold", jaccard_threshold(pairs, JACCARD_THRESHOLD).toPandas())
            with ctx.op("topk"):
                ctx.record("topk", jaccard_topk(pairs, JACCARD_K).toPandas())

    def trace(self, spans, extras):
        self.spark.catalog.clearCache()
        tok = doc_tokens(self.docs)
        spans.add("text.tokenize_s", spans.force("text.tokenize", tok))
        pairs = spans.call("jaccard", jaccard_pairs, self.docs)
        pairs_s = spans.force("jaccard.pairs", pairs)
        spans.add("jaccard.pairs_s", pairs_s)
        # top-k re-derives the (unpinned) pair relation: its self time is
        # the prefix difference
        topk_s = spans.force("jaccard.topk", jaccard_topk(pairs, JACCARD_K))
        spans.add("jaccard.topk_s", topk_s - pairs_s)
        if not extras:
            return {}
        kept = jaccard_threshold(pairs, JACCARD_THRESHOLD).count()
        return {
            "text.token_rows": tok.count(),
            "jaccard.pair_votes": self.inputs["pair_votes"],
            "jaccard.pairs": pairs.count(),
            "jaccard.kept": kept,
            "jaccard.kept_ratio": kept / self.inputs["pair_votes"],
        }

    def oracle(self, con):
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{self.docs_path}'")
        return {
            "threshold": con.sql(oracles.jaccard_threshold_sql(JACCARD_THRESHOLD)).df(),
            "topk": con.sql(oracles.jaccard_topk_sql(JACCARD_K)).df(),
        }


# ---------------------------------------------------------------------------
# vector_serve
# ---------------------------------------------------------------------------


class VectorServe(Workload):
    """Serving on a persisted LSH index built in setup: each iteration
    upserts a batch, deletes a batch, compacts the index and searches
    it. Compaction rewrites the files and keeps the tombstones, so the
    search still merges deletes on read. Every iteration starts from a
    pristine copy of the index, restored untimed."""

    name = "vector_serve"
    MEASURES = ("search_s", "upsert_s", "delete_s", "compact_s", "vector_index.", "similarity.")
    DIM = 64
    # index geometry (the library defaults are sized for larger corpora)
    LSH_PLANES, LSH_TABLES = 4, 8
    SIZES = {
        "full": dict(n_base=2000, n_upsert=200, n_delete=100, n_query=40, n_clusters=16),
        "tiny": dict(n_base=300, n_upsert=30, n_delete=20, n_query=10, n_clusters=4),
    }

    def setup(self):
        z = self.size
        centers = gen.unit_centers(self.rng, z["n_clusters"], self.DIM)
        base = gen.clustered_embeddings(self.rng, centers, z["n_base"], 0)
        ups = gen.clustered_embeddings(self.rng, centers, z["n_upsert"], z["n_base"])
        ids = base["vec_id"].to_numpy()
        self.query_ids = gen.pick_ids(self.rng, ids, z["n_query"])
        self.delete_ids = gen.pick_ids(self.rng, ids, z["n_delete"], exclude=self.query_ids)
        self.inputs = {
            "vectors": z["n_base"],
            "dim": self.DIM,
            "clusters": z["n_clusters"],
            "upsert_batch": z["n_upsert"],
            "delete_batch": z["n_delete"],
            "query_batch": z["n_query"],
        }
        # the oracle's embeddings table holds every vector ever stored
        self.all_path = write_parquet(pd.concat([base, ups], ignore_index=True), self.path("embeddings.parquet"))
        spark = self.spark
        base_df = spark.read.parquet(write_parquet(base, self.path("base.parquet")))
        self.upserts = spark.read.parquet(write_parquet(ups, self.path("upserts.parquet")))
        self.queries = spark.read.parquet(
            write_parquet(base[base["vec_id"].isin(self.query_ids)], self.path("queries.parquet"))
        )
        self.deletes = spark.read.parquet(
            write_parquet(pd.DataFrame({"vec_id": self.delete_ids}), self.path("deletes.parquet"))
        )
        self.lsh0, self.lsh = self.path("lsh_pristine"), self.path("lsh")
        build_lsh_index(base_df, self.lsh0, n_planes=self.LSH_PLANES, n_tables=self.LSH_TABLES, dim=self.DIM)

    def _restore(self):
        self.spark.catalog.clearCache()
        restore(self.lsh0, self.lsh)

    def search(self):
        return search_lsh_index(self.spark, self.lsh, self.queries, k=ANN_K)

    def iterate(self):
        ctx, spark = self.ctx, self.spark
        z = self.size
        self._restore()
        with ctx.iteration():
            with ctx.op("upsert"):
                n = upsert_lsh_index(spark, self.lsh, self.upserts)
            ctx.expect("upserted", n, z["n_upsert"])
            with ctx.op("delete"):
                n = delete_from_lsh_index(spark, self.lsh, self.deletes)
            ctx.expect("deleted", n, z["n_delete"])
            with ctx.op("compact"):
                compact_lsh_index(spark, self.lsh)
            with ctx.op("search"):
                ctx.record("compacted", self.search().toPandas())

    def trace(self, spans, extras):
        spark = self.spark
        self._restore()
        spans.timed("vector_index.upsert", upsert_lsh_index, spark, self.lsh, self.upserts)
        spans.timed("vector_index.delete", delete_from_lsh_index, spark, self.lsh, self.deletes)
        counts = {}
        if extras:
            files, size = dir_usage(self.lsh)
            live = self.size["n_base"] + self.size["n_upsert"] - self.size["n_delete"]
            spark.sparkContext.setJobDescription("bench.stats")
            counts = {
                "vector_index.files": files,
                "vector_index.tombstones": lsh_index_stats(spark, self.lsh)["n_tombstones"],
                # index bytes after the mutations ÷ live float64 vector bytes
                "vector_index.space_amp": size / (live * self.DIM * 8),
            }
            spark.sparkContext.setJobDescription(None)
        spans.timed("vector_index.compact", compact_lsh_index, spark, self.lsh)
        layer = "vector_index.lsh_search"
        res = spans.call(layer, self.search)
        spans.add(f"{layer}_s", spans.values[f"{layer}.plan_s"][-1] + spans.force(layer, res))
        spans.add("vector_index.search_plan_s", spans.values[f"{layer}.plan_s"][-1])
        spans.add("vector_index.search_plan_jobs", spans.values[f"{layer}.plan_jobs"][-1])
        return counts

    def oracle(self, con):
        con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{self.all_path}'")
        deleted = ", ".join(str(int(i)) for i in self.delete_ids)
        query = "a.vec_id IN (" + ", ".join(str(int(i)) for i in self.query_ids) + ")"
        # the upserted vectors are live; the deleted ones are not
        vec_ctes = f"""
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id NOT IN ({deleted})),
n AS (SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM v)"""
        tables = S.lsh_tables(self.DIM, self.LSH_PLANES, self.LSH_TABLES)
        sql = oracles.ann_lsh_topk_sql(ANN_K, tables, query_where=query, vec_ctes=vec_ctes)
        return {"compacted": con.sql(sql).df()}


WORKLOADS = {w.name: w for w in (JaccardAllPairs, VectorServe)}
