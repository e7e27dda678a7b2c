"""The benchmark's workloads: what each sets up, which ops a pass runs,
and how each op's output is checked.

`search` is a closed-loop stream of single search requests against
in-memory indexes: exact top-k, IVF, BM25, context expansion of hybrid
hits, and MMR. Each touches little data, so plan construction in
Python, py4j and Catalyst set its latency while the executors
idle; construction savings show here and executor-side changes should
not.

`corpus` is batch processing. Each pass runs registry gates from the
dedup, text-quality and clustering families and one ingest cycle on the
persisted ANN and FTS stores:
a micro-batch through both foreachBatch bodies, a search of each live
store, tombstones and a compaction. Executor shuffles, Arrow kernels,
eager jobs and the streaming write path set its time; `search` is its
no-change control. A batch job runs each step once in a fresh
application, so corpus passes are timed without a warm-up pass: the
first-run costs of each gate count, as they do for its users.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.harness import CheckFailed, Op

K = 10
N_LISTS = 16
N_PROBES = 4
QUERY_NOISE = 0.3
QUERY_TERMS = 2
MMR_CANDIDATES, MMR_LAMBDA = 30, 0.7

# registry gates a corpus pass runs: dedup, text quality, clustering and
# taxonomy
CORPUS_GATES = ["winnowing_fingerprints", "suite_term_stats", "transitive_closure"]
INGEST_VECTORS = 100  # vectors per corpus micro-batch
INGEST_DOCS = 250  # documents per corpus micro-batch
DELETE_VECTORS = 10
DELETE_DOCS = 25


class Inputs:
    """The workload's seeded request inputs and the in-process copy of
    the corpus the references are computed from."""

    def __init__(self, data_dir: str, seed: int):
        self.rng = np.random.default_rng(seed)
        emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pandas()
        self.vec_ids = emb["vec_id"].to_numpy()
        if not np.array_equal(self.vec_ids, np.arange(len(self.vec_ids))):
            raise ValueError("embeddings must be stored in vec_id order from 0")
        self.vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pandas()
        self.vocab = sorted({t for text in self.docs["text"] for t in text.lower().split()})

    def query_vec(self) -> list[float]:
        """A stored embedding plus noise, renormalized."""
        base = self.vecs[self.rng.integers(len(self.vecs))]
        q = base + QUERY_NOISE * self.rng.standard_normal(base.shape) / np.sqrt(base.size)
        return [float(x) for x in q / np.linalg.norm(q)]

    def query_terms(self) -> list[str]:
        """QUERY_TERMS distinct terms of the corpus vocabulary. The count
        is fixed because BM25's cost grows with it."""
        return [str(t) for t in self.rng.choice(self.vocab, QUERY_TERMS, replace=False)]


class References:
    """Expected answers, computed in-process (NumPy) or in DuckDB."""

    def __init__(self, inputs: Inputs, data_dir: str):
        self.inputs, self.data_dir = inputs, data_dir
        self._duck = None

    def topk(self, q, keep=None, k: int = K):
        """Exact cosine top-k over the vectors whose ids pass `keep`."""
        mat, ids = self.inputs.vecs, self.inputs.vec_ids
        if keep is not None:
            mask = np.fromiter((keep(int(v)) for v in ids), bool, len(ids))
            mat, ids = mat[mask], ids[mask]
        return checks.exact_topk(mat, ids, q, k)

    def bm25(self, terms: list[str], live_docs=None) -> pd.DataFrame:
        """DuckDB BM25 top-k over all documents, or over `live_docs`."""
        from pdf_brain_spark.operators.fts import duck_bm25_sql

        if self._duck is None:
            self._duck = checks.duck_connect(self.data_dir)
        where = ""
        if live_docs is not None:
            self._duck.register("live_docs", pd.DataFrame({"doc_id": sorted(live_docs)}))
            where = "WHERE doc_id IN (SELECT doc_id FROM live_docs)"
        return self._duck.execute(duck_bm25_sql(terms, k=K, where_clause=where)).df()

    def hybrid(self, q, terms) -> pd.DataFrame:
        from pdf_brain_spark.operators.hybrid import HYBRID_BOOST, HYBRID_CAP

        vids, vscores = self.topk(q)
        bm = self.bm25(terms)
        m = pd.DataFrame({"doc_id": vids.astype(int), "_vs": vscores}).merge(
            pd.DataFrame({"doc_id": bm["doc_id"].astype(int), "_fs": bm["bm25"] / 10.0}), on="doc_id", how="outer")
        both = m["_vs"].notna() & m["_fs"].notna()
        m["score"] = np.where(both, np.minimum(HYBRID_CAP, m["_vs"] * HYBRID_BOOST), m["_vs"].fillna(m["_fs"]))
        m["match_type"] = np.where(both, "hybrid", np.where(m["_vs"].notna(), "vector", "fts"))
        return m.sort_values(["score", "doc_id"], ascending=[False, True]).head(K).reset_index(drop=True)

    def expand(self, doc_ids) -> pd.DataFrame:
        """Each hit's chunk with its neighbours on either side within the
        same source, joined by spaces and cut to 4,000 characters."""
        chunks = self.inputs.docs.sort_values("doc_id").copy()
        chunks["chunk_index"] = chunks.groupby("source").cumcount() + 1
        pos = chunks.set_index("doc_id")
        rows = []
        for doc_id in doc_ids:
            src, idx = pos.loc[int(doc_id), "source"], int(pos.loc[int(doc_id), "chunk_index"])
            near = chunks[(chunks["source"] == src) & chunks["chunk_index"].between(idx - 1, idx + 1)]
            near = near.sort_values("chunk_index")
            rows.append((src, idx, " ".join(near["text"])[:4000],
                         int(near["chunk_index"].min()), int(near["chunk_index"].max())))
        return pd.DataFrame(rows, columns=["source", "chunk_index", "expanded_content",
                                           "expanded_start", "expanded_end"])

    def mmr(self, q) -> list[int]:
        return checks.mmr_reference(self.inputs.vecs, self.inputs.vec_ids, q, K, MMR_CANDIDATES, MMR_LAMBDA)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None


class Stores:
    """The persisted ANN and FTS stores, and the benchmark's own record
    of what is live in them, for the references and the files written."""

    def __init__(self, spark, root: str, centroids, inputs: Inputs, refs: References):
        from pdf_brain_spark.streaming.ann_ingest import make_ann_ingest_batch_fn
        from pdf_brain_spark.streaming.events import fts_docs_dir, make_fts_postings_batch_fn

        self.spark, self.inputs, self.refs, self.centroids = spark, inputs, refs, centroids
        self.ann_dir, self.fts_dir = os.path.join(root, "ann"), os.path.join(root, "fts")
        self.dirs = (self.ann_dir, self.fts_dir, fts_docs_dir(self.fts_dir))
        self.ann_batch = make_ann_ingest_batch_fn(self.ann_dir, centroids)
        self.fts_batch = make_fts_postings_batch_fn(self.fts_dir)
        self.live_vecs: set[int] = set()
        self.live_docs: set[int] = set()
        self.lists = checks.assign_lists(inputs.vecs, centroids)  # vec_id -> IVF list
        self.input_bytes = 0
        self.batch = -1

    def ingest_ops(self, vec_idx: np.ndarray, doc_idx: np.ndarray, cycle: bool) -> list[Op]:
        """One micro-batch through both batch bodies. With `cycle`, then
        a search of each store, tombstones for a seeded sample of live
        rows, and a compaction of everything committed. Input frames and
        the sample are drawn here, before the ops run."""
        from pdf_brain_spark.streaming.ann_ingest import compact_ann_index, delete_vectors
        from pdf_brain_spark.streaming.events import compact_fts_index, delete_fts_documents

        spark, rng = self.spark, self.inputs.rng
        self.batch += 1
        b = self.batch
        vpdf = pd.DataFrame({"vec_id": self.inputs.vec_ids[vec_idx],
                             "embedding": [v.astype(np.float32) for v in self.inputs.vecs[vec_idx]]})
        dpdf = self.inputs.docs.iloc[doc_idx][["doc_id", "text"]].reset_index(drop=True)
        vdf = spark.createDataFrame(vpdf, "vec_id long, embedding array<float>")
        ddf = spark.createDataFrame(dpdf, "doc_id long, text string")
        self.input_bytes += int(vpdf.memory_usage(deep=True).sum() + dpdf.memory_usage(deep=True).sum())
        new_v, new_d = set(map(int, vpdf["vec_id"])), set(map(int, dpdf["doc_id"]))

        def ingest_vecs():
            self.ann_batch(vdf, b)
            self.live_vecs.update(new_v)

        def ingest_docs():
            self.fts_batch(ddf, b)
            self.live_docs.update(new_d)

        ops = [self.write_op("ann_ingest_batch", ingest_vecs, len(vpdf)),
               self.write_op("fts_ingest_batch", ingest_docs, len(dpdf))]
        if not cycle:
            return ops
        dead_v = sorted(int(x) for x in rng.choice(sorted(self.live_vecs | new_v), DELETE_VECTORS, replace=False))
        dead_d = sorted(int(x) for x in rng.choice(sorted(self.live_docs | new_d), DELETE_DOCS, replace=False))
        vdead = spark.createDataFrame([(v,) for v in dead_v], "vec_id long")
        ddead = spark.createDataFrame([(d,) for d in dead_d], "doc_id long")

        def del_vecs():
            delete_vectors(spark, self.ann_dir, vdead, b)
            self.live_vecs.difference_update(dead_v)

        def del_docs():
            delete_fts_documents(spark, self.fts_dir, ddead, b)
            self.live_docs.difference_update(dead_d)

        return ops + [
            self.ivf_search(self.inputs.query_vec(), N_PROBES, "ivf_search_persisted"),
            self.fts_search(self.inputs.query_terms()),
            self.write_op("delete_vectors", del_vecs),
            self.write_op("delete_fts_documents", del_docs),
            self.write_op("compact_ann_index", lambda: compact_ann_index(spark, self.ann_dir, b)),
            self.write_op("compact_fts_index", lambda: compact_fts_index(spark, self.fts_dir, b)),
        ]

    def write_op(self, name: str, fn, rows: int = 0) -> Op:
        """A write into the stores, with the files and bytes it added
        recorded around it."""
        before: dict = {}

        def snapshot():
            before.clear()
            before.update(self.files())

        def added(_result) -> dict:
            new = [size for p, (size, mtime) in self.files().items() if before.get(p) != (size, mtime)]
            return {"files_written": len(new), "bytes_written": sum(new), "rows_ingested": rows}

        return Op(name, "streaming", fn, before=snapshot, after=added)

    def ivf_search(self, q, n_probes: int, name: str) -> Op:
        """IVF top-k over the live ANN store, checked against exact top-k
        over the live vectors in the probed lists."""
        from pdf_brain_spark.streaming.ann_ingest import ivf_search_persisted

        probes = set(checks.probe_lists(self.centroids, q, n_probes))
        seen: dict = {}

        def snapshot():
            seen.update(live=frozenset(self.live_vecs))

        def check(pdf):
            ids, scores = self.refs.topk(q, keep=lambda v: v in seen["live"] and self.lists[v] in probes)
            checks.expect_ranked(pdf["vec_id"], pdf["score"], ids, scores, name)

        return Op(name, "operators",
                  lambda: ivf_search_persisted(self.spark, self.ann_dir, self.centroids, q, k=K, n_probes=n_probes),
                  check=check, before=snapshot, after=lambda pdf: {"results": len(pdf), "store_search": True})

    def fts_search(self, terms: list[str]) -> Op:
        """BM25 top-k served from the live FTS store, checked against
        DuckDB BM25 over the live documents."""
        from pdf_brain_spark.streaming.events import fts_search_persisted

        seen: dict = {}

        def snapshot():
            seen.update(live=frozenset(self.live_docs))

        def check(pdf):
            want = self.refs.bm25(terms, seen["live"])
            checks.expect_ranked(pdf["doc_id"], checks.round6(pdf["bm25"]), want["doc_id"], want["bm25"],
                                 "fts_search_persisted")

        return Op("fts_search_persisted", "operators",
                  lambda: fts_search_persisted(self.spark, self.fts_dir, terms, k=K),
                  check=check, before=snapshot, after=lambda _pdf: {"store_search": True})

    def files(self) -> dict[str, tuple[int, int]]:
        """Every data file under the stores: path -> (bytes, mtime)."""
        out = {}
        for root in self.dirs:
            for d, _, names in os.walk(root):
                for n in names:
                    if n.endswith(".parquet"):
                        st = os.stat(os.path.join(d, n))
                        out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
        return out

    def totals(self) -> dict:
        """Store-level numbers for the trace: live generations and bytes
        on disk per byte of ingested rows."""
        from pdf_brain_spark.streaming.generations import generation_ids, live_generation_ids

        stored = sum(size for size, _ in self.files().values())
        return {
            "streaming.live_generations": sum(len(live_generation_ids(generation_ids(self.spark, d)))
                                              for d in self.dirs),
            "streaming.bytes_stored_per_input_byte": stored / self.input_bytes,
        }


class Search:
    warm_up_passes = 1
    # pass_s is the median pass: with three, neither the first pass (the
    # slowest, as the JIT still warms) nor one slowed by the host sets it
    min_passes = 3

    def __init__(self, spark, data_dir: str, run_dir: str, seed: int):
        self.spark, self.data_dir, self.run_dir = spark, data_dir, run_dir
        self.inputs = Inputs(data_dir, seed)
        self.refs = References(self.inputs, data_dir)

    def setup(self) -> None:
        """Index builds: the IVF index and the chunk table, both
        persisted as parquet."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from pdf_brain_spark.operators.ann import ivf_index
        from pdf_brain_spark.sources.loaders import load_table

        spark = self.spark
        self.emb = load_table(spark, "embeddings", self.data_dir)
        self.docs = load_table(spark, "documents", self.data_dir)
        indexed, self.centroids = ivf_index(self.emb, n_lists=N_LISTS, seed=42)
        indexed.write.parquet(os.path.join(self.run_dir, "ivf"))
        self.ivf_df = spark.read.parquet(os.path.join(self.run_dir, "ivf"))
        w = Window.partitionBy("source").orderBy("doc_id")
        self.docs.select("doc_id", "source", F.col("text").alias("content"),
                         F.row_number().over(w).alias("chunk_index")).write.parquet(
            os.path.join(self.run_dir, "chunks"))
        self.chunks = spark.read.parquet(os.path.join(self.run_dir, "chunks"))
        lists = self.ivf_df.select("vec_id", "list_id").toPandas()
        self.ivf_lists = dict(zip(lists["vec_id"].astype(int), lists["list_id"].astype(int)))

    def passes(self) -> Iterator[list[Op]]:
        """Passes of one request of each type, in seeded order, on fresh
        seeded inputs."""
        while True:
            ops = [self.vector_topk(), self.ivf(N_PROBES, "ivf_search"), self.bm25(), self.expand(), self.mmr()]
            yield [ops[i] for i in self.inputs.rng.permutation(len(ops))]

    def vector_topk(self) -> Op:
        from pdf_brain_spark.operators.vector_search import topk

        q = self.inputs.query_vec()

        def check(pdf):
            ids, scores = self.refs.topk(q)
            checks.expect_ranked(pdf["vec_id"], pdf["score"], ids, scores, "vector_topk")

        return Op("vector_topk", "operators", lambda: topk(self.emb, q, k=K), check=check)

    def ivf(self, n_probes: int, name: str) -> Op:
        from pdf_brain_spark.operators.ann import ivf_search

        q = self.inputs.query_vec()
        probes = set(checks.probe_lists(self.centroids, q, n_probes))

        def check(pdf):
            ids, scores = self.refs.topk(q, keep=lambda v: self.ivf_lists[v] in probes)
            checks.expect_ranked(pdf["vec_id"], pdf["score"], ids, scores, name)

        return Op(name, "operators", lambda: ivf_search(self.ivf_df, self.centroids, q, k=K, n_probes=n_probes),
                  check=check, after=lambda pdf: {"results": len(pdf)})

    def bm25(self) -> Op:
        from pdf_brain_spark.operators.fts import bm25_scores

        terms = self.inputs.query_terms()

        def check(pdf):
            want = self.refs.bm25(terms)
            checks.expect_ranked(pdf["doc_id"], checks.round6(pdf["bm25"]), want["doc_id"], want["bm25"], "bm25")

        return Op("bm25_scores", "operators", lambda: bm25_scores(self.docs, terms, k=K), check=check)

    def _hybrid_df(self, q, terms):
        from pyspark.sql import functions as F

        from pdf_brain_spark.operators.fts import bm25_scores
        from pdf_brain_spark.operators.hybrid import hybrid_merge
        from pdf_brain_spark.operators.vector_search import topk

        # embeddings are keyed 1:1 to documents by id, as in the registry's hybrid gate
        vec = topk(self.emb, q, k=K).select(F.col("vec_id").alias("doc_id"), F.col("score").alias("vec_score"))
        fts = bm25_scores(self.docs, terms, k=K).select("doc_id", (F.col("bm25") / 10.0).alias("fts_score"))
        return hybrid_merge(vec, fts, ["doc_id"], limit=K)

    def expand(self) -> Op:
        """Context expansion of the hybrid (vector plus BM25) hits: one
        request through topk, bm25_scores, hybrid_merge and
        expand_context."""
        from pdf_brain_spark.operators.expand import expand_context

        q, terms = self.inputs.query_vec(), self.inputs.query_terms()

        def construct():
            hits = self._hybrid_df(q, terms).join(self.chunks, "doc_id").select("source", "chunk_index")
            return expand_context(hits, self.chunks, window=1, doc_col="source", content_col="content")

        def check(pdf):
            # the hits are right when their expansions are: every hybrid hit
            # is expanded, and hits in distinct places expand differently
            want = self.refs.expand(self.refs.hybrid(q, terms)["doc_id"])
            keys = ["source", "chunk_index"]
            got = pdf[list(want.columns)].sort_values(keys).reset_index(drop=True)
            want = want.sort_values(keys).reset_index(drop=True)
            if not got.astype(str).equals(want.astype(str)):
                raise CheckFailed("expand_context: expanded windows differ from the reference")

        return Op("expand_context", "operators", construct, check=check)

    def mmr(self) -> Op:
        from pdf_brain_spark.operators.vector_search import mmr_rerank

        q = self.inputs.query_vec()

        def check(pdf):
            checks.expect_ids(pdf.sort_values("rank")["vec_id"], self.refs.mmr(q), "mmr_rerank")

        return Op("mmr_rerank", "operators",
                  lambda: mmr_rerank(self.emb, q, k=K, n_candidates=MMR_CANDIDATES, lam=MMR_LAMBDA), check=check)

    def final_checks(self) -> list[Op]:
        """An IVF probe of every list must equal exact top-k."""
        return [self.ivf(N_LISTS, "ivf_search_all_lists")]

    def streaming_totals(self) -> dict:
        return {}

    def close(self) -> None:
        self.refs.close()


class Corpus:
    warm_up_passes = 0
    min_passes = 1

    def __init__(self, spark, data_dir: str, run_dir: str, seed: int, oracle_dir: str):
        self.spark, self.data_dir, self.run_dir = spark, data_dir, run_dir
        self.inputs = Inputs(data_dir, seed)
        self.refs = References(self.inputs, data_dir)
        self.oracles = checks.OracleCache(oracle_dir, data_dir)

    def setup(self) -> None:
        """Fit fixed IVF centroids on a seeded half of the vectors and
        ingest that half, and a seeded half of the documents, into the
        persisted stores as generation 0. The rest arrives in passes."""
        from pdf_brain_spark.operators.clustering import kmeans_assign

        spark, rng = self.spark, self.inputs.rng
        vperm, dperm = rng.permutation(len(self.inputs.vecs)), rng.permutation(len(self.inputs.docs))
        base_v, self.arrive_v = np.array_split(vperm, 2)
        base_d, self.arrive_d = np.array_split(dperm, 2)
        base_frame = spark.createDataFrame(
            pd.DataFrame({"vec_id": base_v, "embedding": list(self.inputs.vecs[base_v])}),
            "vec_id long, embedding array<double>")
        _, centroids = kmeans_assign(base_frame, k=N_LISTS, seed=42)
        self.stores = Stores(spark, os.path.join(self.run_dir, "stores"), centroids, self.inputs, self.refs)
        for op in self.stores.ingest_ops(base_v, base_d, cycle=False):
            op.construct()
        self.arrived = 0

    def passes(self) -> Iterator[list[Op]]:
        """Passes of the gates, the batched serving call and the ingest
        cycle. The order is fixed: a pass is timed cold, and the first
        op to touch a code path pays for loading it, so a seeded order
        would move those costs between ops from run to run."""
        while True:
            yield [self.gate(g) for g in CORPUS_GATES] + self.ingest()

    def gate(self, name: str) -> Op:
        from pdf_brain_spark.queries import lookup_oracle, lookup_query

        sql = lookup_oracle(name)

        def check(pdf):
            checks.expect_oracle(pdf, self.oracles.expected(sql), name)

        return Op(name, "gates", lambda: lookup_query(name)(self.spark, self.data_dir), check=check if sql else None)

    def ingest(self) -> list[Op]:
        n = self.arrived
        v = self.arrive_v[n * INGEST_VECTORS: (n + 1) * INGEST_VECTORS]
        d = self.arrive_d[n * INGEST_DOCS: (n + 1) * INGEST_DOCS]
        if len(v) < INGEST_VECTORS or len(d) < INGEST_DOCS:
            raise RuntimeError("corpus ran out of arriving rows: a run makes more passes than the data holds")
        self.arrived += 1
        return self.stores.ingest_ops(v, d, cycle=True)

    def final_checks(self) -> list[Op]:
        """An all-lists IVF probe of the live ANN store must equal exact
        top-k over the live vectors. (Each pass's FTS search is checked
        against DuckDB BM25 over the live documents.)"""
        return [self.stores.ivf_search(self.inputs.query_vec(), N_LISTS, "ivf_search_persisted_all_lists")]

    def streaming_totals(self) -> dict:
        return self.stores.totals()

    def close(self) -> None:
        self.refs.close()
        self.oracles.close()
