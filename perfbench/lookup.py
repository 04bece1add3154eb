"""The ``lookup`` workload: read-only serving over an indexed multi-segment
store and a search/ANN corpus, one closed-loop client.

Set-up writes the seeded line items as a multi-segment ``SegmentStore``
(index on l_returnflag/l_linestatus/l_quantity/l_suppkey, Bloom filter on
l_partkey) and opens its index once; then it trains the knn weights and
builds a text index and an IVF-PQ store over the seeded corpus. The
client then runs a fixed number of cycles of ``gen.LOOKUP_CYCLE``: index
probes and their boolean combinations, co-occurrence stats, store point
lookups (index, scan and Bloom-pruned paths), knn, BM25, phrase search,
ANN and hybrid search. Nothing is written after set-up.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from iodf_spark.operators import index as IX
from iodf_spark.operators.costats import costats_index
from iodf_spark.operators.knn import key_value_weights, knn
from iodf_spark.operators.search import (
    bm25_topk, bm25_topk_oracle, hybrid_rrf_topk, hybrid_rrf_topk_oracle,
    phrase_search, phrase_search_oracle,
)
from iodf_spark.operators.similarity import ann_ivfpq_store, ivfpq_build_store
from iodf_spark.plans.rowset import intersect_all, union_all
from iodf_spark.sources.segments import SegmentStore

from perfbench import gen
from perfbench.checks import CorpusReference, LookupReference
from perfbench.tracing import dir_bytes

INDEXED = ["l_returnflag", "l_linestatus", "l_quantity", "l_suppkey"]
# IVF-PQ serving configuration
IVF = {"n_centroids": 16, "m_subspaces": 8, "n_codes": 16}
N_PROBE = 4
RERANK = 40


class Lookup:
    CYCLE_S = 16.0  # nominal seconds of one cycle of gen.LOOKUP_CYCLE on a 4-core machine

    def __init__(self, run_dir: str, seed: int, params: gen.GenParams, tracer, cycles: int):
        self.seed, self.p, self.tr, self.cycles = seed, params, tracer, cycles
        self.inputs = os.path.join(run_dir, "inputs")
        self.data_dir = os.path.join(run_dir, "data")
        os.makedirs(self.inputs)
        os.makedirs(self.data_dir)
        self.input_bytes = 0
        self.corpus_ref = None
        self.recalls: list[float] = []
        self.plans: list[dict] = []

    # -- set-up ---------------------------------------------------------------

    def generate(self) -> None:
        """Draw every input and write it to the run directory (no Spark)."""
        p = self.p
        li = gen.lineitem(p, self.seed)
        corpus = gen.corpus(p, self.seed)
        emb = gen.embeddings(p, self.seed)
        li_path = os.path.join(self.inputs, "lineitem.parquet")
        docs_path = os.path.join(self.inputs, "docs.parquet")
        emb_path = os.path.join(self.inputs, "embeddings.parquet")
        self.input_bytes = (
            gen.write_parquet(li, li_path)
            + gen.write_parquet(corpus, docs_path)
            + gen.write_embeddings(emb, emb_path)
        )
        n = len(p.lookup_cycle)
        # the warm-up's cycle, then ``cycles`` cycles for each of up to two passes
        self.ops = gen.lookup_ops(p, self.seed, li, corpus, emb, n * (1 + 2 * self.cycles))
        gen.write_json(self.ops, os.path.join(self.inputs, "ops.json"))
        self.ref = LookupReference(li)
        self.corpus_ref = CorpusReference(docs_path, emb_path, emb)
        self.n = len(li)
        self.n_docs = len(corpus)
        self.paths = (li_path, docs_path, emb_path)

    def build(self, spark) -> None:
        self.spark = spark
        li_path, docs_path, emb_path = self.paths
        self._build_store(li_path)
        self._build_corpus(li_path, docs_path, emb_path)
        # nothing is written after set-up: both ratios are the set-up's
        stored = dir_bytes(self.data_dir)
        self.amp = {"write_amp": stored / self.input_bytes,
                    "space_amp": stored / self.input_bytes}

    def _build_store(self, li_path: str) -> None:
        """The indexed multi-segment store and its opened index."""
        spark = self.spark
        self.store = SegmentStore(os.path.join(self.data_dir, "store"))
        src = spark.read.parquet(li_path)
        per = -(-self.n // self.p.segments)
        conf = IX.IndexConf(include=INDEXED)
        for s in range(self.p.segments):
            with self.tr.span("segments.write_segment"):
                self.store.write_segment(
                    src.filter((F.col("l_key") >= s * per) & (F.col("l_key") < (s + 1) * per)),
                    order_keys=["l_key"], index_conf=conf, bloom_cols=["l_partkey"],
                )
        with self.tr.span("segments.open_index"):
            self.ix = self.store.open_index(spark)
        self.bs = self.store.bucket_size
        self.data = self.store.open(spark)

    def _build_corpus(self, li_path: str, docs_path: str, emb_path: str) -> None:
        """The knn weights, trained from the input rows (row id = l_key),
        then the text index and the IVF-PQ store over the corpus."""
        spark = self.spark
        with self.tr.span("knn.weights"):
            self.weights_pd = key_value_weights(
                spark.read.parquet(li_path).withColumn("row_id", F.col("l_key")),
                list(gen.KNN_FEATURES), F.col("l_returnflag") == "R",
            ).toPandas()
        self.weights = spark.createDataFrame(self.weights_pd)
        self.docs = spark.read.parquet(docs_path).withColumn("row_id", F.col("doc_id"))
        tix_path = os.path.join(self.data_dir, "text_index")
        with self.tr.span("index.build"):
            IX.write_index(
                IX.build_index(
                    self.docs.select("row_id", "text"),
                    IX.IndexConf(include=["text"], analyzers={"text": IX.text_analyzer}),
                    n_rows=self.n_docs,
                ),
                tix_path,
            )
        self.tix = IX.read_index(spark, tix_path)
        self.emb = spark.read.parquet(emb_path)
        self.pq_path = os.path.join(self.data_dir, "ivfpq")
        with self.tr.span("similarity.ivfpq_build"):
            ivfpq_build_store(self.emb, "vec_id", "embedding", self.pq_path, dim=self.p.dim, **IVF)

    def close(self) -> None:
        if self.corpus_ref is not None:
            self.corpus_ref.close()

    # -- requests ---------------------------------------------------------------

    def warmup(self):
        """One request of every kind, drawn from the warm-up's cycle."""
        n = len(self.p.lookup_cycle)
        first = {op["kind"]: op for op in reversed(self.ops[:n])}
        return self._requests(list(first.values()))

    def requests(self, pass_idx: int):
        """Pass ``pass_idx``: its own ``cycles`` whole cycles of the list,
        so every pass has the same mix and the same number of requests."""
        n = len(self.p.lookup_cycle)
        first = n * (1 + pass_idx * self.cycles)
        return self._requests(self.ops[first:first + n * self.cycles], first)

    def _requests(self, ops: list[dict], first: int = 0):
        for i, op in enumerate(ops, start=first):
            do = getattr(self, "_do_" + op["kind"])
            check = getattr(self, "_check_" + op["kind"])
            yield i, op["kind"], lambda: do(op), lambda ans: check(op, ans)

    def _probe(self, key):
        with self.tr.span("index.probe"):
            return IX.probe(self.ix, key[0], key[1], self.n, self.bs, encoding_hint="auto")

    def _do_probe_f(self, op):
        ps = self._probe(op["key"])
        with self.tr.span("rowset.exec"):
            return ps.f()

    def _check_probe_f(self, op, ans):
        return self.ref.check_count(ans, self.ref.mask(op["key"]))

    def _do_probe_rows(self, op):
        ps = self._probe(op["key"])
        with self.tr.span("rowset.exec"):
            return [r[0] for r in ps.to_rows().collect()]

    def _check_probe_rows(self, op, ans):
        return self.ref.check_ids(ans, self.ref.mask(op["key"]))

    def _do_combine(self, op):
        sets = [self._probe(k) for k in op["keys"]]
        with self.tr.span("rowset.combine"):
            if op["how"] == "and":
                s = intersect_all(sets)
            elif op["how"] == "or":
                s = union_all(sets)
            else:
                s = sets[0]
                for o in sets[1:]:
                    s = s.andnot(o)
        with self.tr.span("rowset.exec"):
            return s.f()

    def _check_combine(self, op, ans):
        return self.ref.check_count(ans, self.ref.combined(op["keys"], op["how"]))

    def _do_costats(self, op):
        with self.tr.span("costats"):
            return costats_index(
                self.ix, tuple(op["a"]), tuple(op["b"]), self.n, bucket_size=self.bs
            ).collect()[0].asDict()

    def _check_costats(self, op, ans):
        return self.ref.check_costats(ans, op["a"], op["b"])

    def _do_smart_filter(self, op):
        col, val = op["key"]
        with self.tr.span("segments.smart_filter"):
            rows, plan = self.store.smart_filter(self.spark, col, val)
            ids = [r[0] for r in rows.select("row_id").collect()]
        self.plans.append(plan)
        return ids

    def _check_smart_filter(self, op, ans):
        return self.ref.check_ids(ans, self.ref.mask(op["key"]))

    def _do_knn(self, op):
        with self.tr.span("knn"):
            rows = knn(
                self.data, list(gen.KNN_FEATURES), self.weights, op["query"], op["k"]
            ).collect()
        return [(r["row_id"], r["dist"]) for r in rows]

    def _check_knn(self, op, ans):
        dist = self.ref.knn_distances(self.weights_pd, gen.KNN_FEATURES, op["query"])
        return self.ref.check_knn(ans, dist, op["k"])

    def _do_bm25(self, op):
        with self.tr.span("search.bm25"):
            rows = bm25_topk(
                self.docs, self.tix, "text", op["terms"], self.n_docs, k=op["k"]
            ).collect()
        return [(r["row_id"], r["score"]) for r in rows]

    def _check_bm25(self, op, ans):
        return self.corpus_ref.check_ranked(
            ans, bm25_topk_oracle("docs", "doc_id", "text", op["terms"], k=op["k"])
        )

    def _do_phrase(self, op):
        with self.tr.span("search.phrase"):
            rows = phrase_search(self.docs, "doc_id", "text", op["phrase"]).select("doc_id").collect()
        return [r[0] for r in rows]

    def _check_phrase(self, op, ans):
        return self.corpus_ref.check_ids(
            ans, f"SELECT doc_id FROM ({phrase_search_oracle('doc_id', 'text', 'docs', op['phrase'])})"
        )

    def _do_ann(self, op):
        with self.tr.span("similarity.ann"):
            rows = ann_ivfpq_store(
                self.emb, "vec_id", "embedding", self.pq_path, [], k=op["k"],
                n_probe=N_PROBE, dim=self.p.dim, rerank=RERANK,
                query_vecs={0: op["vec"]}, **IVF,
            ).collect()
        return [(r["rank"], r["neighbor_id"], r["cos"]) for r in rows]

    def _check_ann(self, op, ans):
        problem, recall = self.corpus_ref.check_ann(ans, op["vec"], op["k"])
        self.recalls.append(recall)
        return problem

    def _do_hybrid(self, op):
        with self.tr.span("search.hybrid"):
            rows = hybrid_rrf_topk(
                self.docs, self.tix, "text", op["terms"], self.emb, "vec_id",
                "embedding", op["query_vec_id"], self.n_docs, k=op["k"], dim=self.p.dim,
            ).collect()
        return [(r["row_id"], r["score"]) for r in rows]

    def _check_hybrid(self, op, ans):
        return self.corpus_ref.check_ranked(
            ans,
            hybrid_rrf_topk_oracle(
                "docs", "doc_id", "text", op["terms"], "emb", "vec_id", "embedding",
                op["query_vec_id"], k=op["k"], dim=self.p.dim,
            ),
        )

    # -- workload-level results -----------------------------------------------

    def pass_metrics(self) -> dict:
        plans = self.plans
        segs = sum(pl["segments"] for pl in plans)
        return {
            "recall_at_10": sum(self.recalls) / len(self.recalls) if self.recalls else 0.0,
            "access.pruned_share": sum(pl["pruned"] for pl in plans) / segs if segs else 0.0,
            "access.index_path_share": (
                sum(pl["path"] == "index" for pl in plans) / len(plans) if plans else 0.0
            ),
            "segments.segment_count": len(self.store.manifest()),
            "segments.store_bytes": dir_bytes(self.store.path),
        }

    def reset_pass(self) -> None:
        self.recalls, self.plans = [], []
