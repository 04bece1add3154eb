"""The ``ingest`` workload: an LLM-data ingest loop, one closed-loop client.

Each seeded document batch passes these requests in order: ``filter``
(``quality_filter``), ``dedup`` (``minhash_lsh_pairs`` over the documents
the filter kept), ``commit`` (``write_segment`` with an index on
lang/source and a Bloom filter on doc_id, then ``compact_tiered``, the
maintenance step of every commit), ``delete`` (``delete_where``, in the
last batch of a cycle) and ``verify`` (read-your-write: ``open_point`` on a
just-written document and the store's live count).

Batches go in cycles of five into a fresh store per cycle, sized so that
every cycle runs the same tiered compaction schedule (fanout 2, a tier
per power of two rows): full, half, full, half, half. Neighbouring
segments of the first four batches lie in different tiers, so those
commits merge nothing; the fifth commit merges the two half batches one
tier up, and that merge cascades into the third batch's segment. The
delete follows that commit. Write and space amplification of a cycle so
compare across runs whatever the speed. Four of the five batches are
plain commits, so the median batch is a plain one even if one batch of
the run is disturbed, and the merging batch is the slowest. A pass runs
a fixed number of cycles. The warm-up runs a cycle of two small equal
batches, so its second commit already merges and deletes.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import functions as F

from iodf_spark.operators.dedup import minhash_lsh_pairs
from iodf_spark.operators.index import IndexConf
from iodf_spark.operators.textstats import quality_filter
from iodf_spark.sources.segments import SegmentStore

from perfbench import gen
from perfbench.checks import check_dup_pairs, check_verdicts
from perfbench.tracing import ByteLedger, dir_bytes

CYCLE_SIZES = (2, 1, 2, 1, 1)  # batch sizes of a cycle, in half batches
WARMUP_DOCS = (100, 100)  # the warm-up cycle: one tier, so its second commit merges
FANOUT = 2
JACCARD = 0.8
INDEX_CONF = IndexConf(include=["lang", "source"])


def _seg_dirs(path: str) -> set[str]:
    return {d for d in os.listdir(path) if d.startswith("seg-")}


class Ingest:
    CYCLE_S = 30.0  # nominal seconds of one cycle of five batches on a 4-core machine

    def __init__(self, run_dir: str, seed: int, params: gen.GenParams, tracer, cycles: int):
        self.seed, self.p, self.tr, self.cycles = seed, params, tracer, cycles
        self.inputs = os.path.join(run_dir, "inputs")
        self.data_dir = os.path.join(run_dir, "data")
        os.makedirs(self.inputs)
        os.makedirs(self.data_dir)
        self.reset_pass()

    def generate(self) -> None:
        """Draw every batch and write it to the run directory (no Spark):
        the warm-up's batches, then ``cycles`` cycles for each of up to
        two passes."""
        sizes = list(WARMUP_DOCS) + [
            k * self.p.batch_docs // 2 for k in CYCLE_SIZES * (2 * self.cycles)
        ]
        self.batches = gen.ingest_batches(self.p, self.seed, sizes)
        for i, b in enumerate(self.batches):
            b["path"] = os.path.join(self.inputs, f"batch-{i:03d}.parquet")
            b["input_bytes"] = gen.write_parquet(b["docs"], b["path"])
        gen.write_json(
            [{k: b[k] for k in ("junk", "exact", "near", "delete")} for b in self.batches],
            os.path.join(self.inputs, "truth.json"),
        )

    def build(self, spark) -> None:
        self.spark = spark  # every store is written by the requests themselves

    def close(self) -> None:
        pass

    def reset_pass(self) -> None:
        self.cycle_amps: list[dict] = []
        self.found_pairs = self.injected_pairs = self.input_rows = 0
        self.bytes_rewritten = 0
        self.last = {"segments": 0, "store_bytes": 0}

    # -- requests -------------------------------------------------------------

    def warmup(self):
        return self._cycle(self.batches[:len(WARMUP_DOCS)], "warmup")

    def requests(self, pass_idx: int):
        """Pass ``pass_idx``: its own ``cycles`` cycles of batches."""
        n = len(CYCLE_SIZES)
        first = len(WARMUP_DOCS) + pass_idx * self.cycles * n
        for c in range(self.cycles):
            start = first + c * n
            yield from self._cycle(self.batches[start:start + n], f"p{pass_idx}c{c}")

    def _cycle(self, batches: list[dict], tag: str):
        """Requests of one cycle. Code between the yields is bookkeeping
        the client does outside the timed requests."""
        path = os.path.join(self.data_dir, tag)
        store = SegmentStore(path)
        ledger = ByteLedger([path])
        live: set[int] = set()
        input_bytes = 0
        for bi, batch in enumerate(batches):
            unit = f"{tag}b{bi}"
            st = {"batch": batch, "store": store, "live": live,
                  "df": self.spark.read.parquet(batch["path"])}
            input_bytes += batch["input_bytes"]
            self.input_rows += len(batch["docs"])
            yield unit, "filter", lambda: self._filter(st), lambda ans: self._check_filter(st, ans)
            yield unit, "dedup", lambda: self._dedup(st), lambda ans: self._check_dedup(st, ans)
            before = _seg_dirs(path)
            yield unit, "commit", lambda: self._commit(st), lambda ans: self._check_commit(st, ans)
            written = {f"seg-{st['entry']['segment_id']:05d}"} if "entry" in st else set()
            merged = _seg_dirs(path) - before - written
            self.bytes_rewritten += sum(dir_bytes(os.path.join(path, d)) for d in merged)
            ledger.scan()
            live.update(st.get("final", ()))
            if bi == len(batches) - 1:
                m, r = self.p.delete_modulus, batch["delete"]
                st["deleted"] = {d for d in live if d % m == r}
                yield unit, "delete", lambda: self._delete(st), lambda ans: self._check_delete(st, ans)
                live -= st["deleted"]
                ledger.scan()
            yield unit, "verify", lambda: self._verify(st), lambda ans: self._check_verify(st, ans)
        stored = ledger.scan()
        live_docs = [b["docs"][b["docs"]["doc_id"].isin(live)] for b in batches]
        live_bytes = sum(
            pa.Table.from_pandas(d, preserve_index=False).nbytes for d in live_docs
        )
        self.cycle_amps.append(
            {"write_amp": ledger.written / input_bytes, "space_amp": stored / live_bytes}
        )
        self.last = {"segments": len(store.manifest()), "store_bytes": stored}

    # each request: the engine calls inside layer spans, returning plain data

    def _filter(self, st):
        with self.tr.span("textstats.quality_filter"):
            rows = quality_filter(st["df"], "doc_id", "text").select("doc_id", "keep").collect()
        st["keep"] = {r["doc_id"]: bool(r["keep"]) for r in rows}
        return st["keep"]

    def _check_filter(self, st, ans):
        docs = st["batch"]["docs"]
        return check_verdicts(docs["doc_id"].tolist(), set(st["batch"]["junk"]), ans)

    def _dedup(self, st):
        kept = sorted(d for d, k in st["keep"].items() if k)
        with self.tr.span("dedup.minhash"):
            rows = minhash_lsh_pairs(
                st["df"].filter(F.col("doc_id").isin(kept)), "doc_id", "text",
                threshold=JACCARD,
            ).collect()
        st["kept"] = kept
        st["pairs"] = sorted({tuple(sorted((r["doc_a"], r["doc_b"]))) for r in rows})
        return st["pairs"]

    def _check_dedup(self, st, ans):
        batch = st["batch"]
        injected = [tuple(sorted(p)) for p in batch["exact"] + batch["near"]]
        self.injected_pairs += len(injected)
        self.found_pairs += len(set(injected) & set(ans))
        texts = dict(zip(batch["docs"]["doc_id"].tolist(), batch["docs"]["text"]))
        return check_dup_pairs(texts, batch["exact"], ans, JACCARD)

    def _commit(self, st):
        drop = {b for _, b in st["pairs"]}  # keep the first of each pair
        st["final"] = [d for d in st["kept"] if d not in drop]
        store = st["store"]
        with self.tr.span("segments.write_segment"):
            st["entry"] = store.write_segment(
                st["df"].filter(F.col("doc_id").isin(st["final"])), order_keys=["doc_id"],
                index_conf=INDEX_CONF, bloom_cols=["doc_id"],
            )
        with self.tr.span("segments.compact_tiered"):
            store.compact_tiered(self.spark, fanout=FANOUT)
        return st["entry"]["n_rows"]

    def _check_commit(self, st, ans):
        want = len(st["final"])
        return None if ans == want else f"write_segment: {ans} rows, want {want}"

    def _delete(self, st):
        m, r = self.p.delete_modulus, st["batch"]["delete"]
        with self.tr.span("segments.delete"):
            return st["store"].delete_where(self.spark, f"doc_id % {m} = {r}")["n"]

    def _check_delete(self, st, ans):
        want = len(st["deleted"])
        return None if ans == want else f"delete_where: {ans} rows, want {want}"

    def _verify(self, st):
        fresh = [d for d in st["final"] if d in st["live"]]
        doc = fresh[len(fresh) // 2]
        store = st["store"]
        with self.tr.span("segments.open_point"):
            hits = store.open_point(self.spark, "doc_id", doc).filter(F.col("doc_id") == doc).count()
            live = store.live_rows()
        return {"hits": hits, "live": live}

    def _check_verify(self, st, ans):
        want = {"hits": 1, "live": len(st["live"])}
        return None if ans == want else f"read-your-write: got {ans} want {want}"

    # -- workload-level results -------------------------------------------------

    @property
    def amp(self) -> dict:
        mid = len(self.cycle_amps) // 2
        return {
            k: sorted(a[k] for a in self.cycle_amps)[mid]
            for k in ("write_amp", "space_amp")
        }

    def pass_metrics(self) -> dict:
        return {
            "dedup.dup_recall": self.found_pairs / self.injected_pairs if self.injected_pairs else 0.0,
            "segments.bytes_rewritten": self.bytes_rewritten,
            "segments.segment_count": self.last["segments"],
            "segments.store_bytes": self.last["store_bytes"],
            "input_rows": self.input_rows,
        }
