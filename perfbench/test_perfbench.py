"""The benchmark's own tests (no Spark): ``python -m pytest perfbench -q``."""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, gen, run, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
P = gen.GenParams(lineitem_rows=3000, corpus_docs=300, batch_docs=60)


def _inputs(seed: int, tmp) -> dict[str, str]:
    """Every input file of both workloads, as sha256 per file name."""
    li = gen.lineitem(P, seed)
    corpus = gen.corpus(P, seed)
    emb = gen.embeddings(P, seed)
    gen.write_parquet(li, str(tmp / "lineitem.parquet"))
    gen.write_parquet(corpus, str(tmp / "docs.parquet"))
    gen.write_embeddings(emb, str(tmp / "embeddings.parquet"))
    gen.write_json(gen.lookup_ops(P, seed, li, corpus, emb, 60), str(tmp / "ops.json"))
    for i, b in enumerate(gen.ingest_batches(P, seed, [120, 60, 60])):
        gen.write_parquet(b["docs"], str(tmp / f"batch-{i}.parquet"))
        gen.write_json({k: b[k] for k in ("junk", "exact", "near", "delete")},
                       str(tmp / f"truth-{i}.json"))
    return {
        f: hashlib.sha256((tmp / f).read_bytes()).hexdigest()
        for f in sorted(os.listdir(tmp))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    first, again, other = _inputs(7, a), _inputs(7, b), _inputs(8, c)
    assert first == again
    assert all(first[f] != other[f] for f in first)


def test_generator_knobs_shape_the_inputs():
    li = gen.lineitem(P, 1)
    counts = li["l_suppkey"].value_counts()
    assert counts.iloc[0] > 10 * counts.median()  # Zipf-skewed suppliers
    batch = gen.ingest_batches(P, 1, [200])[0]
    assert len(batch["exact"]) == 10 and len(batch["near"]) == 10 and len(batch["junk"]) == 6
    texts = dict(zip(batch["docs"]["doc_id"], batch["docs"]["text"]))
    assert all(texts[a] == texts[b] for a, b in batch["exact"])
    assert any(checks.jaccard(texts[a], texts[b]) < 1 for a, b in batch["near"])
    assert len(set(gen.vocabulary(P.vocab))) == P.vocab


@pytest.fixture(scope="module")
def lookup_ref():
    li = gen.lineitem(P, 3)
    return li, checks.LookupReference(li)


def test_lookup_checks_flag_corrupted_answers(lookup_ref):
    li, ref = lookup_ref
    key = ["l_returnflag", "R"]
    mask = ref.mask(key)
    assert ref.check_count(int(mask.sum()), mask) is None
    assert ref.check_count(int(mask.sum()) + 1, mask) is not None
    ids = ref.ids(mask)
    assert ref.check_ids(list(reversed(ids)), mask) is None
    assert ref.check_ids(ids[:-1], mask) is not None
    assert ref.check_ids(ids + [ids[0]], mask) is not None
    other = ["l_linestatus", "O"]
    want = {"n": ref.n, "fa": int(mask.sum()), "fb": int(ref.mask(other).sum()),
            "fab": int((mask & ref.mask(other)).sum())}
    assert ref.check_costats(want, key, other) is None
    assert ref.check_costats({**want, "fab": want["fab"] - 1}, key, other) is not None
    m = ref.combined([key, other], "andnot")
    assert int(m.sum()) == int((mask & ~ref.mask(other)).sum())


def test_knn_check_flags_corrupted_answers(lookup_ref):
    li, ref = lookup_ref
    weights = pd.DataFrame(
        {"col_name": ["l_linestatus", "l_linestatus", "l_quantity"],
         "value": ["O", "F", "7.0"], "w1": [0.5, 0.25, 2.0], "w2": [1.0, 0.75, 3.0]}
    )
    query = {"l_linestatus": "O", "l_quantity": 7.0, "l_suppkey": 1}
    dist = ref.knn_distances(weights, gen.KNN_FEATURES, query)
    order = np.lexsort((np.arange(len(dist)), dist))[:10]
    good = [(int(r), float(dist[r])) for r in order]
    assert ref.check_knn(good, dist, 10) is None
    assert ref.check_knn(good[:9], dist, 10) is not None
    assert ref.check_knn([(good[0][0], good[0][1] + 0.5)] + good[1:], dist, 10) is not None
    far = int(np.argmax(dist))
    assert ref.check_knn(good[:9] + [(far, float(dist[far]))], dist, 10) is not None


def test_corpus_checks_flag_corrupted_answers(tmp_path):
    from iodf_spark.operators.search import bm25_topk_oracle

    corpus = gen.corpus(P, 5)
    emb = gen.embeddings(P, 5)
    docs, vecs = str(tmp_path / "docs.parquet"), str(tmp_path / "emb.parquet")
    gen.write_parquet(corpus, docs)
    gen.write_embeddings(emb, vecs)
    ref = checks.CorpusReference(docs, vecs, emb)
    try:
        term = corpus["text"].iloc[0].split()[1]
        sql = bm25_topk_oracle("docs", "doc_id", "text", [term], k=5)
        good = [tuple(r) for r in ref.rows(sql)]
        assert len(good) == 5
        assert ref.check_ranked(good, sql) is None
        assert ref.check_ranked(good[::-1], sql) is not None
        assert ref.check_ranked([(good[0][0], good[0][1] * 1.01)] + good[1:], sql) is not None
        q = [float(x) for x in emb[3]]
        exact, cos = ref.exact_topk(q, 10)
        ann = [(i + 1, int(n), round(float(cos[n]), 6)) for i, n in enumerate(exact)]
        assert ref.check_ann(ann, q, 10) == (None, 1.0)
        worse = ann[:9] + [(10, int(np.argmin(cos)), round(float(cos.min()), 6))]
        problem, recall = ref.check_ann(worse, q, 10)
        assert problem is None and recall == 0.9  # a miss lowers recall only
        lying = ann[:9] + [(10, ann[9][1], ann[9][2] + 0.01)]
        assert ref.check_ann(lying, q, 10)[0] is not None
    finally:
        ref.close()


def test_ingest_checks_flag_corrupted_answers():
    batch = gen.ingest_batches(P, 2, [100])[0]
    ids = batch["docs"]["doc_id"].tolist()
    junk = set(batch["junk"])
    good = {d: d not in junk for d in ids}
    assert checks.check_verdicts(ids, junk, good) is None
    assert checks.check_verdicts(ids, junk, {**good, next(iter(junk)): True}) is not None
    texts = dict(zip(ids, batch["docs"]["text"]))
    pairs = sorted(tuple(sorted(p)) for p in batch["exact"])
    assert checks.check_dup_pairs(texts, batch["exact"], pairs, 0.8) is None
    assert checks.check_dup_pairs(texts, batch["exact"], pairs[1:], 0.8) is not None
    unrelated = (ids[0], ids[1])
    assert checks.check_dup_pairs(texts, batch["exact"], pairs + [unrelated], 0.8) is not None


def test_tail_has_ten_samples_beyond():
    rnd = random.Random(0)
    for n in range(11, 300, 7):
        xs = [rnd.lognormvariate(0, 1) for _ in range(n)]
        t = stats.tail(xs)
        assert t["beyond"] == 10 and t["samples"] == n
        assert sum(x > t["value"] for x in xs) == 10
        assert t["percentile"] == round(100 * (n - 10) / n, 2)
    short = stats.tail([3.0, 1.0, 2.0])
    assert short["value"] == 3.0 and short["beyond"] < 10  # stated, not hidden


def test_work_per_pass_depends_only_on_the_arguments(tmp_path):
    from perfbench.ingest import CYCLE_SIZES, WARMUP_DOCS, Ingest
    from perfbench.lookup import Lookup
    from perfbench.tracing import Tracer

    assert run.cycles_for(1, 12.0) == 1
    assert run.cycles_for(24, 12.0) == 2
    assert run.cycles_for(36, 12.0) == run.cycles_for(36, 12.0) == 3
    lookup = Lookup(str(tmp_path / "l"), 4, P, Tracer(enabled=False), cycles=2)
    lookup.generate()
    try:
        n = len(P.lookup_cycle)
        passes = [[i for i, *_ in lookup.requests(k)] for k in range(2)]
        assert [len(p) for p in passes] == [2 * n] * 2
        assert len({i for p in passes for i in p}) == 4 * n  # no pass repeats a request
        assert sorted(kind for _, kind, *_ in lookup.warmup()) == sorted({k for k, _ in P.lookup_cycle})
    finally:
        lookup.close()
    ingest = Ingest(str(tmp_path / "i"), 4, P, Tracer(enabled=False), cycles=2)
    ingest.generate()
    assert len(ingest.batches) == len(WARMUP_DOCS) + 2 * 2 * len(CYCLE_SIZES)


def test_ingest_cycle_merges_only_in_its_last_batch():
    """With the default batch size, compact_tiered(fanout=2) (tier =
    floor(log2(rows))) finds no run of equal tiers in the first four
    commits of a cycle; the fifth forms one, whose merge lands in the third
    batch's tier and cascades."""
    from perfbench.ingest import CYCLE_SIZES, FANOUT

    assert FANOUT == 2
    docs = [k * gen.GenParams().batch_docs // 2 for k in CYCLE_SIZES]
    tiers = [d.bit_length() - 1 for d in docs]
    assert all(a != b for a, b in zip(tiers[:3], tiers[1:4]))
    assert tiers[3] == tiers[4] and tiers[2] == tiers[4] + 1
    assert (docs[3] + docs[4]).bit_length() - 1 == tiers[2]


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metrics_match_benchmark_json():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == ["lookup", "ingest"]


def test_metric_functions_emit_exactly_the_listed_metrics():
    lat = stats.latency_summary([0.5 + i / 10 for i in range(20)])
    e2e = run.end_to_end_metrics(10.0, lat, {"write_amp": 1.2, "space_amp": 1.1})
    line = json.loads(stats.result_line(True, 20, 0, e2e))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.E2E_UNITS

    tracer = run_tracer()
    p = run.Pass()
    p.latencies, p.units, p.kinds, p.op_ids = [1.0, 2.0], [0, 1], ["a", "b"], {0, 1}
    counters = SimpleNamespace(totals={"jobs": 4, "stages": 6, "tasks": 12, "failed_tasks": 0})
    counting = SimpleNamespace(calls={"read_text": 3})
    layer = run.layer_metrics(tracer, counters, counting, p, p, {}, {}, 5.0, 0.0, 900.0)
    assert {k: u for k, (_, u) in layer.items()} == run.LAYER_UNITS
    assert layer["session.jobs_per_op"][0] == 2.0
    assert layer["index.probe_plan_s"][0] > 0
    with pytest.raises(KeyError):
        run._with_units({"setup_s": 1.0}, run.E2E_UNITS)


def run_tracer():
    from perfbench.tracing import Tracer

    t = Tracer(enabled=True)
    t.op_id = 0
    with t.span("op.probe_f"), t.span("index.probe"):
        pass
    t.op_id = None
    return t


def test_self_time_subtracts_children():
    from perfbench.tracing import Tracer

    t = Tracer(enabled=True)
    t.op_id = 1
    with t.span("outer"):
        with t.span("inner"):
            statistics.median(range(10_000))
    st = t.self_times({1})
    outer = t.spans[0]["end"] - t.spans[0]["start"]
    inner = t.spans[1]["end"] - t.spans[1]["start"]
    assert st["inner"] == pytest.approx(inner)
    assert st["outer"] == pytest.approx(outer - inner)
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
