"""Seeded input generator: the only place randomness enters the benchmark.

Every input a workload hands the engine, and every request it issues, is
drawn here from one ``--seed``. The same seed gives byte-identical input
files and the same request list; another seed gives other ones. Each
artifact draws from its own child stream (``numpy`` generator keyed by
``(seed, stream number)``), so adding draws to one artifact never shifts
another.

The knobs live in :class:`GenParams`: Zipf skew of probed keys and query
terms, the mix of selectivity classes, the exact- and near-duplicate rate
of ingested documents, and the noise added to ANN query vectors. A run
prints the seed and these parameters next to its result.
"""

from __future__ import annotations

import dataclasses
import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# child stream numbers: fixed forever, one per artifact
_STREAMS = {
    "lineitem": 1,
    "lookup_ops": 2,
    "corpus": 3,
    "embeddings": 4,
    "ingest": 5,
}

# the quality filter's stopword lists decide a document's language, so a
# document of language L carries L's stopwords between its content words
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
    "es": ["el", "los", "las", "y", "es", "una", "para", "en", "que"],
}
LANGS = sorted(STOPWORDS)
SOURCES = ["crawl", "books", "code", "forums", "news", "wiki"]
_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "zu",
    "ba", "do", "fi", "gu", "ho", "ji", "ke", "ly", "mo", "nu",
]

# The lookup client's cycle: (request kind, shape). The seed draws every
# key, value, term and vector; the cycle fixes the mix of request shapes,
# so runs of different seeds serve the same traffic mix. Probe shapes name
# selectivity classes: dense (a flag/status value, a third or more of the
# rows), medium (a quantity, about 2 %), sparse (a cold supplier, under the
# index's dense-encoding cut). Measured on a 4-core machine, the cycle
# sorts by latency into 8 fast requests (probes, costats, the Bloom-pruned
# lookup), 9 in a narrow band (the 2- and 3-probe AND/OR combines, BM25,
# the phrase miss) and 7 slow ones, so the median (12th/13th of 24) and the
# tail (14th) both fall inside the narrow band.
LOOKUP_CYCLE = (
    ("probe_f", "dense"),
    ("smart_filter", "l_partkey absent"),  # every segment Bloom-pruned
    ("combine", "and dense medium"),
    ("bm25", "1"),
    ("probe_rows", "sparse"),
    ("costats", "dense sparse"),
    ("smart_filter", "l_suppkey sparse"),  # the index path
    ("combine", "or medium sparse"),
    ("phrase", "miss"),
    ("ann", ""),
    ("probe_f", "medium"),
    ("combine", "and dense dense sparse"),
    ("phrase", "hit"),
    ("combine", "andnot dense medium"),
    ("probe_rows", "medium"),
    ("knn", ""),
    ("combine", "or sparse sparse sparse"),
    ("costats", "dense medium"),
    ("bm25", "2"),
    ("hybrid", "2"),
    ("probe_f", "sparse"),
    ("combine", "and medium sparse"),
    ("smart_filter", "l_returnflag"),  # the scan path
    ("combine", "or medium sparse sparse"),
)
# selectivity class -> (columns, first frequency rank drawn from)
CLASSES = {
    "dense": (("l_returnflag", "l_linestatus"), 0),
    "medium": (("l_quantity",), 0),
    "sparse": (("l_suppkey",), 60),
}
KNN_FEATURES = ("l_linestatus", "l_quantity", "l_suppkey")


@dataclasses.dataclass(frozen=True)
class GenParams:
    # lookup: the indexed lineitem store
    lineitem_rows: int = 24_000
    segments: int = 2
    suppliers: int = 800
    parts: int = 40_000
    key_zipf: float = 1.2  # skew of stored supplier keys and of probed keys
    lookup_cycle: tuple = LOOKUP_CYCLE  # the request mix, selectivity classes included
    # lookup: the retrieval corpus
    corpus_docs: int = 2_000
    vocab: int = 1_500
    term_zipf: float = 1.1
    dim: int = 32
    clusters: int = 16
    cluster_spread: float = 0.6
    query_noise: float = 0.3  # std-dev added to a corpus vector per ANN query
    # ingest
    batch_docs: int = 200  # clean documents of a regular batch
    dup_rate: float = 0.05  # exact copies of an earlier doc of the batch
    near_dup_rate: float = 0.05  # copies with one token replaced
    junk_rate: float = 0.03  # too-short documents the quality filter drops
    delete_modulus: int = 13


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def _zipf_probs(n: int, a: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** a
    return p / p.sum()


def vocabulary(n: int) -> list[str]:
    """Deterministic content words (no randomness: the vocabulary is part
    of the workload's definition, the seed only draws from it)."""
    s = len(_SYLLABLES)
    out = []
    for i in range(n):
        a, b, c = i % s, (i // s) % s, (i // (s * s)) % s
        out.append(_SYLLABLES[a] + _SYLLABLES[b] + (_SYLLABLES[c] if i >= s * s else ""))
    return out


# -- lookup: lineitem ---------------------------------------------------------


def lineitem(p: GenParams, seed: int) -> pd.DataFrame:
    """TPC-H-shaped line items. ``l_key`` is the row's position, so the
    store's global row id of a row equals its ``l_key``."""
    rng = rng_for(seed, "lineitem")
    n = p.lineitem_rows
    flag = rng.choice(np.array(["A", "N", "R"]), n, p=[0.25, 0.5, 0.25])
    status = np.where(
        flag == "N", np.where(rng.random(n) < 0.9, "O", "F"), "F"
    )
    supp_ids = rng.permutation(p.suppliers) + 1
    supp = supp_ids[rng.choice(p.suppliers, n, p=_zipf_probs(p.suppliers, p.key_zipf))]
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame(
        {
            "l_key": np.arange(n, dtype=np.int64),
            "l_partkey": rng.integers(1, p.parts + 1, n).astype(np.int64),
            "l_suppkey": supp.astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_returnflag": flag,
            "l_linestatus": status,
        }
    )


def _py(v):
    """A numpy scalar as the plain Python value (JSON-able)."""
    return v.item() if hasattr(v, "item") else v


def _ranked_values(col: pd.Series) -> list:
    """Distinct values, most frequent first (ties by value): rank r is
    probed with Zipf probability ~ 1/r^a, so hot keys are probed most."""
    vc = col.value_counts()
    return [_py(v) for v in sorted(vc.index, key=lambda v: (-vc[v], v))]


class _KeyDraw:
    """Zipf draws over a column's values ranked by frequency."""

    def __init__(self, p: GenParams, li: pd.DataFrame, rng: np.random.Generator):
        self.p, self.rng = p, rng
        self.ranked = {c: _ranked_values(li[c]) for c in li.columns if c != "l_key"}

    def value(self, col: str, skip: int = 0):
        vals = self.ranked[col][skip:]
        return vals[self.rng.choice(len(vals), p=_zipf_probs(len(vals), self.p.key_zipf))]

    def key(self, cls: str) -> list:
        cols, skip = CLASSES[cls]
        col = cols[int(self.rng.integers(len(cols)))]
        return [col, self.value(col, skip)]


def lookup_ops(
    p: GenParams, seed: int, li: pd.DataFrame, corpus: pd.DataFrame,
    emb: np.ndarray, n_ops: int,
) -> list[dict]:
    """The request list: request i has the shape of cycle slot i mod the
    cycle length, with seeded parameters. Everything a request needs is
    in its dict, so the list is the complete client input."""
    rng = rng_for(seed, "lookup_ops")
    keys = _KeyDraw(p, li, rng)
    vocab_probs = _zipf_probs(p.vocab, p.term_zipf)
    words = vocabulary(p.vocab)
    texts = corpus["text"].tolist()
    ops = []
    for i in range(n_ops):
        kind, shape = p.lookup_cycle[i % len(p.lookup_cycle)]
        args = shape.split()
        op: dict = {"kind": kind}
        if kind in ("probe_f", "probe_rows"):
            op["key"] = keys.key(args[0])
        elif kind == "combine":
            op["how"] = args[0]
            op["keys"] = [keys.key(c) for c in args[1:]]
        elif kind == "costats":
            op["a"], op["b"] = (keys.key(c) for c in args)
        elif kind == "smart_filter":
            col = args[0]
            if args[1:] == ["absent"]:
                val = int(p.parts + 1 + rng.integers(p.parts))  # no row has it
            else:
                val = keys.value(col, CLASSES[args[1]][1] if args[1:] else 0)
            op["key"] = [col, val]
        elif kind == "knn":
            row = li.iloc[int(rng.integers(len(li)))]
            op["query"] = {c: _py(row[c]) for c in KNN_FEATURES}
            op["k"] = 10
        elif kind in ("bm25", "hybrid"):
            terms = rng.choice(p.vocab, int(args[0]), replace=False, p=vocab_probs)
            op["terms"] = sorted(words[j] for j in terms)
            if kind == "hybrid":
                op["query_vec_id"] = int(rng.integers(len(texts)))
            op["k"] = 10
        elif kind == "phrase":
            toks = texts[int(rng.integers(len(texts)))].split()
            n = int(rng.integers(2, 5))
            start = int(rng.integers(len(toks) - n + 1))
            phrase = toks[start:start + n]
            if args[0] == "miss":  # the same words shuffled: almost never a hit
                phrase = [phrase[j] for j in rng.permutation(n)]
            op["phrase"] = " ".join(phrase)
        elif kind == "ann":
            base = emb[int(rng.integers(len(emb)))]
            q = base + rng.normal(0.0, p.query_noise, base.shape)
            op["vec"] = [float(x) for x in q.astype(np.float32)]
            op["k"] = 10
        ops.append(op)
    return ops


# -- documents ------------------------------------------------------------------


def _doc_text(rng, words, word_probs, lang, n_tokens) -> str:
    toks = [words[j] for j in rng.choice(len(words), n_tokens, p=word_probs)]
    stops = STOPWORDS[lang]
    for j in range(0, n_tokens, 4):  # one stopword per four tokens
        toks[j] = stops[int(rng.integers(len(stops)))]
    return " ".join(toks)


def corpus(p: GenParams, seed: int) -> pd.DataFrame:
    """The retrieval corpus: ``doc_id`` 0..n-1 (= the index row id)."""
    rng = rng_for(seed, "corpus")
    words = vocabulary(p.vocab)
    probs = _zipf_probs(p.vocab, p.term_zipf)
    langs = rng.choice(LANGS, p.corpus_docs)
    lens = rng.integers(20, 61, p.corpus_docs)
    return pd.DataFrame(
        {
            "doc_id": np.arange(p.corpus_docs, dtype=np.int64),
            "text": [
                _doc_text(rng, words, probs, lang, int(n))
                for lang, n in zip(langs, lens)
            ],
        }
    )


def embeddings(p: GenParams, seed: int) -> np.ndarray:
    """Clustered float32 vectors, one per corpus document."""
    rng = rng_for(seed, "embeddings")
    cent = rng.normal(0.0, 1.0, (p.clusters, p.dim))
    lab = rng.integers(0, p.clusters, p.corpus_docs)
    noise = rng.normal(0.0, p.cluster_spread, (p.corpus_docs, p.dim))
    return (cent[lab] + noise).astype(np.float32)


def ingest_batches(p: GenParams, seed: int, sizes: list[int]) -> list[dict]:
    """Document batches of ``sizes[i]`` clean documents plus injected
    exact copies, near copies (one token
    replaced) and junk (under five tokens). Each batch carries its ground
    truth next to its rows: ``junk`` ids, ``exact`` and ``near`` pairs
    (original id, copy id), and the residue its delete request takes down
    (``doc_id % delete_modulus == delete``)."""
    rng = rng_for(seed, "ingest")
    words = vocabulary(p.vocab)
    probs = _zipf_probs(p.vocab, p.term_zipf)
    src_p = _zipf_probs(len(SOURCES), 1.0)
    next_id = 0
    out = []
    for size in sizes:
        rows, junk, exact, near = [], [], [], []
        for _ in range(size):
            lang = LANGS[int(rng.integers(len(LANGS)))]
            rows.append([next_id, _doc_text(rng, words, probs, lang, int(rng.integers(30, 61))), lang])
            next_id += 1
        base = list(rows)
        for kind, rate in (("exact", p.dup_rate), ("near", p.near_dup_rate)):
            for _ in range(int(round(rate * size))):
                orig = base[int(rng.integers(len(base)))]
                toks = orig[1].split()
                if kind == "near":
                    toks[int(rng.integers(len(toks)))] = words[int(rng.integers(len(words)))]
                rows.append([next_id, " ".join(toks), orig[2]])
                (exact if kind == "exact" else near).append([orig[0], next_id])
                next_id += 1
        for _ in range(int(round(p.junk_rate * size))):
            lang = LANGS[int(rng.integers(len(LANGS)))]
            rows.append([next_id, _doc_text(rng, words, probs, lang, int(rng.integers(1, 5))), lang])
            junk.append(next_id)
            next_id += 1
        order = rng.permutation(len(rows))
        rows = [rows[j] for j in order]
        df = pd.DataFrame(rows, columns=["doc_id", "text", "lang"])
        df["doc_id"] = df["doc_id"].astype(np.int64)
        df["source"] = np.array(SOURCES)[rng.choice(len(SOURCES), len(df), p=src_p)]
        out.append({"docs": df, "junk": junk, "exact": exact, "near": near,
                    "delete": int(rng.integers(p.delete_modulus))})
    return out


# -- files ------------------------------------------------------------------


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` with fixed writer options (byte-identical per seed);
    returns its Arrow in-memory size, the benchmark's "input bytes"."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, compression="zstd", store_schema=False)
    return table.nbytes


def write_embeddings(emb: np.ndarray, path: str) -> int:
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(emb), dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path, compression="zstd", store_schema=False)
    return table.nbytes


def write_json(obj, path: str) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
