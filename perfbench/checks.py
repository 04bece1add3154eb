"""References for the in-run correctness check of every request.

None of them runs the engine under test: lookups are recomputed with
numpy over the generated rows, ranked retrieval with DuckDB over the
generated files (through the engine's oracle SQL), ANN recall with numpy
exact cosine, and ingest against the generator's own ground truth. Each
check returns ``None`` when the answer is right, else a one-line reason.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TOL = 1e-6


def _diff(name: str, got, want) -> str | None:
    if got == want:
        return None
    return f"{name}: got {str(got)[:120]} want {str(want)[:120]}"


class LookupReference:
    """Boolean masks over the generated line items (row id = ``l_key``)."""

    def __init__(self, li: pd.DataFrame):
        self.cols = {c: li[c].to_numpy() for c in li.columns}
        self.n = len(li)
        self._strings: dict[str, np.ndarray] = {}

    def strings(self, col: str) -> np.ndarray:
        """A column as the strings Spark's cast(... as string) gives."""
        if col not in self._strings:
            self._strings[col] = np.array([_spark_str(v) for v in self.cols[col]], dtype=object)
        return self._strings[col]

    def mask(self, key) -> np.ndarray:
        col, val = key
        return self.cols[col] == val

    def ids(self, mask: np.ndarray) -> list[int]:
        return np.flatnonzero(mask).tolist()

    def combined(self, keys, how: str) -> np.ndarray:
        m = self.mask(keys[0])
        for k in keys[1:]:
            o = self.mask(k)
            m = m & o if how == "and" else m | o if how == "or" else m & ~o
        return m

    def check_count(self, got: int, mask: np.ndarray) -> str | None:
        return _diff("count", int(got), int(mask.sum()))

    def check_ids(self, got: list[int], mask: np.ndarray) -> str | None:
        return _diff("row ids", sorted(got), self.ids(mask))

    def check_costats(self, row: dict, a, b) -> str | None:
        ma, mb = self.mask(a), self.mask(b)
        want = {"n": self.n, "fa": int(ma.sum()), "fb": int(mb.sum()),
                "fab": int((ma & mb).sum())}
        return _diff("costats", {k: int(row[k]) for k in want}, want)

    def knn_distances(self, weights: pd.DataFrame, features, query: dict) -> np.ndarray:
        """dist(E) = sum of w1 over weighted keys E has and the query lacks
        + sum of w2 over weighted keys the query has and E lacks."""
        w = {(r.col_name, r.value): (r.w1, r.w2) for r in weights.itertuples()}
        dist = np.zeros(self.n)
        for c in features:
            vals = self.strings(c)
            q = _spark_str(query[c])
            w1 = np.array([w.get((c, v), (0.0, 0.0))[0] for v in vals])
            dist += np.where(vals != q, w1, 0.0)
            if (c, q) in w:
                dist += np.where(vals != q, w[(c, q)][1], 0.0)
        return dist

    def check_knn(self, got: list[tuple], dist: np.ndarray, k: int) -> str | None:
        """``got`` = [(row_id, dist)] in the engine's order. Ties at the
        k-th distance may resolve to any tied row, so membership is checked
        against the distance threshold, each reported distance exactly."""
        kth = np.sort(dist)[k - 1]
        must = set(np.flatnonzero(dist < kth - TOL).tolist())
        ids = [r for r, _ in got]
        if len(got) != k or len(set(ids)) != k:
            return f"knn: {len(got)} rows, want {k}"
        for r, d in got:
            if abs(dist[r] - d) > TOL * max(1.0, abs(d)) or dist[r] > kth + TOL:
                return f"knn: row {r} dist {d} ref {dist[r]} kth {kth}"
        if not must <= set(ids):
            return f"knn: missing closer rows {sorted(must - set(ids))[:5]}"
        dists = [d for _, d in got]
        if dists != sorted(dists):
            return "knn: not ordered by distance"
        return None


def _spark_str(v) -> str:
    """The string Spark's cast(... as string) gives a feature value."""
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v.item() if hasattr(v, "item") else v)


class CorpusReference:
    """DuckDB over the generated corpus files, numpy for exact cosine."""

    def __init__(self, docs_path: str, emb_path: str, emb: np.ndarray):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{docs_path}')")
        self.con.execute(f"CREATE VIEW emb AS SELECT * FROM read_parquet('{emb_path}')")
        self.emb = emb.astype(np.float64)
        self.unit = self.emb / np.linalg.norm(self.emb, axis=1, keepdims=True)

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def check_ranked(self, got: list[tuple], sql: str) -> str | None:
        """(row_id, score) lists, scores compared to 1e-9."""
        want = self.rows(sql)
        if [g[0] for g in got] != [w[0] for w in want]:
            return _diff("ranking", [g[0] for g in got], [w[0] for w in want])
        for g, w in zip(got, want):
            if abs(g[1] - w[1]) > 1e-9 * max(1.0, abs(w[1])):
                return f"score of {g[0]}: got {g[1]} want {w[1]}"
        return None

    def check_ids(self, got: list[int], sql: str) -> str | None:
        return _diff("doc ids", sorted(got), sorted(r[0] for r in self.rows(sql)))

    def exact_topk(self, vec: list[float], k: int) -> tuple[np.ndarray, np.ndarray]:
        q = np.asarray(vec, dtype=np.float64)
        cos = self.unit @ (q / np.linalg.norm(q))
        order = np.lexsort((np.arange(len(cos)), -cos))[:k]
        return order, cos

    def check_ann(self, got: list[tuple], vec: list[float], k: int) -> tuple[str | None, float]:
        """``got`` = [(rank, neighbor_id, cos)]. Well-formed top-k whose
        reported cosines are the true ones; returns (problem, recall@k)."""
        exact, cos = self.exact_topk(vec, k)
        ids = [g[1] for g in got]
        recall = len(set(ids) & set(exact.tolist())) / k
        if [g[0] for g in got] != list(range(1, k + 1)) or len(set(ids)) != k:
            return f"ann: ranks {[g[0] for g in got]} ids {ids}", recall
        for _, nid, c in got:
            if not 0 <= nid < len(cos) or abs(cos[nid] - c) > 2e-6:
                return f"ann: neighbor {nid} cos {c} ref {cos[nid]}", recall
        return None, recall


# -- ingest: against the generator's ground truth ------------------------------


def check_verdicts(doc_ids: list[int], junk: set, verdicts: dict) -> str | None:
    """Every generated clean document kept, every junk document dropped."""
    want = {d: d not in junk for d in doc_ids}
    bad = sorted(d for d in want.keys() | verdicts.keys() if verdicts.get(d) != want.get(d))
    return f"quality_filter: {len(bad)} wrong verdicts, e.g. {bad[:5]}" if bad else None


def check_dup_pairs(texts: dict, exact: list, pairs: list, threshold: float) -> str | None:
    """Every injected exact copy flagged; every reported pair's true word
    3-gram Jaccard at or above the threshold."""
    found = set(pairs)
    missing = [p for p in (tuple(sorted(e)) for e in exact) if p not in found]
    if missing:
        return f"minhash: exact copies not flagged {missing[:5]}"
    for a, b in pairs:
        j = jaccard(texts[a], texts[b])
        if j < threshold - 1e-9:
            return f"minhash: pair {(a, b)} true jaccard {j:.4f} < {threshold}"
    return None


def shingles(text: str, n: int = 3) -> set:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0
