"""Index-free correctness oracle. It runs untimed, between operations.

- Relational answers: DuckDB over the live parquet files of a table.
- Text answers: a plain scan of every document's whitespace tokens.
- ANN answers: brute-force cosine over every live vector.
- Gate answers: the planted category of every document, and an exact
  3-shingle Jaccard recomputed for every flagged pair.
"""

from __future__ import annotations

import glob
import os
from collections import Counter
from typing import Dict, List, Sequence, Tuple

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import DAY_US, T0_US, jaccard


def live_files(table_dir: str) -> List[str]:
    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


class Relational:
    """Counts and rows over the live files of the events table."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.con = duckdb.connect()

    def _src(self) -> str:
        files = ", ".join(f"'{f}'" for f in live_files(self.table_dir))
        return f"read_parquet([{files}])"

    def count(self, where: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {self._src()} WHERE {where}").fetchone()[0]

    def rows(self, where: str, cols: str) -> List[Tuple]:
        q = f"SELECT {cols} FROM {self._src()} WHERE {where} ORDER BY ALL"
        return [tuple(r) for r in self.con.execute(q).fetchall()]

    def close(self) -> None:
        self.con.close()


def day_where(day0: float, days: float) -> str:
    """``ts BETWEEN`` the two day offsets, both ends inclusive, as epoch
    micros (the engine's session time zone is UTC)."""
    lo, hi = T0_US + int(day0 * DAY_US), T0_US + int((day0 + days) * DAY_US)
    return f"epoch_us(ts) BETWEEN {lo} AND {hi}"


class Text:
    """Token bags of every live document."""

    def __init__(self, table_dir: str):
        self.tf: Dict[int, Counter] = {}
        for f in live_files(table_dir):
            t = pq.read_table(f, columns=["doc_id", "text"])
            for i, s in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
                self.tf[i] = Counter(s.split())

    def count(self, *all_of: str) -> int:
        return sum(1 for c in self.tf.values() if all(t in c for t in all_of))

    def top_n_any(self, terms: Sequence[str], n: int) -> List[Tuple[int, int]]:
        """Top ``n`` docs containing any of ``terms``, scored by the summed
        frequency of each distinct term, doc_id ascending on ties."""
        terms = set(terms)
        scored = [(i, sum(c[t] for t in terms)) for i, c in self.tf.items()
                  if any(t in c for t in terms)]
        scored.sort(key=lambda r: (-r[1], r[0]))
        return scored[:n]


class Vectors:
    """Every live embedding, for brute-force cosine top-k."""

    def __init__(self, table_dir: str):
        ids, vecs = [], []
        for f in live_files(table_dir):
            t = pq.read_table(f, columns=["vec_id", "embedding"])
            ids.extend(t.column("vec_id").to_pylist())
            vecs.extend(t.column("embedding").to_pylist())
        self.ids = np.array(ids)
        m = np.array(vecs, dtype=np.float64)
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)

    def vector(self, vec_id: int) -> List[float]:
        return self.unit[int(np.flatnonzero(self.ids == vec_id)[0])].tolist()

    def topk(self, q: Sequence[float], k: int) -> List[Tuple[int, float]]:
        cos = self._cos(q)
        order = np.lexsort((self.ids, -cos))[:k]
        return [(int(self.ids[i]), float(cos[i])) for i in order]

    def _cos(self, q: Sequence[float]) -> np.ndarray:
        qv = np.asarray(q, dtype=np.float64)
        return self.unit @ (qv / np.linalg.norm(qv))

    def is_topk(self, q: Sequence[float], got: Sequence[Tuple[int, float]], k: int,
                tol: float = 1e-4) -> bool:
        """``got`` is a correct top-``k``: its cosines match brute force
        rank by rank and each id's own cosine, within ``tol`` (so ids
        whose cosines tie may come in either order)."""
        want = self.topk(q, k)
        if len(got) != len(want) or len({i for i, _ in got}) != len(got):
            return False
        cos = dict(zip(self.ids.tolist(), self._cos(q).tolist()))
        return all(
            abs(gc - wc) <= tol and gi in cos and abs(cos[gi] - gc) <= tol
            for (gi, gc), (_, wc) in zip(got, want)
        )


def check_gate_batch(kinds: Sequence[str], ids: Sequence[int], texts: Dict[int, str],
                     reasons: Dict[int, str], flagged: Dict[int, int],
                     threshold: float) -> Tuple[bool, Dict[str, int]]:
    """Check one gate batch against its plan. ``reasons`` maps every
    batch id to its clean-audit reason (None when kept), ``flagged`` maps
    every gated doc flagged as a near-dup to its ``dup_of``; ``texts``
    holds the text of every id a flag can point at.

    Wrong: a planted clean failure kept or given another reason, a doc
    planted to pass dropped, an exact copy of a corpus doc not flagged,
    or any flagged pair whose exact Jaccard is below the threshold.
    Returns (ok, tallies) where the tallies feed the recall metric."""
    ok = True
    seen_text = set()
    tally = Counter()
    for kind, i in zip(kinds, ids):
        t = texts[i]
        want = kind if kind in ("too_short", "lang", "repetitive") else None
        if want is None and t in seen_text:
            want = "exact_dup"  # a second identical copy inside the batch
        if want is None:
            seen_text.add(t)
        if reasons.get(i, "missing") != want:
            ok = False
        if want is not None:
            continue
        if kind in ("near_dup", "intra_dup"):
            tally["planted"] += 1
            tally["planted_flagged"] += i in flagged
        if kind == "exact_dup" and i not in flagged:
            ok = False
    for i, j in flagged.items():
        tally["flagged"] += 1
        if j not in texts or jaccard(texts[i], texts[j]) < threshold:
            ok = False
    return ok, dict(tally)
