"""Seeded input generator for the benchmark.

Everything the program under test sees is produced here from one seed:
parquet files written with pyarrow (byte-identical for a seed), plus
the query keys, append batches and gate batches each workload replays.
The generator also records, for every planted document, the category
it was planted as, so the oracle can check the answers without using
any index.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
DE_STOP = ["der", "die", "das", "und", "zu", "den", "ist", "von", "mit", "nicht"]
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
DIM = 32
N_CENTERS = 16

_SYL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu", "ba", "ze",
        "fo", "gi", "hu", "ja"]
# 16 x 16 two-syllable words plus 16 x 4 three-syllable ones: a fixed,
# seed-independent vocabulary, so text queries name the same terms on
# every seed and only their frequencies move
VOCAB = [a + b for a in _SYL for b in _SYL] + [a + b + "n" for a in _SYL for b in _SYL[:4]]


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent stream per workload; any integer seed works."""
    return np.random.default_rng([seed % 2**64, stream])


def _zipf_p(n: int, s: float = 1.1, shift: float = 4.0) -> np.ndarray:
    w = 1.0 / (np.arange(n) + shift) ** s
    return w / w.sum()


_VOCAB_P = _zipf_p(len(VOCAB))


def shingles(text: str, k: int = 3) -> frozenset:
    """Distinct k-word shingles, whitespace tokens (the engine's contract)."""
    toks = text.split()
    if len(toks) < k:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def repetition(text: str, n: int = 3) -> float:
    toks = text.split()
    if len(toks) < n:
        return 0.0
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    return 1.0 - len(set(grams)) / len(grams)


def _words(rng: np.random.Generator, n: int, stop: List[str]) -> List[str]:
    toks = list(np.array(VOCAB)[rng.choice(len(VOCAB), n, p=_VOCAB_P)])
    for i in np.flatnonzero(rng.random(n) < 0.2):
        toks[i] = stop[int(rng.integers(len(stop)))]
    return toks


def english_doc(rng: np.random.Generator, lo: int = 40, hi: int = 90) -> str:
    """A document that passes every clean gate: >= 30 tokens, English by
    stopword hits, 3-gram repetition well under 0.2."""
    while True:
        toks = _words(rng, int(rng.integers(lo, hi)), EN_STOP)
        text = " ".join(toks)
        if repetition(text) < 0.1 and any(t in EN_STOP for t in toks):
            return text


def edit_doc(rng: np.random.Generator, text: str, threshold: float) -> str:
    """Replace one or two tokens so the edit stays a near-duplicate at or
    above ``threshold`` (3-shingle Jaccard)."""
    while True:
        toks = text.split()
        for i in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
            toks[int(i)] = VOCAB[int(rng.integers(len(VOCAB)))]
        out = " ".join(toks)
        if out != text and jaccard(out, text) >= threshold:
            return out


#: modification time of the base files. Every generated file carries a
#: fixed one: the program records data files' mtimes in its indexes, so
#: a seed's inputs are the same on every run, metadata included.
MTIME0 = T0_US // 1_000_000


def _write(table: pa.Table, path: str, mtime: int = MTIME0) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    os.utime(path, (mtime, mtime))


# ------------------------------------------------------------------ events
def events(rng: np.random.Generator, n_rows: int, first_id: int, day0: float,
           days: float, n_users: int, user0: int = 0) -> pa.Table:
    """Events sorted by ``ts``; ``event_id`` follows ``ts``. Each user is
    active in a window of about three days and users' activity is
    Zipf-skewed, so block postings on ``user_id`` prune some files while
    ``event_type`` (uniform) prunes none."""
    counts = rng.multinomial(n_rows, _zipf_p(n_users, 0.9, 8.0)[rng.permutation(n_users)])
    users = np.repeat(np.arange(user0, user0 + n_users), counts)
    start = rng.uniform(day0, day0 + max(days - 3.0, 0.0), n_users)
    win = min(3.0, days)
    ts = (T0_US + ((start[users - user0] + rng.uniform(0, win, n_rows)) * DAY_US)).astype(np.int64)
    order = np.argsort(ts, kind="stable")
    ts, users = ts[order], users[order]
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_rows)]
    value = np.round(rng.gamma(2.0, 25.0, n_rows), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_rows).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n_rows), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def documents(ids: List[int], texts: List[str], source: str) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "source": pa.array([source] * len(ids), pa.string()),
    })


def embeddings(rng: np.random.Generator, centers: np.ndarray, first_id: int, n: int) -> pa.Table:
    """Vectors in well-separated Gaussian blobs: the IVF index's probed
    clusters then hold every exact nearest neighbour of a query drawn
    near a blob, so the index answer equals brute force."""
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + rng.normal(0.0, 0.05, (n, centers.shape[1]))
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def blob_centers(rng: np.random.Generator) -> np.ndarray:
    c = rng.normal(0.0, 1.0, (N_CENTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


# ----------------------------------------------------------------- inputs
@dataclass
class Inputs:
    """Paths of the generated tables plus the workload's replay script."""

    root: str
    tables: Dict[str, str] = field(default_factory=dict)
    script: Dict = field(default_factory=dict)

    def digest(self) -> str:
        """sha256 over every generated file (name and bytes) and the
        replay script — equal seeds give equal digests."""
        h = hashlib.sha256()
        for dirpath, _, names in sorted(os.walk(self.root)):
            for name in sorted(names):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, self.root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
        h.update(repr(self.script).encode())
        return h.hexdigest()


N_EVENTS = 100_000
N_EVENT_FILES = 16
N_USERS = 1500
N_DOCS = 2000
N_DOC_FILES = 8
N_VECS = 2000
N_VEC_FILES = 4
EVENT_DAYS = 30.0


def _base_tables(rng: np.random.Generator, root: str, inp: Inputs) -> np.ndarray:
    ev = events(rng, N_EVENTS, 0, 0.0, EVENT_DAYS, N_USERS)
    per = -(-N_EVENTS // N_EVENT_FILES)
    for i in range(N_EVENT_FILES):
        _write(ev.slice(i * per, per), f"{root}/events/part-{i:05d}.parquet")
    texts = [english_doc(rng) for _ in range(N_DOCS)]
    per = N_DOCS // N_DOC_FILES
    for i in range(N_DOC_FILES):
        _write(documents(list(range(i * per, (i + 1) * per)), texts[i * per:(i + 1) * per], f"src{i}"),
               f"{root}/documents/part-{i:05d}.parquet")
    centers = blob_centers(rng)
    em = embeddings(rng, centers, 0, N_VECS)
    per = N_VECS // N_VEC_FILES
    for i in range(N_VEC_FILES):
        _write(em.slice(i * per, per), f"{root}/embeddings/part-{i:05d}.parquet")
    for t in ("events", "documents", "embeddings"):
        inp.tables[t] = f"{root}/{t}"
    return centers


def _zipf_keys(rng: np.random.Generator, domain: np.ndarray, n: int) -> List:
    """``n`` keys from ``domain``, Zipf-skewed over a seeded ranking."""
    ranked = domain[rng.permutation(len(domain))]
    return ranked[rng.choice(len(ranked), n, p=_zipf_p(len(ranked), 1.2, 1.0))].tolist()


LOOKUP_KINDS = ("block_eq", "block_and", "block_or", "engine_count", "bloom_point",
                "zone_range", "text_term", "text_bool", "text_topn", "ann_topk")


def lookup_script(rng: np.random.Generator, centers: np.ndarray, n_queries: int) -> List[Tuple]:
    """A fixed cycle over every query kind; keys drawn Zipf-skewed."""
    users = np.arange(N_USERS)
    ukeys = _zipf_keys(rng, users, n_queries * 2)
    eids = _zipf_keys(rng, np.arange(N_EVENTS), n_queries)
    days = _zipf_keys(rng, np.arange(int(EVENT_DAYS) - 1), n_queries)
    terms = _zipf_keys(rng, np.array(VOCAB[:200]), n_queries * 2)
    etypes = _zipf_keys(rng, np.array(EVENT_TYPES), n_queries * 2)
    out = []
    for i in range(n_queries):
        kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
        if kind == "block_eq":
            key = ("user_id", int(ukeys[2 * i]))
        elif kind == "block_and":
            key = (str(etypes[2 * i]), int(ukeys[2 * i]))
        elif kind == "block_or":
            key = (int(ukeys[2 * i]), int(ukeys[2 * i + 1]))
        elif kind == "engine_count":
            key = (str(etypes[2 * i]),)
        elif kind == "bloom_point":
            key = (int(eids[i]),)
        elif kind == "zone_range":
            key = (int(days[i]),)
        elif kind == "text_term":
            key = (str(terms[2 * i]),)
        elif kind in ("text_bool", "text_topn"):
            key = (str(terms[2 * i]), str(terms[2 * i + 1]))
        else:
            c = int(rng.integers(len(centers)))
            q = centers[c] + rng.normal(0.0, 0.05, centers.shape[1])
            key = tuple(round(float(x), 6) for x in q)
        out.append((kind, key))
    return out


N_QUERIES = 400


def make_lookup(seed: int, root: str) -> Inputs:
    rng = _rng(seed, 1)
    inp = Inputs(root)
    centers = _base_tables(rng, root, inp)
    inp.script = {"queries": lookup_script(rng, centers, N_QUERIES)}
    return inp


BATCH_EVENTS, BATCH_DOCS, BATCH_VECS = 2000, 100, 100
BATCH_ROWS = BATCH_EVENTS + BATCH_DOCS + BATCH_VECS
APPEND_BATCHES = 24


def make_append(seed: int, root: str) -> Inputs:
    """Base tables plus APPEND_BATCHES staged batches. Batch ``k`` lands one
    new file in each table (events in a fresh time window). Even batches,
    the first included, also rewrite an existing events file and delete
    an existing documents file."""
    rng = _rng(seed, 2)
    inp = Inputs(root)
    centers = _base_tables(rng, root, inp)
    stage = f"{root}/_staged"
    batches = []
    next_doc = N_DOCS
    for k in range(APPEND_BATCHES):
        day0 = EVENT_DAYS + k * 0.5
        first_event = N_EVENTS + k * BATCH_EVENTS
        ev = events(rng, BATCH_EVENTS, first_event, day0, 0.5, 40, user0=N_USERS + 40 * k)
        mtime = MTIME0 + 3600 * (k + 1)  # batch k lands an hour after batch k-1
        _write(ev, f"{stage}/{k}/events.parquet", mtime)
        ids = list(range(next_doc, next_doc + BATCH_DOCS))
        next_doc += BATCH_DOCS
        _write(documents(ids, [english_doc(rng) for _ in ids], f"batch{k}"),
               f"{stage}/{k}/documents.parquet", mtime)
        first_vec = N_VECS + k * BATCH_VECS
        _write(embeddings(rng, centers, first_vec, BATCH_VECS), f"{stage}/{k}/embeddings.parquet",
               mtime)
        b = {
            "events_day": day0,
            "first_event": first_event,
            "term": VOCAB[int(rng.integers(0, 60))],
            "user": int(ev.column("user_id")[0].as_py()),
            "vec_probe": first_vec + int(rng.integers(BATCH_VECS)),
        }
        if k % 2 == 0:
            b["rewrite_events"] = f"part-{int(rng.integers(N_EVENT_FILES)):05d}.parquet"
            b["delete_doc_file"] = f"part-{(k // 2) % N_DOC_FILES:05d}.parquet"
        batches.append(b)
    inp.script = {"batches": batches}
    return inp


GATE_MIX = (("novel", 0.5), ("near_dup", 0.2), ("exact_dup", 0.08), ("intra_dup", 0.1),
            ("too_short", 0.04), ("lang", 0.04), ("repetitive", 0.04))


GATE_BATCHES, GATE_BATCH_DOCS, GATE_THRESHOLD = 12, 250, 0.8


def make_gate(seed: int, root: str) -> Inputs:
    """Corpus documents plus GATE_BATCHES ingest batches of
    GATE_BATCH_DOCS docs. Each batch holds the GATE_MIX shares exactly, in
    a seeded order, so every batch has the same amount of each kind of
    work and only the documents themselves change with the seed: novel
    docs, near-dups of corpus docs (1-2 token edits, Jaccard >=
    GATE_THRESHOLD), exact copies of corpus docs,
    near-dups of an earlier doc of the same batch, and docs built to fail
    one clean gate each (too short, German, repetitive)."""
    rng = _rng(seed, 3)
    inp = Inputs(root)
    corpus = [english_doc(rng) for _ in range(N_DOCS)]
    per = N_DOCS // N_DOC_FILES
    for i in range(N_DOC_FILES):
        _write(documents(list(range(i * per, (i + 1) * per)), corpus[i * per:(i + 1) * per], f"src{i}"),
               f"{root}/documents/part-{i:05d}.parquet")
    inp.tables["documents"] = f"{root}/documents"
    mix = [name for name, share in GATE_MIX for _ in range(round(share * GATE_BATCH_DOCS))]
    assert len(mix) == GATE_BATCH_DOCS
    batches = []
    next_id = 1_000_000
    for k in range(GATE_BATCHES):
        cats = [mix[i] for i in rng.permutation(len(mix))]
        first = cats.index("novel")  # an intra-batch dup needs a novel doc before it
        cats[0], cats[first] = cats[first], cats[0]
        ids, texts, kinds, src = [], [], [], []
        for cat in cats:
            j = None
            if cat == "novel":
                t = english_doc(rng)
            elif cat == "near_dup":
                j = int(rng.integers(N_DOCS))
                t = edit_doc(rng, corpus[j], GATE_THRESHOLD)
            elif cat == "exact_dup":
                j = int(rng.integers(N_DOCS))
                t = corpus[j]
            elif cat == "intra_dup":
                novel = [i for i, c in enumerate(kinds) if c == "novel"]
                j = ids[novel[int(rng.integers(len(novel)))]]
                t = edit_doc(rng, texts[ids.index(j)], GATE_THRESHOLD)
            elif cat == "too_short":
                t = " ".join(_words(rng, int(rng.integers(5, 25)), EN_STOP))
            elif cat == "lang":
                t = " ".join(_words(rng, int(rng.integers(40, 90)), DE_STOP))
                while repetition(t) >= 0.1:
                    t = " ".join(_words(rng, int(rng.integers(40, 90)), DE_STOP))
            else:
                # the stopword keeps it English, so the repetition gate is
                # the first one it fails
                unit = " ".join(_words(rng, int(rng.integers(4, 8)), EN_STOP) + ["the"])
                t = " ".join([unit] * int(rng.integers(8, 14)))
            ids.append(next_id)
            next_id += 1
            texts.append(t)
            kinds.append(cat)
            src.append(j)
        _write(documents(ids, texts, f"batch{k}"), f"{root}/_staged/{k}/documents.parquet")
        batches.append({"ids": ids, "kinds": kinds, "src": src})
    inp.script = {"batches": batches, "threshold": GATE_THRESHOLD}
    return inp


MAKERS = {"lookup": make_lookup, "append_refresh": make_append, "dedup_gate": make_gate}
