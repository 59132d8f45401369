"""Seeded input generator for the lakeshed benchmark.

Everything the engine sees is made here from ``--seed``: the same seed and
scale give byte-identical parquet and changelog text. Shapes follow the
star-schema fixtures (``orders``, ``lineitem``, ``documents``,
``embeddings``) so every engine path runs on the columns it was built for;
``sf`` scales row counts the way the fixture sets do (sf0.1 = 150k orders,
~600k lineitems).

The document corpus is replicated with the copy construction of the dedup
scaling probe: copy ``i`` maps every content token through a per-copy
bijection and permutes the embedding dimensions, so within-copy duplicate
structure is kept exactly and cross-copy similarity collapses. Unlike the
probe's ``t§ci`` suffix, the bijection here is a letter rotation of content
words only (stopwords are left alone): it keeps word length, alphabet and
stopword counts, so every copy gets the same quality-filter verdicts as
copy 0. Verified-pair, cluster and survivor counts are therefore exactly
``copies ×`` the one-copy values.
"""

from __future__ import annotations

import datetime as dt
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1992, 1, 1)
DAYS = 2405  # 1992-01-01 .. 1998-08-02, the TPC-H order-date span
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
COPY_STRIDE = 10_000_000  # doc_id offset per corpus copy
DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so changing one stream's
    size never shifts another's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts(days: np.ndarray) -> pa.Array:
    us = (days.astype(np.int64) * 86_400_000_000
          + int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def orders_lineitem(seed: int, sf: float) -> tuple[pa.Table, pa.Table]:
    r = _rng(seed, "orders")
    n = max(int(1_500_000 * sf), 100)
    keys = np.arange(n, dtype=np.int64)
    odays = r.integers(0, DAYS - 151, n)
    orders = pa.table({
        "o_orderkey": keys,
        "o_custkey": r.integers(0, max(n // 10, 10), n),
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": np.round(r.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": r.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n)
    lk = np.repeat(keys, lines)
    m = len(lk)
    lineno = (np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = r.integers(1, 51, m).astype(np.float64)
    ship = np.repeat(odays, lines) + r.integers(1, 122, m)
    lineitem = pa.table({
        "l_orderkey": lk,
        "l_partkey": r.integers(0, max(n // 7, 10), m),
        "l_suppkey": r.integers(0, max(n // 150, 10), m),
        "l_linenumber": lineno.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, m), 2),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": r.choice(np.array(["A", "N", "R"]), m),
        "l_linestatus": np.where(ship > 1270, "O", "F"),
        "l_shipdate": _ts(ship),
    })
    return orders, lineitem


def _shift(copy: int) -> int:
    """Letter rotation of corpus copy ``copy``; distinct for 26 copies."""
    return copy * 7 % 26


def _rotate(word: str, k: int) -> str:
    return "".join(chr((ord(ch) - 97 + k) % 26 + 97) for ch in word)


def _vocab(r: np.random.Generator, size: int, copies: int) -> list[str]:
    """Content words whose rotations under every copy's shift are distinct
    from each other's and from the stopwords, so the per-copy token maps
    are jointly injective."""
    out: list[str] = []
    taken = set(STOPWORDS)
    letters = np.array(list(string.ascii_lowercase))
    while len(out) < size:
        w = "".join(r.choice(letters, int(r.integers(3, 10))))
        images = {_rotate(w, _shift(c)) for c in range(copies)}
        if not images & taken:
            out.append(w)
            taken |= images
    return out


def corpus(seed: int, n_docs: int, copies: int) -> tuple[pa.Table, pa.Table]:
    """``copies`` replicas of an ``n_docs`` corpus (documents, embeddings).

    Copy 0 plants the structure the pipeline removes: documents outside
    the quality window, exact duplicates (case/whitespace variants),
    near-duplicate edit chains (3-gram Jaccard ≈ 0.8-0.95, so transitive
    clusters form), and byte-identical embedding twins for semantic dedup.
    """
    r = _rng(seed, "corpus")
    vocab = _vocab(r, 3000, copies)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    p /= p.sum()
    docs: list[tuple[list[str], bool]] = []   # (tokens, symbol soup)
    for i in range(n_docs):
        kind = r.random()
        if i > 0 and kind < 0.06:
            docs.append(docs[int(r.integers(0, i))])            # exact dup
            continue
        if i > 0 and kind < 0.16:
            toks, soup = docs[int(r.integers(max(0, i - 40), i))]
            toks = list(toks)
            toks[int(r.integers(0, len(toks)))] = \
                vocab[int(r.choice(len(vocab), p=p))]           # near dup
            docs.append((toks, soup))
            continue
        n = int(r.integers(15, 96))
        words = [vocab[int(x)] for x in r.choice(len(vocab), n, p=p)]
        stop = r.random(n) < 0.22
        toks = [STOPWORDS[int(r.integers(0, len(STOPWORDS)))] if s else w
                for w, s in zip(words, stop)]
        docs.append((toks, r.random() < 0.05))
    styles = r.integers(0, 3, n_docs)  # exact dups differ only by case/ws

    emb = r.standard_normal((n_docs, DIM)).astype(np.float32)
    twin = r.random(n_docs) < 0.05
    for i in np.nonzero(twin)[0]:
        if i > 0:
            emb[i] = emb[int(r.integers(0, i))]

    ids, texts, vec_ids, vecs = [], [], [], []
    for c in range(copies):
        mapping = {w: _rotate(w, _shift(c)) for w in vocab}
        perm = np.arange(DIM) if c == 0 else _rng(seed, f"perm{c}").permutation(DIM)
        for i, (toks, soup) in enumerate(docs):
            words = [mapping.get(t, t) + ("%#" if soup else "") for t in toks]
            sep = "  " if styles[i] == 1 else " "
            txt = sep.join(words)
            if styles[i] == 2:
                txt = txt.capitalize()
            ids.append(c * COPY_STRIDE + i)
            texts.append(txt)
        vec_ids.extend(c * COPY_STRIDE + np.arange(n_docs))
        vecs.append(emb[:, perm])
    docs_t = pa.table({"doc_id": pa.array(ids, pa.int64()),
                       "text": pa.array(texts, pa.string())})
    flat = np.concatenate(vecs).reshape(-1)
    emb_t = pa.table({
        "vec_id": pa.array(np.asarray(vec_ids, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(flat) + 1, DIM, dtype=np.int32)),
            pa.array(flat, pa.float32())),
    })
    return docs_t, emb_t


RECENT = 20_000   # upserts and deletes reach back at most this many keys
# YCSB's "latest" request distribution: Zipf with its default constant 0.99
# over the distance from the newest key (Cooper et al., SoCC 2010)
_ZIPF = 1.0 / np.arange(1, RECENT + 1) ** 0.99
_ZIPF /= _ZIPF.sum()


def changelog_batch(r: np.random.Generator, next_key: int, lines: int,
                    malformed: float = 0.03) -> tuple[list[str], int]:
    """One changelog micro-batch as ``type,block_number,hash`` text lines.

    Mix: 37% inserts of fresh keys, 42% upserts and 18% deletes of existing
    keys drawn Zipf-skewed toward the most recent keys (bounded to the
    newest ``RECENT``, so a batch's file footprint does not hinge on a rare
    far-tail draw), and 3% malformed lines (wrong arity, non-integer key,
    unknown kind) the parser must drop. The split is a choice, not a
    measured feed: changes of live rows are the largest share, and there
    are about half as many deletes as inserts so the table grows slowly
    and lookups keep finding rows. An update is an ``I`` on a live key: the
    line protocol has only ``I`` and ``D``. Returns the lines and the next
    unused key."""
    out = []
    for _ in range(lines):
        u = r.random()
        h = "%016x" % int(r.integers(0, 2**63))
        if u < malformed:
            bad = int(r.integers(0, 3))
            out.append((f"I,{next_key}", f"I,k{next_key},{h}",
                        f"X,{next_key},{h}")[bad])
        elif u < 0.40:
            out.append(f"I,{next_key},{h}")
            next_key += 1
        else:
            back = min(int(r.choice(RECENT, p=_ZIPF)) + 1, next_key)
            kind = "D" if u > 0.82 else "I"
            out.append(f"{kind},{next_key - back},{h}")
    return out, next_key


def replay(state: dict[int, str], lines: list[str]) -> None:
    """Pure-Python last-writer-wins replay of changelog lines onto
    ``state`` — the reference the ingested table must equal. Mirrors the
    parser's contract: exactly three fields, an integer key, kind I or D."""
    for ln in lines:
        parts = ln.split(",")
        if len(parts) != 3 or parts[0] not in ("I", "D"):
            continue
        try:
            k = int(parts[1])
        except ValueError:
            continue
        if parts[0] == "I":
            state[k] = parts[2]
        else:
            state.pop(k, None)


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
