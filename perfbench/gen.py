"""Seed-driven input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical tables, another seed gives other tables.
Tables are written as single-file parquet with the column names and types
of the repository's star-schema test data (``documents``, ``events``,
``lineitem`` ...), so registry queries and their DuckDB oracles run on
them unchanged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The star-schema documents use the same 30-word vocabulary as the
# repository's test data: its char-3-gram background similarity (~0.45)
# is what the registry's banding plans were tuned against.
STAR_WORDS = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.13, 0.14, 0.15)

# Near-duplicate variants are made at these word-edit rates; one cluster
# uses one rate, so the corpus spans easy and borderline duplicates.
EDIT_RATES = (0.02, 0.05, 0.1, 0.2, 0.3)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose): adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(2, 9, size=n)
    return np.array(["".join(rng.choice(letters, size=k)) for k in lens])


def _zipf_words(rng, vocab, weights, n_words):
    return list(vocab[rng.choice(len(vocab), size=n_words, p=weights)])


def _edit(rng, words, rate, vocab, weights):
    """Word-level substitutions, deletions and insertions at ``rate``."""
    out = []
    for w in words:
        r = rng.random()
        if r < rate / 3:
            continue
        if r < 2 * rate / 3:
            out.append(vocab[rng.choice(len(vocab), p=weights)])
            continue
        out.append(w)
        if r < rate:
            out.append(vocab[rng.choice(len(vocab), p=weights)])
    return out


@dataclass(frozen=True)
class Corpus:
    """A near-duplicate corpus: ``table`` has the star-schema documents
    columns plus an ``embedding`` vector; ``clusters`` lists the doc ids
    of every planted near-duplicate cluster (singletons excluded)."""

    table: pa.Table
    clusters: tuple[tuple[int, ...], ...]


def near_dup_corpus(seed: int, n_docs: int, *, mean_words: int = 110,
                    dup_share: float = 0.4, dim: int = 16,
                    first_id: int = 0, tag: str = "corpus") -> Corpus:
    """``n_docs`` documents over a Zipf vocabulary of 600 pseudo-words;
    about ``dup_share`` of them sit in planted clusters of 2-5 variants of
    one base text, each cluster at one of ``EDIT_RATES``.  Doc ids are a
    seed-shuffled permutation of ``first_id .. first_id + n_docs - 1`` so
    clusters are not contiguous.  Each cluster's vectors are one base
    vector plus noise that scales with its edit rate."""
    rng = _rng(seed, tag)
    vocab = _vocab(_rng(seed, "vocab"), 600)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    weights /= weights.sum()
    texts, vecs, members = [], [], []
    while len(texts) < n_docs:
        base = _zipf_words(rng, vocab, weights,
                           max(8, int(rng.normal(mean_words, mean_words / 4))))
        base_vec = rng.normal(0.0, 1.0, dim)
        size = 1
        if rng.random() < dup_share / 3.5:
            size = int(rng.integers(2, 6))
        size = min(size, n_docs - len(texts))
        rate = EDIT_RATES[int(rng.integers(len(EDIT_RATES)))]
        idx = []
        for k in range(size):
            words = base if k == 0 else _edit(rng, base, rate, vocab, weights)
            texts.append(" ".join(words))
            vecs.append(base_vec + rng.normal(0.0, rate, dim) * (k > 0))
            idx.append(len(texts) - 1)
        if size > 1:
            members.append(idx)
    ids = first_id + rng.permutation(n_docs)
    order = np.argsort(ids)
    lang = rng.choice(LANGS, size=n_docs, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(ids[order], pa.int64()),
        "text": pa.array([texts[i] for i in order], pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        "embedding": pa.array([vecs[i].astype(np.float32).tolist()
                               for i in order], pa.list_(pa.float32())),
    })
    clusters = tuple(tuple(sorted(int(ids[i]) for i in m)) for m in members)
    return Corpus(table, clusters)


def stream_batches(seed: int, base: Corpus, n_batches: int,
                   batch_docs: int) -> list[pa.Table]:
    """``n_batches`` arriving batches of ``batch_docs`` new documents.  A
    third of each batch re-uses (with edits) a text already indexed, from
    the base corpus or an earlier batch, so every probe has matches; the
    rest is fresh text.  Ids continue after the base corpus."""
    rng = _rng(seed, "stream")
    vocab = _vocab(_rng(seed, "vocab"), 600)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    weights /= weights.sum()
    seen = base.table.column("text").to_pylist()
    next_id = int(pa.compute.max(base.table.column("doc_id")).as_py()) + 1
    out = []
    for _ in range(n_batches):
        fresh = near_dup_corpus(int(rng.integers(1 << 31)), batch_docs,
                                first_id=next_id, dup_share=0.0,
                                tag="stream")
        texts = fresh.table.column("text").to_pylist()
        for i in rng.choice(batch_docs, size=batch_docs // 3, replace=False):
            src = seen[int(rng.integers(len(seen)))].split(" ")
            rate = EDIT_RATES[int(rng.integers(len(EDIT_RATES)))]
            texts[i] = " ".join(_edit(rng, src, rate, vocab, weights))
        batch = (fresh.table.drop(["text", "n_chars", "embedding"])
                 .append_column("text", pa.array(texts, pa.string()))
                 .append_column("n_chars",
                                pa.array([len(t) for t in texts], pa.int64())))
        out.append(batch.select(["doc_id", "text", "lang", "source",
                                 "n_chars"]))
        seen.extend(texts)
        next_id += batch_docs
    return out


def _ts(rng, start: str, days: int, n: int, *, whole_days: bool) -> pa.Array:
    base = np.datetime64(start, "us")
    if whole_days:
        off = rng.integers(0, days, size=n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86_400_000_000, size=n).astype(
            "timedelta64[us]")
    return pa.array(np.sort(base + off) if not whole_days else base + off,
                    pa.timestamp("us"))


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The repository's star schema at scale factor ``sf`` (sf 0.01 gives
    1,500 customers, 15,000 orders, 60,000 lineitems, 10,000 events, 500
    documents and 500 64-d embeddings)."""
    rng = _rng(seed, "star")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", 2404, n_ord, whole_days=True),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", 2498, n_li, whole_days=True)})
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(rng, "2024-01-01", 30, n_ev, whole_days=False),
        "user_id": pa.array(rng.integers(0, max(n_ev // 66, 2), n_ev),
                            pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": money(0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(STAR_WORDS)
    n_words = rng.integers(8, 90, n_doc)
    texts = [" ".join(rng.choice(words, k)) for k in n_words]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file (one row group) per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
