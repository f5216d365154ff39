"""Seeded fixtures for the benchmark.

`tables(dir, seed, sf, docs, vecs)` writes the ten parquet tables the
graft queries read, with the column names and physical types of the
TPC-H-like star schema the engine is developed against. The documents
follow the figures measured on that schema's fixtures (perfbench/README.md):
texts of 10-99 words drawn uniformly from a 30-word vocabulary, exactly
one document in 20 a copy of another one's text plus the word `dup`,
languages en 40% and de/es/fr/zh 15% each, `src{id % 20}` sources. The
other tables' value distributions are simple stand-ins: uniform keys,
categories and dates, `Customer#%09d` names, unit-norm 64-d embeddings.
Row counts depend only on the sizes, never on the seed, so every seed
does the same amount of work.

`corpus(dir, seed, files, words)` writes the plain-text corpus of the
MapReduce workload (Zipf word frequencies, non-ASCII letters) and
returns the word and document counts that word count and the inverted
index must reproduce.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng, start, n_days, n):
    """Midnight timestamps, uniform over `n_days` days from `start`."""
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf, docs, vecs):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    p = lambda t: os.path.join(out, f"{t}.parquet")
    _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": pa.array(REGIONS)})
    _write(p("nation"), {"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    keys = np.arange(n_part)
    _write(p("part"), {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            np.asarray(ADJ)[rng.integers(0, 8, n_part)],
            np.asarray(NOUN)[rng.integers(0, 8, n_part)])]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(p("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(start + np.sort(rng.integers(0, 30 * DAY_US, n_ev)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # The document texts depend on the size only and the seed permutes which
    # id (and row) each text gets: the near-duplicate graph, and with it the
    # number of rounds the graph loops run, is the same for every seed up
    # to relabelling. (Hash-based candidate pairs make the graph's density
    # swing with every change to the words themselves.)
    shape = np.random.default_rng([docs, 3])
    texts = [" ".join(np.asarray(DOC_WORDS)[shape.integers(0, len(DOC_WORDS), k)])
             for k in shape.integers(10, 100, docs)]
    for i in shape.choice(docs, docs // 20, replace=False):
        texts[i] = texts[shape.integers(0, docs)] + " dup"
    langs = np.asarray(LANGS, dtype=object)[shape.choice(len(LANGS), docs, p=LANG_P)]
    order = rng.permutation(docs)
    texts = [texts[i] for i in order]
    _write(p("documents"), {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[order], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(p("embeddings"), {
        "vec_id": pa.array(np.arange(vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, vecs), pa.int32())})


# Latin, Latin-1, Greek and Cyrillic letters: word count splits on
# non-letters (\p{L}), so every one of these stays inside a word.
LETTERS = "abcdefghijklmnopqrstuvwxyzéèüöñçåøαβγδλμπσжзиклмн"
PUNCT = [" ", " ", " ", " ", ", ", ". ", " - ", "; ", " 42 ", "\n"]


def corpus(out, seed, files, words, vocab=20_000):
    """Write `files` text files of `words` words each; return
    ({word: occurrences}, {word: sorted file names})."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    # word lengths and capitals per frequency rank depend on the size only,
    # so the corpus has the same bytes for every seed; the letters are seeded
    shape = np.random.default_rng([vocab, 4])
    letters = np.asarray(list(LETTERS))
    lens = shape.integers(2, 10, vocab)
    vocab_words = np.asarray(["".join(letters[rng.integers(0, len(letters), k)])
                              for k in lens])
    # capitalised variants are distinct words: the apps are case-sensitive
    caps = shape.random(vocab) < 0.1
    vocab_words[caps] = np.char.capitalize(vocab_words[caps])
    ranks = np.arange(1, vocab + 1)
    zipf = 1.0 / ranks
    zipf /= zipf.sum()
    counts, docs = {}, {}
    for f in range(files):
        name = f"pg-{f:03d}.txt"
        ws = vocab_words[rng.choice(vocab, words, p=zipf)]
        seps = np.asarray(PUNCT, dtype=object)[rng.integers(0, len(PUNCT), words)]
        with open(os.path.join(out, name), "w", encoding="utf-8") as fh:
            fh.write("".join(w + s for w, s in zip(ws, seps)))
        uniq, n = np.unique(ws, return_counts=True)
        for w, c in zip(uniq.tolist(), n.tolist()):
            counts[w] = counts.get(w, 0) + c
            docs.setdefault(w, []).append(name)
    # duplicate spellings in the vocabulary collapse into one word
    assert all(re.fullmatch(r"[^\W\d_]+", w) for w in counts)
    return counts, {w: sorted(d) for w, d in docs.items()}
