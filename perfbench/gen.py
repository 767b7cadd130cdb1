"""Seeded table and corpus generators for the ``key_mix`` workload.

``gen_tables`` seeds numpy from the workload seed and writes one parquet
file per table, in the layout graft.Tables loads. The corpus carries
planted junk, exact and near duplicates and PII; the output checks compare
every key against an oracle over the same files. The same seed always
produces the same inputs; the caller caches them per seed.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_SHARE = [0.50, 0.20, 0.15, 0.10, 0.05]  # skewed on purpose
STOPWORDS = ["the", "a"]  # TextOps.stopwords
VOCAB = 4000  # words per language


# ----------------------------------------------------------------- text

def _vocabulary(rng, lang, size):
    """``size`` distinct pronounceable words for one language: a syllable
    inventory per language keeps the vocabularies disjoint, so cross-lang
    documents share no 3-gram shingles."""
    cons = {"en": "bcdfglmnprst", "de": "bdfghklmnrstz", "es": "bcdlmnprstv",
            "fr": "bcdfjlmnprtv", "zh": "hjklmnqswxyz"}[lang]
    vows = {"en": "aeiou", "de": "aeiouy", "es": "aeio", "fr": "aeiouy",
            "zh": "aeiou"}[lang]
    sylls = [c + v for c in cons for v in vows]
    words, seen = [], set()
    while len(words) < size:
        n = int(rng.integers(2, 4))
        w = lang[0] + "".join(sylls[int(i)] for i in rng.integers(0, len(sylls), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _zipf_probs(n, s=1.07):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class TextModel:
    """Zipfian word sampler over a per-language vocabulary of ``VOCAB``
    words, with the engine's stopwords mixed in at a fixed rate (Gopher's
    stop-word rule needs them)."""

    def __init__(self, rng):
        self.rng = rng
        self.vocab = {l: _vocabulary(rng, l, VOCAB) for l in LANGS}
        self.probs = _zipf_probs(VOCAB)

    def doc(self, lang, n_tok):
        rng = self.rng
        toks = self.vocab[lang][rng.choice(len(self.probs), n_tok, p=self.probs)]
        stop = rng.random(n_tok) < 0.08
        toks[stop] = np.array(STOPWORDS, dtype=object)[rng.integers(0, 2, int(stop.sum()))]
        return list(toks)


def _pii(rng, i, kind):
    """One PII string of class ``kind`` (email, IPv4, phone); values vary
    per doc, so only redaction makes two copies identical."""
    if kind == 0:
        return f" contact u{i}x{int(rng.integers(0, 999))}@mail.example.org"
    if kind == 1:
        return f" from 10.{int(rng.integers(0, 256))}.{int(rng.integers(0, 256))}.7"
    return f" call 555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"


def _write(path, table):
    pq.write_table(table, path, row_group_size=1 << 20)


# ----------------------------------------------------- curation corpus

def corpus(rng, n_docs):
    """A corpus with planted junk, exact duplicates (verbatim and with a
    different PII string, which redaction makes identical), near-duplicates
    (one or two words substituted) and PII.

    Returns a list of (doc_id, text, lang)."""
    model = TextModel(rng)
    texts, langs, bases = [], [], []
    lang_idx = rng.choice(len(LANGS), n_docs, p=LANG_SHARE)
    kind = rng.random(n_docs)
    for i in range(n_docs):
        lang = LANGS[int(lang_idx[i])]
        k = kind[i]
        if i > 50 and k < 0.04:  # exact duplicate of an earlier base doc
            j = int(rng.integers(0, len(bases)))
            src = bases[j]
            texts.append(src[0] + (_pii(rng, i, src[2]) if src[2] is not None else ""))
            langs.append(src[1])
            continue
        if i > 50 and k < 0.08:  # near duplicate: substitute 1-2 words
            j = int(rng.integers(0, len(bases)))
            src = bases[j]
            toks = src[0].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                p = int(rng.integers(0, len(toks)))
                toks[p] = model.vocab[src[1]][int(rng.integers(0, VOCAB))]
            t = " ".join(toks) + (_pii(rng, i, src[2]) if src[2] is not None else "")
            texts.append(t)
            langs.append(src[1])
            continue
        if k < 0.13:  # junk: a repeated word or a too-short fragment
            w = model.vocab[lang][int(rng.integers(0, 50))]
            n = int(rng.integers(30, 80)) if k < 0.105 else int(rng.integers(3, 10))
            texts.append(" ".join([w] * n))
            langs.append(lang)
            continue
        base = " ".join(model.doc(lang, int(rng.integers(60, 180))))
        pii = int(rng.integers(0, 3)) if k > 0.9 else None
        bases.append((base, lang, pii))
        texts.append(base + (_pii(rng, i, pii) if pii is not None else ""))
        langs.append(lang)
    return [(i, texts[i], langs[i]) for i in range(n_docs)]


def _docs_table(rows):
    return pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                     "text": pa.array([r[1] for r in rows], pa.string()),
                     "lang": pa.array([r[2] for r in rows], pa.string())})


# ---------------------------------------------------------- OLAP tables

def gen_tables(out, seed, sf, n_docs):
    """TPC-H-shaped star schema at scale factor ``sf`` plus ``events`` and
    ``n_docs`` ``documents``, in the layout and types graft.Tables loads."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_ev = int(1500000 * sf), int(1000000 * sf)
    us = lambda y: np.datetime64(f"{y}-01-01", "us")
    day = np.timedelta64(86400 * 10**6, "us")

    def w(name, cols):
        _write(os.path.join(out, f"{name}.parquet"), pa.table(cols))

    w("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)
    w("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], pa.string())})
    w("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))})
    adj = np.array(["small", "red", "large", "blue", "steel", "green"], dtype=object)
    noun = np.array(["ring", "widget", "bolt", "gear", "panel"], dtype=object)
    ptype = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"], dtype=object)
    w("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(adj[rng.integers(0, 6, n_part)] + " " + noun[rng.integers(0, 5, n_part)], pa.string()),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(ptype[rng.integers(0, 5, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1 % 1100, 2))})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    odate = us(1992) + rng.integers(0, 2400, n_ord) * day
    # skewed customers: a few hot keys carry many orders (skew_agg, topk)
    cust = np.where(rng.random(n_ord) < 0.1, rng.integers(0, 20, n_ord),
                    rng.integers(0, n_cust, n_ord)).astype(np.int64)
    w("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(cust),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], pa.string())})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 120, n_li) * day)})
    etypes = np.array(["click", "view", "purchase", "error", "login"], dtype=object)
    ets = np.sort(np.datetime64("2024-01-01", "us")
                  + rng.integers(0, 7 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    w("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ets),
        "user_id": pa.array(np.minimum(rng.zipf(1.3, n_ev), 500).astype(np.int64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    rows = corpus(rng, n_docs)
    t = _docs_table(rows)
    t = t.append_column("source", pa.array(["web"] * len(rows), pa.string()))
    t = t.append_column("n_chars", pa.array([len(r[1]) for r in rows], pa.int64()))
    _write(os.path.join(out, "documents.parquet"), t)
