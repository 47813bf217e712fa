"""Seeded input generators for the benchmark.

Everything the program reads is written here, from a seed, into the run's
work directory: the web-document corpus the KG pipeline and the curation
operators read (`documents.parquet`), the TPC-H-ish tables the BSBM mapping
reads, and the SPARQL request stream with its DuckDB twins.  The shapes
follow the repository's test data: single-row-group parquet written through
pandas/pyarrow, a 30-word vocabulary, 10-100 words per document, 5% of
documents a near-copy (`... dup`) of an earlier one.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from rdflib_r2r_spark import bsbm

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

# the kg-small corpus is one fixed corpus (the stand-in for the stored sf0.1
# corpus); the run's seed only permutes its row order, so its triple-set
# hash can be pinned
KG_SMALL_CORPUS_SEED = 0
KG_SMALL_DOCS = 5000


def _texts(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> list[str]:
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    offs = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[words[offs[i]:offs[i + 1]]]) for i in range(n)]
    # near-duplicates: a later document repeats an earlier one plus a token
    dup = rng.random(n) < dup_share
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.flatnonzero(dup[1:]) + 1:
        texts[i] = texts[src[i]] + " dup"
    return texts


def documents_frame(n: int, seed: int, dup_share: float = 0.05) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    texts = _texts(rng, n, dup_share)
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_parquet(path, index=False, compression="snappy")


def kg_small_corpus(out_dir: str, seed: int, n_docs: int = KG_SMALL_DOCS) -> int:
    """The fixed corpus, rows permuted by ``seed``.  Returns the doc count."""
    df = documents_frame(n_docs, KG_SMALL_CORPUS_SEED)
    perm = np.random.default_rng(seed).permutation(len(df))
    write_parquet(df.iloc[perm].reset_index(drop=True), f"{out_dir}/documents.parquet")
    return len(df)


@dataclass(frozen=True)
class DupGroup:
    doc_ids: tuple[int, ...]


def kg_large_corpus(out_dir: str, seed: int, base_docs: int, fanout: int,
                    n_groups: int, group_size: int) -> tuple[int, list[DupGroup]]:
    """A ``fanout``-fold corpus of seeded base documents, plus ``n_groups``
    hot groups of ``group_size`` exact-duplicate pages each.

    Replica r > 0 suffixes every token with ``x<r>`` (the fan-out that
    ``bench.py``'s ``replicate`` makes), so replicas share no shingles and the
    work grows linearly.  The planted groups are what real crawls add and
    that fan-out never makes: identical page bodies under distinct urls.
    Their texts carry a ``g<k>`` token, so they share no text with the rest.
    """
    rng = np.random.default_rng(seed)
    base = documents_frame(base_docs, seed)
    parts = []
    for r in range(fanout):
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + r * base_docs
        if r:
            rep["text"] = [" ".join(w + f"x{r}" for w in t.split(" ")) for t in rep["text"]]
        parts.append(rep)
    next_id = base_docs * fanout
    groups = []
    for k in range(n_groups):
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(rng.integers(30, 101)))]
        text = " ".join(w + f"g{k}" for w in words)
        ids = np.arange(next_id, next_id + group_size, dtype=np.int64)
        next_id += group_size
        parts.append(pd.DataFrame({
            "doc_id": ids, "text": [text] * group_size,
            "lang": LANGS[k % len(LANGS)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.int64(len(text)),
        }))
        groups.append(DupGroup(tuple(int(i) for i in ids)))
    df = pd.concat(parts, ignore_index=True)
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    write_parquet(df, f"{out_dir}/documents.parquet")
    return len(df), groups


# ---------------------------------------------------------------------------
# TPC-H-ish tables (the BSBM mapping's sources)
# ---------------------------------------------------------------------------

N_NATIONS = 25
N_BRANDS = 25
N_SIZES = 50
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
DATE_LO = np.datetime64("1995-01-01")
DATE_HI = np.datetime64("2001-08-01")


def tpch_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """part, supplier, nation, customer, orders, lineitem at scale ``sf``
    (sf 0.1 = 20k parts, 600k lineitems).  Returns the row counts."""
    rng = np.random.default_rng(seed)
    n_part = int(200_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(n, extra=0):
        span = int((DATE_HI - DATE_LO).astype(int)) + extra
        return (DATE_LO + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")

    def pick(values, n):
        return np.array(values)[rng.integers(0, len(values), n)]

    tables = {
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(N_NATIONS, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": np.arange(N_NATIONS, dtype=np.int32) % 5,
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(ADJ, n_part), pick(NOUN, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, N_BRANDS + 1, n_part)],
            "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
            "p_size": rng.integers(1, N_SIZES + 1, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, N_NATIONS, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n_cust),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days(n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["O", "F"], n_li),
            "l_shipdate": days(n_li, extra=95),
        }),
    }
    for name, df in tables.items():
        write_parquet(df, f"{out_dir}/{name}.parquet")
    return {name: len(df) for name, df in tables.items()}


# ---------------------------------------------------------------------------
# BSBM request stream: the 8 query shapes with constants from the data domain
# ---------------------------------------------------------------------------

SHAPES = ("bsbm_bi1", "bsbm_bi2", "bsbm_bi3", "bsbm_bi4", "bsbm_bi5",
          "bsbm_bi7", "bsbm_explore1", "bsbm_explore5")

# per shape: (parameter, pattern in bsbm.QUERIES, its count, pattern in
# bsbm.ORACLES, its count); `{}` marks where the value goes, and each pattern
# must occur exactly its count of times in the shipped text
_CTRY = f"<{bsbm.CTRY}"
_INST = f"<{bsbm.INST}"
_SUBST = {
    "bsbm_bi1": [("country", f"{_CTRY}C{{}}>", 1, "% 5 = {}", 1),
                 ("nation", f"{_CTRY}NATION_{{}}>", 1, "n_name = 'NATION_{}'", 1)],
    "bsbm_bi2": [("product", f"{_INST}Product{{}}>", 2, "p_partkey = {}", 1),
                 ("product", None, 0, "p_partkey <> {}", 1)],
    "bsbm_bi3": [("month_after", '"{}-01"', 1, "'{}-01'", 1),
                 ("month", '"{}-01"', 2, "'{}-01'", 2),
                 ("month_before", '"{}-01"', 1, "'{}-01'", 1)],
    "bsbm_bi4": [("size", f"{_INST}ProductType{{}}>", 3, "p_size = {}", 2)],
    "bsbm_bi5": [("size", f"{_INST}ProductType{{}}>", 3, "p_size = {}", 1)],
    "bsbm_bi7": [("size", f"{_INST}ProductType{{}}>", 1, "p_size = {}", 1),
                 ("nation", f"{_CTRY}NATION_{{}}>", 1, "n_name = 'NATION_{}'", 1)],
    "bsbm_explore1": [("size", f"{_INST}ProductType{{}}>", 1, "p_size = {}", 2),
                      ("size", f"{_INST}ProductFeature{{}}>", 1, None, 0),
                      ("feature", f"{_INST}ProductFeature{{}}>", 1, "+ 100 = {}", 1),
                      ("min_size", '"{}"^^', 1, "p_size > {}", 1)],
    "bsbm_explore5": [("product", f"{_INST}Product{{}}>", 4, "p_partkey = {}", 2),
                      ("product", None, 0, "p_partkey <> {}", 1)],
}
# the constants the shipped texts carry, per (shape, parameter)
_SHIPPED = {
    ("bsbm_bi1", "country"): 2, ("bsbm_bi1", "nation"): 3,
    ("bsbm_bi2", "product"): 84,
    ("bsbm_bi3", "month_after"): "1997-06", ("bsbm_bi3", "month"): "1997-05",
    ("bsbm_bi3", "month_before"): "1997-04",
    ("bsbm_bi4", "size"): 11, ("bsbm_bi5", "size"): 21,
    ("bsbm_bi7", "size"): 11, ("bsbm_bi7", "nation"): 7,
    ("bsbm_explore1", "size"): 18, ("bsbm_explore1", "feature"): 107,
    ("bsbm_explore1", "min_size"): 10,
    ("bsbm_explore5", "product"): 30,
}
# explore-query shapes order by a non-unique label under LIMIT: rows tied on
# the label at the cut are equally correct answers (checked tie-aware)
TIED_ORDER = {"bsbm_explore1": ["label"], "bsbm_explore5": ["productLabel"]}


def _month(i: int) -> str:
    y, m = divmod(i, 12)
    return f"{1995 + y}-{m + 1:02d}"


def draw_params(rng: np.random.Generator, n_part: int) -> dict:
    month = int(rng.integers(1, 78))  # 1995-02 .. 2001-06
    size = int(rng.integers(1, N_SIZES + 1))
    return {
        "country": int(rng.integers(0, 5)),
        "nation": int(rng.integers(0, N_NATIONS)),
        "product": int(rng.integers(0, n_part)),
        "month_after": _month(month + 1),
        "month": _month(month),
        "month_before": _month(month - 1),
        "size": size,
        "feature": 100 + int(rng.integers(1, N_BRANDS + 1)),
        "min_size": int(rng.integers(0, size + 1)),
    }


def instantiate(shape: str, params: dict) -> tuple[str, str]:
    """(SPARQL text, DuckDB twin) of ``shape`` with ``params`` substituted.

    bi3's three months overlap (one window's end is the next one's start),
    so all replacements go through placeholders before any value lands.  Every replacement checks its occurrence count, so a change
    to the shipped texts fails loudly here instead of silently."""
    q, o = bsbm.QUERIES[shape], bsbm.ORACLES[shape]
    pending = []
    for k, (name, q_pat, q_n, o_pat, o_n) in enumerate(_SUBST[shape]):
        old = _SHIPPED[(shape, name)]
        mark = f"\x00{k}\x00"
        for text_is_q, pat, n in ((True, q_pat, q_n), (False, o_pat, o_n)):
            if pat is None:
                continue
            src = pat.format(old)
            text = q if text_is_q else o
            if text.count(src) != n:
                raise ValueError(f"{shape}: {src!r} occurs {text.count(src)}x, expected {n}")
            text = text.replace(src, pat.format(mark))
            if text_is_q:
                q = text
            else:
                o = text
        pending.append((mark, params[name]))
    for mark, value in pending:
        q = q.replace(mark, str(value))
        o = o.replace(mark, str(value))
    return q, o


@dataclass(frozen=True)
class Request:
    shape: str
    sparql: str
    sql: str
    repeat: bool


def bsbm_stream(seed: int, n_part: int, repeat_every: int = 5) -> Iterator[Request]:
    """Endless round-robin over the 8 shapes with fresh constants; every
    ``repeat_every``-th request instead repeats an earlier request's text
    (a prepared-plan-cache hit)."""
    rng = np.random.default_rng(seed)
    sent: list[Request] = []
    for i in itertools.count():
        if i % repeat_every == repeat_every - 1:
            r = sent[int(rng.integers(0, len(sent)))]
            req = Request(r.shape, r.sparql, r.sql, True)
        else:
            shape = SHAPES[len([r for r in sent if not r.repeat]) % len(SHAPES)]
            q, o = instantiate(shape, draw_params(rng, n_part))
            req = Request(shape, q, o, False)
        sent.append(req)
        yield req
