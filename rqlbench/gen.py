"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, stream, index)`` drawn with
``numpy.random.default_rng`` and written with pyarrow (no pandas metadata,
fixed compression), so the same seed gives byte-identical parquet. Prices
and amounts are multiples of 0.25 and quantities are whole numbers: their
sums are exact in binary floating point, so Spark and DuckDB agree bit for
bit whatever order they add in, and the output checks need no tolerance.

Each generator returns a summary (row counts and planted ids) that the
harness prints next to its metrics.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# stream ids: one independent random stream per table family
_TPCH, _CORPUS, _INGEST = 1, 2, 3

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _quarters(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Doubles that are exact multiples of 0.25 in [lo, hi)."""
    return rng.integers(lo * 4, hi * 4, n).astype(np.float64) / 4.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


# ------------------------------------------------------------------ TPC-H


def tpch(out_dir: str, seed: int, scale: float) -> dict:
    """TPC-H-shaped ``customer``, ``orders``, ``lineitem`` and ``events``
    (the columns the feature chains read). ``scale`` 1.0 is sf0.1's row
    counts: 15k customers, 150k orders, ~600k lineitems, 100k events."""
    rng = np.random.default_rng([seed, _TPCH])
    os.makedirs(out_dir, exist_ok=True)
    n_c = max(50, int(15_000 * scale))
    n_o = max(200, int(150_000 * scale))
    n_e = max(200, int(100_000 * scale))
    n_part = max(100, int(20_000 * scale))
    n_supp = max(20, int(1_000 * scale))

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c, dtype=np.int32)),
        "c_acctbal": pa.array(_quarters(rng, -999, 9_999, n_c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_c)]),
    }), os.path.join(out_dir, "customer.parquet"))

    o_day = rng.integers(0, 2_400, n_o)  # 1992-01-01 .. mid-1998
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_quarters(rng, 1_000, 400_000, n_o)),
        "o_orderdate": _ts(_EPOCH_1992 + o_day * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_o)]),
    }), os.path.join(out_dir, "orders.parquet"))

    lines = rng.integers(1, 8, n_o)  # 1..7 lines per order, mean 4
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_l) - starts + 1).astype(np.int32)
    ship = _EPOCH_1992 + (np.repeat(o_day, lines) + rng.integers(1, 122, n_l)) * _DAY_US
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_quarters(rng, 900, 100_000, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_l)]),
        "l_shipdate": _ts(ship),
    }), os.path.join(out_dir, "lineitem.parquet"))

    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * 86_400, n_e)) * 1_000_000
    _write(pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(10, n_e // 50), n_e, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_e)]),
        "value": pa.array(_quarters(rng, 0, 500, n_e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    }), os.path.join(out_dir, "events.parquet"))
    return {"customer": n_c, "orders": n_o, "lineitem": n_l, "events": n_e}


# ------------------------------------------------------------------ text


def _vocab() -> np.ndarray:
    """2000 pseudo-words, fixed across seeds (the seed varies documents,
    not the language)."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(2600)}
    return np.array(sorted(words)[:2000])


_VOCAB = _vocab()
_ZIPF = 1.0 / (np.arange(len(_VOCAB)) + 20.0)
_ZIPF /= _ZIPF.sum()


def _texts(rng, n: int, lo: int = 40, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = _VOCAB[rng.choice(len(_VOCAB), int(lens.sum()), p=_ZIPF)]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]


def _perturb(rng, text: str, n_swaps: int) -> str:
    words = text.split(" ")
    for pos in rng.choice(len(words), n_swaps, replace=False):
        words[pos] = _VOCAB[rng.integers(len(_VOCAB))]
    return " ".join(words)


def _url_variant(url: str, k: int) -> str:
    """A spelling of ``url`` that url_normalize maps back to ``url``:
    scheme/host case, ``www.``, default port, doubled and trailing slashes,
    tracking parameters and fragments."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    forms = [
        f"{scheme.upper()}://WWW.{host.upper()}/{path}/?utm_source=feed{k}",
        f"{scheme}://www.{host}:443//{path}#section{k}",
        f"{scheme}://{host.upper()}/{path}//?fbclid=x{k}&utm_medium=mail",
    ]
    return forms[k % len(forms)]


def curation_corpus(out_dir: str, seed: int, rep: int, n_docs: int) -> dict:
    """One fresh crawl for the curation pipeline: ``docs.parquet``
    (doc_id, url, text, lang) and ``eval.parquet`` (the benchmark set the
    corpus is decontaminated against).

    Planted rows (ids above every clean doc, so dedup keeps the original):
    exact text copies under new URLs, URL duplicates (same page spelled
    differently, new text), near-duplicates (a few words swapped) and
    contaminated docs (an eval passage plus a short tail). Low-quality
    docs (too short, or one word repeated) exercise the quality gate."""
    rng = np.random.default_rng([seed, _CORPUS, rep])
    os.makedirs(out_dir, exist_ok=True)
    n_exact = n_url = n_near = max(2, n_docs // 20)
    n_cont, n_lowq = max(2, n_docs // 30), max(2, n_docs // 20)
    n_clean = n_docs - n_exact - n_url - n_near - n_cont - n_lowq
    n_eval = max(4, n_docs // 60)

    text = _texts(rng, n_clean)
    lang = list(np.array(LANGS)[rng.choice(4, n_clean, p=[0.6, 0.15, 0.15, 0.1])])
    url = [f"https://site{rng.integers(0, 200)}.example.com/p/{rep}/{i}"
           for i in range(n_clean)]
    ids = list(range(n_clean))
    planted: dict[str, list[int]] = {"exact": [], "url": [], "near": [],
                                     "contaminated": [], "low_quality": []}

    def add(kind, t, u, lg):
        planted[kind].append(len(ids))
        ids.append(len(ids))
        text.append(t)
        url.append(u)
        lang.append(lg)

    for k, src in enumerate(rng.choice(n_clean, n_exact, replace=False)):
        add("exact", text[src], f"https://mirror{k % 7}.example.org/{rep}/{k}", lang[src])
    for k, src in enumerate(rng.choice(n_clean, n_url, replace=False)):
        add("url", _texts(rng, 1)[0], _url_variant(url[src], k), lang[src])
    for k, src in enumerate(rng.choice(n_clean, n_near, replace=False)):
        add("near", _perturb(rng, text[src], 2),
            f"https://near{k % 5}.example.net/{rep}/{k}", lang[src])
    passages = _texts(rng, n_eval, 40, 41)
    for k in range(n_cont):
        tail = _texts(rng, 1, 8, 9)[0]
        add("contaminated", f"{passages[k % n_eval]} {tail}",
            f"https://leak.example.com/{rep}/{k}", "en")
    for k in range(n_lowq):
        lowq = (_texts(rng, 1, 8, 12)[0] if k % 2
                else " ".join([_VOCAB[rng.integers(len(_VOCAB))]] * 40))
        add("low_quality", lowq, f"https://spam.example.com/{rep}/{k}", "en")

    order = rng.permutation(len(ids))
    _write(pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "url": pa.array(np.array(url)[order]),
        "text": pa.array(np.array(text)[order]),
        "lang": pa.array(np.array(lang)[order]),
    }), os.path.join(out_dir, "docs.parquet"))
    _write(pa.table({
        "eval_id": pa.array(np.arange(n_eval, dtype=np.int64)),
        "text": pa.array(passages),
    }), os.path.join(out_dir, "eval.parquet"))
    return {"docs": len(ids), "eval": n_eval, "planted": planted}


# ------------------------------------------------------------------ ingest

DIM = 64


def _embeddings(rng, centers: np.ndarray, n: int) -> np.ndarray:
    c = centers[rng.integers(0, len(centers), n)]
    v = c + 1.5 * rng.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _ingest_table(ids, texts, embs) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(list(texts)),
        "embedding": pa.array(list(embs), type=pa.list_(pa.float32())),
    })


def ingest_inputs(out_dir: str, seed: int, n_accepted: int, n_batches: int,
                  batch_size: int) -> dict:
    """The accepted corpus (``accepted.parquet``) plus ``n_batches`` new
    batches (``batch_000.parquet`` ...), each row a doc with its text and a
    64-d unit embedding.

    Each batch plants exact text copies (half of an accepted doc, half of a
    clean doc from the previous batch, which the loop has folded into the
    index by then) under fresh embeddings, and exact embedding copies of
    accepted docs under fresh text. Ids are unique across all files."""
    rng = np.random.default_rng([seed, _INGEST])
    os.makedirs(out_dir, exist_ok=True)
    centers = rng.standard_normal((32, DIM))
    acc_text = _texts(rng, n_accepted)
    acc_emb = _embeddings(rng, centers, n_accepted)
    _write(_ingest_table(range(n_accepted), acc_text, acc_emb),
           os.path.join(out_dir, "accepted.parquet"))

    n_txt = max(2, batch_size // 10)
    n_vec = max(2, batch_size // 20)
    n_new = batch_size - n_txt - n_vec
    next_id = n_accepted
    prev_clean: list[tuple[int, str]] = []
    batches = []
    for b in range(n_batches):
        ids = list(range(next_id, next_id + batch_size))
        next_id += batch_size
        texts = _texts(rng, n_new)
        embs = list(_embeddings(rng, centers, n_new))
        clean = list(zip(ids[:n_new], texts))
        text_src = []
        for k in range(n_txt):
            if prev_clean and k % 2:
                src_id, src_text = prev_clean[rng.integers(len(prev_clean))]
            else:
                src_id = int(rng.integers(n_accepted))
                src_text = acc_text[src_id]
            text_src.append(src_id)
            texts.append(src_text)
        embs.extend(_embeddings(rng, centers, n_txt))
        vec_src = [int(s) for s in rng.choice(n_accepted, n_vec, replace=False)]
        texts.extend(_texts(rng, n_vec))
        embs.extend(acc_emb[s] for s in vec_src)
        _write(_ingest_table(ids, texts, embs),
               os.path.join(out_dir, f"batch_{b:03d}.parquet"))
        batches.append({
            "rows": batch_size,
            "text_copies": dict(zip(ids[n_new:n_new + n_txt], text_src)),
            "vector_copies": dict(zip(ids[n_new + n_txt:], vec_src)),
        })
        prev_clean = clean
    return {"accepted": n_accepted, "batches": batches}
