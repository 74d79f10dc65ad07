"""Seeded input generators for the benchmark.

Every table is a pure function of (seed, size): the same arguments give
byte-identical parquet files. The analytics tables follow the schema and
value domains the query suite is written against (a TPC-H-like star schema
plus `events`, `documents` and `embeddings`); see FIXTURES.md section 2.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet",
                   compression="snappy")


def _days(rng, n, start, end):
    """`n` midnight timestamps drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def doc_texts(rng, n, dups):
    """`n` space-joined texts of 10-100 words; with `dups`, 5% repeat another
    text + ' dup'."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in lens]
    if dups:
        for i in np.flatnonzero(rng.random(n) < 0.05):
            texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def documents(rng, n, dups=True):
    texts = doc_texts(rng, n, dups)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def analytics_tables(out: Path, seed: int, sf: float) -> None:
    """The ten tables of the query suite at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string())})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    adj = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
    noun = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0)),
        "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"))})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = (np.cumsum(gaps) * 1e6).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)], pa.string())})
    _write(out, "documents", documents(rng, n_docs))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


def bars(out: Path, seed: int, symbols: int, per_symbol: int) -> int:
    """Hourly OHLCV bars: one seeded random walk per symbol. Returns rows."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n = symbols * per_symbol
    t0 = np.datetime64("2025-01-02T00:00:00", "us")
    hours = np.tile(np.arange(per_symbol), symbols).astype("timedelta64[h]")
    base = np.repeat(rng.uniform(20, 500, symbols), per_symbol)
    steps = rng.normal(0, 0.01, (symbols, per_symbol)).cumsum(axis=1).ravel()
    close = np.round(base * np.exp(steps), 4)
    open_ = np.round(close * (1 + rng.normal(0, 0.002, n)), 4)
    spread = np.abs(rng.normal(0, 0.004, n)) * close
    _write(out, "bars", {
        "symbol": pa.array(np.repeat([f"S{i:03d}" for i in range(symbols)],
                                     per_symbol).astype(object), pa.string()),
        "Datetime": pa.array((t0 + hours).astype("datetime64[us]")),
        "Open": pa.array(open_),
        "High": pa.array(np.round(np.maximum(open_, close) + spread, 4)),
        "Low": pa.array(np.round(np.minimum(open_, close) - spread, 4)),
        "Close": pa.array(close),
        "Volume": pa.array(rng.integers(1_000, 5_000_000, n))})
    return n


def corpus(out: Path, seed: int, docs: int, exact: int, near: int) -> dict:
    """`documents` plus injected exact copies and near-duplicate copies.

    The base documents carry no duplicates of their own, so every seed gives
    the dedup stages the same shape of work: `exact` exact pairs and `near`
    near-duplicate pairs, each with its own source.
    A near-duplicate of an English source of 50+ tokens replaces one token
    per 30 tokens: each edit changes at most five word 5-shingles, so the
    copy's shingle Jaccard with its source stays above 0.7. Returns the ids of the injected copies by kind.
    """
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    cols = documents(rng, docs, dups=False)
    texts = cols["text"].to_pylist()
    langs = cols["lang"].to_pylist()
    sources = cols["source"].to_pylist()
    first = {}
    for i, t in enumerate(texts):
        first.setdefault(t, i)
    long_en = [i for i, t in enumerate(texts)
               if langs[i] == "en" and len(t.split()) >= 50 and first[t] == i]
    picks = rng.choice(long_en, exact + near, replace=False)
    injected = {"exact": [], "near": []}
    for j, src in enumerate(picks):
        words = texts[src].split()
        if j >= exact:
            edits = max(1, (len(words) - 4) // 30)
            block = len(words) // edits
            for b in range(edits):
                k = b * block + int(rng.integers(0, block))
                words[k] = WORDS[(WORDS.index(words[k]) + 1) % len(WORDS)]
        new_id = docs + j
        texts.append(" ".join(words))
        langs.append("en")
        sources.append(sources[src])
        injected["exact" if j < exact else "near"].append(new_id)
    n = len(texts)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})
    return injected
