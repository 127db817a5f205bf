"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (size, seed): the same arguments
write byte-identical inputs. The program under test only ever sees the
files written here.

- ``corpus``: the inverted-index input, a manifest plus N text files.
  Zipf(1.07) word ranks over a synthetic vocabulary whose first letters
  follow an English-like skew, and a share of tokens carrying case,
  punctuation, quote or digit noise that the normaliser must strip.
- ``tables``: a TPC-H-like star schema plus the text, event and
  embedding tables, in the column layout the engine's table loaders
  expect (one parquet file per table).
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Relative frequency of English words by first letter (a..z).
FIRST_LETTER = np.array([
    11.7, 4.4, 5.2, 3.2, 2.8, 4.0, 1.6, 4.2, 7.3, 0.5, 0.9, 2.4, 3.8,
    2.3, 7.6, 4.3, 0.2, 2.8, 6.7, 16.0, 1.2, 0.8, 5.5, 0.1, 0.8, 0.1])
# Relative frequency of letters inside English words (a..z).
LETTER = np.array([
    8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.2, 0.8, 4.0, 2.4,
    6.7, 7.5, 1.9, 0.1, 6.0, 6.3, 9.1, 2.8, 1.0, 2.4, 0.2, 2.0, 0.1])
ALPHA = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)

CORPUS_SIZES = {
    # files, tokens, vocabulary
    "full": (400, 1_000_000, 100_000),
    "tiny": (4, 3_000, 400),
}


def _vocabulary(rng, n):
    """n distinct lowercase words, in rank order."""
    words, seen = [], set()
    while len(words) < n:
        m = 2 * (n - len(words)) + 64
        lens = np.clip(rng.poisson(5.5, m), 1, 14)
        first = rng.choice(26, m, p=FIRST_LETTER / FIRST_LETTER.sum())
        rest = rng.choice(26, int(lens.sum()), p=LETTER / LETTER.sum())
        pos = 0
        for i in range(m):
            k = int(lens[i])
            w = bytes([ALPHA[first[i]]]) + ALPHA[rest[pos:pos + k - 1]].tobytes()
            pos += k - 1
            s = w.decode()
            if s not in seen:
                seen.add(s)
                words.append(s)
                if len(words) == n:
                    break
    return words


def _noisy(rng, w):
    """One of the spellings the reference normaliser folds back to ``w``."""
    kind = rng.integers(8)
    if kind == 0:
        return w.capitalize()
    if kind == 1:
        return w.upper()
    if kind == 2:
        return w + ",.;:!?"[rng.integers(6)]
    if kind == 3:
        return '"' + w + '"'
    if kind == 4:
        return "'" + w.capitalize() + "',"
    if kind == 5:
        cut = int(rng.integers(1, len(w) + 1))
        return w[:cut] + str(int(rng.integers(10, 1000))) + w[cut:]
    if kind == 6:
        cut = int(rng.integers(1, len(w) + 1))
        return w[:cut] + "'" + w[cut:] + ")"
    # A token with no letters at all: the normaliser must drop it.
    return ["--", "1999", "(12)", "...", "&"][rng.integers(5)]


def corpus(out_dir, size, seed):
    """Write ``manifest.txt`` and ``docs/f<i>.txt``."""
    files, tokens, vocab = CORPUS_SIZES[size]
    rng = np.random.Generator(np.random.PCG64(seed))
    words = np.array(_vocabulary(rng, vocab), dtype=object)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.07
    ids = rng.choice(vocab, tokens, p=p / p.sum())
    toks = words[ids]
    noise = np.flatnonzero(rng.random(tokens) < 0.17)
    for i in noise:
        toks[i] = _noisy(rng, toks[i])
    # Per-file token counts: lognormal shares, every file non-empty.
    share = rng.lognormal(0.0, 0.6, files)
    counts = np.maximum(1, np.floor(share / share.sum() * tokens)).astype(int)
    counts[-1] = max(1, tokens - int(counts[:-1].sum()))
    os.makedirs(os.path.join(out_dir, "docs"), exist_ok=True)
    seps = np.array([" ", " ", " ", " ", "  ", "\t"], dtype=object)
    pos = 0
    for f in range(files):
        chunk = toks[pos:pos + counts[f]]
        pos += counts[f]
        gaps = seps[rng.integers(len(seps), size=len(chunk))]
        gaps[11::12] = "\n"
        body = "".join(t + g for t, g in zip(chunk, gaps))
        with open(os.path.join(out_dir, "docs", f"f{f:04d}.txt"), "w") as fh:
            fh.write(body.rstrip(" \t") + "\n")
    with open(os.path.join(out_dir, "manifest.txt"), "w") as fh:
        fh.write(f"{files}\n")
        fh.writelines(f"docs/f{f:04d}.txt\n" for f in range(files))


# Scale factor of each table-size name (lineitem has ~6M x sf rows).
TABLE_SF = {"mix": 0.01, "tiny": 0.001}
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window"]


def _write(out_dir, name, df):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(out_dir, f"{name}.parquet"))


def _ts(rng, lo, hi, n, unit="D"):
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(f"timedelta64[{unit}]")
    off = rng.integers(0, span.astype(np.int64) + 1, n).astype(f"timedelta64[{unit}]")
    return (np.datetime64(lo).astype("datetime64[us]") + off).astype("datetime64[us]")


def tables(out_dir, size, seed):
    """Write the ten parquet tables."""
    sf = TABLE_SF[size]
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_evt = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_user = max(50, int(15_000 * sf))

    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = np.array(["red", "blue", "old", "new", "hot", "cold", "small", "large"])
    noun = np.array(["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = _ts(rng, "1995-01-01", "2001-08-01", n_ord)
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}))
    # 1..7 lines per order: (l_orderkey, l_linenumber) is a unique key.
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]")}))
    evt = np.sort(_ts(rng, "2024-01-01", "2024-01-30T23:59:59", n_evt, unit="us"))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": evt,
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_evt)],
        "value": np.round(rng.gamma(2.0, 25.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}))
    # Documents over a 30-word vocabulary; one in twenty is an earlier
    # document with " dup" appended, so the dedup queries find pairs.
    vocab = np.array(DOC_WORDS)
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))
    # Unit vectors around ten centroids (one per label).
    cent = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = cent[label] + rng.normal(0.0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": label.astype(np.int32)}))
