"""Seeded input generators for the benchmark.

Everything here is a pure function of (seed, parameters): the same seed
gives the same bytes. The engine only ever sees the files written here.

* ``reviews``: line-delimited Amazon-style review JSON for ``graft.Main``
  (22 categories, Zipf vocabulary, ~75 tokens per review, ~0.3% malformed
  lines or lines with a missing field).
* ``tables``: the ten parquet tables the declared queries read (TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  column types and value shapes of the repository's test corpora.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Category names and relative sizes of the reference devset counters
# (truncated names included: the source data has them).
CATEGORIES = {
    "Apps_for_Android": 2638, "Automotive": 1374, "Baby": 916, "Beauty": 2023,
    "Book": 22507, "CDs_and_Vinyl": 3749, "Cell_Phones_and_Accessorie": 3447,
    "Clothing_Shoes_and_Jewelry": 5749, "Digital_Music": 836,
    "Electronic": 7825, "Grocery_and_Gourmet_Food": 1297,
    "Health_and_Personal_Care": 2982, "Home_and_Kitche": 4254,
    "Kindle_Store": 3205, "Movies_and_TV": 4607, "Musical_Instrument": 500,
    "Office_Product": 1243, "Patio_Lawn_and_Garde": 994, "Pet_Supplie": 1235,
    "Sports_and_Outdoor": 3269, "Tools_and_Home_Improvement": 1926,
    "Toys_and_Game": 2253,
}

REVIEW_PARAMS = {
    "vocab": 20000,          # general-vocabulary size
    "zipf_s": 1.07,          # Zipf exponent of the general vocabulary
    "topic_words": 400,      # words boosted per category
    "mean_tokens": 75,       # tokens per review, uniform in [20, 130]
    "stopword_share": 0.35,  # share of tokens drawn from the stopword list
    "topic_share": 0.12,     # share drawn from the category's topic words
    "bad_share": 0.003,      # malformed lines + lines missing a field
}

# Decorations that exercise the tokenizer: stripped characters, digits,
# apostrophes, the NOT-stripped characters < > | ^, accented letters.
_PUNCT = [",", ".", "!", "?", ";", ":", ")", "...", "!!", "\"", "'s", "%"]
_EXTRA = ["<3", "^_^", "a|b", "5", "2019", "10/10", "don't", "€20", "§4",
          "café", "naïve", "Über", "->", "#1", "(great)", "[sic]", "x2",
          "well-made", "it's", "e-mail", "50%", "$15", "me@home", "\ttab"]
_SYL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da", "gu",
        "ri", "zo", "ba", "el", "on", "ar", "is", "um", "ex", "qu", "fy",
        "wen", "tor", "sal", "mon", "pri", "cle", "sta", "ble"]


def _words(rng, n):
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(_SYL, size=rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def reviews(path, seed, n, stopwords):
    """Write ``n`` review lines to ``path``; returns the generator record."""
    p = REVIEW_PARAMS
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_words(rng, p["vocab"]), dtype=object)
    ranks = np.arange(1, p["vocab"] + 1, dtype=np.float64)
    zipf = ranks ** -p["zipf_s"]
    zipf /= zipf.sum()
    cats = list(CATEGORIES)
    cw = np.array([CATEGORIES[c] for c in cats], dtype=np.float64)
    cw /= cw.sum()
    topics = [rng.choice(p["vocab"], size=p["topic_words"], replace=False)
              for _ in cats]
    stop = np.array(sorted(stopwords), dtype=object)

    lens = rng.integers(20, 2 * p["mean_tokens"] - 19, size=n)
    cat_idx = rng.choice(len(cats), size=n, p=cw)
    total = int(lens.sum())
    kind = rng.random(total)
    general = vocab[rng.choice(p["vocab"], size=total, p=zipf)]
    stops = stop[rng.integers(0, len(stop), size=total)]
    topic_pick = rng.integers(0, p["topic_words"], size=total)
    deco = rng.random(total)
    punct = rng.integers(0, len(_PUNCT), size=total)
    extra = rng.integers(0, len(_EXTRA), size=total)
    bad = rng.random(n)
    bad_kind = rng.integers(0, 3, size=n)

    # token choice and decoration, vectorized over all tokens
    topic_words = vocab[np.stack(topics)[np.repeat(cat_idx, lens), topic_pick]]
    toks = np.where(kind < p["stopword_share"], stops,
                    np.where(kind < p["stopword_share"] + p["topic_share"],
                             topic_words, general))
    for lo, hi, f in ((0.0, 0.06, str.capitalize), (0.17, 0.175, str.upper)):
        idx = np.nonzero((deco >= lo) & (deco < hi))[0]
        toks[idx] = [f(w) for w in toks[idx]]
    idx = np.nonzero((deco >= 0.06) & (deco < 0.14))[0]
    toks[idx] = [w + _PUNCT[q] for w, q in zip(toks[idx], punct[idx])]
    idx = np.nonzero((deco >= 0.14) & (deco < 0.17))[0]
    toks[idx] = [_EXTRA[q] for q in extra[idx]]

    bounds = np.concatenate([[0], np.cumsum(lens)])
    lines = []
    for i in range(n):
        rec = {"asin": f"B{seed % 997:03d}{i:07d}", "category": cats[int(cat_idx[i])],
               "reviewText": " ".join(toks[bounds[i]:bounds[i + 1]]),
               "overall": float(1 + i % 5)}
        if bad[i] < p["bad_share"]:
            if bad_kind[i] == 0:
                line = json.dumps(rec, ensure_ascii=False)[:-7]
            else:
                del rec["category" if bad_kind[i] == 1 else "reviewText"]
                line = json.dumps(rec, ensure_ascii=False)
        else:
            line = json.dumps(rec, ensure_ascii=False)
        lines.append(line)
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return {"reviews": n, "bytes": len(data), **p}


# Row counts per table at scale factor 1 (the test corpora's shapes:
# sf0.01 has 60k lineitem rows, 10k events, 500 documents/embeddings).
TABLE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
              "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
              "users": 15_000}
_DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "table", "data", "agg", "value", "key", "stream", "window", "a",
              "spark", "part", "group", "big", "sort", "query", "fast", "the"]
_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, size=n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def tables(out_dir, seed, sf, docs, vecs):
    """Write the ten tables under ``out_dir``; returns the generator record."""
    rng = np.random.default_rng([seed, 2])
    n = {k: max(1, int(round(v * sf))) for k, v in TABLE_ROWS.items()}
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)}
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}
    npart = n["part"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart),
                                              rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)}
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)}
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)}
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    texts = []
    for i in range(docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_DOC_WORDS, k)))
    langs = rng.choice(["en", "fr", "es", "zh", "de"], docs,
                       p=[0.44, 0.14, 0.14, 0.14, 0.14])
    t["documents"] = {
        "doc_id": np.arange(docs, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    e = rng.standard_normal((vecs, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, vecs).astype(np.int32)}
    rows = {}
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return {"sf": sf, "rows": rows}
