"""Seeded input generators for the graft benchmark.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical files. The engine only ever sees these files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- analytics_tpch: TPC-H-shaped star schema -------------------------
#
# Same tables, columns, types and value domains as the engine's test
# data (region nation customer supplier part orders lineitem), generated
# here rather than read, so a run depends on nothing outside its checkout.

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo, hi, n):
    """n timestamps at midnight, uniform over the days in [lo, hi]."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array((lo + d).astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str):
    pq.write_table(table, path, compression="snappy")


def tpch(out: str, seed: int, sf: float):
    """Writes the seven tables as <out>/<name>.parquet at scale `sf`
    (lineitem has 6M x sf rows, as in TPC-H)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    pick = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)}), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), f"{out}/supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pick(names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord)}), f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 6, n_line)  # the six (returnflag, linestatus) pairs
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "A", "N", "N", "R", "R"])[flags]),
        "l_linestatus": pa.array(np.array(["F", "O", "F", "O", "F", "O"])[flags]),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
        f"{out}/lineitem.parquet")


# --- kmeans_lloyd: 2-D Gaussian mixture as "x,y" text ------------------

def points(path: str, seed: int, n: int, k: int = 8):
    """n points from k Gaussian blobs with centres in a 1000 x 1000
    square, one "x,y" line each, four decimals. The blobs overlap, so
    Lloyd's per-axis tol of 1e-3 is not met within its 20 iterations on
    any seed and every job runs the same number of iterations."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.uniform(0, 1000, (k, 2))
    comp = rng.integers(0, k, n)
    xy = centres[comp] + rng.normal(0, 180, (n, 2))
    with open(path, "w") as f:
        f.write("\n".join(f"{x:.4f},{y:.4f}" for x, y in xy))
        f.write("\n")


# --- curate_dedup: documents with planted structure --------------------
#
# Background documents are English word salad in the style of the test
# corpus. Planted on top: near-duplicate clusters (a source document plus
# copies with one or two words replaced, word-3-shingle Jaccard >= 0.88
# to the source), exact copies, non-English documents, and low-quality
# documents (short, or mostly digits and punctuation).

EN_STOP = ["the", "a", "of", "to", "and", "is", "in", "it", "for", "an"]
FOREIGN = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "auf"],
    "es": ["el", "la", "de", "que", "y", "los", "con", "por"],
    "fr": ["le", "les", "et", "des", "est", "pas", "pour", "dans"],
}
_SYL = ["ba", "ce", "di", "fo", "gu", "ha", "ji", "ka", "lo", "mu", "ne", "pi",
        "ro", "sa", "te", "vu", "wa", "xe", "yo", "zi", "bra", "cle", "dri",
        "fla", "gro", "pla", "str", "tha"]


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL, rng.integers(2, 4))))
    return sorted(words)


def _english(rng, vocab, n_tok):
    stop = rng.random(n_tok) < 0.18
    toks = np.where(stop, np.array(EN_STOP)[rng.integers(0, len(EN_STOP), n_tok)],
                    np.array(vocab)[rng.integers(0, len(vocab), n_tok)])
    return list(toks)


def corpus(out: str, seed: int, n_docs: int, files: int = 8):
    """Writes at least n_docs (doc_id, text, lang, source) rows as
    `files` parquet files under out/; returns the row count and the
    planted near-duplicate clusters as lists of doc ids (source first).
    Rows are written in a seeded random order, so the copies of one
    source land in different files and partitions."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 2000)
    texts, langs, clusters = [], [], []

    def add(toks, lang):
        texts.append(" ".join(toks))
        langs.append(lang)
        return len(texts) - 1

    while len(texts) < n_docs:
        r = rng.random()
        if r < 0.62:                                  # plain English
            add(_english(rng, vocab, int(rng.integers(60, 200))), "en")
        elif r < 0.72:                                # near-dup cluster
            src = _english(rng, vocab, int(rng.integers(110, 200)))
            ids = [add(src, "en")]
            for _ in range(int(rng.integers(1, 5))):
                cp = list(src)
                for pos in rng.choice(len(cp), int(rng.integers(1, 3)), replace=False):
                    cp[pos] = vocab[rng.integers(0, len(vocab))]
                ids.append(add(cp, "en"))
            if rng.random() < 0.5:                    # plus an exact copy
                ids.append(add(src, "en"))
            clusters.append(ids)
        elif r < 0.85:                                # non-English
            lang = ["de", "es", "fr"][rng.integers(0, 3)]
            n_tok = int(rng.integers(60, 200))
            mark = rng.random(n_tok) < 0.3
            fw = FOREIGN[lang]
            toks = np.where(mark, np.array(fw)[rng.integers(0, len(fw), n_tok)],
                            np.array(vocab)[rng.integers(0, len(vocab), n_tok)])
            add(list(toks), lang)
        elif r < 0.93:                                # short, low quality
            add(_english(rng, vocab, int(rng.integers(5, 30))), "en")
        else:                                         # digits and symbols
            n_tok = int(rng.integers(60, 200))
            junk = [f"{rng.integers(0, 10**6)}#{rng.integers(0, 999)}!" for _ in range(n_tok // 2)]
            add(junk + _english(rng, vocab, n_tok - len(junk)), "en")

    n = len(texts)
    order = rng.permutation(n)
    pos = np.empty(n, np.int64)
    pos[order] = np.arange(n)
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "source": [f"src{i % 20}" for i in range(n)]})
    os.makedirs(out, exist_ok=True)
    per = -(-n // files)
    for f in range(files):
        _write(table.slice(f * per, per), f"{out}/part-{f:05d}.parquet")
    return n, [[int(pos[i]) for i in c] for c in clusters]
