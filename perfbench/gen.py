"""Seeded input generators for the three workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Each generator also returns the ground truth the
benchmark checks the system's answers against (row counts and column
types for uploads, table contents for the read queries, Gopher/exact
dedup survivor counts for the curation corpus).
"""

from __future__ import annotations

import gzip
import os

import numpy as np

MB = 1024 * 1024

# ---------------------------------------------------------------- upload

# The upload mix cycles through these shapes, 0.2-2 MB each.
UPLOAD_CYCLE = ("utf8_quoted", "latin1", "multiline", "gzip", "wide_numeric")

# approximate CSV bytes per shape (before gzip), +-10 % seeded jitter
_TARGET_BYTES = {
    "utf8_quoted": 0.5 * MB,
    "latin1": 0.3 * MB,
    "multiline": 0.8 * MB,
    "gzip": 1.5 * MB,
    "wide_numeric": 1.8 * MB,
}

_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu".split()
)
_LATIN1_WORDS = np.array(
    "café crème naïve über straße fiancé déjà résumé smörgås piñata "
    "jalapeño façade".split()
)


def _ints(rng, n, lo=0, hi=1_000_000) -> list[str]:
    return list(map(str, rng.integers(lo, hi, n).tolist()))


def _money(rng, n, hi=1000.0) -> list[str]:
    # two decimals, never integer-shaped ("12.50", not "12")
    cents = rng.integers(1, int(hi * 100), n).tolist()
    return [f"{c // 100}.{c % 100:02d}" for c in cents]


def _pick(rng, words, n, prefix="") -> list[str]:
    ws = words.tolist()
    return [prefix + ws[i] for i in rng.integers(0, len(ws), n).tolist()]


def _join_rows(cols) -> str:
    """Rendered string columns -> CSV body lines."""
    return "\n".join(map(",".join, zip(*cols))) + "\n"


def _rows_for(target_bytes, bytes_per_row):
    return max(100, int(target_bytes / bytes_per_row))


def _upload_file(rng, shape: str, idx: int, outdir: str) -> dict:
    """Write one upload file; returns its ground truth."""
    target = _TARGET_BYTES[shape] * rng.uniform(0.9, 1.1)
    if shape in ("utf8_quoted", "gzip"):
        n = _rows_for(target, 44)
        # quoted field with an embedded comma
        name = [f'"{a}, {b}"' for a, b in zip(_pick(rng, _WORDS, n),
                                               _pick(rng, _WORDS, n))]
        amount = _money(rng, n)
        # a few empty cells: nulls must not demote the float type
        for i in np.flatnonzero(rng.random(n) < 0.01).tolist():
            amount[i] = ""
        header = "id,name,amount,qty,city\n"
        body = _join_rows([
            list(map(str, range(n))), name, amount, _ints(rng, n, 0, 500),
            _pick(rng, _WORDS, n, "city_"),
        ])
        types = {"id": "integer", "name": "text", "amount": "float",
                 "qty": "integer", "city": "text"}
        data = (header + body).encode("utf-8")
    elif shape == "latin1":
        n = _rows_for(target, 40)
        header = "numéro,prénom,größe,année\n"
        body = _join_rows([
            list(map(str, range(n))), _pick(rng, _LATIN1_WORDS, n),
            _money(rng, n, 250.0), _ints(rng, n, 1900, 2030),
        ])
        types = {"numéro": "integer", "prénom": "text", "größe": "float",
                 "année": "integer"}
        data = (header + body).encode("latin-1")
    elif shape == "multiline":
        n = _rows_for(target, 70)
        # quoted field with an embedded newline on every row
        body_col = [f'"line one {a}\nline two {b}"'
                    for a, b in zip(_pick(rng, _WORDS, n),
                                    _pick(rng, _WORDS, n))]
        header = "id,body,score\n"
        body = _join_rows([list(map(str, range(n))), body_col,
                           _money(rng, n, 100.0)])
        types = {"id": "integer", "body": "text", "score": "float"}
        data = (header + body).encode("utf-8")
    elif shape == "wide_numeric":
        ncols = 40
        n = _rows_for(target, ncols * 5.5)
        cols, types = [], {}
        for j in range(ncols):
            if j % 2 == 0:
                cols.append(_ints(rng, n, 0, 10_000))
                types[f"c{j}"] = "integer"
            else:
                cols.append(_money(rng, n, 10.0))
                types[f"c{j}"] = "float"
        header = ",".join(types) + "\n"
        data = (header + _join_rows(cols)).encode("utf-8")
    else:  # pragma: no cover - the cycle names every shape
        raise ValueError(shape)

    ext = ".csv.gz" if shape == "gzip" else ".csv"
    path = os.path.join(outdir, f"up{idx:03d}_{shape}{ext}")
    csv_bytes = len(data)
    if shape == "gzip":
        # mtime=0: the gzip header carries no clock, so the bytes
        # depend on the seed alone
        data = gzip.compress(data, compresslevel=6, mtime=0)
    with open(path, "wb") as f:
        f.write(data)
    return {
        "path": path,
        "filename": os.path.basename(path),
        "shape": shape,
        "rows": int(n),
        "types": types,
        "csv_bytes": csv_bytes,
        "file_bytes": len(data),
    }


def upload_files(seed: int, outdir: str, count: int) -> list[dict]:
    """`count` upload files following UPLOAD_CYCLE."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    return [_upload_file(rng, UPLOAD_CYCLE[i % len(UPLOAD_CYCLE)], i, outdir)
            for i in range(count)]


# ----------------------------------------------------------------- query

QUERY_KINDS = ("point", "page", "agg", "join")
N_SALES = 100_000
N_PRODUCTS = 1_000
N_CUSTOMERS = 20_000
_REGIONS = np.array(["north", "south", "east", "west", "central",
                     "coast", "mountain", "plains"])
_CATEGORIES = np.array([f"cat_{c}" for c in _WORDS[:20]])


def query_tables(seed: int, outdir: str, n_sales: int = N_SALES) -> dict:
    """The fact table `sales` and the dimension table `products`."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    sale_id = rng.permutation(n_sales)
    sales = os.path.join(outdir, "sales.csv")
    with open(sales, "w", encoding="utf-8") as f:
        f.write("sale_id,cust_id,prod_id,qty,price,region\n")
        f.write(_join_rows([
            list(map(str, sale_id.tolist())),
            _ints(rng, n_sales, 0, N_CUSTOMERS),
            _ints(rng, n_sales, 0, N_PRODUCTS),
            _ints(rng, n_sales, 1, 50),
            _money(rng, n_sales, 200.0),
            _pick(rng, _REGIONS, n_sales),
        ]))
    products = os.path.join(outdir, "products.csv")
    with open(products, "w", encoding="utf-8") as f:
        f.write("prod_id,category,brand,weight\n")
        f.write(_join_rows([
            list(map(str, range(N_PRODUCTS))),
            _pick(rng, _CATEGORIES, N_PRODUCTS),
            _pick(rng, _WORDS, N_PRODUCTS, "brand_"),
            _money(rng, N_PRODUCTS, 30.0),
        ]))
    return {"sales": sales, "products": products, "n_sales": n_sales}


def query_pool(seed: int, per_kind: int = 48,
               n_sales: int = N_SALES) -> dict[str, list[str]]:
    """Seeded SQL texts per query kind."""
    rng = np.random.default_rng([seed, 4])
    pool: dict[str, list[str]] = {k: [] for k in QUERY_KINDS}
    for _ in range(per_kind):
        k = int(rng.integers(0, n_sales))
        pool["point"].append(
            "SELECT sale_id, cust_id, prod_id, qty, price, region "
            f"FROM sales WHERE sale_id = {k}")
        k = int(rng.integers(0, n_sales - 1000))
        pool["page"].append(
            "SELECT sale_id, cust_id, qty, price FROM sales "
            f"WHERE sale_id >= {k} ORDER BY sale_id LIMIT 1000")
        lo = int(rng.integers(0, N_PRODUCTS - 200))
        pool["agg"].append(
            "SELECT region, count(*) AS n, sum(qty) AS q, "
            "sum(price * qty) AS revenue FROM sales "
            f"WHERE prod_id BETWEEN {lo} AND {lo + 199} "
            "GROUP BY region ORDER BY region")
        c = int(rng.integers(2_000, N_CUSTOMERS))
        pool["join"].append(
            "SELECT p.category, sum(s.qty) AS q, count(*) AS n "
            "FROM sales s JOIN products p ON s.prod_id = p.prod_id "
            f"WHERE s.cust_id < {c} GROUP BY p.category "
            "ORDER BY q DESC, p.category LIMIT 10")
    return pool


# ---------------------------------------------------------------- curate

# Distribution-matched twin of the sf0.1 `documents` table: sentences
# over a 31-word vocabulary, 10-100 tokens, 8 docs per 5000 sharing
# one text.
DOC_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window".split()
)
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
_TAG_ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def curate_corpus(seed: int, outdir: str, base_docs: int = 2_500,
                  copies: int = 2) -> dict:
    """Base corpus widened `copies` times: every non-stopword token
    of copy i gets a fixed-width seed-derived tag, so copies share no
    content shingles while each copy keeps the base's dup, near-dup
    and Gopher structure. doc_id % 10 == 0 is the decontamination
    benchmark, the rest is the corpus."""
    import pandas as pd

    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    n_tok = rng.integers(10, 101, base_docs)
    base = [list(DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), k)])
            for k in n_tok]
    dup = list(DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), 40)])
    for i in range(8 * base_docs // 5000):
        base[(i * 613) % base_docs] = dup
    # planted families: 2 % exact copies and 2 % one-token edits of a
    # long doc (shingle Jaccard ~0.85, above the 0.7 near-dup threshold)
    n_plant = base_docs // 50
    order = rng.permutation(base_docs).tolist()
    long_docs = [i for i in order if len(base[i]) >= 60]
    srcs, dsts = long_docs[:2 * n_plant], [i for i in order
                                           if len(base[i]) < 60]
    near_variants = set()
    for j in range(2 * n_plant):
        src, dst = srcs[j], dsts[j]
        doc = list(base[src])
        if j >= n_plant:
            pos = int(rng.integers(0, len(doc)))
            doc[pos] = "merge" if doc[pos] != "merge" else "window"
            near_variants.add(dst)
        base[dst] = doc
    tag_ids = rng.choice(len(_TAG_ALPHA) ** 2, copies, replace=False)
    ids, texts, variant = [], [], []
    stop = set(STOPWORDS)
    for c in range(copies):
        t = int(tag_ids[c])
        tag = "_" + _TAG_ALPHA[t // 52] + _TAG_ALPHA[t % 52]
        for d, toks in enumerate(base):
            ids.append(c * base_docs + d)
            texts.append(" ".join(w if w in stop else w + tag for w in toks))
            variant.append(d in near_variants)
    ids = np.array(ids, dtype=np.int64)
    df = pd.DataFrame({"doc_id": ids, "text": texts})
    is_bench = ids % 10 == 0
    corpus_path = os.path.join(outdir, "corpus.parquet")
    bench_path = os.path.join(outdir, "benchmark.parquet")
    df[~is_bench].to_parquet(corpus_path, index=False)
    df[is_bench].to_parquet(bench_path, index=False)
    corpus_texts = [t for t, b in zip(texts, is_bench) if not b]
    gopher = [t for t in corpus_texts if gopher_keep(t)]
    # near-dup edits that reach the near-dup stage: it may remove at
    # most these (plus nothing else: the rest share no long runs)
    planted_near = sum(1 for t, b, v in zip(texts, is_bench, variant)
                       if v and not b and gopher_keep(t))
    return {
        "corpus": corpus_path,
        "benchmark": bench_path,
        "n_docs": len(corpus_texts),
        "text_bytes": sum(len(t.encode()) for t in corpus_texts),
        "expect": {
            "scan": len(corpus_texts),
            "gopher_quality": len(gopher),
            "exact_dedup": len(set(gopher)),
        },
        "planted_near": planted_near,
    }


def gopher_keep(text: str) -> bool:
    """Pure-Python Gopher verdict: 20-100k words, mean word length
    3-10, >= 80 % words with a letter, >= 2 stopwords."""
    w = text.split()
    n = max(len(w), 1)
    if not 20 <= len(w) <= 100_000:
        return False
    if not 3.0 <= sum(len(x) for x in w) / n <= 10.0:
        return False
    if sum(any(ch.isascii() and ch.isalpha() for ch in x) for x in w) / n < 0.8:
        return False
    return sum(x in STOPWORDS for x in w) >= 2
