"""Seeded benchmark inputs: the corpus rows and the request streams.

Everything here is a pure function of the workload seed and touches no
Spark session, so the same seed always yields byte-identical inputs
(``digest``) and two seeds yield different ones. The corpus comes from
``bobo_spark.webgen.gen_batch`` over a row-index window shifted by the
seed; the request streams come from ``numpy`` generators keyed by
``(seed, stream)``. Query terms are drawn from the corpus's own Zipf
distribution (``webgen.zipf_cdf``), so head terms dominate as they do
in the documents.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd

from bobo_spark.webgen import LANG_PROBS, LANGS, gen_batch, make_vocab, zipf_cdf

# rows per seed window; seeds further apart than this never share rows
ROW_WINDOW = 1_000_000
N_BASE = 12_000      # docs in the first build
N_APPEND = 3_000     # docs in the append build
N_DELETE = 150       # seeded tombstones over base + append (1%)
N_BROWSE = 10_000    # rows of the browse table
# a broad query ORs head terms until their summed df passes this: above
# the 200k driver-postings gate of the query engine, so broad queries
# take the distributed path while every other class stays under it
BROAD_DF = 250_000

# one block of the search stream: class -> requests per block. The
# order inside a block is shuffled per seed; the counts are fixed so
# every seed sends the same class mix. The repo has no query log, so
# the shares come from its own benchmark, bench.py:
# - 36 of 40 follow its latency query set (oracle.reference_queryset
#   called with thirds and sixths): and 1/3, or 1/3, lang_sel 1/6,
#   ts_range 1/6, with 2-4 terms for and/or and 2 for lang_sel and
#   ts_range;
# - phrase, recency, matchall and broad are not in that set. bench.py
#   times the first three once each among its headline queries, and
#   has no broad query. Each of the four gets one request per block:
#   an assumption, not a measured share.
SEARCH_BLOCK = {"and": 12, "or": 12, "lang_sel": 6, "ts_range": 6,
                "phrase": 1, "recency": 1, "matchall": 1, "broad": 1}
SEARCH_BLOCKS = 20   # generated up front; a run sends the first n_blocks
# query terms per request of each class, cycled over a block's requests
# (phrases are cut from documents, matchall has no query)
QUERY_TERMS = {"and": (2, 3, 4), "or": (2, 3, 4), "phrase": (0,),
               "lang_sel": (2,), "ts_range": (2,), "recency": (2, 3),
               "matchall": (0,), "broad": (2,)}
BROWSE_BLOCK = {"unfiltered": 1, "select1": 1, "select2": 1, "select3": 1}
BROWSE_BLOCKS = 60
# the shape of each selected browse class is fixed, so seeds differ in
# the selected values only: 1-3 selections, 2-4 facet specs, both sort
# orders and both pages
BROWSE_SHAPES = {
    "select1": {"select": ["lang"], "specs": ["lang", "ts_hist"],
                "sort": "ts", "offset": 0},
    "select2": {"select": ["tags", "path"], "specs": ["lang", "path", "tags"],
                "sort": None, "offset": 10},
    "select3": {"select": ["lang", "ts_hist", "tags"],
                "specs": ["lang", "path", "tags", "ts_hist"],
                "sort": "ts", "offset": 10},
}
TAGS = ["t0", "t1", "t2", "t3", "t4"]


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def first_row(seed: int) -> int:
    return 1 + (seed % 4096) * ROW_WINDOW


def corpus(seed: int, n_rows: int, offset: int = 0) -> pd.DataFrame:
    """Rows ``offset..offset+n_rows`` of the seed's window, without the
    ``html`` column (the build reads ``text`` when it is present)."""
    vocab = np.array(make_vocab(), dtype=object)
    idx = np.arange(n_rows, dtype=np.int64) + first_row(seed) + offset
    return gen_batch(idx, vocab, zipf_cdf()).drop(columns=["html"])


def day_buckets(ts: pd.Series) -> pd.Series:
    return ts.dt.strftime("%Y-%m-%d")


def doc_freqs(texts: pd.Series) -> Counter:
    df: Counter = Counter()
    for t in texts:
        df.update(set(t.split()))
    return df


def _stratified(g: np.random.Generator, n: int) -> np.ndarray:
    """``n`` uniforms on [0, 1), one from each 1/n stratum, shuffled."""
    return (g.permutation(n) + g.random(n)) / n


def _zipf_terms(g: np.random.Generator, vocab: list, cdf: np.ndarray,
                us) -> list[str]:
    """Distinct terms by inverse-CDF Zipf sampling of the uniforms
    ``us``; a duplicate is redrawn."""
    def term(u):
        return vocab[min(int(np.searchsorted(cdf, u, side="right")),
                         len(vocab) - 1)]

    out: list[str] = []
    for u in us:
        w = term(u)
        while w in out:
            w = term(g.random())
        out.append(w)
    return out


def _langs(g: np.random.Generator, n: int) -> list[str]:
    return sorted(set(g.choice(LANGS, size=n, p=LANG_PROBS).tolist()))


def search_inputs(seed: int) -> dict:
    """Corpus halves, tombstones and the search request stream."""
    base = corpus(seed, N_BASE)
    append = corpus(seed, N_APPEND, offset=N_BASE)
    all_ids = np.concatenate([base["doc_id"].to_numpy(),
                              append["doc_id"].to_numpy()])
    deleted = np.sort(rng(seed, 1).choice(all_ids, N_DELETE, replace=False))
    survivors = pd.concat([base, append], ignore_index=True)
    survivors = survivors[~survivors["doc_id"].isin(deleted)].reset_index(
        drop=True)
    dfs = doc_freqs(survivors["text"])
    stream = search_stream(seed, survivors, dfs)
    return {"base": base, "append": append, "deleted": deleted,
            "survivors": survivors, "dfs": dfs, "stream": stream,
            "fill_term": unused_term(dfs, stream),
            "digest": digest([base, append], [deleted.tolist(), stream])}


def unused_term(dfs: Counter, stream: list) -> str:
    """The rarest indexed term that no request of ``stream`` names: a
    search for it loads a fresh reader's block cache while its decode
    cache stays empty for the stream's terms."""
    used = set()
    for _, kw in stream:
        q = kw.get("query")
        used.update(q.split() if isinstance(q, str) else q or ())
    return min((t for t in dfs if t not in used), key=lambda t: (dfs[t], t))


def search_stream(seed: int, survivors: pd.DataFrame, dfs: Counter) -> list:
    """``[(class, SearchRequest kwargs)]`` in send order."""
    g = rng(seed, 2)
    vocab, cdf = make_vocab(), zipf_cdf()
    days = sorted(day_buckets(survivors["warc_ts"]).unique())
    now_ms = int(survivors["warc_ts"].max().value // 1_000_000) + 86_400_000
    head, total = [], 0
    for term, df in sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0])):
        if total > BROAD_DF:
            break
        head.append(term)
        total += df
    texts = survivors["text"].to_numpy()

    def make(cls: str, terms: list[str]) -> dict:
        if cls in ("and", "or"):
            return {"query": terms, "mode": cls}
        if cls == "phrase":
            toks = texts[int(g.integers(len(texts)))].split()
            p = int(g.integers(len(toks) - 1))
            return {"query": " ".join(toks[p:p + 2]), "mode": "phrase"}
        if cls == "lang_sel":
            return {"query": terms, "mode": "or",
                    "selections": {"lang": _langs(g, int(g.integers(1, 3)))},
                    "facets": ("lang", "ts_bucket")}
        if cls == "ts_range":
            a = int(g.integers(len(days)))
            b = min(len(days) - 1, a + int(g.integers(0, 3)))
            return {"query": terms, "mode": "or",
                    "ts_range": (days[a], days[b]), "facets": ("lang",)}
        if cls == "recency":
            return {"query": terms, "mode": "or",
                    "recency": {"now_ms": now_ms, "cutoff_ms": 3 * 86_400_000,
                                "max_factor": 2.0}}
        if cls == "matchall":
            return {"query": None, "selections": {"lang": _langs(g, 1)},
                    "facets": ("lang",)}
        if cls == "broad":
            return {"query": head + terms, "mode": "or"}
        raise ValueError(cls)

    # Term ranks are Zipf like the corpus, but stratified: in every block
    # each term slot of a class takes one uniform from each 1/n stratum,
    # so every block spans the distribution the same way and seeds
    # differ in the terms, not in how heavy their queries are.
    out = []
    for _ in range(SEARCH_BLOCKS):
        block = []
        for cls, n in SEARCH_BLOCK.items():
            sizes = g.permutation(np.resize(QUERY_TERMS[cls], n))
            slots = [_stratified(g, n) for _ in range(max(QUERY_TERMS[cls]))]
            for r in range(n):
                us = [slots[j][r] for j in range(sizes[r])]
                block.append((cls, make(cls, _zipf_terms(g, vocab, cdf, us))))
        out += [block[i] for i in g.permutation(len(block))]
    return out


def browse_table(seed: int) -> pd.DataFrame:
    """The browse table: the first ``N_BROWSE`` rows of the seed's
    corpus with derived facet columns (``ts`` epoch seconds, ``path`` =
    lang/host, ``tags`` = 1-3 distinct tags hashed from the doc id)."""
    rows = corpus(seed, N_BROWSE)
    host = rows["url"].str.split("/").str[2]
    ids = rows["doc_id"].to_numpy(np.uint64)
    h = (ids * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(17)
    n_tags = (h % np.uint64(3)).astype(int) + 1
    tags = [sorted({TAGS[int((x >> np.uint64(4 + 3 * j)) % np.uint64(len(TAGS)))]
                    for j in range(n)}) for x, n in zip(h, n_tags)]
    return pd.DataFrame({
        "doc_id": rows["doc_id"],
        "lang": rows["lang"],
        "ts": rows["warc_ts"].astype("int64") // 10**9,
        "path": rows["lang"] + "/" + host,
        "tags": tags,
    })


def browse_inputs(seed: int) -> dict:
    table = browse_table(seed)
    stream = browse_stream(seed, table)
    warmup = browse_stream(seed, table, stream=5, blocks=1)
    return {"table": table, "stream": stream, "warmup": warmup,
            "digest": digest([table], [stream, warmup])}


def browse_stream(seed: int, table: pd.DataFrame, stream: int = 3,
                  blocks: int | None = None) -> list:
    """``[(class, request dict)]``; a request dict names selections as
    ``(field, [values])`` and facet specs as ``field -> spec kwargs``,
    and ``workloads`` turns it into a ``BrowseRequest``. ``stream``
    picks an independent generator (the warm-up block uses its own)."""
    g = rng(seed, stream)
    ts0 = int(table["ts"].min())
    n_bins = (int(table["ts"].max()) - ts0) // 86_400 + 1
    paths = sorted(table["path"].unique())
    unfiltered = {"selections": [], "sort": None, "offset": 0,
                  "specs": {"lang": {"order_by": "hits"},
                            "tags": {"order_by": "hits"}}}

    def selection(fld: str):
        if fld == "lang":
            return _langs(g, int(g.integers(1, 3)))
        if fld == "ts_hist":
            return [str(int(g.integers(n_bins)))]
        if fld == "path":
            p = paths[int(g.integers(len(paths)))]
            return [p.split("/")[0]] if g.random() < 0.5 else [p]
        return [TAGS[int(g.integers(len(TAGS)))]]

    def make(cls: str) -> dict:
        if cls == "unfiltered":
            return unfiltered
        shape = BROWSE_SHAPES[cls]
        specs = {}
        for f in shape["specs"]:
            spec = {"expand_selection": True,
                    "order_by": "hits" if g.random() < 0.5 else "value"}
            if f == "path":
                spec["max_count"] = 5
            specs[f] = spec
        return {"selections": [(f, selection(f)) for f in shape["select"]],
                "sort": shape["sort"], "offset": shape["offset"],
                "specs": specs}

    order = [c for c, n in BROWSE_BLOCK.items() for _ in range(n)]
    out = []
    for _ in range(BROWSE_BLOCKS if blocks is None else blocks):
        for i in g.permutation(len(order)):
            out.append((order[i], make(order[i])))
    return out


def digest(frames: list, objs: list) -> str:
    """sha256 over the generated frames and request streams."""
    h = hashlib.sha256()
    for f in frames:
        h.update(pd.util.hash_pandas_object(
            f.astype({c: str for c in f.columns if f[c].dtype == object}),
            index=False).to_numpy().tobytes())
    h.update(repr(objs).encode())
    return h.hexdigest()
