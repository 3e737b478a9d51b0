"""Correctness references, run outside every timed region.

Each function returns a list of human-readable mismatch strings; an
empty list means the program's output matched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _facet_map(res, field: str) -> dict:
    f = res.facets.get(field)
    return {} if f is None else dict(zip(f["value"], f["count"].astype(int)))


def same_search(a, b) -> bool:
    """Equal hits, bit-equal float64 scores, num_hits and facets."""
    return (a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist()
            and a.hits["score"].tolist() == b.hits["score"].tolist()
            and a.num_hits == b.num_hits
            and set(a.facets) == set(b.facets)
            and all(_facet_map(a, f) == _facet_map(b, f) for f in a.facets))


def against_oracle(oracle, req, res) -> list[str]:
    exp = oracle.search(req.query, mode=req.mode, k=req.k, offset=req.offset,
                        facets=tuple(req.facets), selections=req.selections,
                        ts_range=req.ts_range,
                        expand_selection=req.expand_selection)
    got = list(zip(res.hits["doc_id"].tolist(), res.hits["score"].tolist()))
    out = []
    if got != [(int(d), s) for d, s in exp["hits"]]:
        out.append("ranked hits differ from the oracle")
    if res.num_hits != exp["num_hits"]:
        out.append(f"num_hits {res.num_hits} != oracle {exp['num_hits']}")
    for f in req.facets:
        if _facet_map(res, f) != exp["facets"][f]:
            out.append(f"facet {f} differs from the oracle")
    return out


def matchall(survivors: pd.DataFrame, req, res) -> list[str]:
    """Selection-only search: constant score 1.0, doc-id order, counts
    over the surviving docs with the facet's own selection excluded."""
    langs = req.selections["lang"]
    hit = survivors[survivors["lang"].isin(langs)]
    ids = np.sort(hit["doc_id"].to_numpy())[req.offset:req.offset + req.k]
    out = []
    if res.hits["doc_id"].tolist() != ids.tolist():
        out.append("matchall hit page differs")
    if set(res.hits["score"].tolist()) - {1.0}:
        out.append("matchall score is not 1.0")
    if res.num_hits != len(hit):
        out.append(f"matchall num_hits {res.num_hits} != {len(hit)}")
    if "lang" in req.facets:
        exp = survivors["lang"].value_counts().to_dict()
        if _facet_map(res, "lang") != {k: int(v) for k, v in exp.items()}:
            out.append("matchall lang counts differ")
    return out


def phrase(texts: dict, req, res) -> list[str]:
    """Every phrase hit holds the phrase, and the page is never empty:
    the phrase was cut from a surviving document."""
    if not len(res.hits):
        return ["phrase query found nothing"]
    bad = [d for d in res.hits["doc_id"].tolist()
           if f" {req.query} " not in f" {texts[d]} "]
    return [f"phrase hit {bad[0]} lacks the phrase"] if bad else []


# ------------------------------------------------------------------ browse

def _bins(ts: pd.Series, ts0: int) -> pd.Series:
    return (ts - ts0) // 86_400


def _selection_mask(table: pd.DataFrame, field: str, values: list,
                    ts0: int) -> pd.Series:
    if field == "lang":
        return table["lang"].isin(values)
    if field == "ts_hist":
        return _bins(table["ts"], ts0).isin([int(v) for v in values])
    if field == "path":
        m = pd.Series(False, index=table.index)
        for v in values:
            m |= (table["path"] == v) | table["path"].str.startswith(
                v.rstrip("/") + "/")
        return m
    return table["tags"].map(lambda t: any(v in t for v in values))


def _counts(rows: pd.DataFrame, field: str, own: list | None, ts0: int,
            ts1: int) -> pd.Series:
    if field == "lang":
        return rows["lang"].value_counts()
    if field == "ts_hist":
        ts = rows["ts"][(rows["ts"] >= ts0) & (rows["ts"] <= ts1)]
        return _bins(ts, ts0).astype(str).str.zfill(10).value_counts()
    if field == "path":
        target = max(1, len([p for p in own[0].split("/") if p])) if own else 1
        return rows["path"].map(
            lambda p: "/".join(p.split("/")[:target])).value_counts()
    return rows["tags"].explode().value_counts()


def expected_browse(table: pd.DataFrame, d: dict, ts0: int, ts1: int) -> dict:
    """pandas model of BoboBrowser.browse for one request dict of
    ``inputs.browse_stream``: multi-select counts exclude a facet's own
    selection when its spec expands the selection."""
    masks = {f: _selection_mask(table, f, v, ts0) for f, v in d["selections"]}
    own = dict(d["selections"])

    def where(skip=None):
        m = pd.Series(True, index=table.index)
        for f, mk in masks.items():
            if f != skip:
                m &= mk
        return table[m]

    hits = where()
    facets = {}
    for f, spec in d["specs"].items():
        rows = where(f) if spec.get("expand_selection") and f in masks else hits
        c = _counts(rows, f, own.get(f), ts0, ts1)
        c = pd.DataFrame({"value": c.index.astype(str),
                          "count": c.to_numpy()})
        c = c[c["count"] >= 1]
        if spec.get("order_by") == "hits":
            c = c.sort_values(["count", "value"], ascending=[False, True])
        else:
            c = c.sort_values("value")
        if spec.get("max_count"):
            c = c.head(spec["max_count"])
        facets[f] = list(zip(c["value"], c["count"].astype(int)))
    if d["sort"] == "ts":
        page = hits.sort_values(["ts", "doc_id"], ascending=[False, True])
    else:
        page = hits.sort_values("doc_id")
    page = page["doc_id"].tolist()[d["offset"]:d["offset"] + 10]
    return {"num_hits": len(hits), "facets": facets, "hits": page}


def browse(exp: dict, res) -> list[str]:
    out = []
    if res.num_hits != exp["num_hits"]:
        out.append(f"num_hits {res.num_hits} != {exp['num_hits']}")
    if list(res.hits) != exp["hits"]:
        out.append("hit page differs")
    for f, want in exp["facets"].items():
        if [(str(v), int(c)) for v, c in res.facets(f)] != want:
            out.append(f"facet {f} counts differ")
    return out
