"""The two workloads. Each takes a ``Run`` and returns its metrics.

Both are closed loops with one client: the next request goes out when
the previous one has returned. Every timed call goes through a public
bobo_spark function, and every failure is caught, counted against its
class, and the run continues.
"""

from __future__ import annotations

import ctypes
import gc
import os
import statistics
import time
from collections import Counter, defaultdict

import numpy as np

import checks
import inputs
from spans import Tracer, check_request_walls, layer_self_seconds

SEARCH_CLASSES = list(inputs.SEARCH_BLOCK)
HANDLER_KINDS = {"lang": "simple", "ts_hist": "histogram", "path": "path",
                 "tags": "multi"}
# A run sends one block per *_BLOCK_S of --seconds, not what fits in
# the time: a slower host or program then yields as many samples, and
# in search_mix, where later blocks find more of their terms already
# decoded, a time-cut stream would also shift p50_ms with the program's
# speed. On the 4-core reference host a search block takes 2-3.5 s
# through search() and search_many, a browse block 3-5 s. At
# --seconds 20 that is 8 search blocks (320 searches; the sample median
# of 200 spread by ~8% in bootstrap resamples of one run, of 320 by
# ~5%) and 5 browse blocks.
SEARCH_BLOCK_S = 2.5
BROWSE_BLOCK_S = 4.0
BROWSE_SETUPS = 3
ORACLE_SAMPLE = 3       # oracle-checked searches per class
DOCS_PER_SEGMENT = 2_000
# calls that run Spark jobs from their own thread pools: the build
# overlaps its doc-table write with the terms pass, the merge overlaps
# its forward and sections rewrites with the postings rewrite
THREADED_CALLS = {"build.build_snapshot", "merge.merge_snapshot"}
CATALOG_GROUPS = {"terms": ["terms"], "postings": ["postings"],
                  "forward": ["forward"],
                  "dicts": ["dict_lang", "dict_ts_bucket"],
                  "deletes": ["deletes"]}


class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool,
                 workdir: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = Tracer(spark.sparkContext, enabled=trace)
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.mismatches: list[str] = []
        self.errors: list[str] = []
        self.walls: dict = {}        # traced request id -> client wall (s)
        # class -> {"traced": [...], "plain": [...]} call times (s)
        self.overhead: dict = defaultdict(lambda: {"traced": [], "plain": []})
        self.phases: dict = {}       # phase -> seconds, for the detail line
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase under ``name``."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._mark, 3)
        self._mark = now

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    @staticmethod
    def trace_turn(cls: str, seen: Counter) -> bool:
        """Trace every other request of each class, starting with the
        first: every class gets spans, and traced and plain calls of a
        class compare for the overhead."""
        seen[cls] += 1
        return seen[cls] % 2 == 1

    def call(self, name: str, fn, traced: bool, rid=None):
        """Time ``fn()``; with ``traced`` it runs inside a span that
        collects its Spark jobs. The returned time includes the span's
        own bookkeeping, so traced and plain calls compare directly."""
        t0 = time.perf_counter()
        if traced:
            with self.tracer.span(name, rid=rid, jobs=True,
                                  threads=name in THREADED_CALLS):
                out = fn()
        else:
            out = fn()
        return out, time.perf_counter() - t0

    def attempt(self, cls: str, fn):
        """Count one operation of ``cls``; a raised exception marks it
        failed and yields None."""
        self.attempted[cls] += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - the run must go on
            self.failed[cls] += 1
            self.errors.append(f"{cls}: {type(e).__name__}: {e}"[:300])
            return None

    def mismatch(self, cls: str, what: list[str]) -> None:
        if what:
            self.failed[cls] += 1
            self.mismatches.extend(f"{cls}: {w}" for w in what)


# ------------------------------------------------------------------ helpers

def quantile(values, q: float) -> float:
    """Linearly interpolated quantile. Failed calls enter as +inf, so a
    failure counts as missing every latency limit."""
    v = np.sort(np.asarray(values, dtype=float))
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    if pos == lo or not np.isfinite(v[hi]):
        return float(v[lo] if pos == lo else v[hi])
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def reset_peak_rss() -> None:
    """Start the driver's peak-RSS window here: free what the input
    generation left behind, hand it back to the OS, then reset VmHWM
    (Linux: writing 5 to clear_refs). The peak read later is the
    program's, on top of the inputs the benchmark still holds."""
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM before a timed pass, so
    the pass does not pay for the litter of the work before it."""
    gc.collect()
    spark._jvm.System.gc()


def n_blocks(seconds: float, block_s: float, limit: int) -> int:
    """Blocks a run sends for ``--seconds``: two at least, so a traced
    run has a traced and a plain request of every class."""
    return min(limit, max(2, round(seconds / block_s)))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_peak_rss_mb(spark) -> float:
    return vm_hwm_mb(int(spark._jvm.ProcessHandle.current().pid()))


def catalog_bytes(index_dir: str, snap) -> dict:
    from bobo_spark.catalog import IndexCatalog

    cat = IndexCatalog(index_dir)
    out = {}
    for group, tables in CATALOG_GROUPS.items():
        total = 0
        for t in tables:
            for p in cat.table_paths(snap, t):
                for root, _, files in os.walk(p):
                    total += sum(os.path.getsize(os.path.join(root, f))
                                 for f in files)
        out[group] = total
    return out


def p50_by_class(sent) -> dict:
    """Median wall time per request class, for the detail record."""
    by = defaultdict(list)
    for item in sent:
        by[item[0]].append(item[3])
    return {c: round(quantile(w, 0.5) * 1000, 2) for c, w in by.items()}


def _span_stats(spans, prefix: str):
    """Durations and job counts of the spans whose name has ``prefix``."""
    sel = [s for s in spans if s["name"].startswith(prefix)]
    return ([s["end"] - s["start"] for s in sel],
            [len(s.get("jobs", ())) for s in sel])


def _median_ms(durs) -> float:
    return statistics.median(durs) * 1000 if durs else 0.0


def _mean(xs) -> float:
    return float(np.mean(xs)) if xs else 0.0


def empty_layer_metrics() -> dict:
    """Every per-layer metric with value 0: a layer that a workload
    leaves idle reports 0 time, 0 jobs and 0 bytes."""
    m = {"query.plan_ms": 0.0}
    for c in SEARCH_CLASSES:
        m[f"query.search_ms.{c}"] = 0.0
    for c in SEARCH_CLASSES:
        m[f"query.spark_jobs.{c}"] = 0.0
    m.update({"query.zero_job_share": 0.0,
              "query.search_many_batch_ms": 0.0,
              "query.search_many_spark_jobs": 0.0, "query.open_ms": 0.0,
              "query.first_search_ms": 0.0, "facets.browse_ms": 0.0,
              "facets.hits_page_ms": 0.0})
    for k in HANDLER_KINDS.values():
        m[f"facets.facet_counts_ms.{k}"] = 0.0
    m["facets.facet_counts_ms.collect_all"] = 0.0
    m.update({"facets.spark_jobs_per_browse": 0.0, "facets.zero_job_share": 0.0,
              "build.wall_s": 0.0})
    for s in ("terms", "docs", "stats", "postings", "forward"):
        m[f"build.stage_s.{s}"] = 0.0
    m.update({"build.spark_jobs": 0.0, "build.append_s": 0.0,
              "build.freshness_s": 0.0, "build.delete_ms": 0.0,
              "build.delete_spark_jobs": 0.0, "merge.wall_s": 0.0})
    for s in ("dicts", "terms", "stats", "postings", "forward", "meta"):
        m[f"merge.stage_s.{s}"] = 0.0
    m["merge.spark_jobs"] = 0.0
    for g in CATALOG_GROUPS:
        m[f"catalog.bytes.{g}"] = 0.0
    m["catalog.index_bytes_per_input_byte"] = 0.0
    for layer in ("query", "facets", "build", "merge"):
        m[f"{layer}.self_s"] = 0.0
    m.update({"spark.jvm_peak_rss_mb": 0.0, "trace.overhead_pct": 0.0})
    return m


def finish_trace(run: Run, m: dict) -> None:
    """Layer self times, overhead and the self-time check. Spans run one
    at a time on one thread, so the check holds by construction; it
    fails when spans overlap or outlast their parent or the client's
    own wall time, i.e. when the tracing itself is broken."""
    spans = run.tracer.spans
    for layer, s in layer_self_seconds(spans).items():
        if f"{layer}.self_s" in m:
            m[f"{layer}.self_s"] = s
    # traced and plain requests alternate, so compare within a class
    ratios = [statistics.median(o["traced"]) / statistics.median(o["plain"])
              for o in run.overhead.values() if o["traced"] and o["plain"]]
    if ratios:
        m["trace.overhead_pct"] = 100.0 * (statistics.median(ratios) - 1.0)
    bad = check_request_walls(spans, run.walls)
    run.mismatch("trace", [f"request {r}: span self times do not add up "
                           "to its wall time" for r in bad[:5]])


# -------------------------------------------------------------- search_mix

def _rare_probe(tokens: list[str], dfs: Counter):
    """AND of a document's three rarest terms: few other docs match it,
    so the document lands in the top 10 when it is searchable."""
    from bobo_spark.query import SearchRequest

    rare = sorted(set(tokens), key=lambda t: (dfs.get(t, 0), t))[:3]
    return SearchRequest(query=rare, mode="and", k=10)


def search_mix(run: Run) -> dict:
    from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
    from bobo_spark.merge import merge_snapshot
    from bobo_spark.oracle import OracleIndex
    from bobo_spark.query import IndexReader, SearchRequest

    spark, tr, trace = run.spark, run.tracer, run.trace
    inp = inputs.search_inputs(run.seed)
    dfs, deleted = inp["dfs"], inp["deleted"]
    run.phase("inputs")
    # input frames are materialized before the clock starts: the
    # benchmark feeds generated rows, set-up times what the engine does
    frames = []
    for part in ("base", "append"):
        f = spark.createDataFrame(inp[part]).persist()
        f.count()
        frames.append(f)
    run.phase("frames")
    idx = os.path.join(run.workdir, "index")
    cfg = BuildConfig(docs_per_segment=DOCS_PER_SEGMENT)
    g = inputs.rng(run.seed, 4)
    app_ids = inp["append"]["doc_id"].to_numpy()
    fresh_doc = int(g.choice(app_ids[~np.isin(app_ids, deleted)]))
    gone_docs = [int(x) for x in g.choice(deleted, 3, replace=False)]
    all_text = dict(zip(np.concatenate([inp["base"]["doc_id"], app_ids]),
                        np.concatenate([inp["base"]["text"],
                                        inp["append"]["text"]])))
    m = empty_layer_metrics()
    reset_peak_rss()

    def step(cls, name, fn, rid="setup"):
        out = run.attempt(cls, lambda: run.call(name, fn, trace, rid=rid))
        if out is None:
            raise RuntimeError(f"set-up step {name} failed: {run.errors[-1]}")
        return out

    # ---- set-up: the write side of the index, then a reader whose
    # block cache the first search loads
    t_setup = time.perf_counter()
    with tr.span("setup", rid="setup"):
        base_snap, m["build.wall_s"] = step(
            "build", "build.build_snapshot",
            lambda: build_snapshot(spark, frames[0], idx, cfg))
        t_append = time.perf_counter()
        _, m["build.append_s"] = step(
            "append", "build.build_snapshot",
            lambda: build_snapshot(spark, frames[1], idx, cfg))
        reader, _ = step("open", "query.IndexReader",
                         lambda: IndexReader(spark, idx))
        probe = _rare_probe(all_text[fresh_doc].split(), dfs)
        res, _ = step("probe", "query.search", lambda: reader.search(probe))
        m["build.freshness_s"] = time.perf_counter() - t_append
        run.mismatch("probe", [] if fresh_doc in res.hits["doc_id"].tolist()
                     else [f"appended doc {fresh_doc} not searchable"])
        del_snap, del_s = step("delete", "build.delete_docs",
                               lambda: delete_docs(spark, idx, deleted.tolist()))
        m["build.delete_ms"] = del_s * 1000
        reader, _ = step("open", "query.IndexReader",
                         lambda: IndexReader(spark, idx))
        for d in gone_docs:
            res, _ = step("probe", "query.search", lambda: reader.search(
                _rare_probe(all_text[d].split(), dfs)))
            run.mismatch("probe", [f"deleted doc {d} still matches"]
                         if d in res.hits["doc_id"].tolist() else [])
        merged, m["merge.wall_s"] = step(
            "merge", "merge.merge_snapshot", lambda: merge_snapshot(spark, idx))
        reader, open_s = step("open", "query.IndexReader",
                              lambda: IndexReader(spark, idx))
        _, first_s = step("probe", "query.search", lambda: reader.search(probe))
    setup_s = time.perf_counter() - t_setup
    run.walls["setup"] = setup_s
    m["query.open_ms"], m["query.first_search_ms"] = open_s * 1000, first_s * 1000
    for s in ("terms", "docs", "stats", "postings", "forward"):
        m[f"build.stage_s.{s}"] = float(base_snap.stats.get("stage_secs", {}).get(s, 0.0))
    for s in ("dicts", "terms", "stats", "postings", "forward", "meta"):
        m[f"merge.stage_s.{s}"] = float(merged.stats.get("stage_secs", {}).get(s, 0.0))
    run.phase("setup")

    # ---- a second reader for search_many, opened untimed. A search
    # for a term that no request names loads its block cache, so its
    # decode cache starts empty, as the first reader's did after set-up
    fill = SearchRequest(query=[inp["fill_term"]], mode="or", k=10)
    breader, _ = step("open", "query.IndexReader",
                      lambda: IndexReader(spark, idx), rid="reopen")
    step("probe", "query.search", lambda: breader.search(fill), rid="reopen")
    run.phase("reopen")

    # ---- requests not sent before, in whole blocks. Each block goes
    # first through search() on the set-up reader, one request at a
    # time, then as one search_many batch to the second reader. Neither
    # reader sees the other's requests, so each pays for decoding the
    # blocks it is first to need, and both metrics are sampled over
    # the whole measured window rather than one after the other.
    # Matchall requests stay out of the batches: search_many hands each
    # one to the same per-request forward scan search() runs, so they
    # would time Spark job latency, not the batch scorer
    block = sum(inputs.SEARCH_BLOCK.values())
    sent = []     # (class, request, result or None, wall seconds)
    batched = []  # search_many result per request of sent, or None
    batches = []  # (requests, seconds) per search_many batch
    seen: Counter = Counter()
    settle(spark)
    n = block * n_blocks(run.seconds, SEARCH_BLOCK_S, inputs.SEARCH_BLOCKS)
    for b in range(0, n, block):
        for i in range(b, b + block):
            cls, kw = inp["stream"][i]
            req = SearchRequest(k=10, **kw)
            traced = trace and run.trace_turn(cls, seen)
            t1 = time.perf_counter()
            if traced:
                def one(req=req, i=i, cls=cls):
                    with tr.span("request", rid=i, cls=cls):
                        if req.query is not None:
                            run.call("query.plan", lambda: reader.plan(req), True)
                        out, dt = run.call("query.search",
                                           lambda: reader.search(req), True)
                    run.overhead[cls]["traced"].append(dt)
                    return out
            else:
                def one(req=req):
                    return reader.search(req)
            res = run.attempt(cls, one)
            wall = time.perf_counter() - t1
            if traced:
                run.walls[i] = wall
            elif trace:
                run.overhead[cls]["plain"].append(wall)
            sent.append((cls, req, res, wall if res is not None else float("inf")))
        idxs = [i for i in range(b, b + block) if sent[i][0] != "matchall"]
        reqs = [sent[i][1] for i in idxs]
        traced = trace and (b // block) % 2 == 0
        t1 = time.perf_counter()
        outs = run.attempt("batch", lambda: run.call(
            "query.search_many", lambda: breader.search_many(reqs), traced,
            rid=f"batch{b}")[0])
        if outs is not None:
            batches.append((len(outs), time.perf_counter() - t1))
        batched.extend([None] * block)
        for i, out in zip(idxs, outs or []):
            batched[i] = out
    del reader, breader
    rss, jvm_rss = vm_hwm_mb(os.getpid()), jvm_peak_rss_mb(spark)
    run.phase("measure")

    # ---- checks, untimed
    gone = set(deleted.tolist())
    for i, (cls, req, res, _) in enumerate(sent):
        got = batched[i]
        if res is not None and got is not None and not checks.same_search(got, res):
            run.mismatch("batch", [f"search_many result {i} ({cls}) != search()"])
        for out in (res, got):
            if out is not None and set(out.hits["doc_id"].tolist()) & gone:
                run.mismatch(cls, [f"request {i} returned a deleted doc"])
    survivors = inp["survivors"]
    texts = dict(zip(survivors["doc_id"], survivors["text"]))
    oracle = OracleIndex(survivors.assign(
        ts_bucket=inputs.day_buckets(survivors["warc_ts"]))[
        ["doc_id", "text", "lang", "ts_bucket"]].to_dict("records"))
    by_class = defaultdict(list)
    for i, (cls, req, res, _) in enumerate(sent):
        if res is not None:
            by_class[cls].append(i)
    for cls, idxs in by_class.items():
        pick = g.choice(idxs, min(len(idxs), ORACLE_SAMPLE), replace=False)
        for i in pick:
            _, req, res, _ = sent[i]
            if cls == "matchall":
                run.mismatch(cls, checks.matchall(survivors, req, res))
            elif cls == "phrase":
                run.mismatch(cls, checks.phrase(texts, req, res))
            elif cls != "recency":
                run.mismatch(cls, checks.against_oracle(oracle, req, res))

    run.phase("checks")
    # ---- metrics
    lat = [w for _, _, _, w in sent]
    e2e = {"setup_s": setup_s,
           "p50_ms": quantile(lat, 0.5) * 1000,
           # requests over the batches' summed time: the pooled rate
           # spread about a third less across seeds than the median of
           # the per-batch rates, which swing 40-90/s within a run
           "throughput_per_s": (sum(k for k, _ in batches)
                                / sum(t for _, t in batches)
                                if batches else 0.0),
           "driver_peak_rss_mb": rss}
    m["spark.jvm_peak_rss_mb"] = jvm_rss
    if trace:
        spans = tr.spans
        all_search = []
        for cls in SEARCH_CLASSES:
            reqs = {s["id"] for s in spans
                    if s["name"] == "request" and s.get("cls") == cls}
            sel = [s for s in spans if s["name"] == "query.search"
                   and s["parent"] in reqs]
            m[f"query.search_ms.{cls}"] = _median_ms(
                [s["end"] - s["start"] for s in sel])
            m[f"query.spark_jobs.{cls}"] = _mean([len(s["jobs"]) for s in sel])
            all_search += sel
        m["query.zero_job_share"] = _mean(
            [float(not s["jobs"]) for s in all_search])
        durs, _ = _span_stats(spans, "query.plan")
        m["query.plan_ms"] = _median_ms(durs)
        durs, jobs = _span_stats(spans, "query.search_many")
        m["query.search_many_batch_ms"] = _median_ms(durs)
        m["query.search_many_spark_jobs"] = _mean(jobs)
        for name, key in (("build.build_snapshot", "build.spark_jobs"),
                          ("build.delete_docs", "build.delete_spark_jobs"),
                          ("merge.merge_snapshot", "merge.spark_jobs")):
            first_call = next(s for s in spans if s["name"] == name)
            m[key] = float(len(first_call["jobs"]))
        for grp, n in catalog_bytes(idx, del_snap).items():
            m[f"catalog.bytes.{grp}"] = float(n)
        in_bytes = sum(len(t.encode()) for part in ("base", "append")
                       for t in inp[part]["text"])
        m["catalog.index_bytes_per_input_byte"] = (
            sum(catalog_bytes(idx, merged).values()) / in_bytes)
        finish_trace(run, m)
    for f in frames:
        f.unpersist()
    return {"e2e": e2e, "layers": m, "digest": inp["digest"],
            "requests": len(sent), "p50_ms_by_class": p50_by_class(sent),
            "batch_per_s": [round(k / t, 1) for k, t in batches]}


# ------------------------------------------------------------ browse_facets

def _browse_request(d: dict):
    from bobo_spark.facets import BrowseRequest, BrowseSelection, FacetSpec, SortField

    return BrowseRequest(
        selections=[BrowseSelection(f, list(v)) for f, v in d["selections"]],
        facet_specs={f: FacetSpec(**s) for f, s in d["specs"].items()},
        sort=[SortField("ts", reverse=True)] if d["sort"] == "ts" else [],
        offset=d["offset"], count=10)


def browse_facets(run: Run) -> dict:
    from bobo_spark.facets import (BoboBrowser, HistogramFacetHandler,
                                   MultiValueFacetHandler, PathFacetHandler,
                                   SimpleFacetHandler)

    spark, tr, trace = run.spark, run.tracer, run.trace
    inp = inputs.browse_inputs(run.seed)
    table = inp["table"]
    ts0, ts1 = int(table["ts"].min()), int(table["ts"].max())
    m = empty_layer_metrics()
    first = _browse_request({"selections": [], "sort": None, "offset": 0,
                             "specs": {"lang": {}, "tags": {}}})

    run.phase("inputs")
    # ---- set-up, repeated: a new browser and its first browse. The
    # cached table is the benchmark's input and stays off the clock
    df = spark.createDataFrame(table).persist()
    df.count()
    reset_peak_rss()
    setups = []
    for rep in range(BROWSE_SETUPS):
        t0 = time.perf_counter()
        with tr.span("setup", rid=f"setup{rep}"):
            handlers = [SimpleFacetHandler("lang"),
                        HistogramFacetHandler("ts_hist", "ts", ts0, ts1, 86_400),
                        PathFacetHandler("path"), MultiValueFacetHandler("tags")]
            browser = BoboBrowser(df, handlers, doc_col="doc_id")
            out = run.attempt("setup", lambda: run.call(
                "facets.browse", lambda: browser.browse(first), trace,
                rid=f"setup{rep}"))
        if out is None:
            raise RuntimeError(f"browse set-up failed: {run.errors[-1]}")
        setups.append(time.perf_counter() - t0)
        run.walls[f"setup{rep}"] = setups[-1]

    run.phase("setup")
    # ---- one untimed block from its own stream: JIT and codegen caches
    # warm up on every request shape before the clock starts
    for cls, d in inp["warmup"]:
        res = run.attempt(cls, lambda: browser.browse(_browse_request(d)))
        if res is not None:
            run.mismatch(cls, checks.browse(
                checks.expected_browse(table, d, ts0, ts1), res))
    run.phase("warmup")
    # ---- closed loop of browse() calls, in whole blocks
    sent = []   # (class, request dict, result or None, wall, extras)
    n = sum(inputs.BROWSE_BLOCK.values()) * n_blocks(
        run.seconds, BROWSE_BLOCK_S, inputs.BROWSE_BLOCKS)
    seen: Counter = Counter()
    for i, (cls, d) in enumerate(inp["stream"][:n]):
        req = _browse_request(d)
        traced = trace and run.trace_turn(cls, seen)
        extras = {}
        t1 = time.perf_counter()
        if traced:
            def one(req=req, i=i, extras=extras):
                with tr.span("request", rid=i, cls=cls):
                    out, dt = run.call("facets.browse",
                                       lambda: browser.browse(req), True)
                    run.overhead[cls]["traced"].append(dt)
                    for fld in req.facet_specs:
                        # browse() always passes its hit frame as base,
                        # which bypasses the collect-all cache; these
                        # calls pass none, so unfiltered ones use it
                        kind = ("collect_all" if cls == "unfiltered"
                                else HANDLER_KINDS[fld])
                        rows, _ = run.call(
                            f"facets.facet_counts_df.{kind}",
                            lambda: browser.facet_counts_df(req, fld).collect(),
                            True)
                        extras[fld] = [(str(r["value"]), int(r["count"]))
                                       for r in rows]
                    page, _ = run.call(
                        "facets.hits_page_df",
                        lambda: browser.hits_page_df(req).collect(), True)
                    extras["_page"] = [r["doc_id"] for r in page]
                return out
        else:
            def one(req=req):
                return browser.browse(req)
        res = run.attempt(cls, one)
        wall = time.perf_counter() - t1
        if traced:
            run.walls[i] = wall
        elif trace:
            run.overhead[cls]["plain"].append(wall)
        sent.append((cls, d, res, wall if res is not None else float("inf"),
                     extras))
    rss, jvm_rss = vm_hwm_mb(os.getpid()), jvm_peak_rss_mb(spark)
    run.phase("loop")

    # ---- checks, untimed: a pandas model of multi-select browse
    for cls, d, res, _, extras in sent:
        if res is None:
            continue
        exp = checks.expected_browse(table, d, ts0, ts1)
        run.mismatch(cls, checks.browse(exp, res))
        if res.total_docs != len(table):
            run.mismatch(cls, [f"total_docs {res.total_docs} != {len(table)}"])
        for fld, rows in extras.items():
            want = exp["hits"] if fld == "_page" else exp["facets"][fld]
            if rows != want:
                run.mismatch(cls, [f"{fld} from the scale API differs"])

    run.phase("checks")
    lat = [w for _, _, _, w, _ in sent]
    ok = [w for w in lat if np.isfinite(w)]
    e2e = {"setup_s": statistics.median(setups),
           "p50_ms": quantile(lat, 0.5) * 1000,
           "throughput_per_s": len(ok) / sum(ok) if ok else 0.0,
           "driver_peak_rss_mb": rss}
    m["spark.jvm_peak_rss_mb"] = jvm_rss
    if trace:
        spans = tr.spans
        loop = [s for s in spans if s["name"] == "facets.browse"
                and isinstance(s["rid"], int)]
        m["facets.browse_ms"] = _median_ms([s["end"] - s["start"] for s in loop])
        m["facets.spark_jobs_per_browse"] = _mean([len(s["jobs"]) for s in loop])
        m["facets.zero_job_share"] = _mean([float(not s["jobs"]) for s in loop])
        durs, _ = _span_stats(spans, "facets.hits_page_df")
        m["facets.hits_page_ms"] = _median_ms(durs)
        for kind in [*HANDLER_KINDS.values(), "collect_all"]:
            durs, _ = _span_stats(spans, f"facets.facet_counts_df.{kind}")
            m[f"facets.facet_counts_ms.{kind}"] = _median_ms(durs)
        finish_trace(run, m)
    df.unpersist()
    return {"e2e": e2e, "layers": m, "digest": inp["digest"],
            "requests": len(sent), "p50_ms_by_class": p50_by_class(sent)}


WORKLOADS = {"search_mix": search_mix, "browse_facets": browse_facets}
