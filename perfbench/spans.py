"""In-memory spans around the benchmark's calls into bobo_spark.

A span records name, start, end, parent, request id and the Spark job
ids the call ran. Spans live in a list until the run ends, then go to
a JSON-lines file. A disabled tracer records nothing and touches no
Spark API, so untraced runs pay only a context-manager entry per call.

Job attribution: a traced call runs under its own ``sc.setJobGroup``
and reads the group back with ``statusTracker().getJobIdsForGroup``.
Jobs that library code starts from its own Python threads do not
inherit the group (pinned-thread mode gives every Python thread its own
JVM thread). For calls known to do that (``threads=True``) the span
also claims every job that appeared in the group-less set during the
call. The benchmark sends one request at a time, so no other call can
own those jobs.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jtracker = sc._jsc.statusTracker() if enabled else None

    def _job_ids(self, group) -> set:
        # one round trip for the whole id array (iterating a Py4J array
        # costs a round trip per element)
        text = self.sc._jvm.java.util.Arrays.toString(
            self._jtracker.getJobIdsForGroup(group))
        return {int(x) for x in text.strip("[]").split(",") if x.strip()}

    @contextmanager
    def span(self, name: str, rid=None, jobs: bool = False,
             threads: bool = False, **attrs):
        """Record one span; ``jobs`` attributes the Spark jobs run inside
        it (only leaf spans around one library call should ask), and
        ``threads`` adds the group-less jobs that appeared meanwhile."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "rid": rid if rid is not None else (parent or {}).get("rid"),
               **attrs}
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        if jobs:
            before = self._job_ids(None) if threads else set()
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                self.sc._jsc.clearJobGroup()
                ids = self._job_ids(group)
                if threads:
                    ids |= self._job_ids(None) - before
                rec["jobs"] = sorted(ids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(a, b)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict:
    """span id -> duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids[s["id"]] if c["end"] > s["start"]
            and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def layer_self_seconds(spans: list[dict]) -> dict:
    st = self_times(spans)
    out: dict = defaultdict(float)
    for s in spans:
        out[layer_of(s["name"])] += st[s["id"]]
    return dict(out)


def check_request_walls(spans: list[dict], walls: dict,
                        tol_s: float = 5e-4, tol_frac: float = 0.01) -> list:
    """For each request id with a client-measured wall time, the self
    times of its spans plus the untraced remainder (wall minus the
    request's root spans) must add up to the wall time. Returns the
    request ids that break the tolerance."""
    st = self_times(spans)
    by_rid = defaultdict(list)
    for s in spans:
        if s.get("rid") is not None:
            by_rid[s["rid"]].append(s)
    bad = []
    for rid, wall in walls.items():
        ss = by_rid.get(rid, [])
        ids = {s["id"] for s in ss}
        roots = [s for s in ss if s["parent"] not in ids]
        remainder = wall - sum(s["end"] - s["start"] for s in roots)
        total = sum(st[s["id"]] for s in ss) + remainder
        if remainder < -tol_s or abs(total - wall) > max(tol_s, tol_frac * wall):
            bad.append(rid)
    return bad
