"""Spans and Spark job groups, recorded from outside the program.

`Tracer.install` wraps four of the program's public functions —
`catalog.write_table` (one call per build stage), `sparql.parse`,
`sparql.evaluate` and `cli._emit` — so each records a span and tags the
Spark jobs it starts with a job group.  Spans stay in memory; the
Spark file event log (`spark.eventLog.*`) is folded after the session
stops, and each `SparkListenerTaskEnd` lands on the span whose job group
its stage ran under.

Build stages are sequential blocking writes, so a stage's span runs from
the previous stage's commit (or the build's start) to its own commit:
the eager work a stage does before its write counts to that stage, and
the stage spans plus the sink (after the last write) tile the build.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# build stage table -> layer (module) that produces it
STAGE_LAYER = {
    "turns": "pipeline.ordering",
    "mentions": "pipeline.extract",
    "linked": "pipeline.linking",
    "ranges": "pipeline.coalesce",
    "triples": "pipeline.coalesce",
    "adjacency": "plans.views",
    "dictionary": "plans.encoding",
    "triples_encoded": "plans.encoding",
    "entity_terms": "pipeline.terms",
    "statements": "pipeline.reify",
    "statement_qualifiers": "pipeline.reify",
    "statement_references": "pipeline.reify",
}

MB = 1024 * 1024


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.start = time.perf_counter()
        self.end = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": self.start, "end": self.end, **self.attrs}


class Tracer:
    """Records spans around the program's public calls (see module doc)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.build: Span | None = None      # open build span (main thread)
        self.request: Span | None = None    # open request span (client thread)
        self._patched: list[tuple] = []

    # -- spans and job groups ------------------------------------------------

    def _group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    @contextmanager
    def span(self, name: str, parent: Span | None = None, group: str | None = None,
             **attrs):
        s = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(s)
        if group:
            self._group(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()

    @contextmanager
    def build_span(self):
        with self.span("build", group=None) as b:
            self._group(f"s{b.id}:start")
            self.build = b
            try:
                yield b
            finally:
                self.build = None
                self._group("idle")

    @contextmanager
    def request_span(self, cls: str):
        with self.span("request", cls=cls) as r:
            self.request = r
            try:
                yield r
            finally:
                self.request = None

    # -- wrappers ------------------------------------------------------------

    def install(self) -> None:
        from wikidata_sparql_history_spark import cli
        from wikidata_sparql_history_spark.plans import sparql
        from wikidata_sparql_history_spark.sources import catalog

        for mod, name, make in ((catalog, "write_table", self._wrap_write),
                                (sparql, "parse", self._wrap_parse),
                                (sparql, "evaluate", self._wrap_evaluate),
                                (cli, "_emit", self._wrap_emit)):
            orig = getattr(mod, name)
            self._patched.append((mod, name, orig))
            setattr(mod, name, make(orig))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def _wrap_write(self, orig):
        def write_table(df, path, *a, **kw):
            b = self.build
            if b is None:
                return orig(df, path, *a, **kw)
            stage = os.path.basename(os.path.normpath(path))
            with self.span("write", parent=b, group=f"s{b.id}:{stage}", stage=stage):
                orig(df, path, *a, **kw)
            self._group(f"s{b.id}:after:{stage}")
        return write_table

    def _wrap_parse(self, orig):
        def parse(query):
            with self.span("parse", parent=self.request):
                return orig(query)
        return parse

    def _wrap_evaluate(self, orig):
        def evaluate(*a, **kw):
            r = self.request
            with self.span("evaluate", parent=r,
                           group=f"s{r.id}:evaluate" if r else None):
                return orig(*a, **kw)
        return evaluate

    def _wrap_emit(self, orig):
        def _emit(*a, **kw):
            r = self.request
            with self.span("emit", parent=r, group=f"s{r.id}:emit" if r else None):
                return orig(*a, **kw)
        return _emit

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


# -- event log ---------------------------------------------------------------

class GroupStats:
    """Task metrics folded over every Spark stage run under one job group."""

    def __init__(self):
        self.jobs = 0
        self.task_ms = 0
        self.shuffle_write = 0
        self.spill = 0
        self.records_written = 0
        self.records_read = 0
        self.python_bytes = 0
        self.stage_tasks: dict[int, list[int]] = defaultdict(list)


def fold_event_log(path: str) -> dict[str, GroupStats]:
    """Job group -> GroupStats, from a finished (uncompressed) event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                groups[gid].jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerStageSubmitted":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid:
                    stage_group[ev["Stage Info"]["Stage ID"]] = gid
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                g.task_ms += m.get("Executor Run Time", 0)
                g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.spill += m.get("Disk Bytes Spilled", 0)
                g.records_written += (m.get("Output Metrics") or {}).get(
                    "Records Written", 0)
                g.records_read += (m.get("Input Metrics") or {}).get(
                    "Records Read", 0)
                for acc in info.get("Accumulables", ()):
                    if "Python workers" in str(acc.get("Name", "")) and str(
                            acc.get("Name")).startswith("data "):
                        g.python_bytes += int(acc.get("Update") or 0)
                g.stage_tasks[ev["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return groups


def _skew(stats: list[GroupStats]) -> float:
    """max / median task time of the heaviest Spark stage."""
    stages = [t for g in stats for t in g.stage_tasks.values()]
    if not stages:
        return 1.0
    heavy = max(stages, key=sum)
    return max(heavy) / max(statistics.median(heavy), 1)


def build_layers(tracer: Tracer, groups: dict[str, GroupStats],
                 builds: list[Span]) -> dict[str, list[float]]:
    """Per-layer samples (one per build) for each build stage + sink."""
    out: dict[str, list[float]] = defaultdict(list)
    for b in builds:
        writes = [s for s in tracer.spans if s.parent == b.id and s.name == "write"]
        prev_end, prev_group = b.start, f"s{b.id}:start"
        jobs = sum(g.jobs for k, g in groups.items() if k and k.startswith(f"s{b.id}:"))
        for w in writes:
            stage = w.attrs["stage"]
            key = f"{STAGE_LAYER.get(stage, 'pipeline.materialize')}.{stage}"
            st = [groups[prev_group], groups[f"s{b.id}:{stage}"]]
            out[f"{key}.s"].append(w.end - prev_end)
            out[f"{key}.task_s"].append(sum(g.task_ms for g in st) / 1000)
            out[f"{key}.rows_out"].append(sum(g.records_written for g in st))
            out[f"{key}.shuffle_write_mb"].append(sum(g.shuffle_write for g in st) / MB)
            out[f"{key}.spill_mb"].append(sum(g.spill for g in st) / MB)
            out[f"{key}.task_skew"].append(_skew(st))
            if stage == "mentions":
                out[f"{key}.python_mb"].append(sum(g.python_bytes for g in st) / MB)
            prev_end, prev_group = w.end, f"s{b.id}:after:{stage}"
        out["pipeline.materialize.sink_s"].append(b.end - prev_end)
        out["pipeline.materialize.jobs"].append(jobs)
    return out


def serve_layers(tracer: Tracer, groups: dict[str, GroupStats],
                 requests: list[Span]) -> dict[str, list[float]]:
    """Per-layer samples (one per request) for the serving path."""
    out: dict[str, list[float]] = defaultdict(list)
    kids = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    read = returned = 0
    for r in requests:
        by = {s.name: s for s in kids[r.id]}
        if not {"evaluate", "emit", "parse"} <= by.keys():
            continue  # the request failed before its result was emitted
        ev, em, pa = by["evaluate"], by["emit"], by["parse"]
        mine = [g for k, g in groups.items() if k and k.startswith(f"s{r.id}:")]
        out["plans.sparql.parse_ms"].append(pa.seconds * 1000)
        out["plans.sparql.compile_ms"].append((ev.seconds - pa.seconds) * 1000)
        out["plans.sparql.jobs_per_query"].append(sum(g.jobs for g in mine))
        out["cli.emit_ms"].append(em.seconds * 1000)
        out["cli.response_kb"].append(r.attrs["bytes"] / 1024)
        out["web.overhead_ms"].append((r.seconds - ev.seconds - em.seconds) * 1000)
        out[f"serve.{r.attrs['cls']}.p50_ms"].append(r.seconds * 1000)
        read += sum(g.records_read for g in mine)
        returned += r.attrs["rows"]
    out["plans.sparql.rows_read_per_row_returned"].append(read / max(returned, 1))
    return out
