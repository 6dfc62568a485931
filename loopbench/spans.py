"""Per-layer tracing, measured from outside the engine.

A :class:`Tracer` wraps each layer's public functions (the product
modules are patched for the traced phase only), keeps one span per call
in memory and sets a Spark job group per span. After the session stops,
:func:`layer_metrics` joins the spans with the Spark event log: each job
goes to the span named by its job group or, for jobs submitted from
another thread (streaming micro-batches), to the innermost span open at
its submission time. The event-log reading follows
``tools/profile_query.py``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

LAYERS = (
    "landing", "compat", "rules", "alert_queries", "alert_suppressions",
    "alert_processor", "alert_dispatcher", "violation_queries", "metadata",
    "store", "streaming.curation", "streaming.neardup", "streaming.substring",
)
FIELDS = ("calls", "self_s", "driver_s", "jobs", "tasks", "shuffle_bytes",
          "spill_bytes")
# every per-layer metric a traced run reports (per unit, except the
# end-of-run state sizes and the trace.* figures)
PER_LAYER = tuple(f"{L}.{f}" for L in LAYERS for f in FIELDS) + (
    "store.rows_changed", "store.records_written", "store.write_amplification",
    "store.versions", "metadata.records", "alert_queries.rules_failed",
    "alert_dispatcher.dispatched", "alert_dispatcher.handler_failures",
    "alert_processor.correlated",
    "streaming.curation.rows_in", "streaming.curation.rows_out",
    "streaming.neardup.rows_in", "streaming.neardup.rows_out",
    "streaming.substring.rows_in", "streaming.substring.rows_out",
    "streaming.neardup.state_rows", "streaming.substring.state_rows",
    "spark.driver_gap_s", "trace.coverage", "trace.run_p50_s",
)


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op, so
    the untraced phase runs the same benchmark code."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.units: list[tuple[float, float]] = []
        self.results: dict[str, float] = {}
        self._restore: list[tuple[object, str, object]] = []

    def add(self, key: str, n: float) -> None:
        if self.enabled:
            self.results[key] = self.results.get(key, 0) + n

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"lb{span['id']}", span["layer"])

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        s = {"id": len(self.spans), "layer": layer,
             "parent": self.stack[-1]["id"] if self.stack else None,
             "t0": time.time(), "t1": None}
        self.spans.append(s)
        self.stack.append(s)
        self._group(s)
        try:
            yield
        finally:
            s["t1"] = time.time()
            self.stack.pop()
            self._group(self.stack[-1] if self.stack else None)

    @contextmanager
    def unit(self):
        t0 = time.time()
        try:
            yield
        finally:
            self.units.append((t0, time.time()))

    def wrap(self, owner, attr: str, layer: str, on_result=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(layer):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        self._restore.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Patch every product layer the scheduled loop reaches."""
        from snowalert_spark import compat, rules, store
        from snowalert_spark.runners import (
            alert_dispatcher,
            alert_processor,
            alert_queries,
            alert_suppressions,
            metadata,
            violation_queries,
        )

        def rules_failed(results):
            self.add("alert_queries.rules_failed",
                     sum(1 for r in results if "ERROR" in r))

        def rows_changed(n):
            self.add("store.rows_changed", n["updated"] + n["inserted"])

        self.wrap(compat, "transpile", "compat")
        self.wrap(rules.Rule, "df", "rules")
        self.wrap(alert_queries, "main", "alert_queries", rules_failed)
        self.wrap(alert_suppressions, "main", "alert_suppressions")
        self.wrap(alert_processor, "main", "alert_processor",
                  lambda n: self.add("alert_processor.correlated", n))
        self.wrap(alert_dispatcher, "main", "alert_dispatcher",
                  lambda n: self.add("alert_dispatcher.dispatched", n))
        self.wrap(violation_queries, "main", "violation_queries")
        self.wrap(violation_queries, "suppress", "violation_queries")
        self.wrap(metadata, "record", "metadata",
                  lambda _: self.add("metadata.records", 1))
        self.wrap(store.ResultsStore, "upsert", "store", rows_changed)
        self.wrap(store.ResultsStore, "update", "store")

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()


# -- event log -------------------------------------------------------------
def read_event_log(evdir: str) -> list[dict]:
    """Completed jobs, with their stages' task totals, from the one
    application log in ``evdir``. Times are epoch seconds."""
    files = []
    for name in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, name)
        if os.path.isdir(p):  # rolling layout: a directory of events_*
            files += sorted(os.path.join(p, f) for f in os.listdir(p)
                            if f.startswith("events_"))
        else:
            files.append(p)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                # skip the bulk of the log (block/executor metrics) cheaply
                if '"SparkListenerJob' not in line[:40] and \
                        '"SparkListenerTaskEnd"' not in line[:40]:
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "t0": ev["Submission Time"] / 1000,
                                 "t1": None,
                                 "group": props.get("spark.jobGroup.id")}
                    for sid in ev.get("Stage IDs", []):
                        # a stage runs in the first job that lists it;
                        # later jobs skip it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
                else:
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0,
                        "records_written": 0})
                    st["tasks"] += 1
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["records_written"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0)
    for sid, st in stages.items():
        j = jobs.get(stage_job.get(sid))
        if j is not None:
            for k, v in st.items():
                j[k] = j.get(k, 0) + v
    return [j for j in jobs.values() if j["t1"] is not None]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(tracer: Tracer, jobs: list[dict]) -> dict[str, float]:
    """Per-unit averages of every per-layer field, plus
    ``spark.driver_gap_s`` and ``trace.coverage`` (top-level span time
    over unit wall time)."""
    spans = tracer.spans
    n_units = max(1, len(tracer.units))
    by_id = {s["id"]: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["t1"] - s["t0"]
    # job -> span: its job group, else the innermost span open at
    # submission (the latest-starting span containing the time)
    owned: dict[int, list[dict]] = {}
    ordered = sorted(spans, key=lambda s: s["t0"])
    for j in jobs:
        sid = None
        g = j.get("group") or ""
        if g.startswith("lb") and g[2:].isdigit() and int(g[2:]) in by_id:
            sid = int(g[2:])
        else:
            for s in ordered:
                if s["t0"] > j["t0"]:
                    break
                if s["t1"] >= j["t0"]:
                    sid = s["id"]
        if sid is not None:
            owned.setdefault(sid, []).append(j)

    out = {f"{L}.{f}": 0.0 for L in LAYERS for f in FIELDS}
    store_written = 0
    for s in spans:
        L = s["layer"]
        self_s = (s["t1"] - s["t0"]) - child_s.get(s["id"], 0.0)
        js = owned.get(s["id"], [])
        busy = _union([(max(j["t0"], s["t0"]), min(j["t1"], s["t1"])) for j in js
                       if j["t1"] > s["t0"] and j["t0"] < s["t1"]])
        out[f"{L}.calls"] += 1
        out[f"{L}.self_s"] += self_s
        out[f"{L}.driver_s"] += max(0.0, self_s - busy)
        out[f"{L}.jobs"] += len(js)
        for f in ("tasks", "shuffle_bytes", "spill_bytes"):
            out[f"{L}.{f}"] += sum(j.get(f, 0) for j in js)
        if L == "store":
            store_written += sum(j.get("records_written", 0) for j in js)

    gap = 0.0
    for u0, u1 in tracer.units:
        busy = _union([(max(j["t0"], u0), min(j["t1"], u1)) for j in jobs
                       if j["t1"] > u0 and j["t0"] < u1])
        gap += (u1 - u0) - busy
    unit_wall = sum(b - a for a, b in tracer.units) or 1.0
    top = sum(s["t1"] - s["t0"] for s in spans if s["parent"] is None
              and any(a <= s["t0"] and s["t1"] <= b for a, b in tracer.units))

    res = {k: v / n_units for k, v in out.items()}
    extras = dict(tracer.results)
    extras["store.records_written"] = store_written
    for k, v in extras.items():
        res[k] = v / n_units
    changed = res.get("store.rows_changed", 0.0)
    res["store.write_amplification"] = (
        res["store.records_written"] / changed if changed else 0.0)
    res["spark.driver_gap_s"] = gap / n_units
    res["trace.coverage"] = top / unit_wall
    return res
