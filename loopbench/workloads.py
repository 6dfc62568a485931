"""The three closed-loop workloads.

Each workload has the same shape: ``setup`` (generate the starting
state and build the rule registry, in Python only, so it is cheap to
repeat), ``prime`` (set-up work done once in Spark: land the alert
workloads' inventory and history), ``prepare(i)`` (make unit ``i``'s
input, untimed) and ``unit(i)`` (the timed scheduled unit), then
``check`` against the generator's ground truth. Units run back to back:
the next scheduled run starts when the previous one completes, and the
simulated clock advances one interval per unit.

No workload runs the engine before its first measured unit: a
scheduled SnowAlert run is a fresh process, so JIT and codegen are part
of what each run costs. (A warm-up tick would also double the cost of
a run, and the benchmark's budget is about one scheduled unit per run.)
"""

from __future__ import annotations

import datetime as dt
import json
import os

import corpus
import gen


def _rows(path: str) -> int:
    """Row count of every parquet file under ``path`` from the footers
    (no Spark job)."""
    import pyarrow.parquet as pq

    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


class Handler:
    """The in-memory dispatch target the corpus's HANDLERS name."""

    def __init__(self):
        self.calls = 0

    def handle(self, alert: dict, correlation_id: str | None = None):
        self.calls += 1
        return {"success": True, "ticket": f"LB-{self.calls}"}


class AlertWorkload:
    """Shared by alert_tick and alert_backfill: land → alert loop →
    violation loop over the whole corpus."""

    def __init__(self, spark, root: str, seed: int, tracer):
        from snowalert_spark import handlers
        from snowalert_spark.rules import RuleRegistry
        from snowalert_spark.store import ResultsStore

        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        self.store = ResultsStore(spark, os.path.join(root, "results"))
        self.registry = RuleRegistry()
        corpus.register(self.registry)
        # the latest-built workload owns the handler name
        self.handler = Handler()
        handlers.register(corpus.HANDLER, self.handler.handle)
        self.inv = gen.inventory(seed)
        self.rows: list[gen.Row] = []
        self.runs: list[tuple] = []
        self.ingested = 0
        self.pending = None

    # -- landing ----------------------------------------------------------
    def _land(self, name: str, events, time_col: str = "event_time") -> None:
        import pandas as pd
        from snowalert_spark.sources import landing

        path = os.path.join(self.root, "landing", name)
        if events:
            pdf = pd.DataFrame(events, columns=[time_col, "raw"])
            df = self.spark.createDataFrame(pdf, f"{time_col} timestamp, raw string")
            landing.write_landing(df, path, time_col=time_col)
        landing.register_landing_view(self.spark, name, path)

    def land_interval(self, iv: gen.Interval) -> None:
        with self.tr.span("landing"):
            self._land("cloudtrail", iv.cloudtrail)
            self._land("okta", iv.okta)
        self.rows += iv.rows
        self.ingested += len(iv.cloudtrail) + len(iv.okta)

    def land_inventory(self) -> None:
        self._land("iam_users", self.inv.iam_users, "snapshot_at")

    def loop(self, frm: dt.datetime, to: dt.datetime) -> None:
        from snowalert_spark import run

        run.run_alerts(self.spark, self.store, self.registry, from_ts=frm, to_ts=to)
        run.run_violations(self.spark, self.store, self.registry)
        self.runs.append((frm, to, list(self.rows)))

    # -- ground truth ------------------------------------------------------
    def check(self) -> tuple[list[str], dict]:
        """Mismatches against the generator, and detail counts."""
        from pyspark.sql import functions as F

        bad: list[str] = []
        ticks = len(self.runs)
        md = [json.loads(r.v) for r in self.store.read("query_metadata").collect()]
        # a quarantined rule (ERROR metadata row) is a failed operation,
        # not an output mismatch: its alerts leave the comparison
        quarantined = {m["QUERY_NAME"] for m in md if "ERROR" in m}
        alerts = [a for a in self.store.read("alerts").select(
            "alert.QUERY_NAME", "alert.OBJECT", "alert.DESCRIPTION",
            "alert.ACTOR", "alert.TITLE", "counter", "suppressed",
            "correlation_id", "handled").collect()
            if a.QUERY_NAME not in quarantined]
        expected = [e for e in gen.expected_alerts(self.runs)
                    if e["rule"] not in quarantined]
        key = lambda q, o, d, c, s: (q, o, d, int(c), bool(s))  # noqa: E731
        got = sorted(key(a.QUERY_NAME, a.OBJECT, a.DESCRIPTION, a.counter,
                         a.suppressed) for a in alerts)
        want = sorted(key(e["rule"], e["object"], e["description"], e["counter"],
                          e["suppressed"]) for e in expected)
        if got != want:
            per = lambda rows: {r[0]: (sum(1 for x in rows if x[0] == r[0]),  # noqa: E731
                                       sum(x[3] for x in rows if x[0] == r[0]))
                                for r in rows}
            g, w = per(got), per(want)
            diff = {k: (g.get(k), w.get(k)) for k in set(g) | set(w)
                    if g.get(k) != w.get(k)}
            bad.append(f"alerts: {len(got)} rows vs {len(want)} expected; "
                       f"per rule (alerts, counter sum) got/want {diff or 'same totals'}")
        n_supp = sum(1 for a in alerts if a.suppressed)
        if n_supp != sum(1 for e in expected if e["suppressed"]):
            bad.append(f"suppressed: {n_supp}")
        if any(a.suppressed is None for a in alerts):
            bad.append("suppressed: NULL left after the suppression pass")
        # correlation: unsuppressed rows of one actor form one group
        live = [a for a in alerts if not a.suppressed]
        got_groups = {}
        for a in live:
            got_groups.setdefault(a.correlation_id, set()).add((a.OBJECT, a.DESCRIPTION))
        want_groups = {}
        for e in expected:
            if not e["suppressed"]:
                want_groups.setdefault(e["actor"], set()).add((e["object"], e["description"]))
        gs = sorted(sorted(v) for v in got_groups.values())
        ws = sorted(sorted(v) for v in want_groups.values())
        if None in got_groups or gs != ws:
            bad.append(f"correlation: {len(got_groups)} groups vs {len(want_groups)} expected")
        # dispatch: every unsuppressed alert handled once, no backlog
        handled = [json.loads(a.handled) for a in live if a.handled]
        failures = sum(1 for h in handled for r in h if not r.get("success"))
        if len(handled) != len(live) or self.handler.calls != len(live):
            bad.append(f"dispatch: {self.handler.calls} handler calls, "
                       f"{len(handled)} handled of {len(live)} unsuppressed")
        # violations: one row per violating object per run, stable ids
        v = self.store.read("violations").groupBy(
            F.get_json_object("result", "$.QUERY_NAME").alias("q"), "id",
            F.get_json_object("result", "$.TITLE").alias("title"),
        ).agg(F.count("*").alias("n"),
              F.sum(F.col("suppressed").cast("int")).alias("s")).collect()
        want_ids = {q: len(objs) for q, objs in self.inv.expected.items()}
        got_ids = {}
        for r in v:
            got_ids[r.q] = got_ids.get(r.q, 0) + 1
        if got_ids != want_ids:
            bad.append(f"violations: distinct ids {got_ids} vs {want_ids}")
        if any(r.n != ticks for r in v):
            bad.append("violations: ids not stable across runs")
        supp = sum(1 for r in v if r.s)
        if supp != len(self.inv.exempt) or any(r.s not in (0, ticks) for r in v):
            bad.append(f"violation suppression: {supp} ids vs {len(self.inv.exempt)}")
        rule_runs = len(md)
        if rule_runs != ticks * len(self.registry.rules):
            bad.append(f"metadata: {rule_runs} rows for {ticks} runs")
        # rows whose stored title is not the one the rule's SQL emits:
        # reported, not gated (a dialect-layer defect, see README)
        drift = sum(1 for a in alerts if a.TITLE != corpus.TITLES[a.QUERY_NAME]) + \
            sum(r.n for r in v if r.title != corpus.TITLES[r.q])
        return bad, {
            "checks": 9, "operations": rule_runs + self.handler.calls,
            "op_failures": sum(1 for m in md if "ERROR" in m) + failures,
            "alerts": len(alerts), "suppressed": n_supp,
            "groups": len(got_groups), "dispatched": self.handler.calls,
            "handler_failures": failures, "quarantined": sorted(quarantined),
            "title_drift": drift,
        }

    def prime(self) -> None:
        self.land_inventory()
        if self.initial.rows:
            self.land_interval(self.initial)

    def stored_paths(self) -> list[str]:
        return [os.path.join(self.root, "landing"), os.path.join(self.root, "results")]


class AlertTick(AlertWorkload):
    """One 5-minute interval of events per scheduled run; the alert
    loop then scans the trailing 90-minute window."""

    HISTORY = 6  # intervals landed (in one write) before the first run
    CT, OKTA, INCIDENTS = 2000, 1000, 8

    def setup(self) -> None:
        self.gen = gen.EventGen(self.seed, self.CT, self.OKTA, self.INCIDENTS)
        self.initial = gen.Interval()
        for i in range(self.HISTORY):
            iv = self.gen.interval(i)
            self.initial.cloudtrail += iv.cloudtrail
            self.initial.okta += iv.okta
            self.initial.rows += iv.rows

    def prepare(self, i: int) -> None:
        self.pending = self.gen.interval(self.HISTORY + i)

    def unit(self, i: int) -> int:
        iv, self.pending = self.pending, None
        self.land_interval(iv)
        to = gen.EPOCH + (self.HISTORY + i + 1) * gen.INTERVAL
        self.loop(to - gen.WINDOW, to)
        return len(iv.cloudtrail) + len(iv.okta)


class AlertBackfill(AlertWorkload):
    """One simulated day of events per pass, with an explicit from/to
    window over that day."""

    DAY = dt.timedelta(days=1)
    CT, OKTA, INCIDENTS = 84_000, 36_000, 240

    def setup(self) -> None:
        self.gen = gen.EventGen(self.seed, self.CT, self.OKTA, self.INCIDENTS)
        self.initial = gen.Interval()

    def prepare(self, i: int) -> None:
        self.pending = self.gen.interval(i, self.DAY)

    def unit(self, i: int) -> int:
        iv, self.pending = self.pending, None
        self.land_interval(iv)
        frm = gen.EPOCH + i * self.DAY
        self.loop(frm, frm + self.DAY)
        return len(iv.cloudtrail) + len(iv.okta)


class CurationChain:
    """Gate → near-dup → substring stream tiers, one tick of documents
    per unit, chained through each tier's output directory."""

    DOCS = 300  # per tick
    WINDOW = 40
    SRC = "doc_id long, text string, lang string, source string"
    GATE_OUT = ("doc_id long, text string, lang string, source string, "
                "n_tokens long, quality double, top_word_frac double")
    FINAL = "doc_id long, clean_text string, removed_chars long, n_removed_windows long"

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.root, self.seed, self.tr = spark, root, seed, tracer
        self.ticks: list[gen.DocTick] = []
        self.pending = None
        self.ingested = 0
        self.out_rows = {"gate": 0, "near": 0, "final": 0}

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def setup(self) -> None:
        self.gen = gen.DocGen(self.seed)
        os.makedirs(self._p("src"), exist_ok=True)

    def prime(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        t = self.gen.tick(self.DOCS)
        with open(os.path.join(self._p("src"), f"tick{i + 1:05d}.json"), "w") as f:
            for d in t.docs:
                f.write(json.dumps(d) + "\n")
        self.pending = t

    def unit(self, i: int) -> int:
        from pyspark.sql import types as T
        from snowalert_spark import streaming

        t, self.pending = self.pending, None
        p = self._p
        with self.tr.span("streaming.curation"):
            streaming.curation_stream_ingest(
                self.spark, src_path=p("src"), dst_path=p("gate_out"),
                checkpoint=p("ckpt_gate"), schema=T._parse_datatype_string(self.SRC))
        with self.tr.span("streaming.neardup"):
            streaming.neardup_stream_ingest(
                self.spark, src_path=p("gate_out"), dst_path=p("near_out"),
                checkpoint=p("ckpt_near"), state_dir=p("state_near"),
                schema=T._parse_datatype_string(self.GATE_OUT), fmt="parquet")
        with self.tr.span("streaming.substring"):
            streaming.substring_stream_ingest(
                self.spark, src_path=p("near_out"), dst_path=p("final"),
                checkpoint=p("ckpt_sub"), state_dir=p("state_sub"),
                schema=T._parse_datatype_string(self.GATE_OUT), fmt="parquet",
                window=self.WINDOW)
        self.ticks.append(t)
        self.ingested += len(t.docs)
        if self.tr.enabled:
            gate, near, final = (_rows(p(x)) for x in ("gate_out", "near_out", "final"))
            self.tr.add("streaming.curation.rows_in", len(t.docs))
            self.tr.add("streaming.curation.rows_out", gate - self.out_rows["gate"])
            self.tr.add("streaming.neardup.rows_in", gate - self.out_rows["gate"])
            self.tr.add("streaming.neardup.rows_out", near - self.out_rows["near"])
            self.tr.add("streaming.substring.rows_in", near - self.out_rows["near"])
            self.tr.add("streaming.substring.rows_out", final - self.out_rows["final"])
            self.out_rows = {"gate": gate, "near": near, "final": final}
        return len(t.docs)

    def state_rows(self) -> dict[str, float]:
        return {"streaming.neardup.state_rows": _rows(self._p("state_near")),
                "streaming.substring.state_rows": _rows(self._p("state_sub"))}

    def check(self) -> tuple[list[str], dict]:
        bad: list[str] = []
        final = {r.doc_id: r for r in self.spark.read.schema(self.FINAL)
                 .parquet(self._p("final")).collect()}
        want_ids, seen, want_cut = set(), set(), {}
        for t in self.ticks:
            survivors = [d for d in t.docs
                         if d["doc_id"] not in t.rejected | t.dropped]
            want_ids |= {d["doc_id"] for d in survivors}
            want_cut.update(gen.expected_substring(survivors, self.WINDOW, seen))
        if set(final) != want_ids:
            bad.append(f"curation survivors: {len(final)} vs {len(want_ids)} expected "
                       f"({len(set(final) - want_ids)} extra, "
                       f"{len(want_ids - set(final))} missing)")
        wrong = [i for i, r in final.items() if i in want_cut
                 and (r.removed_chars, r.n_removed_windows) != want_cut[i]]
        if wrong:
            bad.append(f"excised spans differ on {len(wrong)} docs")
        return bad, {
            "checks": 2, "operations": 0, "op_failures": 0,
            "survivors": len(final),
            "excised_docs": sum(1 for r in final.values() if r.removed_chars),
        }

    def stored_paths(self) -> list[str]:
        return [self._p(x) for x in ("src", "gate_out", "near_out", "final",
                                     "state_near", "state_sub")]


WORKLOADS = {
    "alert_tick": AlertTick,
    "alert_backfill": AlertBackfill,
    "curation_chain": CurationChain,
}
