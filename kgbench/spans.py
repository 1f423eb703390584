"""Spans around the benchmark's calls into the engine, and the per-layer
figures derived from them.

A traced chain is a list of *steps*. A step makes one call into one layer
(a ``call`` span) and, when the call returns a lazy DataFrame, materialises
it into the noop sink (a ``sink`` span). A step's cost C is the wall time
of both spans; the work it re-does from upstream is declared as ``base``
(steps whose lazy output it recomputes) and ``minus_self`` (steps whose
own work it repeats). Self time = C - sum(sink time of base) - sum(self
of minus_self), so the self times of a chain's steps telescope to its
planning plus its last materialisations. Shuffle and spill bytes are attributed the same
way. Every Spark job runs under its span's id as the job group, so the
event log maps stages and tasks back to spans.

``NullTracer`` runs the same chain code untraced: calls only, no sinks.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


class NullTracer:
    active = False

    def step(self, layer, fn, *args, sink=None, base=(), minus_self=(),
             on_chain=True, observe=None, rows_of=None, **kw):
        return fn(*args, **kw), None


@dataclass
class Step:
    id: str
    layer: str
    base: tuple
    minus_self: tuple
    on_chain: bool
    call_span: str = ""
    sink_span: str | None = None
    rows: int | None = None
    observed: dict = field(default_factory=dict)
    cost: float = 0.0       # call + sink wall time
    sink_cost: float = 0.0  # the part a downstream step re-pays
    extra: dict = field(default_factory=dict)


class Tracer:
    active = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self.steps: list[Step] = []

    @contextmanager
    def _span(self, name: str, kind: str, parent: str | None):
        sp = {"id": f"{self.run_id}:{len(self.spans)}", "name": name, "kind": kind,
              "run_id": self.run_id, "parent": parent, "start": time.time(), "end": None}
        self.spans.append(sp)
        self.spark.sparkContext.setJobGroup(sp["id"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self.spark.sparkContext.setJobGroup(f"{self.run_id}:idle", "idle")

    def step(self, layer, fn, *args, sink=None, base=(), minus_self=(),
             on_chain=True, observe=None, rows_of=None, **kw):
        """Call ``fn`` as one step of ``layer``. ``sink`` picks the lazy
        DataFrame to materialise from the result (``True``: the result
        itself); ``observe`` replaces the row count observed on the sink
        with other aggregates (one of them named ``n``). ``rows_of(result)``
        counts the rows of a step without a sink, outside its spans.
        Returns (result, step)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        st = Step(f"s{len(self.steps)}", layer, tuple(base), tuple(minus_self), on_chain)
        with self._span(layer, "call", None) as sp:
            out = fn(*args, **kw)
        st.call_span, st.cost = sp["id"], sp["end"] - sp["start"]
        if sink is not None:
            df = out if sink is True else sink(out)
            obs = Observation()
            observed = df.observe(obs, *(observe or [F.count(F.lit(1)).alias("n")]))
            with self._span(layer, "sink", st.call_span) as sp:
                observed.write.format("noop").mode("overwrite").save()
            st.sink_span, st.sink_cost = sp["id"], sp["end"] - sp["start"]
            st.cost += st.sink_cost
            st.observed = obs.get
            st.rows = int(st.observed["n"])
        elif rows_of is not None:
            st.rows = int(rows_of(out))
        self.steps.append(st)
        return out, st

    def attribute(self, value, recomputed) -> dict[str, float]:
        """Per-step self value: ``value(step)`` minus ``recomputed(base)``
        for each base — the execution a downstream step re-pays, not the
        base's planning — minus the self value of each minus_self step."""
        out: dict[str, float] = {}
        for st in self.steps:
            v = value(st) - sum(recomputed(b) for b in st.base)
            v -= sum(out[b.id] for b in st.minus_self)
            out[st.id] = v
        return out


# -- event log -----------------------------------------------------------
@dataclass
class SpanStats:
    job_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    stage_task_ms: dict = field(default_factory=dict)  # stage id -> task ms


def parse_event_log(log_dir: Path) -> dict[str, SpanStats]:
    """Per job group (= span id): Spark job wall time, shuffle bytes
    written, disk bytes spilled and task durations."""
    stats: dict[str, SpanStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, tuple[str, int]] = {}
    # rolling event log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    for f in sorted(log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1])):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = (g, ev["Submission Time"])
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, g)
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g:
                        st = stats.setdefault(g[0], SpanStats())
                        st.job_s += (ev["Completion Time"] - g[1]) / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    st = stats.setdefault(g, SpanStats())
                    st.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    st.spill_bytes += m["Disk Bytes Spilled"]
                    info = ev["Task Info"]
                    st.stage_task_ms.setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"])
    return stats


def layer_self(tracers: list[Tracer], on_chain_only: bool = False) -> dict[str, float]:
    """Self time per layer, summed over every step of that layer."""
    out: dict[str, float] = {}
    for tr in tracers:
        self_s = tr.attribute(lambda st: st.cost, lambda st: st.sink_cost)
        for st in tr.steps:
            if st.on_chain or not on_chain_only:
                out[st.layer] = out.get(st.layer, 0.0) + self_s[st.id]
    return out


def chain_self_sum(tracer: Tracer) -> float:
    """Sum of the on-chain self times: the traced job's explained wall time."""
    return sum(layer_self([tracer], on_chain_only=True).values())


def layer_report(tracers: list[Tracer], log: dict[str, SpanStats]) -> dict[str, dict]:
    """Per layer: self time, time inside its calls outside Spark jobs, rows out,
    shuffle / spill MB (self, like the time) and task skew."""
    out: dict[str, dict] = {}
    for tr in tracers:
        _report_into(out, tr, log)
    for r in out.values():
        r["skew"] = _skew(r.pop("stages"))
    return out


def _skew(stages: list[list[int]]) -> float:
    """Max / median task time within a stage, averaged over the layer's
    stages of two or more tasks, weighted by each stage's task time."""
    num = den = 0.0
    for t in stages:
        med = statistics.median(t) if len(t) > 1 else 0
        if med > 0:
            num += max(t) / med * sum(t)
            den += sum(t)
    return num / den if den else 0.0


def _report_into(out: dict, tracer: Tracer, log: dict[str, SpanStats]) -> None:
    def stat(st: Step) -> list[SpanStats]:
        return [log.get(s, SpanStats()) for s in (st.call_span, st.sink_span) if s]

    def sink_stat(st: Step) -> list[SpanStats]:
        return [log.get(st.sink_span, SpanStats())] if st.sink_span else []

    def mb(field, stats):
        return lambda st: sum(getattr(x, field) for x in stats(st)) / 2**20

    self_s = tracer.attribute(lambda st: st.cost, lambda st: st.sink_cost)
    shuffle = tracer.attribute(mb("shuffle_bytes", stat), mb("shuffle_bytes", sink_stat))
    spill = tracer.attribute(mb("spill_bytes", stat), mb("spill_bytes", sink_stat))
    spans = {sp["id"]: sp for sp in tracer.spans}
    for st in tracer.steps:
        r = out.setdefault(st.layer, {"s": 0.0, "plan_s": 0.0, "rows_out": 0,
                                      "shuffle_mb": 0.0, "spill_mb": 0.0,
                                      "stages": [], "on_chain": st.on_chain})
        call = spans[st.call_span]
        r["s"] += self_s[st.id]
        r["plan_s"] += max(0.0, call["end"] - call["start"]
                           - log.get(st.call_span, SpanStats()).job_s)
        r["rows_out"] += st.rows or 0
        r["shuffle_mb"] += shuffle[st.id]
        r["spill_mb"] += spill[st.id]
        for x in stat(st):
            r["stages"].extend(x.stage_task_ms.values())


def dump(path: Path, record: dict, tracers: list[Tracer]) -> None:
    """Write the run record and every span once, at the end of the run."""
    steps = []
    for tr in tracers:
        self_s = tr.attribute(lambda st: st.cost, lambda st: st.sink_cost)
        steps += [{"run_id": tr.run_id, "id": s.id, "layer": s.layer,
                   "call_span": s.call_span, "sink_span": s.sink_span, "rows": s.rows,
                   "cost_s": s.cost, "sink_s": s.sink_cost, "self_s": self_s[s.id],
                   "base": [b.id for b in s.base],
                   "minus_self": [b.id for b in s.minus_self], "on_chain": s.on_chain,
                   **s.extra}
                  for s in tr.steps]
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(
        {**record, "spans": [sp for tr in tracers for sp in tr.spans], "steps": steps},
        indent=1))
    tmp.replace(path)
