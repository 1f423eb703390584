"""KG-construction benchmark: one command, run from the repository root.

    python3 kgbench/run.py --workload tag_stream --seed 1 --seconds 10 --trace 0

Builds its input from ``--seed``, sets up a ``local[4]`` session several
times (``setup_s`` is their median), runs the workload's job closed-loop
for ``--seconds``, checks every output against single-process expected
values, and prints one JSON line last: the end-to-end metrics with
``--trace 0``, or the per-layer metrics of a traced run with ``--trace 1``.
A detailed record (per-run timings, checks, and for traced runs every
span) is written under ``.kgbench_out/``. Exits non-zero without a result
when the engine package is missing or a run raises.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import session  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {w.name: w for w in (workloads.TagStream, workloads.ErCkpt)}
SETUPS = 2  # fresh-JVM set-ups per run, about 10 s each on a 4-core box
MAX_CORES = 4

LAYERS = (
    "text", "tagging", "runner.typed", "triples", "tagging.bio",
    "er.occurrences", "er.exact", "er.fuzzy", "er.cc", "er.resolve",
    "er.canonicalize",
    "checkpoint.write_stage", "checkpoint.resume_filter", "checkpoint.stage_read",
)
LAYER_FIELDS = {
    "s": "s", "plan_s": "s", "rows_out": "rows", "shuffle_mb": "MB",
    "spill_mb": "MB", "skew": "ratio", "scaling_eff": "ratio",
}
DERIVED = {
    "tagging.kernel_s": "s", "tagging.udf_overhead_s": "s",
    "tagging.typed_share": "ratio", "tagging.mentions_per_sent": "ratio",
    "er.fuzzy.edges_per_node": "ratio", "er.cc.rounds": "count",
    "er.merge_ratio": "ratio", "checkpoint.files": "count",
    "checkpoint.mb_written": "MB", "checkpoint.resume_skip_share": "ratio",
    "trace.overhead_s": "s", "trace.self_sum_share": "ratio",
}
END_TO_END = {"setup_s": "s", "docs_per_s": "1/s", "resume_s": "s"}


def per_layer_names() -> dict[str, str]:
    out = {f"{layer}.{f}": unit for layer in LAYERS for f, unit in LAYER_FIELDS.items()}
    out.update(DERIVED)
    return out


def environment(cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": os.cpu_count(), "cores": cores, "mem_total_mb": mem_kb // 1024,
            "SPARK_DRIVER_MEM": session.JVM_MEM, "pyspark": pyspark.__version__,
            "python": platform.python_version()}


def untraced(wl, seconds: float) -> tuple[dict, dict]:
    setups, spark = [], None
    try:
        for k in range(SETUPS):
            t0 = time.perf_counter()
            spark = session.start(wl.work, wl.cores)
            workloads.bundle_warmup(spark, wl.cores)
            setups.append(time.perf_counter() - t0)
            if k < SETUPS - 1:
                session.stop(spark)
                spark = None
        res = wl.timed(spark, seconds)
    finally:
        if spark is not None:
            session.stop(spark)
    if "resume_s" not in res:
        # no checkpoints: recovering from a crash re-runs the whole job
        res["resume_s"] = statistics.median(res["walls_s"])
    metrics = {"setup_s": statistics.median(setups), "docs_per_s": res["docs_per_s"],
               "resume_s": res["resume_s"]}
    return metrics, {"setups_s": setups, **res}


def traced(wl, run_id: str) -> tuple[dict, dict, list]:
    """The traced job, and untraced ones around it, in one session with the
    event log on; then the same JVM at local[1] for per-layer scaling."""
    log_dir = wl.work / "eventlog"
    spark = session.start(wl.work, wl.cores, event_log=log_dir)
    try:
        workloads.bundle_warmup(spark, wl.cores)
        tr = wl.traced(spark, run_id)
    finally:
        session.stop(spark, keep_jvm=True)  # flushes the event log
    tracers, scale4 = tr["tracers"], tr["scale4"]
    log = spans.parse_event_log(log_dir)
    report = spans.layer_report(tracers, log)
    spark = session.start(wl.work, 1)
    try:
        workloads.bundle_warmup(spark, 1)
        one = wl.traced_scaling(spark, run_id + "-local1")
    finally:
        session.stop(spark)
    self1 = spans.layer_self(one)
    self4 = spans.layer_self(scale4)
    self_sum = spans.chain_self_sum(tracers[0])
    derived = wl.derived(report, tracers)
    derived["trace.overhead_s"] = tr["traced_s"] - tr["untraced_s"]
    derived["trace.self_sum_share"] = self_sum / tr["untraced_s"]
    metrics: dict[str, float | None] = {}
    for layer in LAYERS:
        r = report.get(layer)
        for f in LAYER_FIELDS:
            if f == "scaling_eff":
                s4, s1 = self4.get(layer), self1.get(layer)
                ok = s4 is not None and s1 is not None and s4 > 0 and s1 > 0
                metrics[f"{layer}.{f}"] = s1 / (wl.cores * s4) if ok else None
            else:
                metrics[f"{layer}.{f}"] = None if r is None else r[f]
    for k in DERIVED:
        metrics[k] = derived.get(k)
    detail = {"untraced_s": tr["untraced_s"], "traced_s": tr["traced_s"],
              "walls_s": tr["walls_s"], "self_sum_s": self_sum,
              "local1_self_s": self1, "layers": report}
    return metrics, detail, list(dict.fromkeys(tracers + scale4 + one))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "unsupervised_ner_spark" / "__init__.py").is_file():
        print("kgbench: run from the repository root (unsupervised_ner_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = root / ".kgbench_work" / run_id
    session.prepare_env(root, work)
    cores = min(MAX_CORES, os.cpu_count() or 1)
    wl = WORKLOADS[args.workload](root, work, args.seed, cores)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "env": environment(cores)}
    t0 = time.perf_counter()
    try:
        record["input"] = wl.prepare()
        record["prepare_s"] = time.perf_counter() - t0
        if args.trace:
            metrics, detail, tracers = traced(wl, run_id)
            units = per_layer_names()
        else:
            metrics, detail = untraced(wl, args.seconds)
            tracers, units = [], END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(total_s=time.perf_counter() - t0, detail=detail, metrics=metrics,
                  attempted=wl.attempted,
                  failed=wl.failed, failures=wl.failures)
    out = root / ".kgbench_out" / f"{run_id}.json"
    spans.dump(out, record, tracers)
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        # a layer a workload does not run is null in the record, 0 here
        "metrics": {k: {"value": metrics[k] if metrics[k] is not None else 0.0,
                        "unit": units[k]} for k in units},
    }
    for f in wl.failures:
        print(f"kgbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
