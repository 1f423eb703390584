"""Benchmark harness: every gated query (``__spark_entry__.queries()``)
at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS], plus the full KG
pipeline (production path) over a synthetic page corpus, measured as
docs/sec. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized via a noop sink (no driver collect of
payload rows). It is also the per-query timer:

    BENCH_ONLY=q1,q2 BENCH_REPS=N python bench.py

times only the listed queries, N reps each.
"""

from __future__ import annotations

import json
import os
from statistics import median
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from unsupervised_ner_spark.caching import cache_scope  # noqa: E402
from unsupervised_ner_spark.pipeline.runner import run_pipeline  # noqa: E402
from unsupervised_ner_spark.pipeline.synth import synth_pages  # noqa: E402
from unsupervised_ner_spark.session import get_spark  # noqa: E402

SYNTH_PAGES = int(os.environ.get("BENCH_SYNTH_PAGES", "20000"))

# The sandbox hypervisor is strongly bimodal (VERDICT r03 "What's wrong" 1:
# 12.5 s vs 320.3 s for identical back-to-back runs of the same query) — a
# single timing reads the VM phase, not the plan. Each query is therefore
# timed up to BENCH_REPS times and the MEDIAN is reported; the headline
# total is the sum of medians (one effective pass).
BENCH_REPS = max(1, int(os.environ.get("BENCH_REPS", "3")))

# Wall-clock budget (ROADMAP round-6 candidate 3: at 90+ gated queries the
# 3-rep bench can outgrow the driver's window — the same artifact-of-record
# failure class as r4's truncated JSON line, in time instead of bytes).
# Reps are organized as PASSES over the full query list: pass 1 ALWAYS runs
# to completion (full coverage, every query gets at least one timing), and
# each further pass starts only if the elapsed wall plus a 1.3x-padded
# estimate of that pass fits the budget. Interleaving reps this way also
# decorrelates a query's reps from a single hypervisor phase — the same
# argument as the scaling protocol's interleaved N/4N pairs (BENCH.md).
BENCH_BUDGET_S = float(os.environ.get("BENCH_BUDGET_S", "3000"))


# The round's artifact of record keeps only the TAIL (~2 KB) of stdout —
# r4's line died of exactly this (VERDICT r04 item 1), and at 260+ gated
# queries a full per-query dict is ~6.5 KB, so the printed line carries the
# headline (value = sum of ALL medians) plus a head of queries sized to stay
# under the window; the complete medians + raw reps live in
# bench_reps_detail.json (committed; a BENCH_ONLY run leaves it as it is)
# and are streamed per-query to stderr.
HEAD_BUDGET_BYTES = 1800


def previous_head_keys(repo: Path) -> list[str]:
    """The query keys the last recorded round printed: ``parsed.queries``
    of the highest-numbered ``BENCH_rNN.json`` in ``repo`` ([] if none)."""
    rounds = sorted(repo.glob("BENCH_r[0-9][0-9].json"))
    if not rounds:
        return []
    parsed = json.loads(rounds[-1].read_text()).get("parsed") or {}
    return list(parsed.get("queries", {}))


def head_line(
    times: dict[str, float], previous: list[str], passes: int, sf: float
) -> str:
    """The one-line record. Its query head always holds every ``previous``
    key that was timed (so no key rotates out between rounds), then the
    heaviest remaining queries while the line fits HEAD_BUDGET_BYTES; both
    parts are heaviest-first by the current medians."""
    # Scoped BENCH_ONLY runs skip the synthetic pipeline query; the
    # throughput headline is only meaningful on the full set.
    kg_secs = times.get("kg_pipeline_synth")
    head = {
        "metric": "total_bench_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": {},
        "n_queries": len(times),
        "bench_reps": BENCH_REPS,
        "passes": passes,
        "sf": sf,
        "synth_docs_per_sec": (
            round(SYNTH_PAGES / kg_secs, 1) if kg_secs else None
        ),
        "full_detail": "bench_reps_detail.json",
    }

    def frag(k: str) -> int:  # `{"k":v},`: 2 bytes over what the entry adds
        return len(json.dumps({k: times[k]}, separators=(",", ":"))) + 1

    budget_bytes = HEAD_BUDGET_BYTES - len(json.dumps(head, separators=(",", ":")))
    heavy = sorted(times, key=lambda k: (-times[k], k))
    kept = set(previous)
    queries = head["queries"]
    queries.update((k, times[k]) for k in heavy if k in kept)
    budget_bytes -= sum(frag(k) for k in queries)
    for k in heavy:
        if k in queries:
            continue
        if budget_bytes < frag(k):
            break
        queries[k] = times[k]
        budget_bytes -= frag(k)
    head["queries_omitted"] = len(times) - len(queries)
    return json.dumps(head, separators=(",", ":"))


def materialize(df) -> None:
    # noop sink: full evaluation of every column, nothing to the driver
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)

    qs = entry.queries()
    only = [s for s in os.environ.get("BENCH_ONLY", "").split(",") if s]
    bench_queries = [n for n in qs if n in only] if only else list(qs)
    # warm worker processes (dimension bundles, codegen) outside the timed
    # windows — steady-state throughput is the metric (see BENCH.md)
    materialize(
        run_pipeline(synth_pages(spark, cpus * 32).repartition(cpus), lang_filter="en")["triples"]
    )
    # kg_pipeline_synth (production KG pipeline over a synthetic page
    # corpus, reported as docs/sec) is timed inside the same passes
    names = bench_queries + (["kg_pipeline_synth"] if not only else [])
    reps_all: dict[str, list[float]] = {n: [] for n in names}
    t_start = time.time()
    pass_costs: list[float] = []
    for p in range(BENCH_REPS):
        if p > 0:
            projected = (time.time() - t_start) + 1.3 * pass_costs[-1]
            if projected > BENCH_BUDGET_S:
                print(
                    f"# budget: stopping after {p} pass(es) — projected "
                    f"{projected:.0f}s > budget {BENCH_BUDGET_S:.0f}s",
                    file=sys.stderr, flush=True,
                )
                break
        t_pass = time.time()
        for name in names:
            t0 = time.time()
            # cache_scope releases every library persist taken inside this
            # query after its terminal action; clearCache sweeps anything
            # else so no timed window inherits the previous query's
            # evicted-block churn (round-2 pathology: 42 s for a
            # single-scan 17 MB query)
            with cache_scope():
                if name == "kg_pipeline_synth":
                    pages = synth_pages(spark, SYNTH_PAGES).repartition(cpus * 2)
                    materialize(run_pipeline(pages, lang_filter="en")["triples"])
                else:
                    materialize(qs[name](spark, sf_dir))
            spark.catalog.clearCache()
            reps_all[name].append(round(time.time() - t0, 3))
            print(
                f"# pass {p + 1} {name}: {reps_all[name][-1]}s",
                file=sys.stderr, flush=True,
            )
        pass_costs.append(time.time() - t_pass)
        print(
            f"# pass {p + 1}/{BENCH_REPS} done in {pass_costs[-1]:.1f}s "
            f"(elapsed {time.time() - t_start:.1f}s)",
            file=sys.stderr, flush=True,
        )

    times = {n: round(median(reps_all[n]), 3) for n in names}
    for name in names:
        print(f"# {name}: {times[name]}s (reps: {reps_all[name]})",
              file=sys.stderr, flush=True)

    total = round(sum(times.values()), 3)
    # The one-line artifact of record carries MEDIANS ONLY (VERDICT r04
    # item 1: embedding the reps dict in this line outgrew the driver's
    # tail-capture window and made BENCH_r04.json unparseable). The raw
    # reps are already streamed per-query to stderr above, and the full
    # detail is persisted to a side file next to this script.
    detail = {
        "medians": times,
        "total_all_queries": total,
        "reps": reps_all,
        "bench_reps": BENCH_REPS,
        "passes_completed": len(pass_costs),
        "pass_costs": [round(c, 1) for c in pass_costs],
        "budget_s": BENCH_BUDGET_S,
        "sf": sf,
        "cpus": cpus,
        "synth_pages": SYNTH_PAGES,
    }
    if not only:  # a scoped run keeps the full run's detail; its reps went to stderr
        (REPO / "bench_reps_detail.json").write_text(json.dumps(detail, indent=1))
    print(head_line(times, previous_head_keys(REPO), len(pass_costs), sf))
    spark.stop()


if __name__ == "__main__":
    main()
