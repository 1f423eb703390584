"""Self-tests of the benchmark, run from the repository root:

    python3 kgbench/selftest.py            # all (a few minutes)
    python3 kgbench/selftest.py generators checks

- ``generators``: the same seed gives the identical staged-input checksum,
  another seed a different one, for both corpora.
- ``oracle``: the expected tables ``oracle.py`` derives equal those of the
  engine's DuckDB twins (``oracle_sql.kg_typed_mentions``, ``kg_triples``,
  ``er_components``, ``kg_canonical_triples``) on small corpora of both
  kinds, so the two reference implementations cannot drift apart.
- ``checks``: the output checks catch a corrupted output — one dropped
  triple, one duplicated (double-committed) typed mention — and pass the
  uncorrupted ones.
- ``bypass``: one untraced tag_stream job calls no function of
  ``pipeline.er`` or ``pipeline.checkpoint``, wherever the package binds it.
- ``properties``: one traced run per workload; er_ckpt spends at least a
  third of its (warm) uninterrupted job in ``checkpoint.*`` and at least a
  fifth in ``er.*``; each workload's on-chain self times sum to within 10%
  of its untraced wall time.
"""

from __future__ import annotations

import functools
import json
import subprocess
import sys
import tempfile
import types
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import oracle  # noqa: E402

ROOT = Path.cwd()


def test_generators() -> None:
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        for name, gen in (
            ("low", lambda s: corpus.low_diversity_pages(ROOT, s, 400)),
            ("dense", lambda s: corpus.entity_dense_pages(ROOT, s, 200, 400)),
        ):
            digests = []
            for i, seed in enumerate((7, 7, 8)):
                out = Path(tmp) / f"{name}{i}"
                corpus.stage_pages(gen(seed), out, 3)
                digests.append(corpus.staged_digest(out))
            assert digests[0] == digests[1], f"{name}: same seed, different input"
            assert digests[0] != digests[2], f"{name}: different seeds, same input"


def test_oracle() -> None:
    import duckdb
    from unsupervised_ner_spark import oracle_sql

    twins = {
        "typed_mentions": (oracle_sql.kg_typed_mentions(), oracle.TYPED_COLS),
        "triples": (oracle_sql.kg_triples(), oracle.TRIPLE_COLS),
        "entities": (oracle_sql.er_components(), oracle.ENTITY_COLS),
        "canonical_triples": (oracle_sql.kg_canonical_triples(), oracle.CANON_COLS),
    }
    tagger = oracle.make_tagger()
    for name, pages in (("low", corpus.low_diversity_pages(ROOT, 3, 120)),
                        ("dense", corpus.entity_dense_pages(ROOT, 3, 60, 400))):
        want = oracle.Expected(pages, "en", tagger).digests()
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE documents (doc_id VARCHAR, text VARCHAR)")
            con.executemany("INSERT INTO documents VALUES (?, ?)",
                            [(p["url"], oracle.page_text(p)) for p in pages
                             if p["lang"] == "en"])
            for table, (sql, cols) in twins.items():
                rel = con.execute(sql)
                at = [d[0] for d in rel.description]
                rows = [tuple(r[at.index(c)] for c in cols) for r in rel.fetchall()]
                got = oracle.py_digest(rows)
                assert got == want[table], \
                    f"{name} {table}: DuckDB twin {got}, oracle.py {want[table]}"
        finally:
            con.close()


def test_checks() -> None:
    import session
    import workloads
    from pyspark.sql import functions as F
    from unsupervised_ner_spark.pipeline.runner import (
        run_pipeline,
        typed_mentions_from_tagged,
    )

    pages = corpus.low_diversity_pages(ROOT, 3, 200)
    want = oracle.Expected(pages, "en", oracle.make_tagger()).digests()
    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        work = Path(tmp)
        session.prepare_env(ROOT, work)
        corpus.stage_pages(pages, work / "input", 2)
        spark = session.start(work, 2)
        try:
            stages = run_pipeline(spark.read.parquet(str(work / "input")), lang_filter="en")
            triples = stages["triples"]
            typed = typed_mentions_from_tagged(stages["tagged"])
            assert oracle.spark_digest(triples, oracle.TRIPLE_COLS) == want["triples"]
            assert oracle.spark_digest(typed, oracle.TYPED_COLS) == want["typed_mentions"]
            first = triples.orderBy("url", "sent_idx", "subj", "obj").limit(1)
            dropped = triples.exceptAll(first)
            doubled = typed.unionByName(typed.filter(F.col("mention_idx") == 0).limit(1))
            fails: list = []
            workloads._check("dropped", oracle.spark_digest(dropped, oracle.TRIPLE_COLS),
                             want["triples"], fails)
            workloads._check("doubled", oracle.spark_digest(doubled, oracle.TYPED_COLS),
                             want["typed_mentions"], fails)
            assert len(fails) == 2, f"a corrupted output passed the output check: {fails}"
        finally:
            session.stop(spark)


def count_calls(modules) -> tuple[Counter, list]:
    """Wrap every function defined in ``modules`` with a call counter, in
    those modules and in every package module that imported it by name.
    Returns the counter and the (module, name, original) list to restore."""
    calls: Counter = Counter()
    targets = {id(fn): f"{m.__name__}.{n}" for m in modules for n, fn in vars(m).items()
               if isinstance(fn, types.FunctionType) and fn.__module__ == m.__name__}
    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("unsupervised_ner_spark"):
            continue
        for name, fn in list(vars(mod).items()):
            label = targets.get(id(fn)) if isinstance(fn, types.FunctionType) else None
            if label is None:
                continue

            def wrapped(*a, _fn=fn, _label=label, **kw):
                calls[_label] += 1
                return _fn(*a, **kw)

            setattr(mod, name, functools.wraps(fn)(wrapped))
            patched.append((mod, name, fn))
    return calls, patched


def test_bypass() -> None:
    import session
    import workloads
    from unsupervised_ner_spark.pipeline import checkpoint, er

    with tempfile.TemporaryDirectory(dir=ROOT) as tmp:
        work = Path(tmp)
        session.prepare_env(ROOT, work)
        wl = workloads.TagStream(ROOT, work, 5, 2)
        wl.prepare()
        spark = session.start(work, 2)
        try:
            calls, patched = count_calls([er, checkpoint])
            assert len(patched) > 40, f"only {len(patched)} functions wrapped"
            try:
                wl.iteration(spark)
            finally:
                for mod, name, fn in patched:
                    setattr(mod, name, fn)
        finally:
            session.stop(spark)
    assert wl.attempted == 1 and wl.failed == 0, wl.failures
    assert not calls, f"tag_stream called into ER / checkpoint: {dict(calls)}"


def traced_record(workload: str) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "10", "--trace", "1"],
        capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, result
    outs = sorted((ROOT / ".kgbench_out").glob(f"{workload}-s5-t1-*.json"),
                  key=lambda p: p.stat().st_mtime)
    return json.loads(outs[-1].read_text())


def test_properties() -> None:
    tag = traced_record("tag_stream")
    share = tag["metrics"]["trace.self_sum_share"]
    assert 0.9 <= share <= 1.1, f"tag_stream self times sum to {share:.2f} of the wall"

    job = traced_record("er_ckpt")
    steps = [st for st in job["steps"] if st["run_id"].endswith("-uninterrupted")]
    wall = job["detail"]["untraced_s"]
    for prefix, share in (("checkpoint.", 1 / 3), ("er.", 1 / 5)):
        part = sum(st["self_s"] for st in steps if st["layer"].startswith(prefix))
        assert part >= wall * share, f"{prefix}* is {part:.1f} s of a {wall:.1f} s job"
    share = job["metrics"]["trace.self_sum_share"]
    assert 0.9 <= share <= 1.1, f"er_ckpt self times sum to {share:.2f} of the wall"


TESTS = {"generators": test_generators, "oracle": test_oracle, "checks": test_checks,
         "bypass": test_bypass, "properties": test_properties}


def main(argv: list[str]) -> int:
    if not (ROOT / "unsupervised_ner_spark").is_dir():
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    failed = 0
    for name in argv or list(TESTS):
        try:
            TESTS[name]()
            print(f"ok    {name}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL  {name}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
