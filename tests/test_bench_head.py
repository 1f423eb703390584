"""bench.py's one-line record (Spark-free): the query head keeps the
previous round's keys, fits the recorded tail of stdout, and falls back to
heaviest-first when no round file exists."""

import json
from pathlib import Path

import bench

REPO = Path(__file__).resolve().parents[1]
# a round record keeps this many trailing bytes of stdout (BENCH_r06.json "tail")
TAIL_WINDOW = len(json.loads((REPO / "BENCH_r06.json").read_text())["tail"])
R06_KEYS = list(json.loads((REPO / "BENCH_r06.json").read_text())["parsed"]["queries"])
MEDIANS = json.loads((REPO / "bench_reps_detail.json").read_text())["medians"]


def test_head_keeps_previous_round_keys():
    assert len(R06_KEYS) == 65
    head = json.loads(bench.head_line(MEDIANS, R06_KEYS, 3, 0.1))["queries"]
    assert set(R06_KEYS) <= set(head)
    # previous keys first, each part heaviest-first by the current medians
    prev = [k for k in head if k in R06_KEYS]
    assert list(head)[: len(prev)] == prev
    assert prev == sorted(prev, key=lambda k: (-MEDIANS[k], k))


def test_line_fits_tail_window():
    assert TAIL_WINDOW == 2000
    for times in (MEDIANS, {k: 99.999 for k in MEDIANS}):
        line = bench.head_line(times, R06_KEYS, 3, 0.1)
        assert len(line.encode()) + 1 <= TAIL_WINDOW  # + the newline
        rec = json.loads(line)
        assert set(R06_KEYS) <= set(rec["queries"])
        assert rec["queries_omitted"] == len(times) - len(rec["queries"])
        assert rec["value"] == round(sum(times.values()), 3)


def test_no_round_file_is_heaviest_first(tmp_path):
    assert bench.previous_head_keys(tmp_path) == []
    head = list(json.loads(bench.head_line(MEDIANS, [], 3, 0.1))["queries"])
    heavy = sorted(MEDIANS, key=lambda k: (-MEDIANS[k], k))
    assert 0 < len(head) < len(heavy)
    assert head == heavy[: len(head)]


def test_previous_keys_come_from_highest_round(tmp_path):
    for name, keys in [("BENCH_r05.json", ["a"]), ("BENCH_r10.json", ["b", "c"]),
                       ("BENCH_r10_frozen.json", ["d"])]:
        rec = {"parsed": {"queries": {k: 1.0 for k in keys}}}
        (tmp_path / name).write_text(json.dumps(rec))
    assert bench.previous_head_keys(tmp_path) == ["b", "c"]
    assert bench.previous_head_keys(REPO)  # the committed round files parse
