"""Tests of the benchmark itself: generator determinism, the reference
model, that every output check rejects a mutated output, the event-log
attribution, and that the printed metric names match BENCHMARK.json. No
Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen
from perfbench.checks import (
    EST_TOLERANCE,
    NearDupTruth,
    check_index,
    check_maintain,
    check_near_dup,
)
from perfbench.model import jaccard, reference_index, shingles
from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import Span, SparkActivity

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def small_sizes(monkeypatch):
    for name, value in {
        "CORPUS_BYTES": 60_000,
        "CORPUS_FILES": 4,
        "NEAR_DOCS": 60,
        "MAINTAIN_BASE": 40,
        "MAINTAIN_BATCH_DOCS": 5,
    }.items():
        monkeypatch.setattr(gen, name, value)


def _tree(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(small_sizes, tmp_path):
    gen.generate(7, str(tmp_path / "a"))
    gen.generate(7, str(tmp_path / "b"))
    gen.generate(8, str(tmp_path / "c"))
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c
    info = json.loads(a["inputs.json"])
    assert info["corpus"]["files"] == 4 and info["near_docs"]["docs"] == 60
    assert info["maintain_docs"]["docs"] == 40 + gen.MAINTAIN_BATCHES * 5


def test_ensure_inputs_caches(small_sizes, tmp_path):
    p = gen.ensure_inputs(3, str(tmp_path))
    stamp = os.path.getmtime(os.path.join(p, "inputs.json"))
    assert gen.ensure_inputs(3, str(tmp_path)) == p
    assert os.path.getmtime(os.path.join(p, "inputs.json")) == stamp
    assert sorted(os.listdir(tmp_path)) == ["seed-3"]


def test_reference_index_semantics(tmp_path):
    (tmp_path / "b.txt").write_text("Cat cat-dog, 123 +45 ab\tthe\fcat\n" + "dog " * 10 + "\n")
    (tmp_path / "a.txt").write_text("Dog! x1y the cat's\n" * 10)
    out = reference_index(str(tmp_path), ["the", "The", "dog"])
    # "3#..." > "10#..." as strings: the reference orders postings by the
    # reverse-lexicographic "count#doc" string, not by count
    assert out == b"cat: b.txt#3, a.txt#10\nx1y: a.txt#10\n"


def test_index_check_rejects_one_changed_posting():
    good = b"cat: a.txt#9, b.txt#3\nx1y: a.txt#9\n"
    assert check_index(good, good) == []
    assert check_index(good.replace(b"b.txt#3", b"b.txt#4"), good)
    assert check_index(good[: good.index(b"x1y")], good)


def _near_dup_case():
    base = " ".join(f"w{i}" for i in range(120))
    edited = base.replace("w60", "zz")
    other = " ".join(f"v{i}" for i in range(120))
    truth = NearDupTruth({1: base, 2: edited, 3: other}, [(1, 2)])
    return truth, jaccard(shingles(base), shingles(edited))


def test_near_dup_check_requires_planted_pairs_and_close_estimates():
    truth, exact = _near_dup_case()
    assert exact >= 0.9 and truth.required == [(1, 2)]
    assert check_near_dup([(1, 2, round(exact, 6))], truth) == []
    assert check_near_dup([], truth)  # the planted pair was dropped
    assert check_near_dup([(1, 2, exact - EST_TOLERANCE - 0.01)], truth)
    assert check_near_dup([(1, 2, exact), (1, 2, exact)], truth)
    assert check_near_dup([(1, 2, exact), (1, 3, 0.9)], truth)  # a false pair


def test_maintain_check_rejects_a_dropped_pair_and_a_wrong_reclaim():
    full = [(1, 2, 0.9), (1, 101, 0.8), (100, 101, 0.7), (101, 102, 1.0)]
    batch = [(1, 101, 0.8), (100, 101, 0.7), (101, 102, 1.0)]
    report = [("signatures", 5), ("banded", 80)]
    replayed = {"signatures": 5, "banded": 80}
    assert check_maintain(batch, full, 100, report, replayed) == []
    assert check_maintain(batch[1:], full, 100, report, replayed)
    assert check_maintain(batch + [(1, 2, 0.9)], full, 100, report, replayed)
    assert check_maintain(batch, full, 100, [("signatures", 5), ("banded", 0)], replayed)


def test_event_log_attribution_by_time_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 12000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 13000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Submission Time": 1500}},
        {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": 1600},
            "Task Metrics": {
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 70},
                "Memory Bytes Spilled": 5,
                "Disk Bytes Spilled": 2,
            },
        },
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = SparkActivity.read(str(log)).within(Span("op", 0.0, 10.0))
    # two overlapping jobs cover 1..4 s of the 10 s span; job 2 is outside it
    assert got == {
        "jobs": 2,
        "stages": 1,
        "tasks": 1,
        "shuffle_write_bytes": 70,
        "spill_bytes": 7,
        "driver_gap_s": 7.0,
        "job_seconds": 4.0,
    }


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"index_build", "near_dup", "index_maintain"}
