"""The benchmark's own tests; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from workloads import WORKLOADS, topk_ok  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generator_is_deterministic(name, tmp_path):
    a = WORKLOADS[name](7, str(tmp_path / "a"))
    b = WORKLOADS[name](7, str(tmp_path / "b"))
    c = WORKLOADS[name](8, str(tmp_path / "c"))
    files = _files(tmp_path / "a")
    assert files and files == _files(tmp_path / "b")
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors
    assert a.inputs == b.inputs
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "c", files, shallow=False)
    assert mismatch, "another seed must give other inputs"
    assert c.inputs.keys() == a.inputs.keys()


def test_planted_duplicates_are_duplicates_and_originals_are_not():
    texts, dups, sources = gen.make_corpus(3, 1, 150, 0.2)
    assert 0.1 < len(dups) / len(texts) < 0.3
    for d, s in zip(dups, sources):
        assert s < d and s not in dups
        assert gen.jaccard(texts[d], texts[s]) >= gen.MIN_PLANTED_JACCARD
    originals = [i for i in range(len(texts)) if i not in set(dups)][:40]
    for i in originals:
        for j in originals:
            if i < j:
                assert gen.jaccard(texts[i], texts[j]) < 0.5
    lengths = [len(t) for t in texts]
    assert min(lengths) >= 500 and max(lengths) <= 3100


def test_exact_topk_breaks_ties_by_id_after_rounding_to_six_digits():
    ids = np.array([10, 4, 2, 7, 1])
    dist = np.array([[0.5, 0.1, 0.1, 0.3, 0.100002], [0.5, 0.1, 0.1, 0.3, 0.1000001]])
    assert gen.exact_topk(dist, ids, 3).tolist() == [[2, 4, 1], [1, 2, 4]]


def test_topk_check_accepts_only_ties():
    d = {1: 0.1, 2: 0.1, 3: 0.2, 4: 0.3}
    assert topk_ok([2, 1, 3], [0.1, 0.1, 0.2], [1, 2, 3], d.get)
    assert not topk_ok([1, 4, 3], [0.1, 0.3, 0.2], [1, 2, 3], d.get)
    assert not topk_ok([1, 2, 3], [0.1, 0.1, 0.25], [1, 2, 3], d.get)
    assert not topk_ok([1, 1, 3], [0.1, 0.1, 0.2], [1, 2, 3], d.get)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer.__new__(Tracer)
    tr.spans = [
        Span("index", 1, None, "t", 0.0, 10.0),
        Span("chunk", 2, 1, "t", 1.0, 3.0),
        Span("embed", 3, 1, "t", 2.5, 6.0),
        Span("x", 4, 3, "t", 3.0, 4.0),
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(5.0)
    assert tr.self_time(tr.spans[2]) == pytest.approx(2.5)


def test_metric_names_and_units_are_well_formed():
    names = [w["name"] for w in SPEC["workloads"]]
    for group in ("end_to_end", "per_layer"):
        names += [m["name"] for m in SPEC[group]]
        for m in SPEC[group]:
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
            assert m["better"] in ("lower", "higher")
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and n[0].isalnum() and len(n) <= 64, n
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_summary_carries_every_end_to_end_metric_with_its_unit(name):
    wl = WORKLOADS[name].__new__(WORKLOADS[name])
    wl.N, wl.Q = getattr(wl, "N", 0), getattr(wl, "Q", 0)
    ops = [
        {"wall": w, "steal_per_s": 0.0, "items": 10, "ok": True, "tag": "u", "quality": 1.0, "build_s": 1.0,
         "probe_s": 0.5, "dedup_recall": 1.0, "dedup_precision": 1.0,
         "index_bytes_per_text_byte": 1.0}
        for w in (1.0, 1.2, 0.9)
    ]
    e2e, own = run.end_to_end(wl, ops, 5.0, 900.0)
    for m in SPEC["end_to_end"]:
        value, unit = e2e[m["name"]]
        assert unit == m["unit"] and value > 0
    assert own["failed_frac"][0] == 0.0


def test_op_timings_come_from_ops_the_host_did_not_steal_from():
    ops = [{"wall": w, "steal_per_s": st} for w, st in
           [(1.0, 0.0), (2.0, 0.5), (1.1, 0.05), (1.2, 0.1), (3.0, 0.9), (1.3, 0.0)]]
    assert [o["wall"] for o in run.clean_ops(ops)] == [1.0, 1.1, 1.2, 1.3]
    stolen = [{"wall": w, "steal_per_s": st} for w, st in [(4.0, 0.4), (2.0, 0.2), (3.0, 0.3), (5.0, 0.5)]]
    assert [o["wall"] for o in run.clean_ops(stolen)] == [2.0, 3.0, 4.0]
    assert len(run.clean_ops(stolen * 4)) == 4


def test_summary_carries_every_per_layer_metric_with_its_unit():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        (k, u, b) for k, (u, b) in layers.UNITS.items()
    ]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    r = subprocess.run(
        [*SPEC["command"], "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0 and r.stdout.strip() == ""
