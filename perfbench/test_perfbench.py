"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Span, self_times  # noqa: E402
from telemetry import parse_cpus  # noqa: E402


def _rows(tbl):
    return list(zip(*[tbl.column(c).to_pylist() for c in tbl.column_names]))


def test_generator_is_deterministic_per_seed():
    for make in (
        lambda s: gen.tpch_tables(s, 300),
        lambda s: {"documents": gen.documents(s, 80)},
        lambda s: dict(enumerate(gen.changelog(s, 200, 6, 120, 20))),
    ):
        a, b, c = make(7), make(7), make(8)
        assert a.keys() == b.keys()
        assert all(a[k].equals(b[k]) for k in a)
        assert not all(a[k].equals(c[k]) for k in a)


def test_generated_files_are_byte_identical(tmp_path):
    for d in ("x", "y"):
        gen.write_tables(gen.tpch_tables(3, 200), str(tmp_path / d))
        gen.write_batches(gen.changelog(3, 100, 3, 50, 10), str(tmp_path / d / "log"))
    assert run._same_tree(str(tmp_path / "x"), str(tmp_path / "y"))


def test_changelog_invariants():
    batches = gen.changelog(5, 300, 10, 200, 30)
    initial = _rows(batches[0])
    # the initial load holds every order and one version of every left key
    assert {r[3] for r in initial if r[1] == "right"} == {str(i) for i in range(300)}
    left_keys = [r[2] for r in initial if r[1] == "left"]
    assert len(left_keys) == len(set(left_keys)) and None not in [r[4] for r in initial]
    later = {r[2] for b in batches[1:] for r in _rows(b) if r[1] == "left"}
    assert later <= set(left_keys)  # later batches only update loaded keys
    seqs = [s for b in batches for s in b.column("seq").to_pylist()]
    assert seqs == list(range(1, len(seqs) + 1))  # versions rise with arrival
    fk_of = {}
    for b in batches:
        for _seq, side, key, fk, _payload in _rows(b):
            if side == "left":
                assert fk_of.setdefault(key, fk) == fk  # no key changes its FK
                assert key.split("-")[0] == fk
            else:
                assert key == fk
    lefts = [r for b in batches[1:] for r in _rows(b) if r[1] == "left"]
    tombs = sum(r[4] is None for r in lefts)
    assert 0 < tombs < 0.05 * len(lefts)


def test_documents_plant_near_duplicates():
    docs = gen.documents(1, 60).to_pydict()
    dups = [t for t in docs["text"] if t.endswith(" dup")]
    assert len(dups) == 3
    assert all(t[: -len(" dup")] in docs["text"] for t in dups)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


LOG = [
    (1, "right", "10", "10", "r10a"),
    (2, "left", "10-1", "10", "a"),
    (3, "left", "10-2", "10", "b"),
    (4, "left", "20-1", "20", "c"),  # no right yet: not in an inner join
    (5, "right", "10", "10", "r10b"),  # fan-out to both lefts of order 10
    (6, "left", "10-2", "10", None),  # tombstone retracts 10-2
]
EMITTED = [
    [],
    [("10-1", "10", "a", "r10a"), ("10-2", "10", "b", "r10a")],
    [("10-1", "10", "a", "r10b"), ("10-2", "10", "b", "r10b")],
    [("10-2", "10", None, None)],
]


def test_fold_equals_golden():
    want = checks.golden(LOG)
    assert want == {("10-1", "10"): ("a", "r10b")}
    got, problems = checks.fold(EMITTED)
    assert problems == []
    assert checks.diff_fold(got, want) == []


def test_fold_rejects_a_wrong_row():
    bad = EMITTED[:2] + [[("10-1", "10", "a", "r10a"), ("10-2", "10", "b", "r10b")]] + EMITTED[3:]
    got, _ = checks.fold(bad)
    assert any("wrong value" in p for p in checks.diff_fold(got, checks.golden(LOG)))


def test_fold_rejects_a_dropped_retraction():
    got, _ = checks.fold(EMITTED[:3])
    assert any("extra" in p for p in checks.diff_fold(got, checks.golden(LOG)))


def test_fold_flags_a_pair_emitted_twice_in_one_batch():
    _, problems = checks.fold([[("k", "f", "a", "r"), ("k", "f", None, None)]])
    assert problems


def test_fingerprint_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    b = a.iloc[::-1][["y", "x"]]
    assert checks.fingerprint(a) == checks.fingerprint(b)
    assert checks.fingerprint(a) != checks.fingerprint(a.iloc[:2])


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span(0, "op", "op1", None, 0.0, 10.0),
        Span(1, "build", "op1", 0, 1.0, 3.0),
        Span(2, "plan", "op1", 0, 2.0, 5.0),  # overlaps span 1
        Span(3, "exec", "op1", 0, 7.0, 8.0),
        Span(4, "inner", "op1", 3, 7.2, 7.7),  # grandchild of the op
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(0.5)


@pytest.mark.parametrize(
    "raw,want", [("8", 8), (" 4 ", 4), ("0", 3), ("-2", 3), ("abc", 3), ("", 3), (None, 3)]
)
def test_parse_cpus_degrades_instead_of_raising(raw, want):
    assert parse_cpus(raw, 3) == want


def test_benchmark_json_matches_what_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in run.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_spec()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
