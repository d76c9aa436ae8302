"""Self-tests of the benchmark: generator determinism and metric names.

    python3 -m pytest perfbench/test_corpus.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import tables  # noqa: E402

SIZES = dict(hh_households=30, wide_households=10, surveys={"hh": 2, "hh2": 1, "wide": 1})


def _write(root, seed):
    return corpus.write_corpus(str(root), corpus.plan(seed, **SIZES), seed)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _s, fs in os.walk(root) for f in fs)


def test_same_seed_gives_identical_files(tmp_path):
    exp_a = _write(tmp_path / "a", 7)
    exp_b = _write(tmp_path / "b", 7)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and len(names) == 6
    _match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    assert exp_a == exp_b


def test_other_seed_gives_other_files(tmp_path):
    _write(tmp_path / "a", 7)
    _write(tmp_path / "b", 8)
    a = {n: open(tmp_path / "a" / n, "rb").read() for n in _files(tmp_path / "a")}
    b = {n: open(tmp_path / "b" / n, "rb").read() for n in _files(tmp_path / "b")}
    assert sorted(a.values()) != sorted(b.values())


def test_expectations_count_every_line():
    text, exp = corpus.survey_dat("hh2", "123", 200, 3)
    lines = text.splitlines()
    assert exp.dat_lines == len(lines)
    assert exp.dat_bytes == len(text.encode("utf-8"))
    assert sum(exp.rows.values()) + sum(exp.unknown.values()) == len(lines)
    assert exp.non_ascii_lines == sum(1 for line in lines if not line.isascii())
    assert {len(line) for line in lines if line[15:18] == "H01"} == {31}


def test_wide_lines_have_the_dictionary_widths():
    text, exp = corpus.survey_dat("wide", "321", 50, 3)
    widths = {line[15:18]: len(line) for line in text.splitlines() if line[15:18] in ("W00", "W50")}
    assert widths == {"W00": 18 + 7 * corpus.W0_ITEMS, "W50": 18 + corpus.W5_ITEMS}
    assert exp.packed_rows == 50 and exp.wide_lines == 100


def test_query_tables_are_seed_determined():
    a, b = tables.build(scale=0.001), tables.build(scale=0.001)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)


def test_metric_names_match_benchmark_json():
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return
    import layers
    import run

    with open(path) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == [m["name"] for m in run.END_TO_END]
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == [
        (m["name"], m["unit"]) for m in run.END_TO_END]
    assert bench["per_layer"] == layers.PER_LAYER
