"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The first tests are Spark-free. ``test_work_counters_repeat`` runs each
workload's traced run twice (about five minutes on 4 cores).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import headline, inputs  # noqa: E402
from perfbench.run import declared, result_line  # noqa: E402
from perfbench.workloads import Run  # noqa: E402

SPEC = declared()
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_same_seed_gives_identical_inputs():
    assert inputs.digest([inputs.longdoc_pages(3)]) == inputs.digest(
        [inputs.longdoc_pages(3)]
    )
    assert inputs.digest(inputs.incremental_batches(3)) == inputs.digest(
        inputs.incremental_batches(3)
    )
    a, b = inputs.headline_tables(3), inputs.headline_tables(3)
    for t in inputs.HEADLINE_TABLES:
        assert inputs.digest([a[t]]) == inputs.digest([b[t]])


def test_other_seed_gives_other_pages():
    a, b = inputs.longdoc_pages(3), inputs.longdoc_pages(4)
    assert set(a.text) != set(b.text)
    a, b = inputs.incremental_batches(3), inputs.incremental_batches(4)
    assert set(a[0].text) != set(b[0].text)
    a, b = inputs.headline_tables(3), inputs.headline_tables(4)
    assert set(a["documents"].text) != set(b["documents"].text)


def test_input_sizes_do_not_depend_on_seed():
    for seed in (1, 2, 3):
        pages = inputs.longdoc_pages(seed)
        assert len(pages) == inputs.LONGDOC_PAGES + inputs.MIRRORS
        assert pages.url.is_unique
        batches = inputs.incremental_batches(seed)
        assert [len(b) for b in batches] == [inputs.BATCH_PAGES] * inputs.INCREMENTAL_BATCHES


def test_headline_queries_have_checks_without_testdata():
    """Every headline query runs in one workload's traced run and has a
    relational DuckDB twin, except simhash_bands (checked in Python)."""
    split = [q for qs in headline.BY_WORKLOAD.values() for q in qs]
    assert sorted(split) == sorted(headline.QUERIES)
    assert set(headline.BY_WORKLOAD) == {w["name"] for w in SPEC["workloads"]}
    sql = headline._relational_oracles()
    assert sql["simhash_bands"] == "SELECT 1"  # a stubbed literal twin
    for q in headline.QUERIES:
        if q != "simhash_bands":
            assert "FROM documents" in sql[q] or "FROM embeddings" in sql[q], q
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    for q in headline.QUERIES:
        assert {f"q.{q}.wall_s", f"q.{q}.stages"} <= per_layer


def test_simhash_banding_pairs_share_a_band():
    sigs = [(1, 0x0001_0000_0000_0002), (2, 0x0001_FFFF_FFFF_0003),
            (3, 0x7777_0000_0000_0002), (4, 0x1234_5678_9ABC_DEF0)]
    assert headline._banded_pairs(sigs) == {(1, 2), (1, 3)}


def test_benchmark_json_follows_its_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= len(SPEC["end_to_end"]) <= 16
    assert 1 <= len(SPEC["per_layer"]) <= 128
    names = [w["name"] for w in SPEC["workloads"]]
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names += [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
               for m in metrics)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_every_declared_metric_is_printed_with_its_unit():
    e2e = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
    run = Run(e2e=e2e, layers={"verify.wall_s": 2.0}, attempted=3)
    for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
        line = result_line(run, trace, SPEC)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {
            m["name"]: {"value": line["metrics"][m["name"]]["value"], "unit": m["unit"]}
            for m in SPEC[kind]
        }
    with pytest.raises(RuntimeError):
        result_line(Run(e2e={}), False, SPEC)


# counters of work, not of time: these must repeat exactly for one seed.
# Not listed, because they vary between runs: shuffle_write_bytes of
# lsh.candidates and of the incremental layers (compressed size follows
# row order), and the incremental layers' shuffle records and compaction
# input bytes (the stored parquet files differ in size run to run).
WORK = re.compile(
    r"(\.rows_out|\.stages|\.hot_buckets|\.precision|\.edges|\.largest"
    r"|incremental\.batch\.input_bytes"
    r"|^(signatures|lsh\.bands|verify|components|assignments)\.shuffle_write_bytes)$"
)


def _traced(workload: str, out_dir: str) -> tuple[dict, dict]:
    before = set(glob.glob(os.path.join(out_dir, f"{workload}-seed5-*.json")))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0
    (path,) = set(glob.glob(os.path.join(out_dir, f"{workload}-seed5-*.json"))) - before
    with open(path) as f:
        groups = json.load(f)["groups"]
    os.remove(path)
    return line["metrics"], groups


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_work_counters_repeat(workload):
    out_dir = os.path.join(ROOT, ".perfbench_out")
    (m1, g1), (m2, g2) = _traced(workload, out_dir), _traced(workload, out_dir)
    work = [k for k in m1 if WORK.search(k)]
    assert work
    assert {k: m1[k]["value"] for k in work} == {k: m2[k]["value"] for k in work}
    if workload == "longdoc_crawl":
        # shuffle records repeat per layer group of the staged passes
        for g in set(g1) & set(g2):
            assert g1[g]["shuffle_write_records"] == g2[g]["shuffle_write_records"], g
