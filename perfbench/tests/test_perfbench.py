"""Tests of the benchmark itself, on a tiny scale.

    python3 -m pytest perfbench/tests -q

The end-to-end cases run ``run.py`` in a subprocess with the workloads
shrunk (one batch of two files; two cheap registry queries), so each
takes one Spark start plus a few seconds; the traced registry case also
runs the two streaming index ops, about 20 s more.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, REPO)

from perfbench import listings, run, workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)

_TINY = """
import sys
sys.path.insert(0, {repo!r})
from perfbench import run, workloads
workloads.ListingsBatch.batches = 1
workloads.ListingsBatch.files_per_batch = 2
workloads.RegistryQueries.queries = ("q1_pricing_summary", "cosine_topk_embeddings")
{patch}
sys.exit(run.main({argv!r}))
"""


def _run_tiny(workload: str, trace: int, patch: str = "") -> tuple[int, dict | None, str]:
    argv = ["--workload", workload, "--seed", "3", "--seconds", "0.1", "--trace", str(trace)]
    env = {k: v for k, v in os.environ.items() if k not in run.PROGRAM_CHANGING_ENV}
    proc = subprocess.run(
        [sys.executable, "-c", _TINY.format(repo=REPO, patch=patch, argv=argv)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None), proc.stderr


def test_generator_is_deterministic_per_seed():
    a = listings.make_files(11, 0, 3, empty_every=2)
    b = listings.make_files(11, 0, 3, empty_every=2)
    c = listings.make_files(12, 0, 3, empty_every=2)
    assert [(f.name, f.text, f.rows) for f in a] == [(f.name, f.text, f.rows) for f in b]
    assert [f.text for f in a] != [f.text for f in c]
    assert [len(f.rows) > 0 for f in a] == [True, False, True]


def test_ground_truth_matches_the_reference_selectors():
    from parcialbigdata_spark.pipeline.html_extract import FIELDS, extract_cards

    order = ("barrio", "valor", "num_habitaciones", "num_banos", "mts2")
    assert set(order) == set(FIELDS)
    for f in listings.make_files(5, 0, 2):
        cards = extract_cards(f.text)
        got = [(f.name[:-5], *("N/A" if c[k] is None else c[k] for k in order)) for c in cards]
        assert got == f.rows
        assert any("N/A" in r for r in f.rows)


def test_names_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_expected_results_cover_every_query_op():
    from perfbench.expected import load_cache

    entries = load_cache(workloads.SF)["queries"]
    for q in workloads.RegistryQueries.queries + workloads.RegistryQueries.layer_queries:
        assert {"rows", "columns", "value_hash", "oracle_sha"} <= set(entries[q])


def test_tail_latency_reports_p90_below_100_samples():
    value, note = run.tail_latency([float(i) for i in range(1, 11)])
    assert note == "p90 of n=10" and 9.0 <= value <= 10.0
    value, note = run.tail_latency([float(i) for i in range(1, 201)])
    assert note == "p95 of n=200"


def test_refuses_program_changing_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.ansi.enabled=true")
    assert run.main(["--workload", "listings_batch", "--seed", "1", "--seconds", "1"]) == 2


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "listings_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_end_to_end(workload, trace):
    code, result, err = _run_tiny(workload, trace)
    assert code == 0, err[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "registry_queries":
        for store in ("streaming.dedup_store", "streaming.ann_store"):
            assert result["metrics"][f"{store}.calls"]["value"] > 0


@pytest.mark.parametrize("workload,patch", [
    ("registry_queries", """
_run = workloads.RegistryQueries.run
def corrupt(self, op):
    columns, rows = _run(self, op)
    return columns, rows[1:]
workloads.RegistryQueries.run = corrupt
"""),
    ("listings_batch", """
import os
_run = workloads.ListingsBatch.run
def corrupt(self, op):
    out = _run(self, op)
    part = next(d for d in sorted(os.listdir(out)) if d.startswith("FechaDescarga="))
    for name in os.listdir(os.path.join(out, part)):
        if name.endswith(".csv"):
            os.remove(os.path.join(out, part, name))
    return out
workloads.ListingsBatch.run = corrupt
workloads.ListingsBatch.warmup = lambda self: None
"""),
])
def test_corrupted_results_are_counted_as_failed(workload, patch):
    if workload == "registry_queries":
        patch += "\nworkloads.RegistryQueries.warmup = lambda self: None\n"
    code, result, err = _run_tiny(workload, 0, patch)
    assert code == 0, err[-3000:]
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
