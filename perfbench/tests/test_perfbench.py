"""Self-checks of the benchmark: determinism, metric names, smoke runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

from bc_proj3_spark.io import sources  # noqa: E402


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _land(seed: int, out: str, days: int = 3) -> dict[str, bytes]:
    feed = gen.LandingFeed(seed, n_arxiv=300, n_nyt=120, n_scholar=40)
    for _ in range(days):
        b = feed.next_day()
        sources.fetch_arxiv(b.run_date, out, 1, transport=lambda _d: b.arxiv)
        sources.fetch_nyt(b.run_date, out, 1, transport=lambda _d: b.nyt)
        sources.fetch_scholar(b.run_date, out, 1, transport=lambda _d: b.scholar)
    files = {}
    for dirpath, _dirs, names in os.walk(out):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                files[os.path.relpath(p, out)] = fh.read()
    return files


def test_same_seed_gives_identical_landing_files(tmp_path):
    a = _land(7, str(tmp_path / "a"))
    b = _land(7, str(tmp_path / "b"))
    c = _land(8, str(tmp_path / "c"))
    assert len(a) == 9
    assert a == b
    assert a != c


def test_landing_feed_carries_versions_and_repeats():
    feed = gen.LandingFeed(3, n_arxiv=200, n_nyt=80, n_scholar=30)
    first, second = feed.next_day(), feed.next_day()
    assert (first.arxiv_new, first.arxiv_updated) == (200, 0)
    assert (second.arxiv_new, second.arxiv_updated) == (100, 100)
    assert second.nyt_new == 80 - 20
    snippets = [r["snippet"] for r in second.scholar["organic_results"]]
    assert any(s.startswith("1 day ago ") for s in snippets)
    assert any(" days ago " in s for s in snippets)
    assert max(feed.arxiv_versions.values()) == 2


def test_same_seed_gives_identical_tables(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 5, 0.001)
    b = gen.write_tables(str(tmp_path / "b"), 5, 0.001)
    for name in gen.TABLE_NAMES:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read(), name


def test_query_sample_covers_every_named_layer():
    specs = workloads.registry.all_queries()
    assert len(set(workloads.QUERIES)) == len(workloads.QUERIES)
    assert all(specs[n].oracle for n in workloads.QUERIES + workloads.QueryMix.warmup)
    covered = {layers.layer_of(specs[n].builder.__module__.removeprefix("bc_proj3_spark."))
               for n in workloads.QUERIES}
    named = ({f"plans.{m}" for m in layers.PLAN_MODULES}
             | {f"operators.{m}" for m in layers.OPERATOR_MODULES}
             | {"streaming.incremental"})
    assert covered == named


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.E2E_METRICS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.metric_names()


def _run(workload: str, trace: int, cwd) -> dict:
    env = dict(os.environ, PERFBENCH_TINY="1")
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not os.path.exists(os.path.join(cwd, ".perfbench_tmp"))
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [
    ("daily_pipeline", 0), ("daily_pipeline", 1), ("query_mix", 0), ("query_mix", 1),
])
def test_tiny_smoke_run(workload, trace, tmp_path):
    out = _run(workload, trace, tmp_path)
    bench = _bench()
    want = bench["per_layer" if trace else "end_to_end"]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_fails_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            with open(os.path.join(HERE, name), "rb") as src:
                (tmp_path / "perfbench" / name).write_bytes(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_pipeline",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env={"PATH": os.environ["PATH"]}, capture_output=True,
        text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
