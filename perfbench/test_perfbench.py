"""Self-tests of the benchmark: parsers, statistics, the result contract
and a tiny fixed-seed smoke run of each workload.

    python -m pytest perfbench/ -q
"""

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench_trace import Tracer, parse_step_lines, summarize  # noqa: E402


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_parse_step_lines():
    text = (
        "noise before\n"
        "[step 0] empty=0.46/0j bundle=6.71/14j frontier=2.35/13j "
        "state=3.92/19j total=13.44/46j\n"
        "[Stage 25:====>   (1 + 3) / 4]\n"
        "  [step 11] empty=0.14/2j bundle=2.07/12j frontier=2.07/12j "
        "state=2.74/17j total=7.02/43j  \n"
        "[step x] empty=1/2j\n"
    )
    steps = parse_step_lines(text)
    assert [s["step"] for s in steps] == [0, 11]
    assert steps[0]["bundle_s"] == 6.71 and steps[0]["bundle_jobs"] == 14
    assert steps[1]["total_s"] == 7.02 and steps[1]["total_jobs"] == 43
    assert steps[1]["empty_jobs"] == 2
    assert parse_step_lines("") == []


def test_summarize_median_and_count():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"median": 2.0, "min": 1.0, "max": 3.0, "n": 3}
    assert summarize([4, 1, 3, 2])["median"] == 2.5
    assert summarize([7])["n"] == 1
    with pytest.raises(ValueError):
        summarize([])


def test_span_self_time_and_nesting():
    tr = Tracer(enabled=True)
    with tr.span("root", "r0") as root:
        with tr.span("a", "r0"):
            time.sleep(0.02)
        with tr.span("b", "r0") as b:
            time.sleep(0.02)
    assert [s.parent for s in tr.spans] == [None, root.id, root.id]
    kids = sum(s.dur for s in tr.children(root))
    assert tr.self_time(root) == pytest.approx(root.dur - kids, abs=1e-6)
    assert tr.self_time(b) == pytest.approx(b.dur)
    off = Tracer(enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_benchmark_json_matches_program():
    from bench_workloads import LAYER_METRICS, WORKLOADS

    b = _bench_json()
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER_METRICS
    names = [m["name"] for m in b["end_to_end"]]
    assert names == ["wall_s", "pages_per_s", "setup_s", "peak_rss_mb"]
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_bulk",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", ["extract_bulk", "crawl_fanout",
                                      "recrawl_durable"])
def test_smoke_tiny(workload):
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "0", "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=170,
    )
    elapsed = time.monotonic() - t0
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert elapsed < 60, f"smoke run took {elapsed:.0f} s"
