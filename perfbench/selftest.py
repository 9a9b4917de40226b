"""Self-test of the benchmark at a tiny size.

Run from the root of a checkout:

    python3 perfbench/selftest.py

It runs the benchmark three times on 120 files and 20 query texts:

1. untraced: every end-to-end metric of BENCHMARK.json is printed with
   its unit, and the run is correct;
2. traced: every per-layer metric is printed with its unit, and the
   layer walls cover the end-to-end wall to within 10%;
3. untraced again after one row of the cached gold answers was
   corrupted: the run must report a failure and exit non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--workload", "mixed", "--seed", "7", "--seconds", "2",
        "--files", "120", "--pool", "20", "--batch", "100"]


def bench(trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *TINY, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"no output, exit {p.returncode}:\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


def expect_metrics(result: dict, declared: list[dict], what: str) -> None:
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    assert not missing, f"{what}: metrics missing {missing}"
    extra = sorted(set(got) - {m["name"] for m in declared})
    assert not extra, f"{what}: undeclared metrics {extra}"
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], (what, m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), (what, m)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    rc, r = bench(0)
    assert rc == 0 and r["correct"] and r["failed"] == 0, (rc, r)
    expect_metrics(r, spec["end_to_end"], "untraced run")
    print("untraced run: correct, all end-to-end metrics present")

    rc, r = bench(1)
    assert rc == 0 and r["correct"], (rc, r)
    expect_metrics(r, spec["per_layer"], "traced run")
    cover = r["metrics"]["trace.layer_sum_ratio"]["value"]
    assert 0.9 <= cover <= 1.1, f"layer walls cover {cover:.3f} of end to end"
    print(f"traced run: correct, all per-layer metrics present, layers cover {cover:.3f}")

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pandas as pd
    from run import gold_path, parse_args

    path = gold_path(parse_args(TINY))
    gold = pd.read_parquet(path)
    gold.loc[0, "score"] += 1.0
    gold.to_parquet(path, index=False)
    try:
        rc, r = bench(0)
    finally:
        os.remove(path)
    assert rc != 0 and not r["correct"] and r["failed"] >= 1, (rc, r)
    print(f"corrupted gold row: run failed as it must ({r['failed']} of "
          f"{r['attempted']} operations)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
