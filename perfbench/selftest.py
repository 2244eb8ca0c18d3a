"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py      (from the repository root, ~6 min)

1. Every workload, untraced and traced, on tiny inputs: exit code 0, a
   last stdout line with exactly correct/attempted/failed/metrics, no
   failed operation, and exactly BENCHMARK.json's end_to_end (untraced) or
   per_layer (traced) metric names, each with its unit.
2. The gate trips: a run whose search_local scores are perturbed in the
   last digit the gate compares exits 1 with correct=false and failed > 0.
3. In a directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT = 600


def _run(args: list[str], cwd: str = ROOT, env: dict | None = None) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, *args], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=TIMEOUT,
    )
    return p.returncode, p.stdout


def _result(stdout: str) -> dict:
    lines = stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else {}


def _tiny(workload: str, trace: int) -> list[str]:
    return ["perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "2", "--trace", str(trace), "--size", "tiny"]


def perturbed_run() -> int:
    """Child process of check 2: nudge one score of every search_local
    answer by one unit of the compared decimal, then run as usual."""
    sys.path.insert(0, ROOT)
    from invoicenet_spark.query import local

    from perfbench import gate, run

    real = local.search_local

    def perturbed(*a, **k):
        out = real(*a, **k)
        if "score" in out and len(out):
            out.loc[out.index[0], "score"] += 10.0 ** -gate.DECIMALS
        return out

    local.search_local = perturbed
    return run.main(_tiny("bulk_build", 0)[1:])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = _run(_tiny(w["name"], trace))
            res = _result(out)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m.get("unit") for n, m in res.get("metrics", {}).items()}
            tag = f"{w['name']} trace={trace}"
            if rc != 0 or set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: exit {rc}, last line {out.strip().splitlines()[-1:]}")
            elif not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: gate {res['correct']} {res['failed']}/{res['attempted']}")
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(want)) or 'units'}")
            print(f"{tag}: exit {rc}, {len(got)} metrics", flush=True)

    rc, out = _run([os.path.join(HERE, "selftest.py"), "--perturbed-run"])
    res = _result(out)
    if rc == 0 or res.get("correct") is not False or not res.get("failed"):
        problems.append(f"perturbed run not caught: exit {rc}, {res.get('correct')}, {res.get('failed')}")
    print(f"perturbed: exit {rc}, failed {res.get('failed')}", flush=True)

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    rc, out = _run(_tiny("bulk_build", 0), cwd=bare, env=env)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or out.strip():
        problems.append(f"bare directory: exit {rc}, stdout {out.strip()[:200]!r}")
    print(f"bare directory: exit {rc}", flush=True)

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(perturbed_run() if sys.argv[1:] == ["--perturbed-run"] else main())
