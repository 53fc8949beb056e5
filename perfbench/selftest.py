"""Harness self-test at the small scale (sf0.001 tables, 2,000 trips).

    python3 perfbench/selftest.py

Checks that every workload runs and is correct, that the untraced and
traced runs print exactly the metric names BENCHMARK.json declares,
that a corrupted expected digest is counted as a failure, and that the
benchmark exits non-zero without a result when the package is absent.
Takes a few minutes; exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run
import workloads


def _run(args: list[str], cwd: str = run.ROOT) -> tuple[int, dict | None]:
    out = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                         capture_output=True, text=True, cwd=cwd, timeout=600)
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if out.returncode == 0 and result is None:
        print(out.stderr[-3000:], file=sys.stderr)
    return out.returncode, result


def _check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
             1: {m["name"]: m["unit"] for m in bench["per_layer"]}}

    for wl in run.WORKLOADS:
        for trace in (0, 1):
            code, res = _run(["--workload", wl, "--seed", "3", "--seconds", "1",
                              "--trace", str(trace), "--small"])
            _check(code == 0 and res is not None, f"{wl} trace={trace} exits 0 with a result")
            _check(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{wl} trace={trace} outputs are correct")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _check(got == names[trace], f"{wl} trace={trace} prints every declared metric")

    # A corrupted expected digest must count as a failed operation.
    run.prepare_environment()
    dirs, _ = run.prepare("contract_sf0.1", 3, small=True)
    run.redirect_package_paths()
    from taxi_rides_ny_duckdb_spark import contract

    contract.load_all()
    expected = workloads.oracle_digests(dirs["contract"], workloads.CONTRACT_PANEL)
    victim = workloads.CONTRACT_PANEL[0]
    expected[victim] = {**expected[victim], "digest": "0" * 24}
    bad = os.path.join(run.CACHE, "selftest-corrupted-expected.json")
    with open(bad, "w") as fh:
        json.dump({"contract_sf0.1": expected}, fh)
    code, res = _run(["--workload", "contract_sf0.1", "--seed", "3", "--seconds", "1",
                      "--trace", "0", "--small", "--expected", bad])
    _check(code == 0 and res is not None and not res["correct"] and res["failed"] >= 2,
           "a corrupted expected digest is counted as a failure")

    # Without the package the benchmark must fail and print no result.
    bare = os.path.join(run.CACHE, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    code, res = _run(["--workload", "contract_sf0.1", "--seed", "1", "--seconds", "1",
                      "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    _check(code != 0 and res is None, "without the package it exits non-zero with no result")


if __name__ == "__main__":
    main()
