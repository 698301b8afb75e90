"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 graftbench/smoke.py

Run it from the repository root; it takes about ten minutes on four cores.
It checks that

1. every metric BENCHMARK.json names prints with its unit, on every
   workload, in timed and in traced mode, with no failed op;
2. with every expected answer corrupted, every op of every workload fails;
3. in a directory holding only BENCHMARK.json and the benchmark (no
   program), the benchmark exits non-zero without printing a result.

Exit code 0 means all three hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 and cwd == ROOT:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(["--workload", wl, "--seed", "7", "--seconds",
                             "1", "--trace", str(trace), "--size", "tiny"])
            if code != 0 or res is None:
                problems.append(f"{wl} trace={trace}: exit {code}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl} trace={trace}: keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl} trace={trace}: {res['attempted']} "
                                f"attempted, {res['failed']} failed")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), float):
                    problems.append(f"{wl} trace={trace}: metric "
                                    f"{m['name']} printed as {got}")
            print(f"ok    {wl} trace={trace}: {res['attempted']} ops",
                  flush=True)

        code, res = run(["--workload", wl, "--seed", "7", "--seconds", "1",
                         "--trace", "0", "--size", "tiny",
                         "--corrupt-expected"])
        if code != 0 or res is None or res["correct"] \
                or res["failed"] != res["attempted"]:
            problems.append(f"{wl} corrupted: exit {code}, {res and res.get('failed')}"
                            f" of {res and res.get('attempted')} failed")
        else:
            print(f"ok    {wl} corrupted: all {res['failed']} ops failed",
                  flush=True)

    os.makedirs(os.path.join(ROOT, ".graftbench_run"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="smoke-bare-",
                            dir=os.path.join(ROOT, ".graftbench_run"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "graftbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "graftbench/run.py", "--workload",
             spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare, capture_output=True, text=True,
            timeout=180)
        if proc.returncode == 0 or proc.stdout.strip():
            problems.append(f"no program: exit {proc.returncode}, "
                            f"stdout {proc.stdout[-200:]!r}")
        else:
            print(f"ok    no program: exit {proc.returncode}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print(f"FAIL  {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
