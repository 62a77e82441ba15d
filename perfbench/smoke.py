"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [WORKLOAD ...]

Run from the root of a checkout. Runs every workload (or the named
ones), including ``semlink_grid``, which ``BENCHMARK.json`` leaves out,
at the tiny input scale, untraced and traced, and checks that
each run exits 0, reports correct output, and prints exactly the
metric names and units ``BENCHMARK.json`` declares. Then checks that
the runner fails without printing a result in a directory holding only
``BENCHMARK.json`` and the benchmark's own files. Exits 1 on the
first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile


def run(args: list[str], cwd: str) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )
    return proc.returncode, proc.stdout


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    listed = [w["name"] for w in spec["workloads"]]
    if not set(listed) <= set(WORKLOADS):
        print(f"FAIL BENCHMARK.json names unknown workloads: {listed}")
        return 1
    names = sys.argv[1:] or list(WORKLOADS)
    for name in names:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            code, out = run(["--workload", name, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"], root)
            if code != 0:
                print(f"FAIL {name} trace={trace}: exit code {code}")
                return 1
            result = json.loads(out.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                print(f"FAIL {name} trace={trace}: result keys {sorted(result)}")
                return 1
            if got != want:
                print(f"FAIL {name} trace={trace}: metrics {got} != {want}")
                return 1
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                print(f"FAIL {name} trace={trace}: {result}")
                return 1
            print(f"ok   {name} trace={trace}: attempted={result['attempted']}")

    # without the program next to it, the runner must fail and print nothing
    os.makedirs(os.path.join(root, ".perfbench"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(root, ".perfbench"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(root, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run(["--workload", names[0], "--seed", "7", "--seconds", "1",
                         "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare)
    if code == 0 or out.strip():
        print(f"FAIL bare directory: exit code {code}, output {out.strip()[:200]!r}")
        return 1
    print(f"ok   bare directory: exit code {code}, no result printed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
