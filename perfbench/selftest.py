"""Self-test of the benchmark harness at a tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout.  It checks that

* every workload prints every ``end_to_end`` metric of ``BENCHMARK.json``
  with its unit (``--trace 0``) and every ``per_layer`` metric
  (``--trace 1``), with the gate passing;
* flipping one payload byte in a store makes the gate fail
  (``failed`` > 0, so the error rate is above 0);
* in a directory holding only ``BENCHMARK.json`` and the benchmark's own
  files, the command exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

SCALE = "0.05"


def run(root: str, cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    cmd = bench["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                              "--trace", str(trace), "--scale", SCALE, *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def check_names(result: dict, declared: list[dict]) -> list[str]:
    problems = []
    metrics = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    for name in sorted(set(want) - set(metrics)):
        problems.append(f"missing metric {name}")
    for name in sorted(set(metrics) - set(want)):
        problems.append(f"undeclared metric {name}")
    for name, m in metrics.items():
        if name in want and m.get("unit") != want[name]:
            problems.append(f"{name}: unit {m.get('unit')!r} != {want[name]!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            problems.append(f"{name}: value {v!r} is not a finite number")
    return problems


def main() -> int:
    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(root, root, w["name"], trace)
            expect(code == 0 and res is not None, f"{w['name']} trace {trace}: exit 0 with a result")
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w['name']} trace {trace}: gate passes ({res['failed']}/{res['attempted']} failed)")
            names = check_names(res, bench[key])
            expect(not names, f"{w['name']} trace {trace}: every {key} metric with its unit"
                   + ("" if not names else ": " + "; ".join(names[:5])))

    w = bench["workloads"][-1]["name"]
    code, res = run(root, root, w, 0, "--corrupt")
    expect(res is not None and res["failed"] > 0 and not res["correct"],
           f"{w} with a flipped payload byte: the gate fails")

    bare = os.path.join(root, ".perfbench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(root, bare, w, 0)
    expect(code != 0 and res is None, "without the package: non-zero exit and no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
