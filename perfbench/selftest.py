#!/usr/bin/env python3
"""Smoke self-test of the benchmark at a tiny scale factor.

Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that a ``--trace 0`` run
emits exactly the end-to-end metrics and a ``--trace 1`` run exactly the
per-layer metrics, with their units and a correct verdict, and with every
span timing of the workload's own layers above 0; that a run
whose expected outputs are deliberately wrong (``--corrupt-check``)
reports ``correct: false``; and that the benchmark exits non-zero without
a result in a directory holding only BENCHMARK.json and the benchmark.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

from layers import SPAN_TIMINGS

SF = "0.001"
BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()


def run(cwd: Path, workload: str, *extra: str) -> tuple[int, dict | None]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", "1", "--seconds", "1", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return proc.returncode, None


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok    " if ok else "FAIL  ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            rc, res = run(ROOT, name, "--trace", trace, "--sf", SF)
            expect(rc == 0 and res is not None, f"{name} --trace {trace}: exit 0 with a result")
            if res is None:
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{name} --trace {trace}: emits every {key} metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} --trace {trace}: outputs correct")
            times = [v["value"] for k, v in res["metrics"].items()
                     if k in ("wall_s", "setup_s", "trace.wall_s", "trace.base_wall_s")]
            if trace == "1":
                times += [res["metrics"][k]["value"] for k in SPAN_TIMINGS[name]]
            expect(len(times) >= 2 and all(t > 0 for t in times),
                   f"{name} --trace {trace}: timings above 0")
        rc, res = run(ROOT, name, "--trace", "0", "--sf", SF, "--corrupt-check")
        expect(rc == 0 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{name}: a wrong expected output fails the check")

    bare = BENCH / ".work" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns(".work", "__pycache__"))
        rc, res = run(bare, spec["workloads"][0]["name"], "--trace", "0")
        expect(rc != 0 and res is None, "without the package: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
