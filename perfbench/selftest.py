#!/usr/bin/env python3
"""Tiny-scale self-test of the serving benchmark.

Checks, each run taking under a minute (most of it the server's three
builds):

1. every workload of BENCHMARK.json, and the unlisted ``ingest_mixed``,
   finishes at ``--scale tiny`` and prints every end-to-end metric of
   BENCHMARK.json with its unit, and the traced run every per-layer metric;
   failures the engine causes are listed, not asserted;
2. a response corrupted on purpose (``--inject-wrong``) is counted as a
   failed oracle comparison and makes the run incorrect;
3. in a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark exits non-zero without printing a result.

Usage: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd: Path, workload: str, *extra: str) -> tuple[int, dict | None, list[str]]:
    """(exit code, result line, failure reasons from the run metadata)."""
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "8",
           *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    meta = [json.loads(x.split(": ", 1)[1]) for x in lines if x.startswith("run metadata: ")]
    if p.returncode and result is None:
        sys.stderr.write(p.stderr[-2000:])
    return p.returncode, result, meta[0]["failures"] if meta else []


def expect(cond: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    failures: list[str] = []
    tiny = ("--scale", "tiny")
    for w in [x["name"] for x in SPEC["workloads"]] + ["ingest_mixed"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, res, why = run(ROOT, w, "--trace", trace, *tiny)
            want = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {} if res is None else {k: v["unit"] for k, v in res["metrics"].items()}
            expect(code == 0 and res is not None, f"{w} --trace {trace}: exit 0, a result",
                   failures)
            for reason in why:
                print(f"     failed operation: {reason[:200]}")
            expect(got == want, f"{w} --trace {trace}: every {key} metric with its unit",
                   failures)

    w = SPEC["workloads"][0]["name"]
    code, res, why = run(ROOT, w, "--trace", "0", "--inject-wrong", *tiny)
    expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1
           and any("oracle mismatch" in r for r in why),
           f"{w}: an injected wrong response is counted as failed", failures)

    bare = ROOT / ".perfbench" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run(bare, w, "--trace", "0")
    expect(code != 0 and res is None,
           "without the engine: exits non-zero and prints no result", failures)
    shutil.rmtree(bare)

    print("selftest " + ("FAILED: " + "; ".join(failures) if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
