"""Self-test of the benchmark at the tiny scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced at `--size tiny`, and
checks that the last stdout line is the result object with `correct: true` and every metric
BENCHMARK.json names printed with its unit.  Then checks that the benchmark
fails, without printing a result, in a directory that holds only
BENCHMARK.json and the benchmark's own files.  Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(cwd: str, workload: str, trace: int, size: str = "tiny"):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "1",
                             "--seconds", "2", "--trace", str(trace)]
    if size:
        cmd += ["--size", size]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=180)


def check_result(workload: str, trace: int) -> list[str]:
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"{where}: correct={res.get('correct')} "
                      f"failed={res.get('failed')}")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1):
        errors.append(f"{where}: attempted={res.get('attempted')}")
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        errors.append(f"{where}: metrics differ: missing "
                      f"{sorted({m['name'] for m in want} - set(got))}, extra "
                      f"{sorted(set(got) - {m['name'] for m in want})}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{where}: {m['name']} = {v}")
    return errors


def check_fails_without_program() -> list[str]:
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, "audio_suite", 0, size="")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 or (lines and lines[-1].startswith('{"correct"')):
        return [f"benchmark without the program: exit {p.returncode}, "
                f"stdout {p.stdout[-300:]!r}"]
    return []


def main() -> int:
    errors = check_fails_without_program()
    for name in WORKLOADS:
        for trace in (0, 1):
            errs = check_result(name, trace)
            print(f"{name} --trace {trace}: {'ok' if not errs else 'FAIL'}",
                  flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
