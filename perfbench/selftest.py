"""Self-test of the benchmark, at the 'tiny' input size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that:

- an untraced run exits 0, passes its output checks and prints every
  ``end_to_end`` metric of BENCHMARK.json, by name, with its unit;
- a traced run does the same for every ``per_layer`` metric;
- a run whose output is deliberately corrupted is counted as failed.

It also checks that the benchmark exits non-zero, printing no result,
in a directory that holds only BENCHMARK.json and the benchmark's own
files (no package to measure). Exits 0 iff every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TIMEOUT_S = 300


def _run(cwd: Path, workload: str, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        result = None
    return p.returncode, result


def _expect_metrics(result: dict, specs: list[dict]) -> list[str]:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = [f"missing {k}" for k in want if k not in got]
    problems += [f"unexpected {k}" for k in got if k not in want]
    problems += [f"{k}: unit {got[k]} != {u}" for k, u in want.items()
                 if k in got and got[k] != u]
    return problems


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, specs in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            rc, res = _run(ROOT, wl, "--trace", trace)
            expect(rc == 0 and res is not None and res["correct"]
                   and res["failed"] == 0 and res["attempted"] >= 2,
                   f"{wl} --trace {trace}: runs and passes its checks")
            if res is not None:
                problems = _expect_metrics(res, specs)
                expect(not problems,
                       f"{wl} --trace {trace}: metric names and units {problems}")
        rc, res = _run(ROOT, wl, "--trace", "0", "--corrupt")
        expect(rc == 0 and res is not None and not res["correct"]
               and res["failed"] == res["attempted"],
               f"{wl}: a corrupted output fails its check")

    with tempfile.TemporaryDirectory() as tmp:
        bare = Path(tmp)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for path in bench["paths"]:
            shutil.copytree(ROOT / path, bare / path,
                            ignore=shutil.ignore_patterns(".*", "__pycache__"))
        wl = bench["workloads"][0]["name"]
        rc, res = _run(bare, wl, "--trace", "0")
        expect(rc != 0 and res is None,
               "without the package: exits non-zero and prints no result")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
