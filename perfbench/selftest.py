#!/usr/bin/env python3
"""Check that the benchmark fails when it should.

    python3 perfbench/selftest.py

1. A run told to expect one wrong answer (``--corrupt-expected``) must report
   ``correct: false`` with at least one failed operation.
2. A copy of the benchmark alone, without the program beside it, must exit
   with a non-zero code and print no result.

Exits 0 when both hold. Takes about a minute (one export run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, extra: list[str]) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "export", "--seed", "1",
           "--seconds", "30", "--trace", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def main() -> int:
    ok = True
    lone = os.path.join(ROOT, ".perfbench_work", "selftest-alone")
    shutil.rmtree(lone, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(lone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lone)
    try:
        p = _run(lone, [])
    finally:
        shutil.rmtree(lone, ignore_errors=True)
    alone_ok = p.returncode != 0 and not p.stdout.strip()
    print(f"without the program: exit {p.returncode}, stdout {p.stdout.strip()!r}"
          f" -> {'ok' if alone_ok else 'WRONG'}")
    ok &= alone_ok

    p = _run(ROOT, ["--corrupt-expected"])
    last = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else {}
    corrupt_ok = last.get("correct") is False and last.get("failed", 0) >= 1
    print(f"one wrong expected answer: exit {p.returncode}, correct "
          f"{last.get('correct')}, failed {last.get('failed')}"
          f" -> {'ok' if corrupt_ok else 'WRONG'}")
    ok &= corrupt_ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
