"""One-command CI gate: every check the round's evidence rests on,
one exit code.

    python tools/gate.py [sf_dir] [--skip-pytest]

Stages (each timed, each loud):
  1. dtype audit     — oracle result dtypes match Spark schemas for
                       every registered query (tools/dtype_audit.py)
  2. query oracles   — every registered query vs its DuckDB oracle
                       (tools/check_queries.py), both at sf_dir
  3. pytest          — the full tests/ suite, -x -q

Exit 0 only when ALL stages pass; per-stage status lines are tagged
``GATE`` so a round log can grep one marker.  The per-stage tools
remain individually runnable — this wrapper only sequences them, so
there is exactly one recipe for "is the repo green" instead of three
commands run piecemeal across sessions (r4 verdict, next-round #8).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(tag: str, cmd: list[str]) -> bool:
    t0 = time.time()
    print(f"GATE stage={tag} status=start", flush=True)
    r = subprocess.run(cmd, cwd=REPO)
    ok = r.returncode == 0
    print(f"GATE stage={tag} status={'ok' if ok else 'FAIL'} "
          f"wall={time.time() - t0:.1f}s", flush=True)
    return ok


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--skip-pytest"]
    skip_pytest = "--skip-pytest" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    py = sys.executable
    ok = _run("dtype-audit", [py, "tools/dtype_audit.py", sf_dir])
    ok = _run("query-oracles", [py, "tools/check_queries.py",
                                sf_dir]) and ok
    if not skip_pytest:
        ok = _run("pytest", [py, "-m", "pytest", "tests/",
                             "-x", "-q"]) and ok
    print(f"GATE result={'ALL-OK' if ok else 'FAIL'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
