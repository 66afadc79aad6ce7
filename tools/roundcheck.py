"""One-shot pre-flight for a build round — runs the verify skill's
surfaces in order and stops at the first failure:

1. registry invariants (pytest tests/test_registry.py)
2. full-registry parity at the driver's gate scale (check_parity.py's
   default sf0.01 directory, every registered query)
3. driver-style fresh-process consumption (plain SparkSession)
4. bench CLI JSON line at sf0.001 (shape check, not a measurement)

    python tools/roundcheck.py            # full pre-flight
    python tools/roundcheck.py --fast     # skip parity (~4 min on 4 cores)
"""

import json
import subprocess
import sys

REPO = "/root/repo"


def step(title: str, argv: list[str]) -> str:
    print(f"== {title}", flush=True)
    proc = subprocess.run(
        argv, cwd=REPO, capture_output=True, text=True, timeout=1800
    )
    if proc.returncode != 0:
        print(proc.stdout[-4000:])
        print(proc.stderr[-4000:])
        print(f"FAILED: {title}")
        sys.exit(1)
    return proc.stdout


def main() -> None:
    fast = "--fast" in sys.argv

    step("registry invariants", [
        sys.executable, "-m", "pytest", "tests/test_registry.py", "-x", "-q",
    ])

    if not fast:
        out = step(
            "full-registry parity (sf0.01)",
            [sys.executable, "tools/check_parity.py"],
        )
        tail = [ln for ln in out.splitlines() if "failures" in ln]
        print(tail[-1] if tail else out[-200:])

    smoke = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import __spark_entry__ as m\n"
        "from pyspark.sql import SparkSession\n"
        "s = (SparkSession.builder.master('local[4]')\n"
        "     .config('spark.ui.showConsoleProgress', 'false')"
        ".getOrCreate())\n"
        "n = m.entry(s).count()\n"
        "assert n >= 0 and len(m.queries()) == len(m.oracle_sql())\n"
        "print('smoke ok:', n, 'rows,', len(m.queries()), 'queries')\n"
    )
    out = step("fresh-process smoke", [sys.executable, "-c", smoke])
    print(out.strip().splitlines()[-1])

    out = step("bench CLI shape (sf0.001)", [sys.executable, "bench.py"])
    line = out.strip().splitlines()[-1]
    parsed = json.loads(line)  # must be ONE JSON line
    print(f"bench ok: {parsed['value']}s over {len(parsed['queries'])} queries")
    print("ALL PRE-FLIGHT CHECKS GREEN")


if __name__ == "__main__":
    main()
