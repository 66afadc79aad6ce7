"""Parallel-scaling evidence (VERDICT r16 item 2): the sf0.1 bench is
fixed-cost-bound (8 cores beat 32 on it; SCALE.md "Parallel-scaling
evidence"), so "scales with cores" claims need a larger input. This
tool replicates sf0.1 N× (shifted keys — tools/scale_test.py's
generator) and times the heaviest benched paths at two core counts in
FRESH processes (the master string is baked into a session, so
per-core runs must not share one).

    python tools/scale_cores.py [N] [--cores 8,32] [--queries a,b,...]

``--cores`` and ``--queries`` also accept the ``--cores=8,32`` form.

Prints one JSON line per (cores, query) and a final summary with the
low/high-core speedup per query. A ratio near cores_hi/cores_lo means
the path parallelizes; near 1.0 means fixed-cost-bound at this size
(say so in SCALE.md rather than claiming parallelism).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, "/root/repo")

DEFAULT_QUERIES = [
    # the heaviest benched paths (r17 baseline order at sf0.1)
    "gem_total_consolidation_all8",
    "gem_coal_pipeline",
    "gem_hydro_pipeline",
    "image_neardup_components",
    "kn_doc_scores",
    "vad_speech_segments",
    "neardup_dedup",
    "harmonize_coordinates",
    "minhash_lsh_pairs",
    "dsir_logweights",
    "cut_duplicate_spans",
    "mad_outlier_flags",
]

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod
from gem_data_wrangle_spark import get_spark

sf_dir = sys.argv[1]
queries = sys.argv[2].split(",")
spark = get_spark("scale-cores")
qs = entrymod.queries()
out = {}
for name in queries:
    fn = qs[name]
    try:
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    spark.sparkContext.setJobDescription(f"scale-cores: {name}")
    t0 = time.time()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 2)
    except Exception as exc:  # one failing query must not void the rest
        out[name] = f"ERROR {type(exc).__name__}: {str(exc).splitlines()[0][:160]}"
print("RESULT " + json.dumps(out))
"""


def _core_counts(text: str) -> list[int]:
    try:
        cores = [int(c) for c in text.split(",")]
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected comma-separated integers, got {text!r}"
        ) from None
    if min(cores) <= 0:
        raise argparse.ArgumentTypeError(
            f"core counts must be positive, got {text!r}"
        )
    return cores


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Time the heaviest benched paths on N× sf0.1 at two "
        "core counts, one fresh process per count."
    )
    ap.add_argument("n", nargs="?", type=int, default=10,
                    help="replication factor of sf0.1 (default 10)")
    ap.add_argument("--cores", type=_core_counts, default=[8, 32],
                    help="comma-separated core counts (default 8,32)")
    ap.add_argument("--queries", type=lambda s: s.split(","),
                    default=list(DEFAULT_QUERIES),
                    help="comma-separated registry names")
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()
    n, cores, queries = args.n, args.cores, args.queries

    out_dir = f"/tmp/scale_sf{n}x"
    # build the replicated inputs once (any core count works here)
    from gem_data_wrangle_spark import get_spark  # noqa: PLC0415
    from scale_test import replicate  # noqa: PLC0415

    spark = get_spark("scale-cores-gen")
    replicate(spark, n, out_dir)
    spark.stop()

    results: dict[int, dict[str, float]] = {}
    for c in cores:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(c))
        proc = subprocess.run(
            [sys.executable, "-c", _WORKER, out_dir, ",".join(queries)],
            capture_output=True, text=True, env=env, timeout=7200,
        )
        line = next(
            (ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")), None
        )
        if line is None:
            print(proc.stdout[-2000:])
            print(proc.stderr[-2000:])
            raise SystemExit(f"worker at {c} cores produced no RESULT line")
        results[c] = json.loads(line[len("RESULT "):])
        print(json.dumps({"cores": c, "nx": n, "sec": results[c]}))

    lo, hi = min(cores), max(cores)
    summary = {}
    for q in queries:
        a, b = results[lo][q], results[hi][q]
        entry = {f"c{lo}": a, f"c{hi}": b}
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            entry["speedup_hi_over_lo"] = round(a / max(b, 1e-9), 2)
        summary[q] = entry
    print(json.dumps({"n": n, "cores": cores, "summary": summary}))


if __name__ == "__main__":
    main()
