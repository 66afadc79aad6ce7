"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's inputs from
the seed (plain Python, before the program's process exists), starts
one fresh program process (``perfbench/child.py``) on
``local[<cores>]``, samples that process tree's memory from /proc while
it runs, checks every operation's output against an independent DuckDB
computation, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones (on gem_power_batch including the single-core baseline,
one more operation on a ``local[1]`` context). All scratch
files live under ``.perfbench_work/`` in the checkout and are removed
at exit; traced runs leave their spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes. Each run pays ~6 s of session start and a 20-30 s cold
# warm-up before its first timed operation, and the benchmark's
# 4 + 22 x (workloads) runs must fit in under an hour, so a run affords
# one 11-16 s operation per workload on 4 cores; the inputs are sized
# for that, not for throughput.
GEM_UNITS_PER_FUEL = 1000
CRAWL_SNAPSHOTS = 12
CRAWL_DOCS_PER_SNAPSHOT = 200
CRAWL_RECRAWL = 0.2
CRAWL_HISTORY = 2  # snapshots screened directly during the warm-up
# compact whenever two committed index partitions exist: once the
# warm-up has built the history, every timed snapshot compacts
CRAWL_COMPACTION = {"min_delta_partitions": 2}
VERIFY_JACCARD = 0.8
CHILD_TIMEOUT_S = 165
WORKLOADS = ("gem_power_batch", "crawl_curation")
SINGLE_CORE_WORKLOADS = ("gem_power_batch",)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class TreeSampler(threading.Thread):
    """Peak summed PSS of a process tree, and every pid ever seen in it
    (so orphans can be waited for after the root exits)."""

    def __init__(self, pid: int, procstat):
        super().__init__(daemon=True)
        self.pid, self.procstat = pid, procstat
        self.peak = 0
        self.seen: set[int] = set()
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            pids = self.procstat.tree(self.pid)
            self.seen.update(pids)
            self.peak = max(self.peak, sum(self.procstat.pss_bytes(p) for p in pids))
            self._done.wait(0.1)

    def stop(self) -> None:
        self._done.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], grace_s: float = 15.0) -> None:
    """Wait for every pid to end; kill what outlives the grace period."""
    deadline = time.time() + grace_s
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


def run_child(spec: dict, work: str, tag: str) -> tuple[dict, int]:
    """Start one program process, wait for it and everything it started,
    and return (its result, peak RSS bytes of the tree)."""
    from perfbench import procstat

    spec = dict(spec)
    spec["result"] = os.path.join(work, f"result-{tag}.json")
    spec_path = os.path.join(work, f"spec-{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "SPARK_GRAFT_CPUS": str(spec["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    spec["spawn_time"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    # the program's console output goes through a pipe, not a file, so
    # its log lines are not counted as storage writes
    proc = subprocess.Popen([sys.executable, "-m", "perfbench.child", spec_path],
                            cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, start_new_session=True)
    tail: collections.deque[bytes] = collections.deque(maxlen=100)
    reader = threading.Thread(target=tail.extend, args=(proc.stdout,), daemon=True)
    reader.start()
    sampler = TreeSampler(proc.pid, procstat)
    sampler.start()
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        sampler.stop()
        _reap(sampler.seen - {proc.pid})
        reader.join()
        proc.stdout.close()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        sys.stderr.write(b"".join(tail).decode(errors="replace"))
        raise RuntimeError(f"program process exited with {proc.returncode}")
    with open(spec["result"]) as f:
        return json.load(f), sampler.peak


# --------------------------------------------------------------------
# inputs and checks, per workload
# --------------------------------------------------------------------

def make_inputs(workload: str, seed: int, work: str) -> dict:
    from perfbench import gen

    root = os.path.join(work, "in")
    if workload == "gem_power_batch":
        w = gen.gem_batch_inputs(seed, root, GEM_UNITS_PER_FUEL, _cores())
        return {"root": root, "fuels": gen.FUELS, "rows": w.rows, "bytes": w.bytes}
    snaps, planted = [], set()
    for k, c in enumerate(gen.crawl_snapshots(seed, CRAWL_SNAPSHOTS, CRAWL_DOCS_PER_SNAPSHOT,
                                              CRAWL_RECRAWL)):
        path = os.path.join(root, f"snap{k:04d}")
        snaps.append([path, len(c.ids), gen.write_docs(c.ids, c.texts, path, 1)])
        planted |= c.planted
    return {"snapshots": snaps, "history": CRAWL_HISTORY, "compaction": CRAWL_COMPACTION,
            "planted": sorted(planted)}


def check(workload: str, inputs: dict, results: list, spec: dict) -> tuple[int, dict]:
    """Count the operations whose output disagrees with the reference.
    Returns (failed, extra per-layer numbers)."""
    from perfbench import oracle

    done = [r for r in results if r is not None]
    if workload == "gem_power_batch":
        want = oracle.gem_total_fingerprint(inputs["root"])
        return sum(not oracle.same(oracle.output_fingerprint(r["output"]), want) for r in done), {}

    con = oracle.connect()
    out, src = spec["out"], os.path.join(spec["out"], "src")
    # every snapshot the stream saw, warm-up included, in order; the
    # part files of each were moved into the stream's source dir
    n = max((r["snapshot"] for r in done), default=inputs["history"]) + 1
    screened = oracle.screen_survivors(con, [f"{src}/s{k:04d}-*.parquet" for k in range(n)])
    planted = set(inputs["planted"])
    in_curated = removed = 0
    failed = 0
    for r in done:
        k = r["snapshot"]
        snap = os.path.join(out, f"snap{k:04d}")
        inputs_ids = set(oracle.parquet_ids(con, inputs["snapshots"][k][0]))
        docs = oracle.parquet_ids(con, os.path.join(snap, "documents"))
        rejects = oracle.parquet_ids(con, os.path.join(snap, "rejects"))
        chunk_docs = set(oracle.parquet_ids(con, os.path.join(snap, "chunks")))
        dup_texts = con.execute(
            f"SELECT count(*) - count(DISTINCT text) FROM read_parquet('{snap}/documents/*.parquet')"
        ).fetchone()[0]
        want_nd = oracle.neardup_survivors(con, f"read_parquet('{snap}/documents/*.parquet')")
        got_nd = oracle.parquet_ids(con, f"{src}/s{k:04d}-*.parquet")
        fresh = oracle.parquet_ids(con, os.path.join(out, "fresh", f"batch_id={k}"))
        ok = (len(set(docs)) == len(docs) and set(docs) <= inputs_ids
              and set(rejects) <= inputs_ids and not set(docs) & set(rejects)
              and chunk_docs <= set(docs) and dup_texts == 0
              and sorted(got_nd) == sorted(want_nd)
              and sorted(fresh) == sorted(screened[k]))
        failed += not ok
        curated_planted = planted & set(docs)
        in_curated += len(curated_planted)
        removed += len(curated_planted - set(got_nd))
    con.close()
    return failed, {"operators.dedup.recall": removed / in_curated if in_curated else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gem_data_wrangle_spark", "__init__.py")):
        print("perfbench: no gem_data_wrangle_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = make_inputs(args.workload, args.seed, work)
        cores = _cores()
        spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": bool(args.trace), "cores": cores, "master": f"local[{cores}]",
                "conf": {}, "inputs": inputs, "out": os.path.join(work, "out"),
                "event_dir": os.path.join(work, "events"), "verify_jaccard": VERIFY_JACCARD,
                "single_core": args.workload in SINGLE_CORE_WORKLOADS}
        res, peak = run_child(spec, work, "main")
        results = res["results"]
        attempted = len(results)
        sys.stderr.write(
            f"perfbench: {args.workload} seed={args.seed} setup={res['setup_s']:.2f}s "
            f"session={res['session_s']:.2f}s child={res['child_s']:.1f}s "
            f"attribution={res.get('attribution_s', 0):.1f}s ops={len(results)} "
            f"latencies={[round(x, 3) for x in res['latencies']]}\n")
        failed, extra = check(args.workload, inputs, results, spec)
        failed += sum(r is None for r in results)
        for e in res["errors"]:
            sys.stderr.write(e)
        ok = [(lat, r) for lat, r in zip(res["latencies"], results) if r is not None]
        if args.trace:
            metrics = dict(res["layers"])
            metrics.update(extra)
            metrics.setdefault("operators.dedup.recall", 0.0)
            metrics.setdefault("spark.parallel_speedup", 0.0)
            single = res.get("single_core")
            if single:
                attempted += len(single["results"])
                f1, _ = check(args.workload, inputs, single["results"], spec)
                failed += f1 + sum(r is None for r in single["results"])
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
            units = {m["name"]: m["unit"] for m in _benchmark_spec()["per_layer"]}
        else:
            in_bytes = res["warmup_bytes"] + sum(r["bytes"] for _, r in ok)
            metrics = {
                "setup_s": res["setup_s"],
                "latency_p50_s": statistics.median(res["latencies"]),
                "rows_per_s": sum(r["rows"] for _, r in ok) / sum(lat for lat, _ in ok) if ok else 0.0,
                "peak_rss_mb": peak / 2**20,
                "bytes_written_per_input_byte": res["write_bytes"] / in_bytes if in_bytes else 0.0,
            }
            units = {m["name"]: m["unit"] for m in _benchmark_spec()["end_to_end"]}
        out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
               "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(out))
    return 0


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
