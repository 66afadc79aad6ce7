"""The program's process: one fresh Python + JVM per workload run.

    python3 -m perfbench.child <spec.json>

Reads the run spec the parent wrote, builds the session, runs the
workload's untimed warm-up, then the timed loop, and writes a result
JSON next to the spec. Set-up time runs from the parent's spawn of this
process to the end of the warm-up. With ``trace`` set, the timed loop
is split: first half untraced, second half traced (spans + job tags),
followed by the per-layer attribution passes and, where the spec asks
for it, one operation on a ``local[1]`` context for the single-core
baseline.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback


def _timed_loop(w, seconds: float, on_op=None) -> tuple[list[float], list[dict], list[str]]:
    lat, res, errors = [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while not (hasattr(w, "has_next") and not w.has_next()):
        if on_op is not None:
            on_op(i)
        t0 = time.perf_counter()
        try:
            r = w.op(i)
        except Exception:  # a failed op is counted, not fatal
            errors.append(traceback.format_exc(limit=3))
            r = None
        lat.append(time.perf_counter() - t0)
        res.append(r)
        i += 1
        if time.perf_counter() >= deadline:
            break
    return lat, res, errors


def _dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


def _layer_metrics(spark, tracer, w, spec: dict) -> dict:
    """Per-layer counters over the traced ops (the spans), plus the
    prefix-difference exec times and row counts of the last traced op."""
    from gem_data_wrangle_spark.operators import dedup

    tracer.count_jobs()
    layers = tracer.layer_totals()
    n_ops = max(1, len({s.run for s in tracer.spans}))

    def self_s(layer):
        return layers.get(layer, {}).get("self_s", 0.0) / n_ops

    def jobs(layer):
        return layers.get(layer, {}).get("jobs", 0) / n_ops

    m = {
        "plans.gem.build_s": self_s("plans.gem"),
        "plans.gem.jobs": jobs("plans.gem"),
        "functions.build_s": self_s("functions"),
        "operators.kernels.build_s": self_s("operators.kernels"),
        "operators.kernels.jobs": jobs("operators.kernels"),
        "plans.corpus.build_s": self_s("plans.corpus"),
        "operators.dedup.build_s": self_s("operators.dedup"),
        "operators.graph.jobs": jobs("operators.graph"),
        "sources.sink_s": self_s("sources"),
    }
    exec_s = tracer.attribute_exec()
    for layer in ("kernels", "aggregates", "joins", "textops", "sampling", "dedup"):
        m[f"operators.{layer}.exec_s"] = exec_s[f"operators.{layer}"]

    for fn in ("split_ownership", "expand_years"):
        rows_in = rows_out = 0
        for s in tracer.last_run(f"operators.kernels.{fn}"):
            before, after = s.frames
            rows_in += before.count()
            rows_out += after.count()
        m[f"operators.kernels.{fn}_fanout"] = rows_out / rows_in if rows_in else 0.0

    cands = verified = 0
    for s in tracer.last_run("operators.dedup.lsh_candidate_pairs"):
        df, pairs = s.frames
        cands += pairs.count()
        verified += dedup.jaccard_pairs(df, "text", "doc_id", pairs,
                                        threshold=spec["verify_jaccard"], ngram=2).count()
    m["operators.dedup.candidate_pairs"] = cands
    m["operators.dedup.verify_yield"] = verified / cands if cands else 0.0

    files = nbytes = 0
    for s in tracer.last_run("sources.io.sink_parquet"):
        f, b = _dir_stats(s.extra["args"][1])
        files += f
        nbytes += b
    m["sources.files_written"] = files
    m["sources.bytes_written"] = nbytes

    m["streaming.screening.compact_bytes_rewritten"] = sum(
        s.extra.get("rewritten", 0) for s in tracer.spans) / n_ops
    f, b = _dir_stats(w.index) if hasattr(w, "index") else (0, 0)
    m["streaming.screening.index_files"] = f
    m["streaming.screening.index_bytes"] = b
    return m


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    trace = spec["trace"]
    from gem_data_wrangle_spark import get_spark
    from perfbench import procstat
    from perfbench.workloads import WORKLOADS

    conf = dict(spec["conf"])
    if trace:
        os.makedirs(spec["event_dir"], exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + spec["event_dir"],
                     "spark.eventLog.compress": "false"})
    t0 = time.time()
    spark = get_spark(f"perfbench-{spec['workload']}", master=spec["master"], conf=conf)
    session_s = time.time() - t0
    # storage writes count from the session being up to the end of the
    # timed loop, warm-up included: the per-operation value wobbles with
    # page-cache writeback timing (small appended files are re-counted
    # when flushed in between), so more operations' worth steadies it
    me = os.getpid()
    io0 = procstat.tree_write_bytes(me)
    w = WORKLOADS[spec["workload"]](spark, spec)
    warmup_bytes = w.warmup()
    setup_s = time.time() - spec["spawn_time"]

    seconds = spec["seconds"] / 2 if trace else spec["seconds"]
    lat, res, errors = _timed_loop(w, seconds)
    written = procstat.written_between(io0, procstat.tree_write_bytes(me))
    out = {"setup_s": setup_s, "session_s": session_s, "latencies": lat, "results": res,
           "errors": errors, "write_bytes": written, "warmup_bytes": warmup_bytes}

    if trace:
        from perfbench.trace import Tracer, spark_metrics

        def before_compact(span, args, kwargs):
            # compaction rewrites every committed partition but the newest
            index = args[1]
            parts = sorted(d for d in os.listdir(index) if d.startswith("batch_id=")) \
                if os.path.isdir(index) else []
            span.extra["rewritten"] = sum(
                _dir_stats(os.path.join(index, d))[1] for d in parts[:-1])

        tracer = Tracer(spark, spec["workload"],
                        pre_probes={"streaming.screening.compact_screen_index": before_compact})
        tracer.install()

        def start_op(i):
            tracer.run = i

        tracer.recording = True
        t_ms0 = time.time() * 1000
        tlat, tres, terrors = _timed_loop(w, seconds, on_op=start_op)
        t_ms1 = time.time() * 1000
        tracer.recording = False
        out["traced_latencies"] = tlat
        out["results"] += tres
        out["errors"] += terrors
        t_attr = time.time()
        metrics = _layer_metrics(spark, tracer, w, spec)
        out["attribution_s"] = time.time() - t_attr
        metrics["session.start_s"] = session_s
        for k in ("snapshot_s", "compact_s"):
            walls = [r[k] for r in tres if r is not None and k in r]
            metrics[f"streaming.screening.{k}"] = statistics.median(walls) if walls else 0.0
        metrics["trace.overhead_ratio"] = statistics.median(tlat) / statistics.median(lat)
        out["spans"] = tracer.records()
        tracer.uninstall()
        spark.stop()
        metrics.update(spark_metrics(spec["event_dir"], t_ms0, t_ms1, spec["cores"]))
        out["layers"] = metrics
        if spec["single_core"]:
            # single-core baseline: a new local[1] context in the same
            # (already warm) JVM, so only the core count differs
            spark = get_spark(f"perfbench-{spec['workload']}-1core", master="local[1]",
                              conf=spec["conf"])
            w1 = WORKLOADS[spec["workload"]](spark, dict(spec, out=spec["out"] + "-1core"))
            lat1, res1, err1 = _timed_loop(w1, 0)
            out["single_core"] = {"latencies": lat1, "results": res1}
            out["errors"] += err1
            metrics["spark.parallel_speedup"] = statistics.median(lat1) / statistics.median(lat)
        spark.stop()
    else:
        spark.stop()
    out["child_s"] = time.time() - spec["spawn_time"]
    with open(spec["result"], "w") as f:
        json.dump(out, f, default=str)


if __name__ == "__main__":
    main(sys.argv[1])
