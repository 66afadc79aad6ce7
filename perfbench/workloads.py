"""The benchmark's workloads, as seen from the program's process.

Each workload class takes the session and the run's spec, does its
untimed warm-up in ``warmup()`` and one timed operation per ``op(i)``.
An operation calls only the package's public entry points on files the
parent process generated; ``op`` returns the input rows and bytes it
consumed and whatever the parent needs to check the output.
"""

from __future__ import annotations

import os
import shutil
import time

from gem_data_wrangle_spark.data.country_codes import country_dim
from gem_data_wrangle_spark.operators import dedup
from gem_data_wrangle_spark.plans import corpus as corpus_plan
from gem_data_wrangle_spark.plans import gem
from gem_data_wrangle_spark.sources import io
from gem_data_wrangle_spark.streaming import screening

DOC_SCHEMA = "doc_id bigint, text string"


def _fuel_frame(spark, fuel: str, path: str):
    units = io.scan_parquet(spark, path)
    dim = country_dim(spark)
    if fuel == "GASOIL":
        return gem.run_gasoil_pipeline(units, dim)
    return gem.run_fuel_pipeline(units, getattr(gem, fuel), dim)


class GemPowerBatch:
    """All eight fuel pipelines, the consolidation with steel merge and
    emission-factor fallback, and the full 2023-2050 output written."""

    def __init__(self, spark, spec: dict):
        self.spark, self.spec = spark, spec
        self.root = spec["inputs"]["root"]

    def _run(self, out: str) -> None:
        frames = [_fuel_frame(self.spark, f, os.path.join(self.root, f.lower()))
                  for f in self.spec["inputs"]["fuels"]]
        total = gem.consolidate_total(
            frames,
            steel=io.scan_parquet(self.spark, os.path.join(self.root, "steel")),
            emission_factors=io.scan_parquet(self.spark, os.path.join(self.root, "emission_factors")),
            country_dim=country_dim(self.spark),
        )
        io.sink_parquet(total, out)

    def warmup(self) -> int:
        """One whole batch; returns the input bytes it read."""
        out = os.path.join(self.spec["out"], "warmup")
        self._run(out)
        shutil.rmtree(out)
        return self.spec["inputs"]["bytes"]

    def op(self, i: int) -> dict:
        out = os.path.join(self.spec["out"], f"op{i}")
        self._run(out)
        return {"rows": self.spec["inputs"]["rows"], "bytes": self.spec["inputs"]["bytes"], "output": out}


class CrawlCuration:
    """One crawl snapshot per operation, through the whole curation
    path: prepare_training_corpus (outputs written), neardup_dedup of
    the curated documents (within-snapshot near-dups), then one
    availableNow run of stream_neardup_screen against the on-disk index
    of every earlier snapshot, with maybe_compact before it.

    The warm-up runs snapshot 0 through the whole path and screens the
    next ``history`` snapshots directly, so the index already holds a
    few partitions and compaction runs inside every timed operation."""

    def __init__(self, spark, spec: dict):
        self.spark, self.spec = spark, spec
        self.snaps = spec["inputs"]["snapshots"]  # [[path, rows, bytes], ...]
        base = spec["out"]
        self.src = os.path.join(base, "src")
        self.index = os.path.join(base, "index")
        self.fresh = os.path.join(base, "fresh")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.src, exist_ok=True)
        self.done = 0

    def _publish(self, k: int, path: str) -> None:
        """Move a written parquet dir's part files into the stream source."""
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                os.rename(os.path.join(path, name), os.path.join(self.src, f"s{k:04d}-{name}"))

    def _screen(self) -> dict:
        """Compact if due, then screen what arrived; returns both walls."""
        t0 = time.perf_counter()
        screening.maybe_compact(self.spark, self.index, "signature",
                                **self.spec["inputs"]["compaction"])
        t1 = time.perf_counter()
        stream = self.spark.readStream.schema(DOC_SCHEMA).parquet(self.src)
        q = screening.stream_neardup_screen(stream, self.index, self.fresh, self.ckpt, "text", "doc_id")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"compact_s": t1 - t0, "snapshot_s": time.perf_counter() - t1}

    def _curate(self, k: int) -> dict:
        out = os.path.join(self.spec["out"], f"snap{k:04d}")
        docs = io.scan_parquet(self.spark, self.snaps[k][0])
        outs = corpus_plan.prepare_training_corpus(docs)
        for name in ("documents", "chunks", "rejects"):
            io.sink_parquet(outs[name], os.path.join(out, name))
        curated = io.scan_parquet(self.spark, os.path.join(out, "documents"))
        io.sink_parquet(dedup.neardup_dedup(curated, "text", "doc_id"), os.path.join(out, "neardup"))
        self._publish(k, os.path.join(out, "neardup"))
        return self._screen()

    def warmup(self) -> int:
        """Snapshot 0 through the whole path, then the history snapshots
        screened directly; returns the input bytes read."""
        self._curate(0)
        for k in range(1, 1 + self.spec["inputs"]["history"]):
            self._publish(k, self.snaps[k][0])
            self._screen()
        self.done = 1 + self.spec["inputs"]["history"]
        return sum(nbytes for _, _, nbytes in self.snaps[:self.done])

    def has_next(self) -> bool:
        return self.done < len(self.snaps)

    def op(self, i: int) -> dict:
        k = self.done
        walls = self._curate(k)
        self.done += 1
        _, rows, nbytes = self.snaps[k]
        return {"rows": rows, "bytes": nbytes, "snapshot": k, **walls}


WORKLOADS = {
    "gem_power_batch": GemPowerBatch,
    "crawl_curation": CrawlCuration,
}
