"""Sustained multi-batch streaming-screen session (round 16, VERDICT
r15 item 3): the r15 curves (tools/scale_stream.py) time ONE
availableNow batch against a PREBUILT history; this harness runs a
real N-batch session — the checkpoint, index, and fresh dirs live
across the whole run, every batch's delta accumulates, and the
per-batch wall is recorded against the batch number. Variants:

  nocompact — the index accumulates one delta partition per batch,
              N partitions / N+ parquet footers by the end: the
              residual O(history) key-scan term plus per-file open
              cost, growing with batch number.
  compact   — ``maybe_compact(min_delta_partitions=8,
              size_ratio=0.5)`` between batches (stopped stream —
              availableNow gives the stop for free): the geometric
              cadence from the round-16 hook, expected to hold
              per-batch wall flat while paying O(N log N) total
              rewrite. Compaction walls are recorded separately —
              they are maintenance, not screen latency.

Two screens, the flat poles of the family: digest (pure equi-join,
the cleanest residual-scan signal) and embedding (the provisioned-
geometry screen, bucket-pruned reads). Batch content: every batch
carries R id-offset, content-salted copies of the sf corpus (all
FRESH — the index must actually grow) plus one dup slice repeating
the previous batch's first rep (the screen must do real dropping).
Embedding freshness uses seeded ±1 sign-flip patterns per
(batch, rep): cosine is scale-invariant so salting magnitudes would
screen everything as dups; flipped patterns of random vectors are
near-orthogonal instead (|cos| ~ N(0, 1/sqrt(dim))).

Round-16 follow-up: the band-keyed members (neardup, hamming) join
the matrix — their layout win was measured only as single-batch A/Bs
(SCALE.md, round 16); the sustained variants here close the
four-member matrix. Neardup batches are salted docs through the
MinHash pass (the screen's own cost dominates); hamming batches are
synthetic 32-bit signature halves (xxhash-derived — random values
never near-collide, so the dup slice's exact repeats are what the
screen drops, distance 0 <= max_distance).

    python tools/sustained_stream.py [sf_dir] [out_dir] [N] [variant ...]
    # defaults: /root/testdata/sf0.1  /tmp/sustained  40  all eight
    # variant names: {digest,embedding,neardup,hamming}_{nocompact,compact}
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, "/root/repo")

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from gem_data_wrangle_spark import get_spark  # noqa: E402
from gem_data_wrangle_spark.operators import similarity as V  # noqa: E402
from gem_data_wrangle_spark.streaming import (  # noqa: E402
    maybe_compact,
    stream_dedup_screen,
    stream_embedding_screen,
    stream_hamming_screen,
    stream_neardup_screen,
)

ID_STRIDE = 100_000_000
REPS = {"digest": 20, "embedding": 5, "neardup": 5, "hamming": 10}
# deployed-screen geometry is provisioned ONCE for the horizon
# (15 planes ≈ log2(400k vectors / 12-per-bucket), single table —
# this harness measures cost curves, not recall duty)
PLANES = V.hyperplanes(15, 64)
CADENCE = {"min_delta_partitions": 8, "size_ratio": 0.5}


def _flip_pattern(k: int) -> list[float]:
    rng = np.random.default_rng(990_000 + k)
    return (rng.integers(0, 2, size=64) * 2.0 - 1.0).tolist()


def _digest_batch(docs, i: int, reps: int):
    """reps fresh salted copies + a dup slice of batch i-1's rep 0."""
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit((i * reps + r) * ID_STRIDE)).alias(
                "doc_id"
            ),
            F.concat("text", F.lit(f"#{i}.{r}")).alias("text"),
        )
        for r in range(reps)
    ]
    if i > 0:
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit((i * reps + reps) * ID_STRIDE))
                .alias("doc_id"),
                F.concat("text", F.lit(f"#{i - 1}.0")).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _embedding_batch(emb, i: int, reps: int):
    def flipped(k: int, id_off: int):
        pat = F.array(*[F.lit(v) for v in _flip_pattern(k)])
        return emb.select(
            (F.col("vec_id") + F.lit(id_off * ID_STRIDE)).alias("vec_id"),
            F.zip_with("embedding", pat, lambda x, y: x * y).alias(
                "embedding"
            ),
        )

    parts = [flipped(i * reps + r, i * reps + r) for r in range(reps)]
    if i > 0:
        # dup slice: batch i-1's rep-0 DIRECTIONS under new ids
        parts.append(
            flipped((i - 1) * reps, i * reps + reps)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _hamming_batch(docs, i: int, reps: int):
    """reps fresh synthetic 32-bit signature halves + a dup slice
    repeating batch i-1's rep-0 values under new ids (exact repeats:
    random 32-bit halves never land within Hamming distance 2 by
    chance, so the dup slice is the screen's whole duty here)."""

    def sigs(r: int, salt: int, id_off: int):
        tag = F.concat(F.col("doc_id").cast("string"), F.lit(f"#{salt}"))
        return docs.select(
            (F.col("doc_id") + F.lit(id_off * ID_STRIDE)).alias("img_id"),
            F.pmod(F.xxhash64(tag, F.lit("hi")), F.lit(2 ** 32)).alias(
                "hash_hi"
            ),
            F.pmod(F.xxhash64(tag, F.lit("lo")), F.lit(2 ** 32)).alias(
                "hash_lo"
            ),
        )

    parts = [sigs(r, i * reps + r, i * reps + r) for r in range(reps)]
    if i > 0:
        parts.append(sigs(0, (i - 1) * reps, i * reps + reps))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = Path(sys.argv[2] if len(sys.argv) > 2 else "/tmp/sustained")
    n_batches = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    only = set(sys.argv[4:])
    spark = get_spark("sustained-stream")

    docs = entrymod._t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = entrymod._t(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double_array("embedding").alias("embedding")
    )

    def run(screen: str, compact: bool, n_batches: int, tag: str) -> dict:
        base = out / tag
        shutil.rmtree(base, ignore_errors=True)
        base.mkdir(parents=True)
        src = str(base / "src")
        idx = str(base / "index")
        key = {
            "digest": "digest", "embedding": "bucket",
            "neardup": "signature", "hamming": "band_value",
        }[screen]
        mk, tbl = {
            "digest": (_digest_batch, docs),
            "neardup": (_digest_batch, docs),
            "hamming": (_hamming_batch, docs),
            "embedding": (_embedding_batch, emb),
        }[screen]
        schema = {
            "digest": "doc_id bigint, text string",
            "neardup": "doc_id bigint, text string",
            "hamming": "img_id bigint, hash_hi bigint, hash_lo bigint",
            "embedding": "vec_id bigint, embedding array<double>",
        }[screen]
        walls, compact_walls, stamps = [], [], []
        for i in range(n_batches):
            mk(tbl, i, REPS[screen]).coalesce(4).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(schema).parquet(src)
            t0 = time.time()
            sinks = (str(base / "fresh"), str(base / "ckpt"))
            if screen == "digest":
                q = stream_dedup_screen(
                    stream, idx, *sinks, "text", "doc_id",
                )
            elif screen == "neardup":
                q = stream_neardup_screen(
                    stream, idx, *sinks, "text", "doc_id",
                )
            elif screen == "hamming":
                q = stream_hamming_screen(
                    stream, idx, *sinks, "img_id",
                    ["hash_hi", "hash_lo"], max_distance=2,
                )
            else:
                q = stream_embedding_screen(
                    stream, idx, *sinks,
                    "embedding", "vec_id", PLANES, threshold=0.4,
                )
            q.awaitTermination(600)
            walls.append(round(time.time() - t0, 2))
            if compact:
                t0 = time.time()
                stamp = maybe_compact(spark, idx, key, **CADENCE)
                w = round(time.time() - t0, 2)
                if stamp != -(2 ** 31):
                    compact_walls.append(w)
                    stamps.append(i)
        n_parts = sum(
            1 for p in Path(idx).iterdir()
            if p.name.startswith("batch_id=")
        )
        n_files = sum(
            1 for p in Path(idx).rglob("part-*.parquet")
        )
        rows = spark.read.parquet(idx).count()
        rec = {
            "variant": tag, "walls": walls,
            "compact_walls": compact_walls, "compact_at": stamps,
            "final_partitions": n_parts, "final_files": n_files,
            "index_rows": rows,
        }
        print(json.dumps(rec))
        (out / f"{tag}.json").write_text(json.dumps(rec, indent=1))
        return rec

    variants = [
        ("digest", False), ("digest", True),
        ("embedding", False), ("embedding", True),
        ("neardup", False), ("neardup", True),
        ("hamming", False), ("hamming", True),
    ]
    picked = [
        (s, c) for s, c in variants
        if not only or f"{s}_{'compact' if c else 'nocompact'}" in only
    ]
    # warm the streaming machinery + codegen with a throwaway 3-batch
    # session per screen involved (discarded — batch-0 walls would
    # otherwise carry JVM/codegen warm-up and fake a downward slope)
    for screen in {s for s, _ in picked}:
        run(screen, False, 3, f"_warm_{screen}")
        shutil.rmtree(out / f"_warm_{screen}", ignore_errors=True)
    for screen, compact in picked:
        tag = f"{screen}_{'compact' if compact else 'nocompact'}"
        run(screen, compact, n_batches, tag)


if __name__ == "__main__":
    main()
