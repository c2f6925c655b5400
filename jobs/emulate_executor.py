"""One emulated executor process for the N->4N scaling measurement.

A real multi-executor cluster gives every executor its OWN JVM, its own
Python worker pool, and its own Arrow channel.  This sandbox is a single
machine, and one ``local[K]`` JVM funnels all K workers through a single
shared Python exchange that saturates past ~4 workers (measured
signature-stage core-seconds 128/194/192 at 1/4/8 in-JVM workers —
BENCH/BASELINE.md).  This job emulates one executor of a K-executor
cluster: a ``local[1]`` session running an Arrow-heavy pipeline stage over
its slice of the corpus.  The coordinator (bench.py) launches 1 or 4 of
these concurrently on disjoint file slices and takes the max in-process
wall — legitimate for the signatures stage because it is shuffle-free
(pure map), and for the verify slow path because its only exchange key is
the pair ``(clip_a, clip_b, source)`` and each process takes a disjoint
residue class of ``pmod(xxhash64(clip_a|clip_b))``: whole pairs, as a hash
shuffle on the pair routes them to one executor each.

Barrier protocol (so "concurrent" means actually-overlapping walls):
after session startup + warmup, touch ``<sync>/ready_<idx>``; poll for
``<sync>/go`` (created by the coordinator once every worker is ready);
run the timed region; print one JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _barrier(sync_dir: str, idx: int, timeout: float = 300.0) -> None:
    ready = os.path.join(sync_dir, f"ready_{idx}")
    go = os.path.join(sync_dir, "go")
    with open(ready, "w") as f:
        f.write(str(os.getpid()))
    t0 = time.monotonic()
    while not os.path.exists(go):
        if time.monotonic() - t0 > timeout:
            raise TimeoutError(f"worker {idx}: no go signal after {timeout}s")
        time.sleep(0.05)


def _peak_rss_mb() -> float:
    """This process's peak resident set (``VmHWM``), in MiB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return round(int(line.split()[1]) / 1024, 1)
    raise RuntimeError("no VmHWM line in /proc/self/status")


def _run_kernel_mode(args) -> None:
    """NO-JVM control for the process-isolation experiment: the identical
    signature kernel (:func:`signature_record_batch`, shared verbatim with
    the Spark stage) over a pyarrow parquet scan — no Spark session, no
    JVM, no Arrow IPC channel, just this one Python process doing the
    stage's compute + scan + parquet-write memory traffic.  If N-vs-4N
    concurrent *kernel* processes degrade the same way the Spark executor
    processes do, the degradation is host memory-bandwidth/cache
    contention, not anything in the Spark/JVM stack.  ``peak_rss_mb`` is
    the process's high-water RSS (warmup included): the kernel layer's
    memory, with no JVM or Arrow channel in it."""
    import pyarrow.parquet as pq

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.functions import hashing
    from quichash_spark.functions.udfs import signature_record_batch

    a_params, b_params = hashing.minhash_params(CLIPS_CONFIG)
    cols = ["clip_id", "bytes", "codec", "transcript"]

    def sign_file(src: str, writer, limit: int | None) -> tuple[object, int]:
        done = 0
        for rb in pq.ParquetFile(src).iter_batches(batch_size=128, columns=cols):
            out = signature_record_batch(
                rb.select(cols), CLIPS_CONFIG, a_params, b_params
            )
            if writer is None:
                writer = pq.ParquetWriter(
                    os.path.join(args.output, "part-00000.parquet"), out.schema
                )
            writer.write_batch(out)
            done += out.num_rows
            if limit is not None and done >= limit:
                break
        return writer, done

    files = sorted(
        os.path.join(d, f)
        for d in args.inputs.split(",")
        for f in os.listdir(d)
        if f.startswith("part-")
    )
    os.makedirs(args.output, exist_ok=True)
    # warmup (numpy/pyarrow import + first-call JIT-ish costs) on a few
    # batches of the worker's own slice, outside the timed region
    warm_dir = os.path.join(args.sync_dir, f"kwarm_{args.idx}")
    os.makedirs(warm_dir, exist_ok=True)
    w, _ = sign_file(files[0], None, 2000)
    w.close()
    os.replace(os.path.join(args.output, "part-00000.parquet"),
               os.path.join(warm_dir, "part-00000.parquet"))

    _barrier(args.sync_dir, args.idx)
    t0 = time.monotonic()
    writer, rows = None, 0
    for f in files:
        budget = None if args.limit_rows is None else args.limit_rows - rows
        if budget is not None and budget <= 0:
            break
        writer, done = sign_file(f, writer, budget)
        rows += done
    if writer is not None:
        writer.close()
    wall = time.monotonic() - t0
    print(json.dumps({"idx": args.idx, "mode": "kernel",
                      "wall_sec": round(wall, 3),
                      "peak_rss_mb": _peak_rss_mb(), "rows": rows}))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["sign", "verify", "kernel"], default="sign")
    ap.add_argument("--inputs", required=True,
                    help="comma-separated parquet dirs (this worker's corpus slice)")
    ap.add_argument("--output", required=True, help="parquet output dir")
    ap.add_argument("--sync-dir", required=True)
    ap.add_argument("--idx", type=int, required=True)
    ap.add_argument("--n-procs", type=int, default=1,
                    help="verify mode: total residue classes of the pair key")
    ap.add_argument("--candidates", help="verify mode: candidates checkpoint dir")
    ap.add_argument("--signatures", help="verify mode: signatures checkpoint dir")
    ap.add_argument("--n-candidates", type=int, default=None,
                    help="verify mode: known candidate row count (skip the count job)")
    ap.add_argument("--limit-rows", type=int, default=None,
                    help="kernel mode: stop after this many rows")
    args = ap.parse_args()

    if args.mode == "kernel":
        _run_kernel_mode(args)
        return

    from quichash_spark.config import CLIPS_CONFIG
    from quichash_spark.fixtures import clips_dataframe
    from quichash_spark.functions.udfs import compute_signatures
    from quichash_spark.session import get_spark

    # ActiveProcessorCount=2: a real 1-core executor runs in a cgroup
    # that caps what the JVM sees, sizing GC/JIT/common-pool threads
    # accordingly.  Without it each local[1] worker JVM spawns 32-CPU
    # sized GC+compiler pools and four concurrent workers pummel each
    # other (measured: 100k-row slice 48-55s solo vs 70-76s concurrent;
    # with the cap both match).
    spark = get_spark(
        "local[1]", shuffle_partitions=2,
        app_name=f"emu_exec_{args.mode}_{args.idx}",
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=2",
        },
    )
    inputs = args.inputs.split(",")

    # warmup OUTSIDE the timed region: JVM JIT (C2 needs real invocation
    # counts on the parquet scan/write paths, not just the kernel),
    # codegen, Python worker spin-up — a real cluster's executors are
    # long-lived and warm too.  The warm pass runs the exact
    # read-parquet -> sign -> write-parquet path of the timed region
    # (generated rows alone leave the scan path cold: a ~6s ramp was
    # measured inside the timed region with a 100-row generated warmup).
    # Worker-private dirs: no cross-process race on a shared cache.
    warm_src = os.path.join(args.sync_dir, f"warmsrc_{args.idx}")
    clips_dataframe(spark, 2000, partitions=2).write.mode("overwrite").parquet(warm_src)
    warm = compute_signatures(spark.read.parquet(warm_src), CLIPS_CONFIG)
    warm.write.mode("overwrite").parquet(os.path.join(args.sync_dir, f"warm_{args.idx}"))

    if args.mode == "sign":
        _barrier(args.sync_dir, args.idx)
        t0 = time.monotonic()
        clips = spark.read.parquet(*inputs)
        sigs = compute_signatures(clips, CLIPS_CONFIG)
        sigs.write.mode("overwrite").parquet(args.output)
        wall = time.monotonic() - t0
    else:
        from pyspark.sql import functions as F

        from quichash_spark.operators.verify import verify_candidates

        candidates = spark.read.parquet(args.candidates)
        signatures = spark.read.parquet(args.signatures)
        # executor i of n: one residue class of the pair key, so every
        # pair lands whole on exactly one executor.  Fast-path (pure-JVM)
        # pairs are partitioned across workers like slow-path pairs — the
        # residue filter applies uniformly, and the classes are disjoint
        # and exhaustive (test_emulate_executor_verify_mode_partitions_
        # exactly).
        candidates = candidates.filter(
            F.pmod(F.xxhash64(F.concat("clip_a", F.lit("|"), "clip_b")),
                   F.lit(args.n_procs)) == args.idx
        )
        _barrier(args.sync_dir, args.idx)
        t0 = time.monotonic()
        clips = spark.read.parquet(*inputs)
        n_cand = (args.n_candidates // args.n_procs + 1
                  if args.n_candidates is not None else candidates.count())
        verified = verify_candidates(candidates, clips, CLIPS_CONFIG,
                                     signatures=signatures, n_candidates=n_cand)
        verified.write.mode("overwrite").parquet(args.output)
        wall = time.monotonic() - t0

    import pyarrow.parquet as pq
    rows = sum(
        pq.ParquetFile(os.path.join(args.output, f)).metadata.num_rows
        for f in os.listdir(args.output) if f.startswith("part-")
    )
    print(json.dumps({"idx": args.idx, "mode": args.mode,
                      "wall_sec": round(wall, 3), "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
