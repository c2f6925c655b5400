"""Repository benchmark: the clips dedup pipeline at local[4], end to end
and (with ``--trace 1``) stage by stage.

    python3 perfbench/run.py --workload batch_mixed --seed 3 --seconds 5 --trace 0

Run from the repository root.  Each invocation is one fresh process with
one Spark session.  Workloads (closed loop, one client: each batch job
starts when the previous one has returned):

- ``batch_mixed``: ``pipeline.run_pipeline`` over the clip-index window
  ``[seed * 10**6, seed * 10**6 + BATCH_N)`` in the standard fixture
  layout (40% of clips in planted pairs, every fifth 20-clip block carries
  the hot "ok" transcript band, so bucket caps fire);
- ``incremental_redup``: ``pipeline.incremental_update`` of the window's
  fixture offsets 13/15/17/19 (every new clip re-uploads an old base clip)
  over a prior checkpoint of the other 80%, built once per invocation,
  untimed, by the code under test.

The program only ever sees the parquet written here from the fixture's
pure ``clip_row`` / ``truth_row`` functions.  Every job's clusters are
checked against the planted truth outside the timed region: a job fails
if dup-pair recall is below 0.99 or any clustered pair is not a planted
pair.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict
from itertools import combinations
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

CORES = 4
WINDOW_STRIDE = 10**6  # a multiple of the fixture's 20-clip block
BATCH_N = 8000
INCR_N = 6000
NEW_OFFSETS = (13, 15, 17, 19)
WARM_N = 200
WARM_OFFSET = 900_000  # warm-up clips sit inside the seed's window stride
SETUPS = 3
MIN_JOBS = 2
CLIPS_PER_FILE = 250
KERNEL_CLIPS = 1024
KERNEL_PAIRS = 200
MIN_RECALL = 0.99
MAX_CLUSTER = 64  # planted clusters have 2 members; larger is a failure

WORKLOADS = ("batch_mixed", "incremental_redup")
STAGES = ("signatures", "exact_groups", "candidates", "verified_edges", "clusters")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# inputs (written before Spark starts, by CORES writer subprocesses)
# ---------------------------------------------------------------------------


def write_chunks() -> None:
    """Entry of a writer subprocess: a JSON list of ``[lo, hi, dest]``
    chunks on stdin; writes clips ``[lo, hi)`` as parquet, split between
    the ``dest`` dirs, and prints the ``[clip_id, true_cluster_id]`` rows
    of planted-pair members as JSON."""
    sys.path.insert(0, str(ROOT))
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quichash_spark.fixtures.clips import BLOCK, clip_row, truth_row

    truth = []
    for lo, hi, dest in json.load(sys.stdin):
        rows: dict[str, list[dict]] = defaultdict(list)
        for i in range(lo, hi):
            off = i % BLOCK
            rows["new" if "new" in dest and off in NEW_OFFSETS else "main"].append(clip_row(i))
            if off >= 12:  # offsets 0-11 are unique clips in the fixture layout
                t = truth_row(i)
                truth.append((t["clip_id"], t["true_cluster_id"]))
        for key, rs in rows.items():
            pq.write_table(pa.Table.from_pylist(rs), f"{dest[key]}/part-{lo:012d}.parquet")
    json.dump(truth, sys.stdout)


def write_inputs(
    start: int, n: int, dest: dict[str, str], per_file: int = CLIPS_PER_FILE
) -> set[tuple[str, str]]:
    """Clips of ``[start, start + n)`` into ``dest`` dirs, ``per_file`` to
    a file; return the planted pairs."""
    for d in dest.values():
        os.makedirs(d, exist_ok=True)
    chunks = [
        (lo, min(start + n, lo + per_file), dest)
        for lo in range(start, start + n, per_file)
    ]
    procs = []
    for k in range(CORES):
        p = subprocess.Popen(
            [sys.executable, "-c", "import run; run.write_chunks()"],
            cwd=HERE, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        p.stdin.write(json.dumps(chunks[k::CORES]).encode())
        p.stdin.close()
        procs.append(p)
    members: dict[str, list[str]] = defaultdict(list)
    for p in procs:
        out = p.stdout.read()
        p.stdout.close()
        if p.wait() != 0:
            raise RuntimeError(f"input writer exited with code {p.returncode}")
        for clip_id, cluster in json.loads(out):
            members[cluster].append(clip_id)
    return {
        pair for ids in members.values() for pair in combinations(sorted(ids), 2)
    }


# ---------------------------------------------------------------------------
# checks and process sampling
# ---------------------------------------------------------------------------


def check_clusters(clusters, truth: set[tuple[str, str]]) -> tuple[bool, float, str]:
    """Compare clustered pairs with the planted pairs (outside timing)."""
    from pyspark.sql import functions as F

    groups = (
        clusters.groupBy("cluster_id")
        .agg(F.sort_array(F.collect_list("clip_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    too_big = [g["cluster_id"] for g in groups if len(g["ids"]) > MAX_CLUSTER]
    if too_big:
        return False, 0.0, f"{len(too_big)} clusters above {MAX_CLUSTER} members"
    got = {p for g in groups for p in combinations(g["ids"], 2)}
    recall = len(got & truth) / len(truth) if truth else 1.0
    extra = len(got - truth)
    ok = recall >= MIN_RECALL and extra == 0
    return ok, recall, f"recall {recall:.4f} ({len(got & truth)}/{len(truth)}), extra {extra}"


class WorkerRss:
    """Peak RSS of the PySpark Python workers below this process during
    ``sampling()``.  Each worker's kernel high-water mark (VmHWM) is reset
    when sampling starts and read every ``interval`` s and at the end, so
    peaks between reads are not missed.  The daemon and its forked
    workers all run ``pyspark.daemon``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @contextlib.contextmanager
    def sampling(self):
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset VmHWM to the current RSS
            except OSError:
                pass  # the worker ended
        self.active = True
        try:
            yield
        finally:
            self.active = False
            self._read()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self._read()

    def _read(self) -> None:
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue  # the worker ended

    @staticmethod
    def _workers() -> list[int]:
        """Pids of ``pyspark.daemon`` processes descending from this one."""
        me = os.getpid()
        parent: dict[int, int] = {}
        workers = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        workers.append(int(d))
            except (OSError, ValueError, IndexError):
                continue  # the process ended while being read
        mine = []
        for pid in workers:
            p, hops = pid, 0
            while p in parent and p != me and hops < 16:
                p, hops = parent[p], hops + 1
            if p == me:
                mine.append(pid)
        return mine


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.start = args.seed * WINDOW_STRIDE
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.recalls: list[float] = []

    # -- set-up --------------------------------------------------------------
    def new_session(self) -> float:
        from quichash_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"local[{CORES}]", shuffle_partitions=CORES,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def start_sessions(self) -> None:
        """Start the session SETUPS times: the first start launches the
        JVM, later ones stop and restart the session inside it."""
        starts = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            starts.append(self.new_session())
        self.session_start_s = starts[0]
        self.session_median_s = statistics.median(starts)
        log(f"session starts {[round(s, 2) for s in starts]}")

    def warm_up(self) -> None:
        """A 200-clip ``run_pipeline`` on small files, so it runs CORES
        tasks at once and starts every Python worker the jobs reuse."""
        from quichash_spark.pipeline import run_pipeline

        ck = self.work / "warm_ck"
        t0 = time.perf_counter()
        run_pipeline(self.spark, self.spark.read.parquet(str(self.work / "warm")), str(ck))
        self.session_warm_s = time.perf_counter() - t0
        shutil.rmtree(ck, ignore_errors=True)
        self.setup_s = self.session_median_s + self.session_warm_s
        log(f"warm-up {self.session_warm_s:.2f}s")

    # -- one batch job ---------------------------------------------------------
    def job(self, k: int):
        """Run the workload's batch job once into a fresh checkpoint dir;
        return (wall seconds, result, checkpoint dir)."""
        from quichash_spark.pipeline import incremental_update, run_pipeline

        ck = str(self.work / f"ck{k}")
        clips, new = str(self.work / "clips"), str(self.work / "new")
        read = self.spark.read.parquet
        if self.args.workload == "batch_mixed":
            clips_df = read(clips)
            t0 = time.perf_counter()
            res = run_pipeline(self.spark, clips_df, ck)
        else:
            new_df, all_df = read(new), read(clips, new)
            t0 = time.perf_counter()
            res = incremental_update(self.spark, str(self.work / "prior_ck"), new_df, all_df, ck)
        return time.perf_counter() - t0, res, ck

    def checked_job(self, k: int, around=None, keep: bool = False):
        """One attempted operation: the job (inside ``around``, a context
        manager) and then its truth check, outside timing."""
        self.attempted += 1
        try:
            with around if around is not None else contextlib.nullcontext():
                wall, res, ck = self.job(k)
            ok, recall, msg = check_clusters(res.clusters, self.truth)
        except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
            self.failed += 1
            log(f"job {k} raised:\n{traceback.format_exc()}")
            return None
        log(f"job {k}: {wall:.3f}s {res.stage_seconds} {msg}")
        if not ok:
            self.failed += 1
            return None
        if not keep:
            shutil.rmtree(ck, ignore_errors=True)
        return wall, recall, res, ck

    def measure(self, rss: WorkerRss) -> None:
        """At least MIN_JOBS jobs, then more until ``--seconds`` have
        passed.  Host noise moves single jobs by 10-20%; the median of
        two damps it, and a fixed minimum keeps the job count from
        flipping between runs whose jobs take about ``--seconds``."""
        t_end = time.perf_counter() + self.args.seconds
        k = 0
        while k < MIN_JOBS or time.perf_counter() < t_end:
            out = self.checked_job(k, rss.sampling())
            if out is not None:
                self.walls.append(out[0])
                self.recalls.append(out[1])
            k += 1

    # -- workload inputs -------------------------------------------------------
    def prepare(self) -> None:
        from quichash_spark.fixtures.clips import BLOCK

        w = self.work
        dest = {"main": str(w / "clips")}
        n = BATCH_N
        if self.args.workload == "incremental_redup":
            dest["new"] = str(w / "new")
            n = INCR_N
        t0 = time.perf_counter()
        self.truth = write_inputs(self.start, n, dest)
        write_inputs(self.start + WARM_OFFSET, WARM_N, {"main": str(w / "warm")},
                     per_file=WARM_N // (2 * CORES))
        self.n_clips = (
            n if self.args.workload == "batch_mixed"
            else sum(1 for i in range(self.start, self.start + n) if i % BLOCK in NEW_OFFSETS)
        )
        log(f"inputs: {n} clips, {len(self.truth)} planted pairs, {time.perf_counter() - t0:.1f}s")

    def build_prior(self) -> None:
        """The incremental workload's prior checkpoint: every non-new clip
        of the window, clustered by the code under test (untimed)."""
        from quichash_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        run_pipeline(self.spark, self.spark.read.parquet(str(self.work / "clips")),
                     str(self.work / "prior_ck"))
        log(f"prior checkpoint {time.perf_counter() - t0:.1f}s")

    # -- main ------------------------------------------------------------------
    def run(self) -> dict:
        self.prepare()
        self.start_sessions()
        self.warm_up()
        if self.args.workload == "incremental_redup":
            self.build_prior()
        if self.args.trace:
            from tracing import traced_metrics

            metrics = traced_metrics(self)
        else:
            with WorkerRss() as rss:
                self.measure(rss)
            metrics = self.end_to_end(rss)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def end_to_end(self, rss: WorkerRss) -> dict[str, tuple[float, str]]:
        wall = statistics.median(self.walls) if self.walls else 0.0
        return {
            "wall_s": (wall, "s"),
            "clips_per_s": (self.n_clips / wall if wall else 0.0, "clips/s"),
            "setup_s": (self.setup_s, "s"),
            "py_worker_peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
            "dup_pair_recall": (min(self.recalls) if self.recalls else 0.0, "ratio"),
        }


def stop_everything(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    sys.path.insert(0, str(ROOT))
    try:
        import quichash_spark.pipeline  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2

    # every file the run, Spark and the Python workers write lands in a
    # per-run dir inside the checkout, removed at the end
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(work / "spark_local"),
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        stop_everything(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
