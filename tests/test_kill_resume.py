"""Kill-and-resume E2E (north_rule resumability; FIXTURES.md §4):
SIGKILL the driver process mid-pipeline, restart, and require (a) the
completed stages to be skipped via the manifest and (b) the final
clusters to equal an uninterrupted run's.

Slow (spawns JVM subprocesses) — enabled with QH_SLOW=1; exercised by
tools/run_kill_resume.py in CI-less environments.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

pytestmark = pytest.mark.skipif(
    os.environ.get("QH_SLOW") != "1", reason="set QH_SLOW=1 to run"
)

REPO = Path(__file__).resolve().parent.parent


def _launch(ckpt: str) -> subprocess.Popen:
    return subprocess.Popen(
        [
            sys.executable,
            str(REPO / "jobs" / "run_pipeline.py"),
            "--synthetic-n", "500",
            "--checkpoint-dir", ckpt,
            "--master", "local[8]",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        cwd=str(REPO),
    )


def _entry(ckpt: str, stage: str) -> dict | None:
    """The stage's manifest entry, ``<ckpt>/_manifest/<stage>.json``; None
    while it is absent."""
    try:
        return json.loads((Path(ckpt) / "_manifest" / f"{stage}.json").read_text())
    except (OSError, json.JSONDecodeError):
        return None


def _wait_for_stage(ckpt: str, stage: str, timeout: float = 300.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout:
        if (_entry(ckpt, stage) or {}).get("status") == "complete":
            return
        time.sleep(0.5)
    raise TimeoutError(f"stage {stage} not complete within {timeout}s")


def test_sigkill_mid_run_then_resume(tmp_path):
    ckpt = str(tmp_path / "ckpt_killed")
    ref_ckpt = str(tmp_path / "ckpt_clean")

    # run 1: kill -9 once candidates are checkpointed (mid-pipeline)
    p = _launch(ckpt)
    try:
        _wait_for_stage(ckpt, "candidates")
    finally:
        p.send_signal(signal.SIGKILL)
        p.wait()

    assert _entry(ckpt, "signatures")["status"] == "complete"
    assert _entry(ckpt, "clusters") is None  # really died mid-run

    # run 2: resume to completion
    out = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "run_pipeline.py"),
            "--synthetic-n", "500", "--checkpoint-dir", ckpt,
            "--master", "local[8]",
        ],
        capture_output=True, text=True, cwd=str(REPO), timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["clips"] == 500
    assert report["stage_seconds"]["signatures"] == 0.0  # resumed, not redone
    assert report["stage_seconds"]["candidates"] == 0.0

    # uninterrupted reference run
    out2 = subprocess.run(
        [
            sys.executable, str(REPO / "jobs" / "run_pipeline.py"),
            "--synthetic-n", "500", "--checkpoint-dir", ref_ckpt,
            "--master", "local[8]",
        ],
        capture_output=True, text=True, cwd=str(REPO), timeout=600,
    )
    assert out2.returncode == 0

    # identical final clusters
    import duckdb

    a = duckdb.sql(f"select * from '{ckpt}/clusters/*.parquet' order by clip_id").fetchall()
    b = duckdb.sql(f"select * from '{ref_ckpt}/clusters/*.parquet' order by clip_id").fetchall()
    assert a == b
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(ref_ckpt, ignore_errors=True)
