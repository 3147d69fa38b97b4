"""Bench-scale kill-and-resume evidence (north rule: "resumable from
checkpoint with per-partition lineage + metrics").

Drives plans/checkpoint.run_kg_checkpointed over the SAME 4M-file
parquet the scaling probe uses, in three acts:

  1. full      — fresh checkpoint root, run to completion, record the
                 triples stage's order-insensitive content checksum;
  2. kill      — fresh root, SIGKILL the whole process group mid-stage
                 (as soon as the first stage's data files start
                 appearing, i.e. mid-write: the crash window where a
                 non-atomic design would corrupt);
  3. resume    — re-run the same call on the killed root; completed
                 stages load from manifest, the interrupted stage
                 recomputes, and the final checksum must equal act 1's
                 bit-for-bit.

A fourth act re-runs the completed root to show the warm no-op path
(every stage skipped). Emits ONE JSON line; bench.py embeds it as the
`resume` block of BENCH_r{N}.json.

Usage:
    python tools/resume_demo.py                    # full demo JSON
    python tools/resume_demo.py --child ROOT FILES CPUS   # internal
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

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _child(root: str, files_path: str, cpus: int) -> None:
    from ner_spark.plans.checkpoint import run_kg_checkpointed
    from ner_spark.session import get_spark

    spark = get_spark("resume_child", cpus=cpus, shuffle_partitions=max(cpus, 8))
    run_kg_checkpointed(spark, files_path, root)
    spark.stop()


def _spawn(root: str, files_path: str, cpus: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, __file__, "--child", root, files_path, str(cpus)],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # SIGKILL the whole group incl. the JVM
    )


def _run_to_completion(root: str, files_path: str, cpus: int) -> float:
    t0 = time.perf_counter()
    p = _spawn(root, files_path, cpus)
    rc = p.wait(timeout=1800)
    if rc != 0:
        raise RuntimeError(f"child failed rc={rc}")
    return time.perf_counter() - t0


def _manifest(root: str, stage: str) -> dict | None:
    man = Path(root) / stage / "manifest.json"
    return json.loads(man.read_text()) if man.exists() else None


def run_demo(files_path: str, cpus: int, base: str = "/tmp/ner_spark_resume_demo",
             n_files: int | None = None) -> dict:
    root_full = f"{base}/full"
    root_kill = f"{base}/killed"
    for r in (root_full, root_kill):
        shutil.rmtree(r, ignore_errors=True)

    # act 1: uninterrupted baseline
    t_full = _run_to_completion(root_full, files_path, cpus)
    cs_full = _manifest(root_full, "triples")["content_checksum"]
    rows_full = _manifest(root_full, "triples")["rows_out"]

    # act 2: SIGKILL mid-stage — fire as soon as the profiles stage
    # starts writing data files (no manifest yet = incomplete by
    # definition; the atomic manifest-after-data commit is what makes
    # this window safe)
    p = _spawn(root_kill, files_path, cpus)
    data_dir = Path(root_kill) / "profiles" / "data"
    t0 = time.perf_counter()
    killed_at = None
    while p.poll() is None:
        if data_dir.exists() and any(data_dir.iterdir()):
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            p.wait(timeout=60)
            killed_at = time.perf_counter() - t0
            break
        if time.perf_counter() - t0 > 600:
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
            raise RuntimeError("profiles stage never started writing")
        time.sleep(0.02)
    if killed_at is None:  # job outran the watcher — record and proceed
        killed_at = time.perf_counter() - t0
    stage_states_after_kill = {
        s: (_manifest(root_kill, s) or {}).get("status", "absent")
        for s in ("profiles", "triples")
    }

    # act 3: resume on the killed root — must reproduce act 1 exactly
    before = {
        s: (_manifest(root_kill, s) or {}).get("completed_at_unix")
        for s in ("profiles", "triples")
    }
    t_resume = _run_to_completion(root_kill, files_path, cpus)
    after = {
        s: _manifest(root_kill, s)["completed_at_unix"]
        for s in ("profiles", "triples")
    }
    recomputed = [s for s in after if after[s] != before[s]]
    cs_resumed = _manifest(root_kill, "triples")["content_checksum"]
    rows_resumed = _manifest(root_kill, "triples")["rows_out"]

    # act 4: warm re-run of a complete root — every stage skips
    t_noop = _run_to_completion(root_kill, files_path, cpus)

    return {
        "n_files": n_files,
        "profile_rows": int(_manifest(root_full, "profiles")["rows_out"]),
        "sec_full": round(t_full, 3),
        "sec_killed_after": round(killed_at, 3),
        "stage_states_after_kill": stage_states_after_kill,
        "sec_resume": round(t_resume, 3),
        "stages_recomputed_on_resume": recomputed,
        "sec_rerun_all_cached": round(t_noop, 3),
        "rows_full": rows_full,
        "rows_resumed": rows_resumed,
        "checksum_full": cs_full,
        "checksum_resumed": cs_resumed,
        "exact_resume": bool(cs_full == cs_resumed and rows_full == rows_resumed),
    }


def main() -> None:
    if len(sys.argv) >= 5 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
        return
    import bench

    from ner_spark.session import DEFAULT_CPUS, get_spark

    cpus = DEFAULT_CPUS
    spark = get_spark("resume_demo_synth", cpus=cpus)
    files_path = bench._materialize_files(spark, bench.SCALE_FILES)
    spark.stop()
    print(json.dumps(run_demo(files_path, cpus, n_files=bench.SCALE_FILES)))


if __name__ == "__main__":
    main()
