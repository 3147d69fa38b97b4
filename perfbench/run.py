"""KG benchmark: one workload against the checkpointed KG job, from outside.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Workloads (see README.md for why each exists):
  kg_build      cold build of the whole job into fresh dirs, every op
  kg_resume     the job re-submitted after its newest stage commit was lost
  repo_refresh  a snapshot drop streamed onto a base KG, then compacted

The corpus, its drop and the expected triples are a pure function of the
seed (corpus.py), cached under .bench_work/ in the checkout. Each run
starts fresh Spark processes (child.py) with a pinned runtime, checks
every op's output against the oracle outside the timed interval, writes
a stamped result file under .bench_work/results/ and prints, as its last
stdout line, one JSON object: correct / attempted / failed / metrics.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import procfs  # noqa: E402

WORKLOADS = ("kg_build", "kg_resume", "repo_refresh")
N_FILES = 48_000
DROP_SHARE = 16  # the refresh drop has N_FILES / DROP_SHARE files
DROP_REPOS = ["repo_1", "repo_2", "repo_7", "repo_31"]

# Pinned runtime, passed through the program's own overrides. Memory is
# a constant, never derived from MemAvailable; cores follow nproc.
DRIVER_MEM = "3g"
XMS = "-Xms3g"
SETUP_SAMPLES = 3
# memory sampling period: one sample costs ~4 ms of a core that the
# measured job would otherwise use
SAMPLE_S = 0.25
CHILD_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "mb_per_s": "MB/s",
    "job_cpu_s": "s",
    "peak_rss_mb": "MB",
}

# layer metric -> (unit, layer module, end-to-end metric and workload it should move)
PER_LAYER = {
    "session.jvm_start_s": ("s", "session", "setup_s, all workloads"),
    "session.worker_start_s": ("s", "session", "setup_s, all workloads"),
    "scan.s": ("s", "scan", "job_s on kg_build (small share)"),
    "scan.mb_per_s": ("MB/s", "scan", "job_s on kg_build (small share)"),
    "arrow.self_s": ("s", "arrow", "job_s on kg_build"),
    "python.worker_peak_rss_mb": ("MB", "arrow", "peak_rss_mb on kg_build"),
    "mentions.profiles_self_s": ("s", "operators.mentions", "job_s on kg_build; none on kg_resume"),
    "python.cpu_s": ("s", "operators.mentions", "job_cpu_s on kg_build"),
    "triples.direct_s": ("s", "operators.triples", "job_s on repo_refresh"),
    "triples.derive_s": ("s", "operators.triples", "job_s on kg_resume"),
    "triples.rows_out.CONTAINS": ("count", "operators.triples", "job_s on all (work size)"),
    "triples.rows_out.COOCCURS": ("count", "operators.triples", "job_s on all (work size)"),
    "triples.rows_out.DECLARES": ("count", "operators.triples", "job_s on all (work size)"),
    "triples.cooccurs_pre_dedup": ("count", "operators.triples", "job_s on kg_resume"),
    "triples.dedup_ratio": ("ratio", "operators.triples", "job_s on kg_resume"),
    "checkpoint.stage_s.profiles": ("s", "plans.checkpoint", "job_s on kg_build"),
    "checkpoint.stage_s.triples": ("s", "plans.checkpoint", "job_s on kg_resume; part of kg_build"),
    "checkpoint.manifest_s": ("s", "plans.checkpoint", "job_s on kg_resume; part of kg_build"),
    "checkpoint.bytes_written_mb_per_input_mb": ("ratio", "plans.checkpoint", "job_s on kg_resume"),
    "output.write_s": ("s", "jobs.run_kg", "job_s on kg_resume"),
    "stream.append_s": ("s", "streaming.kg_stream", "job_s on repo_refresh"),
    "stream.compact_s": ("s", "streaming.kg_stream", "job_s on repo_refresh"),
    "exchange.shuffle_write_mb": ("MB", "spark exchange", "job_s on kg_build"),
    "exchange.spill_mb": ("MB", "spark exchange", "job_s on kg_build"),
    "tasks.max_over_median_s": ("s", "spark exchange", "job_s on kg_build (skew)"),
    "jvm.gc_s": ("s", "jvm", "job_s on kg_build (GC)"),
    "jvm.cpu_s": ("s", "jvm", "job_cpu_s on kg_build"),
    "trace.accounted_frac": ("ratio", "trace", "none: checks that layer times cover job_s"),
    "trace.overhead_frac": ("ratio", "trace", "none: tracing cost"),
}


# ---------------------------------------------------------------- inputs
def _tree_hash(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def prepare_corpus(seed: int, n_files: int, drop_files: int) -> dict:
    """Corpus, drop and expected triples for `seed`, built once and cached."""
    import pandas as pd

    cdir = WORK / "corpus" / f"g{corpus.GENERATOR_VERSION}-s{seed}-n{n_files}-d{drop_files}-pd{pd.__version__}"

    def build() -> dict:
        table = corpus.generate(seed, n_files)
        drop = corpus.generate(seed, drop_files, tag="d", repos=DROP_REPOS)
        corpus.write_table(table, cdir / "files")
        corpus.write_table(drop, cdir / "drop", n_parts=len(DROP_REPOS))
        full = corpus.oracle_triples(table)
        return {
            "full": corpus.summarize(full),
            "union": corpus.summarize(corpus.union_triples(full, corpus.oracle_triples(drop))),
            "input_mb": table.column("content").nbytes / 1e6,
            "drop_mb": drop.column("content").nbytes / 1e6,
        }

    exp = corpus.cached_json(cdir / "expected.json", build)
    return {"dir": cdir, "expected": cdir / "expected.json", **exp}


def calibration_s() -> float:
    """Median time of a fixed pure-Python loop: how fast this box ran this
    run, so a slow set can be told from a slow commit."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def fingerprint(cores: int, env: dict) -> dict:
    meminfo = dict(line.split(":", 1) for line in Path("/proc/meminfo").read_text().splitlines())
    cpu_model = next((line.split(":", 1)[1].strip() for line in Path("/proc/cpuinfo").read_text().splitlines()
                      if line.startswith("model name")), platform.processor())
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                                text=True).stdout.strip() or None
    return {
        "nproc": cores,
        "mem_total": meminfo["MemTotal"].strip(),
        "cpu_model": cpu_model,
        "jvm": java[0] if java else None,
        "python": platform.python_version(),
        **{pkg: importlib.metadata.version(pkg) for pkg in ("pyspark", "pandas", "pyarrow")},
        "pinned": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_XMS",
                                        "SPARK_LOCAL_DIRS", "PYTHONPATH")},
        "git_commit": commit,
        "ner_spark_sha256": _tree_hash(ROOT / "ner_spark"),
    }


# -------------------------------------------------------------- children
class Child:
    """One child.py process; samples its process tree while it runs."""

    def __init__(self, spec: dict, env: dict, log: Path):
        self.spec = spec
        self.marker = f"PERFBENCH_CHILD={uuid.uuid4().hex}"
        env = {**env, "PERFBENCH_CHILD": self.marker.split("=", 1)[1]}
        spec_path = Path(spec["out"]).with_suffix(".spec.json")
        spec_path.write_text(json.dumps(spec))
        self.peak = {"rss_mb": 0.0, "py_rss_mb": 0.0, "at_peak": {}}
        with log.open("ab") as fh:
            self.proc = subprocess.Popen([sys.executable, str(HERE / "child.py"), str(spec_path)],
                                         cwd=spec["run_dir"], env=env, stdout=fh, stderr=fh,
                                         start_new_session=True)
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while self.proc.poll() is None:
            s = procfs.sample(self.proc.pid, memory=True)
            if s["rss_mb"] > self.peak["rss_mb"]:
                self.peak.update(rss_mb=s["rss_mb"], at_peak=s["by_process"])
            self.peak["py_rss_mb"] = max(self.peak["py_rss_mb"], s["py_rss_mb"])
            time.sleep(SAMPLE_S)

    def wait(self, timeout: float) -> dict:
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        finally:
            procfs.kill_marked(self.marker)
            self._sampler.join(timeout=5)
        out = Path(self.spec["out"])
        if self.proc.returncode != 0 or not out.exists():
            raise RuntimeError(f"child exited {self.proc.returncode}; see child.log in {out.parent}")
        return {**json.loads(out.read_text()), "peak": self.peak}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files", type=int, default=N_FILES, help="corpus size (self-test uses a tiny one)")
    ap.add_argument("--corrupt-op", type=int, default=None,
                    help="delete part of this op's output before its check (self-test)")
    args = ap.parse_args(argv)

    for need in (ROOT / "ner_spark" / "__init__.py", ROOT / "jobs" / "run_kg.py"):
        if not need.exists():
            print(f"perfbench: {need.relative_to(ROOT)} not found; run from a full checkout",
                  file=sys.stderr)
            return 2

    t_run = time.monotonic()
    calib = calibration_s()
    steal0 = procfs.cpu_times()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    for d in (run_dir / "tmp", run_dir / "spark-local", WORK / "results"):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_XMS": XMS,
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "PYTHONPATH": str(ROOT),
        "TMPDIR": str(run_dir / "tmp"),
        # no hsperfdata file in the system /tmp: the run writes only in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    }
    env.pop("OMP_NUM_THREADS", None)

    try:
        return measure(args, cores, run_dir, env, t_run, steal0, calib)
    finally:
        # op outputs, spill and temp files go; the child JSONs and log stay
        for d in run_dir.iterdir():
            if d.is_dir():
                shutil.rmtree(d, ignore_errors=True)


def measure(args, cores: int, run_dir: Path, env: dict, t_run: float, steal0: tuple[int, int],
            calib: float) -> int:
    """Run the children for one workload, then print and store the result."""
    run_id = run_dir.name
    drop_files = max(args.files // DROP_SHARE, 8)
    data = prepare_corpus(args.seed, args.files, drop_files)
    state = WORK / "state" / f"{_tree_hash(ROOT / 'ner_spark')}-{data['dir'].name}"
    needs = {"kg_build": [], "kg_resume": ["resume"], "repo_refresh": ["refresh"]}[args.workload]
    if args.trace:
        needs = ["resume", "refresh"]
    log = run_dir / "child.log"

    def spec(name: str, role: str, **kw) -> dict:
        return {"workload": args.workload, "role": role, "cores": cores, "run_dir": str(run_dir / name),
                "files": str(data["dir"] / "files"), "drop": str(data["dir"] / "drop"),
                "expected": str(data["expected"]), "resume_base": str(state / "resume_ck"),
                "refresh_base": str(state / "refresh"), "prepare": [], "seconds": args.seconds,
                "corrupt_op": args.corrupt_op, "out": str(run_dir / f"{name}.json"), **kw}

    def run_child(s: dict) -> dict:
        Path(s["run_dir"]).mkdir(parents=True, exist_ok=True)
        remaining = CHILD_TIMEOUT_S - (time.monotonic() - t_run)
        return Child(s, env, log).wait(timeout=max(remaining, 1))

    try:
        if args.trace:
            plain = run_child(spec("plain", "run", prepare=needs, seconds=args.seconds / 2))
            (run_dir / "eventlog").mkdir()
            traced = run_child(spec("traced", "run", seconds=args.seconds / 2, probe=True,
                                    eventlog_dir=str(run_dir / "eventlog")))
            children, setups = [plain, traced], [plain["setup"], traced["setup"]]
        else:
            setups = [run_child(spec(f"setup{i}", "setup", prepare=needs if i == 0 else []))["setup"]
                      for i in range(SETUP_SAMPLES - 1)]
            main_child = run_child(spec("main", "run"))
            setups.append(main_child["setup"])
            children = [main_child]
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    ops = [op for c in children for op in c["ops"]]
    attempted = len(ops)
    failed = sum(not op["ok"] for op in ops)
    for op in ops:
        if not op["ok"]:
            print(f"perfbench: op {op['op']} failed: {op['error']}", file=sys.stderr)
    input_mb = data["drop_mb"] if args.workload == "repo_refresh" else data["input_mb"]

    def e2e(child: dict) -> dict:
        measured = [op for op in child["ops"] if op.get("phase") == "measured"]
        # failed ops are counted in `failed`; their times are used only
        # when no measured op succeeded, so a result always has numbers
        warm = [op for op in measured if op["ok"]] or measured
        job_s = _median([op["wall_s"] for op in warm])
        return {
            "first_job_s": child["ops"][0]["wall_s"],
            "job_s": job_s,
            "mb_per_s": input_mb / job_s,
            "job_cpu_s": _median([op["cpu_s"] for op in warm]),
            "peak_rss_mb": child["peak"]["rss_mb"],
            "n_measured": len(warm),
        }

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "input": {"files": args.files, "content_mb": data["input_mb"], "drop_files": drop_files,
                  "drop_mb": data["drop_mb"], "metric_input_mb": input_mb},
        "setups": setups,
        "peaks": [c["peak"] for c in children],
    }
    if args.trace:
        metrics = layer_metrics(plain, traced, e2e(plain), e2e(traced), data, run_dir / "eventlog")
        units = {k: v[0] for k, v in PER_LAYER.items()}
    else:
        metrics = {"setup_s": _median([s["setup_s"] for s in setups]), **e2e(main_child)}
        units = END_TO_END
    report["failed_ops_frac"] = failed / attempted if attempted else 1.0
    report["fingerprint"] = fingerprint(cores, env)
    report["fingerprint"]["cpu_steal_frac"] = procfs.steal_share(steal0, procfs.cpu_times())
    report["fingerprint"]["calibration_s"] = calib
    report["run_wall_s"] = time.monotonic() - t_run
    report["metrics"] = metrics
    report["ops"] = ops
    (WORK / "results" / f"{run_id}.json").write_text(json.dumps(report, indent=1))

    shown = {k: metrics[k] for k in units}
    unmeasured = [k for k, v in shown.items() if not math.isfinite(v)]
    if unmeasured:
        print(f"perfbench: no value for {unmeasured}; see {run_dir}", file=sys.stderr)
        return 1
    print(json.dumps({"run": run_id, "input_mb": round(input_mb, 3), "failed_ops_frac": report["failed_ops_frac"],
                      "n_measured": metrics.get("n_measured"), "fingerprint": report["fingerprint"]}))
    for k, v in shown.items():
        where = f"  [{PER_LAYER[k][1]}; moves {PER_LAYER[k][2]}]" if args.trace else ""
        print(f"{k:44s} {v:14.6g} {units[k]}{where}")
    print(f"{'failed_ops_frac':44s} {report['failed_ops_frac']:14.6g} ratio")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0


def layer_metrics(plain: dict, traced: dict, e_plain: dict, e_traced: dict, data: dict,
                  eventlog_dir: Path) -> dict:
    """Per-layer numbers from the traced child (event log + probe)."""
    import eventlog

    probe = traced["probe"]
    t = probe["times"]
    warm = [op for op in traced["ops"] if op.get("phase") == "measured" and op["ok"]]
    groups = eventlog.per_group(eventlog_dir)
    per_op = [groups.get(f"op{op['op']}", {}) for op in warm]

    def op_median(key: str) -> float:
        return _median([g.get(key, 0.0) for g in per_op])

    def op_mean(key: str) -> float:
        return statistics.fmean([g.get(key, 0.0) for g in per_op]) if per_op else float("nan")

    def phase(key: str, fallback: float) -> float:
        vals = [op["phases"][key] for op in warm if key in op["phases"]]
        return _median(vals) if vals else fallback

    stages = {s: phase_stage(warm, s, probe["base_manifests"].get(s, 0.0)) for s in ("profiles", "triples")}
    rows = warm[-1]["rows_out"] if warm else {f: 0 for f in corpus.FAMILIES}
    pre = probe["pre_dedup"]
    setups = [plain["setup"], traced["setup"]]
    write_s = phase("write_s", t["write"])
    m = {
        "session.jvm_start_s": _median([s["jvm_start_s"] for s in setups]),
        "session.worker_start_s": _median([s["worker_start_s"] for s in setups]),
        "scan.s": t["L0_scan"],
        "scan.mb_per_s": data["input_mb"] / t["L0_scan"],
        "arrow.self_s": t["L1_arrow"] - t["L0_scan"],
        "python.worker_peak_rss_mb": traced["peak"]["py_rss_mb"],
        "mentions.profiles_self_s": t["L2_profiles"] - t["L1_arrow"],
        "python.cpu_s": probe["py_cpu_s"]["L2_profiles"],
        "triples.direct_s": t["direct"],
        "triples.derive_s": t["derive"],
        **{f"triples.rows_out.{f}": rows[f] for f in corpus.FAMILIES},
        "triples.cooccurs_pre_dedup": pre["COOCCURS"],
        "triples.dedup_ratio": sum(v["rows"] for v in data["full"].values()) / max(sum(pre.values()), 1),
        "checkpoint.stage_s.profiles": stages["profiles"],
        "checkpoint.stage_s.triples": stages["triples"],
        "checkpoint.manifest_s": t["manifest"],
        "checkpoint.bytes_written_mb_per_input_mb": probe["ckpt_bytes"] / 1e6 / data["input_mb"],
        "output.write_s": write_s,
        "stream.append_s": phase("append_s", probe["stream"].get("append_s", float("nan"))),
        "stream.compact_s": phase("compact_s", probe["stream"].get("compact_s", float("nan"))),
        "exchange.shuffle_write_mb": op_median("shuffle_write_mb"),
        "exchange.spill_mb": op_median("spill_mb"),
        "tasks.max_over_median_s": op_median("skew_s"),
        "jvm.gc_s": op_mean("gc_s"),
        "jvm.cpu_s": op_median("jvm_cpu_s"),
        "trace.overhead_frac": e_traced["job_s"] / e_plain["job_s"],
    }
    covered = [(sum(op["phases"].get("stage_s", {}).values()) + op["phases"].get("write_s", 0.0)
                + op["phases"].get("append_s", 0.0) + op["phases"].get("compact_s", 0.0)) / op["wall_s"]
               for op in warm]
    m["trace.accounted_frac"] = _median(covered)
    m["n_measured"] = len(warm)
    return m


def phase_stage(warm: list[dict], stage: str, fallback: float) -> float:
    vals = [op["phases"]["stage_s"][stage] for op in warm if stage in op["phases"].get("stage_s", {})]
    return _median(vals) if vals else fallback


if __name__ == "__main__":
    sys.exit(main())
