"""Spark side of the benchmark: one fresh process per invocation.

    python3 perfbench/child.py SPEC.json

SPEC (written by run.py) names the workload, the seed's corpus and base
states, the run dir, how long to measure and whether to trace. The
process measures its own set-up, optionally builds base states, runs the
op loop and (traced) the layer probe, then writes RESULT JSON to
``spec["out"]``. Ops call the same public functions as ``jobs/run_kg.py``
and ``ner_spark/streaming/kg_stream.py``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
import procfs  # noqa: E402

# An op counts toward job_s only after the cold op and a warm-up of at
# least WARMUP_OPS ops and WARMUP_S seconds of op time: ops of a fresh
# JVM keep getting faster through the third op.
WARMUP_OPS = 2
WARMUP_S = 6.0
MIN_MEASURED = 3
PROBE_REPS = 3


def _rm(*paths: Path) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _copytree(src: Path, dst: Path) -> None:
    _rm(dst)
    shutil.copytree(src, dst)


def _read_triples(path: Path):
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet", partitioning="hive").to_table().to_pandas()


def _manifests(ck: Path) -> dict[str, dict]:
    out = {}
    for man in ck.glob("*/manifest.json"):
        out[man.parent.name] = json.loads(man.read_text())
    return out


class Bench:
    def __init__(self, spec: dict):
        self.spec = spec
        self.run_dir = Path(spec["run_dir"])
        self.files = spec["files"]
        self.expected = json.loads(Path(spec["expected"]).read_text())
        self.result: dict = {"ops": []}

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from ner_spark.session import get_spark

        t_import = time.perf_counter()
        extra = {"spark.ui.showConsoleProgress": "false"}
        if self.spec.get("eventlog_dir"):
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": Path(self.spec["eventlog_dir"]).as_uri(),
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        cores = self.spec["cores"]
        self.spark = get_spark("perfbench", cpus=cores, extra_conf=extra)
        t_jvm = time.perf_counter()
        sc = self.spark.sparkContext
        pids = sc.parallelize(range(cores), cores).mapPartitions(lambda _: [os.getpid()]).collect()
        t_workers = time.perf_counter()
        self.result["setup"] = {
            "setup_s": t_workers - T_START,
            "import_s": t_import - T_START,
            "jvm_start_s": t_jvm - t_import,
            "worker_start_s": t_workers - t_jvm,
            "workers": len(set(pids)),
        }

    # ------------------------------------------------------- base states
    def prepare_resume_base(self) -> None:
        """A completed checkpoint root for the corpus (cached per seed)."""
        from ner_spark.plans.checkpoint import run_kg_checkpointed

        base = Path(self.spec["resume_base"])
        if {"profiles", "triples"} <= set(_manifests(base)):
            return
        _rm(base)
        run_kg_checkpointed(self.spark, self.files, str(base), corpus.GAZETTEER)

    def prepare_refresh_base(self) -> None:
        """Stream source holding the corpus, drained into a base KG; then
        the drop lands in the source dir. Cached per seed."""
        from ner_spark.streaming.kg_stream import run_incremental

        base = Path(self.spec["refresh_base"])
        if (base / "done").exists():
            return
        _rm(base)
        src = base / "src"
        src.mkdir(parents=True)
        for f in sorted(Path(self.files).glob("*.parquet")):
            os.link(f, src / f.name)
        run_incremental(self.spark, str(src), str(base / "out"), str(base / "ck"), corpus.GAZETTEER)
        for f in sorted(Path(self.spec["drop"]).glob("*.parquet")):
            os.link(f, src / f"drop-{f.name}")
        (base / "done").write_text("ok")

    # --------------------------------------------------------------- ops
    def op_kg_build(self, k: int) -> dict:
        from ner_spark.plans.checkpoint import run_kg_checkpointed

        ck, out = self.run_dir / "ck", self.run_dir / "out"
        _rm(ck, out)
        return self._timed(k, lambda: self._kg_job(run_kg_checkpointed, ck, out),
                           lambda: self._check(out, "full"))

    def op_kg_resume(self, k: int) -> dict:
        from ner_spark.plans.checkpoint import run_kg_checkpointed

        ck, out = Path(self.spec["resume_base"]), self.run_dir / "out"
        _rm(out)
        mans = _manifests(ck)
        newest = max(mans, key=lambda s: mans[s]["completed_at_unix"])
        (ck / newest / "manifest.json").unlink()
        kept = {s: m["completed_at_unix"] for s, m in mans.items() if s != newest}

        def check() -> str | None:
            now = _manifests(ck)
            redone = [s for s, t in kept.items() if now.get(s, {}).get("completed_at_unix") != t]
            if redone or newest not in now:
                return f"resume recomputed {redone} / lost {newest}"
            return self._check(out, "full")

        return self._timed(k, lambda: self._kg_job(run_kg_checkpointed, ck, out), check)

    def op_repo_refresh(self, k: int) -> dict:
        from ner_spark.streaming.kg_stream import consolidated_triples, run_incremental

        base = Path(self.spec["refresh_base"])
        out, ck, cons = self.run_dir / "stream_out", self.run_dir / "stream_ck", self.run_dir / "cons"
        _copytree(base / "out", out)
        _copytree(base / "ck", ck)
        _rm(cons)

        def body() -> dict:
            t0 = time.perf_counter()
            run_incremental(self.spark, str(base / "src"), str(out), str(ck), corpus.GAZETTEER)
            t1 = time.perf_counter()
            consolidated_triples(self.spark, str(out)).write.parquet(str(cons))
            return {"append_s": t1 - t0, "compact_s": time.perf_counter() - t1}

        return self._timed(k, body, lambda: self._check(cons, "union"))

    def _kg_job(self, run_kg_checkpointed, ck: Path, out: Path) -> dict:
        """The `jobs/run_kg.py` job: checkpointed triples + partitioned write."""
        t_unix = time.time()
        t0 = time.perf_counter()
        triples = run_kg_checkpointed(self.spark, self.files, str(ck), corpus.GAZETTEER)
        t1 = time.perf_counter()
        triples.write.mode("overwrite").partitionBy("pred").parquet(str(out))
        t2 = time.perf_counter()
        ran = {s: m["wall_s"] for s, m in _manifests(ck).items() if m["completed_at_unix"] >= t_unix}
        return {"checkpoint_s": t1 - t0, "write_s": t2 - t1, "stage_s": ran}

    def _check(self, path: Path, which: str) -> str | None:
        if self.spec.get("corrupt_op") == self._op_no:
            victim = max(path.rglob("*.parquet"), key=lambda p: p.stat().st_size)
            victim.unlink()
        got = corpus.summarize_output(_read_triples(path))
        self._last_summary = got
        want = self.expected[which]
        return None if got == want else f"output mismatch: got {got} want {want}"

    def _timed(self, k: int, body, check) -> dict:
        self._op_no = k
        me = os.getpid()
        self.spark.sparkContext.setJobGroup(f"op{k}", f"op {k}")
        rec: dict = {"op": k, "phases": {}, "error": None}
        s0 = procfs.sample(me)
        t0 = time.perf_counter()
        try:
            rec["phases"] = body()
        except Exception:  # noqa: BLE001 - an op that raises is a counted failure
            rec["error"] = traceback.format_exc(limit=4)
        rec["wall_s"] = time.perf_counter() - t0
        s1 = procfs.sample(me)
        rec["cpu_s"] = s1["cpu_s"] - s0["cpu_s"]
        rec["py_cpu_s"] = s1["py_cpu_s"] - s0["py_cpu_s"]
        if rec["error"] is None:
            try:
                rec["error"] = check()
            except Exception:  # noqa: BLE001 - an unreadable output is a failed op
                rec["error"] = traceback.format_exc(limit=4)
        rec["ok"] = rec["error"] is None
        if rec["ok"]:
            rec["rows_out"] = {f: v["rows"] for f, v in self._last_summary.items()}
        self.result["ops"].append(rec)
        return rec

    def loop(self) -> None:
        op = getattr(self, f"op_{self.spec['workload']}")
        first = op(1)
        first["phase"] = "cold"
        k, warm_s = 1, 0.0
        while k - 1 < WARMUP_OPS or warm_s < WARMUP_S:
            k += 1
            rec = op(k)
            rec["phase"] = "warmup"
            warm_s += rec["wall_s"]
        t_measure = time.perf_counter()
        n = 0
        while n < MIN_MEASURED or time.perf_counter() - t_measure < self.spec["seconds"]:
            k += 1
            n += 1
            op(k)["phase"] = "measured"
        self.result["measure_wall_s"] = time.perf_counter() - t_measure
        base, ck = Path(self.spec["resume_base"]), self.run_dir / "ck"
        if self.spec["workload"] == "kg_build" and not base.exists() and self.result["ops"][-1]["ok"]:
            # the last build's checkpoint is exactly kg_resume's base state
            base.parent.mkdir(parents=True, exist_ok=True)
            os.replace(ck, base)

    # ------------------------------------------------------------ probe
    def probe(self) -> None:
        """Layer ladder and per-layer timings on the same corpus (traced run)."""
        from pyspark.sql import functions as F

        from ner_spark.operators.mentions import file_profiles
        from ner_spark.operators.triples import DECL_RE, all_triples_from_profiles, triples_direct
        from ner_spark.plans.checkpoint import content_checksum
        from ner_spark.plans.pipeline import with_file_key

        spark = self.spark
        ck = Path(self.spec["resume_base"])
        self.prepare_resume_base()
        self.prepare_refresh_base()

        def files():
            return with_file_key(spark.read.parquet(self.files))

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def identity(batches):
            yield from batches

        def manifest_work() -> None:
            for stage in ("profiles", "triples"):
                out = spark.read.parquet(str(ck / stage / "data"))
                out.groupBy(F.input_file_name().alias("f")).agg(F.count(F.lit(1))).collect()
                content_checksum(out)

        tmp = self.run_dir / "probe_write"
        rungs = {
            "L0_scan": lambda: noop(spark.read.parquet(self.files).select("content")),
            "L1_arrow": lambda: noop(files().select("file_key", "repo", "content").mapInPandas(
                identity, "file_key string, repo string, content string")),
            "L2_profiles": lambda: noop(file_profiles(files(), corpus.GAZETTEER, DECL_RE)),
            "direct": lambda: noop(triples_direct(files(), corpus.GAZETTEER, DECL_RE)),
            "derive": lambda: noop(all_triples_from_profiles(
                spark.read.parquet(str(ck / "profiles" / "data")))),
            "write": lambda: spark.read.parquet(str(ck / "triples" / "data"))
            .write.mode("overwrite").partitionBy("pred").parquet(str(tmp)),
            "manifest": manifest_work,
        }
        times: dict[str, list[float]] = {name: [] for name in rungs}
        py_cpu: dict[str, list[float]] = {name: [] for name in rungs}
        for rep in range(PROBE_REPS):
            for name, fn in rungs.items():
                spark.sparkContext.setJobGroup(f"probe_{name}", name)
                s0 = procfs.sample(os.getpid())
                t0 = time.perf_counter()
                fn()
                times[name].append(time.perf_counter() - t0)
                py_cpu[name].append(procfs.sample(os.getpid())["py_cpu_s"] - s0["py_cpu_s"])
        stream: dict[str, list[float]] = {"append_s": [], "compact_s": []}
        for rep in range(PROBE_REPS):
            rec = self.op_repo_refresh(-1 - rep)
            rec["phase"] = "probe"
            if rec["ok"]:
                for key in stream:
                    stream[key].append(rec["phases"][key])
        self.result["probe"] = {
            "times": {k: statistics.median(v) for k, v in times.items()},
            "py_cpu_s": {k: statistics.median(v) for k, v in py_cpu.items()},
            "stream": {k: statistics.median(v) for k, v in stream.items() if v},
            "ckpt_bytes": sum(p.stat().st_size for st in ("profiles", "triples")
                              for p in (ck / st / "data").rglob("*.parquet")),
            "base_manifests": {s: m["wall_s"] for s, m in _manifests(ck).items()},
            "pre_dedup": _pre_dedup(ck / "profiles" / "data"),
        }

    def run(self) -> None:
        self.setup()
        if "resume" in self.spec["prepare"]:
            self.prepare_resume_base()
        if "refresh" in self.spec["prepare"]:
            self.prepare_refresh_base()
        if self.spec["role"] == "run":
            self.loop()
            if self.spec.get("probe"):
                self.probe()
            self.spark.stop()


def _pre_dedup(profiles: Path) -> dict[str, int]:
    """Triples each family emits before any distinct, read from the
    profiles checkpoint: |entities|, C(|entities|, 2) and |symbols| per file."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(str(profiles), format="parquet").to_table(columns=["entities", "symbols"])
    k = pc.list_value_length(t.column("entities")).to_numpy(zero_copy_only=False).astype("int64")
    s = pc.list_value_length(t.column("symbols")).to_numpy(zero_copy_only=False).astype("int64")
    return {"CONTAINS": int(k.sum()), "COOCCURS": int((k * (k - 1) // 2).sum()),
            "DECLARES": int(s.sum())}


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    bench = Bench(spec)
    try:
        bench.run()
    finally:
        Path(spec["out"]).write_text(json.dumps(bench.result))
    if spec["role"] == "setup":
        # the set-up sample is taken; the JVM exits when its parent goes
        os._exit(0)
    return 0


if __name__ == "__main__":
    sys.exit(main())
