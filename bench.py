"""Bench harness — one COMPACT JSON line on stdout (driver contract).

Round-4 restructure (VERDICT r3 "Next round" #1): the round-3 bench
serially timed all 741 `queries()` entries plus the full scaling/resume
suite and blew through the driver's wall-clock budget (BENCH_r03.json:
rc=124, no parsed numbers). This harness is budget-aware and emits no
matter what:

  * A global wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET`, default
    3000 s) is enforced between phases; low-priority work is skipped,
    never the emit.
  * Phase order = evidence priority: (A) headline query set timed
    per-query, (B) flagship KG job min-of-3, (C) north-rule two-level
    scaling probe (adaptive pair count, FLOOR 3 — round 5; 2-rep
    levels on a 2M-file probe corpus so three pairs cost less than
    round 4's two), (D) resume demo on the 4M-file corpus, (E)
    full-box saturation probe, (F) bulk timing of every remaining
    `queries()` entry until the deadline, round-4-untimed queries
    first so the official records' union covers all of `queries()`.
  * stdout gets ONE compact JSON line kept UNDER 1900 chars — the
    driver records only the last 2000 chars of output, which is what
    silently un-parsed rounds 2-3 (their per-query dicts alone were
    4-20 kB).  Full detail (all per-query timings, per-rep runs,
    saturation) goes to `SPARK_GRAFT_BENCH_FULL` (default
    ./BENCH_FULL_LATEST.json), committed to the repo.
  * SIGTERM/SIGINT (what `timeout` sends) aborts the current phase and
    still emits the line with whatever completed.

Timing uses a `noop`-format write so the full plan executes with no
collect/driver cost; each query is preceded by a warm-up job so JVM
startup never pollutes query timings.

Usage:
    python bench.py                       # full run -> one JSON line
    python bench.py --scale-probe CPUS    # internal: KG job timing only
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ner_spark.session import DEFAULT_CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = DEFAULT_CPUS
# 2700 leaves ~900 s of headroom under a 1 h outer timeout even if the
# 4M-file corpus must be re-materialized (fresh /tmp) — the full
# everything-enabled pass measured 3920 s at budget 7200, and phases
# self-truncate against this number
BUDGET = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2700"))
FULL_OUT = os.environ.get(
    "SPARK_GRAFT_BENCH_FULL",
    str(Path(__file__).resolve().parent / "BENCH_FULL_LATEST.json"),
)
# resume demo corpus: 4M files — big enough that the kill/resume
# evidence is a multi-minute job with real per-partition lineage
SCALE_FILES = int(os.environ.get("SPARK_GRAFT_SCALE_FILES", "4000000"))
# scaling-probe corpus: SMALLER than the resume corpus (round-5 change,
# VERDICT r4 "Next round" #1) — the efficiency RATIO is corpus-size-
# independent inside the bandwidth-linear region (characterized in
# PLANS.md), so halving the probe corpus halves per-pair cost and lets
# >= 3 adjacent lo/hi pairs fit the driver budget where round 4 got 2.
# 2M files ~= 45 s/rep at the 2-core level: the ~1.1 s fixed overhead
# stays ~2%, well inside the ±30% VM noise the pair protocol absorbs.
PROBE_FILES = int(os.environ.get("SPARK_GRAFT_PROBE_FILES", "2000000"))


def _files_parquet(n_files: int) -> str:
    return os.environ.get(
        "SPARK_GRAFT_FILES_PARQUET", f"/tmp/ner_spark_bench_files_{n_files}.parquet"
    )


FILES_PARQUET = _files_parquet(SCALE_FILES)
_T0 = time.monotonic()


def _remaining() -> float:
    return BUDGET - (time.monotonic() - _T0)


class BenchAbort(Exception):
    """Raised by the signal handler / deadline checks: stop the current
    phase, keep everything already measured, emit."""


def _install_signals() -> None:
    def _h(signum, frame):
        raise BenchAbort(f"signal {signum}")

    for s in (signal.SIGTERM, signal.SIGINT):
        try:
            signal.signal(s, _h)
        except (ValueError, OSError):
            pass


# CPU-bound content scan: size input splits so each probe level gets
# >= ~4 tasks/core on the small local corpus. On a real 100 TB corpus
# the default 128 MB splits already yield ample tasks — this knob only
# compensates for the tiny bench files.
_SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(512 * 1024),
    # progress bars go to the same captured stream as the JSON line on
    # the driver; keep the emitted tail clean
    "spark.ui.showConsoleProgress": "false",
}

# scale-probe sessions additionally disable AQE: the KG pipeline is a
# straight line (one map stage, one fixed exchange) — AQE's per-stage
# driver re-planning costs ~2 s here and buys nothing. It stays ON for
# the query workloads, where skew-join splitting earns its keep.
# Speculation re-launches a straggler copy (observed once on this VM: a
# Python-worker task wedged for minutes under external CPU pressure) —
# the same guard a real cluster job would run with.
_PROBE_CONF = {
    **_SPLIT_CONF,
    "spark.sql.adaptive.enabled": "false",
    "spark.speculation": "true",
    "spark.speculation.multiplier": "4",
    "spark.speculation.quantile": "0.9",
}


def _warm(spark) -> None:
    """Warm the JVM and the Python worker pool (pandas import cost)
    before any timed region — both probe levels pay it equally outside
    the measurement, like a long-running cluster would."""
    import pandas as pd  # noqa: F401

    def ident(batches):
        yield from batches

    spark.range(10_000, numPartitions=256).mapInPandas(ident, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def _sf_from_dir(d: str) -> float:
    name = Path(d).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize_files(spark, n_files: int) -> str:
    """Synth corpus -> parquet once (cached across probes), so the timed
    KG job starts from a real columnar scan like the 100 TB target."""
    from ner_spark import synth

    path = _files_parquet(n_files)
    marker = Path(path) / "_SUCCESS"
    if not marker.exists():
        synth.synth_files(spark, n_files, parallelism=max(CPUS * 4, 32)).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _kg_job(spark, files_path: str):
    from ner_spark.plans import pipeline

    files = spark.read.parquet(files_path)
    return pipeline.extract_triples(files)


def scale_probe(cpus: int, n_files: int) -> None:
    """Internal mode: run the KG job once at `cpus`, print timing JSON.

    The probe process (and every child: the JVM, its GC threads, and
    the forked pyspark.daemon workers) is PINNED to `cpus` physical
    CPUs. Without pinning, local[N] bounds only the N task threads —
    the Python workers and the JVM's serialization/GC threads run on
    additional cores, so the small level freeloads ~1-2 extra cores
    (measured: the '8-core' level consumed ~9.3 cores of CPU) and the
    scaling ratio is understated. An N-executor cluster has N cores
    total; pinning is the faithful emulation of the north rule's
    two-cluster-size comparison.
    """
    try:
        # pin to the TOP of the cpu range: device IRQs and kernel
        # housekeeping concentrate on the low-numbered cpus, so
        # pinning the small level to cpus 0..7 makes it absorb ALL
        # interrupt noise with only 8 cores (measured: lo-level rep
        # spread 75-114 s pinned low vs ~66 s floor) while the 32-core
        # level amortizes the same noise over 4x the cores — a
        # systematic anti-small bias the north-rule comparison must
        # not include
        total = os.cpu_count() or cpus
        os.sched_setaffinity(0, set(range(total - cpus, total)))
    except (AttributeError, OSError):  # non-Linux or restricted
        pass

    from ner_spark.session import get_spark

    spark = get_spark(
        f"kg_scale_{cpus}",
        cpus=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf=_PROBE_CONF,
    )
    path = _materialize_files(spark, n_files)
    _warm(spark)
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "2"))
    times = []
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = _kg_job(spark, path)
        _noop(df)
        times.append(time.perf_counter() - t0)
    # min = steady-state capacity; this VM's disk/CPU have bursts of
    # external noise that would otherwise dominate the comparison
    elapsed = min(times)
    # the triple count is a deterministic function of the corpus;
    # computing it is a full extra job (~46 s at the 2-core level), so
    # cache it beside the parquet and let every later probe read it
    # (the underscore prefix keeps parquet readers from touching it)
    count_file = Path(path) / "_TRIPLE_COUNT"
    if count_file.exists():
        n_triples = int(count_file.read_text())
    else:
        n_triples = _kg_job(spark, path).count()
        try:
            count_file.write_text(str(n_triples))
        except OSError:
            pass
    print(
        json.dumps(
            {"cpus": cpus, "sec": elapsed, "runs": [round(t, 2) for t in times],
             "triples": n_triples}
        )
    )
    spark.stop()


def _probe_subprocess(
    cpus: int, reps: int, collector: dict, n_files: int = SCALE_FILES
) -> dict:
    env = dict(os.environ, SPARK_GRAFT_PROBE_REPS=str(reps))
    # a wedged probe must not eat the whole budget before the first
    # between-pairs check: cap each subprocess at the remaining budget
    # (floor 180 s so a probe that WOULD finish isn't killed spuriously)
    r = subprocess.run(
        [sys.executable, __file__, "--scale-probe", str(cpus), str(n_files)],
        capture_output=True,
        text=True,
        timeout=min(1800, max(180, _remaining())),
        env=env,
    )
    lines = [l for l in r.stdout.strip().splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(
            f"scale probe at {cpus} cpus failed (rc={r.returncode}): "
            f"{r.stderr.strip()[-2000:]}"
        )
    probe = json.loads(lines[-1])
    collector.setdefault(cpus, []).extend(probe["runs"])
    return probe


def run_scaling(max_pairs: int, reserve: float) -> dict:
    """North-rule two-cluster-size evidence: same job, N vs 4N cores,
    fresh JVM each (subprocess), strong-scaling efficiency.

    The levels are probed as temporally ADJACENT [lo, hi] pairs and
    the reported efficiency is the MEDIAN of per-pair ratios: this
    VM's background noise drifts on the minutes scale, so within a
    pair both levels see the same environment (the ratio is stable)
    while the median across pairs drops a wholly-bad window.

    Pair count is ADAPTIVE with a floor of THREE (round-5 change;
    round 4's 2-pair record left a noise outlier unadjudicated): the
    third pair runs unless the budget is truly exhausted, and a
    fourth runs only when the full `reserve` (resume demo + bulk
    phase + emit) still fits afterwards. To pay for the floor, each
    probe level runs 2 reps (not 3) on the 2M-file probe corpus (not
    the 4M resume corpus) — per-pair cost roughly a third of round
    4's, and the efficiency ratio is corpus-size-independent in the
    bandwidth-linear region (PLANS.md characterization).

    Outlier protocol (recorded in the emitted JSON): a pair is flagged
    when EITHER (a) its within-pair rep spread (max/min across that
    pair's lo or hi reps) exceeds 1.5, or (b) either level's pair-best
    time exceeds 1.25x that level's best across the whole phase —
    noise can only ever SLOW a run, so a pair where one level ran 25%
    over its own demonstrated capacity sat in a contaminated window
    (observed in practice: a hi-level window slowed across both reps,
    producing a 0.71 ratio with a quiet 1.36 rep spread). The headline
    efficiency is the LOWER median of all per-pair ratios (never the
    optimistic upper middle on even counts), the min is always
    reported beside it, `outlier_pairs` counts flagged pairs, and
    `scaling_efficiency_clean` gives the lower median over unflagged
    pairs when at least two remain — reported ALONGSIDE the unfiltered
    stats, never replacing them.

    N -> 4N is probed at (CPUS/16, CPUS/4) — 2 -> 8 on this box — not
    (8, 32): this single-socket VM's memory bandwidth saturates well
    below its 32 threads (measured on the 4M-file corpus: 2->8 cores
    scales at ~1.0 efficiency, 4->16 at 0.75, 8->16 at 0.82, with
    per-run fixed overhead ~1.1 s ruling out an Amdahl serial tail).
    A real 4N-executor cluster adds aggregate memory bandwidth with
    every executor, so the faithful emulation of the north rule's two
    CLUSTER sizes is the N->4N pair inside the box's linear region;
    the full-box ceiling is reported separately (`saturation`), not
    hidden.
    """
    lo, hi = max(CPUS // 16, 2), max(CPUS // 4, 8)
    best: dict[int, dict] = {}
    all_runs: dict[int, list] = {}
    pairs: list[dict] = []

    pair_cost = 0.0
    for i in range(max_pairs):
        # floor of 3 pairs: pair 3 yields only to a truly exhausted
        # budget (emit floor), pair 4+ must leave the full reserve
        need = pair_cost * 1.2 + (reserve if i >= 3 else 120.0)
        if i >= 2 and _remaining() < need:
            break
        t0 = time.monotonic()
        p_lo = _probe_subprocess(lo, 2, all_runs, PROBE_FILES)
        p_hi = _probe_subprocess(hi, 2, all_runs, PROBE_FILES)
        pair_cost = max(pair_cost, time.monotonic() - t0)
        for c, p in ((lo, p_lo), (hi, p_hi)):
            if c not in best or p["sec"] < best[c]["sec"]:
                best[c] = p
        pairs.append({
            "lo_sec": p_lo["sec"],
            "hi_sec": p_hi["sec"],
            "ratio": (p_lo["sec"] / p_hi["sec"]) / (hi / lo),
            "spread": max(
                max(p["runs"]) / min(p["runs"]) for p in (p_lo, p_hi)
            ),
        })
    # outlier rule (see docstring): rep spread > 1.5 within the pair,
    # OR either level ran > 1.25x its phase-best in that pair
    for p in pairs:
        p["outlier"] = (
            p["spread"] > 1.5
            or p["lo_sec"] > best[lo]["sec"] * 1.25
            or p["hi_sec"] > best[hi]["sec"] * 1.25
        )
    srt = sorted(p["ratio"] for p in pairs)
    # LOWER median: on even pair counts the upper middle would report
    # the more optimistic of the two central ratios (ADVICE r4)
    eff = srt[(len(srt) - 1) // 2]
    clean = sorted(p["ratio"] for p in pairs if not p["outlier"])
    outliers = sum(1 for p in pairs if p["outlier"])
    return {
        "n_files": PROBE_FILES,
        "cpus_low": lo,
        "cpus_high": hi,
        "sec_low": round(best[lo]["sec"], 3),
        "sec_high": round(best[hi]["sec"], 3),
        # full per-rep spread across both interleaved subprocess
        # invocations — this VM drifts ±30% on the minutes scale, so
        # the spread is part of the record, not just the min
        "runs_low": all_runs[lo],
        "runs_high": all_runs[hi],
        "cpu_pinned": True,
        "triples_per_sec_low": round(best[lo]["triples"] / best[lo]["sec"], 1),
        "triples_per_sec_high": round(best[hi]["triples"] / best[hi]["sec"], 1),
        # median of per-adjacent-pair ratios (see docstring); the
        # per-pair values are part of the record
        "scaling_efficiency": round(eff, 4),
        # the min pair is the adversarial reading of the same record —
        # reported so the median cannot hide a bad window
        "scaling_efficiency_min": round(srt[0], 4),
        # lower median over pairs the outlier rule did NOT flag
        # (absent when fewer than 2 clean pairs remain); an
        # adjudication aid reported alongside the unfiltered stats
        **(
            {"scaling_efficiency_clean": round(clean[(len(clean) - 1) // 2], 4)}
            if len(clean) >= 2 else {}
        ),
        "pair_efficiencies": [round(x, 4) for x in srt],
        "pairs_run": len(pairs),
        # outlier protocol (docstring): per-pair rep spreads plus the
        # capacity-deviation test, so a low ratio can be read against
        # its noise evidence
        "pair_spreads": [round(p["spread"], 3) for p in pairs],
        "pair_detail": [
            {
                "lo_sec": round(p["lo_sec"], 2),
                "hi_sec": round(p["hi_sec"], 2),
                "ratio": round(p["ratio"], 4),
                "outlier": p["outlier"],
            }
            for p in pairs
        ],
        "outlier_pairs": outliers,
        "outlier_rule": (
            "within-pair rep spread > 1.5 OR a level > 1.25x its "
            "phase-best in that pair"
        ),
    }


def run_saturation(collector: dict) -> list:
    """Full-box level: ABOVE the box's memory-bandwidth-linear region,
    so it is evidence of the box's limit, not of the job's
    scalability — recorded alongside, never folded into the ratio."""
    out = []
    for c in (CPUS,):
        p = _probe_subprocess(c, 2, collector)
        out.append({
            "cpus": c,
            "sec": round(p["sec"], 3),
            "n_files": SCALE_FILES,
            "runs": p["runs"],
            "triples_per_sec": round(p["triples"] / p["sec"], 1),
            "note": "beyond the box's linear region (memory bandwidth "
                    "ceiling; a 4N-executor cluster adds bandwidth per "
                    "node, this box does not)",
        })
    return out


def _compact_line(result: dict) -> str:
    """Build the stdout JSON line, guaranteed under 1900 chars: the
    driver keeps only the last 2000 chars of output, so a long line is
    recorded truncated and parses as nothing (rounds 2-3)."""
    line = json.dumps(result, separators=(",", ":"))
    # drop per-query entries from the tail of the headline dict until
    # the line fits; the full table is in FULL_OUT either way
    while len(line) > 1900 and result.get("queries"):
        dropped = result.setdefault("queries_elided", 0)
        last = next(reversed(result["queries"]))
        del result["queries"][last]
        result["queries_elided"] = dropped + 1
        line = json.dumps(result, separators=(",", ":"))
    return line


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--scale-probe":
        n = int(sys.argv[3]) if len(sys.argv) >= 4 else SCALE_FILES
        scale_probe(int(sys.argv[2]), n)
        return

    _install_signals()
    import __spark_entry__ as entry_mod
    from ner_spark.session import get_spark

    sf = _sf_from_dir(SF_DIR)
    qdict = entry_mod.queries()
    headline = [k for k in entry_mod.LEAD_QUERIES if k in qdict]
    bulk_names = [k for k in qdict if k not in set(headline)]
    # deterministic bulk rotation (VERDICT r4 "Next round" #3): queries
    # the round-4 DRIVER bench did not reach run FIRST, so the union of
    # official records covers every `queries()` entry even if this
    # round's budget truncates the bulk phase again. The seed list is a
    # committed snapshot of BENCH_r04's timed set; sort is stable, so
    # queries() order is preserved within each group.
    prev_timed: set[str] = set()
    try:
        prev_timed = set(
            json.loads(
                (Path(__file__).resolve().parent / "tools" / "driver_timed_r4.json")
                .read_text()
            )["timed"]
        )
    except Exception:
        pass
    bulk_names.sort(key=lambda n: n in prev_timed)

    timings: dict[str, float] = {}       # headline, per-query
    bulk_timings: dict[str, float] = {}  # remainder, per-query (full file)
    status: dict[str, str] = {}
    kg_block = None
    scaling = None
    resume = None
    saturation = None
    aborted = None
    iceberg_ok = None
    do_scaling = os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0"
    do_resume = os.environ.get("SPARK_GRAFT_BENCH_RESUME", "1") != "0"

    spark = get_spark("ner_spark_bench", cpus=CPUS, extra_conf=_SPLIT_CONF)
    try:
        # SURVEY §1.3 input-contract probe (VERDICT r4 "Next round" #7):
        # is an Iceberg runtime on this classpath? Recorded either way —
        # False documents the environment-blocked parquet fallback.
        from ner_spark.sources import catalog as _catalog

        iceberg_ok = _catalog.iceberg_available(spark)
        _warm(spark)
        # warm each table's scan path (footer read + page cache + codec
        # init) OUTSIDE the timed region: otherwise the first query that
        # touches a table pays its cold-read cost and the per-query
        # numbers compare unfairly within the run
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            try:
                _noop(spark.read.parquet(f"{SF_DIR}/{t}.parquet"))
            except Exception:
                pass

        # ---- Phase A: headline queries (always run; ~50 x ~1 s) ----
        for name in headline:
            t0 = time.perf_counter()
            _noop(qdict[name](spark, SF_DIR))
            timings[name] = round(time.perf_counter() - t0, 3)
        status["headline"] = f"{len(timings)}/{len(headline)}"

        # ---- Phase B: flagship KG throughput at bench scale ----
        kg_files = int(os.environ.get("SPARK_GRAFT_KG_FILES", str(int(sf * 100_000))))
        from ner_spark import synth

        kg_path = f"/tmp/ner_spark_bench_kg_{kg_files}.parquet"
        if not (Path(kg_path) / "_SUCCESS").exists():
            synth.synth_files(
                spark, kg_files, parallelism=max(CPUS * 4, 32)
            ).write.mode("overwrite").parquet(kg_path)
        # min-of-3: the flagship number must not be a single-shot sample
        # on a VM with documented ±30% noise bursts
        kg_runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _noop(_kg_job(spark, kg_path))
            kg_runs.append(time.perf_counter() - t0)
        kg_sec = min(kg_runs)
        n_triples = _kg_job(spark, kg_path).count()
        timings["kg_triples"] = round(kg_sec, 3)
        kg_block = {
            "n_files": kg_files,
            "triples": n_triples,
            "triples_per_sec": round(n_triples / kg_sec, 1),
        }

        # materialize the probe corpora while a session is up: 2M for
        # the scaling pairs, 4M for the resume demo + saturation level;
        # pre-compute each corpus's triple count here (32 cores, ~6 s)
        # so no pinned probe subprocess pays it as a full extra job
        def _prime(n_files: int) -> None:
            path = _materialize_files(spark, n_files)
            count_file = Path(path) / "_TRIPLE_COUNT"
            if not count_file.exists():
                count_file.write_text(str(_kg_job(spark, path).count()))

        if do_scaling:
            _prime(PROBE_FILES)
        if do_resume or os.environ.get("SPARK_GRAFT_BENCH_SATURATION", "1") != "0":
            _prime(SCALE_FILES)
    except BenchAbort as e:
        aborted = f"phase A/B: {e}"
        do_scaling = do_resume = False
    except Exception as e:  # emit-no-matter-what: record, keep going
        aborted = f"phase A/B error: {e}"[:300]
        do_scaling = do_resume = False
    finally:
        spark.stop()

    # ---- Phase C: north-rule scaling (adaptive pair count) ----
    if do_scaling and aborted is None:
        try:
            max_pairs = int(os.environ.get("SPARK_GRAFT_PROBE_PAIRS", "5"))
            # reserve: resume demo (~300 s) + bulk floor (~120 s) + emit
            scaling = run_scaling(max_pairs, reserve=450.0)
        except BenchAbort as e:
            aborted = f"scaling: {e}"
        except Exception as e:
            scaling = {"error": str(e)[:300]}

    # ---- Phase D: resume evidence (kill + exact-resume checksum) ----
    if do_resume and aborted is None and _remaining() > 200:
        sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
        try:
            import resume_demo

            resume = resume_demo.run_demo(FILES_PARQUET, CPUS, n_files=SCALE_FILES)
        except BenchAbort as e:
            aborted = f"resume: {e}"
        except Exception as e:  # evidence block must not sink the bench
            resume = {"error": str(e)[:500]}

    # ---- Phase E: full-box saturation (optional; cheap, 2 reps) ----
    if (
        os.environ.get("SPARK_GRAFT_BENCH_SATURATION", "1") != "0"
        and do_scaling and aborted is None and _remaining() > 300
    ):
        try:
            saturation = run_saturation({})
        except (BenchAbort, Exception) as e:
            saturation = [{"error": str(e)[:200]}]

    # ---- Phase F: bulk — time every remaining query until deadline ----
    bulk_sec = 0.0
    if aborted is None and bulk_names and _remaining() > 60:
        spark = get_spark("ner_spark_bench_bulk", cpus=CPUS, extra_conf=_SPLIT_CONF)
        t_bulk = time.monotonic()
        bulk_failed: list[str] = []
        try:
            _warm(spark)
            t_bulk = time.monotonic()
            for name in bulk_names:
                if _remaining() < 30:
                    raise BenchAbort("bulk budget")
                t0 = time.perf_counter()
                try:
                    _noop(qdict[name](spark, SF_DIR))
                except Exception as e:  # one bad query must not end the
                    # sweep (ADVICE r4): record it, keep timing the rest
                    bulk_failed.append(name)
                    status["bulk_error"] = f"{name}: {e}"[:200]
                    continue
                bulk_timings[name] = round(time.perf_counter() - t0, 3)
            bulk_sec = time.monotonic() - t_bulk
        except BenchAbort as e:
            bulk_sec = time.monotonic() - t_bulk
            status["bulk_stopped"] = str(e)
        finally:
            spark.stop()
        if bulk_failed:
            status["bulk_failed"] = bulk_failed[:20]

    headline_total = round(sum(timings.values()), 3)
    # union coverage vs the committed round-4 driver record: with the
    # untimed-first rotation above, `union_timed == union_of` states
    # that every queries() entry has an official timing in r04 ∪ r05
    union_timed = len(
        (set(timings) | set(bulk_timings) | prev_timed) & set(qdict)
    )
    # compact stdout record: headline per-query only; bulk as a summary
    # (the full headline dict goes in whole — _compact_line elides from
    # the tail with an accurate counter if the line overruns)
    result = {
        "metric": "headline_queries_total",
        "value": headline_total,
        "unit": "sec",
        "sf": sf,
        "queries": dict(timings),
        "bulk": {
            "timed": len(bulk_timings),
            "of": len(bulk_names),
            "sec": round(bulk_sec, 1),
            "union_timed": union_timed,
            "union_of": len(qdict),
        },
        "kg": kg_block,
        "iceberg": iceberg_ok,
        "elapsed": round(time.monotonic() - _T0, 1),
        "full": Path(FULL_OUT).name,
    }
    if scaling is not None:
        result["scaling"] = {
            k: scaling[k]
            for k in (
                "n_files", "cpus_low", "cpus_high", "sec_low", "sec_high",
                "triples_per_sec_low", "triples_per_sec_high",
                "scaling_efficiency", "scaling_efficiency_min",
                "scaling_efficiency_clean",
                "pair_efficiencies", "pairs_run", "pair_spreads",
                "outlier_pairs", "error",
            )
            if k in scaling
        }
    if resume is not None:
        result["resume"] = (
            {"exact_resume": resume.get("exact_resume"),
             "n_files": resume.get("n_files")}
            if "error" not in resume else {"error": resume["error"][:120]}
        )
    if aborted:
        result["aborted"] = aborted

    # full record to disk (committed): everything, including bulk
    # per-query timings, probe rep spreads, saturation
    full = dict(result)
    full["queries"] = timings
    full["bulk_queries"] = bulk_timings
    full["scaling"] = scaling
    full["resume"] = resume
    full["saturation"] = saturation
    full["status"] = status
    full["budget"] = BUDGET
    try:
        Path(FULL_OUT).write_text(json.dumps(full, indent=1))
    except OSError:
        pass

    sys.stdout.flush()
    print(_compact_line(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
