"""Self-test of the benchmark at a tiny corpus size.

    python3 perfbench/selftest.py

Checks, each against a real Spark run:
  * the generator is deterministic per seed and differs across seeds;
  * every workload's output matches the oracle (correct, 0 failed ops)
    and every metric of BENCHMARK.json prints by name with its unit;
  * a traced run prints every per-layer metric;
  * an op whose output is corrupted counts in `failed` and
    failed_ops_frac;
  * without the program next to it the benchmark exits non-zero and
    prints no result.
Exits 0 when all pass.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402

TINY = ["--files", "1600", "--seconds", "0"]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload: str, *extra: str, cwd: Path = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
                        "--seed", "7", *TINY, *extra], cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_metrics(lines: list[str], listed: list[dict]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in listed}
    assert got == want, f"metrics {got} != {want}"
    table = "\n".join(lines[:-1])
    for name, unit in want.items():
        assert any(line.split()[:1] == [name] and line.split()[2:3] == [unit] for line in lines[:-1]), name
    assert "failed_ops_frac" in table
    return result


def main() -> int:
    a, b = corpus.generate(3, 300), corpus.generate(3, 300)
    assert a.equals(b), "generator is not deterministic"
    assert not a.equals(corpus.generate(4, 300)), "seed does not change the corpus"
    print("ok  generator deterministic per seed")

    for workload in ("kg_build", "kg_resume", "repo_refresh"):
        rc, lines = bench(workload, "--trace", "0")
        assert rc == 0, f"{workload}: exit {rc}"
        r = check_metrics(lines, SPEC["end_to_end"])
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 5, r
        print(f"ok  {workload}: {r['attempted']} ops match the oracle, metrics print with units")

    rc, lines = bench("kg_build", "--trace", "1")
    assert rc == 0, f"traced: exit {rc}"
    r = check_metrics(lines, SPEC["per_layer"])
    assert r["correct"], r
    print(f"ok  traced run prints {len(r['metrics'])} per-layer metrics")

    rc, lines = bench("kg_build", "--trace", "0", "--corrupt-op", "3")
    r = json.loads(lines[-1])
    assert rc == 0 and not r["correct"] and r["failed"] == 1, r
    frac = next(float(line.split()[1]) for line in lines if line.startswith("failed_ops_frac"))
    assert abs(frac - 1 / r["attempted"]) < 1e-4, frac
    print(f"ok  corrupted op counted: failed_ops_frac {frac:.3f}")

    bare = ROOT / ".bench_work" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    rc, lines = bench("kg_build", cwd=bare)
    assert rc != 0 and not any(line.startswith("{\"correct\"") for line in lines), (rc, lines)
    shutil.rmtree(bare)
    print("ok  without the program: exit", rc, "and no result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
