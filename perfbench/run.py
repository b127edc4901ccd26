"""End-to-end benchmark of the json_schema_spark engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into ``.bench_data/inputs`` (reused by later runs with the same seed) and
every output the engine writes is checked against an oracle that does not
run through Spark. The last line on stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``failed / attempted``
is the share of passes that raised or failed their output check.

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json on
``local[4]``:

- ``docs_per_s``: input documents / wall seconds of one pass, the median
  over the timed passes;
- ``setup_s``: the median of three set-ups, each a fresh SparkSession,
  input listing, plan compilation and one checked warm-up pass; the first
  also pays process and JVM start. Input generation is not set-up.

The timed passes follow the three set-ups and ``--seconds / 2`` more of
warm-up passes, all in the last session.

``--trace 1`` instead records spans around each call the benchmark makes
into the engine and prints the per-layer metrics; a metric of a layer the
workload never calls reads 0. The traced run also times the pass on
``local[1]`` for ``scaling_eff`` = docs/s on ``local[4]`` / (4 x docs/s on
``local[1]``), the paper's N to 4N efficiency.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402
from statistics import median  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CORES = 4


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0


def checked_pass(wl, spark, tally: Tally) -> float | None:
    """One pass and its output check. Returns the pass's wall seconds, or
    None when it raised; a raise or a wrong output counts as failed."""
    from perfbench.harness import clear_caches

    tally.attempted += 1
    wall = None
    t0 = time.perf_counter()
    try:
        wl.run_pass(spark)
        wall = time.perf_counter() - t0
        ok = wl.check()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    clear_caches(spark)
    if not ok:
        tally.failed += 1
        print(f"[perfbench] {wl.name}: pass failed", file=sys.stderr)
    return wall


def passes(wl, spark, tally: Tally, budget: float, at_least: int
           ) -> list[float]:
    walls: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < at_least or time.perf_counter() - t0 < budget:
        wall = checked_pass(wl, spark, tally)
        if wall is None:
            if tally.failed > tally.attempted // 2:
                raise RuntimeError(f"{wl.name}: most passes raised")
            continue
        walls.append(wall)
    return walls


def set_up(sessions, wl, tally: Tally, cores: int) -> float:
    """Fresh session plus one checked warm-up pass; returns its seconds."""
    t0 = time.perf_counter()
    spark = sessions.start(cores)
    checked_pass(wl, spark, tally)
    return time.perf_counter() - t0


def measure(sessions, wl, seconds: float, tally: Tally) -> dict:
    spark = sessions.start(CORES)
    started = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - started
    checked_pass(wl, spark, tally)
    setups = [time.perf_counter() - PROCESS_START - prepare_s]
    setups.append(set_up(sessions, wl, tally, CORES))
    setups.append(set_up(sessions, wl, tally, CORES))
    # untimed until the JIT has compiled the hot paths
    passes(wl, sessions.spark, tally, seconds / 2, 1)
    walls = passes(wl, sessions.spark, tally, seconds, 4)
    print(f"[perfbench] {wl.name}: prepare {prepare_s:.2f}s, setups "
          f"{[round(s, 2) for s in setups]}, passes "
          f"{[round(w, 2) for w in walls]}", file=sys.stderr)
    return {"docs_per_s": wl.docs / median(walls),
            "setup_s": median(setups)}


def trace(sessions, wl, tally: Tally, spans_out: Path) -> dict:
    from perfbench.harness import Tracer

    spark = sessions.start(CORES)
    wl.prepare(spark)
    passes(wl, spark, tally, 0, 2)  # warm-up
    tracer = Tracer()
    metrics, checks = wl.layers(spark, tracer)
    tally.attempted += len(checks)
    tally.failed += checks.count(False)
    tracer.write(spans_out)
    wide = passes(wl, spark, tally, 0, 3)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - median(wide)

    spark = sessions.start(1)
    checked_pass(wl, spark, tally)  # warm-up
    narrow = passes(wl, spark, tally, 0, 2)
    metrics["scaling_eff"] = median(narrow) / (CORES * median(wide))
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "json_schema_spark").is_dir():
        print(f"[perfbench] no json_schema_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"[perfbench] unknown workload {args.workload}",
              file=sys.stderr)
        return 2

    data = ROOT / ".bench_data"
    scratch = data / f"run-{os.getpid()}"
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Python workers import the engine from the checkout; temporary files
    # of this process and its children stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))

    from perfbench.harness import Sessions
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](data / "inputs", scratch / "out",
                                  args.seed)
    sessions = Sessions(scratch)
    tally = Tally()
    try:
        if args.trace:
            values = trace(sessions, wl, tally, data / "traces" /
                           f"{args.workload}-s{args.seed}.json")
            wanted = spec["per_layer"]
        else:
            values = measure(sessions, wl, args.seconds, tally)
            wanted = spec["end_to_end"]
    finally:
        sessions.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"[perfbench] {name} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted,
                      "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
