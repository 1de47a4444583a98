"""Benchmark of sms_db_spark, end to end and layer by layer.

    python3 perfbench/run.py --workload import_export --seed 1 --seconds 10 --trace 0

One client thread in one driver process on local[N], N = the CPUs this
process may use, runs the workload's operations closed-loop: a pass is the
workload's operations in order (lane_mix: a seeded permutation per pass),
and whole passes repeat until `--seconds` have gone by (at least one).
Every operation's output is checked; an exception or a wrong output counts
as a failed operation.

Inputs are made from `--seed` in a separate process before this one
imports Spark (perfbench/prep.py); nothing is read or written outside
`.perfbench/` in the checkout.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
rollups of a traced run (perfbench/tracing.py) and writes its spans to
`.perfbench/<run>/spans.json`; every run writes its operation records to
`.perfbench/<run>/ops.json`. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. `correct` is false
when an operation completed with a wrong output; `failed` counts those and
the operations that raised.

End-to-end metrics:
  setup_s        import of the program, get_spark(), the lane registry and
                 one tiny job; what every CLI invocation pays
  wall_s         median time of one pass over the workload's operations
  op_p50_s       median operation latency
  driver_rss_mb  peak RSS of the driver's Python process during operations
No tail percentile: a run has 22 operations (lane_mix) or 2 (import_export),
so no percentile above the median has ten samples beyond it.
Printed as report lines, because they are not figures of every workload:
failed_share, and on import_export import_msgs_per_s (messages in the
backup / import time, completed imports only) and export_msgs_per_s.

Which layer counters (`--trace 1`) should move which end-to-end figure:
  sources.*, sinks.sqlite_sink (driver_residual_s, jobs, executor_cpu_s)
      -> import_msgs_per_s, wall_s, driver_rss_mb on import_export only
  sinks.xml_export.driver_residual_s -> export_msgs_per_s on import_export
  plans.compat_queries (catalyst_s, jobs, driver_residual_s)
      -> op_p50_s on lane_mix; import_export unchanged
  operators.* (executor_cpu_s, shuffle_write_bytes, spill_bytes)
  plans.storage_queries (wall_s, driver_residual_s, jobs)
      -> wall_s on lane_mix; import_export unchanged
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "driver_rss_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("import_export", "lane_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def _confine(work: str) -> dict[str, str]:
    """Point every temporary and spill directory at `work`; returns the
    Spark confs that do the same inside the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _setup(conf: dict[str, str]):
    t0 = time.perf_counter()
    from sms_db_spark.plans import registry
    from sms_db_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    registry()
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Outcome:
    """Operation records of a run: latency, check result and side figures."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def run(self, name: str, pass_no: int, op) -> None:
        _reset_peak_rss()
        t = time.perf_counter()
        rec = {"op": name, "pass": pass_no}
        try:
            check, info = op()
        except Exception as exc:  # the program raised: a failed operation
            rec.update(latency_s=time.perf_counter() - t, rss_mb=_peak_rss_mb(),
                       error=f"{type(exc).__name__}: {exc}"[:300])
            self.records.append(rec)
            return
        rec.update(latency_s=time.perf_counter() - t, rss_mb=_peak_rss_mb(), **info)
        self.add_checked(rec, check)

    def add_checked(self, rec: dict, check) -> None:
        try:
            problems = check()
        except Exception:  # an output the check cannot even read is wrong
            problems = [traceback.format_exc(limit=2)[-300:]]
        if problems:
            rec["wrong"] = "; ".join(problems)[:300]
        self.records.append(rec)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if "error" in r or "wrong" in r)

    @property
    def correct(self) -> bool:
        return not any("wrong" in r for r in self.records)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        lat = [r["latency_s"] for r in self.records]
        walls: dict[int, float] = {}
        for r in self.records:
            walls[r["pass"]] = walls.get(r["pass"], 0.0) + r["latency_s"]
        return {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls.values()),
            "op_p50_s": statistics.median(lat),
            "driver_rss_mb": max(r["rss_mb"] for r in self.records),
        }

    def report(self) -> list[str]:
        """Human-readable figures that are not metrics of every workload."""
        lines = []
        n = len(self.records)
        lines.append(f"failed_share {self.failed / n:.4f} ({self.failed} of {n} operations)")
        for kind, key, label in (("import", "msgs", "import_msgs_per_s"),
                                 ("export", "exported", "export_msgs_per_s")):
            done = [r for r in self.records if r["op"].startswith(kind)]
            ok = [r for r in done if key in r]
            if done:
                rate = (f"{sum(r[key] for r in ok) / sum(r['latency_s'] for r in ok):.1f} msgs/s"
                        if ok else "n/a")
                lines.append(f"{label} {rate} ({len(ok)} of {len(done)} completed)")
        for r in self.records:
            if "error" in r or "wrong" in r:
                lines.append(f"FAILED {r['op']} pass {r['pass']}: {r.get('error') or r['wrong']}")
        return lines


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "sms_db_spark", "__init__.py")):
        print(f"perfbench: no sms_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench as a package, never its modules bare
    out = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    work = os.path.join(out, "work")  # inputs and outputs of the program, removed at exit
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, out, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, out: str, work: str) -> int:
    conf = _confine(work)
    subprocess.run(
        [sys.executable, "-m", "perfbench.prep", args.workload, str(args.seed), work],
        cwd=ROOT, check=True, stdout=sys.stderr,
    )

    spark, setup_s = _setup(conf)
    try:
        from perfbench import tracing
        from perfbench.workloads import WORKLOADS

        tracer = tracing.Tracer(spark, enabled=bool(args.trace))
        workload = WORKLOADS[args.workload](spark, tracer, work)
        workload.warmup()
        tracer.start()
        rng = random.Random(args.seed)
        outcome = Outcome()
        passes, t0 = 0, time.perf_counter()
        while passes == 0 or time.perf_counter() - t0 < args.seconds:
            for name, op in workload.ops(rng):
                outcome.run(name, passes, op)
            passes += 1
        measured_s = time.perf_counter() - t0
    finally:
        _stop(spark)

    n_ops = len(outcome.records)
    with open(os.path.join(out, "ops.json"), "w") as fh:
        json.dump(outcome.records, fh, indent=0)
    if args.trace:
        metrics, units = tracer.rollup(passes, measured_s), tracing.units()
        tracer.write(os.path.join(out, "spans.json"))
        samples = {}
    else:
        metrics, units = outcome.end_to_end(setup_s), END_TO_END
        samples = {"setup_s": 1, "wall_s": passes, "op_p50_s": n_ops, "driver_rss_mb": n_ops}
    print(f"workload {args.workload} seed {args.seed}: {passes} pass(es), {n_ops} operations, "
          f"{measured_s:.1f} s measured")
    for name, value in metrics.items():
        n = f" (n={samples[name]})" if name in samples else ""
        print(f"  {name} {value:.6g} {units[name]}{n}")
    for line in outcome.report():
        print(f"  {line}")
    print(json.dumps({
        "correct": outcome.correct,
        "attempted": n_ops,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
