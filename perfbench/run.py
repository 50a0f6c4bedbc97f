#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[nproc]``, one query at a time (a
closed loop with one client). Set-up is timed from the start of the process
until Spark has run a first job; the inputs are generated after it. Then the
run makes a first pass over the workload's queries in the fresh session,
checking each output outside the timed intervals, then the workload's
warm-up passes, then steady passes until ``--seconds`` have gone by since
the first of them began and the workload's minimum number of them has run.
The seed sets each pass's query order and the ``mapreduce`` input.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs with the
Spark event log on, records spans around the calls into each layer in half
of the steady passes (the other half give the tracing overhead's base), and
prints the per-layer metrics. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is a summary for people.

The benchmark reads and writes only inside the checkout it lives in, under
``.perfbench_run/``, which it removes at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DEADLINE_S = 170
DEFAULT_SECONDS = 10

# the operator modules some workload calls into; calls into other modules
# count in queries.build_s only
OPERATOR_MODULES = ["dedup", "persist", "textprep"]
PLAN_FUNCTIONS = ["map_reduce", "map_reduce_rows", "run_map_reduce"]

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.eventlog import METRICS

    units = {
        "session.get_spark_s": "s",
        "session.first_job_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "sink.exec_s": "s",
        "sink.jobs": "count",
    }
    for m in OPERATOR_MODULES:
        units[f"operators.{m}.self_s"] = "s"
        units[f"operators.{m}.calls"] = "count"
    for fn in PLAN_FUNCTIONS:
        units[f"plans.{fn}.self_s"] = "s"
    units.update(
        {
            "plans.reduce_calls": "count",
            "plans.user_fn_s": "s",
            "plans.rows_per_reduce": "rows",
            "catalyst.analysis_s": "s",
            "catalyst.optimization_s": "s",
            "catalyst.planning_s": "s",
        }
    )
    for phase in ("build", "sink"):
        for m, unit in METRICS.items():
            units[f"spark.{phase}.{m}"] = unit
    units.update(
        {
            "trace.pass_s": "s",
            "trace.overhead_ratio": "ratio",
            "trace.accounted_ratio": "ratio",
            "host.spin_s": "s",
        }
    )
    return units


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    missing = set(units) - set(values)
    if missing:
        raise ValueError(f"metrics not measured: {sorted(missing)}")
    metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in units}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spin_s() -> float:
    """A fixed single-thread loop: the host-speed probe."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return time.perf_counter() - t0


def prepare_env(work: Path) -> dict[str, str]:
    """Keep Spark's files inside the work directory and let Python workers
    import the program from the checkout, whatever the current directory."""
    for d in ("spark-local", "warehouse", "tmp", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def process_age_s() -> float:
    """Seconds since this process started, from its start time in
    ``/proc/self/stat`` (field 22, clock ticks since boot)."""
    fields = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


def start_session(extra_conf: dict, tracer=None):
    """load_all, get_spark and a first trivial job."""
    from contextlib import nullcontext

    from mapreducefw_spark.queries import load_all
    from mapreducefw_spark.session import get_spark

    span = tracer.span if tracer else (lambda name: nullcontext())
    load_all()
    with span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=extra_conf
        )
    with span("session.first_job"):
        spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM, and wait until the JVM has exited. When the
    stop fails, as it does after a signal cut a call into the JVM short,
    the JVM is still made to exit: closing its standard input ends it, and
    one that outlives the wait is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Runner:
    """Runs the workload's passes in one session and checks the outputs of
    the first pass."""

    def __init__(self, spark, queries, inputs, seed: int, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.queries = queries
        self.inputs = inputs
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        # when tracing, the last pass's outputs, for the Catalyst phase times
        self.last_results: dict[str, object] = {}
        # when tracing, each pass's map and reduce bodies add to their own
        # accumulators, so the output checks of the first pass stay out of
        # the steady passes' counts
        self.pass_counters: dict[int, object] = {}

    def _span(self, name):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def run_pass(self, pass_no: int, checker=None) -> tuple[float, dict[str, float]]:
        """Build and sink every query once, in a seeded order. With a
        ``checker``, each output is also checked right after its sink,
        outside the timed interval."""
        if self.tracer:
            from perfbench.workloads import UserFnCounters

            self.tracer.pass_no = pass_no
            self.inputs.counters = UserFnCounters.create(self.sc)
            self.pass_counters[pass_no] = self.inputs.counters
        order = self.rng.sample(self.queries, len(self.queries))
        total = 0.0
        times = {}
        for q in order:
            t0 = time.perf_counter()
            self.spark.catalog.clearCache()
            t1 = time.perf_counter()
            self.attempted += 1
            res = None
            try:
                with self._span("query"):
                    self.sc.setJobGroup(f"p{pass_no}|{q.name}|build", q.name)
                    with self._span("queries.build"):
                        res = q.build(self.spark, self.inputs)
                    self.sc.setJobGroup(f"p{pass_no}|{q.name}|sink", q.name)
                    if not isinstance(res, list):
                        with self._span("sink.exec"):
                            res.write.mode("overwrite").format("noop").save()
            except Exception:
                self.failed += 1
                res = None
                log(f"{q.name} raised in pass {pass_no}:\n{traceback.format_exc()}")
            t2 = time.perf_counter()
            times[q.name] = t2 - t1
            total += t2 - t0
            if res is not None and checker is not None:
                self._check(checker, q, res)
            if res is not None and self.tracer:
                self.last_results[q.name] = res
        return total, times

    def _check(self, checker, q, res) -> None:
        self.sc.setJobGroup(f"check|{q.name}", q.name)
        self.attempted += 1
        try:
            problem = checker.check(q, res)
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.failed += 1
            log(f"{q.name} is wrong: {problem}")


def catalyst_phases(results: dict) -> dict[str, float]:
    """Plan each DataFrame of the last pass and sum the durations of the
    tracker's analysis, optimization and planning phases."""
    sums = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for res in results.values():
        if isinstance(res, list):
            continue
        qe = res._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in sums:
            summary = phases.get(phase)
            if summary.isDefined():
                sums[phase] += summary.get().durationMs() / 1e3
    return sums


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def layer_metrics(all_spans, steady: list[int], groups: dict, counters_per_pass: list) -> dict:
    """Per steady pass means of the span, event-log (per job group) and
    accumulator totals."""
    from perfbench.eventlog import METRICS
    from perfbench.tracing import self_times

    n = len(steady)
    out: dict[str, float] = {}
    spans = [s for s in all_spans if s.pass_no in steady]
    selfs = self_times(all_spans)

    def total(name):
        return sum(s.end - s.start for s in spans if s.name == name) / n

    out["queries.build_s"] = total("queries.build")
    out["sink.exec_s"] = total("sink.exec")
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.self_s"] = 0.0
        out[f"operators.{m}.calls"] = 0.0
    for fn in PLAN_FUNCTIONS:
        out[f"plans.{fn}.self_s"] = 0.0
    for s in spans:
        parts = s.name.split(".")
        if parts[0] == "operators" and parts[1] in OPERATOR_MODULES:
            out[f"operators.{parts[1]}.self_s"] += selfs[s.id] / n
            out[f"operators.{parts[1]}.calls"] += 1 / n
        elif parts[0] == "plans" and parts[1] in PLAN_FUNCTIONS:
            out[f"plans.{parts[1]}.self_s"] += selfs[s.id] / n

    for phase in ("build", "sink"):
        acc = dict.fromkeys(METRICS, 0.0)
        for group, t in groups.items():
            parts = group.split("|")
            if len(parts) == 3 and parts[2] == phase and int(parts[0][1:]) in steady:
                for k, v in t.items():
                    acc[k] += v
        for k, v in acc.items():
            out[f"spark.{phase}.{k}"] = v / n
    out["queries.build_jobs"] = out["spark.build.jobs"]
    out["sink.jobs"] = out["spark.sink.jobs"]

    fn_s = sum(c[0] for c in counters_per_pass)
    calls = sum(c[1] for c in counters_per_pass)
    rows = sum(c[2] for c in counters_per_pass)
    out["plans.user_fn_s"] = fn_s / n
    out["plans.reduce_calls"] = calls / n
    out["plans.rows_per_reduce"] = rows / calls if calls else 0.0
    return out


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def traced_slot(i: int) -> bool:
    """Whether the ``i``-th steady pass of a traced run records spans: on,
    off, off, on, ..., so a trend across the passes weighs on both halves
    alike."""
    return i % 4 in (0, 3)


def measure(runner: Runner, seconds: int, workload, checker):
    """The first pass (with the output checks), the workload's warm-up
    passes, then steady passes until ``seconds`` have elapsed since the
    first steady pass began and at least the workload's minimum have run;
    when tracing, at least two with spans and two without. Returns each
    pass's total and per-query times, and the host probe beside every
    pass."""
    spins = [spin_s()]
    passes = [runner.run_pass(0, checker)]
    spins.append(spin_s())
    for _ in range(workload.warmup):
        passes.append(runner.run_pass(len(passes)))
        spins.append(spin_s())
    first_steady = len(passes)
    min_steady = 4 if runner.tracer else workload.min_steady
    t_steady = time.perf_counter()
    while (
        len(passes) < first_steady + min_steady or time.perf_counter() - t_steady < seconds
    ):
        if runner.tracer:
            runner.tracer.active = traced_slot(len(passes) - first_steady)
        passes.append(runner.run_pass(len(passes)))
        spins.append(spin_s())
    return passes, spins


def run(args) -> int:
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"no workload {args.workload!r}; there are {sorted(workloads.WORKLOADS)}")
        return 2

    work = REPO / ".perfbench_run" / str(os.getpid())
    work.mkdir(parents=True)
    spark = None
    try:
        extra_conf = prepare_env(work)
        trace = args.trace == 1
        tracer = None
        if trace:
            from perfbench import tracing

            tracer = tracing.Tracer()
            tracer.active = True
            tracing.install(tracer)
            extra_conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": (work / "eventlog").as_uri(),
                }
            )

        spark = start_session(extra_conf, tracer)
        setup_s = process_age_s()
        log(f"set-up: {setup_s:.3f}s from process start")

        # inputs and the host probe are not part of set-up
        from perfbench import datagen

        tables = datagen.write_tables(work / "tables")
        listing = datagen.directory_listing(args.seed)
        inputs = workloads.Inputs(
            tables, listing, workloads.write_listing(listing, work / "listing.parquet")
        )
        workload = workloads.WORKLOADS[args.workload]
        queries = workload.queries

        runner = Runner(spark, queries, inputs, args.seed, tracer)
        passes, spins = measure(runner, args.seconds, workload, workloads.Checker(inputs, REPO))
        first = passes[0][0]
        steady_nos = list(range(1 + workload.warmup, len(passes)))
        if tracer:
            tracer.active = False
            # the untraced steady passes only give the overhead's base
            untraced = [passes[n][0] for i, n in enumerate(steady_nos) if not traced_slot(i)]
            steady_nos = [n for i, n in enumerate(steady_nos) if traced_slot(i)]
        steady = [passes[n] for n in steady_nos]
        pass_times = [t for t, _ in steady]
        per_query = {
            q.name: statistics.median(times[q.name] for _, times in steady) for q in queries
        }
        log(f"passes {[round(t, 3) for t, _ in passes]}, steady {steady_nos}")

        catalyst = catalyst_phases(runner.last_results) if trace else None
        peak_rss = jvm_peak_rss_mb(spark) if trace else None
        stop_session(spark)
        spark = None

        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "n_queries": len(queries),
            "n_passes": len(passes),
            "n_steady_passes": len(steady),
            "error_rate": runner.failed / runner.attempted,
            "host.spin_s": statistics.median(spins),
            "setup_s": setup_s,
            "pass_samples_s": pass_times,
            "query_median_s": per_query,
        }
        print(json.dumps(summary), flush=True)

        if not trace:
            values = {
                "setup_s": setup_s,
                "first_pass_s": first,
                "pass_s": statistics.median(pass_times),
                "query_geomean_s": geomean(per_query.values()),
            }
            units = END_TO_END_UNITS
        else:
            from perfbench import eventlog

            values = layer_metrics(
                tracer.spans,
                steady_nos,
                eventlog.fold_dir(work / "eventlog"),
                [runner.pass_counters[n].values() for n in steady_nos],
            )
            session = {s.name: s.end - s.start for s in tracer.spans if s.pass_no == -1}
            values["session.get_spark_s"] = session["session.get_spark"]
            values["session.first_job_s"] = session["session.first_job"]
            values["session.jvm_peak_rss_mb"] = peak_rss
            for phase, v in catalyst.items():
                values[f"catalyst.{phase}_s"] = v
            traced_pass_s = statistics.median(pass_times)
            values["trace.pass_s"] = traced_pass_s
            values["trace.overhead_ratio"] = traced_pass_s / statistics.median(untraced)
            values["trace.accounted_ratio"] = (
                values["queries.build_s"] + values["sink.exec_s"]
            ) / statistics.mean(pass_times)
            values["host.spin_s"] = statistics.median(spins)
            units = per_layer_units()
        print(
            result_line(runner.failed == 0, runner.attempted, runner.failed, values, units),
            flush=True,
        )
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:
                pass  # another run is still using it


def _deadline(signum, frame):
    raise TimeoutError(f"the run did not finish within {DEADLINE_S}s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    # the steady window BENCHMARK.json's run_seconds declares
    ap.add_argument("--seconds", type=int, default=DEFAULT_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    return run(args)


if __name__ == "__main__":
    sys.path.insert(0, str(REPO))
    if not (REPO / "mapreducefw_spark" / "__init__.py").is_file() or not (
        REPO / "tools" / "check_oracle.py"
    ).is_file():
        print("perfbench: the program (mapreducefw_spark/, tools/) is not in this checkout",
              file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(main())
