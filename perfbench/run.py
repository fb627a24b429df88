"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one ``local[<cores>]``
session, one client thread (a closed loop: each job starts when the last
one has finished). Inputs are generated from the seed and cached under
``.perfbench-work/`` in the checkout; all Spark scratch space lives there too.

Protocol of one run:

1. Generate inputs and expectations (untimed, reported on stderr).
2. Set the session up three times (JVM launch, then two restarts inside
   the same JVM); ``setup_s`` is the median.
3. One cold pass, then ``round(--seconds / pass budget)`` warm passes (at
   least one). The pass budget is a per-workload constant, so the warm work
   is the same on every commit compared. Every job's output is
   checked after the job's timer stops.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the cold pass runs in set-up 2's session, set-up 3 turns
Spark's event log on, one pass re-warms it, and one traced warm pass runs
between two untraced ones; the last line then carries the per-layer
metrics, reduced from the spans and from the event log per job group.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
# A run must end well inside three minutes; no further warm pass starts past
# this.
DEADLINE_S = 140.0

END_TO_END_UNITS = {
    "wall_s": "s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "throughput_mb_s": "MB/s",
    "cpu_s": "s",
    "setup_s": "s",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """The benchmark's SparkSession, built through ``dampr_spark.session``
    with every scratch directory inside the work directory."""

    def __init__(self, event_log_dir: str | None = None):
        self.spark = None
        self.event_log_dir = event_log_dir

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
            # -XX:TieredStopAtLevel=1: the JIT compiles with C1 only. With
            # the default tiered JIT, C2 still compiled 4-7 CPU seconds of
            # code in every catalog pass seven passes after the cold one,
            # on the cores the work runs on, and how far it had got varied
            # from run to run (warm cpu_s spread 0.26 over five seeds).
            # With C1 alone the pass after the cold one is steady; warm
            # passes run about a fifth slower than C2's best.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
                " -XX:TieredStopAtLevel=1"
            ),
            "spark.ui.showConsoleProgress": "false",
            # SparkSession.builder keeps options across sessions, so the
            # event log is switched off explicitly, not by omission.
            "spark.eventLog.enabled": "false",
        }
        if self.event_log_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self) -> tuple[float, float]:
        """(start_s, warmup_s): ``get_spark``, then ``warm_up``."""
        from dampr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=cores(), extra_conf=self.conf())
        t1 = time.perf_counter()
        warm_up(self.spark)
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def warm_up(spark) -> None:
    """The first action, then one Python worker spawned per core."""
    spark.range(1000).count()
    par = spark.sparkContext.defaultParallelism
    # Overlap the tasks so every core gets its own worker.
    spark.sparkContext.parallelize(range(par), par).foreach(lambda _: time.sleep(0.05))


def shutdown_jvm() -> None:
    """Stop the JVM this process launched and wait for it (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Seconds the JVM has spent in garbage collection and JIT compilation."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


class Runner:
    """Runs passes of one workload and counts attempted and failed jobs."""

    def __init__(self, workload):
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.pass_no = 0

    def run_pass(self, spark, tracer=None) -> dict:
        """One pass over the workload's jobs; returns per-job seconds and
        CPU seconds (check time excluded)."""
        from perfbench import trace
        from perfbench.workloads import PassContext, release

        ctx = PassContext(spark, self.pass_no, tracer)
        pid = jvm_pid()
        jvm0 = jvm_gc_jit_s(spark)
        times, cpus = {}, {}
        for job in self.wl.jobs():
            self.attempted += 1
            cpu0 = trace.tree_cpu_s(pid)
            t0 = time.perf_counter()
            try:
                result = self.wl.run_job(ctx, job)
                elapsed = time.perf_counter() - t0
                cpus[job] = trace.tree_cpu_s(pid) - cpu0
                if not self.wl.check(job, result):
                    self.failed += 1
                    log(f"job {job} gave a wrong result (pass {self.pass_no})")
            except Exception:  # a failed job is counted, and the run goes on
                elapsed = time.perf_counter() - t0
                cpus[job] = trace.tree_cpu_s(pid) - cpu0
                self.failed += 1
                log(f"job {job} raised (pass {self.pass_no}):\n{traceback.format_exc()}")
            times[job] = elapsed
        release(spark)
        self.pass_no += 1
        wall = sum(times.values())
        gc_s, jit_s = (b - a for a, b in zip(jvm0, jvm_gc_jit_s(spark)))
        log(
            f"pass {self.pass_no - 1}: {wall:.3f} s, {sum(cpus.values()):.2f} CPU s,"
            f" JVM GC {gc_s:.2f} s, JIT {jit_s:.2f} s"
        )
        return {"times": times, "cpu": cpus, "wall": wall}

    def warm_passes(self, spark, n: int, tracer=None) -> list[dict]:
        """``n`` passes, or fewer if the run nears its time limit."""
        out = []
        while len(out) < n and (not out or time.perf_counter() - _T0 < DEADLINE_S):
            out.append(self.run_pass(spark, tracer))
        return out


def restart(live: list, event_log_dir: str | None = None) -> tuple[float, float]:
    """Stop the live session, if any, and set up a new one in its place.
    Returns the set-up's (start_s, warmup_s)."""
    if live:
        live.pop().stop()
    live.append(Session(event_log_dir))
    return live[-1].start()


def end_to_end(wl, setup, cold, warm) -> dict:
    """The end-to-end metrics. A job's sample is its median over the warm
    passes; ``job_p50_s`` and ``job_tail_s`` are taken across those. The
    cold pass is logged only: it is one pass per run, see ``per_layer``."""
    from perfbench.trace import tail_percentile

    jobs = {job: statistics.median(p["times"][job] for p in warm) for job in wl.jobs()}
    for job, t in jobs.items():
        log(f"  {job}: cold {cold['times'][job]:.3f} s, warm median {t:.3f} s")
    pct, tail = tail_percentile(list(jobs.values()))
    log("set-ups (start_s, warmup_s): " + ", ".join(f"({a:.2f}, {b:.2f})" for a, b in setup))
    log(f"job_tail_s is p{pct:g} of {len(jobs)} jobs, each its median over {len(warm)} warm passes")
    log(f"cold pass: {cold['wall']:.3f} s")
    wall = statistics.median(p["wall"] for p in warm)
    return {
        "wall_s": wall,
        "job_p50_s": statistics.median(jobs.values()),
        "job_tail_s": tail,
        "throughput_mb_s": wl.input_mb() / wall,
        "cpu_s": statistics.median(sum(p["cpu"].values()) for p in warm),
        "setup_s": statistics.median(a + b for a, b in setup),
    }


def read_table_probe(spark, wl) -> tuple[float, float]:
    """Seconds for the first and the memoised ``read_table`` call, summed
    over the workload's tables, in a session that has not read them yet."""
    from dampr_spark.sources.readers import read_table

    first = memo = 0.0
    for t in wl.tables:
        t0 = time.perf_counter()
        read_table(spark, wl.data_dir, t)
        t1 = time.perf_counter()
        read_table(spark, wl.data_dir, t)
        first += t1 - t0
        memo += time.perf_counter() - t1
    return first, memo


def per_layer(tracer, groups, traced, untraced, setup, read_probe, memory, cold) -> dict:
    from perfbench.trace import covered, self_time

    ncores = cores()
    by_pass: dict[int, dict] = {}
    for sid, span in enumerate(tracer.spans):
        if span.kind != "job":
            continue
        p = int(span.attrs["group"].split("|", 1)[0][1:])
        m = by_pass.setdefault(p, {"span": 0.0, "self": 0.0, "intervals": [], "spans": []})
        m["span"] += span.duration
        m["self"] += self_time(tracer, sid)
        log(f"  pass {p} {span.name}: span {span.duration:.3f} s, self {self_time(tracer, sid):.3f} s")
        m["spans"].append(span)
        for key in ("pinned_rdds", "pinned_mb", "analysis_s"):
            m[key] = m.get(key, 0.0) + span.attrs.get(key, 0.0)
        for child in tracer.children(sid):
            m[child.kind + "_s"] = m.get(child.kind + "_s", 0.0) + child.duration
    for g, st in groups.items():
        if not g.startswith("p"):
            continue
        p_s, _job, kind = g.split("|")
        m = by_pass.get(int(p_s[1:]))
        if m is None:
            continue
        for k, v in st.counters.items():
            m["ev_" + k] = m.get("ev_" + k, 0.0) + v
        m["jobs_" + kind] = m.get("jobs_" + kind, 0.0) + st.counters["jobs"]
        m["intervals"].extend(st.job_intervals)

    for m in by_pass.values():
        m["no_job_s"] = sum(
            s.duration - covered(m["intervals"], s.start, s.end) for s in m["spans"]
        )

    def med(key: str) -> float:
        return statistics.median(m.get(key, 0.0) for m in by_pass.values())

    out = {
        "session.start_s": statistics.median(a for a, _ in setup),
        "session.warmup_s": statistics.median(b for _, b in setup),
        "session.cold_pass_s": cold["wall"],
        "sources.read_table_first_s": read_probe[0],
        "sources.read_table_memo_s": read_probe[1],
        "plans.build_s": med("build_s"),
        "plans.build_jobs": med("jobs_build"),
        "plans.analysis_s": med("analysis_s"),
        "plans.plan_s": med("plan_s"),
        "plans.exec_s": med("exec_s"),
        "plans.exec_jobs": med("jobs_exec"),
        "operators.pinned_rdds": med("pinned_rdds"),
        "operators.pinned_mb": med("pinned_mb"),
        "api.run_s": med("run_s"),
        "api.read_s": med("read_s"),
        "api.sink_s": med("sink_s"),
        "api.jobs": statistics.median(
            m.get("jobs_run", 0.0) + m.get("jobs_read", 0.0) + m.get("jobs_sink", 0.0)
            for m in by_pass.values()
        ),
        "spark.jobs": med("ev_jobs"),
        "spark.stages": med("ev_stages"),
        "spark.tasks": med("ev_tasks"),
        "spark.scheduler_delay_s": med("ev_scheduler_delay_s"),
        "spark.no_job_s": med("no_job_s"),
        "spark.executor_run_s": med("ev_executor_run_s"),
        "spark.executor_cpu_s": med("ev_executor_cpu_s"),
        "spark.gc_s": med("ev_gc_s"),
        "spark.core_busy_frac": statistics.median(
            m.get("ev_executor_run_s", 0.0) / (m["span"] * ncores) for m in by_pass.values()
        ),
        "spark.shuffle_write_mb": med("ev_shuffle_write_mb"),
        "spark.shuffle_read_mb": med("ev_shuffle_read_mb"),
        "spark.fetch_wait_s": med("ev_fetch_wait_s"),
        "spark.spill_mb": med("ev_spill_mb"),
        "spark.result_mb": med("ev_result_mb"),
        "spark.failed_tasks": med("ev_failed_tasks"),
        "functions.python_run_s": med("ev_python_run_s"),
        "functions.python_start_s": med("ev_python_start_s"),
        "functions.python_sent_mb": med("ev_python_sent_mb"),
        "functions.python_recv_mb": med("ev_python_recv_mb"),
        "memory.jvm_peak_rss_mb": memory[0],
        "memory.driver_peak_rss_mb": memory[1],
        "trace.self_s": med("self"),
        "trace.overhead_s": statistics.median(p["wall"] for p in traced)
        - statistics.median(p["wall"] for p in untraced),
    }
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Set before anything imports tempfile or launches the JVM: Python
    # workers and the JVM inherit these, so scratch files stay in the
    # checkout and workers can import the library.
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # The JVM that spark-submit runs to build the driver's command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Fail fast, before any input is generated, when the library is absent.
    import dampr_spark.api  # noqa: F401
    import dampr_spark.session  # noqa: F401

    from perfbench import trace, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {workloads.WORKLOADS}")

    wl = workloads.make(args.workload)
    gen_s = wl.prepare(WORK, args.seed)
    log(f"{args.workload} seed {args.seed}: inputs {wl.input_mb():.2f} MB, generated in {gen_s:.2f} s")

    event_dir = None
    if args.trace:
        event_dir = os.path.join(WORK, "eventlog", f"{os.getpid()}")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
    passes = max(1, round(args.seconds / wl.pass_budget_s))
    runner = Runner(wl)
    live: list[Session] = []
    try:
        if not args.trace:
            setup = [restart(live) for _ in range(3)]
            spark = live[-1].spark
            log("set-ups done")
            cold = runner.run_pass(spark)
            warm = runner.warm_passes(spark, passes)
            metrics = end_to_end(wl, setup, cold, warm)
            units = END_TO_END_UNITS
        else:
            # Set-ups 1-2 plain, with the cold pass in set-up 2's session;
            # set-up 3 turns the event log on.
            setup = [restart(live), restart(live)]
            cold = runner.run_pass(live[-1].spark)
            setup.append(restart(live, event_dir))
            spark = live[-1].spark
            read_probe = read_table_probe(spark, wl) if wl.tables else (0.0, 0.0)
            # One pass re-warms the new session. The untraced passes just
            # before and after the traced one are its overhead's reference,
            # in the same session and at the same point of warm-up.
            runner.run_pass(spark)
            untraced = [runner.run_pass(spark)]
            tracer = trace.Tracer()
            traced = runner.warm_passes(spark, 1, tracer)
            untraced.append(runner.run_pass(spark))
            memory = (trace.vm_hwm_mb(jvm_pid()), trace.driver_maxrss_mb())
            live.pop().stop()
            # The event log is complete once its session has stopped.
            groups = trace.read_event_logs(event_dir)
            metrics = per_layer(tracer, groups, traced, untraced, setup, read_probe, memory, cold)
            units = {k: layer_unit(k) for k in metrics}
    finally:
        try:
            for s in live:
                s.stop()
        finally:
            shutdown_jvm()
            if event_dir:
                shutil.rmtree(event_dir, ignore_errors=True)

    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac"):
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
