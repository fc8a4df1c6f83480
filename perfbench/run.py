"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload dedup_chain --seed 1 --seconds 12 --trace 0

One run is one process with one closed-loop client: the next op starts
only after the last one finished. The session runs on ``local[<cores>]``
with every core of the host. After the session starts, two warm-up
passes fill the JVM's code caches and check every op's output; measured
passes follow until their summed time reaches ``--seconds``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes the
same untraced run, then stops the session, starts a second one that
writes a Spark event log, repeats the measured passes, runs the
per-layer probes, and prints the per-layer metrics. Spans and a full
report go to ``perfbench/work/out/``.

Exit status is 0 only when every op ran and every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
from pathlib import Path

import tracing
import workloads
from tracing import Tracer, median

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / "work"

#: Passes before the measured ones. The first pays class loading and
#: code generation; op times keep falling through the second.
WARMUP_PASSES = 2
#: Driver heap for every run: fixed so memory figures compare across runs.
DRIVER_MEMORY = "3g"


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, from the ``end_to_end`` or ``per_layer``
    list of BENCHMARK.json."""
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(tmp: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(tmp / "spark"),
        "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        }
    return conf


class Session:
    """One SparkSession and the passes run on it."""

    def __init__(self, wl, tracer: Tracer, conf: dict[str, str]):
        from cost_of_living_data_etl_spark.session import get_spark

        self.wl, self.tracer = wl, tracer
        with tracer.span("session.start") as self.start_span:
            self.spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.op_seconds: list[float] = []
        self.pass_spans: list[tracing.Span] = []
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, index: int, name: str, plan: bool) -> float:
        """Run one pass and return its time: the sum of its ops. Input
        generation, output checks and cache clearing between ops are
        left out."""
        ops = self.wl.pass_ops(index)
        seconds = 0.0
        with self.tracer.span(name) as pass_span:
            for op in ops:
                self.attempted += 1
                error = None
                with self.tracer.span("op", op=op) as op_span:
                    try:
                        result = self.wl.run_op(self.spark, self.tracer, op, plan,
                                                 warmup=name == "warmup")
                    except Exception as exc:  # a failed op is counted, not fatal
                        error = f"{type(exc).__name__}: {exc}"
                seconds += op_span.seconds
                self.op_seconds.append(op_span.seconds)
                if error is None:
                    try:
                        error = self.wl.check_op(op, result)
                    except Exception as exc:
                        error = f"check raised {type(exc).__name__}: {exc}"
                if error is not None:
                    self.failures.append(f"{name} {index} {op}: {error}")
                    print(f"FAILED {name} {op}: {error}", file=sys.stderr, flush=True)
                self.spark.catalog.clearCache()
        self.pass_spans.append(pass_span)
        print(f"{name} {index}: {seconds:.3f} s over {len(ops)} ops", file=sys.stderr, flush=True)
        return seconds

    def measure(self, seconds: float, first_index: int, plan: bool) -> list[float]:
        """Measured passes until their summed time reaches ``seconds``."""
        self.op_seconds = []
        self.pass_spans = []
        times: list[float] = []
        while not times or sum(times) < seconds:
            times.append(self.run_pass(first_index + len(times), "pass", plan))
        return times

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_kb = 0
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024


def stop_jvm() -> None:
    """Stop the active session and the JVM it runs in, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def span_seconds(spans, name: str) -> float:
    return sum(s.seconds for s in spans if s.name == name)


def layer_metrics(traced: Session, tracer: Tracer, probe_extra: dict, finish_extra: dict,
                  log_dir: Path, untraced: Session, untraced_passes: list[float],
                  traced_passes: list[float], peak_rss_mb: float) -> dict:
    """Per-layer metrics of the traced session: plans.* and spark.* as
    means per measured pass, probes once; session.* from the untraced
    session (its cold start, and the memory peak it reached)."""
    jobs = tracing.read_event_log(tracing.event_log_lines(log_dir))
    by_span = tracing.attribute_jobs(jobs, tracer.spans)
    n_pass = len(traced.pass_spans)
    pass_ids = {p.id for p in traced.pass_spans}
    op_ids = {s.id for s in tracer.spans if s.name == "op" and s.parent in pass_ids}
    in_ops = [s for s in tracer.spans if s.id in op_ids or s.parent in op_ids]
    probes = [s for s in tracer.spans if s.start >= traced.pass_spans[-1].end]

    def jobs_in(spans):
        return [j for s in spans for j in by_span.get(s.id, [])]

    def named(spans, name):
        return [s for s in spans if s.name == name]

    spark = tracing.spark_profile(jobs_in(in_ops), sum(traced_passes), cores())
    m = {k: v if k == "spark.work_share" else v / n_pass for k, v in spark.items()}
    m["spark.failed_tasks"] = sum(t.failed for j in jobs for st in j.stages for t in st.tasks)
    # a layer the workload does not run reads 0; the workload's probes fill in the rest
    m |= {
        "session.start_s": untraced.start_span.seconds,
        "session.peak_rss_mb": peak_rss_mb,
        "plans.build_s": span_seconds(in_ops, "plans.build") / n_pass,
        "plans.build_jobs": len(jobs_in(named(in_ops, "plans.build"))) / n_pass,
        "plans.plan_s": span_seconds(in_ops, "plans.plan") / n_pass,
        "plans.act_s": span_seconds(in_ops, "plans.act") / n_pass,
        "plans.act_jobs": len(jobs_in(named(in_ops, "plans.act"))) / n_pass,
        "sources.scan_s": span_seconds(probes, "sources.scan"),
        "sources.scan_tasks": sum(
            len(st.tasks) for j in jobs_in(named(probes, "sources.scan")) for st in j.stages
        ),
        "sources.lake_read_s": span_seconds(probes, "sources.lake_read"),
        "sources.append_s": span_seconds(probes, "sources.append"),
        "sources.bytes_written": 0,
        "sources.files_written": 0,
        "sources.stored_bytes_per_input_byte": 0.0,
        "operators.minhash_s": span_seconds(probes, "operators.minhash"),
        "operators.lsh_pairs_s": span_seconds(probes, "operators.lsh_pairs"),
        "operators.cc_s": span_seconds(probes, "operators.cc"),
        "operators.cc_jobs": len(jobs_in(named(probes, "operators.cc"))),
        "operators.setsim_s": span_seconds(probes, "operators.setsim"),
        "operators.quantizer_fit_s": span_seconds(probes, "operators.quantizer_fit"),
        "trace.overhead": median(traced_passes) / median(untraced_passes),
    }
    return m | probe_extra | finish_extra


def run(workload: str, seed: int, seconds: float, trace: bool) -> int:
    tmp = WORK / "tmp"
    out = WORK / "out"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    out.mkdir(parents=True, exist_ok=True)
    os.environ |= {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(tmp / "spark"),
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher too: no hsperfdata in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    tempfile.tempdir = str(tmp)

    wl = workloads.make(workload, WORK, seed)
    wl.prepare()
    tracer = Tracer()
    try:
        # untraced: set-up, warm-up passes with full output checks, measured passes
        s = Session(wl, tracer, spark_conf(tmp, None))
        with tracer.span("setup") as setup_span:
            wl.setup(s.spark)
        warm = sum(s.run_pass(i, "warmup", plan=False) for i in range(WARMUP_PASSES))
        setup_s = s.start_span.seconds + setup_span.seconds + warm
        passes = s.measure(seconds, WARMUP_PASSES, plan=False)
        op_times = list(s.op_seconds)
        peak_rss = s.peak_rss_mb()
        attempted, failures = s.attempted, list(s.failures)
        last = s
        if trace:
            s.spark.stop()
            log_dir = tmp / "eventlog"
            last = t = Session(wl, tracer, spark_conf(tmp, log_dir))
            traced_passes = t.measure(seconds, WARMUP_PASSES + len(passes), plan=True)
            probe_extra = wl.probes(t.spark, tracer)
            attempted += t.attempted
            failures += t.failures
        finish_extra, problems = wl.finish(last.spark)
        failures += problems
    finally:
        stop_jvm()

    p50, n_ops = tracing.percentile(op_times, 50)
    failed = len(failures)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "cores": cores(),
        "passes": passes, "op_p50_s": p50, "ops_measured": n_ops, "failures": failures,
    }
    if trace:
        metrics = layer_metrics(t, tracer, probe_extra, finish_extra, log_dir,
                                s, passes, traced_passes, peak_rss)
        report["traced_passes"] = traced_passes
        report["self_s"] = tracing.self_times(tracer.spans)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median(passes),
            "ok_ops_ratio": (attempted - failed) / attempted,
        }
    units = declared("per_layer" if trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units)}")
    report["metrics"] = metrics
    stem = f"{workload}-seed{seed}-trace{int(trace)}"
    tracer.write(out / f"{stem}.spans.json")
    (out / f"{stem}.json").write_text(json.dumps(report, indent=1))
    print(f"{n_ops} measured ops, {len(passes)} passes; report in {out / stem}.json",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.workload_names())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
