"""Layered benchmark of the readmission engine on ``local[4]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload readmit --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

One run generates the workload's inputs from ``--seed`` (no Spark
involved), builds the session the way users do (``session.get_spark``
then ``session.warm_streaming``) and runs checked passes for
``--seconds`` seconds; the first pass starts on a fresh engine, as a
batch job does. With ``--trace 0``
it reports the end-to-end metrics; with ``--trace 1`` it wraps the
engine's layers, records a Spark event log, and reports per-layer
metrics of the first measured pass. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it print every metric by name with its unit. The exit code is
0 only when every output check passed. Everything the run writes stays
under ``.perfbench/`` in the repository root; a per-run JSON artifact
with per-pass drift data (load average, driver+JVM CPU seconds, CPU
steal) is kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "predicting_hospital_readmission_using_mimic_database_spark"
CPUS = 4
WORKLOAD_NAMES = ("readmit", "text_curation", "lakehouse_cdc")

#: end-to-end metric -> unit, reported with --trace 0
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: lakehouse latencies per format and step, carried with the per-layer
#: metrics (0 on the other workloads)
CDC_METRICS = {
    f"cdc.{fmt}.{step}_s": "s"
    for fmt in ("delta", "iceberg", "hudi") for step in ("commit", "read", "drain")
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` (0 when it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over this
    machine's CPUs (0 where the kernel does not report it): the
    clearest sign that a run landed in a contended window."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def proc_peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and pass the launch-time confs (event log in traced mode)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    # the engine's own defaults: local[4] master, 256 MB small-plan gate
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SMALL_PLAN_BYTES", None)
    # -XX:-UsePerfData: the JVM would otherwise map a counters file
    # under /tmp, outside the run directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        elog = os.path.join(work, "eventlog")
        os.makedirs(elog, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + elog,
            "spark.eventLog.compress": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def emit(result: dict, units: dict) -> None:
    for name, unit in units.items():
        print(f"{name:44s} {result['metrics'][name]['value']:>14.6g} {unit}")
    print(json.dumps(result, sort_keys=True), flush=True)


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: the engine package {PACKAGE} is not importable "
              f"from {ROOT}", file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.workloads import WORKLOADS, Reference

    trace = bool(args.trace)
    tag = f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, trace)
    try:
        return _run(args, trace, work, tag, gen, WORKLOADS, Reference)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace, work, tag, gen, WORKLOADS, Reference) -> int:
    steal_at_start = steal_s()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                              shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    session.warm_streaming(spark)
    setup_s = process_age_s()
    setup_steal = steal_s() - steal_at_start
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    t = time.perf_counter()
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(inputs, args.workload, args.seed)
    gen_s = time.perf_counter() - t

    tracer = None
    span = lambda layer, name: contextlib.nullcontext()  # noqa: E731
    if trace:
        from perfbench.trace import Tracer

        sc = spark.sparkContext
        tracer = Tracer(set_group=lambda g: sc.setLocalProperty("spark.jobGroup.id", g))
        tracer.install()
        span = tracer.span

    ref = Reference(os.path.join(ROOT, ".perfbench", "reference",
                                 f"{args.workload}-s{args.seed}.json"))
    wl = WORKLOADS[args.workload](spark, inputs, manifest, args.seed, span, ref)
    t = time.perf_counter()
    prep = wl.prepare()
    prep_s = time.perf_counter() - t

    passes = []
    attempted = failed = 0
    failures: list = []
    t_run = time.perf_counter()
    i = 0
    while True:
        load = os.getloadavg()[0]
        cpu_a = sum(os.times()[:2]) + proc_cpu_s(jvm_pid)
        steal_a = steal_s()
        w0, p0 = time.time(), time.perf_counter()
        try:
            res = wl.run_pass(i)
            n_fail, info, fails = res.failed_ops, res.info, res.failures
        except Exception:
            traceback.print_exc()
            n_fail, info, fails = wl.ops_per_pass, {}, [f"pass {i} raised"]
        wall = time.perf_counter() - p0
        w1 = time.time()
        attempted += wl.ops_per_pass
        failed += n_fail
        failures += fails
        rec = {
            "pass": i, "wall_s": wall, "t0": w0, "t1": w1,
            "cpu_s": sum(os.times()[:2]) + proc_cpu_s(jvm_pid) - cpu_a,
            "steal_s": steal_s() - steal_a,
            "loadavg_1m_start": load, "loadavg_1m_end": os.getloadavg()[0],
            "failed_ops": n_fail, **info,
        }
        passes.append(rec)
        print(f"perfbench {args.workload} pass {i}: {wall:.3f} s, cpu {rec['cpu_s']:.1f} s, "
              f"steal {rec['steal_s']:.1f} s, load {load:.2f}->{rec['loadavg_1m_end']:.2f}, "
              f"failed {n_fail}",
              file=sys.stderr, flush=True)
        i += 1
        if time.perf_counter() - t_run >= args.seconds:
            break

    pass_s = statistics.median(p["wall_s"] for p in passes)
    peak_rss = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
                + proc_peak_rss_mb(jvm_pid))
    latency = wl.latency_summary() if hasattr(wl, "latency_summary") else {}
    if tracer is not None:
        tracer.uninstall()
    stop_spark(spark)

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "cpus": CPUS, "manifest": manifest["tables"],
        "prepare": prep, "gen_s": gen_s, "prepare_s": prep_s,
        "setup_s": setup_s, "setup_steal_s": setup_steal, "passes": passes, "failures": failures,
        "latency": latency, "loadavg_end": os.getloadavg(),
    }
    if trace:
        from perfbench import eventlog
        from perfbench.layers import all_units, jobs_by_span, layer_metrics

        log = eventlog.parse(os.path.join(work, "eventlog"))
        first = passes[0]
        values = layer_metrics(tracer.spans, log, first["t0"], first["t1"],
                               wl.input_rows, CPUS)
        artifact["spans"] = len(tracer.spans)
        artifact["jobs_by_span"] = jobs_by_span(tracer.spans, log, first["t0"], first["t1"])
        units = all_units()
        units.update(CDC_METRICS)
        for k in CDC_METRICS:
            values[k] = latency.get(k.split(".", 1)[1], 0.0)
    else:
        units = dict(END_TO_END)
        values = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": wl.input_rows / pass_s,
            "peak_rss_mb": peak_rss,
        }
    artifact["metrics"] = values
    artifact["error_rate"] = failed / attempted
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True, default=str)

    for msg in failures:
        print(f"perfbench CHECK FAILED: {msg}", file=sys.stderr)
    print(f"{'error_rate':44s} {failed / attempted:>14.6g} ratio ({failed}/{attempted} operations)")
    if not trace:
        for k, v in latency.items():
            print(f"{'cdc.' + k:44s} {v:>14.6g}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    emit(result, units)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Each workload in its own process (set-up time is per process)."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"perfbench: workload {name} printed no result", file=sys.stderr)
            return proc.returncode or 2
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
        code = code or proc.returncode
    print(json.dumps(merged, sort_keys=True), flush=True)
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
