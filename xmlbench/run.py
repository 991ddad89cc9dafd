"""XML engine benchmark: one command for every workload.

    python3 xmlbench/run.py --workload flat_scan --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer ones (see README.md). The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Artifacts (the span
file of a traced run, the host record) go under ``xmlbench/_out``;
inputs live in ``xmlbench/_work`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("flat_scan", "nested_infer", "write_roundtrip")

E2E_UNITS = {
    "mb_per_s": "MB/s",
    "worker_rss_mb.max": "MB",
    "ok_frac": "ratio",
    "setup_s": "s",
}

LAYER_UNITS = {
    "sources.api.infer_xml_schema_s": "s",
    "sources.api.read_xml_s": "s",
    "sources.api.write_xml_s": "s",
    "sources.datasource.partitions": "count",
    "sources.datasource.rows_out": "count",
    "sources.datasource.bytes_to_jvm": "B",
    "sources.datasource.bytes_per_row": "B",
    "sources.datasource.columnar_share": "ratio",
    "sources.datasource.tier_task_s": "s",
    "xmlcore.tokenizer.plan_splits_s": "s",
    "xmlcore.tokenizer.mb_per_s": "MB/s",
    "xmlcore.tokenizer.window_share": "ratio",
    "xmlcore.infer.records_per_s": "1/s",
    "xmlcore.parser.records_per_s": "1/s",
    "xmlcore.parser.fast_flat": "bool",
    "xmlcore.casts.values_per_s": "1/s",
    "xmlcore.generator.mb_per_s": "MB/s",
    "functions.xml_functions.from_xml_s": "s",
    "functions.xml_functions.to_xml_s": "s",
    "functions.xml_functions.python_total_ms": "ms",
    "functions.xml_functions.python_init_ms": "ms",
    "functions.xml_functions.python_data_sent": "B",
    "functions.xml_functions.python_data_received": "B",
    "spark.exec.pipeline_ms": "ms",
    "spark.exec.agg_ms": "ms",
    "spark.exec.jobs_per_action": "count",
    "spark.shuffle.bytes_written": "B",
    "spark.shuffle.records_written": "count",
    "spark.shuffle.write_ms": "ms",
    "streaming.latestOffset_ms": "ms",
    "streaming.getBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.triggerExecution_ms": "ms",
    "streaming.batches": "count",
    "streaming.files_per_batch": "count",
    "bench.generator_lag_s.max": "s",
    "bench.tracing_overhead": "ratio",
}

# Spark plan totals (trace.plan_metrics keys) -> per-layer metric names
_PLAN_TO_LAYER = {
    "scan.partitions": "sources.datasource.partitions",
    "scan.rows_out": "sources.datasource.rows_out",
    "scan.bytes_to_jvm": "sources.datasource.bytes_to_jvm",
    "arrow_udf.total_ms": "functions.xml_functions.python_total_ms",
    "arrow_udf.init_ms": "functions.xml_functions.python_init_ms",
    "arrow_udf.data_sent": "functions.xml_functions.python_data_sent",
    "arrow_udf.data_received": "functions.xml_functions.python_data_received",
    "exec.pipeline_ms": "spark.exec.pipeline_ms",
    "exec.agg_ms": "spark.exec.agg_ms",
    "shuffle.bytes_written": "spark.shuffle.bytes_written",
    "shuffle.records_written": "spark.shuffle.records_written",
    "shuffle.write_ms": "spark.shuffle.write_ms",
}

# input size of the warm-up cycle, relative to the timed inputs
WARM_SCALE = 0.02

_STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                  "walCommit", "commitOffsets", "triggerExecution")


def host_record(cores: int) -> dict:
    """CPU counts, load average and the cumulative CPU tick counters
    (``steal`` is time the hypervisor ran someone else on our CPUs)."""
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {"nproc": os.cpu_count(), "sched_cpus": len(os.sched_getaffinity(0)),
            "local_cores": cores, "loadavg": [float(x) for x in load],
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7]}


def prepare_environment(work: str) -> None:
    """Host hygiene, applied before the JVM starts so Spark and its Python
    workers inherit it: workers import the program from this checkout,
    temporary files stay inside the run's work directory, and the tier
    census has a (not yet existing) directory to write to."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first takes its options here
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the census writes only while this directory exists (traced pass)
    os.environ["SPARK_XML_TIER_STATS_DIR"] = os.path.join(work, "tiers")


def start_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("xmlbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process the run
    started (the JVM, its Python workers) has exited."""
    import observe
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while observe.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def read_tier_census(tiers_dir: str) -> tuple:
    """(columnar share of rows, summed in-task tier seconds) from the
    reader's SPARK_XML_TIER_STATS_DIR tallies."""
    rows = columnar = 0
    secs = 0.0
    if os.path.isdir(tiers_dir):
        for name in os.listdir(tiers_dir):
            with open(os.path.join(tiers_dir, name)) as fh:
                for line in fh:
                    rec = json.loads(line)
                    rows += rec["rows"]
                    secs += rec["secs"]
                    if rec["tier"].startswith("columnar"):
                        columnar += rec["rows"]
    return (columnar / rows if rows else 0.0), secs


def print_actions(outcomes) -> None:
    print("# actions " + " ".join(f"{o.name}={o.wall_s:.3f}" for o in outcomes),
          flush=True)


def e2e_metrics(outcomes, setup_s: float, peak_mb: float) -> dict:
    timed = sum(o.wall_s for o in outcomes)
    nbytes = sum(o.nbytes for o in outcomes)
    ok = sum(o.ok for o in outcomes)
    return {
        "mb_per_s": nbytes / 1e6 / timed,
        "worker_rss_mb.max": peak_mb,
        "ok_frac": ok / len(outcomes),
        "setup_s": setup_s,
    }


def layer_metrics(wl, tr, stream, wall_untraced: float, wall_traced: float,
                  tiers_dir: str) -> dict:
    from pyspark.sql import types as T

    import layers

    m = {name: 0.0 for name in LAYER_UNITS}
    m["sources.api.infer_xml_schema_s"] = tr.mean_duration("sources.api.infer_xml_schema")
    m["sources.api.read_xml_s"] = tr.mean_duration("sources.api.read_xml")
    m["sources.api.write_xml_s"] = tr.mean_duration("sources.api.write_xml")
    m["functions.xml_functions.from_xml_s"] = tr.mean_duration(
        "functions.xml_functions.from_xml")
    m["functions.xml_functions.to_xml_s"] = tr.mean_duration(
        "functions.xml_functions.to_xml")
    for key, name in _PLAN_TO_LAYER.items():
        m[name] = tr.plan.get(key, 0.0)
    rows = m["sources.datasource.rows_out"]
    m["sources.datasource.bytes_per_row"] = (
        m["sources.datasource.bytes_to_jvm"] / rows if rows else 0.0)
    share, tier_s = read_tier_census(tiers_dir)
    m["sources.datasource.columnar_share"] = share
    m["sources.datasource.tier_task_s"] = tier_s
    m["spark.exec.jobs_per_action"] = tr.jobs / tr.actions if tr.actions else 0.0
    if stream is not None:
        batches = len(stream.progress)
        for phase in _STREAM_PHASES:
            vals = [p["durationMs"].get(phase, 0) for p in stream.progress]
            m[f"streaming.{phase}_ms"] = statistics.mean(vals) if vals else 0.0
        m["streaming.batches"] = float(batches)
        m["streaming.files_per_batch"] = stream.files / batches if batches else 0.0
        m["bench.generator_lag_s.max"] = stream.max_lag_s
    m["bench.tracing_overhead"] = wall_traced / wall_untraced
    schema = T._parse_datatype_string(wl.schema_ddl)
    m.update(layers.probe(wl.sample_path, schema, wl.row_tag, max_records=2000))
    return m


def run(args) -> dict:
    import observe

    import workloads

    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_environment(work)
    host = {"start": host_record(cores)}
    print("# host " + json.dumps(host["start"]), flush=True)

    from spark_xml_spark.sources import register

    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale)
    spark = None
    try:
        # set-up: inputs, a cold session, the first action
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        if args.corrupt_truth:
            wl.corrupt_truth()
        spark = start_session(work, cores)
        register(spark)
        # warm-up: the same workload on tiny inputs, so first-time costs
        # (worker imports, plan compilation) land here, not in the timing
        warm = workloads.WORKLOADS[args.workload](
            os.path.join(work, "warm"), args.seed, args.scale * WARM_SCALE)
        warm.generate()
        warm_outcomes = warm.cycle(spark, observe.Tracer(enabled=False))
        setup_s = time.perf_counter() - t0
        print(f"# setup gen={gen_s:.3f}s total={setup_s:.3f}s", flush=True)

        mem = observe.WorkerMemory()
        mem.start()
        off = observe.Tracer(enabled=False)
        outcomes = []
        t_start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            outcomes.extend(wl.cycle(spark, off))
            wall_untraced = time.perf_counter() - t0
            # a traced run times one untraced and one traced cycle
            if args.trace or time.perf_counter() - t_start >= args.seconds:
                break
        if args.trace:
            tr = observe.Tracer(enabled=True)
            tiers_dir = os.environ["SPARK_XML_TIER_STATS_DIR"]
            os.makedirs(tiers_dir)
            t0 = time.perf_counter()
            outcomes.extend(wl.cycle(spark, tr))
            wall_traced = time.perf_counter() - t0
            print_actions(outcomes)
            stream = None
            if wl.name == "flat_scan":
                # the streaming layer is measured on the flat record shape
                probe = workloads.StreamProbe(
                    work, args.seed, max(8, round(40 * args.scale)))
                stream = probe.run(spark, tr)
                outcomes.extend(stream.outcomes)
            mem.stop()
            metrics = layer_metrics(wl, tr, stream, wall_untraced, wall_traced,
                                    tiers_dir)
            units = LAYER_UNITS
            host["end"] = host_record(cores)
            tr.write(os.path.join(out_dir, f"trace-{run_id}.json"),
                     {"host": host, "metrics": metrics})
        else:
            print_actions(outcomes)
            peak_mb = mem.stop()
            metrics = e2e_metrics(outcomes, setup_s, peak_mb)
            units = E2E_UNITS
            host["end"] = host_record(cores)
        s, e = host["start"], host["end"]
        print("# host_end " + json.dumps(host["end"]) + " steal_share=%.3f" % (
            (e["steal_ticks"] - s["steal_ticks"])
            / max(1, e["cpu_ticks"] - s["cpu_ticks"])), flush=True)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    # warm-up results are checked too; they count, untimed
    failed = sum(not o.ok for o in outcomes + warm_outcomes)
    return {
        "correct": failed == 0,
        "attempted": len(outcomes) + len(warm_outcomes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the tests use a tiny one)")
    ap.add_argument("--corrupt-truth", action="store_true",
                    help="perturb one ground-truth value (negative test)")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import spark_xml_spark  # noqa: F401
    except ImportError as e:
        print(f"xmlbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
