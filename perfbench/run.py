"""Pipeline benchmark: drains seeded backlogs through the engine's public
entry points on a warm JVM and prints one JSON result line.

    python3 perfbench/run.py --workload catchup --seed 7 --seconds 5 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end metrics
of an untraced run; ``--trace 1`` prints the per-layer metrics of a traced
run. See perfbench/README.md for the workloads, metrics and layer map.
"""

import time

T_PROCESS = time.time()  # first statement: set-up time counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from proc import host_cpu_s, load_1m  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(4, os.cpu_count() or 1)
# the metrics are medians over the timed passes; a stream or catchup pass
# takes the whole window, and a run time of under 49 s on average is all
# the contract allows, so a run times at least two (a traced run then has
# one traced pass and one untraced)
MIN_TIMED_PASSES = 2
MIN_STAGINGS = 3  # set-up time is a median of at least this many stagings
SENTINEL_QUERIES = 4
# the sentinel's CPU still falls by 10-25% over its first runs in a JVM
SENTINEL_WARMUP = 2


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- session -------------------------------------------------------------------


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and pin the core
    count before any program call so ``main()``'s own ``get_spark()`` keeps
    the benchmark's shuffle partitions."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: the JIT settles by the second pass instead of the eighth,
        # so a short run times passes on a plateau. A fixed set of compiler
        # threads keeps their CPU readable per thread (README.md)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the run -------------------------------------------------------------------


def install_tracer(tracer) -> None:
    from pyspark.sql import DataFrameWriter

    try:  # Spark 4 classic sessions hand out this subclass
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from sqlserver_cdc_to_kafka_spark import __main__ as cli
    from sqlserver_cdc_to_kafka_spark import session as session_module
    from sqlserver_cdc_to_kafka_spark import tables
    # the package re-exports the function under the submodule's name
    feed = importlib.import_module("sqlserver_cdc_to_kafka_spark.fixtures.cdc_events")
    from sqlserver_cdc_to_kafka_spark.streaming import (
        change_feed,
        pipeline_run,
        sinks,
        snapshot_stream,
    )

    tracer.wrap(session_module, "get_spark", "get_spark")
    tracer.wrap(cli, "main", "__main__.main")
    tracer.wrap(tables, "load_table", "tables.load_table")
    tracer.wrap(feed, "cdc_events", "fixtures.cdc_events")
    tracer.wrap(snapshot_stream.SnapshotStream, "next_page", "SnapshotStream.next_page")
    tracer.wrap(change_feed.MicroBatcher, "run_once", "MicroBatcher.run_once")
    tracer.wrap(pipeline_run.PipelineRun, "run", "PipelineRun.run")
    for m in ("commit_batch", "compact", "read_committed"):
        tracer.wrap(sinks.TransactionalDirSink, m, f"TransactionalDirSink.{m}")
    tracer.wrap(DataFrameWriter, "parquet", "DataFrameWriter.parquet")
    for m in ("collect", "count", "isEmpty"):
        tracer.wrap(DataFrame, m, f"DataFrame.{m}")


def run(args) -> dict:
    from workloads import WORKLOADS

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    load_start = load_1m()
    try:
        return measure(args, WORKLOADS[args.workload], work, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, workload, work: str, load_start: float) -> dict:
    from workloads import Context

    prepare_environment(work)
    import spans
    from sqlserver_cdc_to_kafka_spark import session as session_module
    from sqlserver_cdc_to_kafka_spark.sources.cdc_datasource import ChangeFeedDataSource

    tracer = spans.Tracer()
    if args.trace:
        install_tracer(tracer)
        tracer.enabled = True
    spark = session_module.get_spark(
        "perfbench", cpus=CPUS, extra_conf=session_conf(work, bool(args.trace))
    )
    session_s = time.time() - T_PROCESS
    tracer.enabled = False
    tracer.spark_context = spark.sparkContext
    spark.dataSource.register(ChangeFeedDataSource)
    ctx = Context(spark, work, args.seed, tracer, spark.sparkContext._gateway.proc.pid)

    passes, timed, sentinels = [], [], []

    def run_pass(traced=False):
        sentinels.append(sentinel_cpu_s(spark, len(passes)))
        res = workload.run_pass(ctx, len(passes), traced)
        res.sentinel_s = sentinels[-1]
        passes.append(res)
        return res

    try:
        passes.append(workload.run_pass(ctx, 0))  # the cold pass
        for i in range(SENTINEL_WARMUP):  # the sentinel warms up too
            sentinels.append(sentinel_cpu_s(spark, -1 - i))
        for _ in range(workload.warmup_passes):
            run_pass()
        host0 = host_cpu_s()
        t_timed = time.perf_counter()
        while (
            len(timed) < MIN_TIMED_PASSES
            or time.perf_counter() - t_timed < args.seconds
        ):
            timed.append(run_pass(bool(args.trace) and len(timed) % 2 == 0))
        host1 = host_cpu_s()
        stage_samples = [p.stage_s for p in passes]
        while len(stage_samples) < MIN_STAGINGS:
            stage_samples.append(workload.stage(ctx, len(stage_samples)))
        retained_mb = sum(
            info.memSize() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        ) / 1e6
    finally:
        stop_session(spark)

    failed = [p for p in passes if p.error]
    for p in failed:
        print(f"pass {p.index} failed: {p.error}", file=sys.stderr)
    noise = {
        "workload": args.workload,
        "seed": args.seed,
        "shape": workload.shape.record(),
        "cpus": CPUS,
        "load_start": load_start,
        "steal_s": host1["steal"] - host0["steal"],
        "iowait_s": host1["iowait"] - host0["iowait"],
        "busy_cpu_s": host1["busy"] - host0["busy"],
        "timed_wall_s": sum(p.wall_s for p in timed),
        "session_s": session_s,
        "stage_s": [round(x, 4) for x in stage_samples],
        "first_pass_s": passes[0].wall_s,
        "warmup_walls_s": [round(p.wall_s, 4) for p in passes[1:len(passes) - len(timed)]],
        "timed_walls_s": [round(p.wall_s, 4) for p in timed],
        "pass_cpu_s": [round(p.cpu_s, 3) for p in passes],
        "pass_steal_s": [round(p.steal_s, 3) for p in passes],
        "pass_forks": [p.forks for p in passes],
        "sentinel_cpu_s": [round(x, 3) for x in sentinels],
        "pass_jit_s": [round(p.jit_s, 3) for p in passes],
        "timed_cpu_ms_per_krow": [round(p.cpu_ms_per_krow(), 2) for p in timed if not p.error],
    }
    print(json.dumps({"noise": noise}))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"noise-{tag}.json"), "w") as f:
        json.dump(noise, f, indent=1)

    if args.trace:
        import layers

        tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
        metrics = layers.layer_metrics(
            tracer.spans, spans.read_event_log(os.path.join(work, "events")),
            [p for p in timed if p.traced], [p for p in timed if not p.traced],
            passes[0], noise, retained_mb, len(failed) / len(passes),
        )
    else:
        metrics = end_to_end(
            session_s + statistics.median(stage_samples), timed, min(sentinels)
        )
    return {
        "correct": not failed,
        "attempted": len(passes),
        "failed": len(failed),
        "metrics": metrics,
    }


def sentinel_cpu_s(spark, i: int) -> float:
    """Host-wide CPU seconds of a fixed reference: four small aggregates
    over ``spark.range``, each a new plan, so the JVM plans, generates code
    and runs jobs much as a pass does. It calls no engine code."""
    cpu0 = host_cpu_s()["busy"]
    for k in range(SENTINEL_QUERIES):
        spark.range(20000 + k).selectExpr(f"sum((id * {i * 7 + k + 3}) % 11)").collect()
    return host_cpu_s()["busy"] - cpu0


def end_to_end(setup_s: float, timed, sentinel_s: float) -> dict:
    """``rel_cpu_per_krow`` divides the timed passes' median CPU per
    thousand rows by the least CPU the sentinel took in the run: steal and
    busy neighbours only ever slow it."""
    done = [p for p in timed if not p.error]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rel_cpu_per_krow": {
            "value": statistics.median(p.cpu_ms_per_krow() for p in done)
            / (sentinel_s * 1e3) if done else 0.0,
            "unit": "sentinel/krow",
        },
    }


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import sqlserver_cdc_to_kafka_spark  # noqa: F401
    except ImportError as e:
        print(f"error: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
