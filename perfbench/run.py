"""Layer-traced benchmark for the query, LLM-operator and TxTable ingest
paths. See README.md in this directory.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). A human-readable report goes to
stderr and, in full, to ``perfbench/.work/last-<workload>-trace<n>.json``
(the spans to ``...spans.jsonl`` beside it).
The exit code is 0 only when every output checked out.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import sys
import time
from pathlib import Path

T_START = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

# Generated-table scale: small enough that a query costs mostly its fixed
# per-query overhead and a run fits its one-minute budget (README.md).
SF = 0.02
DATA_SEED = 20240101


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all CPUs)."""
    with open("/proc/stat", encoding="utf-8") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def launch_env(work: Path, trace: bool) -> Path | None:
    """Point every scratch path of Spark, the JVM and Python's tempfile
    into ``work``; with tracing, turn on Spark's event log through launch
    conf. Must run before the JVM starts."""
    tmp, local, wh, logs = (work / d for d in ("tmp", "spark-local", "warehouse", "eventlog"))
    for d in (tmp, local, wh):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # every JVM (the spark-submit launcher too) would otherwise keep its
    # perf-counter file in /tmp, outside the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    confs = {
        "spark.sql.warehouse.dir": str(wh),
        # the last option only logs where the Java heap lies, so the
        # process sampler can tell the heap from the JVM's other memory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-Xlog:gc+heap+coops=debug:file={work / 'jvm-heap.log'}"),
    }
    if trace:
        logs.mkdir(parents=True, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(logs),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    return logs if trace else None


def ensure_inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the source tables, and the tick stream for
    ``txtable_ingest``. Tables are seed-independent so their recorded
    digests hold; the query order and the tick stream follow ``seed``."""
    import datagen

    version = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:10]
    data = WORK / "data" / f"sf{SF}-{DATA_SEED}-{version}"
    datagen.write_tables(data, SF, DATA_SEED)
    out = {"data": data}
    if workload == "txtable_ingest":
        ticks = WORK / "ticks" / f"{seed}-{version}"
        if not (ticks / "plan.json").exists():
            datagen.write_ticks(ticks, data / "documents.parquet", seed)
        out["ticks"] = ticks
    return out


def java_heap(spark, work: Path) -> tuple[int, int, int]:
    """(pid, start, end) of the driver JVM's reserved Java heap, from the
    line the JVM logs about it at launch (see ``launch_env``)."""
    import re

    lo, mb = re.search(r"Heap address: (0x[0-9a-f]+), size: (\d+) MB",
                       (work / "jvm-heap.log").read_text()).groups()
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return pid, int(lo, 16), int(lo, 16) + int(mb) * 2**20


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and its JVM, and reap every child
    process (Python workers, the PQ fit pool) before returning."""
    import procs
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    try:
        from hapiy_etl_spark.operators.similarity import _pq_fit_pool_shutdown

        _pq_fit_pool_shutdown()
    except ImportError:
        pass
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    left = procs.reap()
    if left:
        print(f"# processes still alive after reap: {left}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    if not (ROOT / "hapiy_etl_spark" / "__init__.py").exists():
        print("perfbench: the engine package hapiy_etl_spark/ is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = cpu_count()
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))

    if not cpus.isdigit() or int(cpus) > nproc:
        print(f"perfbench: SPARK_GRAFT_CPUS={cpus} exceeds the {nproc} CPUs this process may use; "
              "refusing to run", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import eventlog
    from spans import Tracer

    t_gen = time.time()
    inputs = ensure_inputs(args.workload, args.seed)
    gen_s = time.time() - t_gen

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = WORK / "runs" / run_id
    logs = launch_env(work, bool(args.trace))

    def tag(span):
        """Tag the jobs started inside ``span`` with its id (traced runs)."""
        if args.trace and ctx.spark is not None:
            ctx.spark.sparkContext.setLocalProperty(
                eventlog.SPAN_PROPERTY, None if span is None else str(span.id))

    tracer = Tracer(run_id, on_enter=tag, on_exit=tag)
    ctx = workloads.Ctx(spark=None, tracer=tracer, data=str(inputs["data"]), work=work,
                        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                        ticks=inputs.get("ticks"))
    wl = workloads.WORKLOADS[args.workload]()
    try:
        return run_workload(args, wl, ctx, logs, nproc, int(cpus), gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_workload(args, wl, ctx, logs, nproc: int, cpus: int, gen_s: float) -> int:
    import metrics
    import procs

    tracer = ctx.tracer
    load_before, steal_before = os.getloadavg(), steal_s()
    spark = None
    with procs.Sampler() as sampler:
        clock = tracer.cpu_clock = procs.CpuClock(skip_tids=(sampler.tid,))
        try:
            from hapiy_etl_spark.session import get_spark

            with tracer.span("session.start"):
                spark = get_spark(f"perfbench_{args.workload}")
            ctx.spark = spark
            sampler.java_heap = java_heap(spark, ctx.work)
            clock.jvm = sampler.java_heap[0]
            with tracer.span("setup"):
                wl.setup(ctx)
            t_first = time.time()
            # cpu=True reads the clock, and with it the compiler threads'
            # time, at both ends of the timed loop
            with tracer.span("pass", cpu=True):
                jit0 = clock.jit_s
                wl.run(ctx)
            jit_s = clock.jit_s - jit0
            with tracer.span("finish"):
                wl.finish(ctx)
            # the Java heap still reachable once the work is done, after a
            # full collection: unlike the heap's resident size, it does not
            # depend on when the collector chose to grow the heap
            sampler.sample()
            sampler.java_heap = None
            spark._jvm.java.lang.System.gc()
            live_heap_mb = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean(
            ).getHeapMemoryUsage().getUsed() / 2**20
            context = {
                "nproc": nproc,
                "spark_graft_cpus": cpus,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "load_before": load_before,
            }
        finally:
            t_stop = time.time()
            sampler.java_heap = None
            if spark is not None:
                stop_session(spark)
    context["stop_s"] = time.time() - t_stop
    context["load_after"] = os.getloadavg()
    context["cpu_steal_s"] = steal_s() - steal_before
    context["input_generation_s"] = gen_s
    setup_s = t_first - T_START - gen_s

    report = metrics.compute(wl, ctx, setup_s=setup_s, peak=sampler.peak, live_heap_mb=live_heap_mb,
                             jit_cpu_s=jit_s, eventlog_dir=logs, context=context)
    untraced = WORK / f"last-{args.workload}-trace0.json"
    if args.trace and untraced.exists():
        report["notes"]["tracing_overhead_s"] = (
            report["notes"]["pass_s"] - json.loads(untraced.read_text())["notes"]["pass_s"])
    last = WORK / f"last-{args.workload}-trace{args.trace}"
    tracer.dump(last.with_suffix(".spans.jsonl"))
    last.with_suffix(".json").write_text(json.dumps(report, indent=1))
    metrics.print_report(report, sys.stderr)

    chosen = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    out = {
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {name: {"value": report["metrics"][name], "unit": unit}
                    for name, unit in chosen.items()},
    }
    print(json.dumps(out))
    return 0 if not ctx.failures else 1


if __name__ == "__main__":
    sys.exit(main())
