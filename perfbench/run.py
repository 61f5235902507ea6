#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pos_analytics --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One run:

1. generates (or reuses) the seed's inputs under ``.perfbench_work/``;
2. sets up: starts the Spark session, loads the query registry or sinks,
   and runs one untimed warm pass.  ``setup_s`` counts from process start
   to the end of the warm pass, less the input generation;
3. makes the workload's untimed warm-up passes, then measures complete
   passes of the workload until ``--seconds`` have elapsed, and at least
   the workload's ``min_passes`` (closed loop, one client, ``local[nproc]``);
4. checks every output against its oracle (untimed);
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, the
   per-layer metrics with ``--trace 1``.

In a traced run (``--trace 1``) every pass is traced.  ``trace.overhead``
is the time the run spent reading the status store and collecting
counters, as a share of the rest of the pass; ``trace.pass_s`` is the
traced pass time, to set against an untraced run's ``pass_s_p50``.
``--record FILE`` appends the full run record (all samples, phase times,
host probe) as a JSON line, the input of ``perfbench/compare.py``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
ROOT = os.path.dirname(HERE)
PACKAGE = "simple_pos_kafka_pyspark_airflow_spark"

from workloads import TIERS  # noqa: E402

WORKLOADS = ("pos_analytics", "incremental_writes")

#: Metrics aggregated as a median over operations instead of a per-pass sum.
PER_OP_MEDIAN = {"spark.parallel_eff", "spark.skew"}
#: Metrics aggregated as a maximum over the pass.
PER_PASS_MAX = {"cache.peak_mb"}

#: Per-layer metrics of a traced run and their units.  Layers are named
#: after the library's modules; a workload that bypasses a layer reads 0.
PER_LAYER = {
    "session.start_s": "s", "session.registry_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.driver_s": "s", "spark.parallel_eff": "ratio",
    "spark.serial_stage_s": "s", "spark.skew": "ratio", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "B",
    "python.run_s": "s", "python.start_s": "s",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "cacheutil.materialize_calls": "count", "cacheutil.materialize_s": "s",
    "cache.peak_mb": "MiB",
    "io.write_staged_s": "s", "io.swap_s": "s", "io.bytes_written": "B",
    "io.files_written": "count", "io.write_amp": "ratio",
    "cdc.orders.batch_s": "s", "cdc.customer.batch_s": "s", "cdc.read_s": "s",
    "cdc.state_rows": "count", "cdc.state_bytes": "B", "cdc.history_rows": "count",
    **{f"corpus.{t}.{m}": u for t in TIERS for m, u in (("call_s", "s"), ("index_bytes", "B"))},
    "corpus.sink_write_s": "s", "corpus.keep_ratio": "ratio",
    "self.plans_s": "s", "self.spark_s": "s", "self.cdc_s": "s", "self.io_s": "s",
    "self.cacheutil_s": "s", "self.corpus_s": "s", "self.ann_s": "s",
    "trace.spans": "count", "trace.pass_s": "s", "trace.overhead": "ratio",
}


def host_env(work: str) -> None:
    """Pin the engine to this host's cores and keep every file the run
    writes inside the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers start outside this process: give them the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("OMP_NUM_THREADS", None)


def process_tree() -> list[int]:
    """This process and all its descendants (the JVM and its Python
    workers), from /proc."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_clock() -> tuple[float, float]:
    """(CPU seconds used so far by the process tree, CPU seconds the
    hypervisor has stolen from this host's vCPUs so far)."""
    tick = os.sysconf("SC_CLK_TCK")
    used = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            used += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return used / tick, steal / tick


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree, sampled from /proc."""

    def __init__(self, interval: float = 1.0) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / 2**20


class Ctx:
    """What an operation sees: whether it is traced, its span factory and
    the status-store reader."""

    def __init__(self, sc, tracer, reader, traced: bool, group: str) -> None:
        self.sc = sc
        self.tracer = tracer
        self.reader = reader
        self.traced = traced
        self.group = group

    def span(self, name: str, layer: str):
        if not self.traced:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, self.group)

    def jobs_so_far(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


def calibration_probe(spark) -> float:
    """A frozen scan + groupBy (as bench.py's lineitem probe), over a
    generated range so that every workload can run it: a host-noise
    reading, not a metric."""
    t0 = time.perf_counter()
    (
        spark.range(100_000, numPartitions=4)
        .selectExpr("id % 3 AS flag", "id % 2 AS status", "id * 0.5 AS qty")
        .groupBy("flag", "status")
        .agg({"qty": "sum", "*": "count"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def setup(wl, conf: dict[str, str]) -> tuple[object, dict[str, float]]:
    """Session start, registry or sink load, one warm pass; timed from
    process start."""
    from simple_pos_kafka_pyspark_airflow_spark.session import get_session

    t0 = PROCESS_START
    spark = get_session("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    wl.load(spark)
    t2 = time.perf_counter()
    wl.warm()
    t3 = time.perf_counter()
    return spark, {
        "setup_s": t3 - t0,
        "session.start_s": t1 - t0,
        "session.registry_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full run record to this JSONL file")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work")
    host_env(work)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/derby",
    }

    import gen
    import workloads
    from spans import Tracer
    from statusstore import StatusStoreReader

    gen_t0 = time.perf_counter()
    inputs = gen.generate(os.path.join(work, "inputs"), args.seed, args.workload)
    gen_s = time.perf_counter() - gen_t0
    wl = workloads.make(args.workload, inputs, work, args.seed)
    rss = RssSampler()
    rss.start()

    spark, setup_rec = setup(wl, conf)
    # input generation is cached per seed and is not part of set-up
    setup_rec["setup_s"] -= gen_s
    sc = spark.sparkContext
    import pyspark

    host = {
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "cores": len(os.sched_getaffinity(0)),
        "calib_before_s": calibration_probe(spark),
    }

    phases = {"gen_s": gen_s, "setup_s": setup_rec["setup_s"]}
    t_phase = time.perf_counter()
    for p in range(wl.warmup_passes):
        wl.before_pass(p)
        for op in wl.pass_ops(p):
            op.fn(workloads.NullCtx())
            wl.after_op()

    tracer = Tracer()
    reader = StatusStoreReader(spark) if args.trace else None
    passes: list[dict] = []
    attempted = failed = 0
    n_op = 0
    phases["warmup_s"] = time.perf_counter() - t_phase
    deadline = time.perf_counter() + args.seconds
    p = 0
    while p < wl.min_passes or time.perf_counter() < deadline:
        traced = bool(args.trace)
        wl.before_pass(p)
        ops = wl.pass_ops(p)
        first_span = len(tracer.spans)
        patches = contextlib.ExitStack()
        if traced:
            patches.enter_context(wl.trace_patches(tracer, reader))
            patches.enter_context(reader.listen())
        layer_ops: list[dict] = []
        op_walls: dict[str, float] = {}
        ok_pass = True
        trace_s = 0.0
        cpu0 = cpu_clock()
        pass_t0 = time.perf_counter()
        with patches:
            for op in ops:
                group = f"perfbench-{n_op}"
                n_op += 1
                ctx = Ctx(sc, tracer, reader, traced, group)
                tracer.current_trace = group
                sc.setJobGroup(group, op.name)
                attempted += 1
                t = time.perf_counter()
                try:
                    with ctx.span(op.name, "op"):
                        layer = op.fn(ctx)
                    wall = time.perf_counter() - t
                    op_walls[op.name] = wall
                except Exception as exc:  # count it, keep the run going
                    wall = time.perf_counter() - t
                    failed += 1
                    ok_pass = False
                    layer = {}
                    print(f"# {op.name}: FAILED ({type(exc).__name__}: {exc})", file=sys.stderr)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                if traced:
                    t = time.perf_counter()
                    layer.update(reader.read(group, wall))
                    layer.update(tracer.take_counters())
                    layer_ops.append(layer)
                    trace_s += time.perf_counter() - t
                wl.after_op()
        pass_wall = time.perf_counter() - pass_t0
        cpu1 = cpu_clock()
        if ok_pass:
            passes.append(
                {
                    "traced": traced,
                    "wall": pass_wall,
                    "cpu_s": cpu1[0] - cpu0[0],
                    "steal_s": cpu1[1] - cpu0[1],
                    "ops": op_walls,
                    "trace_s": trace_s,
                    "layers": layer_ops,
                    "self": tracer.self_times(first_span) if traced else {},
                    "spans": len(tracer.spans) - first_span,
                    "cdc_batches": [
                        int(o.name.rsplit("-", 1)[1]) for o in ops if o.name.startswith("cdc-")
                    ],
                }
            )
        p += 1

    t_phase = time.perf_counter()
    host["calib_after_s"] = calibration_probe(spark)
    checks = wl.check()
    phases["checks_s"] = time.perf_counter() - t_phase
    for name, ok, detail in checks:
        attempted += 1
        if not ok:
            failed += 1
            print(f"# check {name}: FAIL {detail}", file=sys.stderr)
    final_layers = wl.final_layers()
    peak_mb = rss.stop()
    t_phase = time.perf_counter()
    shutdown(spark)
    wl.close()
    phases["shutdown_s"] = time.perf_counter() - t_phase
    phases["run_s"] = time.perf_counter() - PROCESS_START

    untraced = [x for x in passes if not x["traced"]]
    traced_passes = [x for x in passes if x["traced"]]
    if not (traced_passes if args.trace else untraced):
        print("perfbench: no pass completed without a failure", file=sys.stderr)
        return 1
    if args.trace:
        metrics = layer_metrics(setup_rec, traced_passes, final_layers, wl)
        metrics["process.peak_rss_mb"] = (peak_mb, "MiB")
    else:
        metrics = {
            "setup_s": (setup_rec["setup_s"], "s"),
            "pass_s_p50": (statistics.median(x["wall"] for x in untraced), "s"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(f"# host {json.dumps(host)}", file=sys.stderr)
    print(
        f"# {len(passes)} passes, {n_op} operations, checks: "
        + ", ".join(f"{n}={'ok' if ok else 'FAIL'}" for n, ok, _ in checks),
        file=sys.stderr,
    )
    if args.trace:
        tracer.write(os.path.join(work, "spans", f"{args.workload}-{args.seed}.jsonl"))
    if args.record:
        with open(args.record, "a") as f:
            f.write(
                json.dumps(
                    {
                        "workload": args.workload,
                        "seed": args.seed,
                        "trace": args.trace,
                        "result": result,
                        "host": host,
                        "setup": setup_rec,
                        "phases": phases,
                        "op_walls": [x["ops"] for x in passes],
                        "peak_rss_mb": peak_mb,
                        "pass_walls": [x["wall"] for x in passes],
                        "pass_cpu": [[x["cpu_s"], x["steal_s"]] for x in passes],
                    }
                )
                + "\n"
            )
    print(json.dumps(result))
    return 0


def layer_metrics(setup_rec, traced, final_layers, wl) -> dict:
    """Per-layer metrics of a traced run: medians over the traced passes
    of each pass's per-operation sums (ratios: median over operations)."""
    out: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    for name in ("session.start_s", "session.registry_s", "session.warmup_s"):
        out[name] = setup_rec[name]
    per_pass: dict[str, list[float]] = {}
    per_op: dict[str, list[float]] = {}
    for x in traced:
        sums: dict[str, float] = {}
        for layer in x["layers"]:
            for k, v in layer.items():
                if k in PER_OP_MEDIAN:
                    if layer.get("spark.stages"):
                        per_op.setdefault(k, []).append(v)
                elif k in PER_PASS_MAX:
                    sums[k] = max(sums.get(k, 0.0), v)
                else:
                    sums[k] = sums.get(k, 0.0) + v
        for layer_name, v in x["self"].items():
            if f"self.{layer_name}_s" in out:
                sums[f"self.{layer_name}_s"] = v
        sums["trace.spans"] = float(x["spans"])
        sums["trace.pass_s"] = x["wall"]
        sums["trace.overhead"] = x["trace_s"] / (x["wall"] - x["trace_s"])
        if x["cdc_batches"]:
            sums["io.write_amp"] = wl.write_amp(sums.get("io.bytes_written", 0.0), x["cdc_batches"])
        for k, v in sums.items():
            per_pass.setdefault(k, []).append(v)
    for k, vs in per_pass.items():
        if k in out:
            out[k] = statistics.median(vs)
    for k, vs in per_op.items():
        out[k] = statistics.median(vs)
    out.update({k: v for k, v in final_layers.items() if k in PER_LAYER})
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
