"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload jaccard_allpairs --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the program only ever sees the generated tables. After the
Spark session starts, the workload is set up ``SETUP_REPEATS`` times,
each time from scratch into a fresh directory (inputs generated,
written and loaded, indexes built, a first untimed iteration);
``setup_s`` is the median. The JVM is cold only in the first set-up.
The last set-up is kept, and the workload repeats timed iterations on
it for ``--seconds`` seconds (at least ``MIN_ITERATIONS``). ``cpu_s``
is the median CPU time of an iteration over the driver, the Spark JVM
and its Python workers, less the JVM's JIT compiler threads (see
``probe.ProcessTree.cpu``); ``run_s`` is the median wall time. On a
shared virtual machine other guests slow wall time far more than CPU
time. Every output is then checked, untimed, against the
repository's DuckDB oracle SQL. An exception, an operation slower than
``OP_TIMEOUT_S`` and an oracle mismatch each count as a failed
operation.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` prints the per-layer metrics. For two thirds of the time it
alternates plain iterations with tracing off and with Spark's event log
attached: the difference of the two medians is ``trace.overhead_s``,
and the ``spark.*`` counters are per traced plain iteration. The last
third runs traced passes that force each layer's public call on its own
under a job description (``trace.pass_s`` is their median); the layer
metrics come from these.

The line before the result holds the details: input properties, the
effective Spark conf, every metric the workload measured with its
unit, and the declared metrics of layers the workload does not call.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
MIN_ITERATIONS = 2
# rounds of one plain iteration with tracing off and one with it on
TRACE_MIN_ROUNDS = 1
OP_TIMEOUT_S = 60.0
CONF_KEYS = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.local.dir",
)
# measured by every workload; the rest of the declared metrics belong to
# the layers a workload lists in its MEASURES
COMMON = ("setup_s", "cpu_s", "run_s", "peak_rss_mb", "error_rate", "spark.", "trace.")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the smoke test")
    return p.parse_args(argv)


def host_conf(work: str) -> dict[str, str]:
    """Session sizing from the host: all visible cores, an eighth of RAM
    for the driver heap (between 1 and 4 GiB, committed at start, so
    heap growth does not slow the first iterations), spill and scratch
    space inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    heap = f"{min(4096, max(1024, mem_mb // 8))}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={work}",
        "spark.ui.showConsoleProgress": "false",
    }


def canonical(pdf):
    """Order- and dtype-insensitive digest of a result frame."""
    import pandas as pd

    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64") + 0.0  # folds -0.0 into 0.0
    df = df.sort_values(list(df.columns), ignore_index=True)
    h = hashlib.sha1(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return f"{len(df)}:{h.hexdigest()}"


class Context:
    """What a workload reports into: operation latencies, outputs for the
    oracle gate, attempted and failed operation counts."""

    def __init__(self, spark, work: str, seed: int, procs):
        self.spark, self.work, self.seed, self.procs = spark, work, seed, procs
        self.timing = False
        self.latencies: dict[str, list[float]] = {}
        self.iterations: list[float] = []
        self.cpu: list[float] = []
        self.jit: list[float] = []
        self.outputs: dict[str, list[str]] = {}
        self.attempted = self.failed = 0
        self.job_ranges: list[tuple[int, int]] = []
        self.spans = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"failed: {what}", file=sys.stderr)

    def add_latency(self, kind: str, seconds: float) -> None:
        if self.timing:
            self.latencies.setdefault(kind, []).append(seconds)

    @contextlib.contextmanager
    def op(self, kind: str):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.fail(f"{kind} raised")
            raise
        elapsed = time.perf_counter() - t0
        if elapsed > OP_TIMEOUT_S:
            self.fail(f"{kind} timed out ({elapsed:.1f} s)")
        self.add_latency(kind, elapsed)

    @contextlib.contextmanager
    def iteration(self):
        first = self.spans.last_job_id() if self.spans else None
        cpu0, jit0 = self.procs.cpu()
        t0 = time.perf_counter()
        yield
        if self.timing:
            self.iterations.append(time.perf_counter() - t0)
            cpu, jit = self.procs.cpu()
            self.cpu.append(cpu - cpu0)
            self.jit.append(jit - jit0)
            if first is not None:
                self.job_ranges.append((first, self.spans.last_job_id()))
        self.procs.sample()

    def record(self, key: str, pdf) -> None:
        self.outputs.setdefault(key, []).append(canonical(pdf))

    def expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.fail(f"{what}: got {got}, want {want}")


def attempt(ctx, what: str, fn, *args):
    """Run one unit of work as an operation of its own: an exception is
    a failure, not the end of the run."""
    ctx.attempted += 1
    try:
        return fn(*args)
    except Exception:
        traceback.print_exc()
        ctx.fail(f"{what} raised")
        return None


def timed_iteration(ctx, workload) -> float | None:
    """One timed iteration: its time, or None if it failed."""
    ctx.timing = True
    n = len(ctx.iterations)
    attempt(ctx, "iteration", workload.iterate)
    ctx.timing = False
    return ctx.iterations[n] if len(ctx.iterations) > n else None


def run_loop(ctx, workload, seconds: float) -> list[float]:
    """Timed iterations: at least MIN_ITERATIONS attempts, and no new one
    that would end past ``seconds``. Returns the iteration times."""
    start = time.perf_counter()
    times, attempts, last = [], 0, 0.0
    while attempts < MIN_ITERATIONS or time.perf_counter() - start + last <= seconds:
        t0 = time.perf_counter()
        t = timed_iteration(ctx, workload)
        times += [t] if t is not None else []
        attempts += 1
        last = time.perf_counter() - t0
    return times


def oracle_gate(ctx, workload) -> dict[str, str]:
    """Every recorded output against the oracle; an oracle key with no
    recorded output, or a run without a timed iteration, is a failure."""
    import duckdb

    if not ctx.iterations:
        ctx.attempted += 1
        ctx.fail("no timed iteration completed")
    con = duckdb.connect()
    try:
        expected = {k: canonical(v) for k, v in workload.oracle(con).items()}
    finally:
        con.close()
    verdict = {}
    for key in sorted(expected.keys() | ctx.outputs.keys()):
        digests = ctx.outputs.get(key, [])
        if key not in expected or not digests:
            ctx.attempted += 1
            ctx.fail(f"output {key}: {'no oracle' if key not in expected else 'never recorded'}")
            verdict[key] = "unchecked"
            continue
        bad = sum(d != expected[key] for d in digests)
        for _ in range(bad):
            ctx.fail(f"output {key} differs from the oracle")
        verdict[key] = f"{len(digests) - bad}/{len(digests)} match ({expected[key].split(':')[0]} rows)"
    return verdict


def median(values):
    return statistics.median(values) if values else None


def applies(workload, name: str) -> bool:
    return any(name == m or (m.endswith(".") and name.startswith(m))
               for m in COMMON + workload.MEASURES)


def trace_metrics(ctx, workload, args, work, probe) -> tuple[dict, list]:
    """The --trace 1 phases; returns the per-layer values and the traced
    pass times."""
    spark = ctx.spark
    layer: dict[str, float] = {}
    log = probe.EventLog(spark, os.path.join(work, "events"))
    spans = probe.Spans(spark)
    # plain iterations, tracing off and on in turn (the order flips each
    # round, so a session still warming up favours neither side)
    times = {False: [], True: []}
    plain_cpu = []
    start, rounds = time.perf_counter(), 0
    while rounds < TRACE_MIN_ROUNDS or time.perf_counter() - start < args.seconds * 2 / 3:
        for on in ((False, True), (True, False))[rounds % 2]:
            ctx.spans = spans if on else None
            if on:
                log.attach()
            t = timed_iteration(ctx, workload)
            if on:
                log.detach()
            times[on] += [t] if t is not None else []
            if t is not None and not on:
                plain_cpu.append(ctx.cpu[-1])
        rounds += 1
    ctx.spans = None
    log.attach()
    traced, start = [], time.perf_counter()
    while not traced or time.perf_counter() - start < args.seconds / 3:
        t0 = time.perf_counter()
        counts = attempt(ctx, "traced pass", workload.trace, spans, not traced)
        traced.append(time.perf_counter() - t0)
        layer |= counts or {}
    log.detach()
    jobs = probe.job_metrics(log.close())
    n_on = len(ctx.job_ranges)
    plain = probe.sum_jobs(jobs, lambda j, _: any(a < j <= b for a, b in ctx.job_ranges))
    if n_on:
        layer |= {f"spark.{k}": v / n_on for k, v in plain.items()}
    n_pass = len(traced)

    def per_pass(keep):
        return {k: v / n_pass for k, v in probe.sum_jobs(jobs, keep).items()}

    jaccard = per_pass(lambda _, label: label.startswith("jaccard."))
    search = per_pass(lambda _, label: label.startswith("vector_index.") and "_search" in label)
    layer |= {
        "jaccard.shuffle_mb": jaccard["shuffle_write_mb"],
        "jaccard.spill_mb": jaccard["spill_mb"],
        "similarity.non_jvm_s": search["task_s"] - search["jvm_cpu_s"],
    }
    layer |= spans.medians()
    layer["run_s"] = median(times[False])
    layer["cpu_s"] = median(plain_cpu)
    if times[False] and times[True]:
        layer["trace.overhead_s"] = median(times[True]) - median(times[False])
    layer["trace.pass_s"] = median(traced)
    return layer, traced


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and, under it, the Python
    workers) to exit: the gateway JVM ends when its stdin closes."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jaccard_mapreduce_spark", "__init__.py")):
        print(f"perfbench: no jaccard_mapreduce_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    spark = None
    try:
        from jaccard_mapreduce_spark import get_spark
        from perfbench import probe
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=host_conf(work))
        # per set-up: total, and the part before its first iteration
        phases = {"session_s": time.perf_counter() - T0, "setup_s": [], "build_s": []}
        procs = probe.ProcessTree(spark.sparkContext._gateway.proc.pid)
        ctx = Context(spark, work, args.seed, procs)
        workload = None
        for n in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fresh = WORKLOADS[args.workload](ctx, args.size, os.path.join(work, f"setup{n}"))
            fresh.setup()
            phases["build_s"].append(time.perf_counter() - t0)
            attempt(ctx, "first iteration", fresh.iterate)
            phases["setup_s"].append(time.perf_counter() - t0)
            if workload is not None:
                shutil.rmtree(workload.home)
            workload = fresh

        values: dict[str, float] = {"setup_s": median(phases["setup_s"])}
        steal0 = probe.cpu_times()
        if args.trace:
            layer, traced = trace_metrics(ctx, workload, args, work, probe)
            values |= {k: v for k, v in layer.items() if applies(workload, k)}
        else:
            values["run_s"] = median(run_loop(ctx, workload, args.seconds))
            values["cpu_s"] = median(ctx.cpu)
        procs.sample()
        steal = [b - a for a, b in zip(steal0, probe.cpu_times())]
        verdict = oracle_gate(ctx, workload)
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll() if k in CONF_KEYS}
        stop_spark(spark)
        spark = None

        values |= {f"{k}_s": median(v) for k, v in ctx.latencies.items()}
        values["peak_rss_mb"] = procs.mb()
        section = "per_layer" if args.trace else "end_to_end"
        names = [m["name"] for m in declared[section]]
        not_called = [n for n in names if not applies(workload, n)]
        for n in names:
            if n != "error_rate" and n not in not_called and values.get(n) is None:
                ctx.fail(f"metric {n} not measured")
        values["error_rate"] = ctx.failed / max(ctx.attempted, 1)
        measured = {
            k: {"value": float(v), "unit": units[k]}
            for k, v in sorted(values.items())
            if k in units and v is not None
        }
        # a layer the workload never calls spent nothing in it: it reads 0
        # (so does a metric the run failed to measure, with correct false)
        metrics = {m["name"]: measured.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                   for m in declared[section]}
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "inputs": workload.inputs,
            "conf": conf,
            "setup_phases": phases,
            "peak_rss_by_process_mb": procs.breakdown(),
            "iterations": ctx.iterations,
            "iteration_cpu_s": ctx.cpu,
            "iteration_jit_cpu_s": ctx.jit,
            "host_steal_share": steal[0] / max(steal[1], 1),
            "oracle": verdict,
            "measured": measured,
            "layers_not_called": not_called,
        }
        if args.trace:
            detail["traced_passes"] = traced
        print(json.dumps({"detail": detail}, default=float))
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
