"""The repo benchmark: one closed-loop client against glaredb_spark.

    python3 perfbench/run.py --workload tpch_point --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run sets the engine up once, from a
cold process, runs a fixed number of whole passes of the workload (worked
out from ``--seconds`` alone, never from elapsed time), checks every result
outside the timed region, and prints a report followed by one JSON line
(the last line of stdout). ``--trace 1`` wraps each layer's entry points
and prints the per-layer metrics instead of the end-to-end ones. See
perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_point", "corpus_cdc")
# Nominal length of one pass; passes = round(--seconds / this), at least 1.
NOMINAL_PASS_S = 25.0
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail
# The sf0.1 fixture TESTDATA.md names; SPARK_GRAFT_SF_DIR overrides it.
DEFAULT_SF_DIR = os.path.expanduser("~/testdata/sf0.1")
WORK_DIR = ".perfbench_work"

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "ops/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
)


def per_layer_names() -> list[tuple[str, str]]:
    from workloads import CORPUS_OPS

    return [
        ("session.sql_s", "s"), ("session.rewrite_s", "s"),
        ("session.spark_sql_calls", "count"),
        ("catalyst.plan_s", "s"),
        ("plancache.build_s", "s"), ("plancache.hit_ratio", "ratio"),
        ("scan.files_read", "count"), ("scan.bytes_read", "B"),
        ("scan.rows_out", "count"), ("scan.time_s", "s"),
        ("exec.collect_s", "s"), ("exec.jobs", "count"),
        ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.shuffle_bytes", "B"), ("exec.spill_bytes", "B"),
        ("pyudf.bytes_sent", "B"), ("pyudf.bytes_received", "B"),
        ("pyudf.rows_received", "count"),
        *[(f"operators.{q}_s", "s") for q in CORPUS_OPS],
        ("iceberg.upsert_s", "s"),
        ("iceberg.bytes_written_per_commit", "B"),
        ("iceberg.delete_files", "count"),
        ("iceberg.files_scanned_per_read", "count"),
        ("iceberg.read_build_s", "s"), ("iceberg.read_exec_s", "s"),
        ("iceberg.purge_s", "s"), ("iceberg.data_files", "count"),
        ("iceberg.manifests", "count"), ("iceberg.metadata_bytes", "B"),
        ("lakehouse.commit_p50_s", "s"), ("lakehouse.commit_tail_s", "s"),
        ("lakehouse.read_p50_s", "s"), ("lakehouse.read_tail_s", "s"),
        ("lakehouse.bytes_stored_per_user_byte", "ratio"),
        ("jvm.gc_s", "s"), ("jvm.heap_used_mb", "MB"),
        ("trace.overhead_s", "s"), ("trace.overhead_ratio", "ratio"),
    ]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest nearest-rank
    percentile with at least TAIL_BEYOND samples beyond it. With fewer
    than 4*TAIL_BEYOND samples that percentile falls below p75 and says
    little about the tail, so p90 is reported instead and the short count
    is shown beside it."""
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_BEYOND  # 1-based rank of the tail sample
    if 4 * k < 3 * n:
        k = max(1, -(-9 * n // 10))
    return xs[k - 1], 100.0 * k / n, n - k


def pin_environment(work: str) -> dict:
    """Pin the engine configuration and keep every file the run writes
    under ``work``. Must run before pyspark starts the JVM."""
    # One core fewer than the process may use: the JVM's GC, JIT and
    # scheduler threads, the Python client and the OS then rarely preempt a
    # task thread. With every core running a task, a stage waited for any
    # task whose core the hypervisor took away, and on a shared host that
    # about tripled the run-to-run spread.
    cpus = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    # A fixed heap (-Xms = -Xmx) takes G1's heap-growth timing out of
    # the run-to-run spread; 3g is well above the ~1.7 GB the workloads use.
    driver_gb = max(1, min(3, mem_kb // 2**20 // 2))
    for sub in ("local", "tmp", "cache", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        GLAREDB_SPARK_CACHE=os.path.join(work, "cache"),
        TMPDIR=os.path.join(work, "tmp"),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
    )
    time.tzset()
    tempfile.tempdir = os.path.join(work, "tmp")
    return {
        "cpus": cpus,
        "driver_mem": f"{driver_gb}g",
        "spark_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{driver_gb}g "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    }


class Context:
    """Everything one run shares: the session, inputs, oracles, tracer."""

    def __init__(self, args, config: dict, work: str):
        self.args = args
        self.config = config
        self.work = work
        self.sf_dir = args.sf_dir
        self.sess = None
        self.spark = None
        self.inputs = None
        self.tracer = None
        self.duck = None
        self.cdc = None
        self.plans: dict[str, object] = {}
        self.plan_calls = 0
        self.plan_hits = 0

    def set_up(self) -> None:
        from glaredb_spark.session import connect

        self.sess = connect(app_name="perfbench", sf_dir=self.sf_dir,
                            **self.config["spark_conf"])
        self.spark = self.sess.spark

    def oracle(self):
        """The DuckDB oracle, opened at the first check so that neither
        its import nor its memory falls inside the measured passes."""
        if self.duck is None:
            from checks import DuckOracle
            from glaredb_spark.session import TPCH_TABLES

            self.duck = DuckOracle(self.sf_dir, TPCH_TABLES)
        return self.duck

    def compare_corpus(self, name: str, pdf) -> "str | None":
        from checks import load_expected
        from glaredb_spark.registry import ORACLES
        from tests.oracle import compare_frames

        errs = compare_frames(pdf, load_expected(name, ORACLES[name]))
        return "; ".join(errs) or None

    def note_plan(self, name: str, df) -> None:
        self.plan_calls += 1
        self.plan_hits += self.plans.get(name) is df
        self.plans[name] = df

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver JVM VmHWM, Python ru_maxrss) in MB."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        hwm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return hwm_kb / 1024, py_kb / 1024

    def close(self) -> None:
        from pyspark import SparkContext

        if self.duck is not None:
            self.duck.close()
        if self.sess is not None:
            self.sess.close()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def import_program(workload: str) -> None:
    """Import only what the workload runs: ``registry.load_all()`` also
    imports modules that need files absent from a plain checkout."""
    import importlib

    import glaredb_spark.session  # noqa: F401
    from workloads import CORPUS_MODULES

    if workload == "tpch_point":
        import glaredb_spark.tpch  # noqa: F401
    else:
        for m in CORPUS_MODULES:
            importlib.import_module(f"glaredb_spark.operators.{m}")
        import glaredb_spark.sources.iceberg_native  # noqa: F401


def measure(ctx: Context, rng: random.Random, build_pass):
    """A fixed number of whole passes; the peak memory is read right after
    them, and the checks run afterwards, in op order, so the CDC expected
    state advances as the table did."""
    tracer = ctx.tracer
    probe = None
    if tracer is not None:
        from tracing import SparkProbe

        probe = SparkProbe(ctx.spark)
        gc0 = probe.gc_seconds()
    records = []
    lake: dict[str, list] = defaultdict(list)
    by_kind: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    heap = 0.0
    steal0 = cpu_times()
    passes = max(1, round(ctx.args.seconds / NOMINAL_PASS_S))
    t_start = time.perf_counter()
    for _ in range(passes):
        for op in build_pass(ctx, rng):
            op_id = f"{len(records)}:{op.name}"
            if tracer is not None:
                if op.kind in ("read", "commit"):
                    lake[f"state_before_{op.kind}"].append(ctx.cdc.state())
                tracer.op_id = op_id
                probe.begin(op_id)
            t0 = time.perf_counter()
            result, error = None, None
            try:
                if tracer is None:
                    result = op.run()
                else:
                    with tracer.span(f"op.{op.kind}"):
                        result = op.run()
            except Exception as e:  # a failed op is counted, not fatal
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            seconds = time.perf_counter() - t0
            if tracer is not None:
                t1 = time.perf_counter()
                before = dict(tracer.counters)
                probe.end(op_id, tracer.counters)
                for k, v in tracer.counters.items():
                    by_kind[op.kind][k] += v - before.get(k, 0.0)
                heap = max(heap, probe.heap_used_mb())
                if op.kind == "commit":
                    lake["commit_bytes"].append(
                        ctx.cdc.state()["table_bytes"]
                        - lake["state_before_commit"][-1]["table_bytes"])
                tracer.overhead_s += time.perf_counter() - t1
            records.append([op, seconds, result, error])
    measure_s = time.perf_counter() - t_start
    extra = {"lake": lake, "heap_mb": heap, "by_kind": by_kind,
             "passes": passes, "measure_s": measure_s,
             "steal": cpu_steal_share(steal0), "rss_mb": ctx.peak_rss_mb()}
    t_check = time.perf_counter()
    if probe is not None:
        extra["gc_s"] = probe.gc_seconds() - gc0
    for rec in records:
        op, _, result, error = rec
        if error is None:
            try:
                error = op.check(result)
            except Exception as e:
                error = f"check {type(e).__name__}: {e}"
        rec[2] = None
        rec[3] = error
    extra["check_s"] = time.perf_counter() - t_check
    return records, extra


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def cpu_steal_share(start: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took away since ``start``; a
    high value marks a run slowed by other tenants of the machine."""
    steal, total = cpu_times()
    return (steal - start[0]) / max(1, total - start[1])


def layer_metrics(ctx: Context, records, extra) -> dict[str, float]:
    tr = ctx.tracer
    c = tr.counters
    out = {name: 0.0 for name, _ in per_layer_names()}
    statements = tr.count("session.sql")
    out["session.sql_s"] = tr.total("session.sql")
    binders = {s["name"] for s in tr.spans if s["name"].startswith("binder.")}
    out["session.rewrite_s"] = sum(
        (tr.total(name, "session.sql") for name in binders), 0.0)
    if statements:
        out["session.spark_sql_calls"] = (
            tr.count_under("spark.sql", "session.sql") / statements)
    out["catalyst.plan_s"] = tr.total("catalyst.plan")
    out["plancache.build_s"] = tr.total("plancache.build")
    if ctx.plan_calls:
        out["plancache.hit_ratio"] = ctx.plan_hits / ctx.plan_calls
    for k in ("scan.files_read", "scan.bytes_read", "scan.rows_out",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_bytes",
              "exec.spill_bytes", "pyudf.bytes_sent", "pyudf.bytes_received",
              "pyudf.rows_received"):
        out[k] = c.get(k, 0.0)
    out["scan.time_s"] = c.get("scan.time_ms", 0.0) / 1e3
    out["exec.collect_s"] = tr.total("exec.collect")
    for op, seconds, _, _ in records:
        if op.kind == "corpus":
            out[f"operators.{op.name}_s"] += seconds
    if ctx.cdc is not None:
        lake = extra["lake"]
        out["iceberg.upsert_s"] = tr.total("iceberg.upsert_iceberg_native",
                                           "op.commit")
        out["iceberg.purge_s"] = tr.total("iceberg.purge_iceberg_native")
        out["iceberg.read_build_s"] = tr.total("iceberg.read_iceberg_native",
                                               "op.read")
        reads = [s for s in tr.spans if s["name"] == "op.read"]
        out["iceberg.read_exec_s"] = tr.total("exec.collect", "op.read")
        commits = lake.get("commit_bytes", [])
        if commits:
            out["iceberg.bytes_written_per_commit"] = (
                statistics.fmean(commits))
        states = lake.get("state_before_read", [])
        for key in ("delete_files", "data_files", "manifests",
                    "metadata_bytes"):
            if states:
                out[f"iceberg.{key}"] = statistics.fmean(
                    s[key] for s in states)
        if reads:
            out["iceberg.files_scanned_per_read"] = (
                extra["by_kind"]["read"]["scan.files_read"] / len(reads))
        out.update(lakehouse_metrics(ctx, records))
    out["jvm.gc_s"] = extra.get("gc_s", 0.0)
    out["jvm.heap_used_mb"] = extra["heap_mb"]
    busy = sum(r[1] for r in records)
    out["trace.overhead_s"] = tr.overhead_s
    out["trace.overhead_ratio"] = tr.overhead_s / busy if busy else 0.0
    return out


def lakehouse_metrics(ctx: Context, records) -> dict[str, float]:
    from workloads import dir_bytes

    commits = [r[1] for r in records if r[0].kind == "commit"]
    reads = [r[1] for r in records if r[0].kind == "read"]
    return {
        "lakehouse.commit_p50_s": statistics.median(commits),
        "lakehouse.commit_tail_s": tail(commits)[0],
        "lakehouse.read_p50_s": statistics.median(reads),
        "lakehouse.read_tail_s": tail(reads)[0],
        "lakehouse.bytes_stored_per_user_byte":
            dir_bytes(ctx.cdc.root) / ctx.cdc.initial_bytes,
    }


def report(title: str, rows: list[tuple]) -> None:
    print(f"== {title}")
    for name, value, unit, note in rows:
        print(f"  {name:<40} {value:>14.6g} {unit:<6} {note}")


def run(args) -> dict:
    work = os.path.join(ROOT, WORK_DIR, f"run-{os.getpid()}")
    config = pin_environment(work)
    ctx = Context(args, config, work)
    try:
        return _run(ctx, args, config, work)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, WORK_DIR))
        except OSError:
            pass


def _run(ctx: Context, args, config: dict, work: str) -> dict:
    import pyspark

    import workloads as wl

    if not os.path.exists(os.path.join(args.sf_dir, "orders.parquet")):
        raise SystemExit(f"fixture not found: {args.sf_dir}")
    # Set-up is one cold start: process start (interpreter, imports) to the
    # session connected with its tables registered, plus the Iceberg table
    # load on corpus_cdc. Reading the benchmark's key pools is not in it.
    import_program(args.workload)
    import_s = time.perf_counter() - PROCESS_START
    ctx.set_up()
    setup_s = time.perf_counter() - PROCESS_START
    t0 = time.perf_counter()
    ctx.inputs = wl.read_inputs(args.sf_dir)
    inputs_s = time.perf_counter() - t0
    rng = random.Random(args.seed)
    load_s = 0.0
    if args.workload == "tpch_point":
        build_pass, warm_up = wl.tpch_point_pass, wl.tpch_point_warmup
    else:
        ctx.cdc = wl.CdcTable(ctx, os.path.join(work, "iceberg", "orders"))
        t0 = time.perf_counter()
        ctx.cdc.load()
        load_s = time.perf_counter() - t0
        setup_s += load_s
        build_pass, warm_up = wl.corpus_cdc_pass, wl.corpus_cdc_warmup
    t0 = time.perf_counter()
    warm_up(ctx)
    warm_s = time.perf_counter() - t0
    if args.trace:
        from tracing import Tracer

        ctx.tracer = Tracer()
        ctx.tracer.install()
    try:
        records, extra = measure(ctx, rng, build_pass)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.restore()
    jvm_mb, py_mb = extra["rss_mb"]

    lat = [r[1] for r in records]
    failed = [r for r in records if r[3] is not None]
    t_val, t_pct, t_beyond = tail(lat)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"seconds={args.seconds} sf_dir={args.sf_dir}")
    print(f"spark={pyspark.__version__} python={platform.python_version()} "
          f"master=local[{config['cpus']}] "
          f"shuffle_partitions={config['cpus']} "
          f"driver_mem={config['driver_mem']} (-Xms too) "
          + " ".join(f"{k}={v}" for k, v in config["spark_conf"].items()
                     if "showConsoleProgress" in k))
    print(f"phases: set-up={setup_s:.1f}s inputs={inputs_s:.1f}s "
          f"warm-up={warm_s:.1f}s passes={extra['passes']} "
          f"measured={extra['measure_s']:.1f}s "
          f"checks={extra['check_s']:.1f}s "
          f"cpu_steal={100 * extra['steal']:.1f}%")
    for op, _, _, err in failed:
        print(f"FAILED {op.kind}:{op.name}: {err}")
    rows = [
        ("setup_s", setup_s, "s",
         f"cold: imports {import_s:.3f} + connect "
         f"{setup_s - import_s - load_s:.3f}"
         + (f" + table load {load_s:.3f}" if load_s else "")),
        ("ops_per_s", len(lat) / sum(lat), "ops/s",
         f"{len(lat)} ops at sf_dir={os.path.basename(args.sf_dir)}"),
        ("op_p50_s", statistics.median(lat), "s", f"n={len(lat)}"),
        ("op_tail_s", t_val, "s",
         f"p{t_pct:.1f}, n={len(lat)}, {t_beyond} beyond"),
        ("failed_op_ratio", len(failed) / len(lat), "ratio",
         f"{len(failed)}/{len(lat)}"),
        ("peak_rss_mb", jvm_mb + py_mb, "MB",
         f"driver JVM VmHWM {jvm_mb:.0f} + Python maxrss {py_mb:.0f}, "
         "read before the checks"),
    ]
    by_kind: dict[str, list[float]] = defaultdict(list)
    for op, seconds, _, _ in records:
        by_kind["read" if op.kind == "read" else op.kind].append(seconds)
    for kind, xs in sorted(by_kind.items()):
        v, p, b = tail(xs)
        rows.append((f"{kind}.p50_s", statistics.median(xs), "s",
                     f"n={len(xs)}"))
        rows.append((f"{kind}.tail_s", v, "s",
                     f"p{p:.1f}, n={len(xs)}, {b} beyond"))
    if ctx.cdc is not None and args.trace == 0:
        ratio = wl.dir_bytes(ctx.cdc.root) / ctx.cdc.initial_bytes
        rows.append(("bytes_stored_per_user_byte", ratio, "ratio",
                     "table dir / live rows written once"))
    report("end to end", rows)
    by_name: dict[str, list[float]] = defaultdict(list)
    for op, seconds, _, _ in records:
        by_name[f"{op.kind}:{op.name}"].append(seconds)
    print("== median seconds per op: " + " ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in sorted(by_name.items())))
    end_to_end = {name: value for name, value, _, _ in rows}

    if args.trace:
        layers = layer_metrics(ctx, records, extra)
        units = dict(per_layer_names())
        report("per layer", [(k, v, units[k], "") for k, v in layers.items()])
        report("self time by span", [
            (k, v, "s", "") for k, v in sorted(
                ctx.tracer.self_times().items(), key=lambda kv: -kv[1])
        ])
        if args.spans:
            with open(args.spans, "w") as fh:
                for s in ctx.tracer.spans:
                    fh.write(json.dumps(s) + "\n")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {name: {"value": end_to_end[name], "unit": unit}
                   for name, unit in END_TO_END}
    return {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans as JSONL")
    args = ap.parse_args(argv)
    args.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
