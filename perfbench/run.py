"""Benchmark of the MDF Connect control plane and the ingest-beside-search
data plane, with every timed output checked.

    python3 perfbench/run.py --workload mdf_requests --seed 1 --seconds 20 --trace 0

One Python process, one client thread, closed loop, Spark ``local[n]`` with
n = min(4, nproc). ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run. Both print a report (one
``metric ...`` line per value) followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. Any failed or mismatched
operation makes ``correct`` false and the exit code 1. perfbench/README.md
lists the workloads, the metrics and where each expected output comes from.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
HEAP = "2g"  # driver JVM heap
# the percentile ladder for tails: the highest rung with >= 10 samples
# beyond it is reported
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# per_layer metrics on the result line of a --trace 1 run: every layer's
# call count, and the times and counters both workloads exercise on every
# run (the report lines above it hold every layer's seconds too)
PER_LAYER_TIMES = (
    "functions.s", "layers.s", "query.build_s", "query.action_s",
    "query.self_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.failed_tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.planning_s", "driver_share",
    "trace.overhead_ratio", "ingest.kept_ratio",
)
E2E = {  # name -> unit, printed in this order by --trace 0
    "latency_gmean_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, float | None]:
    """(value, percentile) of the highest ladder percentile with at least
    ten samples beyond it; (max, None) when there are fewer than 20."""
    n = len(values)
    for q in TAIL_LADDER:
        if n * (100 - q) / 100 >= 10:
            return percentile(values, q), q
    return max(values), None


class Op:
    __slots__ = ("kind", "name", "seconds", "ok", "items", "traced", "span")

    def __init__(self, kind, name, seconds, ok, items, traced, span):
        self.kind, self.name, self.seconds, self.ok = kind, name, seconds, ok
        self.items, self.traced, self.span = items, traced, span


class Context:
    """What a workload sees: the session, its seeded inputs, and
    :meth:`op`, which times one operation and records its outcome."""

    def __init__(self, spark, sf_dir, run_dir, seed, cores, expected,
                 seconds):
        import random

        self.spark, self.sf_dir, self.run_dir = spark, sf_dir, run_dir
        self.cores, self.expected = cores, expected
        # the run measures `seconds` of operations; checks outside the
        # timed interval do not count against it
        self.budget, self.timed_s = seconds, 0.0
        self.rng = random.Random(seed)
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.tracer = None  # set for --trace 1
        self.counters = None
        self.layer_samples: list[dict] = []  # per traced op: counters
        self.check_s = 0.0  # seconds spent checking, outside the clock
        self.pairs: list[tuple[Op, Op]] = []  # (traced, untraced) repeats
        self._flip = False

    def done(self) -> bool:
        return self.timed_s >= self.budget

    def fail(self, op: Op | None, msg: str) -> None:
        if op is not None:
            op.ok = False
        self.errors.append(msg)
        print(f"MISMATCH {msg}", file=sys.stderr, flush=True)

    def op(self, kind, name, build, action=None, items=0, check=None,
           warmup=False, repeatable=True):
        """Time ``build()`` then ``action(built)``; ``action`` returns
        ``(result, planned_df)``. ``check(result)`` runs after the clock
        stops and returns an error message or None. A ``warmup`` op is
        checked but not recorded. In a traced run a ``repeatable`` op runs
        twice back to back, traced and untraced in alternating order, which
        gives the tracing overhead; other ops run traced."""
        if self.tracer is None or warmup:
            return self._op(kind, name, build, action, items, check, warmup,
                            False)
        if not repeatable:
            return self._op(kind, name, build, action, items, check, warmup,
                            True)
        self._flip = not self._flip
        first = self._op(kind, name, build, action, items, check, warmup,
                         self._flip)
        second = self._op(kind, name, build, action, items, check, warmup,
                          not self._flip)
        traced, untraced = (first, second) if self._flip else (second, first)
        self.pairs.append((traced[1], untraced[1]))
        return traced

    def _op(self, kind, name, build, action, items, check, warmup, traced):
        tr = self.tracer if traced else None
        if tr is not None:
            tr.activate(True)
            self.counters.mark()
        result, planned, ok, span = None, None, True, None
        t0 = time.perf_counter()
        try:
            if tr is not None:
                with tr.op_span(kind, name) as span:
                    with tr.span("query.build", name):
                        built = build()
                    if action is not None:
                        with tr.span("query.action", name):
                            result, planned = action(built)
                    else:
                        result = built
            else:
                built = build()
                result, planned = (
                    action(built) if action is not None else (built, None)
                )
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            traceback.print_exc()
        seconds = time.perf_counter() - t0
        if tr is not None:
            tr.activate(False)
        op = Op(kind, name, seconds, ok, items, traced, span and span["id"])
        if not warmup:
            self.ops.append(op)
            self.timed_s += seconds
        t_check = time.perf_counter()
        if not ok:
            self.errors.append(f"{kind}:{name} raised")
        elif check is not None:
            msg = check(result)
            if msg:
                self.fail(op, f"{kind}:{name}: {msg}")
        if tr is not None:
            from perfbench.tracing import planning_seconds

            sample = self.counters.collect()
            sample["planning_s"] = (
                planning_seconds(planned) if planned is not None else 0.0
            )
            sample["op_id"] = op.span
            self.layer_samples.append(sample)
        self.check_s += time.perf_counter() - t_check
        return result if ok else None, op


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def tree_digest() -> str:
    """sha256 of the package's Python sources: names the code measured
    where there is no git HEAD."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "connect_server_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def start_spark(run_dir: str, cores: int):
    from connect_server_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": f"{run_dir}/spark-local",
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir}/tmp"
                f" -Dderby.system.home={run_dir}/derby"
                # a fixed, pre-touched heap: peak RSS then measures what
                # the run adds beyond it, not when G1 chose to grow
                f" -Xms{HEAP} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def e2e_metrics(ctx, workload, setup_s, rss_mb) -> dict[str, float]:
    # the geometric mean, not the median, is the bounded latency: a run's
    # requests are few and unlike (18 different queries), and the median
    # of such a set jumps between neighbouring queries — over ten seeds its
    # quartile spread was 0.23 against the geometric mean's 0.10
    primary = [o.seconds for o in ctx.ops if o.kind == workload.latency_kind]
    return {
        "latency_gmean_s": statistics.geometric_mean(primary),
        "throughput_per_s": workload.throughput(ctx.ops),
        "setup_s": setup_s,
        "peak_rss_mb": rss_mb,
    }


def report_lines(ctx, workload, setup_s, rss_mb, failed) -> list[tuple]:
    """(name, value, unit, note) rows under the workload's own metric
    names, including tails with their percentile and sample count."""
    rows = []
    for kind, prefix in workload.report_kinds:
        vals = [o.seconds for o in ctx.ops if o.kind == kind]
        if not vals:
            continue
        rows.append((f"{prefix}_p50_s", statistics.median(vals), "s",
                     f"n={len(vals)}"))
        rows.append((f"{prefix}_gmean_s", statistics.geometric_mean(vals),
                     "s", f"n={len(vals)}"))
        t, q = tail(vals)
        rows.append((f"{prefix}_tail_s", t, "s",
                     f"p{q:g} n={len(vals)}" if q else f"max n={len(vals)}"))
    rows.append((workload.throughput_name, workload.throughput(ctx.ops),
                 "1/s", ""))
    attempted = len(ctx.ops)
    rows.append(("error_rate", failed / attempted if attempted else 1.0,
                 "ratio", f"{failed}/{attempted}"))
    for name, (value, unit) in workload.extras().items():
        rows.append((name, value, unit, ""))
    rows.append(("peak_rss_mb", rss_mb, "MB", "VmHWM driver python + JVM"))
    rows.append(("setup_s", setup_s, "s", ""))
    return rows


def layer_metrics(ctx, workload) -> dict[str, tuple[float, str]]:
    """Per-layer metrics, per traced operation."""
    from perfbench.tracing import LAYERS

    tr = ctx.tracer
    traced = [o for o in ctx.ops if o.traced and o.span is not None]
    units = max(1, len(traced))
    self_s, calls = tr.layer_totals({o.span for o in traced})
    inclusive: dict[str, float] = {}
    for s in tr.spans:
        if s["layer"] in ("query.build", "query.action"):
            inclusive[s["layer"]] = inclusive.get(s["layer"], 0.0) + (
                s["t1"] - s["t0"]
            )
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        out[f"{layer}.calls"] = (calls.get(layer, 0) / units, "count")
        out[f"{layer}.s"] = (self_s.get(layer, 0.0) / units, "s")
    out["layers.s"] = (sum(self_s.get(x, 0.0) for x in LAYERS) / units, "s")
    out["query.build_s"] = (inclusive.get("query.build", 0.0) / units, "s")
    out["query.action_s"] = (inclusive.get("query.action", 0.0) / units, "s")
    out["query.self_s"] = (
        (self_s.get("query.build", 0.0) + self_s.get("query.action", 0.0)
         + self_s.get("op", 0.0)) / units, "s",
    )
    sums: dict[str, float] = {}
    for sample in ctx.layer_samples:
        for k, v in sample.items():
            if k != "op_id":
                sums[k] = sums.get(k, 0.0) + v
    for k, v in sorted(sums.items()):
        unit = "s" if k.endswith("_s") else (
            "bytes" if k.endswith("_bytes") else "count")
        out[f"spark.{k}"] = (v / units, unit)
    wall = sum(o.seconds for o in traced)
    out["driver_share"] = (
        1.0 - sums.get("executor_run_s", 0.0) / (wall * ctx.cores)
        if wall else 0.0, "ratio",
    )
    ratios = [t.seconds / u.seconds for t, u in ctx.pairs if t.ok and u.ok]
    out["trace.overhead_ratio"] = (
        statistics.median(ratios) if ratios else 0.0, "ratio")
    out["trace.pairs"] = (float(len(ratios)), "count")
    out["trace.units"] = (float(units), "count")
    out["ingest.kept_ratio"] = (workload.kept_ratio, "ratio")
    return out


def write_spans(ctx, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"spans": ctx.tracer.spans,
                   "spark": ctx.layer_samples}, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "connect_server_spark")):
        print("perfbench: connect_server_spark not found next to"
              f" {HERE}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" known: {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    from connect_server_spark.tables import default_sf_dir

    sf_dir = default_sf_dir()
    if os.path.basename(sf_dir.rstrip("/")) != expected["sf"]:
        print(f"perfbench: expected outputs are for {expected['sf']},"
              f" not {sf_dir}", file=sys.stderr)
        return 2

    # every run starts from the same state: a run-owned directory for
    # temp files, fixture caches and Spark scratch, removed at the end
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "fixtures", "spark-local", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_FIXTURE_CACHE_DIR"] = os.path.join(
        run_dir, "fixtures")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # Spark's Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    cores = min(MAX_CORES, os.cpu_count() or 1)
    spark = None
    try:
        import pyspark

        t_setup = time.perf_counter()
        spark = start_spark(run_dir, cores)
        session_s = time.perf_counter() - t_setup
        ctx = Context(spark, sf_dir, run_dir, args.seed, cores, expected,
                      args.seconds)
        workload = wl.WORKLOADS[args.workload](ctx)
        phases = {"session_s": session_s, **workload.setup()}
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            from perfbench.tracing import SparkCounters, Tracer

            ctx.tracer = Tracer()
            ctx.tracer.install()
            ctx.counters = SparkCounters(spark)

        # whole units (an mdf cycle, an ingest round) until the budget is
        # spent
        unit = 0
        while unit == 0 or not ctx.done():
            workload.step()
            unit += 1
        t_check = time.perf_counter()
        workload.verify()
        ctx.check_s += time.perf_counter() - t_check
        rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid)

        attempted = len(ctx.ops)
        failed = sum(not o.ok for o in ctx.ops) + sum(
            1 for e in ctx.errors if e.startswith("verify:"))
        correct = failed == 0 and not ctx.errors and attempted > 0
        print(f"run workload={args.workload} seed={args.seed}"
              f" seconds={args.seconds:g} trace={args.trace}"
              f" master=local[{cores}] spark={pyspark.__version__}"
              f" head={git_head()} tree={tree_digest()} sf_dir={sf_dir}"
              f" units={unit} timed_s={ctx.timed_s:.3f}"
              f" check_s={ctx.check_s:.3f} setup: " + " ".join(
                  f"{k}={v:.3f}" for k, v in phases.items()))
        print("ops " + " ".join(
            f"{o.kind}:{o.name}={o.seconds:.3f}{'' if o.ok else '!'}"
            f"{'t' if o.traced else ''}" for o in ctx.ops))
        for name, value, unit_s, note in report_lines(
                ctx, workload, setup_s, rss_mb, failed):
            print(f"metric {args.workload}.{name} {value:.6g} {unit_s}"
                  f" {note}".rstrip())
        for msg in ctx.errors:
            print(f"error {msg}")
        if args.trace:
            layers = layer_metrics(ctx, workload)
            for name, (value, unit_s) in layers.items():
                print(f"layer {args.workload}.{name} {value:.6g} {unit_s}")
            write_spans(ctx, os.path.join(
                ROOT, ".perfbench_out",
                f"spans-{args.workload}-{args.seed}.json"))
            from perfbench.tracing import LAYERS

            keep = {f"{x}.calls" for x in LAYERS} | set(PER_LAYER_TIMES)
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in layers.items() if k in keep}
        else:
            metrics = {
                k: {"value": v, "unit": E2E[k]}
                for k, v in e2e_metrics(ctx, workload, setup_s,
                                        rss_mb).items()
            }
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
