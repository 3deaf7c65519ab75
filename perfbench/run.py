"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Lines above it are for people.  The exit code is 0 only when every timed
call and every correctness check passed.

Everything the run writes (generated inputs, the Spark scratch space, span
dumps) goes under `.perfbench_cache/` in the checkout.  See NOTES.md for
the workloads, the metrics and how they relate.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
DRIVER_MEMORY = "3g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    """What a workload needs from the runner: the session, the seed and
    time budget, scratch directories and the set-up timers."""

    def __init__(self, seed: int, seconds: float):
        self.seed = seed
        self.seconds = seconds
        self.cache = CACHE
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup: dict[str, float] = {}
        self.run_dir = os.path.join(CACHE, "runs", f"{os.getpid()}")

    def workdir(self, name: str) -> str:
        path = os.path.join(self.run_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    @contextlib.contextmanager
    def setup_timer(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[name] = self.setup.get(name, 0.0) + time.perf_counter() - t0

    def start_session(self) -> None:
        with self.setup_timer("session.start_s"):
            self.spark = start_spark(self.cpus, self.run_dir)
        from era_parser_spark.shipping import ensure_package_shipped

        with self.setup_timer("shipping.ship_s"):
            ensure_package_shipped(self.spark)

        def identity(batches):  # nested: pickled by value, not by module
            yield from batches

        with self.setup_timer("session.warmup_s"):
            spark = self.spark
            spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
            spark.range(1_000).mapInArrow(identity, "id long").count()

    def warehouse(self, params: dict) -> tuple[str, dict]:
        """The beacon warehouse: `params`' era corpus ingested by
        run_incremental in a separate process.  Cached, keyed by the corpus
        parameters and a hash of the engine's sources, so two engine
        versions never share one."""
        import gen

        corpus = gen.era_corpus(self.cache, **params)
        h = hashlib.sha256(json.dumps(params, sort_keys=True).encode())
        pkg = os.path.join(ROOT, "era_parser_spark")
        for dirpath, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(full, pkg).encode())
                    with open(full, "rb") as f:
                        h.update(f.read())
        out = os.path.join(self.cache, f"warehouse_{h.hexdigest()[:16]}")
        if not os.path.exists(os.path.join(out, "done.json")):
            shutil.rmtree(out, ignore_errors=True)
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--build-warehouse",
                 os.path.join(corpus["dir"], "eras"), out],
                check=True, stdout=sys.stderr,
            )
            with open(os.path.join(out, "done.json"), "w") as f:
                json.dump(params, f)
        return os.path.join(out, "wh"), corpus


def start_spark(cpus: int, scratch: str):
    """The engine's own session factory, with every scratch path kept
    inside the run directory."""
    from era_parser_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM spark-submit starts (launcher and driver): temp files in the
    # run directory, and no hsperfdata file, which would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process under this one (JVM, Python worker daemons) has ended."""
    from pyspark import SparkContext

    from spans import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, started):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)


def build_warehouse(era_dir: str, out: str) -> None:
    from era_parser_spark.streaming.incremental import run_incremental

    import gen

    spark = start_spark(len(os.sched_getaffinity(0)), out)
    try:
        run_incremental(
            spark, era_dir, os.path.join(out, "wh"), os.path.join(out, "state"),
            network=gen.NETWORK,
        )
    finally:
        stop_spark(spark)
        for d in ("tmp", "spark-local", "spark-warehouse"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)


def run(args, spec: dict) -> int:
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS, Instrumented

    ctx = Context(args.seed, args.seconds)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    wl = WORKLOADS[args.workload](ctx)
    wl.inputs()

    sampler = RssSampler()
    sampler.start()
    failures: list[str] = []
    metrics: dict[str, float] = {}
    try:
        ctx.start_session()
        wl.warm_up()
        setup_s = sum(ctx.setup.values())
        print("set-up: " + "  ".join(f"{k}={v:.3f}" for k, v in ctx.setup.items()))
        res = wl.timed(Tracer(None))
        if args.trace:
            tracer = Tracer(ctx.spark, run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
            with Instrumented(tracer) as inst, tracer.span("run"):
                traced = wl.timed(tracer, like=res)
            tracer.harvest()
            metrics = per_layer_metrics(ctx, wl, res, traced, tracer, inst)
            dump = os.path.join(CACHE, "traces", f"{tracer.run_id}.json")
            tracer.dump(dump)
            print(tracer.tree())
            print(f"spans written to {dump}")
        peak_mb = sampler.stop()
        if not args.trace:
            e2e = wl.end_to_end(res)
            print(f"timed calls: {e2e.pop('samples')}")
            metrics = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **e2e}
        wl.check()
    except Exception as exc:  # noqa: BLE001 - a failed call is reported, not raised
        traceback.print_exc()
        failures.append(f"{type(exc).__name__}: {exc}")
        wl.attempted += 1
        metrics = {}
    finally:
        if sampler.is_alive():
            sampler.stop()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    failures += wl.failures
    for f in failures:
        print(f"FAILED {f}")
    attempted = max(wl.attempted, 1)
    print(f"attempted={attempted} failed={len(failures)} "
          f"failed_ops_ratio={len(failures) / attempted:.6g}")

    kind = "per_layer" if args.trace else "end_to_end"
    out = {}
    if metrics:
        units = {m["name"]: m["unit"] for m in spec[kind]}
        names = [m["name"] for m in spec[kind]]
        idle = [n for n in names if n not in metrics]
        if kind == "end_to_end" and idle:
            raise SystemExit(f"workload computed no value for {idle}")
        for n in names:
            v = float(metrics.get(n, 0.0))
            out[n] = {"value": v, "unit": units[n]}
            print(f"{n:42s} {v:>14.6g} {units[n]}")
        if idle:
            print(f"idle on {args.workload} (reported as 0): {', '.join(idle)}")
        extra = sorted(set(metrics) - set(names))
        if extra:
            raise SystemExit(f"metrics not in BENCHMARK.json: {extra}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": out,
    }))
    return 0 if not failures else 1


def per_layer_metrics(ctx, wl, untraced, traced, tracer, inst) -> dict[str, float]:
    root = tracer.named("run")[0]
    sp = root.spark
    m = dict(ctx.setup)
    m.update(wl.per_layer(traced, tracer, inst))
    m.update({f"spark.{k}": sp[k] for k in (
        "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "output_bytes",
    )})
    m["spark.busy_share"] = sp["executor_run_s"] / (root.wall * ctx.cpus)
    m["trace.overhead_s"] = traced["wall"] - untraced["wall"]
    print(f"traced pass {traced['wall']:.3f}s, untraced pass {untraced['wall']:.3f}s "
          f"(same work): tracing overhead {m['trace.overhead_s']:+.3f}s")
    for span in tracer.named("incremental.run_incremental"):
        kids = sum(c.wall for c in tracer.children(span))
        print(f"  run_incremental span {span.wall:.3f}s = children {kids:.3f}s "
              f"+ self {tracer.self_time(span):.3f}s")
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-warehouse", nargs=2, metavar=("ERA_DIR", "OUT"),
                   help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "era_parser_spark")):
        print(f"era_parser_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    if args.build_warehouse:
        build_warehouse(*args.build_warehouse)
        return 0
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"--workload must be one of {[w['name'] for w in spec['workloads']]}")
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    return run(args, spec)


if __name__ == "__main__":
    sys.exit(main())
