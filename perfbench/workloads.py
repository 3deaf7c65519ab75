"""The benchmark workloads: `backfill` and `beacon_queries`.

Each workload is a class with three steps, all driven from one process that
issues one call at a time into the engine:

  inputs()       seeded inputs, generated or taken from the cache; runs
                 before the session starts and counts in no metric
  warm_up()      the workload's warm-up pass; part of set-up (`setup_s`)
  timed(tracer)  the measured section; with a live tracer it records spans,
                 and `like=` repeats a previous pass's exact work
  check()        correctness checks, outside every timed section

A check that fails raises `CheckFailed`; the runner counts it against the
attempted operations.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections import Counter, defaultdict

import gen
from spans import Tracer


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every file under `path`."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for fn in files:
            full = os.path.join(dirpath, fn)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def link_into(src: str, dst_dir: str) -> None:
    """Land a cached era file in a run's era directory (same cache tree,
    so a hard link)."""
    os.link(src, os.path.join(dst_dir, os.path.basename(src)))


def time_parse_kernels(paths: list[str], network: str = gen.NETWORK) -> dict[str, float]:
    """The parse kernels timed single-process, outside Spark, over the era
    files the workload ingests: e2store record walk, snappy decompression
    and the SSZ block decode."""
    from era_parser_spark.parsing import beacon, e2store, snappy

    datas = []
    for p in paths:
        with open(p, "rb") as f:
            datas.append(f.read())

    def rate(fn, min_s: float = 0.25) -> float:
        work, t0 = 0.0, time.perf_counter()
        while True:
            work += fn()
            elapsed = time.perf_counter() - t0
            if elapsed >= min_s:
                return work / elapsed

    payloads = [
        r.payload
        for d in datas
        for r in e2store.iter_records(d)
        if r.record_type == e2store.TYPE_COMPRESSED_BLOCK
    ]
    raw_bytes = sum(len(snappy.decompress(p)) for p in payloads)
    return {
        "e2store.records_per_s": rate(
            lambda: sum(1 for d in datas for _ in e2store.iter_records(d))
        ),
        "snappy.decompress_mb_per_s": rate(
            lambda: sum(len(snappy.decompress(p)) for p in payloads) / 1e6
        ),
        "beacon.parse_blocks_per_s": rate(
            lambda: sum(1 for p in payloads if beacon.parse_block(p, network)), min_s=0.0
        ),
        "era.compressed_bytes": float(sum(len(p) for p in payloads)),
        "era.decompressed_bytes": float(raw_bytes),
    }


class Instrumented:
    """Context manager that wraps the engine's public functions with spans
    for the duration of a traced section, and restores them after."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counts: Counter = Counter()
        self.error_counter = None
        self._undo: list[tuple[object, str, object]] = []

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def __enter__(self):
        from era_parser_spark.operators import normalize
        from era_parser_spark.sinks import writers
        from era_parser_spark.sources import discovery
        from era_parser_spark.sources.era import parse_error_counter
        from era_parser_spark.state.era_state import EraStateStore
        from era_parser_spark.streaming import incremental

        tr, counts = self.tracer, self.counts
        spark = tr.spark
        self.error_counter = parse_error_counter(spark)

        orig_discover = discovery.discover_auto

        def discover_auto(*a, **kw):
            with tr.span("discovery.discover_auto"):
                found = orig_discover(*a, **kw)
            counts["discovery.files"] += len(found)
            return found

        orig_plan = EraStateStore.plan_pending

        def plan_pending(store, inventory, *a, **kw):
            # materialise inside the span so the state read + anti-join
            # lands here and not on the caller's collect()
            with tr.span("era_state.plan_pending"):
                df = orig_plan(store, inventory, *a, **kw)
                rows = df.collect()
                out = spark.createDataFrame(rows, df.schema)
            counts["era_state.pending"] += len(rows)
            return out

        orig_record = EraStateStore.record_many

        def record_many(store, rows):
            counts["era_state.record_calls"] += 1
            with tr.span("era_state.record_many"):
                return orig_record(store, rows)

        orig_retries = EraStateStore.max_retries

        def max_retries(store, *a, **kw):
            with tr.span("era_state.max_retries"):
                return orig_retries(store, *a, **kw)

        orig_read = incremental.read_era_blocks
        error_counter = self.error_counter

        def read_era_blocks(*a, **kw):
            kw.setdefault("error_counter", error_counter)
            with tr.span("era.read_era_blocks"):
                df = orig_read(*a, **kw)
            return _scan_frame(df, tr)

        orig_write = writers.write_parquet

        def write_parquet(*a, **kw):
            with tr.span("writers.write_parquet"):
                return orig_write(*a, **kw)

        self._patch(discovery, "discover_auto", discover_auto)
        self._patch(EraStateStore, "plan_pending", plan_pending)
        self._patch(EraStateStore, "record_many", record_many)
        self._patch(EraStateStore, "max_retries", max_retries)
        self._patch(incremental, "read_era_blocks", read_era_blocks)
        self._patch(writers, "write_parquet", write_parquet)
        self._builders = dict(normalize.TABLE_BUILDERS)
        for name, fn in self._builders.items():
            normalize.TABLE_BUILDERS[name] = tr.wrap(f"normalize.{name}", fn)
        return self

    def __exit__(self, *exc):
        from era_parser_spark.operators import normalize

        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        normalize.TABLE_BUILDERS.update(self._builders)
        return False


def _scan_frame(df, tracer: Tracer):
    """The era scan is lazy: it executes in the caller's staging write.
    Return the same DataFrame whose `.write...parquet/save` runs inside an
    `era.scan` span, so decode time is charged to the era source."""

    class _Writer:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, attr):
            val = getattr(self._inner, attr)
            if not callable(val):
                return val

            def call(*a, **kw):
                if attr in ("parquet", "save", "saveAsTable", "insertInto"):
                    with tracer.span("era.scan"):
                        return val(*a, **kw)
                out = val(*a, **kw)
                return _Writer(out) if out is self._inner else out

            return call

    base = type(df)

    class _ScanFrame(base):
        @property
        def write(self):
            return _Writer(base.write.fget(self))

    df.__class__ = _ScanFrame
    return df


# -- backfill ------------------------------------------------------------------


class Backfill:
    """run_incremental from empty state over a seeded era corpus, then the
    tick (one held-back era lands, run again), then no-op re-runs over the
    fully completed directory."""

    name = "backfill"
    ERAS = 6  # backfill eras 2610..2615: three deneb, three electra
    SLOTS = 256  # first slots of each era
    MISSING = 0.1  # missed-slot rate
    HELD = 1  # held-back eras, landed one per tick
    NOOPS = 5
    WARM = dict(eras=2, slots=16, missing_rate=0.1, held=0, first_era=gen.ELECTRA_ERA - 1)
    WARM_TABLES = ["withdrawals", "deposit_requests"]  # not arrow-direct: full decode

    def __init__(self, ctx):
        self.ctx = ctx
        self.failures: list[str] = []
        self.attempted = 0
        self.passes: list[dict] = []

    def inputs(self) -> None:
        ctx = self.ctx
        self.corpus = gen.era_corpus(
            ctx.cache, ctx.seed, self.ERAS, self.SLOTS, self.MISSING, self.HELD
        )
        self.warm = gen.era_corpus(ctx.cache, 0, **self.WARM)

    def warm_up(self) -> None:
        # a backfill of two tables and a no-op re-run over a tiny corpus:
        # the dict-IR decode, staging and partitioned writes, count jobs and
        # state store all run once before timing, at a fifth of the cost of
        # a full 15-table pass
        with self.ctx.setup_timer("session.warmup_s"):
            self._phases(
                self.warm, self.ctx.workdir("warm"), Tracer(None), noops=1,
                tables=self.WARM_TABLES,
            )

    def _phases(
        self, corpus: dict, work: str, tracer: Tracer, noops: int,
        tables: list[str] | None = None,
    ) -> dict:
        from era_parser_spark.streaming.incremental import run_incremental

        spark = self.ctx.spark
        eras_dir, wh, state = (os.path.join(work, d) for d in ("eras", "wh", "state"))
        os.makedirs(eras_dir)
        for e in corpus["eras"]:
            link_into(os.path.join(corpus["dir"], "eras", gen.era_filename(e["era"])), eras_dir)

        def call():
            with tracer.span("incremental.run_incremental"):
                t0 = time.perf_counter()
                res = run_incremental(
                    spark, eras_dir, wh, state, network=gen.NETWORK, tables=tables
                )
                return res, time.perf_counter() - t0

        out = {"work": work, "ticks": [], "noops": [], "snap": {}}
        t_start = time.perf_counter()
        out["backfill"] = call()
        for held in corpus["held"]:
            link_into(os.path.join(corpus["dir"], "held", gen.era_filename(held["era"])), eras_dir)
            out["ticks"].append((held, *call()))
        out["snap"]["before"] = tree_files(work)
        for _ in range(noops):
            out["noops"].append(call())
        out["snap"]["after"] = tree_files(work)
        out["wall"] = time.perf_counter() - t_start
        return out

    def timed(self, tracer: Tracer, like: dict | None = None) -> dict:
        """The same fixed work every pass (`like` is not needed): it runs
        longer than --seconds, which sets the length of beacon_queries."""
        res = self._phases(
            self.corpus, self.ctx.workdir(f"pass{len(self.passes)}"), tracer,
            noops=self.NOOPS,
        )
        self.passes.append(res)
        self.attempted += 1 + len(res["ticks"]) + len(res["noops"])
        return res

    # -- correctness ---------------------------------------------------------

    def check(self) -> None:
        for res in self.passes:
            for label, fn in (
                ("rows", self._check_rows),
                ("state", self._check_state),
                ("tick", self._check_tick),
                ("noop", self._check_noop),
            ):
                self.attempted += 1
                try:
                    fn(res)
                except CheckFailed as exc:
                    self.failures.append(f"backfill.{label}: {exc}")

    def committed_eras(self, res) -> list[dict]:
        return self.corpus["eras"] + [t[0] for t in res["ticks"]]

    def _check_rows(self, res) -> None:
        import pyarrow.dataset as ds

        expected = defaultdict(Counter)
        for e in self.committed_eras(res):
            for table, n in e["rows"].items():
                expected[table][e["era"]] += n
        wh = os.path.join(res["work"], "wh")
        returned = dict(res["backfill"][0])
        for held, r, _ in res["ticks"]:
            returned.update(r)
        for table in _tables():
            path = os.path.join(wh, table)
            got = Counter()
            if os.path.isdir(path):
                t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
                    columns=["era_number"]
                )
                got.update(t.column("era_number").to_pylist())
            want = +expected[table]
            expect(want, f"{table}: the generated corpus has no rows for it")
            expect(got == want, f"{table}: warehouse rows per era {dict(got)} != generated {dict(want)}")
            said = Counter({era: c.get(table, 0) for era, c in returned.items()})
            expect(+said == want, f"{table}: run_incremental reported {dict(+said)} != {dict(want)}")

    def _check_state(self, res) -> None:
        import pyarrow.dataset as ds

        log = ds.dataset(os.path.join(res["work"], "state"), format="parquet").to_table(
            columns=["era_number", "status", "insert_version"]
        ).to_pylist()
        done = Counter(r["era_number"] for r in log if r["status"] == "completed")
        want = {e["era"] for e in self.committed_eras(res)}
        expect(set(done) == want, f"completed eras {sorted(done)} != {sorted(want)}")
        expect(all(n == 1 for n in done.values()), f"an era completed more than once: {dict(done)}")
        latest = {}
        for r in sorted(log, key=lambda r: r["insert_version"]):
            latest[r["era_number"]] = r["status"]
        expect(
            all(s == "completed" for s in latest.values()),
            f"latest status not completed: {latest}",
        )

    def _check_tick(self, res) -> None:
        expect(res["ticks"], "no tick ran")
        for held, r, _ in res["ticks"]:
            expect(set(r) == {held["era"]}, f"tick committed {sorted(r)}, expected only {held['era']}")

    def _check_noop(self, res) -> None:
        for r, _ in res["noops"]:
            expect(r == {}, f"no-op re-run processed eras {sorted(r)}")
        before, after = res["snap"]["before"], res["snap"]["after"]
        expect(before == after, f"no-op re-run changed files: {sorted(set(before) ^ set(after))[:5]}")

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, res) -> dict[str, float]:
        (counts, backfill_s) = res["backfill"]
        blocks = sum(c.get("blocks", 0) for c in counts.values())
        ticks = [t for _, _, t in res["ticks"]]
        return {
            "items_per_s": blocks / backfill_s,
            "call_p50_s": statistics.median(ticks),
            "call_p90_s": percentile(ticks, 90),
            "fixed_cost_s": statistics.median(t for _, t in res["noops"]),
            "samples": len(ticks),
        }

    def per_layer(self, res, tracer: Tracer, inst: Instrumented) -> dict[str, float]:
        ctx = self.ctx
        runs = tracer.named("incremental.run_incremental")
        scans = tracer.named("era.scan")
        scan_s = sum(s.wall for s in scans)
        scan_run = sum(s.spark["executor_run_s"] for s in scans)
        counts = [res["backfill"][0]] + [r for _, r, _ in res["ticks"]]
        blocks = sum(c.get("blocks", 0) for cc in counts for c in cc.values())
        rows_out = sum(sum(c.values()) for cc in counts for c in cc.values())
        wh = os.path.join(res["work"], "wh")
        files = parquet_files(wh)
        wh_bytes = sum(os.path.getsize(f) for f in files)
        era_paths = [
            os.path.join(self.corpus["dir"], "eras", gen.era_filename(e["era"]))
            for e in self.corpus["eras"]
        ] + [
            os.path.join(self.corpus["dir"], "held", gen.era_filename(h["era"]))
            for h, _, _ in res["ticks"]
        ]
        input_bytes = sum(os.path.getsize(p) for p in era_paths)
        discovered = inst.counts["discovery.files"]
        m = {
            "discovery.list_s": tracer.total("discovery."),
            "discovery.files": discovered,
            "era_state.plan_pending_s": tracer.total("era_state.plan_pending"),
            "era_state.record_s": tracer.total("era_state.record_many"),
            "era_state.record_calls": inst.counts["era_state.record_calls"],
            "era_state.pending_ratio": inst.counts["era_state.pending"] / max(discovered, 1),
            "era_state.log_files": len(parquet_files(os.path.join(res["work"], "state"))),
            "era.scan_s": scan_s,
            "era.blocks": blocks,
            "era.parse_errors": inst.error_counter.value,
            "era.busy_share": scan_run / (scan_s * ctx.cpus) if scan_s else 0.0,
            "normalize.build_s": tracer.total("normalize."),
            "normalize.rows_out": rows_out,
            "normalize.rows_per_block": rows_out / max(blocks, 1),
            "writers.write_s": tracer.total("writers."),
            "writers.files": len(files),
            "writers.bytes": wh_bytes,
            "writers.bytes_per_row": wh_bytes / max(rows_out, 1),
            "writers.bytes_per_input_byte": wh_bytes / input_bytes,
            "incremental.self_s": sum(tracer.self_time(s) for s in runs),
            "incremental.spark_jobs": sum(tracer.self_spark(s, "jobs") for s in runs),
        }
        m.update(time_parse_kernels(era_paths))
        return m


def _tables() -> list[str]:
    from era_parser_spark.operators.normalize import TABLE_BUILDERS

    return list(TABLE_BUILDERS)


# -- beacon_queries ------------------------------------------------------------


class BeaconQueries:
    """Closed loop, one client: the 13 BEACON_QUERIES plus the point lookups
    `lookup_block` and `validator_slashed_lookup`, in a seeded order, each
    materialised through the noop sink, over a warehouse the engine's own
    ingest path (run_incremental) wrote."""

    name = "beacon_queries"
    # warehouse corpus: fixed, so it is built once per engine version
    WAREHOUSE = dict(
        seed=0, eras=8, slots=512, missing_rate=0.1, held=0, first_era=gen.ELECTRA_ERA - 4
    )
    LOOKUP_KEYS = 2  # seeded slots / validators per point lookup

    def __init__(self, ctx):
        self.ctx = ctx
        self.failures: list[str] = []
        self.attempted = 0
        self.passes: list[dict] = []
        self.collected: dict[tuple, object] = {}

    def inputs(self) -> None:
        from era_parser_spark.operators.beacon_analytics import BEACON_QUERIES

        ctx = self.ctx
        self.wh, self.corpus = ctx.warehouse(self.WAREHOUSE)
        rng = random.Random(ctx.seed)
        slots = [s for e in self.corpus["eras"] for s in e["slots"]]
        slashed = sorted({v for e in self.corpus["eras"] for v in e["slashed"]})
        self.calls = [(q, None) for q in sorted(BEACON_QUERIES)]
        self.calls += [("lookup_block", s) for s in rng.sample(slots, self.LOOKUP_KEYS)]
        self.calls += [
            ("validator_slashed_lookup", v)
            for v in rng.sample(slashed, min(self.LOOKUP_KEYS, len(slashed)))
        ]
        self.order_rng = rng

    def warm_up(self) -> None:
        # every distinct call once; the rows are kept for check()
        with self.ctx.setup_timer("session.warmup_s"):
            for call in self.calls:
                self.collected[call] = _Collected(self.build(*call))

    def build(self, name: str, key):
        from era_parser_spark.operators.beacon_analytics import (
            BEACON_QUERIES,
            validator_slashed_lookup,
        )
        from era_parser_spark.sources.era import lookup_block

        read = lambda t: self.ctx.spark.read.parquet(os.path.join(self.wh, t))  # noqa: E731
        if name == "lookup_block":
            return lookup_block(read("blocks"), key)
        if name == "validator_slashed_lookup":
            return validator_slashed_lookup(read("attester_slashings"), key)
        fn, tables = BEACON_QUERIES[name]
        return fn(*(read(t) for t in tables))

    def rounds(self):
        """Endless seeded rounds: each is a fresh shuffle of the 13 queries
        plus one seeded key per point lookup."""
        queries = [c for c in self.calls if c[1] is None]
        lookups = defaultdict(list)
        for c in self.calls:
            if c[1] is not None:
                lookups[c[0]].append(c)
        while True:
            rnd = queries + [self.order_rng.choice(v) for v in lookups.values()]
            self.order_rng.shuffle(rnd)
            yield rnd

    def timed(self, tracer: Tracer, like: dict | None = None) -> dict:
        """Calls until --seconds elapse, at least one whole round (or
        exactly `like`'s calls).  Stopping between calls, not rounds, keeps
        the sample count proportional to speed instead of jumping a round."""
        lat: list[tuple[tuple, float]] = []
        calls = [c for c, _ in like["lat"]] if like else (
            c for rnd in self.rounds() for c in rnd
        )
        first_round = len({name for name, _ in self.calls})  # calls per round
        t_start = time.perf_counter()
        for call in calls:
            if (like is None and len(lat) >= first_round
                    and time.perf_counter() - t_start >= self.ctx.seconds):
                break
            with tracer.span(f"beacon.{call[0]}"):
                t0 = time.perf_counter()
                self.build(*call).write.format("noop").mode("overwrite").save()
                lat.append((call, time.perf_counter() - t0))
        res = {"lat": lat, "wall": time.perf_counter() - t_start}
        self.passes.append(res)
        self.attempted += len(lat)
        return res

    def check(self) -> None:
        import duckdb

        from era_parser_spark.operators.beacon_analytics import (
            BEACON_ORACLES,
            validator_slashed_lookup_oracle,
        )
        from era_parser_spark.testing.oracle import compare_spark_duckdb

        con = duckdb.connect()
        for t in _tables():
            if os.path.isdir(os.path.join(self.wh, t)):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{self.wh}/{t}/**/*.parquet', hive_partitioning = true)"
                )
        for (name, key), got in self.collected.items():
            if name == "lookup_block":
                sql = f"SELECT * FROM blocks WHERE slot = {key}"
            elif name == "validator_slashed_lookup":
                sql = validator_slashed_lookup_oracle(key)
            else:
                sql = BEACON_ORACLES[name]
            self.attempted += 1
            try:
                compare_spark_duckdb(got, con, sql, f"{name}({key})")
                if key is not None:
                    expect(got.collect(), f"{name}({key}) returned no rows")
            except AssertionError as exc:
                self.failures.append(f"beacon.{name}: {exc}")

    def end_to_end(self, res) -> dict[str, float]:
        all_lat = [t for _, t in res["lat"]]
        lookups = [t for (n, k), t in res["lat"] if k is not None]
        return {
            "items_per_s": len(all_lat) / res["wall"],
            "call_p50_s": statistics.median(all_lat),
            "call_p90_s": percentile(all_lat, 90),
            "fixed_cost_s": statistics.median(lookups),
            "samples": len(all_lat),
        }

    def per_layer(self, res, tracer: Tracer, inst) -> dict[str, float]:
        by_name = defaultdict(list)
        for (name, _), t in res["lat"]:
            by_name[name].append(t)
        m = {f"beacon.{n}_s": statistics.median(v) for n, v in by_name.items()}
        spans = tracer.named("beacon.")
        files = parquet_files(self.wh)
        m.update(
            {
                "beacon.input_bytes": sum(s.spark["input_bytes"] for s in spans),
                "beacon.shuffle_bytes": sum(s.spark["shuffle_read_bytes"] for s in spans),
                "beacon.stages": sum(s.spark["stages"] for s in spans),
                "writers.files": len(files),
                "writers.bytes": sum(os.path.getsize(f) for f in files),
            }
        )
        return m


class _Collected:
    """A query's rows collected once, shaped like the DataFrame that
    `compare_spark_duckdb` expects (columns + collect())."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = df.collect()

    def collect(self):
        return self._rows


WORKLOADS = {w.name: w for w in (Backfill, BeaconQueries)}
