"""Era-state management (SURVEY §2.D): incremental, idempotent, resumable.

The reference keeps an era_completion table in ClickHouse with
ReplacingMergeTree(insert_version) semantics plus an era_status latest-view
(sql/002_performance_optimizations_up.sql:2-37) and drives runs with
"skip completed eras" anti-joins (era_state_manager.py:350-377,430-473).

Spark shape: an append-only parquet log of status transitions; the latest
state is an exact window dedup (argmax insert_version per network+era).
Appends are tiny (one row per transition) — the log is a metadata table,
not a data table, so a single-file append per batch transition is the
right cost model even at 100 TB of block data.

Idempotent data writes (D3's delete-then-insert) come from dynamic
partition overwrite on era_number (streaming.incremental.process_eras_batch):
reprocessing an era replaces exactly its own partitions.

Concurrency contract: the log is SINGLE-DRIVER.  Appends are plain parquet
file adds (safe to interleave — readers see a union), but `compact_log`'s
rewrite-and-swap and the read-plan-write cycle of a batch run are not
serialized by any commit protocol, matching the reference's one-process
model (its ClickHouse table has no cross-run transaction either; it runs
OPTIMIZE between runs).  Deployments that might run two drivers against
one state path should wrap runs in `EraStateStore.exclusive()` — a
best-effort lock file via atomic create (atomic on HDFS/local; best-effort
on S3, where a manifest-conditional-put service should replace it).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from era_parser_spark.session import hadoop_fs

STATE_SCHEMA = T.StructType(
    [
        T.StructField("network", T.StringType(), False),
        T.StructField("era_number", T.LongType(), False),
        T.StructField("status", T.StringType(), False),  # processing|completed|failed
        T.StructField("slot_start", T.LongType(), True),
        T.StructField("slot_end", T.LongType(), True),
        T.StructField("total_records", T.LongType(), True),
        T.StructField("datasets_processed", T.ArrayType(T.StringType()), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("retry_count", T.IntegerType(), True),
        T.StructField("insert_version", T.LongType(), False),  # ns timestamp
    ]
)


class StateLockHeld(RuntimeError):
    """Another driver holds the state-log lock (holder info in args)."""


class EraStateStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- multi-driver guard (see module docstring: single-driver contract) ---

    @property
    def _lock_path(self) -> str:
        return self.path.rstrip("/") + ".__lock__"

    def acquire_lock(self, owner: str = "driver", stale_after_s: float = 3600.0) -> None:
        """Best-effort exclusive lock on the state log.

        Atomic `create(overwrite=False)` of a lock file (truly atomic on
        HDFS and local FS; S3 offers no atomic create — treat as advisory
        there).  A lock older than `stale_after_s` is presumed abandoned
        (crashed driver) and broken.  Raises StateLockHeld when live.
        """
        fs, hp = hadoop_fs(self.spark, self._lock_path)
        if fs.exists(hp):
            age = time.time() - fs.getFileStatus(hp).getModificationTime() / 1000.0
            if age < stale_after_s:
                # byte-at-a-time via py4j (int-returning read(); the
                # byte[]-filling overload can't mutate a Python bytearray);
                # error path only, lock files are ~40 bytes
                holder = bytearray()
                st = fs.open(hp)
                try:
                    for _ in range(256):
                        c = st.read()
                        if c < 0:
                            break
                        holder.append(c)
                finally:
                    st.close()
                raise StateLockHeld(
                    f"state log {self.path} locked by {holder.decode(errors='replace')!r} "
                    f"({age:.0f}s ago); pass stale_after_s to override"
                )
            fs.delete(hp, False)  # stale: break it
        out = fs.create(hp, False)  # throws if a racer re-created it
        try:
            out.write(f"{owner}@{time.time_ns()}".encode())
        finally:
            out.close()

    def release_lock(self) -> None:
        fs, hp = hadoop_fs(self.spark, self._lock_path)
        fs.delete(hp, False)

    def exclusive(self, owner: str = "driver", stale_after_s: float = 3600.0):
        """Context manager: `with store.exclusive(): run_batch(...)`."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            self.acquire_lock(owner, stale_after_s)
            try:
                yield self
            finally:
                self.release_lock()

        return _cm()

    # -- log primitives ------------------------------------------------------

    def record_many(self, rows: list[dict]) -> None:
        """One append for N status transitions: one Spark job, one file.

        A 100k-era batch flipping status one era at a time would be 100k
        jobs and 100k log files; batched it is one of each.  insert_version stays
        strictly increasing within the batch (ns timestamp + row index)
        so the ReplacingMergeTree-style argmax dedup is deterministic.
        """
        if not rows:
            return
        now = time.time_ns()
        data = [
            (
                r["network"],
                r["era_number"],
                r["status"],
                r["era_number"] * 8192,
                r["era_number"] * 8192 + 8191,
                r.get("total_records"),
                r.get("datasets"),
                r.get("error_message"),
                r.get("retry_count", 0),
                now + i,
            )
            for i, r in enumerate(rows)
        ]
        df = self.spark.createDataFrame(data, STATE_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def log(self) -> DataFrame:
        try:
            return self.spark.read.schema(STATE_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], STATE_SCHEMA)

    # -- views (D2, D6, D7) --------------------------------------------------

    def latest_state(self) -> DataFrame:
        """D2: argmax(insert_version) per (network, era) — the era_status view."""
        w = Window.partitionBy("network", "era_number").orderBy(F.desc("insert_version"))
        return (
            self.log()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def completed(self, network: str) -> DataFrame:
        return (
            self.latest_state()
            .filter((F.col("network") == network) & (F.col("status") == "completed"))
            .select("era_number")
        )

    def status_summary(self, network: str) -> DataFrame:
        """D6: per-status counts + record totals."""
        return (
            self.latest_state()
            .filter(F.col("network") == network)
            .groupBy("status")
            .agg(
                F.count(F.lit(1)).alias("era_count"),
                F.sum("total_records").alias("total_records"),
            )
        )

    def max_retries(self, network: str, eras: list[int]) -> dict[int, int]:
        """D7 COALESCE(MAX(retry_count), 0) for a whole batch of eras in
        one aggregation job."""
        if not eras:
            return {}
        rows = (
            self.log()
            .filter((F.col("network") == network) & F.col("era_number").isin(eras))
            .groupBy("era_number")
            .agg(F.coalesce(F.max("retry_count"), F.lit(0)).alias("m"))
            .collect()
        )
        got = {int(r.era_number): int(r.m) for r in rows}
        return {e: got.get(e, 0) for e in eras}

    def failed_eras(self, network: str) -> DataFrame:
        return self.latest_state().filter(
            (F.col("network") == network) & (F.col("status") == "failed")
        )

    # -- maintenance (reference --clean-failed-eras / state.py:106-127) -------

    def clean_failed(
        self,
        network: str,
        out_base: str | None = None,
        datasets: list[str] | None = None,
    ) -> list[int]:
        """Clean every failed era: delete its partial data partitions and
        reset its state so the next batch reprocesses it from scratch.

        Reference semantics (era_state_manager.py:237-249 +
        clean_era_completely): DELETE rows in the era's slot range from
        every beacon table, then remove its completion records.  Spark
        shape: each dataset is partitioned by era_number, so "delete the
        era's rows" is a partition-directory drop through the Hadoop
        FileSystem API (works for file://, hdfs://, s3a:// alike —
        driver-side metadata ops, no job), and "remove completion
        records" is one appended `cleaned` transition per era (the
        append-only log keeps history; `cleaned` is neither `completed`
        nor `failed`, so plan_pending picks the era up again and
        failed_eras stops listing it).

        Returns the cleaned era numbers, like the reference.
        """
        failed = sorted(
            int(r.era_number)
            for r in self.failed_eras(network).select("era_number").collect()
        )
        if not failed:
            return []
        if out_base is not None:
            fs, base = hadoop_fs(self.spark, out_base)
            if datasets is None:
                datasets = (
                    [st.getPath().getName() for st in fs.listStatus(base) if st.isDirectory()]
                    if fs.exists(base)
                    else []
                )
            for name in datasets:
                for era in failed:
                    _, part = hadoop_fs(
                        self.spark, f"{out_base.rstrip('/')}/{name}/era_number={era}"
                    )
                    if fs.exists(part):
                        fs.delete(part, True)
        self.record_many(
            [{"network": network, "era_number": e, "status": "cleaned"} for e in failed]
        )
        return failed

    def compact_log(self, target_files: int = 1) -> int:
        """Rewrite the transition log into `target_files` parquet files.

        Long-running deployments accrete one small file per recorded
        batch; at 100k eras that is filesystem-metadata pressure on
        every latest_state() read.  Compaction is a rewrite-and-swap
        (not atomic vs concurrent writers — run it between batches, as
        the reference runs OPTIMIZE TABLE ... FINAL between runs,
        era_state_manager.py optimize_tables).  Returns rows kept.
        """
        df = self.log()
        n = df.count()
        tmp = self.path.rstrip("/") + ".__compact__"
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        fs, dst = hadoop_fs(self.spark, self.path)
        _, src = hadoop_fs(self.spark, tmp)
        fs.delete(dst, True)
        fs.rename(src, dst)
        return int(n)

    # -- planning (D1) ---------------------------------------------------------

    def plan_pending(self, inventory: DataFrame, network: str, force: bool = False) -> DataFrame:
        """D1: available eras minus completed ones (left anti join).

        `inventory` is the (era_number, path, network) frame run_incremental
        builds from discover_auto's listing.  The completed side is a
        per-network metadata set — broadcast, no shuffle of the inventory."""
        inv = inventory.filter(F.col("network") == network)
        if force:
            return inv
        return inv.join(
            F.broadcast(self.completed(network)), "era_number", "left_anti"
        )
