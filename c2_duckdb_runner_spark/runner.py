"""Batch runner — behavioral parity with the reference's driver pipeline.

The reference (``main.cc:368-409``) reads env config, enumerates files,
fans a per-file filtered scan across a thread pool, and reports to stderr:
predicate, threads, query time, total rows, read ops, read bytes
(``main.cc:327-335``), plus optional kernel disk-stat deltas
(``main.cc:338-363``, ``iostats.h:44-77``).

Spark-first mapping (SURVEY.md §3.1): Spark's scheduler *is* the thread
pool (`pthread-helper.h` at cluster scale), one task per file split, and
every action is its own barrier. The runner reads each file's Parquet footer
in the driver, groups the files whose footers make Spark infer the same
schema, and runs one filtered count per group instead of one per file: a
VPIC campaign directory of same-schema timesteps costs one schema-inference
job plus the count, not three jobs per file. What remains custom is exactly
what SURVEY.md §4 predicted: metrics harvesting and the report, no
plan-level code.

I/O accounting parity (§3.3): the reference counts bytes the engine
*requests* from the filesystem via a wrapping FileSystem (``main.cc:107-113``)
— i.e. post-pushdown bytes. Our equivalent is Hadoop's
``FileSystem.Statistics`` (every Spark file read goes through it): snapshot
before, delta after. Same semantics, no custom FS wrapper. Hadoop's local FS
has no read-*op* counter, so on local disk the op count comes from the JVM's
kernel read-syscall delta (``/proc/<pid>/io`` syscr — one increment per
read(2)/pread(2), the same per-read semantics as the reference's wrapper).

Env contract (same names as the reference, ``main.cc:369-404``):
- ``Env_ke``        filter threshold, default 0.5
- ``Env_jobs``      parallelism, default 32, floor 1
- ``Env_mon_disks`` csv of block devices for /sys/block/<d>/stat deltas

Per-task error isolation (``main.cc:267-271``: a failing file logs and
contributes zero): Spark's default is fail-the-job, so a group scan that
raises for any reason is retried file by file, each file in its own job
under a try/except — per-file isolation without flipping
``spark.sql.files.ignoreCorruptFiles`` globally.
"""

from __future__ import annotations

import math
import os
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_KE = "0.5"
DEFAULT_JOBS = 32


# --- kernel disk stats (iostats.h:44-77 parity; Linux only) ---------------

@dataclass
class DiskStats:
    read_ops: int = 0
    read_sectors: int = 0
    read_ticks_ms: int = 0

    def __sub__(self, other: "DiskStats") -> "DiskStats":
        return DiskStats(
            self.read_ops - other.read_ops,
            self.read_sectors - other.read_sectors,
            self.read_ticks_ms - other.read_ticks_ms,
        )


def read_disk_stats(disk: str) -> DiskStats | None:
    """Parse /sys/block/<disk>/stat — fields 1-3 are read ios / merges /
    sectors, field 4 read ticks (ms), mirroring iostats.h:64-77."""
    try:
        with open(f"/sys/block/{disk}/stat") as f:
            parts = f.read().split()
        return DiskStats(int(parts[0]), int(parts[2]), int(parts[3]))
    except (OSError, IndexError, ValueError):
        return None


# --- engine-level read accounting (main.cc:107-151 parity) ----------------

def _jvm_read_syscalls(spark: SparkSession) -> int:
    """Kernel read-syscall count (``syscr``) of the executor JVM from
    ``/proc/<pid>/io`` — the local-filesystem substitute for per-read op
    counting. Hadoop's RawLocalFileSystem structurally never increments
    ``readOps`` (only HDFS/S3A call ``incrementReadOps``; local streams
    count bytes alone, and ``getGlobalStorageStatistics`` reads the same
    zero counter), while the reference counts every ``Read`` call its FS
    wrapper sees (``main.cc:107-113``). The kernel's syscr counter has the
    same semantics — one increment per read(2)/pread(2) the engine issued —
    observed at the syscall boundary instead of a wrapper class. In
    ``local[N]`` mode driver == executor, so one pid covers every task."""
    try:
        jvm = spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("syscr:"):
                    return int(line.split(":", 1)[1])
    except Exception:
        pass  # non-Linux or restricted /proc — ops stay Hadoop-only
    return 0


def _fs_bytes_ops(spark: SparkSession) -> tuple[int, int, int]:
    """Bytes from Hadoop FileSystem.Statistics (post-pushdown bytes the
    engine requested — the reference's headline metric, main.cc:333-334),
    plus BOTH op counters: Hadoop readOps (HDFS/S3A) and the JVM's kernel
    read-syscall count (local fs, see _jvm_read_syscalls). Every snapshot
    carries both units; the caller picks ONE source for the delta after the
    run, so a scheme that starts reporting mid-run can never mix a syscall
    count on one end with a (much smaller) Hadoop op count on the other."""
    jvm = spark.sparkContext._jvm
    total_bytes = hadoop_ops = 0
    for s in jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics():
        total_bytes += s.getBytesRead()
        hadoop_ops += s.getReadOps() + s.getLargeReadOps()
    return total_bytes, hadoop_ops, _jvm_read_syscalls(spark)


@dataclass
class RunReport:
    """The reference's stderr report block (main.cc:327-335, 350-361)."""

    predicate: str
    threads: int
    seconds: float
    total_rows: int
    read_bytes: int
    read_ops: int
    n_files: int
    disk_deltas: dict[str, DiskStats] = field(default_factory=dict)
    ops_from_syscalls: bool = False

    def print(self, out=sys.stderr) -> None:
        print(f"predicate: {self.predicate}", file=out)
        print(f"threads: {self.threads}", file=out)
        print(f"query time: {self.seconds:.6f} s", file=out)
        print(f"total rows: {self.total_rows}", file=out)
        ops_note = ""
        if self.ops_from_syscalls:
            # Hadoop's local FS counts bytes but never read ops; on local
            # disk the op count is the JVM's kernel read-syscall delta
            # (same per-read semantics as the reference's FS wrapper,
            # main.cc:107-113, measured at the syscall boundary — includes
            # the engine's non-data reads too, e.g. shuffle spill).
            ops_note = " (kernel read syscalls; local fs has no op counter)"
        elif self.read_ops == 0 and self.read_bytes > 0:
            ops_note = " (local fs reports bytes only)"
        print(f"total read ops: {self.read_ops}{ops_note}", file=out)
        print(f"total read bytes: {self.read_bytes}", file=out)
        for d, s in self.disk_deltas.items():
            print(
                f"disk {d}: read ops {s.read_ops}, sectors {s.read_sectors}, "
                f"ticks {s.read_ticks_ms} ms",
                file=out,
            )


def _enumerate_files(datadirs: list[str]) -> list[str]:
    """DT_REG enumeration (main.cc:297-324): every regular file, any name."""
    paths: list[str] = []
    for d in datadirs:
        paths.extend(
            os.path.join(d, f)
            for f in sorted(os.listdir(d))
            if os.path.isfile(os.path.join(d, f))
        )
    return paths


# Footer key-value entry holding the schema Spark wrote the file with; when
# present, schema inference returns it instead of converting the Parquet type.
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
# Path count above which a Parquet read lists its paths in a Spark job.
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _needs_own_scan(path: str) -> bool:
    """A name Spark's file listing hides (``_x``, ``.x``, ``x._COPYING_``) or
    expands as a glob. In a shared scan such a file would silently drop out
    or pull its neighbours in, so it is always scanned alone."""
    name = os.path.basename(path)
    return (
        name[:1] in ("_", ".")
        or name.endswith("._COPYING_")
        or any(c in name for c in "*?[]{}\\")
    )


def _group_by_footer(
    spark: SparkSession, paths: list[str], pool
) -> tuple[list[list[str]], list[str]]:
    """Split ``paths`` into groups that one Spark scan reads exactly as it
    reads each file alone, plus the files left to scan alone.

    A multi-file Parquet scan infers its schema from one file's footer and
    applies it to every file. That schema is a function of the footer's
    message type and its Spark schema entry, so files that agree on both
    infer the same schema either way; everything else in a scan is per file.
    Footers are read in the driver JVM through the Hadoop FileSystem, fanned
    out over ``pool``, so their bytes count in ``read_bytes`` as the
    reference's wrapper counts its own footer reads (``main.cc:107-113``).
    A file whose footer cannot be read, or that would be alone in its group,
    is left to scan alone.

    A group holds at most ``spark.sql.sources.parallelPartitionDiscovery
    .threshold`` files; a larger one is split evenly. Above that many paths
    Spark lists them in an extra job of one task per path, which on local
    disk costs more than the scans a larger group would save.
    """
    jvm = spark.sparkContext._jvm
    conf = spark._jsc.hadoopConfiguration()
    # open, read and close in one call; the row-group metadata is skipped
    read_footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    skip_row_groups = (
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    )

    def footer_key(path: str) -> tuple[str, str | None] | None:
        if _needs_own_scan(path):
            return None
        try:
            footer = read_footer(conf, hadoop_path(path), skip_row_groups)
            meta = footer.getFileMetaData()
            spark_schema = meta.getKeyValueMetaData().get(_SPARK_SCHEMA_KEY)
            return meta.getSchema().toString(), spark_schema
        except Py4JError:
            return None  # not Parquet, or gone: the file's own scan reports it

    by_key: dict[tuple[str, str | None], list[str]] = {}
    alone: list[str] = []
    for path, key in zip(paths, pool.map(footer_key, paths)):
        if key is None:
            alone.append(path)
        else:
            by_key.setdefault(key, []).append(path)
    most = max(1, int(spark.conf.get(_LISTING_THRESHOLD)))
    groups: list[list[str]] = []
    for same in by_key.values():
        step = math.ceil(len(same) / math.ceil(len(same) / most))  # even, <= most
        for i in range(0, len(same), step):
            chunk = same[i:i + step]
            if len(chunk) > 1:
                groups.append(chunk)
            else:
                alone += chunk
    return groups, alone


def run_scan(
    spark: SparkSession,
    datadirs: list[str],
    predicate: str | None = None,
    mon_disks: list[str] | None = None,
) -> RunReport:
    """The reference's whole pipeline: a filtered count over every file.

    ``predicate`` is the arbitrary-SQL filter slot (``main.cc:164-169``,
    `filter_arbitrary_predicate` in §2) — any Catalyst boolean expression.
    Default mirrors the reference: ``ke > Env_ke``, with ``ke`` standing in
    as ``value`` (FIXTURES.md).

    Parity decisions, each deliberate:
    - **one scan per footer-schema group** (``main.cc:297-324``): the
      reference runs one query per file; here files whose footers make Spark
      infer the same schema (``_group_by_footer``) share one filtered count,
      which returns exactly the sum of their per-file counts. A file in no
      group gets its own query, as before. A thread pool of ``Env_jobs``
      reads the footers and submits the scans as concurrent Spark *jobs*,
      and Spark's scheduler interleaves their tasks — the harness's
      inter-query parallelism (``main.cc:177,376-385``) mapped onto the
      engine that already owns the cores. Footers are resolved afresh on
      every call; nothing is cached across calls.
    - **per-task error isolation** (``main.cc:267-271``): a file that fails
      to parse or lacks the filter column logs to stderr and contributes 0
      rows; the run continues. A group scan that raises for any reason is
      rescanned one file at a time, so only the failing files log and
      count 0.
    """
    threads = max(1, int(os.environ.get("Env_jobs", DEFAULT_JOBS)))
    mon_disks = mon_disks if mon_disks is not None else [
        d for d in os.environ.get("Env_mon_disks", "").split(",") if d
    ]
    if predicate is None:
        predicate = f"value > {os.environ.get('Env_ke', DEFAULT_KE)}"

    disk_before = {d: read_disk_stats(d) for d in mon_disks}
    paths = _enumerate_files(datadirs)

    from concurrent.futures import ThreadPoolExecutor

    def scan(files: list[str]) -> int:
        # SELECT count(*) FROM <files> WHERE <predicate>  (main.cc:164-169;
        # the count happens engine-side as in main.cc:197, partials merged by
        # Spark instead of the mutex at main.cc:273-281)
        return spark.read.parquet(*files).filter(F.expr(predicate)).count()

    def scan_one(path: str) -> int:
        try:
            return scan([path])
        except Exception as exc:  # per-task isolation, main.cc:267-271
            msg = str(exc).split("\n", 1)[0]
            print(f"runner: error scanning {path}: {msg}", file=sys.stderr)
            return 0

    def scan_group(group: list[str]) -> int | None:
        try:
            return scan(group)
        except Exception:
            return None  # rescanned file by file, from the calling thread

    bytes0, hops0, syscr0 = _fs_bytes_ops(spark)
    t0 = time.monotonic()
    # Every wait below is on the calling thread, never inside a pool task,
    # so the fallback cannot starve the pool that runs the groups.
    with ThreadPoolExecutor(max_workers=threads) as pool:
        groups, alone = _group_by_footer(spark, paths, pool)
        group_rows = pool.map(scan_group, groups)  # submitted now, awaited below
        alone_rows = pool.map(scan_one, alone)
        total_rows = sum(alone_rows)  # Wait(): main.cc:245-250
        failed: list[str] = []
        for group, n in zip(groups, group_rows):
            if n is None:
                failed += group
            else:
                total_rows += n
        total_rows += sum(pool.map(scan_one, failed))
    seconds = time.monotonic() - t0
    bytes1, hops1, syscr1 = _fs_bytes_ops(spark)
    # pick the op-count source ONCE, after the run: Hadoop iff the scheme
    # reported any ops by the end (local FS structurally never does), else
    # the kernel syscall counter — both deltas are same-unit by construction
    ops_syscr = hops1 == 0
    ops0, ops1 = (syscr0, syscr1) if ops_syscr else (hops0, hops1)

    deltas = {}
    for d, before in disk_before.items():
        after = read_disk_stats(d)
        if before is not None and after is not None:
            deltas[d] = after - before

    return RunReport(
        predicate=predicate,
        threads=threads,
        seconds=seconds,
        total_rows=total_rows,
        read_bytes=bytes1 - bytes0,
        read_ops=max(0, ops1 - ops0),
        n_files=len(paths),
        disk_deltas=deltas,
        ops_from_syscalls=ops_syscr,
    )


def stream_rows(df, batch_hint: int = 2048):
    """Vectorized pull loop — ``exec_vectorized_pull`` (main.cc:183-199).

    The reference drains a streaming result handle chunk-at-a-time without
    materializing the full result (``con.SendQuery`` + ``FetchRaw``). The
    Spark twin is ``toLocalIterator``: partitions are produced on demand and
    streamed to the driver one at a time; nothing beyond the in-flight
    partition is ever resident. ``batch_hint`` only shapes the yielded row
    batches (the reference's ~2048-row DataChunk granularity); transport
    batching is per-partition either way.
    """
    batch: list = []
    for row in df.toLocalIterator():
        batch.append(row)
        if len(batch) >= batch_hint:
            yield batch
            batch = []
    if batch:
        yield batch


def print_sample(df, n: int = 20, out=sys.stdout) -> None:
    """Textual chunk printer — ``sink_print`` (main.cc:193-195, the
    ``print_binary=0`` debug path; Spark's ``df.show`` is the same job)."""
    print(df._jdf.showString(n, 0, False), file=out)


def main(argv: list[str] | None = None) -> int:
    """CLI: ``python -m c2_duckdb_runner_spark.runner <datadir>...`` —
    the reference's ``./duckdb-runner <datadir>...`` (main.cc:368)."""
    from c2_duckdb_runner_spark.session import get_spark

    argv = argv if argv is not None else sys.argv[1:]
    if not argv:
        print("usage: runner <datadir>...", file=sys.stderr)
        return 2
    spark = get_spark("c2-spark-runner")
    report = run_scan(spark, argv)
    report.print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
