"""The three workloads: inputs, one timed pass, and the correctness checks.

A workload drives the program only through its public calls
(``runner.run_scan``, ``runner.stream_rows``, ``registry.queries()`` /
``oracle_sql()``, ``tables.load``) and times each call from the outside
as a span. Every output is checked outside the timed region; a failed check
is counted and reported by file or key, never retried or replaced.
"""

from __future__ import annotations

import contextlib
import gc
import io
import os
import re
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen

DRAIN_PREDICATE = "ke > 4.0"
COUNT_PREDICATE = "ke > 0.5"

# Registry keys of the registry_mix workload and the layer each one leans on
# (see README.md for why each is in the mix).
REGISTRY_KEYS = [
    "composite_local_supplier_volume",  # six schema-inferred loads, shuffle joins
    "sort_orderby_multi",  # sort
    "graph_pagerank_iterations",  # build-heavy driver loop
    "udf_pandas_scalar",  # Arrow UDF
    "sink_parquet",  # a write beside the reads
    "stream_tumbling",  # streaming
]


@dataclass
class Outcome:
    """Operations attempted and failed, with one line per failure."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


@dataclass
class Pass:
    seconds: float
    ops: dict[str, float]  # operation name -> seconds
    read_bytes: int


def fs_bytes_read(spark) -> int:
    """Bytes the engine has requested from every Hadoop FileSystem so far
    (the counter ``RunReport.read_bytes`` is a delta of)."""
    stats = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(s.getBytesRead() for s in stats)


class Workload:
    name = ""

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed

    def prepare(self) -> None:
        """Generate the inputs (runs before set-up, never timed)."""

    def warm(self, ctx, out: Outcome) -> None:
        """Untimed pass(es) that bring the JVM and caches to steady state."""

    def run_pass(self, ctx, out: Outcome) -> Pass:
        raise NotImplementedError


class VpicCount(Workload):
    """``run_scan(dir, "ke > 0.5")`` over many small per-timestep files."""

    name = "vpic_count_many_files"
    files, rows, group_rows = 16, 20_000, 20_000

    def prepare(self) -> None:
        self.manifest = gen.vpic_files(
            self.data_dir, self.seed, self.files, self.rows, self.group_rows, [0.5])

    def scan(self, ctx, out: Outcome, predicate: str, key: str) -> float:
        from c2_duckdb_runner_spark import runner

        err = io.StringIO()
        with ctx.tracer.span("run_scan", files=self.files) as s:
            with contextlib.redirect_stderr(err):
                report = runner.run_scan(ctx.spark, [self.data_dir], predicate)
        s.attrs.update(rows=report.total_rows, read_ops=report.read_ops,
                       read_bytes=report.read_bytes)
        # per-file isolation in the runner logs a failing file and counts it
        # as 0 rows; name those files, then check the total
        bad = re.findall(r"runner: error scanning (\S+):", err.getvalue())
        for path in bad:
            out.check(False, f"run_scan failed on {path}")
        expected = self.manifest["total"][key]["rows"]
        out.attempted += self.files - len(bad)
        if not bad and report.total_rows != expected:
            out.failures.append(
                f"run_scan({predicate}) rows {report.total_rows} != {expected}")
        return s.seconds

    def warm(self, ctx, out: Outcome) -> None:
        for _ in range(3):
            self.scan(ctx, out, COUNT_PREDICATE, "0.5")

    def run_pass(self, ctx, out: Outcome) -> Pass:
        b0 = fs_bytes_read(ctx.spark)
        with ctx.tracer.span("pass") as p:
            secs = self.scan(ctx, out, COUNT_PREDICATE, "0.5")
        return Pass(p.seconds, {"run_scan": secs}, fs_bytes_read(ctx.spark) - b0)


class VpicExtract(VpicCount):
    """``run_scan(dir, "ke > 4.0")`` over a few large multi-row-group files,
    then every file's ``SELECT * … WHERE ke > 4.0`` drained through
    ``stream_rows``, one file after another as the reference does."""

    name = "vpic_extract_large_files"
    files, rows, group_rows = 4, 393_216, 131_072

    def prepare(self) -> None:
        self.manifest = gen.vpic_files(
            self.data_dir, self.seed, self.files, self.rows, self.group_rows, [4.0])

    def drain(self, ctx, out: Outcome, path: str) -> float:
        from c2_duckdb_runner_spark import runner

        ids: list[list[int]] = []
        with ctx.tracer.span("drain", file=os.path.basename(path)) as s:
            with ctx.job_group(s):
                df = ctx.spark.read.parquet(path).where(DRAIN_PREDICATE)
                batches = runner.stream_rows(df)
                with ctx.tracer.span("first_batch"):
                    first = next(batches, [])
                ids.append([r[0] for r in first])
                for batch in batches:
                    ids.append([r[0] for r in batch])
        got = np.fromiter((i for b in ids for i in b), dtype=np.int64)
        want = self.manifest["files"][path]["4.0"]
        s.attrs["rows"] = int(got.size)
        out.check(
            got.size == want["rows"] and gen.id_checksum(got) == want["checksum"],
            f"stream_rows({os.path.basename(path)}) rows {got.size} "
            f"(want {want['rows']}) or id checksum differs",
        )
        return s.seconds

    def warm(self, ctx, out: Outcome) -> None:
        self.run_pass(ctx, out)

    def run_pass(self, ctx, out: Outcome) -> Pass:
        b0 = fs_bytes_read(ctx.spark)
        ops: dict[str, float] = {}
        with ctx.tracer.span("pass") as p:
            ops["run_scan"] = self.scan(ctx, out, DRAIN_PREDICATE, "4.0")
            for path in sorted(self.manifest["files"]):
                ops[os.path.basename(path)] = self.drain(ctx, out, path)
        return Pass(p.seconds, ops, fs_bytes_read(ctx.spark) - b0)


class RegistryMix(Workload):
    """Registry keys over a generated fixture, each built and then executed
    with the ``noop`` sink."""

    name = "registry_mix"

    def prepare(self) -> None:
        self.tables = gen.fixture_tables(self.data_dir, self.seed)

    def warm(self, ctx, out: Outcome) -> None:
        """The JIT-cold warm-up pass is also the correctness pass: each key's
        result is collected and compared with its DuckDB oracle."""
        import duckdb

        from tests.compare import assert_frames_match

        qs, oracles = ctx.queries, ctx.oracles
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for key in REGISTRY_KEYS:
                try:
                    pdf = qs[key](ctx.spark, self.data_dir).toPandas()
                    if oracles.get(key):
                        assert_frames_match(pdf, con.execute(oracles[key]).fetchdf(), key)
                    if key.startswith("stream_"):
                        assert len(pdf) > 0, f"[{key}] streaming result is empty"
                except Exception as exc:  # a failing key is reported, not fatal
                    out.check(False, f"{key}: {str(exc).splitlines()[0][:200]}")
                else:
                    out.check(True, key)
        finally:
            con.close()

    def run_pass(self, ctx, out: Outcome) -> Pass:
        b0 = fs_bytes_read(ctx.spark)
        ops: dict[str, float] = {}
        with ctx.tracer.span("pass") as p:
            for key in REGISTRY_KEYS:
                with ctx.tracer.span("key", key=key) as k:
                    try:
                        with ctx.tracer.span("build") as b, ctx.job_group(b):
                            df = ctx.queries[key](ctx.spark, self.data_dir)
                        ctx.plan_probe(df)
                        with ctx.tracer.span("execute") as e, ctx.job_group(e):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        out.check(False, f"{key}: {str(exc).splitlines()[0][:200]}")
                ops[key] = k.seconds
        return Pass(p.seconds, ops, fs_bytes_read(ctx.spark) - b0)


WORKLOADS = {w.name: w for w in (VpicCount, VpicExtract, RegistryMix)}


def timed_window(ctx, wl: Workload, out: Outcome, seconds: float, min_passes: int) -> list[Pass]:
    """Closed loop, one client: run whole passes back to back until the
    window has elapsed and at least ``min_passes`` have completed."""
    passes: list[Pass] = []
    deadline = time.monotonic() + seconds
    while len(passes) < min_passes or time.monotonic() < deadline:
        collect_garbage(ctx.spark)
        passes.append(wl.run_pass(ctx, out))
    return passes


def collect_garbage(spark) -> None:
    """Start every pass from collected heaps in both the Python driver and
    the JVM, so a collection left over from the previous pass does not land
    in this one. Runs between passes, outside the timed region."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
