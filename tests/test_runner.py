"""Runner/report parity tests — the reference's pipeline (main.cc:368-409):
per-file scans, error isolation, and the five-field report."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from c2_duckdb_runner_spark.runner import (
    _enumerate_files,
    _group_by_footer,
    read_disk_stats,
    run_scan,
)


@pytest.fixture(scope="module")
def datadir(tmp_path_factory, sf_dir):
    """A homogeneous data dir, VPIC-campaign style: N same-schema files."""
    d = tmp_path_factory.mktemp("campaign")
    for i in range(3):
        shutil.copy(f"{sf_dir}/events.parquet", d / f"step{i}.parquet")
    return str(d)


def test_run_scan_report_fields(spark, datadir, sf_dir):
    os.environ["Env_ke"] = "0.5"
    report = run_scan(spark, [datadir])
    oracle = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet' WHERE value > 0.5"
    ).fetchone()[0]
    assert report.total_rows == 3 * oracle
    assert report.n_files == 3
    assert report.predicate == "value > 0.5"
    assert report.seconds > 0
    assert report.read_bytes > 0  # engine-requested bytes, post-pushdown
    # main.cc:331-332 reports nonzero read ops; Hadoop's local FS has no op
    # counter, so on Linux the runner substitutes the JVM's kernel
    # read-syscall delta (same per-read semantics). A real scan must have
    # issued at least one read syscall per file.
    if report.ops_from_syscalls:
        assert report.read_ops >= report.n_files
    report.print()


def test_run_scan_isolates_bad_files(spark, datadir, tmp_path, capsys):
    """A corrupt file and a wrong-schema file each log and contribute 0 rows;
    the run continues (main.cc:267-271 semantics)."""
    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "good.parquet")
    (d / "corrupt.parquet").write_bytes(b"not a parquet file")
    good = run_scan(spark, [datadir], predicate="value > 0.5")
    mixed = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert mixed.total_rows == good.total_rows // 3
    assert mixed.n_files == 2
    err = capsys.readouterr().err
    assert "error scanning" in err and "corrupt.parquet" in err


def test_run_scan_arbitrary_predicate(spark, datadir):
    """The filter slot takes any Catalyst boolean expression
    (filter_arbitrary_predicate, main.cc:209/226)."""
    r = run_scan(
        spark, [datadir], predicate="event_type IN ('click','view') AND value > 0.9"
    )
    assert r.total_rows > 0


def test_disk_stats_parser():
    """iostats.h parser parity — only asserts shape (CI may lack disks)."""
    disks = os.listdir("/sys/block") if os.path.isdir("/sys/block") else []
    if not disks:
        pytest.skip("no /sys/block")
    s = read_disk_stats(disks[0])
    if s is not None:
        assert s.read_ops >= 0 and s.read_sectors >= 0


# ---------------------------------------------------------------------------
# Hostile-predicate robustness (round-6 verdict item 7): the reference's
# filter slot is an arbitrary SQL string (main.cc:164-169,209). These tests
# PIN the runner's behavior for each hostile shape: every parse/analysis
# error is isolated PER FILE (error_isolate_per_task semantics — the run
# completes, the file contributes 0 rows, stderr records it); no predicate
# shape can fail the whole run or execute anything beyond one boolean
# expression per scan.
# ---------------------------------------------------------------------------


def test_predicate_malformed_sql_isolated(spark, datadir, capsys):
    """Syntax garbage: every file logs a parse error and contributes 0;
    the run itself completes with full file accounting."""
    r = run_scan(spark, [datadir], predicate="value >>> ???")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_multi_statement_injection_isolated(spark, datadir, capsys):
    """A statement smuggled after a semicolon: the slot is ONE Catalyst
    boolean EXPRESSION, not a statement channel — the parse fails, the
    file is isolated, and nothing else executes."""
    r = run_scan(spark, [datadir], predicate="true; DROP TABLE events")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_missing_column_isolated(spark, datadir, capsys):
    """A predicate over a column no file has: analysis error per file,
    0 rows, run completes."""
    r = run_scan(spark, [datadir], predicate="no_such_column > 1")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


def test_predicate_non_boolean_isolated(spark, datadir, capsys):
    """A non-boolean expression in the filter slot (a bare numeric
    column): Spark's analyzer rejects it per file; isolated, 0 rows."""
    r = run_scan(spark, [datadir], predicate="value")
    assert r.total_rows == 0
    assert "error scanning" in capsys.readouterr().err


def test_predicate_null_literal_counts_zero_without_error(spark, datadir, capsys):
    """A NULL-typed predicate is VALID SQL: NULL is falsy in a filter, so
    every file scans cleanly and contributes 0 rows — no error lines."""
    r = run_scan(spark, [datadir], predicate="CAST(NULL AS BOOLEAN)")
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" not in capsys.readouterr().err


def test_predicate_always_true_counts_everything(spark, datadir, sf_dir):
    """Tautology: total = 3x the fixture's row count (3 copies), proving
    the hostile cases above return 0 by REJECTION, not by accident."""
    ev_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    r = run_scan(spark, [datadir], predicate="1 = 1")
    assert r.total_rows == 3 * ev_rows


def test_predicate_schema_mismatch_isolates_only_bad_files(
    spark, datadir, tmp_path, capsys
):
    """Heterogeneous dir: files WITH the predicate column count normally,
    files WITHOUT it are isolated — per-FILE granularity, not per-run."""
    d = tmp_path / "hetero"
    d.mkdir()
    shutil.copy(f"{datadir}/step0.parquet", d / "events.parquet")
    # a single FILE (not a Spark-written directory — the runner's per-file
    # enumeration skips directories) whose schema lacks `value`
    import pyarrow.parquet as pq

    t = pq.read_table(f"{datadir}/step0.parquet", columns=["event_id", "event_type"])
    pq.write_table(t, str(d / "slim.parquet"))
    whole = run_scan(spark, [datadir], predicate="value > 0.5")
    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    assert r.total_rows == whole.total_rows // 3  # the one good file
    assert "error scanning" in capsys.readouterr().err


def test_predicate_subquery_shape_pinned(spark, datadir, capsys):
    """A scalar subquery in the slot: pinned as ISOLATED — the per-file
    relation is anonymous, so the subquery can only resolve against
    whatever temp views happen to exist; against a name that does not,
    the analyzer rejects it per file and the run completes. (The name is
    deliberately one no other test registers: a bare `events` would
    resolve against a leftover temp view and scan cleanly.)"""
    r = run_scan(
        spark,
        [datadir],
        predicate="value > (SELECT 0.5 FROM events_subq_absent LIMIT 1)",
    )
    assert r.total_rows == 0
    assert r.n_files == 3
    assert "error scanning" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# Footer-schema grouping: run_scan reads every footer in the driver and runs
# one scan per group of files that infer the same schema. The counts must
# equal the per-file scans exactly; only the number of Spark jobs changes.
# ---------------------------------------------------------------------------


def _ungrouped_job_ids(spark) -> set[int]:
    """Ids of every job the status tracker holds that ran outside a job
    group — run_scan's pool threads never carry one. The listener bus is
    drained first, so a job that has just finished is already listed."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _groups(spark, paths):
    with ThreadPoolExecutor(2) as pool:
        return _group_by_footer(spark, paths, pool)


def _write_values(path, values, value_type) -> None:
    pq.write_table(
        pa.table({
            "id": pa.array(range(len(values)), pa.int64()),
            "value": pa.array(values, value_type),
        }),
        str(path),
    )


def test_run_scan_job_count_is_constant_per_group(spark, datadir):
    """Three same-schema files are one group: one schema-inference job plus
    the count's jobs, where a scan per file runs three jobs per file."""
    before = _ungrouped_job_ids(spark)
    r = run_scan(spark, [datadir], predicate="value > 0.5")
    jobs = _ungrouped_job_ids(spark) - before
    assert r.n_files == 3 and r.total_rows > 0
    assert 1 <= len(jobs) <= 3, sorted(jobs)


def test_run_scan_group_failure_falls_back_per_file(spark, tmp_path, capsys):
    """A file whose footer is valid but whose data pages are garbage groups
    with its healthy siblings, so the group scan fails. Only that file logs;
    the others are rescanned alone and counted exactly."""
    d = tmp_path / "pages"
    d.mkdir()
    values = [[(i * 7 + k) % 10 / 8 for i in range(5000)] for k in range(3)]
    for k, vals in enumerate(values):
        _write_values(d / f"step{k}.parquet", vals, pa.float64())
    bad = d / "step1.parquet"
    raw = bytearray(bad.read_bytes())
    footer_len = int.from_bytes(raw[-8:-4], "little")
    data_end = len(raw) - 8 - footer_len
    raw[4:data_end] = b"\xff" * (data_end - 4)  # page headers and pages
    bad.write_bytes(bytes(raw))

    r = run_scan(spark, [str(d)], predicate="value > 0.5")
    err = capsys.readouterr().err
    assert r.total_rows == sum(v > 0.5 for v in values[0] + values[2])
    assert r.n_files == 3
    assert err.count("error scanning") == 1 and "step1.parquet" in err


def test_footer_groups_split_on_physical_type(spark, tmp_path, capsys):
    """Same column names, different physical types (float vs double) in two
    data directories: the groups follow the footer type, not the directory,
    and the total equals the DuckDB count summed per file. A file whose name
    Spark's listing hides is never grouped and fails alone, as it did when
    every file had its own scan."""
    dirs = [tmp_path / "a", tmp_path / "b"]
    for j, d in enumerate(dirs):
        d.mkdir()
        for name, t in (("f32", pa.float32()), ("f64", pa.float64())):
            vals = [((i + j) % 9) / 4 for i in range(1000 + 100 * j)]
            _write_values(d / f"{name}.parquet", vals, t)
    shutil.copy(dirs[1] / "f64.parquet", dirs[1] / "_hidden.parquet")

    paths = _enumerate_files([str(d) for d in dirs])
    groups, alone = _groups(spark, paths)
    a, b = (str(d) for d in dirs)
    assert sorted(map(sorted, groups)) == [
        [f"{a}/f32.parquet", f"{b}/f32.parquet"],
        [f"{a}/f64.parquet", f"{b}/f64.parquet"],
    ]
    assert alone == [f"{b}/_hidden.parquet"]

    r = run_scan(spark, [a, b], predicate="value > 0.5")
    oracle = sum(
        duckdb.sql(f"SELECT count(*) FROM '{p}' WHERE value > 0.5").fetchone()[0]
        for p in paths
        if not p.endswith("_hidden.parquet")
    )
    assert r.total_rows == oracle
    assert r.n_files == 5
    err = capsys.readouterr().err
    assert err.count("error scanning") == 1 and "_hidden.parquet" in err


def test_footer_groups_stay_under_the_listing_threshold(spark, datadir, tmp_path):
    """A group larger than the path count at which Spark lists paths in a
    job of its own is split evenly; a one-file remainder is scanned alone.
    The total is unchanged."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    paths = []
    for i in range(5):
        paths.append(str(tmp_path / f"step{i}.parquet"))
        shutil.copy(f"{datadir}/step0.parquet", paths[-1])
    whole = run_scan(spark, [datadir], predicate="value > 0.5")
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        groups, alone = _groups(spark, paths)
        r = run_scan(spark, [str(tmp_path)], predicate="value > 0.5")
    finally:
        spark.conf.set(key, old)
    assert groups == [paths[0:2], paths[2:4]] and alone == paths[4:]
    assert r.total_rows == 5 * (whole.total_rows // 3)
