"""Storage-seam tests: format dispatch, schema discipline for text formats,
and JSONL round-trip fidelity (incl. timestamp micros)."""

from __future__ import annotations

import datetime

import pytest

from java9_gc_log_parser_spark.storage import (
    TableRef,
    read_table,
    write_table,
)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

ROWS = [
    ("c1", 0, "user", "[1.001s][info][gc] GC(3) text", None,
     datetime.datetime(2024, 1, 1, 0, 0, 1, 778549)),
    ("c1", 1, "assistant", "plain text", "bash",
     datetime.datetime(2024, 1, 1, 0, 2, 3, 5)),
]


@pytest.mark.parametrize("fmt", ["jsonl"])
def test_text_format_roundtrip(spark, tmp_path, fmt):
    df = spark.createDataFrame(ROWS, SCHEMA)
    ref = TableRef(str(tmp_path / f"t_{fmt}"), format=fmt, schema=SCHEMA)
    write_table(df, ref)
    back = read_table(spark, ref)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_text_format_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="schema"):
        read_table(spark, TableRef(str(tmp_path / "x"), format="jsonl"))


@pytest.mark.parametrize("fmt, inference_jobs", [("parquet", 1), ("orc", 0)])
def test_columnar_read_with_known_schema_runs_no_job(spark, tmp_path, fmt,
                                                     inference_jobs):
    """A parquet/orc read given the schema it was written with runs no job.
    Inferring the schema instead costs parquet a one-task footer job; orc
    reads its footer on the driver."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / f"t_{fmt}")
    write_table(df, TableRef(path, format=fmt))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, ref):
        sc.setJobGroup(group, group)
        try:
            back = read_table(spark, ref)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return back, tracker.getJobIdsForGroup(group)

    known, jobs = jobs_of(f"known-{fmt}", TableRef(path, fmt, schema=df.schema))
    assert jobs == []
    assert known.schema == df.schema
    assert sorted(map(tuple, known.collect())) == sorted(map(tuple, df.collect()))
    _, jobs = jobs_of(f"inferred-{fmt}", TableRef(path, fmt))
    assert len(jobs) == inference_jobs


def test_parquet_scan_stats(spark, tmp_path):
    from java9_gc_log_parser_spark.storage import table_scan_stats

    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "t_stats")
    write_table(df, path)
    n_files, n_bytes = table_scan_stats(spark, path)
    assert n_files >= 1
    assert n_bytes > 0


def test_scan_stats_of_one_partition(spark, tmp_path):
    """``partition=(col, value)`` lists only that partition's files; a
    parquet table has no snapshot id."""
    from java9_gc_log_parser_spark.storage import (
        current_snapshot_id,
        table_scan_stats,
    )

    ref = TableRef(str(tmp_path / "t_part"), partition_by=("role",))
    write_table(spark.createDataFrame(ROWS, SCHEMA), ref)
    n_files, n_bytes = table_scan_stats(spark, ref, partition=("role", "user"))
    assert n_files >= 1
    assert 0 < n_bytes < table_scan_stats(spark, ref)[1]
    assert table_scan_stats(spark, ref, partition=("role", "nobody")) == (0, 0)
    assert current_snapshot_id(spark, ref) is None


def test_orc_roundtrip_partitioned_pushdown(spark, tmp_path):
    """ORC leg parity with parquet: partitioned write, partition-column
    recovery on read, timestamp-micros fidelity, predicate pushdown into
    the ORC scan, and scan stats counting .orc files."""
    from java9_gc_log_parser_spark.storage import table_scan_stats

    df = spark.createDataFrame(ROWS, SCHEMA)
    ref = TableRef(
        str(tmp_path / "t_orc"), format="orc", partition_by=("role",)
    )
    write_table(df, ref)
    back = read_table(spark, ref)
    assert sorted(back.columns) == sorted(df.columns)
    assert sorted(
        map(tuple, back.select(*df.columns).collect())
    ) == sorted(map(tuple, df.collect()))

    filtered = back.filter("role = 'user' AND turn_idx >= 0")
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    # role is a partition dir -> PartitionFilters; turn_idx is a data
    # predicate -> PushedFilters into the ORC reader
    assert "PartitionFilters" in plan and "role" in plan
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(turn_idx,0)" in plan

    n_files, n_bytes = table_scan_stats(spark, ref)
    assert n_files >= 2  # one per role partition
    assert n_bytes > 0


def test_merge_schema_surfaces_evolved_column_as_null(spark, tmp_path):
    root = str(tmp_path / "evo")
    v1 = spark.createDataFrame([(1, "a")], "id long, s string")
    v2 = spark.createDataFrame([(2, "b", 9.5)],
                               "id long, s string, q double")
    write_table(v1, f"{root}/batch=1")
    write_table(v2, f"{root}/batch=2")
    merged = read_table(spark, TableRef(root, merge_schema=True))
    rows = {r["id"]: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "s", "q", "batch"}
    assert rows[1]["q"] is None and rows[1]["batch"] == 1
    assert rows[2]["q"] == 9.5


def test_iceberg_unavailable_raises_clear_error(spark, tmp_path):
    """Without the runtime jar the Iceberg leg must fail fast with an
    actionable message, not a deep ClassNotFoundException from the JVM."""
    from java9_gc_log_parser_spark.storage import iceberg_available

    if iceberg_available(spark):
        pytest.skip("Iceberg runtime present — covered by the real-leg tests")
    ref = TableRef("local.db.t", format="iceberg")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_table(spark, ref)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_table(spark.createDataFrame(ROWS, SCHEMA), ref)


def test_overwrite_where_requires_iceberg(spark, tmp_path):
    with pytest.raises(ValueError, match="overwrite_where"):
        write_table(
            spark.createDataFrame(ROWS, SCHEMA),
            str(tmp_path / "t_ow"),
            overwrite_where="turn_idx = 0",
        )


def _iceberg_or_skip(spark):
    from java9_gc_log_parser_spark.storage import iceberg_available

    if not iceberg_available(spark):
        pytest.skip(
            "no Iceberg Spark runtime on the classpath (this sandbox ships "
            "none); on a cluster run with --packages "
            "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13 and a "
            "configured catalog"
        )


def test_iceberg_roundtrip_and_overwrite_partitions(spark, tmp_path):
    """Real-leg test: create partitioned table, append, dynamic-overwrite one
    partition, snapshot pin. Skips when the runtime jar is absent."""
    _iceberg_or_skip(spark)
    from java9_gc_log_parser_spark.storage import current_snapshot_id

    ref = TableRef(
        "local.db.transcripts_rt", format="iceberg", partition_by=("role",)
    )
    df = spark.createDataFrame(ROWS, SCHEMA)
    write_table(df, ref)
    snap1 = current_snapshot_id(spark, ref)
    assert read_table(spark, ref).count() == len(ROWS)
    write_table(df.filter("role = 'user'"), ref, mode="append")
    assert read_table(spark, ref).count() == len(ROWS) + 1
    # time travel back to the first snapshot
    pinned = TableRef(ref.location, format="iceberg", snapshot_id=snap1)
    assert read_table(spark, pinned).count() == len(ROWS)
    # incremental read: only rows committed after snap1
    inc = TableRef(ref.location, format="iceberg", start_snapshot_id=snap1)
    assert read_table(spark, inc).count() == 1


def test_iceberg_scan_stats_from_metadata(spark, tmp_path):
    _iceberg_or_skip(spark)
    from java9_gc_log_parser_spark.storage import table_scan_stats

    ref = TableRef("local.db.transcripts_stats", format="iceberg")
    write_table(spark.createDataFrame(ROWS, SCHEMA), ref)
    n_files, n_bytes = table_scan_stats(spark, ref)
    assert n_files >= 1
    assert n_bytes > 0


def test_bucketed_table_roundtrip_and_validation(spark, tmp_path):
    from java9_gc_log_parser_spark.storage import (
        TableRef,
        read_table,
        write_table,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    )
    ref = TableRef(
        str(tmp_path / "bkt"),
        bucket_by=("k",),
        n_buckets=4,
        sort_by=("k",),
        name="t_storage_bkt",
    )
    write_table(df.repartition(4, "k"), ref)
    back = read_table(spark, ref)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # the read must come from the catalog entry (bucket metadata attached):
    # a self-join on the bucket key plans with zero exchange
    j = back.hint("merge").join(
        read_table(spark, ref).withColumnRenamed("v", "v2"), "k"
    )
    assert "Exchange" not in j._jdf.queryExecution().executedPlan().toString()
    # misconfigured refs fail loudly, not silently as plain parquet
    import pytest

    with pytest.raises(ValueError, match="needs a catalog"):
        write_table(df, TableRef(str(tmp_path / "x"), bucket_by=("k",), n_buckets=4))
    with pytest.raises(ValueError, match="n_buckets"):
        write_table(
            df, TableRef(str(tmp_path / "y"), bucket_by=("k",), name="t_y")
        )
    with pytest.raises(ValueError, match="needs a catalog"):
        read_table(spark, TableRef(str(tmp_path / "bkt"), bucket_by=("k",)))
