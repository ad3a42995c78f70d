from __future__ import annotations

from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.layout import range_cluster, zone_map


def _vals(spark, vals):
    return spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")


def test_uniform_values_split_evenly(spark):
    df = _vals(spark, range(800))
    out = range_cluster(df, "v")
    sizes = {r.cluster: r.n for r in out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sizes == {c: 100 for c in range(8)}


def test_boundary_tie_goes_to_lower_cluster(spark):
    # [0..8] in 8 clusters: the i/8 percentile lands exactly on i (integer
    # rank, interpolation exact) and i > i is false -> cluster i - 1
    df = _vals(spark, range(9))
    got = {r.v: r.cluster for r in range_cluster(df, "v").collect()}
    assert got == {0: 0, **{v: v - 1 for v in range(1, 9)}}


def test_cluster_is_pure_function_of_data(spark):
    df = _vals(spark, [5, 1, 9, 3, 7, 2, 8, 4, 6, 0])
    a = sorted((r.v, r.cluster) for r in range_cluster(df, "v").collect())
    b = sorted(
        (r.v, r.cluster)
        for r in range_cluster(df.repartition(7), "v").collect()
    )
    assert a == b  # unlike repartitionByRange's sampled boundaries


def test_zone_map_disjoint_and_complete(spark):
    df = _vals(spark, range(0, 1000, 3))
    zm = zone_map(range_cluster(df, "v"), "v").collect()
    assert len(zm) == 8
    assert all(r.disjoint for r in zm)
    assert sum(r.n_rows for r in zm) == df.count()
    rows = sorted(zm, key=lambda r: r.cluster)
    for prev, cur in zip(rows, rows[1:]):
        assert prev.max_v < cur.min_v


def test_assignment_is_map_only_broadcast(spark):
    # no shuffle on the fact side: the boundary row arrives by broadcast
    df = _vals(spark, range(50))
    plan = range_cluster(df, "v")._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


# ---------------------------------------------------------------- z-order


def _dims(spark, pairs):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "id long, da long, db long",
    )


def test_morton_interleave_known_values(spark):
    from java9_gc_log_parser_spark.operators.layout import zorder_cluster

    # da=0b11, db=0b01 -> z = 1a 0b 1a 1b = 0b1011 = 11 (the higher bit
    # pairs are all zero)
    got = {
        (r.da, r.db): r.zval
        for r in zorder_cluster(
            _dims(spark, [(0, 0), (3, 1), (1, 3), (3, 3)]), "da", "db"
        ).collect()
    }
    assert got == {(0, 0): 0, (3, 1): 11, (1, 3): 7, (3, 3): 15}


def test_zorder_cluster_is_rectangle_grid(spark):
    from java9_gc_log_parser_spark.operators.layout import zorder_cluster

    # 8x8 grid of step 128 over [0, 1024)^2, 4 cluster bits -> each
    # cluster must be one axis-aligned 256x256 rectangle holding 2x2 grid
    # points (the property that makes two-dim zone-map pruning sound)
    steps = range(0, 1024, 128)
    grid = _dims(spark, [(a, b) for a in steps for b in steps])
    rows = zorder_cluster(grid, "da", "db").collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, []).append((r.da, r.db))
    assert len(by_cluster) == 16
    quarters = [{q, q + 128} for q in range(0, 1024, 256)]
    for pts in by_cluster.values():
        las = {a for a, _ in pts}
        lbs = {b for _, b in pts}
        assert len(pts) == 4
        assert las in quarters
        assert lbs in quarters


def test_zorder_zone_map_prunes_both_dims(spark):
    from java9_gc_log_parser_spark.operators.layout import (
        zorder_cluster,
        zorder_zone_map,
    )

    steps = range(0, 1024, 64)
    grid = _dims(spark, [(a, b) for a in steps for b in steps])
    clustered = zorder_cluster(grid, "da", "db")
    zm = zorder_zone_map(
        clustered, "da", "db", probe_a=(0, 255), probe_b=(0, 255)
    ).collect()
    assert len(zm) == 16
    # a probe on EITHER single dim touches exactly 4 of 16 clusters
    assert sum(r.hit_a for r in zm) == 4
    assert sum(r.hit_b for r in zm) == 4
    # and the conjunction touches exactly 1
    assert sum(r.hit_a and r.hit_b for r in zm) == 1


def test_morton_sql_shared_text_matches_duckdb(spark):
    import duckdb

    from java9_gc_log_parser_spark.operators.layout import morton_sql

    expr = morton_sql("da", "db")
    pairs = [(a * 97 % 1024, a * 31 % 1024) for a in range(257)]
    got_spark = {
        (r.da, r.db): r.z
        for r in _dims(spark, pairs)
        .select("da", "db", F.expr(expr).cast("long").alias("z"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (da BIGINT, db BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    got_duck = {
        (a, b): z
        for a, b, z in con.execute(
            f"SELECT da, db, {expr} FROM t"
        ).fetchall()
    }
    assert got_spark == got_duck


def test_compaction_plan_sequential_bins_and_straddle(spark):
    from java9_gc_log_parser_spark.operators.layout import compaction_plan

    df = spark.createDataFrame(
        [
            # partition A: 60+60 -> bin0 (prefix 0, 60); 100 -> bin1
            # (prefix 120); 300 straddles -> bin2 (prefix 220), over 2x
            ("A", 1, 60), ("A", 2, 60), ("A", 3, 100), ("A", 4, 300),
            # partition B independent
            ("B", 1, 50),
        ],
        "source string, file_id int, bytes long",
    )
    out = {
        (r["source"], r["bin"]): r
        for r in compaction_plan(df, target_bytes=100).collect()
    }
    assert out[("A", 0)]["n_files"] == 2
    assert out[("A", 0)]["total_bytes"] == 120
    assert (out[("A", 0)]["first_file"], out[("A", 0)]["last_file"]) == (1, 2)
    assert not out[("A", 0)]["over_target"]
    assert out[("A", 1)]["n_files"] == 1 and out[("A", 1)]["total_bytes"] == 100
    assert out[("A", 2)]["over_target"]  # 300 > 2 * 100
    assert out[("B", 0)]["n_files"] == 1
    assert len(out) == 4


def test_compaction_apply_reduces_files_and_preserves_content(spark, tmp_path):
    import hashlib

    from java9_gc_log_parser_spark.operators.layout import compaction_apply

    docs = spark.createDataFrame(
        [(i, f"text {i} " * 5, "s%d" % (i % 2), 1000) for i in range(120)],
        ["doc_id", "text", "source", "n_chars"],
    )
    out = {
        r["source"]: r
        for r in compaction_apply(docs, str(tmp_path / "cmp")).collect()
    }
    for src in ("s0", "s1"):
        a = out[src]
        assert 1 < a["n_files_after"] < a["n_files_before"]
        assert a["rows_before"] == a["rows_after"] == 60
        # checksum equals the python-computed expectation over raw docs
        exp = sum(
            int(hashlib.md5((f"text {i} " * 5).encode()).hexdigest()[:8], 16)
            for i in range(120)
            if "s%d" % (i % 2) == src
        )
        assert a["content_sum"] == exp
    # the after table on disk really holds one file per (source, bin)
    after = spark.read.parquet(str(tmp_path / "cmp" / "after"))
    n_dirs = after.select("source", "bin").distinct().count()
    n_files = after.select("_metadata.file_path").distinct().count()
    assert n_files == n_dirs
