"""Streaming assembly vs batch assembly (SURVEY §2.9).

The stream's carry-over fold keeps the lines of open groups across
micro-batches and emits an event exactly once when complete; stragglers (end
present, never completed) are dead-lettered when event time moves past them.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pyspark.errors import StreamingQueryException

from java9_gc_log_parser_spark.functions.parse import parse_lines
from java9_gc_log_parser_spark.operators.assemble import (
    assemble_groups,
    assembled_pauses_from_groups,
    assembly_dead_letters_from_groups,
)
from java9_gc_log_parser_spark.operators.route import supported_types_filter
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts
from java9_gc_log_parser_spark.streaming.assembler import assemble_stream

INPUT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)
T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
START7 = ("[1.4s][info][gc,start     ] GC(7) Pause Young "
          "(G1 Evacuation Pause)")
END7 = ("[1.5s][info][gc           ] GC(7) Pause Young "
        "(G1 Evacuation Pause) 10M->5M(64M) 2.0ms")


def _sentinel(event_id):
    """A start-only line of a fresh group: it moves event time and parks in
    the carry as a dangling group, which changes no output."""
    return (f"[99.0s][info][gc,start     ] GC({event_id}) Pause Young "
            "(G1 Evacuation Pause)")


def _write_files(spark, src, files):
    """One parquet file per list of ``(conv_id, turn_idx, text, ts)``, in
    order, so ``max_files_per_trigger=1`` delivers one per trigger."""
    for rows in files:
        spark.createDataFrame(
            [(c, t, "assistant", text, None, ts) for c, t, text, ts in rows],
            INPUT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)


def _drain(spark, src, root, out, **kw):
    """Drain the fold over ``src`` with availableNow, writing every closed
    group under ``out``."""

    def emit(closed, batch_id, last):
        closed.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")
        return {}

    q = assemble_stream(spark, src, INPUT_SCHEMA, root, emit, **kw)
    assert q.awaitTermination(300)


def _closed_rows(spark, out):
    """Every closed group under ``out`` as a verdict row: ok groups as the
    pause table, the rest as dead letters with the error code as
    ``verdict``."""
    groups = spark.read.parquet(out)
    ok = assembled_pauses_from_groups(groups).withColumn("verdict", F.lit("ok"))
    dead = assembly_dead_letters_from_groups(groups).withColumnRenamed(
        "error_code", "verdict")
    return ok.unionByName(dead, allowMissingColumns=True)


@pytest.fixture(scope="module")
def stream_source(spark, sf_dir, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("stream") / "transcripts.parquet")
    # round-robin repartition scatters one event's lines across many files on
    # purpose: micro-batches then deliver them out of order across triggers
    synth_transcripts(spark, sf_dir).repartition(32).write.mode(
        "overwrite"
    ).parquet(p)
    return p


def test_streaming_matches_batch_assembly(spark, stream_source, tmp_path):
    _drain(spark, stream_source, str(tmp_path / "fold"), str(tmp_path / "out"))
    got = _closed_rows(spark, str(tmp_path / "out"))
    got_ok = sorted(
        [
            (r.conv_id, r.event_id, r.pause_type, r.offset_ms, r.duration_ms,
             r.eden_after, r.humongous_after)
            for r in got.filter("verdict = 'ok'").collect()
        ]
    )
    # every ok event emitted exactly once, despite cross-batch reordering
    batch_filtered = supported_types_filter(
        parse_lines(spark.read.parquet(stream_source))
    )
    want_ok = sorted(
        [
            (r.conv_id, r.event_id, r.pause_type, r.offset_ms, r.duration_ms,
             r.eden_after, r.humongous_after)
            for r in assembled_pauses_from_groups(
                assemble_groups(batch_filtered)).collect()
        ]
    )
    assert got_ok == want_ok and len(got_ok) > 0
    # error groups are stragglers awaiting expiry; without lateness_ms
    # they stay in the carry and must NOT have been emitted
    assert got.filter("verdict <> 'ok'").count() == 0
    # ...and the batch assembler confirms they exist in this input
    assert assembly_dead_letters_from_groups(
        assemble_groups(batch_filtered)).count() > 0


def test_event_time_watermark_dead_letter(spark, tmp_path):
    """Event-time lateness: a straggler dead-letters only when the WATERMARK
    (data time) moves `lateness` past it — never on wall clock — and carries
    the batch assembler's byte-identical error message. A group completed
    within the lateness window must emit ok and never dead-letter."""
    import datetime

    from pyspark.sql import Row

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def drain():
        _drain(spark, src, ck, out, lateness_ms=5000)

    def read_out():
        return _closed_rows(spark, out)

    rows = [
        # straggler: end with no start (GC(7), Young => needs start+regions)
        Row(conv_id="c1", turn_idx=0, role="assistant",
            text="[1.5s][info][gc           ] GC(7) Pause Young "
                 "(G1 Evacuation Pause) 10M->5M(64M) 2.0ms",
            tool=None, ts=t0),
        # complete Remark group (start+end suffice, no regions)
        Row(conv_id="c1", turn_idx=1, role="assistant",
            text="[2.0s][info][gc,start     ] GC(9) Pause Remark",
            tool=None, ts=t0),
        Row(conv_id="c1", turn_idx=2, role="assistant",
            text="[2.1s][info][gc           ] GC(9) Pause Remark "
                 "11M->10M(64M) 1.0ms",
            tool=None, ts=t0 + datetime.timedelta(seconds=2)),
    ]
    spark.createDataFrame(rows, INPUT_SCHEMA).write.mode("append").parquet(src)
    drain()
    got = read_out()
    assert got.filter("verdict = 'ok'").count() == 1  # Remark completed
    # wall clock has LONG passed 5s of event time relative to nothing —
    # but the watermark hasn't moved past t0+5s, so no dead letter yet
    assert got.filter("verdict <> 'ok'").count() == 0

    # watermark advance via ONE parseable start-only line with a later
    # event time (unmatched free text never moves the high-water mark; a
    # start-only group parks in the carry as a dangling group that both
    # engines silently discard). A single drain suffices: the sentinel's
    # batch advances the watermark, and expiry is decided at the end of
    # that same batch.
    Rowi = Row(conv_id="wm", turn_idx=0, role="assistant",
               text="[99.0s][info][gc,start     ] GC(9001) Pause Young "
                    "(G1 Evacuation Pause)",
               tool=None, ts=t0 + datetime.timedelta(minutes=10))
    spark.createDataFrame([Rowi], INPUT_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    drain()

    errs = read_out().filter("verdict <> 'ok'").collect()
    assert len(errs) == 1
    assert errs[0].verdict == "end_before_start"
    assert errs[0].event_id == 7
    assert errs[0].error_message == (
        "Received PauseEnd before PauseStart. Either a bug or invalid GC "
        "log. EventId: 7"
    )


def test_stream_conv_state_matches_batch_final(spark, stream_source, tmp_path):
    """After the snapshot stream drains, the cumulative state equals the
    batch conv_state_final over the same input, and every micro-batch left a
    state generation + a metrics heartbeat line."""
    import json
    import os

    from java9_gc_log_parser_spark.operators.aggregate import conv_state_final
    from java9_gc_log_parser_spark.streaming.state_stream import (
        final_state,
        stream_conv_state,
    )

    out_root = str(tmp_path / "state_stream")
    q = stream_conv_state(spark, stream_source, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=8)
    q.awaitTermination(300)

    got = sorted(map(tuple, final_state(spark, out_root).collect()))
    batch_filtered = supported_types_filter(
        parse_lines(spark.read.parquet(stream_source))
    )
    want = sorted(
        map(tuple, conv_state_final(assembled_pauses_from_groups(
            assemble_groups(batch_filtered))).collect())
    )
    assert got == want and len(got) > 0

    with open(os.path.join(out_root, "metrics.jsonl")) as f:
        metrics = [json.loads(line) for line in f]
    assert len(metrics) >= 2  # several micro-batches actually ran
    assert {m["batch_id"] for m in metrics} == set(range(len(metrics)))
    gens = os.listdir(os.path.join(out_root, "state_gens"))
    assert len(gens) == len(metrics)
    for m in metrics:  # the observed convs is the generation's row count
        gen = os.path.join(out_root, "state_gens", f"batch={m['batch_id']}")
        assert m["convs"] == spark.read.parquet(gen).count()


def test_stream_conv_state_survives_triggers_that_close_no_group(spark,
                                                                 tmp_path):
    """Triggers holding only PauseStarts close no group: their heartbeat
    reads ``events == 0`` and the previous ``convs`` (0 before any state),
    and the stream drains without waiting on an observation."""
    import os

    from java9_gc_log_parser_spark import commit_log
    from java9_gc_log_parser_spark.streaming.state_stream import (
        final_state,
        stream_conv_state,
    )

    src, out_root = str(tmp_path / "src"), str(tmp_path / "state")
    heap = "[1.5s][info][gc,heap      ] GC(7) "
    _write_files(spark, src, [
        [("c0", 0, _sentinel(9001), T0)],
        [("c1", 0, START7, T0),
         ("c1", 1, heap + "Eden regions: 25->0(21)", T0),
         ("c1", 2, heap + "Survivor regions: 0->4(21)", T0),
         ("c1", 3, heap + "Old regions: 0->4", T0),
         ("c1", 4, heap + "Humongous regions: 0->4", T0),
         ("c1", 5, END7, T0)],
        [("c2", 0, _sentinel(9002), T0)],
    ])
    q = stream_conv_state(spark, src, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=1)
    assert q.awaitTermination(300)

    beats = sorted(commit_log.records(os.path.join(out_root, "metrics.jsonl")),
                   key=lambda b: b["batch_id"])
    assert [(b["events"], b["convs"]) for b in beats] == [(0, 0), (1, 1), (0, 1)]
    [c1] = final_state(spark, out_root).collect()
    assert (c1.conv_id, c1.young_gcs) == ("c1", 1)


def test_state_replay_idempotent_and_pointer_atomic(spark, stream_source, tmp_path):
    """A replayed batch_id (at-least-once foreachBatch recovery) must not
    double-count. Deleting the stream's OWN checkpoint while keeping the
    state makes the re-run re-fire batch ids from 0, below the last commit:
    the commit-log guard refuses the run before it writes anything."""
    import os
    import shutil

    from java9_gc_log_parser_spark.commit_log import last_batch
    from java9_gc_log_parser_spark.streaming.state_stream import (
        final_state,
        stream_conv_state,
    )

    out_root = str(tmp_path / "state_replay")
    log = os.path.join(out_root, "metrics.jsonl")
    q = stream_conv_state(spark, stream_source, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=16)
    q.awaitTermination(300)

    before = sorted(map(tuple, final_state(spark, out_root).collect()))
    last = last_batch(log)
    assert last is not None and last >= 1
    with open(os.path.join(out_root, "metrics.jsonl")) as f:
        metrics_before = f.read()
    gens_before = sorted(os.listdir(os.path.join(out_root, "state_gens")))

    # lose the streaming engine's checkpoint, keep the applied state
    shutil.rmtree(os.path.join(out_root, "ckpt"))
    q2 = stream_conv_state(spark, stream_source, INPUT_SCHEMA, out_root,
                           max_files_per_trigger=16)
    with pytest.raises(StreamingQueryException,
                       match=f"batch 0 arrived after batch {last}"):
        q2.awaitTermination(300)

    assert last_batch(log) == last
    assert sorted(map(tuple, final_state(spark, out_root).collect())) == before
    with open(os.path.join(out_root, "metrics.jsonl")) as f:
        assert f.read() == metrics_before  # heartbeat not duplicated
    assert sorted(os.listdir(os.path.join(out_root, "state_gens"))) == gens_before


def test_atleastonce_dedup_drops_redeliveries(spark, tmp_path):
    """The q55 shape on a tiny corpus: a doubled delivery (every third turn
    redelivered into different files) drains to exactly the original rows —
    and the delivery genuinely contained duplicates (non-vacuous)."""
    from pyspark.sql import functions as F

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    tdf = synth_transcripts(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "src")
    tdf.repartition(8).write.parquet(src)
    tdf.filter(F.col("turn_idx") % 3 == 0).repartition(8).write.mode(
        "append"
    ).parquet(src)
    n_orig = tdf.count()
    n_delivered = spark.read.parquet(src).count()
    assert n_delivered > n_orig  # redeliveries really present
    lo, hi = tdf.agg(F.min("ts"), F.max("ts")).first()
    delay_s = int((hi - lo).total_seconds()) + 60
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
        .withWatermark("ts", f"{delay_s} seconds")
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_orig
    # row-for-row equality with the original (exceptAll both ways is empty)
    assert out.exceptAll(tdf).count() == 0
    assert tdf.exceptAll(out).count() == 0


def test_stream_window_agg_withholds_live_tail(spark, tmp_path):
    """Append-mode watermark semantics: windows past the final watermark
    (max_ts - delay) are withheld from the sink; emitted windows match the
    batch aggregation exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    # 3 six-hour windows of data; max ts 14:31 -> final watermark 12:31
    # with a 2h delay -> 00-06 and 06-12 emit (ends 06:00/12:00 < 12:31),
    # the 12-18 window is withheld. The watermark boundary is EXCLUSIVE
    # (a window whose end equals the watermark is withheld), so the
    # fixture keeps every window end strictly off the watermark.
    rows = []
    for h, n in ((1, 4), (7, 3), (14, 2)):
        for i in range(n):
            rows.append((f"c{i}", i, "user", "hi", None,
                         t0 + dt.timedelta(hours=h, minutes=30 * i + 1)))
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp",
    )
    src = str(tmp_path / "src")
    df.repartition(4).write.parquet(src)
    q = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "role", "n")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r["ws"], r["n"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {(t0, 4), (t0 + dt.timedelta(hours=6), 3)}
    # the 12:00 window exists in the data but is past the watermark
    assert all(ws < t0 + dt.timedelta(hours=12) for ws, _ in got)


def test_stream_stream_join_pairs_across_micro_batches(spark, tmp_path):
    """The property that distinguishes a stream-stream join from a
    per-batch join: the user turn arrives in trigger 1, its assistant
    reply in trigger 2 (one file per trigger), and the pair must still be
    emitted from join state."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp"
    )
    users = spark.createDataFrame(
        [("c1", 0, "user", "q", None, t0),
         ("c2", 0, "user", "q", None, t0)], schema)
    assts = spark.createDataFrame(
        [("c1", 1, "assistant", "a", None, t0 + dt.timedelta(minutes=2)),
         # out of range: 20 min > the 10-min bound -> must NOT pair
         ("c2", 1, "assistant", "a", None, t0 + dt.timedelta(minutes=20))],
        schema)
    src = str(tmp_path / "src")
    users.coalesce(1).write.parquet(src)
    assts.coalesce(1).write.mode("append").parquet(src)

    def side(role, names):
        return (
            spark.readStream.schema(users.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .filter(F.col("role") == role)
            .withWatermark("ts", "1 hour")
            .select(F.col("conv_id").alias(names[0]),
                    F.col("turn_idx").alias(names[1]),
                    F.col("ts").alias(names[2]))
        )

    q = (
        side("user", ("lc", "lt", "lts"))
        .join(
            side("assistant", ("rc", "rt", "rts")),
            F.expr("lc = rc AND rts >= lts "
                   "AND rts < lts + INTERVAL 10 MINUTES"),
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {(r["lc"], r["rt"])
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {("c1", 1)}  # cross-batch pair found, out-of-range absent


def test_stream_cms_maintenance_is_truly_incremental(spark, sf_dir):
    """The drained incremental grid equals the batch grid cell-for-cell AND
    the run really went through multiple merge generations (not one big
    batch)."""
    import glob
    import os

    import __spark_entry__ as entrymod
    from java9_gc_log_parser_spark.operators.sketches import cms_sketch

    got = sorted(
        map(tuple, entrymod.q67_stream_cms_maintenance(spark, sf_dir).collect())
    )
    want = sorted(
        map(
            tuple,
            cms_sketch(spark.read.parquet(f"{sf_dir}/documents.parquet"))
            .selectExpr(
                "cast(row as int) row",
                "cast(bucket as int) bucket",
                "cast(total as long) total",
            )
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    root = entrymod._scratch(sf_dir, "q67")
    gens = glob.glob(os.path.join(root, "gens", "batch=*"))
    assert len(gens) >= 2, gens  # merge path exercised across micro-batches


def test_cross_trigger_duplicate_region_last_turn_wins(spark, tmp_path):
    """Two Eden lines of one group in different triggers: the line of the
    higher turn wins, as in the batch assembler, even when the lower turn
    arrives later (Eden 25->0 at turn 5 beats 25->7 at turn 3)."""
    src = str(tmp_path / "src")
    heap = "[9.0s][info][gc,heap      ] GC(7) "
    _write_files(spark, src, [
        [("c1", 0, START7, T0), ("c1", 5, heap + "Eden regions: 25->0(21)", T0)],
        [("c1", 3, heap + "Eden regions: 25->7(21)", T0)],
        [("c1", 6, heap + "Survivor regions: 0->4(21)", T0),
         ("c1", 7, heap + "Old regions: 0->4", T0),
         ("c1", 8, heap + "Humongous regions: 0->4", T0),
         ("c1", 9, END7, T0)],
    ])
    _drain(spark, src, str(tmp_path / "fold"), str(tmp_path / "out"),
           max_files_per_trigger=1)
    got = _closed_rows(spark, str(tmp_path / "out"))
    want = assembled_pauses_from_groups(assemble_groups(
        supported_types_filter(parse_lines(spark.read.parquet(src)))
    ))
    got_ok = [r.asDict() for r in got.filter("verdict = 'ok'")
              .select(*want.columns).collect()]
    assert got_ok == [r.asDict() for r in want.collect()]
    assert got_ok[0]["eden_after"] == 0


def test_carry_holds_one_row_per_open_group(spark, tmp_path):
    """A PauseStart and two region lines of one event leave one carry row,
    the group's merged partial, not the three lines."""
    src, fold = str(tmp_path / "src"), str(tmp_path / "fold")
    heap = "[1.5s][info][gc,heap      ] GC(7) "
    _write_files(spark, src, [[
        ("c1", 0, START7, T0),
        ("c1", 1, heap + "Eden regions: 25->0(21)", T0),
        ("c1", 2, heap + "Survivor regions: 0->4(21)", T0),
    ]])
    _drain(spark, src, fold, str(tmp_path / "out"))
    [row] = spark.read.parquet(f"{fold}/carry/batch=0").collect()
    assert (row.conv_id, row.event_id, row.has_start, row.has_end) == (
        "c1", 7, True, False)
    assert (row.has_eden, row.has_survivor, row.has_old) == (True, True, False)


def test_stream_heartbeats_through_empty_carry_and_empty_trigger(spark,
                                                                 tmp_path):
    """Three triggers: one closes every group (empty carry), one holds no
    supported line (nothing to merge at all), one adds an event. Every
    heartbeat is committed, ``hwm_ms`` is the newest supported line's
    ``ts`` so far, and the final state equals the batch final state."""
    import os

    from java9_gc_log_parser_spark import commit_log
    from java9_gc_log_parser_spark.operators.aggregate import conv_state_final
    from java9_gc_log_parser_spark.operators.assemble import assembly_verdict
    from java9_gc_log_parser_spark.streaming.state_stream import (
        final_state,
        stream_conv_state,
    )

    src, out_root = str(tmp_path / "src"), str(tmp_path / "state")
    heap = "[1.5s][info][gc,heap      ] GC(7) "
    event = [START7, *(heap + r for r in (
        "Eden regions: 25->0(21)", "Survivor regions: 0->4(21)",
        "Old regions: 0->4", "Humongous regions: 0->4")), END7]
    t1, t_free, t3 = (T0 + dt.timedelta(seconds=s) for s in (5, 3600, 60))
    _write_files(spark, src, [
        [("c1", i, line, T0 if i < 5 else t1) for i, line in enumerate(event)],
        [("c1", 6, "free text, no GC line", t_free)],
        [("c2", i, line, t3) for i, line in enumerate(event)],
    ])
    q = stream_conv_state(spark, src, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=1)
    assert q.awaitTermination(300)

    def ms(ts):
        return spark.createDataFrame([(ts,)], "ts timestamp").selectExpr(
            "unix_millis(ts)").first()[0]

    beats = sorted(commit_log.records(os.path.join(out_root, "metrics.jsonl")),
                   key=lambda b: b["batch_id"])
    assert [b["batch_id"] for b in beats] == [0, 1, 2]
    assert [b["hwm_ms"] for b in beats] == [ms(t1), ms(t1), ms(t3)]
    assert [(b["events"], b["convs"]) for b in beats] == [(1, 1), (0, 1), (1, 2)]
    # batch 0 merged one group and closed it: nothing is carried
    carry0 = spark.read.parquet(os.path.join(out_root, "carry", "batch=0"))
    assert [r.verdict for r in assembly_verdict(carry0).collect()] == ["ok"]
    ok = assembled_pauses_from_groups(assemble_groups(
        supported_types_filter(parse_lines(spark.read.parquet(src)))))
    assert sorted(map(tuple, final_state(spark, out_root).collect())) == sorted(
        map(tuple, conv_state_final(ok).collect()))


def test_resume_under_another_lateness_keeps_the_carry(spark, tmp_path):
    """A straggler expires under a 5 s lateness and is dead-lettered. A
    resume without lateness must not carry it again: its start and region
    lines then form a new dangling group, not a second, ok emission."""
    src, fold, out = (str(tmp_path / d) for d in ("src", "fold", "out"))
    heap = "[1.5s][info][gc,heap      ] GC(7) "
    later = T0 + dt.timedelta(seconds=21)
    _write_files(spark, src, [
        [("c1", 5, END7, T0)],
        [("wm", 0, _sentinel(9001), T0 + dt.timedelta(seconds=20))],
    ])
    _drain(spark, src, fold, out, lateness_ms=5000, max_files_per_trigger=1)
    _write_files(spark, src, [[
        ("c1", 0, START7, later),
        *((("c1", i, heap + r, later) for i, r in enumerate((
            "Eden regions: 25->0(21)", "Survivor regions: 0->4(21)",
            "Old regions: 0->4", "Humongous regions: 0->4"), start=1))),
    ]])
    _drain(spark, src, fold, out, max_files_per_trigger=1)
    got = [(r.event_id, r.verdict) for r in _closed_rows(spark, out).collect()]
    assert got == [(7, "end_before_start")]


@pytest.mark.parametrize("past_ms, fires", [(0, False), (1, True)])
def test_expiry_is_strictly_behind_the_watermark(spark, tmp_path, past_ms,
                                                 fires):
    """A straggler whose newest line is at t0 expires when t0 + lateness is
    strictly behind the watermark (high-water mark - lateness): a sentinel
    at exactly t0 + 2 * lateness does not fire it, one 1 ms later does."""
    src = str(tmp_path / "src")
    lateness = dt.timedelta(milliseconds=5000)
    _write_files(spark, src, [
        [("c1", 0, END7, T0)],
        [("wm", 0, _sentinel(9001),
          T0 + 2 * lateness + dt.timedelta(milliseconds=past_ms))],
    ])
    _drain(spark, src, str(tmp_path / "fold"), str(tmp_path / "out"),
           lateness_ms=5000, max_files_per_trigger=1)
    got = [(r.event_id, r.verdict)
           for r in _closed_rows(spark, str(tmp_path / "out")).collect()]
    assert got == ([(7, "end_before_start")] if fires else [])


@pytest.mark.parametrize("start_after_wm_ms, verdict",
                         [(0, "end_before_start"), (1, "missing_regions")])
def test_line_at_or_behind_the_watermark_is_dropped(spark, tmp_path,
                                                    start_after_wm_ms,
                                                    verdict):
    """A PauseStart at the watermark of earlier batches is dropped before
    the fold, so the straggler keeps its end_before_start verdict; 1 ms
    later it joins the group, which then dead-letters as missing_regions.
    The filler batch between the watermark's move and the PauseStart makes
    the case independent of the batch in which a watermark takes effect."""
    src = str(tmp_path / "src")
    wm = T0 + dt.timedelta(seconds=1)  # 6 s high-water mark - 5 s lateness
    _write_files(spark, src, [
        [("c1", 1, END7, T0), ("wm", 0, _sentinel(9001), T0 + dt.timedelta(seconds=6))],
        [("f1", 0, _sentinel(9002), T0 + dt.timedelta(seconds=6))],
        [("c1", 0, START7,
          wm + dt.timedelta(milliseconds=start_after_wm_ms))],
        [("wm", 1, _sentinel(9003), T0 + dt.timedelta(seconds=30))],
    ])
    _drain(spark, src, str(tmp_path / "fold"), str(tmp_path / "out"),
           lateness_ms=5000, max_files_per_trigger=1)
    got = [(r.conv_id, r.event_id, r.verdict)
           for r in _closed_rows(spark, str(tmp_path / "out")).collect()]
    assert got == [("c1", 7, verdict)]


def test_conv_state_crash_between_carry_write_and_commit(spark, stream_source,
                                                         tmp_path,
                                                         monkeypatch):
    """The second commit raises: batch 1's carry, state generation and
    snapshot are written but its heartbeat is not. The resumed stream
    re-runs batch 1 from batch 0's carry and state and must end equal to the
    batch final state, with contiguous heartbeats whose events sum to the
    batch ok count."""
    import os

    from java9_gc_log_parser_spark import commit_log
    from java9_gc_log_parser_spark.operators.aggregate import conv_state_final
    from java9_gc_log_parser_spark.streaming.state_stream import (
        final_state,
        stream_conv_state,
    )

    out_root = str(tmp_path / "state_crash")
    log = os.path.join(out_root, "metrics.jsonl")
    real_commit = commit_log.commit
    calls = []

    def crash_on_second(log, record):
        calls.append(record["batch_id"])
        if len(calls) == 2:
            raise RuntimeError("injected crash before commit")
        real_commit(log, record)

    monkeypatch.setattr(commit_log, "commit", crash_on_second)
    q = stream_conv_state(spark, stream_source, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=8)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(300)
    monkeypatch.undo()
    assert commit_log.last_batch(log) == 0
    assert os.path.isdir(os.path.join(out_root, "carry", "batch=1"))

    q = stream_conv_state(spark, stream_source, INPUT_SCHEMA, out_root,
                          max_files_per_trigger=8)
    assert q.awaitTermination(300)

    ok = assembled_pauses_from_groups(assemble_groups(
        supported_types_filter(parse_lines(spark.read.parquet(stream_source)))
    ))
    got = sorted(map(tuple, final_state(spark, out_root).collect()))
    assert got == sorted(map(tuple, conv_state_final(ok).collect()))
    beats = commit_log.records(log)
    assert sorted(b["batch_id"] for b in beats) == list(range(len(beats)))
    assert len(beats) >= 3
    assert sum(b["events"] for b in beats) == ok.count()
