"""Deterministic synthesis of the `transcripts` input table.

BASELINE.json's input_hint mandates an Iceberg table of multi-turn transcripts
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` whose `text` column carries the reference grammar's line corpus
(FIXTURES.md §1, §4-5). No external data exists, so we synthesize it
deterministically from the driver's ``events`` parquet via a *single SQL
expression that runs unchanged in both Spark SQL and DuckDB*. That makes every
downstream operator oracle-checkable: the DuckDB side re-derives expected
outputs from the generative parameters (gc_seq, slot, arithmetic), fully
independent of the Spark regex parse.

Layout (mirrors how GC events span log lines, FIXTURES.md §5): each group of
8 consecutive event_ids forms one GC event ``gc_seq = floor(event_id/8)``:

  slot 0    pause_start   (free text instead when gc_seq%17==0 and the type
                           needs regions -> later `end_before_start` error)
  slot 1-4  nr_regions Eden/Survivor/Old/Humongous for region-ful types
                          (Young/Mixed/Full/InitialMark); free-text turns for
                           Remark/Cleanup; slot 3 replaced by free text when
                           gc_seq%19==0 -> later `missing_regions` error
  slot 5    pause_end     (with collection stats; reason per type)
  slot 6    tool-call turn (tool column non-null; plain conversation text)
  slot 7    gc,cpu-tagged line -> unmatched (closed tag vocabulary)

Pause type cycles Young/Mixed/Full/InitialMark/Remark/Cleanup by gc_seq%6.
Skew: gc_seq%10<3 routes ~30% of all rows into the single `conv-hot`
conversation (FIXTURES.md §1 hot-key requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: numbers with >3 fraction digits never occur; all text-embedded numbers are
#: integer-derived so Spark and DuckDB produce byte-identical strings.
TRANSCRIPTS_SQL_TEMPLATE = """
SELECT conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY eid) - 1 AS INT)
         AS turn_idx,
       role, text, tool, ts
FROM (
  SELECT
    CASE WHEN gc_seq % 10 < 3 THEN 'conv-hot'
         ELSE 'conv-' || CAST(gc_seq % 50 AS STRING) END AS conv_id,
    eid,
    CASE WHEN slot = 6 THEN 'tool' WHEN slot = 7 THEN 'system'
         WHEN eid % 2 = 0 THEN 'assistant' ELSE 'user' END AS role,
    CASE
      WHEN slot = 0 THEN
        CASE WHEN drop_start
             THEN 'user: please summarize recent activity (seq '
                  || CAST(gc_seq AS STRING) || ')'
             ELSE hdr || 'Pause ' || ptype_txt
                  || CASE WHEN reason_txt IS NULL THEN ''
                          ELSE ' (' || reason_txt || ')' END
        END
      WHEN slot >= 1 AND slot <= 4 THEN
        CASE
          WHEN NOT has_regions
            THEN 'assistant: noted, continuing the conversation (seq '
                 || CAST(gc_seq AS STRING) || ')'
          WHEN slot = 3 AND drop_old
            THEN 'assistant: heap trend analysis pending (seq '
                 || CAST(gc_seq AS STRING) || ')'
          ELSE hdr || rgn || ' regions: ' || CAST(rb AS STRING) || '->'
               || CAST(ra AS STRING)
               || CASE WHEN slot = 1
                       THEN '(' || CAST(gc_seq % 30 + 1 AS STRING) || ')'
                       ELSE '' END
        END
      WHEN slot = 5 THEN
        hdr || 'Pause ' || ptype_txt
        || CASE WHEN reason_txt IS NULL THEN ''
                ELSE ' (' || reason_txt || ')' END
        || ' ' || CAST(hb AS STRING) || 'M->' || CAST(ha AS STRING)
        || 'M(' || CAST(ht AS STRING) || 'M) '
        || CAST(dur_i AS STRING) || '.' || dur_f || 'ms'
      WHEN slot = 6 THEN
        'invoking ' || tool_txt || ' with arguments (seq '
        || CAST(gc_seq AS STRING) || ')'
      ELSE
        '[' || CAST(off_s AS STRING) || '.' || off_f
        || 's][info][gc,cpu       ] GC(' || CAST(gc_seq AS STRING)
        || ') User=0.04s Sys=0.01s Real=0.01s'
    END AS text,
    CASE WHEN slot = 6 THEN tool_txt END AS tool,
    ts
  FROM (
    SELECT *,
      '[' || CAST(off_s AS STRING) || '.' || off_f || 's][info]['
        || CASE WHEN slot = 0 THEN 'gc,start     '
                WHEN slot >= 1 AND slot <= 4 THEN 'gc,heap      '
                ELSE 'gc           ' END
        || '] GC(' || CAST(gc_seq AS STRING) || ') ' AS hdr,
      CASE slot WHEN 1 THEN 'Eden' WHEN 2 THEN 'Survivor'
                WHEN 3 THEN 'Old' ELSE 'Humongous' END AS rgn,
      (gc_seq * (slot + 2)) % 60 AS rb,
      (gc_seq + slot) % 40 AS ra,
      CASE CAST(eid % 4 AS INT) WHEN 0 THEN 'bash' WHEN 1 THEN 'search'
                                WHEN 2 THEN 'python' ELSE 'browser' END
        AS tool_txt
    FROM (
      SELECT *,
        CASE ptype_idx
          WHEN 0 THEN 'Young' WHEN 1 THEN 'Mixed' WHEN 2 THEN 'Full'
          WHEN 3 THEN 'Initial Mark' WHEN 4 THEN 'Remark'
          ELSE 'Cleanup' END AS ptype_txt,
        CASE ptype_idx
          WHEN 0 THEN 'G1 Evacuation Pause' WHEN 1 THEN 'G1 Evacuation Pause'
          WHEN 2 THEN 'Allocation Failure'
          WHEN 3 THEN 'G1 Humongous Allocation' END AS reason_txt,
        (gc_seq % 17 = 0 AND ptype_idx < 4) AS drop_start,
        (gc_seq % 19 = 0 AND ptype_idx < 4) AS drop_old,
        ptype_idx < 4 AS has_regions,
        (gc_seq * 13) % 900 + 100 AS hb,
        (gc_seq * 7) % 500 + 50 AS ha,
        CAST(1024 AS BIGINT) AS ht,
        (gc_seq * 11) % 90 + 1 AS dur_i,
        lpad(CAST(gc_seq % 1000 AS STRING), 3, '0') AS dur_f,
        gc_seq * 7 + slot AS off_s,
        lpad(CAST(eid % 1000 AS STRING), 3, '0') AS off_f
      FROM (
        SELECT event_id AS eid,
               CAST(FLOOR(event_id / 8) AS BIGINT) AS gc_seq,
               CAST(event_id % 8 AS INT) AS slot,
               CAST(ptype_src % 6 AS INT) AS ptype_idx,
               ts
        FROM (SELECT *, CAST(FLOOR(event_id / 8) AS BIGINT) AS ptype_src
              FROM {events})
      )
    )
  )
)
"""

SPARK_EVENTS_VIEW = "gclp_events_src"


def transcripts_sql(events_relation: str) -> str:
    return TRANSCRIPTS_SQL_TEMPLATE.format(events=events_relation)


def synth_transcripts(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Synthesize the transcripts DataFrame from ``{sf_dir}/events.parquet``.

    ``replicate > 1`` scales the table for benchmarking: the events relation
    is unioned ``replicate`` times with shifted event_ids (new gc events, same
    distribution). Oracle checks always use replicate=1.
    """
    from ..storage import read_table

    events = read_table(spark, f"{sf_dir}/events.parquet")
    if replicate > 1:
        n = events.count()
        from pyspark.sql import functions as F

        k = spark.range(replicate).select(F.col("id").alias("k"))
        events = (
            events.crossJoin(k)
            .withColumn("event_id", F.col("event_id") + F.col("k") * n)
            .drop("k")
        )
    events.createOrReplaceTempView(SPARK_EVENTS_VIEW)
    return spark.sql(transcripts_sql(SPARK_EVENTS_VIEW))
