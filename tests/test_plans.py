"""Physical-plan assertions (SURVEY §4: disciplined physical planning).

These tests pin the *plan shape*, not just results:

- enrich joins execute as BroadcastHashJoin (never shuffle the fact side
  against a 4-row dim — SURVEY §2.6);
- after ``plans.pipeline.build`` every sink scans the staged parsed table
  or its assembly groups, so the parse runs once for all sinks (SURVEY §4
  "one-pass fan-out");
- parquet scans get filters pushed down and columns pruned (PushedFilters /
  ReadSchema in the formatted plan) so a 100 TB scan only reads what the
  query projects.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from java9_gc_log_parser_spark.operators.enrich import enrich
from java9_gc_log_parser_spark.plans.pipeline import build
from java9_gc_log_parser_spark.sources.transcripts import synth_transcripts


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_enrich_uses_broadcast_hash_join(spark, sf_dir):
    df = enrich(synth_transcripts(spark, sf_dir))
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    # the dims are JVM local relations: broadcasting one runs no
    # Python-worker job over a createDataFrame RDD
    tree = plan.split("\n\n")[0].splitlines()
    sides = [tree[i + 1] for i, line in enumerate(tree)
             if "BroadcastExchange" in line]
    assert sides and all("LocalTableScan" in line for line in sides), sides
    assert "ExistingRDD" not in plan


def test_build_crosses_the_gateway_per_stage(spark, sf_dir, tmp_path,
                                             monkeypatch):
    """build() hands Spark each stage's fixed expressions as SQL text, so
    one sf0.001 build makes under 900 Py4J round trips: about 800 with the
    route, enrich and turn-bucket stages as SQL text, about 990 when they
    were built from Column calls, and about 10,000 when every stage was
    built node by node. Memory-delete commands are not counted: they are
    Python's garbage collector releasing proxies, whenever it runs."""
    from py4j import protocol

    transcripts = synth_transcripts(spark, sf_dir)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    calls = 0

    def counted(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith(release)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counted)
    build(transcripts, str(tmp_path / "stage" / "parsed"))
    monkeypatch.undo()
    assert calls <= 900, calls


def test_pipeline_sinks_read_staged_tables(spark, sf_dir, tmp_path):
    stage = str(tmp_path / "stage" / "parsed")
    dfs = build(synth_transcripts(spark, sf_dir), stage)
    for sink, table in [
        ("pause_events", stage),
        ("tool_calls", stage),
        ("unmatched", stage),
        ("bucket_turns", stage),
        ("assembled", stage + "__groups"),
        ("conv_state", stage + "__groups"),
        ("dur_histogram", stage + "__groups"),
    ]:
        plan = _formatted(dfs[sink])
        scans = [line for line in plan.splitlines() if "Location:" in line]
        assert scans and all(
            line.rstrip().endswith(table + "]") for line in scans
        ), f"{sink} does not scan only {table}: {scans}"
        # the parse (its CollectMetrics barrier and regex cascade) ran once,
        # in build; no sink plan re-runs it
        assert "CollectMetrics" not in plan, sink
        assert "regexp_replace" not in plan, sink


def test_parquet_filter_pushdown_and_column_pruning(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = docs.filter(F.col("source") == "web").select("doc_id", "text")
    plan = _formatted(q)
    # (no IsNotNull: constraint propagation is disabled session-wide, see
    # session.py — the EqualTo pushdown is what matters for scan skipping)
    assert "EqualTo(source,web)" in plan.split("PushedFilters:")[1].splitlines()[0]
    # projection pruned to the selected columns (+ filter column)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "token_count" not in read_schema
    # whole-stage codegen covers the scan->filter->project span
    assert "codegen id" in plan


def test_route_stage_is_fully_jvm_side(spark, sf_dir):
    """The parse cascade + route predicates never leave the JVM: no
    Python eval nodes of any kind in the plan."""
    transcripts = synth_transcripts(spark, sf_dir)
    from java9_gc_log_parser_spark.functions.parse import parse_lines
    from java9_gc_log_parser_spark.operators.route import supported_types_filter

    plan = _formatted(supported_types_filter(parse_lines(transcripts)))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_assembly_and_state_aggs_are_hash_based(spark, sf_dir):
    """Assembly groupBy + G2 agg plan as HashAggregate, never
    SortAggregate (string max_by buffers would silently force a full
    per-partition sort of the biggest table — see assemble.py scale note)."""
    from java9_gc_log_parser_spark.functions.parse import parse_lines
    from java9_gc_log_parser_spark.operators.assemble import (
        assemble_groups,
        assembled_pauses_from_groups,
    )
    from java9_gc_log_parser_spark.operators.aggregate import conv_state_final
    from java9_gc_log_parser_spark.operators.route import supported_types_filter

    assembled = assembled_pauses_from_groups(assemble_groups(
        supported_types_filter(parse_lines(synth_transcripts(spark, sf_dir)))
    ))
    plan = _formatted(conv_state_final(assembled))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_conv_state_final_shuffles_once(spark):
    """G2 is one merge per conv_id over one-event partials: one hash
    exchange, with map-side partial aggregation before it."""
    from java9_gc_log_parser_spark.operators.aggregate import conv_state_final

    assembled = spark.range(1000).selectExpr(
        "concat('conv-', CAST(id % 7 AS STRING)) AS conv_id",
        "CAST(id AS INT) AS event_id",
        "IF(id % 3 = 0, 'Young', 'Remark') AS pause_type",
        "id AS offset_ms",
        "id AS heap_after",
        "1024L AS heap_total",
        *[f"id AS {c}" for c in
          ("eden_after", "survivor_after", "old_after", "humongous_after")],
    )
    plan = conv_state_final(assembled)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


@pytest.mark.parametrize("sink", ["pause_events", "tool_calls"])
def test_sink_plans_have_no_cartesian_or_nested_loop(spark, sf_dir, sink,
                                                      tmp_path):
    transcripts = synth_transcripts(spark, sf_dir)
    dfs = build(transcripts, str(tmp_path / "stage" / "parsed"))
    plan = _formatted(dfs[sink])
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_runtime_reuses_shared_exchanges(spark, tmp_path):
    """The call q22 and q140 make, over buckets materialized to parquet:
    at runtime AQE must reuse (a) the band-key shuffle across the
    candidate self-join's two sides and (b) the hash(doc_id) exchange
    across the two verification joins — neither the bucket table nor the
    corpus is re-read or re-shingled once per consumer."""
    from java9_gc_log_parser_spark.operators.dedupe import (
        lsh_buckets,
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"w{i} common words here for shingles {i % 3}")
         for i in range(40)],
        "doc_id long, source string, text string",
    )
    out = str(tmp_path / "buckets.parquet")
    lsh_buckets(docs).write.parquet(out)
    df = minhash_lsh_pairs(docs, 0.3, spark.read.parquet(out))
    df.collect()  # reuse only materializes in the executed adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2, plan[:2000]


def test_parse_barrier_stops_filter_pushdown(spark, sf_dir):
    """A filter composed above the (unpersisted) parse must stay above the
    CollectMetrics barrier. Without the barrier, PushDownPredicates
    substitutes the whole staged cascade into the condition combinatorially
    — a single event_class filter took >200 s to *plan* on 1k rows — and
    the pushed condition would re-run the mega-regex once per referenced
    group per row. Pinned by plan shape AND by optimized-plan size (the
    blown-up plan is tens of MB; the barriered one is a few KB)."""
    from java9_gc_log_parser_spark.functions.parse import parse_lines

    q = parse_lines(synth_transcripts(spark, sf_dir)).filter(
        F.col("event_class") == "pause_end"
    )
    plan = _formatted(q)
    assert "CollectMetrics" in plan
    # the blown-up plan inlines the header/body regex once per substituted
    # group reference; the barriered plan keeps exactly the cascade's own
    # regexp_replace calls (2 passes + tag cleanup)
    assert plan.count("regexp_replace") <= 8, plan.count("regexp_replace")
    assert len(plan) < 200_000, f"optimized plan blew up: {len(plan)} chars"


def test_ngram_jaccard_blocking_is_equi_join(spark):
    """The compound (block, length-bucket) key must reach the join as an
    equi-join key set — never a broadcast-nested-loop over a block."""
    from java9_gc_log_parser_spark.operators.dedupe import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", "alpha beta gamma delta"[: 5 + i % 18])
         for i in range(40)],
        "doc_id long, source string, text string",
    )
    plan = _formatted(ngram_jaccard_pairs(docs))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_redaction_and_repetition_are_map_only(spark, sf_dir):
    """q35/q36 must stay single-pass scans: all regex/array arithmetic fused
    into the projection — zero shuffles, zero Python."""
    import __spark_entry__ as entrymod

    for name in ("q35_pii_redact", "q36_repetition"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name

    # Regression guard for the staged-ngram shape: the tokenizer must run
    # exactly once per row (the _rep_toks producer). If CollapseProject ever
    # re-inlines the staging columns, the split() subtree reappears inside
    # every consumer — and inside interpreted lambda bodies, where it is
    # re-evaluated PER ELEMENT (the quadratic blowup fixed in
    # text_analysis._top_occurrence_count).
    plan = (
        entrymod.queries()["q36_repetition"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("split(") == 1


def test_stratified_sample_pushes_group_limit(spark, sf_dir):
    """One shuffle (by group), and WindowGroupLimit keeps only each map
    task's local top-N per group before it — the shuffle carries
    O(groups x N x tasks), not the corpus."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q38_stratified_sample"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "WindowGroupLimit" in plan


def test_ivf_plan_broadcasts_centroids_no_cartesian(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q34_ann_ivf"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny centroid side broadcast


def test_bigram_and_tfidf_plans_are_shuffle_joins_no_cartesian(spark, sf_dir):
    """q41/q43: count-table lookups must plan as equi-joins (hash/SMJ), the
    only nested-loop being the broadcast of the single-row N/V scalar."""
    import __spark_entry__ as entrymod

    for name in ("q41_bigram_logprob", "q43_tfidf_topk"):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        # scalar joins in: exactly as a broadcast, never a shuffle
        assert "BroadcastNestedLoopJoin" in plan, name


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """q42: the corpus x centroids pairing must be a broadcast of the k-row
    centroid table against one corpus scan — never a shuffle or cartesian."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q42_kmeans"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_semdedup_pairs_are_equi_joins_within_cells(spark, sf_dir):
    """q44: the within-cell pair step must be an equi-join on cluster (plus
    the centroid broadcast inherited from kmeans) — never a corpus-wide
    cartesian."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q44_semdedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid broadcast only


def test_zipf_head_is_take_ordered_not_global_sort(spark, sf_dir):
    """q46: the top-k head must plan as TakeOrderedAndProject (per-task
    local top-k), never a full vocabulary sort."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q46_zipf_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_curation_e2e_final_plan_scans_only_last_stage(spark, sf_dir):
    """q50: the composed curation pipeline materializes two stage-family
    boundaries through the storage seam; the FINAL manifest plan must scan
    only the last materialized stage (stage4) — never re-read the raw
    documents table or the earlier stage2 materialization. At 10^12 rows a
    plan that silently re-derives an upstream stage per branch re-scans the
    whole corpus once per downstream consumer."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q50_curation_e2e"](spark, sf_dir)
    plan = _formatted(df)
    assert "stage4" in plan
    assert "documents.parquet" not in plan
    assert "stage2" not in plan


def test_pack_sequences_is_single_shuffle_no_join(spark, sf_dir):
    from java9_gc_log_parser_spark.operators.sampling import pack_sequences

    df = pack_sequences(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one hash-partition shuffle (by stream) + in-partition sort; the
    # running sum must be a running frame, never a join or second shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "rangepartitioning" not in plan  # no global sort


def test_epoch_order_broadcasts_offsets_no_global_sort(spark, sf_dir):
    from java9_gc_log_parser_spark.operators.sampling import epoch_order

    df = epoch_order(spark.read.parquet(f"{sf_dir}/documents.parquet"), 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # corpus shuffles once for the rank window; the shard-size dim is the
    # only other exchange and comes back by broadcast
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan  # global order WITHOUT global sort


def test_dup_ngram_gate_is_three_hash_shuffles_no_join(spark, sf_dir):
    from java9_gc_log_parser_spark.operators.dedupe import dup_ngram_gate

    df = dup_ngram_gate(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # (doc,gram) agg -> gram window -> doc agg; the gram doc-count must be
    # the window, not a self-join (no pair blow-up anywhere)
    assert plan.count("Exchange hashpartitioning") == 3
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_zero_exchange(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q59_bucketed_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the whole point of the bucketed layout: both scans already report
    # HashPartitioning(doc_id, 8), so the merge join needs NO shuffle of
    # either side and no broadcast
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan


def test_cms_estimation_joins_are_broadcast_only(spark, sf_dir):
    from java9_gc_log_parser_spark.operators.sketches import cms_heavy_hitters

    df = cms_heavy_hitters(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the <=4096-row grid comes back by broadcast; the corpus never
    # shuffles on a sketch key and the top-k is a heap, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_incremental_refresh_broadcasts_the_change_set(spark, sf_dir):
    """q72's scale contract: BOTH legs (anti-join carry, semi-join prune)
    broadcast the tiny change set — the big tables never shuffle."""
    from java9_gc_log_parser_spark.operators.cdc import (
        incremental_refresh,
        snapshot_diff,
        synth_mutated_snapshot,
    )
    from java9_gc_log_parser_spark.operators.text_analysis import quality_score

    old = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = synth_mutated_snapshot(old)
    changes = snapshot_diff(old, new).persist()  # the materialization contract
    try:
        out = incremental_refresh(quality_score(old), changes, new, quality_score)
        plan = _formatted(out)
        assert "BroadcastHashJoin" in plan
        # with the change set materialized, no shuffle join remains: the
        # diff's full-outer SMJ is behind the cache, both refresh legs
        # broadcast
        assert "SortMergeJoin" not in plan.split("InMemoryTableScan")[0]
        assert "CartesianProduct" not in plan
    finally:
        changes.unpersist()


def test_dup_span_scrub_plan_is_jvm_only_and_never_cartesian(spark, sf_dir):
    from java9_gc_log_parser_spark.operators.dedupe import dup_span_scrub

    out = dup_span_scrub(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # no per-row Python anywhere


# ---- round-3 additions: plan shapes of the new operator family ----------

def _uniq_nodes(plan: str, node: str) -> int:
    import re

    return len(re.findall(rf"^\(\d+\) {node}", plan, re.M))


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e

    return e


def test_funnel_single_data_shuffle(spark, sf_dir, entrymod):
    """q88: all k funnel stages ride ONE events shuffle (3 window passes +
    the per-user agg reuse the user partitioning); the only other exchange
    is the single-row totals rollup."""
    plan = _formatted(entrymod.queries()["q88_funnel_conversion"](spark, sf_dir))
    assert _uniq_nodes(plan, "Exchange") <= 2
    assert _uniq_nodes(plan, "Window") == 3
    assert "BatchEvalPython" not in plan


def test_scd2_single_exchange(spark, sf_dir, entrymod):
    """q90: change-flag window, version running sum, run agg, and valid_to
    lead ALL share the user_id hash partitioning -> exactly one Exchange."""
    plan = _formatted(entrymod.queries()["q90_scd2_history"](spark, sf_dir))
    assert _uniq_nodes(plan, "Exchange") == 1


def test_moving_window_two_stage_shape(spark, sf_dir, entrymod):
    """q92: rollup exchange + window exchange, nothing else; the raw
    stream is never window-scanned."""
    plan = _formatted(entrymod.queries()["q92_moving_window_stats"](spark, sf_dir))
    assert _uniq_nodes(plan, "Exchange") == 2
    assert _uniq_nodes(plan, "Window") == 1


def test_compaction_plan_metadata_only_shape(spark, sf_dir, entrymod):
    """q94: file-stats agg + per-partition window; the bin rollup reuses
    the window's partitioning (no third exchange)."""
    plan = _formatted(entrymod.queries()["q94_compaction_plan"](spark, sf_dir))
    assert _uniq_nodes(plan, "Exchange") == 2


def test_anomaly_profile_broadcasts_moments(spark, sf_dir, entrymod):
    """q98: the per-key moment table joins back via BroadcastHashJoin —
    the event stream is never shuffled for the join."""
    plan = _formatted(entrymod.queries()["q98_value_anomaly_profile"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _uniq_nodes(plan, "Exchange") == 2


def test_pagerank_and_hybrid_search_no_cartesian(spark, sf_dir, entrymod):
    """q95/q96: no unbounded pair generation. (q96's dense leg uses the
    q19 broadcast-nested-loop by design — query side is tiny — but a
    CartesianProduct must never appear.)"""
    for name in ("q95_pagerank", "q96_hybrid_rrf_search"):
        plan = _formatted(entrymod.queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
    plan96 = _formatted(entrymod.queries()["q96_hybrid_rrf_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan96  # query terms broadcast


def test_new_round3_ops_no_cartesian_no_python(spark, sf_dir):
    """q103/q104/q107/q109/q111: the pair-generating round-3 ops must
    plan as bounded equi-joins — never a CartesianProduct or
    BroadcastNestedLoopJoin over corpus-sized inputs — and keep the hot
    path 100% JVM (no BatchEvalPython)."""
    import __spark_entry__ as entrymod

    for q in (
        "q103_triangle_count",
        "q104_edit_distance_join",
        "q107_touch_attribution",
        "q109_pmi_collocations",
        "q111_source_divergence",
        "q116_salted_join",
        "q117_ppjoin_exact_jaccard",
    ):
        df = entrymod.queries()[q](spark, sf_dir)
        plan = _formatted(df)
        assert "CartesianProduct" not in plan, q
        if q not in ("q103_triangle_count", "q111_source_divergence"):
            # exempt by design: q103's final step combines three ONE-ROW
            # aggregates on a constant key, and q111 densifies a spine by
            # crossing two BROADCAST-SCALE dims (sources × vocab+1, a few
            # hundred rows) so absent cells still contribute JSD mass.
            # Catalyst folds both constant-key joins to BNLJ over
            # constant-size relations — not corpus joins; everything
            # corpus-sized upstream is hash aggs / equi-joins.
            assert "BroadcastNestedLoopJoin" not in plan, q
        assert "BatchEvalPython" not in plan, q


def test_trend_ols_single_agg_no_shuffle_beyond_one(spark, sf_dir):
    """q108: the OLS trend is ONE map-combinable hash agg — exactly one
    exchange in the whole plan (partial aggregation upstream of it)."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q108_trend_ols"](spark, sf_dir)
    plan = _formatted(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan  # map-side combine before the exchange


def test_pmi_vocab_join_is_broadcast(spark, sf_dir):
    """q109: the vocabulary membership join must broadcast the tiny
    vocab dim, never shuffle the exploded token stream against it."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q109_pmi_collocations"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan


def test_classifier_gate_plan_shape(spark, sf_dir):
    """q122: the model joins BROADCAST (never shuffles) and the per-doc
    sum is one map-combinable hash agg — exactly one data exchange."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q122_classifier_gate"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan


def test_rtbf_purge_uses_broadcast_deny_join(spark, sf_dir):
    """q123: every purge/audit join against the deny registry must be a
    broadcast hash join — sink data never shuffles for the delete."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q123_rtbf_purge"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ahash_near_dup_python_stage_is_arrow_only(spark, sf_dir):
    """q127: the only Python in the plan is the Arrow-batched mapInPandas
    signature kernel — no per-row BatchEvalPython anywhere."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q127_ahash_near_dup"](spark, sf_dir)
    plan = _formatted(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_token_entropy_aggs_are_map_combinable(spark, sf_dir):
    """q128: both aggs hash-aggregate with partial (map-side) phases —
    no sort-aggregate regression on the doc-keyed shuffles."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q128_token_entropy"](spark, sf_dir)
    plan = _formatted(df)
    assert "partial_" in plan
    assert "SortAggregate" not in plan


def test_ab_ztest_is_single_pass(spark, sf_dir):
    """q129: the whole test is ONE corpus agg collapsing to a single row
    — a single exchange, partial aggregation upstream."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q129_ab_ztest"](spark, sf_dir)
    plan = _formatted(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan


def test_pq_adc_join_broadcasts_the_lut(spark, sf_dir):
    """q130: the ADC scoring join must broadcast the (queries x m x k)
    LUT — corpus codes never shuffle against it; no sort-merge join in
    the scoring path."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q130_ann_pq"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_compaction_apply_audit_plan_shape(spark, sf_dir):
    """q131: the returned audit scans BOTH committed tables (the rewrite
    itself runs eagerly inside the operator — its broadcast bin-map join
    is not in this plan), projects only the audited columns, and
    aggregates hash-style with map-side partials; no join in the audit
    at all."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q131_compaction_apply"](spark, sf_dir)
    plan = _formatted(df)
    assert "/before" in plan and "/after" in plan
    assert "partial_" in plan
    assert "SortMergeJoin" not in plan and "SortAggregate" not in plan
    # column pruning: the audit never re-reads doc_id or n_chars
    assert "ReadSchema: struct<text:string>" in plan


def test_hll_set_ops_register_aggs_are_hash_aggs(spark, sf_dir):
    """q133: register construction and merges stay hash-aggregable with
    map-side partials — no sort-aggregate regression."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q133_hll_set_ops"](spark, sf_dir)
    plan = _formatted(df)
    assert "partial_" in plan
    assert "SortAggregate" not in plan


def test_ivf_pq_composition_plan_shape(spark, sf_dir):
    """q135 (r3 verdict task #5 'Done' criteria): candidates are bounded
    by the probed cells — the corpus side meets the query side ONLY
    through broadcast joins (cell-equality probe, then the ADC LUT); no
    sort-merge join anywhere, so nothing ever shuffles the corpus
    against queries, and the only Exchanges are the ADC aggregation and
    per-query ranking."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q135_ann_ivf_pq"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rendezvous_reshard_plan_is_map_only_plus_one_agg(spark, sf_dir):
    """q136: both HRW assignments are projections (transform+array_max,
    no explode, no join); the only Exchange is the tiny movement-matrix
    aggregation with map-side partials."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q136_rendezvous_reshard"](spark, sf_dir)
    plan = _formatted(df)
    assert "Join" not in plan and "Generate" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan


def test_normalize_audit_plan_has_no_shuffle(spark, sf_dir):
    """q138: pure map-only normalization — zero Exchanges, zero joins,
    no Python (JVM replace/regexp chain end to end)."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q138_normalize_audit"](spark, sf_dir)
    plan = _formatted(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_waterfill_plan_one_corpus_agg_then_tiny_windows(spark, sf_dir):
    """q139: exactly one map-side-combinable corpus aggregation; the
    solver's windows run on the O(sources) table (single-partition
    exchange is fine there); no join anywhere."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q139_budget_waterfill"](spark, sf_dir)
    plan = _formatted(df)
    assert "Join" not in plan
    assert "partial_" in plan  # corpus token-count agg combines map-side


def test_ivfpq_encode_never_rescans_the_corpus(spark, sf_dir):
    """q141's per-micro-batch claim: encoding a batch of new vectors
    against the trained index metadata scans ONLY the batch — cells and
    codebooks enter as broadcasts (collected rows, corpus-free lineage),
    so the plan has exactly one parquet scan and no sort-merge join. This
    is what makes streaming maintenance O(batch), not O(corpus)."""
    import re

    from java9_gc_log_parser_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells, books = ivfpq_train(embs.filter(F.col("vec_id") % 3 != 2))
    # metadata as collected-row DataFrames — the shape _emit rebuilds per
    # batch inside foreachBatch; the batch itself stands in as in-memory
    # rows (a micro-batch is not a corpus file), so ANY parquet scan in
    # the encode plan would be a corpus re-scan
    cells_b = spark.createDataFrame(cells.collect(), cells.schema)
    books_b = spark.createDataFrame(books.collect(), books.schema)
    batch = embs.filter(F.col("vec_id") % 3 == 2)
    batch_b = spark.createDataFrame(batch.collect(), batch.schema)
    plan = _formatted(ivfpq_encode(batch_b, cells_b, books_b))
    assert len(re.findall(r"Scan parquet", plan)) == 0
    assert (
        "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    )
    # the one permitted non-broadcast join is cell-leg ⋈ code-leg, both
    # batch-derived and keyed on vec_id — O(batch), never O(corpus)
    assert (
        len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan))
        <= 1
    )


def test_ivfpq_maintained_index_equals_batch_build(spark, sf_dir):
    """q141 engine-internal invariant (the oracle checks it cross-engine;
    this pins it in-Spark at test speed): the drained maintained index ==
    one-shot encode of the full corpus against the same base-trained
    metadata."""
    import __spark_entry__ as entrymod
    from java9_gc_log_parser_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_train,
    )

    got = sorted(
        (r.vec_id, r.cell, r.s, r.code)
        for r in entrymod.queries()["q141_stream_index_maintenance"](
            spark, sf_dir
        ).collect()
    )
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells, books = ivfpq_train(embs.filter(F.col("vec_id") % 3 != 2))
    want = sorted(
        (r.vec_id, r.cell, r.s, r.code)
        for r in ivfpq_encode(embs, cells, books).collect()
    )
    assert got == want


def test_real_decode_audit_plan_is_map_only(spark, sf_dir):
    """q142: payload synthesis is a JVM projection (md5/unhex/concat) and
    the only Python is the one Arrow-batched mapInPandas decode stage —
    zero Exchanges, zero joins, no row-at-a-time Python."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["q142_real_decode_audit"](spark, sf_dir)
    plan = _formatted(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan


@pytest.mark.parametrize(
    "qname",
    ["q143_real_ahash_audit", "q144_real_png_decode_audit"],
)
def test_real_leg_audits_are_map_only(spark, sf_dir, qname):
    """q143/q144 (q142's companions): payload synthesis — including
    q144's adler32 positional sum and Up-filter hex arithmetic — is one
    JVM projection; the only Python is the single Arrow mapInPandas
    stage. Zero Exchanges, zero joins."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()[qname](spark, sf_dir)
    plan = _formatted(df)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
