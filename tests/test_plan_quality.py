"""Physical-plan regression guards: the scale properties we rely on must
be visible in the executed plan, not just asserted in docstrings.

These tests read `.explain` output programmatically — if a future change
adds an extra shuffle to the flagship pipeline or breaks filter pushdown,
they fail before any benchmark notices."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kamae_spark.core.pipeline import PipelineModel
from kamae_spark.data import dedup
from kamae_spark.features import transcript_features
from kamae_spark.operators.joins import AsOfJoin
from kamae_spark.operators.windows import (
    Backfill,
    ConditionalRollingCount,
    Lag,
    Lead,
    ListAgg,
    RollingAgg,
    Sessionize,
)


def _executed(df) -> str:
    """Executed plan truncated at the cached-input boundary: the
    InMemoryRelation embeds its own (generation) plan whose exchanges
    are not part of the pipeline under test."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    cut = plan.find("InMemoryTableScan")
    return plan if cut < 0 else plan[:cut]


def test_cowindowed_stages_share_one_exchange(spark, transcripts):
    """Six window stages on the same (conv_id | order) spec -> exactly one
    hash Exchange on conv_id."""
    order = ("ts", "turn_idx")
    model = PipelineModel(
        [
            Lag(input_col="text", output_col="a", order_by=order),
            Lead(input_col="text", output_col="b", order_by=order),
            RollingAgg(input_col="turn_idx", output_col="c", agg="count", rows=5, order_by=order),
            ConditionalRollingCount(input_col="role", output_col="d", value="user", rows=5, order_by=order),
            Backfill(input_col="tool", output_col="e", order_by=order),
            ListAgg(input_col="turn_idx", output_col="f", agg="count"),
        ]
    )
    plan = _executed(model.transform(transcripts))
    # 0 when the cached input is already conv_id-partitioned (exchange
    # reuse from the cache), 1 when reading cold — never more
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_flagship_exchange_budget(spark, transcripts, annotations):
    """Full flagship (windows + sessionize + asof union) must stay within
    2 hash exchanges: one for the window family, one for the union fill."""
    order = ("ts", "turn_idx")
    model = PipelineModel(
        [
            Lag(input_col="text", output_col="prev_text", order_by=order),
            RollingAgg(input_col="turn_idx", output_col="t5", agg="count", rows=5, order_by=order),
            Backfill(input_col="tool", output_col="tool_ff", order_by=order),
            Sessionize(ts_col="ts", output_col="sess", order_by=order),
            AsOfJoin(on=("conv_id",), right=annotations, strategy="union"),
        ]
    )
    plan = _executed(model.transform(transcripts))
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def _node_names(plan: str) -> list[str]:
    """Operator name of each line of a plan tree string."""
    return re.findall(r"(?m)^[\s:+-]*(?:\*\(\d+\) )?(\w+)", plan)


def _window_lines(plan: str) -> list[str]:
    """The Window nodes of a plan tree string, top first."""
    return [line for line in plan.splitlines() if _node_names(line) == ["Window"]]


def test_flagship_plan_fence(spark, transcripts, annotations):
    """The ten flagship stages (``transcript_features``) on a re-spread
    input, so the pipeline's own exchanges show: exactly 3 Window nodes,
    at most 2 Sorts and 1 hash Exchange. The three passes are the as-of
    fill, Sessionize's gap flag (a lag of the raw timestamp), and one
    node for everything else: lag/lead, the rolling counts and mean,
    role frequency, backfill, Sessionize's running sum, and the ListAgg
    count over the same order with a whole-partition frame."""
    model = PipelineModel(transcript_features(annotations))
    plan = _executed(model.transform(transcripts.repartition(4)))
    names = _node_names(plan)
    assert names.count("Window") == 3, plan
    assert names.count("Sort") <= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_flagship_sessionize_runs_one_running_sum(spark, transcripts, annotations, row_hashes):
    """Sessionize's index and id read one running sum of the gap flag:
    the flagship plan evaluates that sum once, and the session columns
    equal the two-window formula written out here (the gap flag, its
    running sum cast to int, and the id built from that index)."""
    out = PipelineModel(transcript_features(annotations)).transform(transcripts.repartition(4))
    plan = _executed(out)
    assert plan.count("sum(__gap_flag_session_idx") == 1, plan
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    secs = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    idx = F.sum("flag").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("int")
    ref = (transcripts.withColumn("flag", F.when(secs > 1800.0, 1).otherwise(0))
           .select("conv_id", "turn_idx", idx.alias("session_idx"),
                   F.concat_ws("#", "conv_id", idx.cast("string")).alias("session_id")))
    assert row_hashes(out.select(*ref.columns)) == row_hashes(ref)


def test_in_place_pipeline_plan_fence(spark, transcripts, annotations, row_hashes):
    """The flagship with an in-place replacement goes through the same
    hoisted, layered compile: a ``Lag`` of ``tool`` first, then the
    flagship, then ``Backfill(tool -> tool)`` and a ``Lag`` of the
    replaced ``tool``. Exactly 3 Window nodes, at most 2 Sorts and 1
    hash Exchange, as the flagship alone; the replacement shares the
    select of the windows that read the original ``tool``. The columns
    and rows equal applying each stage's own ``transform`` in order."""
    order = ("ts", "turn_idx")
    stages = [Lag(input_col="tool", output_col="prev_tool", order_by=order),
              *transcript_features(annotations),
              Backfill(input_col="tool", output_col="tool", order_by=order),
              Lag(input_col="tool", output_col="prev_tool_ff", order_by=order)]
    src = transcripts.repartition(4)
    out = PipelineModel(stages).transform(src)
    plan = _executed(out)
    names = _node_names(plan)
    assert names.count("Window") == 3, plan
    assert names.count("Sort") <= 2, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    applied = src
    for s in stages:
        applied = s.transform(applied)
    assert out.columns == applied.columns
    assert row_hashes(out) == row_hashes(applied)


def test_lone_listagg_count_is_one_unordered_window(spark, transcripts):
    """A ListAgg count with no ordered window beside it keeps its
    unordered window: one Window node and no Sort for an order."""
    model = PipelineModel([ListAgg(input_col="turn_idx", output_col="n", agg="count")])
    plan = _executed(model.transform(transcripts))
    windows = _window_lines(plan)
    assert len(windows) == 1 and " ASC " not in windows[0], plan
    assert "Sort" not in _node_names(plan), plan


def test_sessionize_and_lag_share_the_upper_window(spark, transcripts):
    """Sessionize and a Lag on one spec plan two ordered Window nodes:
    the gap flag below, and the running index in the upper one, where
    the Lag goes too (the last layer its consumers allow: none), even
    when it is declared first."""
    order = ("ts", "turn_idx")
    model = PipelineModel([
        Lag(input_col="text", output_col="prev_text", order_by=order),
        Sessionize(ts_col="ts", output_col="sess", order_by=order),
    ])
    plan = _executed(model.transform(transcripts))
    windows = _window_lines(plan)
    assert len(windows) == 2, plan
    assert all(re.search(r"\], \[conv_id#\d+\], \[ts#\d+ ASC", w) for w in windows), plan
    upper, lower = windows
    assert "lag(text" in upper and "sum(__gap_flag_sess" in upper, plan
    assert "lag(ts" in lower and "lag(text" not in lower, plan


def test_median_listagg_is_one_window(spark, transcripts):
    """A median ListAgg is one partition-window aggregate: no value-
    ordered rank pass and no separate pick windows."""
    op = ListAgg(input_col="turn_idx", output_col="med", agg="median")
    names = _node_names(_executed(op.transform(transcripts)))
    assert names.count("Window") == 1, names


def test_broadcast_asof_left_plan_is_exchange_free(spark, transcripts, annotations):
    """Broadcast strategy: the big (left) side must not hash-shuffle,
    sort, or window — the ONLY exchanges allowed are the small right
    side's pre-aggregation and the broadcast itself."""
    op = AsOfJoin(on=("conv_id",), right=annotations, strategy="broadcast")
    plan = _executed(op.transform(transcripts))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    # the single hash exchange is the RIGHT side's groupBy (bounded by
    # the broadcast-small precondition); the left never exchanges —
    # the plan segment between the parquet/LocalTableScan of the left
    # and the join contains no Exchange
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_filter_pushdown_to_parquet(spark, tmp_path):
    """Predicates on feature output reach the parquet scan."""
    p = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    ).write.parquet(p)
    df = spark.read.parquet(p).where(F.col("k") == 3).select("id")
    plan = _executed(df)
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan, plan


def test_rowwise_ops_stay_in_codegen(spark, scalar_features):
    """A chain of row-wise ops must be a single WholeStageCodegen span
    with no Exchange and no Python evaluation."""
    from kamae_spark.operators.math import AbsoluteValue, Log, Sum
    from kamae_spark.operators.strings import StringCase

    model = PipelineModel(
        [
            Log(input_col="col1", output_col="l", alpha=1.0),
            AbsoluteValue(input_col="col3", output_col="a"),
            Sum(input_cols=["l", "a"], output_col="s"),
            StringCase(input_col="col4", output_col="u", case="upper"),
        ]
    )
    plan = _executed(model.transform(scalar_features))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("WholeStageCodegen") <= 2, plan


def test_bucketize_and_math2_chain_stays_codegen(spark, scalar_features):
    """The round-2 rowwise additions (Bucketize + logical + floormod)
    must fuse into whole-stage codegen with no Exchange and no Python."""
    from kamae_spark.operators.conditional import Bucketize, NumericalIfStatement
    from kamae_spark.operators.math import LogicalAnd, LogicalNot, Modulo

    model = PipelineModel(
        [
            Bucketize(input_col="col1", output_col="b", splits=[2.0, 5.0]),
            Modulo(input_cols=["col1"], output_col="m", constant=-3.0),
            NumericalIfStatement(
                input_cols=["col1"], output_col="hi", condition_operator="gt",
                value_to_compare_constant=2.0,
                result_if_true_constant=True, result_if_false_constant=False,
            ),
            LogicalNot(input_col="hi", output_col="lo"),
            LogicalAnd(input_cols=["hi", "lo"], output_col="never"),
        ]
    )
    plan = _executed(model.transform(scalar_features))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    # codegen'd operators render with the `*(n)` stage marker
    assert "*(1)" in plan, plan


def test_ivf_corpus_side_is_one_arrow_pass(spark, monkeypatch):
    """IVF corpus side must be ONE Arrow pass over the corpus scan —
    scan plan: a single MapInPandas (assign+rescore+local top-k
    fused), no join node at all; join fallback: a single ArrowEvalPython
    assignment. Neither may fall back to row-at-a-time Python."""
    from kamae_spark.data import similarity
    from kamae_spark.data.similarity import ivf_topk
    from kamae_spark.sources.synth import embeddings_table

    emb = embeddings_table(spark, 300, dim=16, n_clusters=8).cache()
    emb.count()
    q = emb.where(F.col("vec_id") < 2)
    kw = dict(k=5, n_centroids=4, nprobe=2)
    plan = _executed(ivf_topk(emb, q, "embedding", "vec_id", **kw))
    assert "MapInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time Python
    monkeypatch.setattr(similarity, "MAX_SCAN_QUERIES", 0)  # join fallback
    plan = _executed(ivf_topk(emb, q, "embedding", "vec_id", **kw))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    emb.unpersist()


def test_minhash_verify_join_is_candidate_pruned(spark):
    """The verify join must NOT shuffle corpus-wide gram arrays: the
    (id, text) source is pruned to candidate ids by a broadcast LEFT
    SEMI join before re-shingling, so gram construction and the verify
    join touch candidate docs only."""
    from kamae_spark.data.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(i, f"some shared text plus word{i % 3}") for i in range(60)],
        "id long, text string",
    )
    out = minhash_lsh_pairs(df, "text", "id", num_perm=16, bands=4, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _reads_source_directly(node) -> bool:
    """Whether ``node``'s subtree reaches a source scan (a Range or a
    file scan) without passing through another exchange."""
    name = node.getClass().getSimpleName()
    if "Exchange" in name:
        return False
    return (name in ("RangeExec", "FileSourceScanExec")
            or any(map(_reads_source_directly, _children(node))))


def _source_repartitions(df) -> list[int]:
    """Partition counts of the distinct REPARTITION_BY_NUM shuffles
    planned directly over the input's source scan. Copies of one shuffle
    that AQE would reuse (``sameResult``, e.g. both sides of a self-join)
    count once."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        todo.extend(_children(node))
        if (node.getClass().getSimpleName() == "ShuffleExchangeExec"
                and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
                and any(map(_reads_source_directly, _children(node)))
                and not any(node.sameResult(f) for f in found)):
            found.append(node)
    return [f.outputPartitioning().numPartitions() for f in found]


@pytest.mark.parametrize("call", [
    lambda d: dedup.exact_dedup(d, "text", "doc_id"),
    lambda d: dedup.ngram_jaccard_pairs(d, "text", "doc_id"),
    lambda d: dedup.minhash_lsh_pairs(d, "text", "doc_id"),
    lambda d: dedup.simhash_signatures_jvm(d, "toks", "doc_id"),
], ids=["exact_dedup", "ngram_jaccard_pairs", "minhash_lsh_pairs", "simhash_signatures_jvm"])
def test_dedup_scan_parallelism_plan(spark, call):
    """Each ``ensure_scan_parallelism`` call site in ``data/dedup.py``
    repartitions a 1-partition input to ``defaultParallelism`` exactly
    once, at its source, and plans no such repartition over an input
    that already has that many partitions."""
    from kamae_spark.sources.synth import documents_table

    target = spark.sparkContext.defaultParallelism
    docs = documents_table(spark, n_docs=200).withColumn("toks", F.split("text", " "))
    assert docs.rdd.getNumPartitions() >= target
    assert _source_repartitions(call(docs.coalesce(1))) == [target]
    assert _source_repartitions(call(docs)) == []


@pytest.mark.parametrize("query", ["text_stats", "text_quality"])
def test_text_query_scan_parallelism_plan(spark, tmp_path, monkeypatch, query):
    """``__spark_entry__``'s ``text_stats`` and ``text_quality`` call
    ``ensure_scan_parallelism`` on ``documents.parquet``. A 1-file copy
    reads as one partition, fewer than ``defaultParallelism``, so the
    query repartitions it to that count exactly once, at its source."""
    from pathlib import Path

    from kamae_spark.sources.synth import documents_table

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry

    target = spark.sparkContext.defaultParallelism
    path = tmp_path / "documents.parquet"
    documents_table(spark, n_docs=200).coalesce(1).write.parquet(str(path))
    assert spark.read.parquet(str(path)).rdd.getNumPartitions() == 1 < target
    out = getattr(entry, f"_q_{query}")(spark, str(tmp_path))
    assert _source_repartitions(out) == [target]
