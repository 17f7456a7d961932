"""Pipeline: a column-name-keyed stage DAG with fit/transform lifecycle.

Re-expression of the reference's KamaeSparkPipeline (reference:
src/kamae/spark/pipeline/pipeline.py:36, graph/pipeline_graph.py:92-117)
without the networkx dependency:

- stages are validated/ordered topologically by column-name edges
  (~60 LoC hand-rolled toposort)
- fit fits each estimator on the output-pruned transform of the stages
  before it, so only its ancestors run (reference's one optimizer rule,
  pipeline.py:100-178)
- transform compiles the transformer chain into BATCHED ``select``s:
  consecutive pure-projection stages fuse into one select — dependent
  stages included, via Spark's lateral column aliases (depth-capped at
  _MAX_LCA_DEPTH per select) — so a 500-stage pipeline produces a
  handful of Project nodes instead of 500 ``withColumn``s (analyzer
  O(n^2) avoidance; Catalyst CollapseProject + whole-stage codegen then
  see one flat projection). A stage reading a pending alias builds
  against an empty frame of just its inputs, so per-stage validation
  never re-analyzes the accumulated plan. That frame is a JVM
  ``LocalRelation`` (``dtypes.empty_frame``), not ``createDataFrame([])``,
  which would build a Python RDD for every such stage.
- the compile's own plumbing avoids wrapped ``Column`` calls, each of
  which pays PySpark's origin capture in py4j round trips: a flush is
  one ``withColumns`` (``stage.select_outputs``), a pending alias is
  typed unaliased and its field renamed in Python, and window and as-of
  keys go by name
- compile decisions (each flush and its reason, each hoisted stage) are
  logged at DEBUG on the ``kamae_spark`` logger
- save/load: one JSON spec per pipeline (stages + params, including
  fitted state such as vocab arrays / means), reference analogue:
  pipeline.py:193-239, pipeline_model.py:62-79
"""

from __future__ import annotations

import json
import logging
import os
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructField, StructType

from kamae_spark.core import dtypes as dt
from kamae_spark.core.stage import Estimator, Stage, Transformer, select_outputs

_log = logging.getLogger("kamae_spark")


def _toposort(stages: list[Stage], hoist: bool = False) -> list[Stage]:
    """Order stages so every stage runs after the producers of its inputs.

    Stable: preserves user order among independent stages. Raises on
    cycles and on duplicate output column names.

    In-place self-replacement (a stage whose output overwrites one of its
    own inputs, the reference withColumn idiom) keeps DECLARED-ORDER
    semantics: a consumer declared BEFORE the replacer reads the
    pre-replacement value (the reference applies stages sequentially), so
    no dependency edge is drawn from it to the replacer — this both
    preserves the sequential meaning and un-breaks the spurious-cycle
    case (A: x->y then B: y,x->x is valid sequentially).

    ``hoist=True`` additionally schedules stages flagged
    ``schedule_early`` (shuffling non-projection stages such as AsOfJoin)
    as early as their dependencies allow. Any topological order of the
    same dependency DAG computes identical column values for append-only
    stages, but an early shuffle (a) carries only the columns that exist
    so far — later projections never ride through its exchange — and (b)
    leaves behind a hash partitioning that co-keyed window stages reuse
    instead of re-shuffling (guide §2.3/§2.4). Skipped entirely when any
    in-place replacement is present: replacement semantics are
    declared-order-sensitive.
    """
    producer: dict[str, int] = {}
    for i, s in enumerate(stages):
        for c in s.output_columns:
            if c in producer:
                raise ValueError(f"duplicate producer for column {c!r}")
            producer[c] = i

    def self_replacer(i: int) -> bool:
        s = stages[i]
        return bool(set(s.output_columns) & set(s.input_columns))

    deps: list[set[int]] = []
    for i, s in enumerate(stages):
        d = set()
        for c in s.input_columns:
            p = producer.get(c)
            if p is None or p == i:
                continue  # base column / in-place self edge
            if (
                p > i
                and c in stages[p].input_columns
                and c in stages[p].output_columns
            ):
                # consumer declared before an in-place replacer of c:
                # sequential semantics — it reads the ORIGINAL value
                continue
            d.add(p)
        deps.append(d)

    done: list[int] = []
    state = [0] * len(stages)  # 0 unvisited, 1 in-stack, 2 done

    def visit(i: int) -> None:
        if state[i] == 2:
            return
        if state[i] == 1:
            raise ValueError(f"cycle involving stage {stages[i]!r}")
        state[i] = 1
        for d in sorted(deps[i]):
            visit(d)
        state[i] = 2
        done.append(i)

    roots = list(range(len(stages)))
    if hoist and not any(self_replacer(i) for i in roots):
        roots.sort(
            key=lambda i: (0 if getattr(stages[i], "schedule_early", False) else 1, i)
        )
    for i in roots:
        visit(i)
    return [stages[i] for i in done]


def _ancestor_indices(stages: list[Stage], targets: Iterable[int]) -> set[int]:
    """Indices of stages whose outputs (transitively) feed any target stage
    (reference: collect_estimator_parents, pipeline.py:100-133)."""
    producer = {c: i for i, s in enumerate(stages) for c in s.output_columns}
    out: set[int] = set()
    frontier = list(targets)
    while frontier:
        i = frontier.pop()
        for c in stages[i].input_columns:
            p = producer.get(c)
            if p is not None and p not in out:
                out.add(p)
                frontier.append(p)
    return out


# max chained lateral-alias depth per fused select; comfortably under
# the analyzer's maxIterations=100 iterative-resolution budget
_MAX_LCA_DEPTH = 40


def _fused_transform(
    df: DataFrame, transformers: list[Transformer],
    canonical: list[Transformer] | None = None,
) -> DataFrame:
    """Apply transformers with select-fusion.

    Consecutive pure-projection stages fuse into ONE projection (one
    ``withColumns``, resolved as one select) — including stages that consume a column produced earlier in the
    same batch: Spark's lateral column aliases (3.4+, on by default) let
    a select expression reference an alias defined earlier in the SAME
    select, so a dependent chain compiles to a few Projects instead of
    one select per stage (whose per-select re-analysis is the O(n^2)
    analyzer wall of SURVEY.md §7 risk 4).

    Typing rule: ``fields`` holds the types of the current frame's
    columns and is refreshed whenever ``df`` changes. A stage that reads
    no pending alias builds on ``df`` itself. A stage that reads one
    builds on an empty frame carrying only its input columns, so its
    cost stays O(|stage inputs|): building on ``df`` would re-analyze
    the growing lateral-alias plan once per stage, and a full-schema
    frame would pay O(|all columns|) schema serialization per stage —
    both the O(n^2) wall this function exists to avoid. The empty frame
    is a JVM ``LocalRelation`` made by ``dtypes.empty_frame``: three
    py4j calls, where ``createDataFrame([], schema)`` would build and
    ship an empty Python RDD (about 47 calls) for every such stage. A
    pending alias is typed lazily, the first time a later stage reads
    it, by one UNALIASED ``select(expr).schema`` on the frame it was
    built on, renamed in Python to a ``StructField`` of the same type,
    nullability and metadata (an ``alias`` call would add about 11 py4j
    calls per typed alias); its type then joins ``fields``. A
    breadth-only pipeline never types an alias nor makes an empty frame.
    The batch flushes as one ``withColumns`` (``stage.select_outputs``),
    so no output pays an ``alias`` call either.
    Builds may only reference columns they declare in
    ``input_columns`` — already the pipeline's dependency contract
    (toposort runs on the same declaration).

    Lateral-alias resolution is ITERATIVE in the analyzer (one rule
    iteration per chained-reference layer, hard-capped by
    spark.sql.analyzer.maxIterations = 100), so each pending alias's
    lateral DEPTH is tracked and the batch flushes before a chain
    exceeds ``_MAX_LCA_DEPTH``: a 500-stage dependent chain compiles to
    ~13 selects of 40 laterally-chained exprs each instead of one
    unanalyzable select.

    Non-projection stages (``build`` returns None: joins, Python paths)
    flush the batch and apply their own ``transform``. Each flush that
    emits anything is logged at DEBUG with its reason."""
    spark = df.sparkSession
    debug = _log.isEnabledFor(logging.DEBUG)
    base_cols = tuple(df.columns)
    # pending alias -> (expr, lateral depth, frame it was built on)
    pending: dict[str, tuple[Column, int, DataFrame]] = {}
    replacing: dict[str, Column] = {}  # in-place replacements, fused (see loop)
    # types of the current frame's columns, plus pending aliases once typed
    fields = {f.name: f for f in df.schema.fields}

    def flush(reason: str, t: Transformer | None = None) -> None:
        """Emit the batch as one select, then apply ``t`` unfused."""
        nonlocal df
        if debug and (pending or replacing or t is not None):
            _log.debug(
                "flush (%s): %d appended, %d replaced%s", reason, len(pending),
                len(replacing), f", then {type(t).__name__}" if t is not None else "",
            )
        if pending or replacing:
            df = select_outputs(df, {**replacing, **{n: p[0] for n, p in pending.items()}})
            pending.clear()
            replacing.clear()
        if t is not None:
            df = t.transform(df)
        fields.clear()
        fields.update((f.name, f) for f in df.schema.fields)

    for t in transformers:
        ins = t.input_columns
        # a consumer of a pending IN-PLACE REPLACEMENT must read the
        # replaced value, so materialize the batch first: a same-select
        # reference to a name that exists in the child resolves against
        # the CHILD (the pre-replacement value), never the lateral alias
        if any(c in replacing for c in ins):
            flush("in-place replacement")
        d = 1 + max((pending[c][1] for c in ins if c in pending), default=0)
        # a window expression cannot reference a lateral alias
        # (LATERAL_COLUMN_ALIAS_IN_WINDOW): window stages whose inputs
        # (incl. partition/order keys) are pending force a flush first;
        # deep dependent chains flush to stay under the analyzer's
        # iterative-resolution budget
        lca = getattr(t, "lca_fuse", True)
        if d > 1 and (not lca or d > _MAX_LCA_DEPTH):
            flush("LCA depth cap" if lca else "window stage")
            d = 1
        vdf = df
        if d > 1:
            for c in ins:
                if c in pending and c not in fields:
                    expr, _, frame = pending[c]
                    f = frame.select(expr).schema[0]
                    fields[c] = StructField(c, f.dataType, f.nullable, f.metadata)
            known = [fields[c] for c in dict.fromkeys(ins) if c in fields]
            vdf = dt.empty_frame(spark, StructType(known))
        exprs = t.build(vdf)
        if exprs is None or any(n in pending or n in replacing for n in exprs):
            # a non-projection stage, or an output overwriting a column
            # produced earlier in THIS batch: materialize the batch, then
            # apply the stage on its own
            flush("non-projection stage" if exprs is None else "in-place replacement", t)
            continue
        # no output is pending here, so an output in ``fields`` is a
        # column of the current frame: an in-place replacement
        repl = {n: c for n, c in exprs.items() if n in fields}
        if repl and d > 1:
            # replacement exprs sit in the select's BASE position and
            # cannot forward-reference pending lateral aliases
            flush("in-place replacement")
            d = 1
        # in-place replacements FUSE into the batch (r6): they rewrite
        # the base position of the next flushed select instead of each
        # forcing its own flush + full-width select — 250 replacing
        # stages previously cost 250 sequential selects (an O(n^2)
        # analyzer wall measured at 338s; fused: one select, seconds).
        # Declared-order semantics hold by the child-resolution rule
        # above: appends batched BEFORE the replacement read the old
        # value (they were declared earlier), consumers arriving after
        # hit the flush-on-read guard and see the new value.
        replacing.update(repl)
        pending.update((n, (c, d, vdf)) for n, c in exprs.items() if n not in repl)
    flush("end of pipeline")
    if canonical is not None and canonical != transformers:
        # hoisted execution order: restore the column order the canonical
        # (declared-topological) order would have produced, so callers see
        # an identical schema regardless of scheduling; columns a stage
        # does not declare keep their frame order at the end
        have = df.columns
        declared = (c for s in canonical for c in s.output_columns)
        order = [c for c in dict.fromkeys((*base_cols, *declared, *have)) if c in have]
        if order != have:
            df = df.select(*order)
    return df


class Pipeline(Stage):
    """Unfitted pipeline: mixed list of Transformers and Estimators."""

    def __init__(self, stages: list[Stage]):
        super().__init__()
        self.stages = self._expand(stages)

    @staticmethod
    def _expand(stages: list[Stage]) -> list[Stage]:
        """Recursively flatten nested pipelines (reference: pipeline.py:83-98)."""
        flat: list[Stage] = []
        for s in stages:
            if isinstance(s, (Pipeline, PipelineModel)):
                flat.extend(s.stages)
            else:
                flat.append(s)
        return flat

    def fit(self, df: DataFrame) -> "PipelineModel":
        """Fit each estimator, in dependency order, on the output-pruned
        transform of the stages fitted before it."""
        fitted: list[Transformer] = []
        for s in _toposort(self.stages):
            if isinstance(s, Estimator):
                s = s.fit(PipelineModel(fitted).transform(df, outputs=s.input_columns))
            fitted.append(s)  # type: ignore[arg-type]
        return PipelineModel(fitted)

    def transform(self, df: DataFrame) -> DataFrame:
        if any(isinstance(s, Estimator) for s in self.stages):
            raise ValueError("pipeline contains unfitted estimators; call fit() first")
        return PipelineModel(list(self.stages)).transform(df)  # type: ignore[arg-type]

    # -- persistence -------------------------------------------------------
    def save(self, path: str) -> None:
        _save_spec(path, {"type": "Pipeline", "stages": [s.to_spec() for s in self.stages]})

    @classmethod
    def load(cls, path: str) -> "Pipeline":
        spec = _load_spec(path)
        return cls([Stage.from_spec(s) for s in spec["stages"]])


class PipelineModel(Stage):
    """Fitted pipeline: transformers only; transform is select-fused."""

    def __init__(self, stages: list[Transformer]):
        super().__init__()
        self.stages = stages

    def transform(self, df: DataFrame, outputs: list[str] | None = None) -> DataFrame:
        """Apply all stages; with ``outputs``, dead-stage-eliminate first:
        only stages whose outputs (transitively) feed a requested column
        run (Catalyst's column pruning cannot remove stages that were
        never needed when later stages shuffle)."""
        stages = _toposort(list(self.stages))
        if outputs is not None:
            targets = [
                i for i, s in enumerate(stages)
                if any(c in outputs for c in s.output_columns)
            ]
            keep = set(targets) | _ancestor_indices(stages, targets)
            stages = [s for i, s in enumerate(stages) if i in keep]
        # schedule shuffling stages (schedule_early) as early as their
        # dependencies allow: their exchange then carries only the
        # columns produced so far, and co-keyed window stages downstream
        # reuse the partitioning (values identical in any topo order;
        # column order restored by _fused_transform)
        hoisted = _toposort([s for s in stages], hoist=True)
        if hoisted != stages and _log.isEnabledFor(logging.DEBUG):
            was = {id(s): i for i, s in enumerate(stages)}
            for i, s in enumerate(hoisted):
                if getattr(s, "schedule_early", False) and i < was[id(s)]:
                    _log.debug("hoisted %s from stage %d to %d", type(s).__name__, was[id(s)], i)
        return _fused_transform(  # type: ignore[arg-type]
            df, hoisted, canonical=stages if hoisted != stages else None,
        )

    def save(self, path: str) -> None:
        _save_spec(
            path, {"type": "PipelineModel", "stages": [s.to_spec() for s in self.stages]}
        )

    @classmethod
    def load(cls, path: str) -> "PipelineModel":
        spec = _load_spec(path)
        return cls([Stage.from_spec(s) for s in spec["stages"]])  # type: ignore[list-item]


def _canon_json(v):
    """Canonicalize stage params for the JSON spec: numpy scalars become
    native Python numbers, tuples/sets become lists. Anything else
    non-JSON-native raises at SAVE time — the previous default=str
    silently stringified such params, producing a spec that loads
    without error but reconstructs wrong-typed stages."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple, set)):
        return [_canon_json(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon_json(x) for k, x in v.items()}
    item = getattr(v, "item", None)  # numpy scalar -> python scalar
    if callable(item):
        out = item()
        if isinstance(out, (bool, int, float, str)):
            return out
    raise TypeError(
        f"stage param of type {type(v).__name__} is not JSON-serializable; "
        "coerce it to a native Python type before save()"
    )


def _save_spec(path: str, spec: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(_canon_json(spec), f, indent=1)


def _load_spec(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
