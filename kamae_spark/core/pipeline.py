"""Pipeline: a column-name-keyed stage DAG with fit/transform lifecycle.

Re-expression of the reference's KamaeSparkPipeline (reference:
src/kamae/spark/pipeline/pipeline.py:36, graph/pipeline_graph.py:92-117)
without the networkx dependency:

- stages are validated/ordered topologically by column-name edges,
  and one rule (``_deps``) draws those edges for the toposort, the
  output pruning and the layers: a reader follows the producer of each
  column it reads, and a reader declared before a stage that replaces
  that column in place reads the original value, so the replacer
  follows it instead
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
- window stages compile by layer (``_layers``), the cover-set idea of
  Cao et al., *Optimization of Analytic Window Functions* (PVLDB 2012):
  as few window passes over one sort as the dependencies allow. A stage
  runs as its ``passes()`` (Sessionize: the gap flag, its running sum,
  then the index and id projected from that sum); a pass's layer is
  the number of dependent window passes before it; each window pass
  moves to the last layer its consumers allow; and each layer is one
  select, so its windows on one spec evaluate in one Window node. A
  ListAgg count/min/max joins its layer's ordered windows over their
  order. The flagship feature set plans three Window nodes: the as-of
  fill, the gap flag, everything else. Shuffling stages (AsOfJoin) are
  hoisted first, in every pipeline, in-place replacements included
- compile decisions (each layer's stages, each flush and its reason)
  are logged at DEBUG on the ``kamae_spark`` logger
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


def _deps(units: list) -> list[dict[int, bool]]:
    """The one dependency rule, over stages or over the passes of a run:
    for each unit, the units it must follow, each mapped to True when it
    reads that unit's output and to False when it only must not run
    before it.

    A reader follows the one producer of each column it reads; two
    producers of one column raise. The exception is a stage that
    overwrites one of its own inputs in place (the reference withColumn
    idiom): a reader declared BEFORE it reads the original value, as
    applying the stages one by one gives, so the replacer follows that
    reader (a False edge). This also un-breaks the spurious-cycle case
    (A: x->y then B: y,x->x is valid sequentially), and it makes a
    pipeline that could only read a replaced value before its
    replacement a cycle. A topological order of ``units`` keeps every
    edge: such a reader stays before its replacer."""
    producer: dict[str, int] = {}
    for i, u in enumerate(units):
        for c in u.output_columns:
            if c in producer:
                raise ValueError(f"duplicate producer for column {c!r}")
            producer[c] = i
    deps: list[dict[int, bool]] = [{} for _ in units]
    for i, u in enumerate(units):
        for c in u.input_columns:
            p = producer.get(c, i)
            if p > i and c in units[p].input_columns:
                deps[p].setdefault(i, False)
            elif p != i:  # not a base column nor the stage's own in-place input
                deps[i][p] = True
    return deps


def _toposort(stages: list[Stage], hoist: bool = False) -> list[Stage]:
    """Order stages so every stage runs after the stages it follows
    (``_deps``).

    Stable: preserves user order among independent stages. Raises on
    cycles and on duplicate output column names.

    ``hoist=True`` additionally schedules stages flagged
    ``schedule_early`` (shuffling non-projection stages such as AsOfJoin)
    as early as their dependencies allow. Any topological order of the
    dependency DAG computes identical column values, but an early
    shuffle (a) carries only the columns that exist so far — later
    projections never ride through its exchange — and (b) leaves behind
    a hash partitioning that co-keyed window stages reuse instead of
    re-shuffling (guide §2.3/§2.4).
    """
    deps = _deps(stages)
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
    if hoist:
        roots.sort(
            key=lambda i: (0 if getattr(stages[i], "schedule_early", False) else 1, i)
        )
    for i in roots:
        visit(i)
    return [stages[i] for i in done]


def _ancestor_indices(stages: list[Stage], targets: Iterable[int]) -> set[int]:
    """Indices of stages whose outputs (transitively) feed any target
    stage: only the edges of ``_deps`` that read an output (reference:
    collect_estimator_parents, pipeline.py:100-133)."""
    deps = _deps(stages)
    out: set[int] = set()
    frontier = list(targets)
    while frontier:
        for p, reads in deps[frontier.pop()].items():
            if reads and p not in out:
                out.add(p)
                frontier.append(p)
    return out


# max chained lateral-alias depth per fused select; comfortably under
# the analyzer's maxIterations=100 iterative-resolution budget
_MAX_LCA_DEPTH = 40


def _barrier(t: Transformer) -> bool:
    """Whether ``t`` may run as its own ``transform`` (a join, a Python
    path, a changed row set): no pass is moved across it."""
    return type(t).transform is not Transformer.transform


def _layers(units: list[Transformer]) -> list[tuple[int, Transformer]]:
    """Schedule passes into layers: ``(layer, pass)`` in compile order.

    Each run of passes between barriers is layered on its own, over the
    edges ``_deps`` gives, its layers numbered on from the run before
    it; a barrier takes the current layer. In a run, a pass's layer is
    the number of dependent window passes before it: a window reads
    only columns of earlier layers (it cannot read a lateral alias), and
    a projection that reads a window output goes to the next layer (as a
    lateral alias, the window output would split its select, and that
    select's windows with it). An in-place replacer shares the layer of
    a reader it must not precede, because a select reads its input
    frame; only a window replacer of a projection's input goes one
    later, since windows come first in a layer. Each window then moves
    to the last layer its consumers allow, so a feature that no pass
    reads lands in the last window layer and skips the buffers of the
    Window nodes before it; projections stay in the first layer they
    can. When a layer's ordered windows share one spec, each pass with
    an ``over`` (a ``ListAgg``) that accepts that spec joins them, and
    so their Window node."""
    out: list[tuple[int, Transformer]] = []
    run: list[Transformer] = []
    base = 0

    def close() -> None:
        nonlocal base
        if not run:
            return
        deps = _deps(run)
        win = [not getattr(u, "lca_fuse", True) for u in run]
        layer: list[int] = []
        for i, d in enumerate(deps):
            layer.append(max((layer[j] + ((win[i] or win[j]) if reads else win[i] > win[j])
                              for j, reads in d.items()), default=0))
        last = max((k for k, w in zip(layer, win) if w), default=0)
        for i in reversed(range(len(run))):
            if win[i]:
                layer[i] = min((layer[j] - deps[j][i] for j in range(i + 1, len(run)) if i in deps[j]),
                               default=last)
        for k in set(layer):
            here = [i for i in range(len(run)) if win[i] and layer[i] == k]
            ordered = {getattr(run[i], "spec", lambda: None)() for i in here}
            ordered = {sp for sp in ordered if sp is None or sp[1]}
            if len(ordered) == 1 and None not in ordered:
                for i in here:
                    if hasattr(run[i], "over"):
                        run[i] = run[i].over(*ordered) or run[i]
        order = sorted(range(len(run)), key=lambda i: (layer[i], not win[i], i))
        out.extend((base + layer[i], run[i]) for i in order)
        base += max(layer)
        run.clear()

    for u in units:
        if _barrier(u):
            close()
            out.append((base, u))
        else:
            run.append(u)
    close()
    return out


def _fused_transform(
    df: DataFrame, transformers: list[Transformer], canonical: list[Transformer],
) -> DataFrame:
    """Apply transformers with select-fusion, window passes by layer.

    Each stage contributes its ``passes()``, which ``_layers``
    schedules; every layer starts a new select, so each layer's windows
    on one spec evaluate in one Window node.

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

    A projection reading a pending window output flushes first, too: a
    lateral alias of a window output splits the select in two, and the
    select's windows with it.

    Non-projection stages (``build`` returns None: joins, Python paths)
    flush the batch and apply their own ``transform``, after the passes'
    temporaries are dropped. At the end the columns take the order that
    applying the ``canonical`` (declared, topological) stages one by one
    gives, and the temporaries go. Each layer is logged at DEBUG, and so
    is each flush that emits anything, with its reason."""
    spark = df.sparkSession
    debug = _log.isEnabledFor(logging.DEBUG)
    base_cols = tuple(df.columns)
    units: list[Transformer] = []
    temps: set[str] = set()
    for t in transformers:
        passes = t.passes()
        units += passes
        temps.update(c for p in passes for c in p.output_columns if c not in t.output_columns)
    plan = _layers(units)
    if debug:
        for k in sorted({k for k, _ in plan}):
            names = (type(getattr(u, "of", u)).__name__ for n, u in plan if n == k)
            _log.debug("layer %d: %s", k, ", ".join(names))
    # pending alias -> (expr, lateral depth, frame it was built on, is a window)
    pending: dict[str, tuple[Column, int, DataFrame, bool]] = {}
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
            gone = [c for c in df.columns if c in temps and c not in t.input_columns] if temps else []
            df = t.transform(df.drop(*gone) if gone else df)
        fields.clear()
        fields.update((f.name, f) for f in df.schema.fields)

    layer = 0
    for k, t in plan:
        if k > layer:
            flush(f"layer {k}")
            layer = k
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
        why = ("window stage" if d > 1 and not lca
               else "window output" if any(pending[c][3] for c in ins if c in pending)
               else "LCA depth cap" if d > _MAX_LCA_DEPTH else None)
        if why:
            flush(why)
            d = 1
        vdf = df
        if d > 1:
            for c in ins:
                if c in pending and c not in fields:
                    expr, _, frame, _ = pending[c]
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
        pending.update((n, (c, d, vdf, not lca)) for n, c in exprs.items() if n not in repl)
    flush("end of pipeline")
    # columns a stage does not declare keep their frame order at the end
    have = df.columns
    declared = (c for s in canonical for c in s.output_columns)
    order = [c for c in dict.fromkeys((*base_cols, *declared, *have)) if c in have and c not in temps]
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
        # reuse the partitioning. Values are identical in any topological
        # order, and _fused_transform restores the column order
        return _fused_transform(  # type: ignore[arg-type]
            df, _toposort(stages, hoist=True), canonical=stages,
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
