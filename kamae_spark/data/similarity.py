"""Approximate-nearest-neighbor search over an embedding column.

Both searches run as ONE scan: the query batch (small by construction)
rides in the task closure, the corpus streams through a single
mapInPandas pass that scores each Arrow batch and keeps the partition-
local per-query top-k, and the final rank shuffles only
partitions x queries x k candidate rows. No (corpus x queries) pair rows
are materialized and the corpus is never shuffled. The two searches
differ only in the scorer the scan runs:

- brute_force_topk: exact cosine top-k against every query
  (``_fold_scorer``).
- ivf_topk: IVF-style two-stage search — assign each corpus vector to
  the nearest of K deterministic centroids, then rescore it against only
  the queries probing that bucket (``_bucket_scorer``). Bucket pruning
  turns a full scan into ~nprobe/K of the pair work.

Null and zero-norm vectors are excluded up front by both. A query
batch larger than ``MAX_SCAN_QUERIES`` cannot close over the tasks, so
only then does a search fall back to its pair-join plan (a broadcast
join that degrades gracefully instead of OOMing the driver on the
bounded collect); the join plans give the scan's exact answer and tests
use them as its reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from kamae_spark.core.dtypes import empty_frame

# NOTE: the scan deliberately does NOT apply
# kamae_spark.data.partitioning.ensure_scan_parallelism to the corpus:
# per-row work here is a handful of FLOPs per dimension, so a corpus
# repartition would shuffle heavy vector payloads to parallelize cheap
# math — measured a net LOSS (ann_topk 0.41 -> 0.52s at a 20k single-
# file corpus) where the text/hash/shingle ops (high CPU per byte)
# measure large wins from the same guard.

# Above this many queries the query matrix no longer rides in the task
# closure (nor passes through a driver toPandas): the pair-join plan runs.
MAX_SCAN_QUERIES = 65536
# A task compresses its candidate accumulator to per-query top-k once it
# holds more than this many rows, so task memory is O(cap + batch)
# regardless of partition size.
SCAN_COMPRESS_ROWS = 4_000_000
# Phase-1 fan-out of the two-phase per-query rank (see _topk_per_query).
TOPK_SALT = 32
# Scores are rounded to this many decimals before ranking (the oracles'
# ROUND), so rounded ties break by neighbor id.
SCORE_DP = 6


def _stack(s) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in s])


def _unit(M: np.ndarray) -> np.ndarray:
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


def cosine_pairs_udf():
    """Arrow-vectorized pairwise cosine: one numpy matmul-shaped pass per
    batch over two aligned array columns. This is the SCALE path for
    candidate rescoring (IVF join fallback, embedding near-dup verify):
    the pure-Column ``cosine`` below folds ``F.aggregate``/``zip_with``
    lambdas that Spark INTERPRETS per element — ~50x slower per row at
    corpus scale (measured for the same trap in dedup.py minhash).

    Null rows must be filtered upstream (np.stack raises on None);
    callers own that filter so the null policy stays visible in the
    plan."""

    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A, B = _stack(a), _stack(b)
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dots / np.maximum(na * nb, 1e-300))

    return pandas_udf(cos, "double")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _scorable(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows with a cosine to score: null and all-zero (zero-norm)
    vectors are dropped, so neither plan ever sees one as a query or
    a neighbour."""
    v = F.col(vec_col)
    return df.where(v.isNotNull() & F.exists(v, lambda x: x != 0))


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k of a (query_id, neighbor_id, score)
    table, ranked on the score rounded to ``SCORE_DP`` decimals, in TWO
    phases: phase 1 takes top-k within (query_id, salt) groups —
    parallelism = n_queries x TOPK_SALT — and phase 2 ranks the surviving
    n_queries x salt x k rows globally per query.

    Why: a single `Window.partitionBy(query_id)` ranks the ENTIRE scored
    table on n_queries reducers — a hard parallelism ceiling when the
    query batch is small (the round-2 scaling run measured IVF at 0.509
    efficiency for exactly this reason: 16 query groups on 32 cores).
    The salt key derives from neighbor_id (content, never F.rand — task
    retries must be deterministic), ordering keys are identical in both
    phases, so the result is bit-identical to the single-window plan
    (the global top-k is contained in the union of per-salt top-ks).
    ``TOPK_SALT <= 1`` gives the single-window plan."""
    scored = scored.select(
        "query_id", "neighbor_id", F.round("score", SCORE_DP).alias("score")
    )
    order = (F.col("score").desc(), F.col("neighbor_id").asc())
    if TOPK_SALT > 1:
        salt = F.pmod(F.xxhash64("neighbor_id"), F.lit(TOPK_SALT))
        w1 = Window.partitionBy("query_id", salt.alias("__salt")).orderBy(*order)
        scored = (
            scored.select("*", F.row_number().over(w1).alias("__rn"))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.select("*", F.row_number().over(w2).alias("rank"))
        .where(F.col("rank") <= k)
    )


def _select_topk_np(qi, nid, sc, k: int):
    """Vectorized per-query top-k of flat (query_idx, neighbor_id, score)
    arrays. Ordering matches the plan-side rank exactly: score rounded
    HALF-AWAY-FROM-ZERO to ``SCORE_DP`` decimals (Spark/DuckDB ROUND
    semantics) descending, then neighbor_id ascending — rounding BEFORE
    selection so a rounded-tie winner by id cannot be dropped by a
    raw-score cut."""
    p = 10.0 ** SCORE_DP
    r = np.copysign(np.floor(np.abs(sc) * p + 0.5) / p, sc)
    order = np.lexsort((nid, -r, qi))
    qs = qi[order]
    starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    sizes = np.diff(np.r_[starts, len(qs)])
    rank = np.arange(len(qs)) - np.repeat(starts, sizes)
    keep = order[rank < k]
    return qi[keep], nid[keep], sc[keep]


def _local_topk(score, qids, k: int):
    """mapInPandas generator: feed each Arrow batch of (id, vector) rows
    to ``score(ids, V)``, which yields (query index, neighbor id, score)
    candidate arrays, and emit the partition-local per-query top-k. The
    candidate state is compressed to per-query top-k whenever it exceeds
    ``SCAN_COMPRESS_ROWS`` rows."""
    cap = SCAN_COMPRESS_ROWS

    def fn(batches):
        parts, rows = [], 0
        for pdf in batches:
            if not len(pdf):
                continue
            for part in score(pdf.iloc[:, 0].to_numpy(), _stack(pdf.iloc[:, 1])):
                parts.append(part)
                rows += len(part[0])
            if rows > cap:
                parts = [_select_topk_np(*map(np.concatenate, zip(*parts)), k)]
                rows = len(parts[0][0])
        if rows:
            qi, ni, sc = _select_topk_np(*map(np.concatenate, zip(*parts)), k)
            yield pd.DataFrame({"query_id": qids[qi], "neighbor_id": ni, "score": sc})

    return fn


def _scan_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str, k: int,
    scorer,
) -> DataFrame | None:
    """The one scan plan: collect the (non-null) query batch, close the
    query matrix over ``scorer(Q, qids)``, stream the corpus through
    ``_local_topk`` and rank. Returns None when the batch exceeds
    ``MAX_SCAN_QUERIES`` (bounded collect: never a silent driver OOM)."""
    qp = (
        queries.select(id_col, vec_col)
        .limit(MAX_SCAN_QUERIES + 1)
        .toPandas()
    )
    if len(qp) > MAX_SCAN_QUERIES:
        return None
    out_schema = StructType([
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("neighbor_id", corpus.schema[id_col].dataType),
        StructField("score", DoubleType()),
    ])
    if not len(qp):
        scored = empty_frame(corpus.sparkSession, out_schema)
    else:
        Q, qids = _stack(qp[vec_col]), qp[id_col].to_numpy()
        fn = _local_topk(scorer(Q, qids), qids, k)
        scored = corpus.select(id_col, vec_col).mapInPandas(fn, out_schema)
    return _topk_per_query(scored, k)


def _fold_scorer(Q, qids):
    """Exact cosine of each corpus vector against every query. Floating-
    point parity with the pure-Column ``cosine`` fold is STRUCTURAL: dot
    products and norms accumulate dimension-by-dimension left-to-right
    (one vectorized += per dimension), i.e. the exact operation sequence
    of ``F.aggregate(zip_with(...))`` per pair — scores are bit-identical,
    not merely close (the driver hash-compares them against the DuckDB
    oracle)."""
    qn = np.zeros(len(Q))
    for j in range(Q.shape[1]):
        qn += Q[:, j] * Q[:, j]
    qn = np.sqrt(qn)

    def score(ids, V):
        D = np.zeros((len(V), len(Q)))
        nv = np.zeros(len(V))
        for j in range(V.shape[1]):  # left-to-right fold, matches F.aggregate
            D += V[:, j, None] * Q[None, :, j]
            nv += V[:, j] * V[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            S = D / (np.sqrt(nv)[:, None] * qn[None, :])
        ridx, cidx = np.nonzero(ids[:, None] != qids[None, :])  # no self-match
        yield cidx, ids[ridx], S[ridx, cidx]

    return score


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of `queries` (small, broadcast-shaped) against
    `corpus`. Returns (query_id, neighbor_id, score, rank); null and
    zero-norm vectors on either side excluded; self-matches excluded;
    rank deterministic via (rounded score desc, neighbor asc).

    Runs as the one scan (module docstring) with ``_fold_scorer``;
    measured ~4x over the pair join on the sf1.0 corpus, which builds
    corpus x m rows and evaluates the cosine fold INTERPRETED per element
    per row. That join, with bit-identical scores, runs only above
    ``MAX_SCAN_QUERIES`` queries. The ranking runs through the salted
    two-phase top-k (see _topk_per_query) so small query batches don't
    serialize the rank stage onto n_queries cores."""
    corpus, queries = _scorable(corpus, vec_col), _scorable(queries, vec_col)
    out = _scan_topk(corpus, queries, vec_col, id_col, k, _fold_scorer)
    if out is not None:
        return out
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine(F.col("__qv"), F.col("__cv")).alias("score"))
    )
    return _topk_per_query(scored, k)


def fit_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int,
    sample_rows: int = 4096, iters: int = 8, seed: int = 42,
):
    """Seeded spherical k-means centroids (unit-normalized, for cosine).

    Fit-side bounded: a pseudo-random deterministic sample (top-N by
    xxhash64 of the vector — a map-side partial top-N, no full sort)
    of <= sample_rows vectors reaches the driver; Lloyd iterations run
    in numpy there. Returns a (K, dim) unit-row ndarray."""
    rows = (
        corpus.select(F.col(vec_col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.col("v").cast("array<string>")).asc())
        .limit(int(sample_rows))
        .collect()
    )
    if not rows:
        raise ValueError(
            f"cannot fit centroids: column {vec_col!r} has no non-null vectors"
        )
    X = _unit(np.asarray([list(r["v"]) for r in rows], dtype=np.float64))
    k = min(int(n_centroids), len(X))
    rng = np.random.RandomState(seed)
    # kmeans++-style seeding on the sample. The best-similarity vector
    # is maintained INCREMENTALLY (one X @ c per new centroid) — the
    # naive re-stack of all centroids per iteration is O(K^2 * n * d),
    # which at K=1024 costs ~10^14 flops; the running max is bit-
    # identical (float max has no accumulation error) at O(K * n * d)
    cents = [X[rng.randint(len(X))]]
    best = X @ cents[0]
    for _ in range(k - 1):
        d2 = np.maximum(1.0 - best, 0.0)
        p = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = X[rng.choice(len(X), p=p)]
        cents.append(nxt)
        best = np.maximum(best, X @ nxt)
    C = np.stack(cents)
    for _ in range(int(iters)):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            m = X[assign == j]
            if len(m):
                C[j] = m.mean(axis=0)
        C = _unit(C)
    return C


def _probe(Q, cents, nprobe: int):
    """Each query's ``nprobe`` closest centroid buckets (stable order)."""
    return np.argsort(-(_unit(Q) @ cents.T), axis=1, kind="stable")[:, :nprobe]


def _bucket_scorer(cents, nprobe: int):
    """IVF scorer factory: assign each corpus vector of a batch to its
    centroid bucket (one matmul) and rescore it against only the queries
    probing that bucket (one matmul per bucket-group)."""

    def scorer(Q, qids):
        qn = np.linalg.norm(Q, axis=1)
        # invert probe lists: bucket -> query indices (driver-side, tiny)
        bq: dict[int, list] = {}
        for j, buckets in enumerate(_probe(Q, cents, nprobe)):
            for b in buckets:
                bq.setdefault(int(b), []).append(j)
        bq = {b: np.asarray(js, dtype=np.int64) for b, js in bq.items()}

        def score(ids, V):
            vn = np.linalg.norm(V, axis=1)
            assign = np.argmax(_unit(V) @ cents.T, axis=1)
            order = np.argsort(assign, kind="stable")
            sa = assign[order]
            bounds = np.flatnonzero(np.r_[True, sa[1:] != sa[:-1]])
            for s, e in zip(bounds, np.r_[bounds[1:], len(sa)]):
                js = bq.get(int(sa[s]))
                if js is None:
                    continue
                rows = order[s:e]
                S = (V[rows] @ Q[js].T) / np.maximum(
                    np.outer(vn[rows], qn[js]), 1e-300
                )
                ok = ids[rows][:, None] != qids[js][None, :]  # no self-match
                ridx, cidx = np.nonzero(ok)
                yield js[cidx], ids[rows][ridx], S[ridx, cidx]

        return score

    return scorer


def _bucket_udfs(cents, nprobe: int):
    """The IVF join fallback's Arrow-vectorized bucket assignment and
    probe selection — the same numpy as ``_bucket_scorer``, one matmul
    per batch (the round-1 version scored every centroid through
    interpreted F.transform/F.aggregate lambdas, the dominant cost of
    the assignment pass at corpus scale)."""

    def assign(s: pd.Series) -> pd.Series:
        return pd.Series(np.argmax(_unit(_stack(s)) @ cents.T, axis=1).astype(np.int32))

    def probe(s: pd.Series) -> pd.Series:
        return pd.Series(list(_probe(_stack(s), cents, nprobe).astype(np.int32)))

    return pandas_udf(assign, "int"), pandas_udf(probe, "array<int>")


def ivf_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str,
    k: int = 10, n_centroids: int = 16, nprobe: int = 4, seed: int = 42,
) -> DataFrame:
    """IVF-bucketed ANN: seeded spherical-k-means centroids (fit on a
    bounded driver sample), bucket-pruned cosine search: each query
    scans only its `nprobe` closest centroid buckets (~nprobe/K of the
    corpus). Null and zero-norm vectors on either side are excluded up
    front.

    Runs as the one scan (module docstring) with ``_bucket_scorer``: the
    query matrix and per-bucket probe lists ride in the task closure,
    and the final rank sees only partitions x queries x k rows. Above
    ``MAX_SCAN_QUERIES`` queries the pair join runs instead (assignment
    UDF + broadcast bucket join + Arrow pair rescore), which materializes
    every (candidate, query) pair as a row and shuffles all of them into
    the rank window: at a 1536-query batch over 8M vectors that is ~96M
    pair rows / ~100 GB of Arrow traffic vs ~4 GB for the scan."""
    corpus, queries = _scorable(corpus, vec_col), _scorable(queries, vec_col)
    cents = fit_centroids(corpus, vec_col, n_centroids, seed=seed)
    out = _scan_topk(
        corpus, queries, vec_col, id_col, k, _bucket_scorer(cents, nprobe)
    )
    if out is not None:
        return out
    assign, probe = _bucket_udfs(cents, nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        assign(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probe(F.col(vec_col))).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine_pairs_udf()(F.col("__qv"), F.col("__cv")).alias("score"))
    )
    return _topk_per_query(scored, k)
