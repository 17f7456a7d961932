"""Deduplication for web-scale corpora.

Five strategies, each with an explicit scale story:

- exact_dedup: hash-groupBy on a normalized fingerprint. One shuffle on
  the (short) digest; survivor = min id per group.
- ngram_jaccard_pairs: blocked self-join + exact jaccard on character
  n-gram sets. The blocking key bounds the candidate set; exact and
  ANSI-SQL-expressible (oracle-checkable).
- minhash_lsh_pairs: shingles -> minhash signature -> banded LSH ->
  bucket self-join -> jaccard verification. The classic sub-quadratic
  near-dup path: only signatures shuffle, candidate pairs are bounded
  by band-bucket collisions.
- simhash: 64-bit bit-majority signature of xxhash64 token hashes, in
  two shapes with equal values: row-local in the ``SimHash`` stage (the
  hashes are Column exprs; only the 64-bit bit-majority crosses into an
  Arrow-vectorized pandas UDF, the one op where per-bit Column exprs
  would be slower than the Arrow hop), and as a JVM aggregate over
  exploded tokens in ``simhash_neardup_pairs``; near-dups = hamming <= k
  within band buckets.
- embedding_neardup_pairs: cosine >= tau among embedding vectors,
  bucketed by random-hyperplane LSH sign bits (deterministic seed).

Pair-producing APIs are FUNCTIONS (DataFrame -> DataFrame of pairs)
rather than column transformers — dedup changes cardinality, which the
stage contract (append columns) deliberately does not.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kamae_spark.core.stage import keyword_params
from kamae_spark.data.partitioning import ensure_scan_parallelism
from kamae_spark.data.text import Fingerprint
from kamae_spark.operators.arrays import ArrayTransform

# Buckets holding more rows than this are split into chunk-pair tasks of
# <= ~2x this many rows each (see _bucket_pairs).
BUCKET_CHUNK_CAP = 4096
# minhash verify: the candidate-id set is broadcast into the semi join
# that prunes the re-shingled source while it has at most this many
# pair ends (2 per candidate pair).
BROADCAST_CAND_ROWS = 1_000_000
# embedding near-dup: default LSH bits hold expected bucket occupancy
# near this many rows.
TARGET_BUCKET_ROWS = 128

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str,
                normalize: bool = True) -> DataFrame:
    """One surviving row id per distinct (normalized) text: the minimum
    id. Returns (fingerprint, keep_id, n_dups). Single shuffle on the
    md5 digest; map-side partial aggregation handles heavy duplication."""
    df = ensure_scan_parallelism(df, id_col)
    key = Fingerprint.normalized(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.md5(key).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# n-gram jaccard (exact, blocked)
# ---------------------------------------------------------------------------

def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams of a string, as an array (pure expr)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(col, i, n)))


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles (pure expr). Prefer these over char
    n-grams when the vocabulary is small relative to document length —
    char grams saturate and every pair looks similar.

    The bigram (n=2) path pairs each word with its successor via ONE
    ``zip_with`` pass instead of ``transform(i -> concat_ws(slice(...)))``
    — the per-element ``slice`` allocates an array wrapper per gram and
    the chain is interpreted per element, measured 7.5x slower (21s ->
    2.8s over 50k sf1.0 docs; guide §1.2 per-task work). Output arrays
    are bit-identical (verified corpus-wide): zip_with pads the shorter
    (shifted) array with null and ``concat_ws`` skips nulls, so the
    single-word doc still yields its one-word gram, and the spurious
    trailing unigram is sliced off for n >= 2 docs."""
    words = F.split(F.trim(col), r"\s+")
    if n == 2:
        sz = F.size(words)
        zw = F.zip_with(
            words,
            F.slice(words, 2, F.greatest(sz - 1, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        return F.array_distinct(
            F.when(sz >= 2, F.slice(zw, 1, sz - 1)).otherwise(zw)
        )
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))
    )


def shingles(col: Column, n: int, tokenizer: str) -> Column:
    if tokenizer == "char":
        return char_ngrams(col, n)
    if tokenizer == "word":
        return word_ngrams(col, n)
    raise ValueError("tokenizer must be char|word")


def jaccard(a: Column, b: Column) -> Column:
    """Exact jaccard of two distinct-element arrays (pure expr)."""
    return (F.size(F.array_intersect(a, b)).cast("double")
            / F.size(F.array_union(a, b)).cast("double"))


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    block_cols: Sequence[str] = (), n: int = 3, threshold: float = 0.8,
    length_bucket: int | None = 16, tokenizer: str = "char",
) -> DataFrame:
    """Exact jaccard over char n-gram sets for candidate pairs sharing a
    blocking key (given columns + optional length bucket). Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    Scale: the self-join shuffles on the block key; block granularity is
    the knob that bounds the quadratic term. For unblocked sub-quadratic
    behavior use minhash_lsh_pairs."""
    grams = shingles(F.col(text_col), n, tokenizer).alias("__grams")
    sel = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col).alias("__id"), grams, *block_cols
    )
    keys = [F.col(c) for c in block_cols]
    if length_bucket:
        sel = sel.withColumn("__lb", (F.size("__grams") / length_bucket).cast("int"))
        keys.append(F.col("__lb"))
    a = sel.alias("a")
    b = sel.alias("b")
    cond = F.col("a.__id") < F.col("b.__id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_bucket:
        cond = cond & (F.col("a.__lb") == F.col("b.__lb"))
    jac = jaccard(F.col("a.__grams"), F.col("b.__grams"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# minhash LSH (sub-quadratic)
# ---------------------------------------------------------------------------

def _signatures_from_grams(gsel: DataFrame, num_perm: int) -> DataFrame:
    """(id, minhash signature array) from a (__id, __g array<string>)
    gram table — explode(grams) -> row-wise xxhash64 (whole-stage
    codegen) -> num_perm-way min aggregate. Higher-order-function
    lambdas are interpreted per element in Spark, so the naive
    transform(transform(...)) signature is ~50x slower than this shape;
    here the per-gram work is codegen'd and the shuffle carries only
    docs x num_perm longs (map-side partial min)."""
    g = gsel.select("__id", F.explode("__g").alias("__t")).select(
        "__id", F.xxhash64("__t").alias("__h")
    )
    aggs = [F.min(F.xxhash64(F.col("__h"), F.lit(p))).alias(f"_p{p}") for p in range(num_perm)]
    return g.groupBy("__id").agg(*aggs).select(
        "__id", F.array(*[F.col(f"_p{p}") for p in range(num_perm)]).alias("__sig")
    )


def _all_pairs(items: Column) -> Column:
    """Every (a, b) struct pair of an array's elements, a before b."""
    return F.flatten(
        F.transform(
            items,
            lambda a, i: F.transform(
                F.slice(items, i + 2, F.size(items)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )


def _bucket_pairs(
    band: DataFrame, payload: Sequence[str] = (), *, chunk_cap: int | None
) -> DataFrame:
    """(id_a, id_b[, payload_a/b]) candidate pairs from a (band, bucket)
    keyed table via groupBy + in-bucket pair explosion — measured ~2x
    faster than the equivalent self-join, which shuffles and sorts the
    band table twice.

    Mega-bucket guard: real corpora have adversarial buckets (empty
    strings, boilerplate headers, near-constant embeddings) where one
    bucket holds 10^5+ rows — collecting it to a single task is k^2
    pairs on one executor, an OOM not a slowdown. Buckets larger than
    ``chunk_cap`` are therefore split into hash chunks and every chunk
    PAIR becomes its own task: a row in chunk c is replicated to tasks
    {(min(c,o), max(c,o)) : o < nchunks}, so each task holds at most
    ~2*chunk_cap rows and the full pair set is still emitted — nothing
    is dropped (no silent caps). The k^2 COMPUTE for a mega-bucket is
    inherent to emitting its pairs; the guard bounds per-task memory
    and spreads the work across the cluster. ``chunk_cap=None`` gives
    the single-pass unchunked plan, the reference the chunking tests
    compare against.
    """
    from pyspark.sql import Window

    item_fields = [F.col("__id"), *[F.col(c) for c in payload]]
    if chunk_cap is None:
        item = F.struct(*item_fields)
        g = (
            band.groupBy("band", "bucket")
            .agg(F.array_sort(F.collect_list(item)).alias("items"))
            .where(F.size("items") > 1)
        )
        pair_structs = _all_pairs(F.col("items"))
    else:
        w = Window.partitionBy("band", "bucket")
        nchunks = F.greatest(
            F.lit(1), F.ceil(F.count("*").over(w) / F.lit(int(chunk_cap)))
        ).cast("int")
        b2 = band.select("band", "bucket", *item_fields, nchunks.alias("__nc"))
        chunk = F.pmod(F.xxhash64(F.col("__id")), F.col("__nc")).cast("int")
        repl = b2.select(
            "band", "bucket", chunk.alias("__c"), *item_fields,
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("__o"),
        )
        item = F.struct(F.col("__c"), *item_fields)
        g = (
            repl.groupBy(
                "band", "bucket",
                F.least("__c", "__o").alias("__t1"),
                F.greatest("__c", "__o").alias("__t2"),
            )
            .agg(F.array_sort(F.collect_list(item)).alias("items"))
            .where(F.size("items") > 1)
        )
        within = _all_pairs(F.col("items"))
        lo = F.filter(F.col("items"), lambda x: x["__c"] == F.col("__t1"))
        hi = F.filter(F.col("items"), lambda x: x["__c"] == F.col("__t2"))
        cross = F.flatten(
            F.transform(
                lo,
                lambda a: F.transform(
                    hi,
                    lambda b: F.when(
                        a["__id"] <= b["__id"], F.struct(a.alias("a"), b.alias("b"))
                    ).otherwise(F.struct(b.alias("a"), a.alias("b"))),
                ),
            )
        )
        pair_structs = F.when(F.col("__t1") == F.col("__t2"), within).otherwise(cross)
    out = g.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.a.__id").alias("id_a"),
        F.col("p.b.__id").alias("id_b"),
        *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in payload],
        *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in payload],
    )
    # pairing by array position can emit (x, x) when the id column has
    # duplicate values; the self-join contract was strict id_a < id_b
    out = out.where(F.col("id_a") != F.col("id_b"))
    # cross-band duplicates: dedupe on the id PAIR, not the whole row —
    # whole-row distinct would hash-partition on the payload columns too,
    # shuffling (and hashing) two embedding vectors per candidate pair;
    # payloads are functionally dependent on the ids so any_value is exact
    if payload:
        return out.groupBy("id_a", "id_b").agg(
            *[F.first(f"{c}_a").alias(f"{c}_a") for c in payload],
            *[F.first(f"{c}_b").alias(f"{c}_b") for c in payload],
        )
    return out.distinct()


def minhash_band_plan(num_perm: int, threshold: float) -> int:
    """Pick the band count whose LSH S-curve threshold best matches the
    target jaccard threshold. P(candidate | jaccard=j) = 1-(1-j^r)^b
    with r = num_perm/b rows per band; the curve's inflection sits at
    j* ~ (1/b)^(1/r), so we choose the divisor b of num_perm minimizing
    |(1/b)^(1/r) - threshold|. Fewer bands -> fewer false candidates
    (sub-quadratic safety at corpus scale); more bands -> higher recall
    below the threshold."""
    best_b, best_err = 1, float("inf")
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        err = abs((1.0 / b) ** (1.0 / r) - threshold)
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str,
    n: int = 3, num_perm: int = 64, bands: int | None = None,
    threshold: float = 0.5, tokenizer: str = "char",
) -> DataFrame:
    """shingle -> minhash -> band -> bucket pair-gen -> exact-jaccard
    verify, re-shingling ONLY the candidate docs.

    Shuffle profile: (1) explode grams -> per-perm min agg (signatures);
    (2) banded bucket pair generation (_bucket_pairs — one groupBy, plus
    a window pass when the mega-bucket guard is on); (3) verify join
    against grams RE-DERIVED for just the candidate ids. The candidate
    set is materialized eagerly (localCheckpoint: it is small by LSH
    design and consumed twice — id extraction + verify join) so nothing
    stays persisted after the call returns, and the corpus-wide gram
    table is never cached NOR shuffled: when the candidate id set is
    small (<= ``BROADCAST_CAND_ROWS`` pair ends) the (id, text) source is
    pruned by a BROADCAST semi join before re-shingling, so the verify
    join touches gram arrays for candidate docs only. Candidate volume
    is governed by bands/rows-per-band: P(collide) = 1-(1-j^r)^b; by
    default ``bands`` is solved from (num_perm, threshold) via
    minhash_band_plan so the S-curve inflection tracks the verify
    threshold."""
    if bands is None:
        bands = minhash_band_plan(num_perm, threshold)
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    src = ensure_scan_parallelism(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")), "__id"
    )
    gsel = src.select("__id", shingles(F.col("__t"), n, tokenizer).alias("__g"))
    base = _signatures_from_grams(gsel, num_perm)
    # band keys as plain multi-arg xxhash64 over element_at projections:
    # whole-stage codegen, vs the previous transform/slice/concat_ws
    # chain that Spark INTERPRETS per band per row (6.5s -> <1s at 500k
    # docs)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[
                    F.try_element_at("__sig", F.lit(b * rows_per_band + k + 1))
                    for k in range(rows_per_band)
                ]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    band = base.select(
        "__id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # eager, lineage-truncating materialization: consumed twice below;
    # recomputing it would re-derive signatures + banding end-to-end
    # (measured 26s of a 29s run before round 2), and persist() would
    # leak cached blocks past the call in a long-lived session
    cand = _bucket_pairs(band, chunk_cap=BUCKET_CHUNK_CAP).localCheckpoint(eager=True)
    n_cand = cand.count()
    # the distinct looks redundant (a LEFT SEMI probe dedups keys in its
    # hash build) but it is what BOUNDS the broadcast: without it the
    # broadcast ships 2*n_cand rows — at dense banding (bands=num_perm,
    # the exhaustive-recall oracle setting) that is quadratic in bucket
    # occupancy and OOMs a default-memory driver (observed at sf0.1);
    # with it the broadcast is <= the distinct candidate DOC count
    # dedup partitioning is DATA-ADAPTIVE (guide §2.2: size partitions
    # from the input, not the core count): n_cand is already known, so
    # a small candidate set dedups in a handful of reduce tasks instead
    # of paying the session's full shuffle.partitions in scheduling
    # overhead per run (measured ~0.5s of fixed cost at 128 partitions
    # for a 5k-row id table); repartition-by-key already satisfies the
    # dedup's clustering, so dropDuplicates adds no second exchange.
    # Floored at min(16, defaultParallelism): a 1-task dedup stage is a
    # serialization point whose wall is hostage to whichever core it
    # lands on (guide §2.5 stragglers) — 16 tasks absorb interference
    # and measure slightly FASTER than 1 even on an idle box, while
    # keeping the 128-task scheduling overhead off small candidate sets
    floor = min(16, df.sparkSession.sparkContext.defaultParallelism)
    n_parts = max(floor, min(2 * n_cand // 100_000 + 1, 2048))
    cand_ids = (
        cand.select(F.col("id_a").alias("__id"))
        .unionByName(cand.select(F.col("id_b").alias("__id")))
        .repartition(n_parts, "__id")
        .dropDuplicates()
    )
    if 2 * n_cand <= BROADCAST_CAND_ROWS:
        cand_ids = F.broadcast(cand_ids)
    pruned = src.join(cand_ids, "__id", "left_semi")
    gsub = pruned.select(
        "__id", shingles(F.col("__t"), n, tokenizer).alias("__g")
    )
    verified = (
        cand.join(gsub.withColumnRenamed("__id", "id_a").withColumnRenamed("__g", "__ga"), "id_a")
        .join(gsub.withColumnRenamed("__id", "id_b").withColumnRenamed("__g", "__gb"), "id_b")
        .select(
            "id_a", "id_b", jaccard(F.col("__ga"), F.col("__gb")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def _simhash64_py(hashes: pd.Series) -> pd.Series:
    """64-bit simhash of each row's token hashes (``array<bigint>``): bit
    b is set when more than half of the row's hashes have bit b set.
    Vectorized per Arrow batch: the batch's hashes concatenate into ONE
    array, unpack to a (tokens, 64) bit matrix of bytes, sum per row in
    one np.add.reduceat and pack back into int64s — no per-token Python.
    A null or empty row gives 0."""
    counts = np.fromiter(
        (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=len(hashes)
    )
    out = np.zeros(len(hashes), dtype=np.int64)
    nz = counts > 0
    if nz.any():
        hs = np.concatenate([np.asarray(h, dtype="<i8") for h in hashes[nz]])
        bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        n = counts[nz]
        ones = np.add.reduceat(bits, np.cumsum(n) - n, axis=0, dtype=np.int64)
        majority = 2 * ones > n[:, None]
        out[nz] = np.packbits(majority, axis=1, bitorder="little").view("<i8")[:, 0]
    return pd.Series(out)


class SimHash(ArrayTransform):
    """64-bit simhash signature of a tokenized text column
    (array<string> -> bigint): the bit-majority of the tokens' xxhash64.

    Each token is hashed by a Column expr (``transform`` + ``xxhash64``),
    so only 8 bytes per token cross into the Arrow-vectorized pandas UDF
    that takes the bit-majority. The signature equals
    ``simhash_signatures_jvm``'s on every doc with at least one token
    (a null token hashes as ``xxhash64(null)`` in both); an empty or null
    array gives 0 here and no row there.

    Why a second signature function next to ``simhash_signatures_jvm``:
    this stage is row-local (one value per input row, fusible into a
    pipeline ``select``), while the JVM path is an aggregate over
    exploded tokens keyed by a document id — it cannot be a column
    expression without a shuffle and a join back. A Python UDF cannot
    run inside a higher-order function, so the input must be a flat
    array<string>."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str):
        pass

    def afn(self, tokens: Column) -> Column:
        # pandas_udf registration parses DDL and needs an active session,
        # so the wrapper is created lazily at expression-build time
        udf = pandas_udf(_simhash64_py, "long")
        return udf(F.transform(tokens, lambda t: F.xxhash64(t)))


def simhash_signatures_jvm(
    df: DataFrame, tokens_col: str, id_col: str
) -> DataFrame:
    """(id, 64-bit simhash) computed ENTIRELY JVM-side: explode tokens ->
    whole-stage-codegen xxhash64 per token -> 64 signed bit-count sum
    aggregates per doc (map-side partial agg; the shuffle carries
    docs x 64 longs) -> sign assembly into one bigint.

    This is the corpus-scale path: the ``SimHash`` stage moves 8 bytes
    per token across the Arrow boundary into Python — fine for a
    column-transformer stage on modest data, a Python-bound cost at 10^9
    documents. The signatures are interchangeable with the stage's: the
    same token hash and the same bit-majority. Docs with empty/null
    token arrays produce no signature row (they cannot be near-dups of
    anything by content)."""
    t = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col).alias("__id"), F.explode(tokens_col).alias("__t")
    )
    h = t.select("__id", F.xxhash64("__t").alias("__h"))
    # per-bit ONES counts + one token count, instead of the previous 64
    # sum(when(bit, +1, -1)) aggregates: sum(+-1) > 0  <=>  2*ones > n,
    # so the signatures are identical, but the per-row aggregate update
    # is a branch-free shift+and and the generated code is much smaller.
    # The sign assembly is a BALANCED OR tree (depth 6) rather than a
    # 64-deep left-nested when/or chain: the deep chain made Catalyst
    # optimization + codegen + JIT of the final stage a multi-second
    # one-time cost that landed nondeterministically inside single-pass
    # scaling measurements (the r5 simhash 0.677 at 4->16 decomposed to
    # exactly this stage: sig_eff 0.39 with a fixed ~8.6s
    # parallelism-independent component; steady-state passes scaled at
    # ~0.99).
    aggs = [
        F.sum(
            F.shiftrightunsigned(F.col("__h"), b).bitwiseAND(F.lit(1))
        ).alias(f"_o{b}")
        for b in range(64)
    ]
    g = h.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"), *aggs)
    terms: list[Column] = [
        F.shiftleft((F.col(f"_o{b}") * 2 > F.col("__n")).cast("long"), b)
        for b in range(64)
    ]
    while len(terms) > 1:
        terms = [
            terms[i].bitwiseOR(terms[i + 1]) if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return g.select("__id", terms[0].alias("__sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of XOR of two 64-bit signatures (pure expr)."""
    return F.bit_count(a.bitwiseXOR(b))


def _band_widths(bands: int) -> list[tuple[int, int]]:
    """(start_bit, width) per band, distributing 64 bits as evenly as
    possible so every band is non-empty (required for the pigeonhole
    recall guarantee)."""
    if not 1 <= bands <= 64:
        raise ValueError("bands must be in [1, 64]")
    base, rem = divmod(64, bands)
    specs, lo = [], 0
    for b in range(bands):
        w = base + (1 if b < rem else 0)
        specs.append((lo, w))
        lo += w
    return specs


def simhash_band_keys(sig: Column, bands: int) -> Column:
    """Array of (band, key) structs cutting a 64-bit signature into
    ``bands`` contiguous bit bands. Pigeonhole: two signatures within
    hamming distance ``bands - 1`` MUST share at least one band key."""
    structs = []
    for b, (lo, w) in enumerate(_band_widths(bands)):
        key = F.shiftrightunsigned(sig, lo)
        if w < 64:
            key = key.bitwiseAND(F.lit((1 << w) - 1))
        structs.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.array(*structs)


def simhash_pairs_from_sigs(
    sigs: DataFrame, sig_col: str, id_col: str, max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs from precomputed 64-bit signatures: banded blocking
    + exact hamming verify. ``bands`` defaults to ``max_hamming + 1`` —
    the MINIMUM guaranteeing full recall (a pair differing in at most
    max_hamming bits cannot differ in all max_hamming+1 bands); passing
    fewer bands raises rather than silently dropping pairs."""
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} cannot guarantee recall at max_hamming={max_hamming}; "
            f"need >= {max_hamming + 1} (pigeonhole)"
        )
    sig = sigs.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"))
    banded = sig.select(
        "__id", "__sig", F.explode(simhash_band_keys(F.col("__sig"), bands)).alias("bb")
    ).select(
        "__id", "__sig",
        F.col("bb.band").alias("band"), F.col("bb.key").alias("bucket"),
    )
    cand = _bucket_pairs(banded, payload=("__sig",), chunk_cap=BUCKET_CHUNK_CAP)
    return cand.select(
        "id_a", "id_b",
        hamming64(F.col("__sig_a"), F.col("__sig_b")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def simhash_neardup_pairs(
    df: DataFrame, tokens_col: str, id_col: str, max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance with banded blocking
    whose band count is DERIVED from max_hamming (>= max_hamming + 1) so
    the candidate set provably contains every qualifying pair.
    Signatures come from simhash_signatures_jvm — zero Python."""
    sig = simhash_signatures_jvm(df, tokens_col, id_col)
    return simhash_pairs_from_sigs(sig, "__sig", "__id", max_hamming, bands)


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def hyperplane_bits_udf(dim: int, n_bits: int = 8, seed: int = 42):
    """Arrow-vectorized random-hyperplane LSH key: one numpy matmul per
    batch against a seeded (n_bits, dim) hyperplane matrix captured in
    the closure."""
    rng = np.random.RandomState(seed)
    W = rng.randn(n_bits, dim)
    powers = 1 << np.arange(n_bits, dtype=np.int64)

    def bits(s: pd.Series) -> pd.Series:
        M = np.stack([np.asarray(v, dtype=np.float64) for v in s])
        return pd.Series(((M @ W.T >= 0).astype(np.int64) @ powers))

    return pandas_udf(bits, "long")


def embedding_neardup_pairs(
    df: DataFrame, vec_col: str, id_col: str,
    threshold: float = 0.95, n_bits: int | None = None, seed: int = 42,
) -> DataFrame:
    """Cosine >= threshold pairs, candidate-limited to equal LSH sign-bit
    buckets (high-threshold near-dups almost surely share all sign bits).

    ``n_bits`` defaults to log2(corpus / TARGET_BUCKET_ROWS): a FIXED
    bucket count leaves quadratic mega-buckets once the corpus outgrows
    it, so the bucket count scales with the corpus to hold expected
    occupancy (and the per-bucket quadratic term) roughly constant.
    Null vectors are excluded up front (a null can match nothing; the
    Arrow bucketing/rescoring batches require dense rows). Candidate
    verification is an Arrow-batched numpy cosine, not the interpreted
    Column fold — at corpus scale the verify runs over every candidate
    pair and dominates.

    Candidate generation goes through the chunk-guarded
    ``_bucket_pairs`` (same machinery as minhash/simhash): a dedup
    corpus's normal case is a large cluster of near-identical vectors
    that all share every sign bit — under a plain bucket self-join
    that is one hot join key whose k^2 candidate rows funnel through a
    single task pair. ``_bucket_pairs`` hash-splits any bucket larger
    than ``BUCKET_CHUNK_CAP`` into chunk-pair tasks of <= ~2x that many
    rows each while still emitting the exact pair set (the vectors ride
    along as payload so the Arrow verify needs no join back)."""
    import math

    from kamae_spark.data.similarity import cosine_pairs_udf

    df = df.where(F.col(vec_col).isNotNull())
    dim_row = df.select(F.size(vec_col).alias("d")).limit(1).first()
    if dim_row is None:
        raise ValueError(f"cannot infer array dim of empty column {vec_col}")
    dim = int(dim_row["d"])
    if n_bits is None:
        n = df.count()
        n_bits = min(max(4, math.ceil(math.log2(max(n, 1) / TARGET_BUCKET_ROWS))), 24)
    banded = df.select(
        F.lit(0).alias("band"),
        hyperplane_bits_udf(dim, n_bits, seed)(F.col(vec_col)).alias("bucket"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
    )
    cand = _bucket_pairs(banded, payload=("__v",), chunk_cap=BUCKET_CHUNK_CAP)
    pairs = cand.select(
        "id_a", "id_b",
        cosine_pairs_udf()(F.col("__v_a"), F.col("__v_b")).alias("cosine"),
    ).where(F.col("cosine") >= threshold)
    return pairs
