"""Hash / sketch encoders (reference SURVEY.md §2.8).

All four reference ops are per-row Python UDFs over pyfarmhash
(user_defined_functions.py:22-43,142-202). Here every one is a pure
Catalyst expression over Spark's JVM-side ``xxhash64`` — zero Python per
row (input_hint mandate). Deviation note: bucket ASSIGNMENTS differ from
the reference because farmhash64 != xxhash64; the reference chose
farmhash only for TensorFlow-serving hash parity, which this engine does
not target. Layout semantics (0 reserved for null/mask, bucket ranges,
salting scheme) are preserved.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kamae_spark.core.stage import keyword_params
from kamae_spark.operators.arrays import ArrayTransform
from kamae_spark.operators.rowwise import ElementwiseTransform


class HashIndex(ElementwiseTransform):
    """string -> bucket in [1, num_bins); 0 reserved for null/mask
    (reference hash_index.py:95-112, hash_udf)."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 num_bins: int = 1000, mask_value: str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if num_bins < 2:
            raise ValueError("num_bins must be >= 2")

    def fn(self, x: Column) -> Column:
        bucket = (F.pmod(F.xxhash64(x), F.lit(self.num_bins - 1)) + 1).cast("int")
        expr = F.when(x.isNull(), F.lit(0)).otherwise(bucket)
        if self.mask_value is not None:
            expr = F.when(x == F.lit(self.mask_value), F.lit(0)).otherwise(expr)
        return expr


class BloomEncode(ElementwiseTransform):
    """string -> K hash indices (salted), optional per-hash offsets so
    the K buckets live in disjoint ranges (reference bloom_encode.py:218,
    arXiv 1706.03993 'Bloom embeddings')."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 num_bins: int = 1000, num_hash_fns: int = 3,
                 use_offsets: bool = False, mask_value: str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if num_bins < 2 or num_hash_fns < 1:
            raise ValueError("num_bins >= 2 and num_hash_fns >= 1 required")

    def fn(self, x: Column) -> Column:
        def one(k: int) -> Column:
            salted = F.concat(F.lit(f"salt{k}#"), x)
            b = (F.pmod(F.xxhash64(salted), F.lit(self.num_bins - 1)) + 1).cast("int")
            if self.mask_value is not None:
                b = F.when(x == F.lit(self.mask_value), F.lit(0)).otherwise(b)
            b = F.when(x.isNull(), F.lit(0)).otherwise(b)
            if self.use_offsets:
                b = b + F.lit(k * self.num_bins)
            return b

        return F.array(*[one(k) for k in range(self.num_hash_fns)])


class MinHashIndex(ArrayTransform):
    """array<string> (a token set) -> num_permutations minhash signature
    (reference min_hash_index.py:144, min_hash_udf): signature[p] =
    min over tokens of hash_p(token), hash_p = xxhash64 salted by p.

    Output-shape note: the reference emits the PARITY BIT of each
    min-hash (min_hash_udf takes ``min_hash & 1``, yielding a {0,1}
    feature array for model input); set ``parity_bit=True`` for that
    layout. The default emits the raw 64-bit minima, which downstream
    LSH banding needs (parity bits destroy band selectivity) — a
    deliberate, documented deviation alongside the xxhash64-vs-farmhash
    one above."""

    compatible_dtypes = ("string",)

    @keyword_params
    def __init__(self, input_col: str, output_col: str,
                 num_permutations: int = 64, parity_bit: bool = False,
                 mask_value: str | None = None,
                 input_dtype: str | None = None, output_dtype: str | None = None):
        if num_permutations < 1:
            raise ValueError("num_permutations must be >= 1")

    def afn(self, raw_tokens: Column) -> Column:
        # reference min_hash_udf:177-181: nulls (and the mask value, if
        # set) never contribute to the minimum; an empty residue hashes
        # the empty string so the signature is total
        tokens = F.filter(raw_tokens, lambda t: t.isNotNull())
        if self.mask_value is not None:
            tokens = F.filter(tokens, lambda t: t != F.lit(self.mask_value))
        tokens = F.when(F.size(tokens) > 0, tokens).otherwise(F.array(F.lit("")))

        def one(p: Column) -> Column:
            m = F.array_min(
                F.transform(
                    tokens,
                    lambda t: F.xxhash64(F.concat(p.cast("string"), F.lit("#"), t)),
                )
            )
            # reference layout: {0,1} parity-bit feature array
            return F.pmod(m, F.lit(2)).cast("int") if self.parity_bit else m

        return F.transform(F.sequence(F.lit(0), F.lit(self.num_permutations - 1)), one)
