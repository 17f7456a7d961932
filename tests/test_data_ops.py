"""Training-data pipeline ops: text analysis, dedup, similarity,
multimodal plumbing — over the driver-provided documents/embeddings
testdata plus synthetic edge cases."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kamae_spark.core.pipeline import PipelineModel
from kamae_spark.data.dedup import (
    SimHash,
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from kamae_spark.data import dedup, similarity
from kamae_spark.data.multimodal import extract_features, frame_sample_plan, synthesize_assets
from kamae_spark.data.similarity import brute_force_topk, ivf_topk
from kamae_spark.data.text import Fingerprint, LanguageId, QualityScore, TokenCount

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_text_analysis(documents):
    model = PipelineModel(
        [
            TokenCount(input_col="text", output_col="n_ws", mode="whitespace"),
            TokenCount(input_col="text", output_col="n_re", mode="regex"),
            QualityScore(input_col="text", output_col="quality"),
            LanguageId(input_col="text", output_col="lang_guess"),
            Fingerprint(input_col="text", output_col="fp"),
        ]
    )
    got = model.transform(documents).toPandas()
    # oracles computed in pandas
    exp_ws = got["text"].str.strip().str.split().map(len)
    assert got["n_ws"].tolist() == exp_ws.tolist()
    assert (got["n_re"] >= got["n_ws"]).all()  # regex splits punctuation out
    assert got["quality"].between(0, 1).all()
    assert got["fp"].str.len().eq(32).all()
    assert set(got["lang_guess"]) <= {"en", "es", "fr", "de", "und"}


def test_fingerprint_invariance(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("HELLO ... WORLD",)], "text string"
    )
    got = PipelineModel([Fingerprint(input_col="text", output_col="fp")]).transform(df).toPandas()
    assert got["fp"].nunique() == 1  # case/punct/whitespace-invariant


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text!"), (3, "different")], "id long, text string"
    )
    got = exact_dedup(df, "text", "id").toPandas().sort_values("keep_id")
    assert got["keep_id"].tolist() == [1, 3]
    assert got.set_index("keep_id")["n_dups"].loc[1] == 2


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated content here with words"),
        ],
        "id long, text string",
    )
    got = ngram_jaccard_pairs(df, "text", "id", threshold=0.5, length_bucket=None).toPandas()
    assert len(got) == 1
    assert (got["id_a"][0], got["id_b"][0]) == (1, 2)
    assert got["jaccard"][0] > 0.5


def test_minhash_lsh_recovers_near_dups(spark):
    base = "word%d " * 30
    rows = [(i, base % tuple(range(30))) for i in range(1, 4)]
    rows[1] = (2, rows[1][1].replace("word29", "CHANGED"))  # near-dup of 1
    rows[2] = (3, " ".join(f"other{j}" for j in range(30)))  # unrelated
    df = spark.createDataFrame(rows, "id long, text string")
    got = minhash_lsh_pairs(df, "text", "id", num_perm=64, bands=16, threshold=0.5).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_and_neardup(spark):
    toks_a = [f"tok{i}" for i in range(40)]
    toks_b = toks_a[:-1] + ["novel"]
    toks_c = [f"zzz{i}" for i in range(40)]
    df = spark.createDataFrame(
        [(1, toks_a), (2, toks_b), (3, toks_c)], "id long, toks array<string>"
    )
    sigs = PipelineModel([SimHash(input_col="toks", output_col="sig")]).transform(df)
    vals = {r["id"]: r["sig"] for r in sigs.collect()}
    assert vals[1] != 0 and len(set(vals.values())) == 3
    got = simhash_neardup_pairs(df, "toks", "id", max_hamming=8).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_simhash_banding_pigeonhole(spark):
    """Every pair within max_hamming MUST be a candidate — including
    adversarial signatures whose differing bits span all bands of a
    COARSER banding (the round-1 recall bug: fixed 4 quarters at
    max_hamming>3). Also: too-few bands raises instead of dropping."""
    import random

    from kamae_spark.data.dedup import simhash_pairs_from_sigs

    rng = random.Random(7)
    rows, expected = [], set()
    base = rng.getrandbits(63)
    rows.append((0, base))
    nxt = 1
    for ham in (1, 3, 4, 7, 10):
        # spread the flipped bits maximally (worst case for banding)
        bits = [round(i * 63 / max(ham - 1, 1)) for i in range(ham)]
        sig = base
        for b in set(bits):
            sig ^= 1 << b
        rows.append((nxt, sig))
        expected.add((0, nxt, ham))
        nxt += 1
    rows.append((nxt, ~base & ((1 << 63) - 1)))  # far: ~63 differing bits
    df = spark.createDataFrame(
        [(i, s - (1 << 64) if s >= (1 << 63) else s) for i, s in rows],
        "id long, sig long",
    )
    got = simhash_pairs_from_sigs(df, "sig", "id", max_hamming=10).toPandas()
    found = {(a, b) for a, b in zip(got["id_a"], got["id_b"])}
    for a, b, ham in expected:
        assert (a, b) in found, f"missed pair at hamming={ham}"
    assert (0, nxt) not in found  # the far signature stays excluded

    with pytest.raises(ValueError):
        simhash_pairs_from_sigs(df, "sig", "id", max_hamming=10, bands=4)


def test_embedding_neardup(spark):
    rng = np.random.RandomState(0)
    v = rng.randn(8).astype(float)
    near = v + rng.randn(8) * 0.01
    far = rng.randn(8)
    df = spark.createDataFrame(
        [(1, v.tolist()), (2, near.tolist()), (3, far.tolist())],
        "id long, vec array<double>",
    )
    got = embedding_neardup_pairs(df, "vec", "id", threshold=0.98).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_brute_force_topk_matches_numpy(embeddings):
    queries = embeddings.where(F.col("vec_id") < 3)
    got = brute_force_topk(embeddings, queries, "embedding", "vec_id", k=5).toPandas()
    pdf = embeddings.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = norm @ norm[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -np.round(sims, 6)))[:5]
        exp = ids[order].tolist()
        got_q = got[got["query_id"] == qid].sort_values("rank")["neighbor_id"].tolist()
        assert got_q == exp


def test_ivf_topk_recall(embeddings):
    queries = embeddings.where(F.col("vec_id") < 5)
    exact = brute_force_topk(embeddings, queries, "embedding", "vec_id", k=10).toPandas()
    approx = ivf_topk(embeddings, queries, "embedding", "vec_id", k=10,
                      n_centroids=8, nprobe=4).toPandas()
    recalls = []
    for qid in range(5):
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.5  # nprobe=4 of 8 buckets


def test_ivf_topk_recall_clustered(spark):
    """>=0.9 recall gate on a CLUSTERED corpus (the testdata embeddings
    are near-uniform random — intra-label cosine ~0.02 — where bucket
    pruning is information-free by construction; IVF's contract is about
    clustered corpora, so the quality gate uses one)."""
    from kamae_spark.data.similarity import brute_force_topk, ivf_topk

    rng = np.random.RandomState(3)
    centers = rng.randn(8, 32) * 3.0
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.randn(32) * 0.4).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    q = df.where(F.col("vec_id") < 6)
    exact = brute_force_topk(df, q, "embedding", "vec_id", k=10).toPandas()
    approx = ivf_topk(df, q, "embedding", "vec_id", k=10,
                      n_centroids=8, nprobe=2).toPandas()
    recalls = []
    for qid in range(6):
        e = set(exact[exact["query_id"] == qid]["neighbor_id"])
        a = set(approx[approx["query_id"] == qid]["neighbor_id"])
        recalls.append(len(e & a) / len(e))
    assert np.mean(recalls) >= 0.9, recalls


def test_multimodal_plumbing(documents):
    assets = synthesize_assets(documents, "doc_id", "text")
    feats = extract_features(assets, dim=16)
    got = feats.toPandas()
    assert len(got) == documents.count()
    assert got["feature"].map(len).eq(16).all()
    norms = got["feature"].map(lambda f: float(np.linalg.norm(f)))
    assert (((norms - 1.0).abs() < 1e-5) | (norms == 0)).all()
    # deterministic across runs
    again = extract_features(assets, dim=16).toPandas().sort_values("asset_id")
    a = got.sort_values("asset_id")["feature"].map(tuple).tolist()
    assert a == again["feature"].map(tuple).tolist()


def test_multimodal_strict_raises(documents, spark):
    assets = synthesize_assets(documents.limit(3), "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|no codec|decoding"):
        extract_features(assets, strict=True).collect()


def test_frame_sample_plan(documents):
    assets = synthesize_assets(documents, "doc_id", "text")
    plan = frame_sample_plan(assets, every_ms=5000).toPandas()
    assert (plan["frame_ts_ms"] % 5000 == 0).all()
    vids = assets.where("kind = 'video'").count()
    assert plan["asset_id"].nunique() == vids


# ---------------------------------------------------------------------------
# round 3: mega-bucket chunking, null safety, vectorized rescoring
# ---------------------------------------------------------------------------

def test_bucket_pairs_chunked_equals_unchunked(spark):
    """The chunked mega-bucket guard must emit EXACTLY the same pair set
    as the single-task collect (nothing dropped, nothing duplicated),
    including buckets far above the cap."""
    from kamae_spark.data.dedup import _bucket_pairs

    rows = []
    # bucket 0: 83 items (>> cap of 10); bucket 1: 7 items; singleton bucket
    for i in range(83):
        rows.append((i, 0, 100))
    for i in range(83, 90):
        rows.append((i, 0, 200))
    rows.append((999, 1, 300))
    band = spark.createDataFrame(rows, "__id long, band int, bucket long")
    exact = _bucket_pairs(band, chunk_cap=None).toPandas()
    chunked = _bucket_pairs(band, chunk_cap=10).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    # normalize order for comparison (chunked normalizes cross pairs by id)
    chunk_pairs = {tuple(sorted(p)) for p in zip(chunked["id_a"], chunked["id_b"])}
    assert {tuple(sorted(p)) for p in exact_pairs} == chunk_pairs
    assert len(chunk_pairs) == 83 * 82 // 2 + 7 * 6 // 2


def test_bucket_pairs_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate id values in one bucket must not produce (x, x) pairs
    (the old self-join contract was strict id_a < id_b)."""
    from kamae_spark.data.dedup import _bucket_pairs

    band = spark.createDataFrame(
        [(7, 0, 100), (7, 0, 100), (8, 0, 100)], "__id long, band int, bucket long"
    )
    for cap in (None, 2):
        got = _bucket_pairs(band, chunk_cap=cap).toPandas()
        assert not (got["id_a"] == got["id_b"]).any()
        assert set(zip(got["id_a"], got["id_b"])) == {(7, 8)}


def test_minhash_adversarial_identical_docs(spark, monkeypatch):
    """An all-identical corpus = one mega-bucket per band. The chunk
    guard must bound per-task state while still emitting every pair."""
    monkeypatch.setattr(dedup, "BUCKET_CHUNK_CAP", 16)
    n = 120
    df = spark.createDataFrame(
        [(i, "exactly the same boilerplate header text") for i in range(n)],
        "id long, text string",
    )
    got = minhash_lsh_pairs(
        df, "text", "id", num_perm=16, bands=4, threshold=0.9
    ).toPandas()
    assert len(got) == n * (n - 1) // 2
    assert (got["jaccard"] == 1.0).all()


def test_embedding_neardup_null_rows(spark):
    """Null embedding rows must be ignored, not crash the Arrow UDFs."""
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, None), (4, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = embedding_neardup_pairs(df, "vec", "id", threshold=0.99, n_bits=4).toPandas()
    assert set(zip(got["id_a"], got["id_b"])) == {(1, 2)}


def test_ivf_topk_null_rows(spark):
    """Null vectors on either side are excluded up front."""
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, rng.randn(8).tolist()) for i in range(40)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 3)
    got = ivf_topk(df, q, "embedding", "vec_id", k=5, n_centroids=4, nprobe=4).toPandas()
    assert set(got["query_id"]) == {0, 1, 2}
    assert 99 not in set(got["neighbor_id"])


def test_fit_centroids_empty_corpus_raises(spark):
    from kamae_spark.data.similarity import fit_centroids

    df = spark.createDataFrame([(1, None)], "id long, vec array<double>")
    with pytest.raises(ValueError, match="no non-null vectors"):
        fit_centroids(df, "vec", 4)


def test_vectorized_cosine_matches_column_fold(spark):
    """Arrow-batched numpy cosine == interpreted Column fold (1e-12)."""
    import numpy as np

    from kamae_spark.data.similarity import cosine, cosine_pairs_udf

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist(), rng.randn(16).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        cosine(F.col("a"), F.col("b")).alias("fold"),
        cosine_pairs_udf()(F.col("a"), F.col("b")).alias("vec"),
    ).toPandas()
    assert np.allclose(got["fold"], got["vec"], atol=1e-12)


def test_salted_topk_identical_to_single_window(embeddings, monkeypatch):
    """The two-phase salted top-k must be bit-identical to the plain
    per-query window for both the exact and IVF paths."""
    q = embeddings.where(F.col("vec_id") < 5)
    a = brute_force_topk(embeddings, q, "embedding", "vec_id", k=7).toPandas()
    ia = ivf_topk(embeddings, q, "embedding", "vec_id", k=7, n_centroids=8,
                  nprobe=8).toPandas()
    monkeypatch.setattr(similarity, "TOPK_SALT", 0)
    b = brute_force_topk(embeddings, q, "embedding", "vec_id", k=7).toPandas()
    ib = ivf_topk(embeddings, q, "embedding", "vec_id", k=7, n_centroids=8,
                  nprobe=8).toPandas()
    key = ["query_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.equals(b)

    ia = ia.sort_values(key).reset_index(drop=True)
    ib = ib.sort_values(key).reset_index(drop=True)
    assert ia.equals(ib)


def test_salted_topk_plan_has_two_rank_stages(embeddings, monkeypatch):
    """Regression fence: the salted path must rank in two window stages
    (parallelism n_queries x salt, then n_queries over salt*k rows) —
    not one giant per-query window."""
    monkeypatch.setattr(similarity, "TOPK_SALT", 16)
    q = embeddings.where(F.col("vec_id") < 3)
    out = brute_force_topk(embeddings, q, "embedding", "vec_id", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, plan


def test_simhash_jvm_signatures_properties(spark):
    """JVM-side simhash: identical token lists -> identical signatures;
    near-identical lists -> small hamming; disjoint vocab -> large
    hamming; empty token arrays produce no signature row."""
    from kamae_spark.data.dedup import hamming64, simhash_signatures_jvm

    toks_a = [f"w{i}" for i in range(60)]
    toks_b = toks_a[:-2] + ["CHANGED", "ALSO"]
    toks_c = [f"other{i}" for i in range(60)]
    df = spark.createDataFrame(
        [(1, toks_a), (2, list(toks_a)), (3, toks_b), (4, toks_c), (5, [])],
        "id long, toks array<string>",
    )
    sigs = simhash_signatures_jvm(df, "toks", "id")
    rows = {r["__id"]: r["__sig"] for r in sigs.collect()}
    assert set(rows) == {1, 2, 3, 4}  # empty-token doc 5 dropped
    assert rows[1] == rows[2]
    a, b = sigs.alias("a"), sigs.alias("b")
    ham = {
        (r["ia"], r["ib"]): r["h"]
        for r in a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("ia"), F.col("b.__id").alias("ib"),
            hamming64(F.col("a.__sig"), F.col("b.__sig")).alias("h"),
        ).collect()
    }
    assert ham[(1, 2)] == 0
    assert ham[(1, 3)] < ham[(1, 4)]
    assert ham[(1, 3)] <= 16  # 58/60 shared tokens -> few flipped bits


def test_simhash_neardup_jvm_recovers_pairs(spark):
    from kamae_spark.data.dedup import simhash_neardup_pairs

    base = [f"tok{i}" for i in range(80)]
    rows = [(1, base), (2, base[:-1] + ["X"]), (3, [f"z{i}" for i in range(80)])]
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    got = simhash_neardup_pairs(df, "toks", "id", max_hamming=8).toPandas()
    pairs = set(zip(got["id_a"], got["id_b"]))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_fnv1a_vectorized_parity():
    """The numpy-vectorized FNV-1a must bit-equal the scalar definition
    (cross-round signature stability depends on it)."""
    import random
    import string

    from kamae_spark.data.dedup import _fnv1a64_tokens

    def fnv_ref(b):
        h = 0xCBF29CE484222325
        for ch in b:
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    rng = random.Random(7)
    toks = ["", "a", "hello", "世界のテスト", "x" * 300] + [
        "".join(rng.choices(string.printable, k=rng.randint(0, 50)))
        for _ in range(200)
    ]
    bts = [t.encode("utf-8") for t in toks]
    got = _fnv1a64_tokens(bts)
    exp = np.array([fnv_ref(b) for b in bts], dtype=np.uint64)
    assert (got == exp).all()


def test_simhash_vectorized_batch_parity():
    """_simhash64_py (flattened batch + reduceat) must equal the
    per-doc scalar simhash definition, including None/empty docs."""
    import random
    import string

    import pandas as pd

    from kamae_spark.data.dedup import _simhash64_py

    def fnv_ref(b):
        h = 0xCBF29CE484222325
        for ch in b:
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    def simhash_ref(toks):
        if toks is None or len(toks) == 0:
            return 0
        hs = np.array([fnv_ref(t.encode("utf-8")) for t in toks], dtype=np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        acc = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for b in np.nonzero(acc > 0)[0]:
            sig |= np.uint64(1) << np.uint64(b)
        return int(np.int64(sig.astype(np.int64)))

    rng = random.Random(3)
    docs = [None, [], ["hello", "world"], ["a"], ["the", "quick", "the"], ["世界", ""]]
    docs += [
        ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 12)))
         for _ in range(rng.randint(1, 40))]
        for _ in range(100)
    ]
    got = _simhash64_py(pd.Series(docs, dtype=object)).to_numpy()
    exp = np.array([simhash_ref(d) for d in docs], dtype=np.int64)
    assert (got == exp).all()


def test_embedding_neardup_adversarial_identical_vectors(spark, monkeypatch):
    """A cluster of identical vectors collapses into ONE bucket — the
    normal shape of a dedup corpus. The chunk-guarded candidate path
    must (a) emit the exact full pair set and (b) contain NO join at
    all (the round-3 plan was a raw self-join on the bucket key: one
    hot key, k^2 rows through a single task pair)."""
    n = 150
    vec = [0.3, -1.2, 0.8, 2.0]
    extra = [(n + 1, [-0.3, 1.2, -0.8, -2.0])]  # opposite bucket, no pairs
    df = spark.createDataFrame(
        [(i, vec) for i in range(n)] + extra, "id long, vec array<double>"
    )
    monkeypatch.setattr(dedup, "BUCKET_CHUNK_CAP", 16)
    q = embedding_neardup_pairs(df, "vec", "id", threshold=0.999, n_bits=4)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    got = q.toPandas()
    assert len(got) == n * (n - 1) // 2
    assert (got["cosine"] >= 0.999).all()
    assert (got["id_a"] < got["id_b"]).all()
    assert int(got[["id_a", "id_b"]].max().max()) < n + 1


def test_embedding_neardup_chunked_equals_unchunked(spark, monkeypatch):
    """Chunk guard must not change the emitted pair set on random data."""
    rng = np.random.RandomState(5)
    base = rng.randn(12, 6)
    rows = []
    rid = 0
    for b in base:
        for _ in range(rng.randint(1, 6)):
            rows.append((rid, (b + rng.randn(6) * 0.003).tolist()))
            rid += 1
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    kw = dict(threshold=0.98, n_bits=5)
    monkeypatch.setattr(dedup, "BUCKET_CHUNK_CAP", 4)
    a = embedding_neardup_pairs(df, "vec", "id", **kw).toPandas()
    monkeypatch.setattr(dedup, "BUCKET_CHUNK_CAP", None)
    b = embedding_neardup_pairs(df, "vec", "id", **kw).toPandas()
    key = lambda t: set(zip(t["id_a"], t["id_b"]))
    assert key(a) == key(b) and len(a) == len(b)


def test_bucket_pairs_payload_dedup_narrow_exchange(spark):
    """Cross-band duplicate pairs must collapse to one row with the
    payload intact, and the dedup exchange must hash-partition on
    (id_a, id_b) ONLY — not on the payload columns (a vector payload
    would otherwise be hashed per candidate pair; VERDICT r4 #4)."""
    from kamae_spark.data.dedup import _bucket_pairs

    # two bands putting the same ids in one bucket -> duplicate pairs
    band = spark.createDataFrame(
        [(1, 0, 100, [1.0, 2.0]), (2, 0, 100, [3.0, 4.0]),
         (1, 1, 200, [1.0, 2.0]), (2, 1, 200, [3.0, 4.0])],
        "__id long, band int, bucket long, vec array<double>",
    )
    for cap in (None, 2):
        got = _bucket_pairs(band, payload=("vec",), chunk_cap=cap)
        pdf = got.toPandas()
        assert len(pdf) == 1
        row = pdf.iloc[0]
        assert (row["id_a"], row["id_b"]) == (1, 2)
        assert list(row["vec_a"]) == [1.0, 2.0] and list(row["vec_b"]) == [3.0, 4.0]
        plan = got._jdf.queryExecution().executedPlan().toString()
        import re
        for m in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
            assert "vec" not in m, plan


# -- IVF scan strategy (round 5) ---------------------------------------------


@pytest.fixture(scope="module")
def _ivf_corpus(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist()) for i in range(3000)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        .repartition(6)
        .cache()
    )


def _rows(t):
    return sorted(map(tuple, t.toPandas()[
        ["query_id", "neighbor_id", "score", "rank"]].values.tolist()))


def test_ivf_scan_equals_join_strategy(_ivf_corpus, monkeypatch):
    """The partition-local scan plan must return EXACTLY the join plan's
    result (same candidates by construction: same centroids, same probe
    selection, same rounding/tie order) — including mid-stream top-k
    compression (SCAN_COMPRESS_ROWS small enough to trigger per batch)."""
    q = _ivf_corpus.where(F.col("vec_id") < 40)
    kw = dict(k=10, n_centroids=12, nprobe=5)
    with monkeypatch.context() as m:
        m.setattr(similarity, "MAX_SCAN_QUERIES", 0)  # forces the join plan
        ref = _rows(ivf_topk(_ivf_corpus, q, "embedding", "vec_id", **kw))
    for cap in (similarity.SCAN_COMPRESS_ROWS, 50):
        monkeypatch.setattr(similarity, "SCAN_COMPRESS_ROWS", cap)
        got = _rows(ivf_topk(_ivf_corpus, q, "embedding", "vec_id", **kw))
        assert got == ref and len(got) == 400


def _scan_and_join(df, q, search, monkeypatch):
    """One search's scan result, then the same search with its pair-join
    fallback forced."""

    def run():
        if search == "brute_force":
            return brute_force_topk(df, q, "embedding", "vec_id", k=5)
        return ivf_topk(df, q, "embedding", "vec_id", k=5, n_centroids=4, nprobe=2)

    scan = _rows(run())
    monkeypatch.setattr(similarity, "MAX_SCAN_QUERIES", 0)
    return scan, _rows(run())


@pytest.mark.parametrize("search", ["brute_force", "ivf"])
def test_scan_equals_join_with_null_vectors(spark, monkeypatch, search):
    """Both plans give one answer when nulls are present: a null query
    vector gets no row and a null corpus vector is nobody's neighbour."""
    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(8).tolist()) for i in range(40)]
    rows += [(40, None), (41, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id").isin(0, 1, 2, 41))
    scan, join = _scan_and_join(df, q, search, monkeypatch)
    assert scan == join and len(scan) == 15
    assert {r[0] for r in scan} == {0, 1, 2}
    assert not {40, 41} & {r[1] for r in scan}


@pytest.mark.parametrize("search", ["brute_force", "ivf"])
def test_scan_equals_join_with_zero_vectors(spark, monkeypatch, search):
    """A zero-norm vector has no cosine: both plans drop it, so a zero
    query gets no row and a zero corpus vector is nobody's neighbour."""
    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(8).tolist()) for i in range(40)] + [(40, [0.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id").isin(0, 1, 2, 40))
    scan, join = _scan_and_join(df, q, search, monkeypatch)
    assert scan == join and len(scan) == 15
    assert {r[0] for r in scan} == {0, 1, 2}
    assert 40 not in {r[1] for r in scan}


def test_ivf_scan_degenerate_equals_brute_force(_ivf_corpus):
    """nprobe == K probes every bucket -> scan must equal exact top-k."""
    q = _ivf_corpus.where(F.col("vec_id") < 8)
    a = ivf_topk(_ivf_corpus, q, "embedding", "vec_id", k=10,
                 n_centroids=8, nprobe=8).toPandas()
    b = brute_force_topk(_ivf_corpus, q, "embedding", "vec_id", k=10).toPandas()
    key = lambda t: sorted(map(tuple, t[["query_id", "neighbor_id", "rank"]].values.tolist()))
    assert key(a) == key(b)


def test_ivf_scan_string_ids(spark, monkeypatch):
    rng = np.random.RandomState(11)
    rows = [(f"id_{i:04d}", rng.randn(8).tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>").cache()
    q = df.where(F.col("vec_id") < "id_0005")
    key = lambda t: sorted(map(tuple, t[["query_id", "neighbor_id", "score", "rank"]].values.tolist()))
    a = ivf_topk(df, q, "embedding", "vec_id", k=5, n_centroids=6,
                 nprobe=6).toPandas()
    monkeypatch.setattr(similarity, "MAX_SCAN_QUERIES", 0)
    b = ivf_topk(df, q, "embedding", "vec_id", k=5, n_centroids=6,
                 nprobe=6).toPandas()
    assert key(a) == key(b) and len(a) == 25


def test_ivf_scan_plan_no_join_no_corpus_shuffle(_ivf_corpus):
    """Plan fence: the scan strategy must have NO join node and must not
    shuffle the corpus — every hashpartitioning exchange is a rank-window
    exchange keyed on query_id over partition-local top-k rows only."""
    import re

    q = _ivf_corpus.where(F.col("vec_id") < 10)
    out = ivf_topk(_ivf_corpus, q, "embedding", "vec_id", k=10,
                   n_centroids=12, nprobe=5)
    assert out.count() == 100
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts and all(p.startswith("query_id") for p in parts), parts


def test_ivf_scan_empty_queries(_ivf_corpus):
    q = _ivf_corpus.where("vec_id < -1")
    out = ivf_topk(_ivf_corpus, q, "embedding", "vec_id", k=5,
                   n_centroids=8)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# scan-parallelism guard (kamae_spark/data/partitioning.py)
# ---------------------------------------------------------------------------

def test_ensure_scan_parallelism_redistributes_and_noops(spark):
    from kamae_spark.data.partitioning import ensure_scan_parallelism

    target = spark.sparkContext.defaultParallelism
    one = spark.range(1000).coalesce(1)
    up = ensure_scan_parallelism(one, "id")
    assert up.rdd.getNumPartitions() == target
    # already-parallel input: returned untouched, no exchange added
    wide = spark.range(1000).repartition(target, "id")
    assert ensure_scan_parallelism(wide, "id") is wide


def test_exact_dedup_single_partition_input_parallelizes_identically(spark):
    from kamae_spark.data.partitioning import ensure_scan_parallelism  # noqa: F401
    from kamae_spark.sources.synth import documents_table

    docs = documents_table(spark, n_docs=500)
    one = docs.coalesce(1)
    a = exact_dedup(one, "text", "doc_id").toPandas()
    b = exact_dedup(docs, "text", "doc_id").toPandas()
    key = lambda p: sorted(map(tuple, p[["fingerprint", "keep_id", "n_dups"]].values.tolist()))
    assert key(a) == key(b)
    # the map-side digest work must run at session parallelism: the plan
    # repartitions the single-partition scan before the md5 projection
    plan = exact_dedup(one, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan


def test_library_pandas_udfs_declare_type_hints(spark, monkeypatch):
    """The library's own scalar pandas UDFs are declared by type hints,
    so none of them raises pyspark's SPARK-28264 deprecation warning
    (an explicit ``functionType``)."""
    import warnings

    from kamae_spark.operators import indexers

    monkeypatch.setattr(indexers, "VOCAB_JOIN_THRESHOLD", 1)
    with warnings.catch_warnings():
        warnings.filterwarnings("error", message=".*SPARK-28264.*")
        similarity.cosine_pairs_udf()
        similarity._bucket_udfs(np.eye(2), 1)
        dedup.hyperplane_bits_udf(dim=2)
        df = spark.createDataFrame([(["a", "z"],)], "w array<string>")
        t = indexers.StringIndexTransformer(input_col="w", output_col="i", labels=["a", "b"])
        assert t.transform(df).first()["i"] == [1, 0]
