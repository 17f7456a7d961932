#!/usr/bin/env python
"""Benchmark harness (driver contract, BASELINE.md protocol).

Runs the headline feature-engineering queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line::

  {"metric": "...", "value": <sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "turns": N, "turns_per_sec": T}

Each query is forced end-to-end with a noop-format write (full
computation of every column, no disk cost). The flagship throughput
number (turns/sec, the BASELINE.json north metric) also runs over a
deterministic JVM-side synthetic transcript table ~10x the events table
so timing is not dominated by session overhead at small SF.

Scaling protocol (north rule: efficiency >= 0.8 from N to 4N): run
``python scripts/scaling_bench.py`` — executes this file at
SPARK_GRAFT_CPUS=8 and 32 on identical input and reports both
throughputs + efficiency into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SYNTH_CONVS = int(os.environ.get("KAMAE_BENCH_SYNTH_CONVS", "500000"))


def _pin_blas_single_thread() -> None:
    """Pin BLAS to one thread per process BEFORE any numpy loads in the
    Python workers (they inherit this env in local mode; on a real
    cluster set spark.executorEnv.* to the same effect).

    The container's OpenBLAS defaults to ~29 threads per dgemm: every
    Arrow-batch matmul in a worker then fans out over the whole box.
    That oversubscribes cores task x BLAS-thread (measured: the IVF scan
    at local[16] improves ~15% with pinning) and silently borrows the
    idle cores at low parallelism, which INFLATES local[N] throughput
    and corrupts the N->4N scaling measurement — Spark's parallelism
    must be the only parallelism, or efficiency compares nothing."""
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")


def _session():
    """Tuned local-mode profile (measured by N->4N scaling runs):
    - shuffle partitions = 4x cores: enough tasks that every core stays
      busy through stage tails (2x lost ~10% scaling efficiency)
    - AQE on but coalescing OFF: coalescing merges the small window
      shuffles down and strands cores at high parallelism
    - tmpfs shuffle dir + no shuffle compression: local mode has no
      network, so compression only burns CPU on a memory-speed "disk"
    On a real cluster, re-enable compression (network-bound) and AQE
    coalescing (wide plans); these are local-measurement settings.
    """
    _pin_blas_single_thread()
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("kamae_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 4, 16)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.driver.memory", os.environ.get("KAMAE_BENCH_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # no-op in local mode (workers inherit the driver env pinned
        # above); on a real cluster this is the line that matters
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if os.path.isdir("/dev/shm"):
        b = b.config("spark.local.dir", "/dev/shm/kamae-bench")
    return b.getOrCreate()


def _force(df) -> None:
    """Compute every column end-to-end (no disk cost, no column pruning)."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Load-clean median timing (round-5 protocol). Single-shot walls on this
# shared host have swung +/-20-40% on unchanged code for three rounds,
# poisoning round-over-round comparison. Each timed pass now measures the
# NON-SELF host load over its own window (total /proc/stat busy jiffies
# minus this process tree's jiffies); passes with neighbor load above
# threshold are discarded and retried, and the reported figure is the
# median of the clean passes. KAMAE_BENCH_TIMED_PASSES=1 (the scaling
# phases, which are load-guarded one level up by scripts/scaling_bench.py)
# keeps the old single-pass behavior.
# ---------------------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")
_LOAD_AVG_MAX = float(os.environ.get("KAMAE_BENCH_LOAD_AVG_MAX", "1.5"))
_EXTRA_RETRIES = int(os.environ.get("KAMAE_BENCH_RETRIES", "4"))
_load_log: dict[str, list] = {}


def _total_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    u, n, s, _idle, _iow, irq, sirq, steal = (int(x) for x in parts[1:9])
    return u + n + s + irq + sirq + steal


def _tree_jiffies(root_pid: int) -> int:
    """utime+stime+cutime+cstime over this process and all live
    descendants (the pyspark JVM and its Python workers are children of
    bench.py). cutime/cstime cover already-reaped children, so a worker
    dying mid-pass does not read as a phantom neighbor spike."""
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
            rest = raw[raw.rfind(")") + 2:].split()
            total += sum(int(rest[i]) for i in (11, 12, 13, 14))
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as cf:
                    stack += [int(c) for c in cf.read().split()]
        except (OSError, ValueError, IndexError):
            continue
    return total


def _timed_pass(df) -> tuple[float, float]:
    """One forced execution; returns (wall_sec, neighbor_cores_avg)."""
    b0, s0 = _total_busy_jiffies(), _tree_jiffies(os.getpid())
    t0 = time.perf_counter()
    _force(df)
    wall = time.perf_counter() - t0
    b1, s1 = _total_busy_jiffies(), _tree_jiffies(os.getpid())
    other = max(((b1 - b0) - (s1 - s0)) / _HZ / wall, 0.0)
    return wall, other


def _time_best(df, name: str = "?", n: int | None = None) -> float:
    """Median of n load-clean timed passes (see protocol note above).
    Every pass's (wall, neighbor-load, verdict) is recorded in the
    printed JSON's bench_load field — evidence, not just a number."""
    if n is None:
        n = int(os.environ.get("KAMAE_BENCH_TIMED_PASSES", "3"))
    if n <= 1:
        t0 = time.perf_counter()
        _force(df)
        return round(time.perf_counter() - t0, 3)
    clean: list[float] = []
    log = _load_log.setdefault(name, [])
    for _ in range(n + _EXTRA_RETRIES):
        wall, other = _timed_pass(df)
        ok = other <= _LOAD_AVG_MAX
        log.append([round(wall, 3), round(other, 2),
                    "kept" if ok else "discarded"])
        if ok:
            clean.append(wall)
            if len(clean) >= n:
                break
    # all passes dirty: fall back to every wall, flagged in the log
    walls = sorted(clean or [w for w, _, _ in log])
    if not clean:
        log.append([None, None, "ALL-DIRTY (median of dirty walls)"])
    return round(walls[len(walls) // 2], 3)


def main() -> None:
    import __spark_entry__ as entrymod
    from kamae_spark.core.pipeline import PipelineModel
    from kamae_spark.features import transcript_features
    from kamae_spark.sources.synth import annotations_table, transcripts_table

    spark = _session()
    spark.sparkContext.setLogLevel("ERROR")
    queries: dict[str, float] = {}
    extras: dict[str, float] = {}
    synth_only = os.environ.get("KAMAE_BENCH_ONLY") == "synth"

    if not synth_only:
        # -- per-operator queries over the SF-dir events table -------------
        per_op = ["w_lag_lead", "w_rolling", "w_backfill", "w_sessionize",
                  "w_list_stats", "asof_join",
                  "exact_dedup", "ann_topk", "text_stats"]
        qmap = entrymod.queries()
        for name in per_op:
            if name not in qmap:
                continue
            df = qmap[name](spark, SF_DIR)
            df.count()  # warm: parquet footer reads, plan analysis
            queries[name] = _time_best(df, name)

        # minhash with the PRODUCTION S-curve banding (rounds 1-2 measured
        # this setting; the driver query now uses one-row-per-band for its
        # exhaustive-recall oracle, which would quadratically over-generate
        # candidates here and measure the oracle, not the operator)
        from kamae_spark.data.dedup import minhash_lsh_pairs as _mh

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        mh_prod = _mh(d, "text", "doc_id", n=2, num_perm=64, bands=8,
                      threshold=0.6, tokenizer="word")
        mh_prod.count()  # warm
        queries["minhash_lsh"] = _time_best(mh_prod, "minhash_lsh")

        # -- flagship end-to-end over events-derived transcripts -----------
        t = entrymod._transcripts(spark, SF_DIR).cache()
        n_events = t.count()
        ann = entrymod._annotations(spark, SF_DIR)
        out = PipelineModel(transcript_features(ann)).transform(t)
        _force(out)  # warm
        queries["feature_pipeline_events"] = _time_best(out, "feature_pipeline_events")
        extras["events_turns"] = n_events
        t.unpersist()

    # -- data-ops over synthetic corpora (scaling-run participants) --------
    # one knob per op, so the scaling protocol can run each op alone at
    # its amortizing scale
    n_mh = int(os.environ.get("KAMAE_BENCH_MINHASH_DOCS", "0"))
    n_vecs = int(os.environ.get("KAMAE_BENCH_IVF_VECS", "0"))
    if n_mh:
        from kamae_spark.data.dedup import minhash_lsh_pairs
        from kamae_spark.sources.synth import documents_table

        docs = documents_table(spark, n_docs=n_mh).cache()
        docs.count()
        mh = minhash_lsh_pairs(docs, "text", "doc_id", n=2, tokenizer="word",
                               threshold=0.6)
        _force(mh)  # warm
        queries["minhash_lsh_synth"] = _time_best(mh, "minhash_lsh_synth")
        extras["synth_docs"] = n_mh
        docs.unpersist()

    if n_vecs:
        # the assignment pass must be >=10s at 4N or fixed overheads
        # (Arrow worker startup, stage barriers) dominate and the
        # efficiency measurement is meaningless; the query batch /
        # centroid count are tunable so the scaling run can use a
        # realistic batch (thousands of queries) at amortizing walls
        from kamae_spark.data.similarity import ivf_topk
        from kamae_spark.sources.synth import embeddings_table

        n_q = int(os.environ.get("KAMAE_BENCH_IVF_QUERIES", "16"))
        n_cent = int(os.environ.get("KAMAE_BENCH_IVF_CENTROIDS", "64"))
        nprobe = int(os.environ.get("KAMAE_BENCH_IVF_NPROBE", "8"))
        emb = embeddings_table(spark, n_vecs=n_vecs, dim=64, n_clusters=256).cache()
        emb.count()
        q8 = emb.where(emb.vec_id < n_q)
        ivf = ivf_topk(emb, q8, "embedding", "vec_id", k=10,
                       n_centroids=n_cent, nprobe=nprobe)
        _force(ivf)  # warm (includes centroid fit)
        queries["ivf_topk_synth"] = _time_best(ivf, "ivf_topk_synth")
        extras["synth_vecs"] = n_vecs
        extras["ivf_queries"] = n_q
        emb.unpersist()

    # simhash near-dup over synthetic documents: JVM signature path
    # (explode -> xxhash64 -> 64 bit-count aggs) + banded hamming verify.
    # 0 disables; used by the scaling protocol (KAMAE_SCALING_* phases).
    n_sh = int(os.environ.get("KAMAE_BENCH_SIMHASH_DOCS", "0"))
    if n_sh:
        from pyspark.sql import functions as F

        from kamae_spark.data.dedup import (
            simhash_pairs_from_sigs, simhash_signatures_jvm)
        from kamae_spark.sources.synth import documents_table

        docs = documents_table(spark, n_docs=n_sh).cache()
        docs.count()
        toks = docs.select(
            "doc_id", F.split(F.lower("text"), r"\s+").alias("toks"))
        sigs = simhash_signatures_jvm(toks, "toks", "doc_id")
        sh = simhash_pairs_from_sigs(sigs, "__sig", "__id", max_hamming=3)
        _force(sh)  # warm
        queries["simhash_synth"] = _time_best(sh, "simhash_synth")
        extras["simhash_docs"] = n_sh
        docs.unpersist()

    # -- big-vocab StringIndex: fit + broadcast-join transform ------------
    # 2M distinct labels against the 1M max_num_labels default exercises
    # the cap-boundary ordering (uniform counts -> the tie-break by label
    # decides which million survive) AND the broadcast-join transform
    # tier at bench scale (VERDICT r4 #7). 0 disables.
    n_vocab = int(os.environ.get("KAMAE_BENCH_VOCAB_LABELS",
                                 "0" if synth_only else "2000000"))
    if n_vocab:
        from pyspark.sql import functions as F

        from kamae_spark.operators.indexers import StringIndexEstimator

        base = spark.range(n_vocab * 5).select(
            F.concat(
                F.lit("lbl_"),
                F.pmod(F.xxhash64("id"), F.lit(n_vocab)).cast("string"),
            ).alias("label")
        ).cache()
        base.count()
        t0 = time.perf_counter()
        vocab_model = StringIndexEstimator(
            input_col="label", output_col="label_idx"
        ).fit(base)
        extras["vocab_fit_sec"] = round(time.perf_counter() - t0, 3)
        extras["vocab_labels_distinct"] = n_vocab
        extras["vocab_labels_kept"] = len(vocab_model.labels)
        out_v = vocab_model.transform(base)
        _force(out_v)  # warm (broadcast build)
        queries["vocab_index_synth"] = _time_best(out_v, "vocab_index_synth")
        base.unpersist()

    # -- flagship over synthetic transcripts (~10x the events rows) -------
    if SYNTH_CONVS:
        synth = transcripts_table(spark, n_convs=SYNTH_CONVS).cache()
        n_synth = synth.count()
        ann_s = annotations_table(spark, synth)
        out_s = PipelineModel(transcript_features(ann_s)).transform(synth)
        _force(out_s)  # warm (JIT, cache residency)
        dt = _time_best(out_s, "feature_pipeline_synth")
        queries["feature_pipeline_synth"] = dt
        extras["synth_turns"] = n_synth
        extras["turns_per_sec"] = round(n_synth / dt, 1)
        synth.unpersist()

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "feature_pipeline_total_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "cpus": CPUS,
                **extras,
                **({"bench_load": _load_log} if _load_log else {}),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
