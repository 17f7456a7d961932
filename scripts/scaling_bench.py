#!/usr/bin/env python
"""Scaling-efficiency protocol (BENCH/BASELINE.md / north rule).

No real cluster exists in the sandbox, so the rule's "N vs 4N executors"
criterion is evidenced by running IDENTICAL jobs at two parallelism
levels (local[8] vs local[32]) on the same deterministic input, in
separate JVMs, and reporting throughput at both plus
efficiency = (throughput_4N / throughput_N) / 4.

Round-4 protocol — SELF-DEFENDING against shared-host neighbors (the
round-3 lesson: neighbor load during the 4N phases deflated a 0.958
pipeline to a measured 0.793; contamination is asymmetric because
local[8] dodges neighbors on a 32-core box but local[32] cannot):

- every phase (one bench.py JVM) runs in its own process session; a
  monitor thread samples /proc/stat total busy jiffies AND the phase's
  own session-tree jiffies every few seconds, so the NON-SELF host load
  (in cores) is measured directly rather than eyeballed from loadavg
- a phase whose non-self load exceeds the threshold (avg > 1.5 cores or
  any sample window > 6 cores) is AUTO-DISCARDED and retried after a
  backoff, up to a retry budget; every attempt (kept or discarded) is
  recorded in BENCH/BASELINE.md with its load figures
- flagship phases collect multiple clean JVM runs per level (median);
  the amortizing data-ops phases (walls >= 60s: minhash at 4M docs, IVF
  at 8M vecs x 1536 queries through 512 centroids) run once per level
  with a single timed pass — long walls amortize stage barriers and
  Python-worker startup, which dominated the round-3 short-wall
  readings (minhash 0.461 at 17s, IVF 0.350 at 4.8s)

Writes/updates BENCH/BASELINE.md. Run: python scripts/scaling_bench.py
(~50-90 min; do not run other Spark work concurrently — the guard will
just discard those phases and retry, burning wall clock).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_LO, N_HI = (int(x) for x in os.environ.get("KAMAE_SCALING_LEVELS", "8,32").split(","))
CONVS = os.environ.get("KAMAE_SCALING_CONVS", "3000000")
TIER2_CONVS = os.environ.get("KAMAE_SCALING_TIER2_CONVS", "5000000")
MH_DOCS = os.environ.get("KAMAE_SCALING_MINHASH_DOCS", "4000000")
SH_DOCS = os.environ.get("KAMAE_SCALING_SIMHASH_DOCS", "0")  # 0 = skip phase
IVF_VECS = os.environ.get("KAMAE_SCALING_IVF_VECS", "8000000")
IVF_QUERIES = os.environ.get("KAMAE_SCALING_IVF_QUERIES", "1536")
IVF_CENTROIDS = os.environ.get("KAMAE_SCALING_IVF_CENTROIDS", "512")
IVF_NPROBE = os.environ.get("KAMAE_SCALING_IVF_NPROBE", "4")
REPEATS = int(os.environ.get("KAMAE_SCALING_REPEATS", "3"))
MAX_ATTEMPTS = int(os.environ.get("KAMAE_SCALING_MAX_ATTEMPTS", "3"))
LOAD_AVG_MAX = float(os.environ.get("KAMAE_SCALING_LOAD_AVG_MAX", "1.5"))
LOAD_PEAK_MAX = float(os.environ.get("KAMAE_SCALING_LOAD_PEAK_MAX", "6.0"))
RETRY_SLEEP = int(os.environ.get("KAMAE_SCALING_RETRY_SLEEP", "45"))

HZ = os.sysconf("SC_CLK_TCK")
NCPU = os.cpu_count() or 32


def _total_busy_jiffies() -> int:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    # user nice system idle iowait irq softirq steal
    u, n, s, _idle, _iow, irq, sirq, steal = (int(x) for x in parts[1:9])
    return u + n + s + irq + sirq + steal


def _session_jiffies(sid: int) -> int:
    """utime+stime of every live process in session `sid`, plus the
    session leader's cutime/cstime (reaped children, e.g. recycled
    Python workers). Slight self-undercount is possible (a dead
    grandchild not yet aggregated) — that OVERSTATES neighbor load,
    i.e. errs toward discarding, never toward accepting a dirty run."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue
        # comm can contain spaces/parens: split after the LAST ')'
        rest = raw[raw.rfind(")") + 2:].split()
        # rest[0]=state rest[3]=session utime=rest[11] stime=rest[12]
        # cutime=rest[13] cstime=rest[14]  (man proc: fields 3..17)
        try:
            if int(rest[3]) != sid:
                continue
            # utime+stime of the live process PLUS cutime/cstime of its
            # already-reaped children: a Python worker that dies mid-run
            # would otherwise vanish from the live sum and read as a
            # phantom "other load" spike in that window (cutime covers
            # only reaped children, so there is no double count)
            total += sum(int(rest[i]) for i in (11, 12, 13, 14))
        except (IndexError, ValueError):
            continue
    return total


class PhaseMonitor(threading.Thread):
    """Samples non-self host load (in cores) while a phase runs, AND the
    phase's own consumed cores: a run can be poisoned two ways —
    neighbors burning cores (other_cores high) or the host throttling
    our session (self_cores far below the requested parallelism during
    what should be a fully-parallel compute phase). Both are recorded;
    the throttle check gates on the PEAK self-cores reached (a phase
    has legitimately serial spans — generation, fit collects — so the
    average is not a usable gate, but if the job NEVER reaches a
    substantial fraction of its cores, the wall is not a parallelism
    measurement)."""

    def __init__(self, sid: int, interval: float = 5.0):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.samples: list[tuple[float, float, float]] = []  # (t, other, self)
        self._halt = threading.Event()

    def run(self) -> None:
        begin = time.time()
        t0, tot0, self0 = begin, _total_busy_jiffies(), _session_jiffies(self.sid)
        while not self._halt.wait(self.interval):
            t1, tot1, self1 = time.time(), _total_busy_jiffies(), _session_jiffies(self.sid)
            dt = max(t1 - t0, 1e-9)
            dself = max(self1 - self0, 0)
            other = max((tot1 - tot0) - dself, 0) / HZ / dt
            self.samples.append(
                (round(t1 - begin, 1), round(other, 2), round(dself / HZ / dt, 2))
            )
            t0, tot0, self0 = t1, tot1, self1

    def stop(self) -> dict:
        self._halt.set()
        self.join(timeout=self.interval + 2)
        others = [o for _, o, _ in self.samples] or [0.0]
        selfs = [s for _, _, s in self.samples] or [0.0]
        return {
            "other_cores_avg": round(sum(others) / len(others), 2),
            "other_cores_max": round(max(others), 2),
            "self_cores_max": round(max(selfs), 2),
            "n_samples": len(others),
        }


def _bench_env(cpus: int, **knobs: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        KAMAE_BENCH_ONLY="synth",
        KAMAE_BENCH_DRIVER_MEM="48g",
        KAMAE_BENCH_SYNTH_CONVS="0",
    )
    env.update({k: str(v) for k, v in knobs.items()})
    return env


STORE = os.path.join(REPO, "BENCH", "scaling_results.json")
REDO = set(
    p for p in os.environ.get("KAMAE_SCALING_REDO", "").split(",") if p
)
SELF_CORES_MIN_FRAC = float(os.environ.get("KAMAE_SCALING_SELF_MIN_FRAC", "0.7"))


def _store_load() -> dict:
    if os.path.exists(STORE):
        with open(STORE) as f:
            return json.load(f)
    return {"phases": {}, "attempts": []}


def _store_save(store: dict) -> None:
    os.makedirs(os.path.dirname(STORE), exist_ok=True)
    with open(STORE, "w") as f:
        json.dump(store, f, indent=1)


def run_phase(store: dict, name: str, cpus: int, **knobs) -> dict:
    """One load-guarded bench.py JVM. Auto-discards + retries attempts
    that are poisoned either way — neighbor load above threshold, or
    our own session never reaching SELF_CORES_MIN_FRAC of the requested
    cores (host CPU throttling: the wall then measures the throttle,
    not the parallelism). If every attempt is dirty, keeps the
    least-neighbor-loaded one and marks it contaminated.

    Results persist per phase in BENCH/scaling_results.json: a rerun
    skips phases already kept clean (so a contaminated or suspect phase
    can be re-measured alone via KAMAE_SCALING_REDO=name1,name2 or
    REDO=all without repeating the ~90-min suite)."""
    key = f"{name}@local[{cpus}]"
    prior = store["phases"].get(key)
    if prior and prior.get("clean") and not ({"all", name, key} & REDO):
        print(json.dumps({"phase": name, "cpus": cpus, "verdict": "cached"}),
              file=sys.stderr, flush=True)
        return prior["result"]
    # re-measuring supersedes this phase@level's attempt history — drop
    # the old records so (phase, cpus, attempt) stays unique in the store
    # (the laundering fence asserts that invariant)
    store["attempts"] = [
        a for a in store["attempts"]
        if not (a["phase"] == name and a["cpus"] == cpus)
    ]
    tried = []
    for attempt in range(1, MAX_ATTEMPTS + 1):
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=_bench_env(cpus, **knobs),
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, start_new_session=True,
        )
        mon = PhaseMonitor(proc.pid)
        mon.start()
        out, _ = proc.communicate(timeout=5400)
        load = mon.stop()
        if proc.returncode != 0:
            raise RuntimeError(f"phase {name} local[{cpus}] bench failed rc={proc.returncode}")
        result = json.loads([l for l in out.splitlines() if l.startswith("{")][-1])
        # contention is about HEADROOM: neighbors only steal from us when
        # other + self approaches the core count. A low-parallelism phase
        # (local[8] on a 32-core box) tolerates sizable neighbor blips
        # that would poison a local[32] phase, so the thresholds widen
        # with the idle headroom the phase leaves
        headroom = max(NCPU - cpus, 0)
        avg_max = max(LOAD_AVG_MAX, 0.25 * headroom)
        peak_max = max(LOAD_PEAK_MAX, 0.5 * headroom)
        quiet = (
            load["other_cores_avg"] <= avg_max
            and load["other_cores_max"] <= peak_max
        )
        unthrottled = load["self_cores_max"] >= SELF_CORES_MIN_FRAC * cpus
        clean = quiet and unthrottled
        verdict = (
            "kept" if clean
            else "discarded (neighbor load)" if not quiet
            else "discarded (self throttled)"
        )
        rec = {
            "phase": name, "cpus": cpus, "attempt": attempt, "ncpu": NCPU,
            "verdict": verdict, **load, "result": result,
        }
        tried.append(rec)
        store["attempts"].append(
            {k: v for k, v in rec.items() if k != "result"}
        )
        print(json.dumps({k: rec[k] for k in
                          ("phase", "cpus", "attempt", "verdict",
                           "other_cores_avg", "other_cores_max",
                           "self_cores_max")}),
              file=sys.stderr, flush=True)
        if clean:
            store["phases"][key] = {"clean": True, **rec}
            _store_save(store)
            return result
        time.sleep(RETRY_SLEEP)
    best = min(tried, key=lambda r: r["other_cores_avg"])
    best["verdict"] += " -> kept-CONTAMINATED (all attempts dirty)"
    store["phases"][key] = {"clean": False, **best}
    # the attempt record was already appended inside the loop — mutate its
    # verdict in place rather than appending a duplicate (would double-count
    # in the BASELINE.md load log)
    for a in store["attempts"]:
        if (a["phase"], a["cpus"], a["attempt"]) == (
            best["phase"], best["cpus"], best["attempt"]
        ):
            a["verdict"] = best["verdict"]
    _store_save(store)
    return best["result"]


def median_phase(store: dict, name: str, cpus: int, key: str, **knobs) -> dict:
    """REPEATS clean JVM runs, median by the given query wall."""
    runs = [
        run_phase(store, f"{name}#{i + 1}", cpus, **knobs)
        for i in range(REPEATS)
    ]
    runs.sort(key=lambda r: r["queries"][key])
    return runs[len(runs) // 2]


def main() -> None:
    t_start = time.time()
    store = _store_load()

    flag = dict(KAMAE_BENCH_SYNTH_CONVS=CONVS)
    r_lo = median_phase(store, "flagship", N_LO, "feature_pipeline_synth", **flag)
    r_hi = median_phase(store, "flagship", N_HI, "feature_pipeline_synth", **flag)
    tier2 = run_phase(store, "flagship-tier2", N_HI,
                      KAMAE_BENCH_SYNTH_CONVS=TIER2_CONVS)

    mh = dict(KAMAE_BENCH_MINHASH_DOCS=MH_DOCS, KAMAE_BENCH_TIMED_PASSES="1")
    mh_lo = run_phase(store, "minhash-amortized", N_LO, **mh)
    mh_hi = run_phase(store, "minhash-amortized", N_HI, **mh)

    sh_lo = sh_hi = None
    if int(SH_DOCS):
        shd = dict(KAMAE_BENCH_SIMHASH_DOCS=SH_DOCS, KAMAE_BENCH_TIMED_PASSES="1")
        sh_lo = run_phase(store, "simhash-amortized", N_LO, **shd)
        sh_hi = run_phase(store, "simhash-amortized", N_HI, **shd)

    ivf = dict(
        KAMAE_BENCH_IVF_VECS=IVF_VECS, KAMAE_BENCH_IVF_QUERIES=IVF_QUERIES,
        KAMAE_BENCH_IVF_CENTROIDS=IVF_CENTROIDS,
        KAMAE_BENCH_IVF_NPROBE=IVF_NPROBE, KAMAE_BENCH_TIMED_PASSES="1",
    )
    ivf_lo = run_phase(store, "ivf-amortized", N_LO, **ivf)
    ivf_hi = run_phase(store, "ivf-amortized", N_HI, **ivf)
    attempts = store["attempts"]

    ratio = N_HI / N_LO

    def eff(lo: dict, hi: dict, q: str) -> float:
        return (lo["queries"][q] / hi["queries"][q]) / ratio

    flag_eff = eff(r_lo, r_hi, "feature_pipeline_synth")
    mh_eff = eff(mh_lo, mh_hi, "minhash_lsh_synth")
    ivf_eff = eff(ivf_lo, ivf_hi, "ivf_topk_synth")
    sh_eff = eff(sh_lo, sh_hi, "simhash_synth") if sh_lo else None
    sh_row = (
        f"\n| simhash_synth ({SH_DOCS} docs) | "
        f"{sh_lo['queries']['simhash_synth']:.2f} | "
        f"{sh_hi['queries']['simhash_synth']:.2f} | {sh_eff:.3f} |"
        if sh_lo else ""
    )
    sh_json = (
        f"\n{json.dumps(sh_lo)}\n{json.dumps(sh_hi)}" if sh_lo else ""
    )
    tput_lo = r_lo["synth_turns"] / r_lo["queries"]["feature_pipeline_synth"]
    tput_hi = r_hi["synth_turns"] / r_hi["queries"]["feature_pipeline_synth"]
    tput_t2 = tier2["synth_turns"] / tier2["queries"]["feature_pipeline_synth"]

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    kept = [a for a in attempts if a["verdict"].startswith("kept")]
    dirty = [a for a in attempts if not a["verdict"].startswith("kept")]
    attempts_rows = "\n".join(
        f"| {a['phase']} | local[{a['cpus']}] | {a['attempt']} | "
        f"{a['other_cores_avg']} | {a['other_cores_max']} | "
        f"{a.get('self_cores_max', '-')} | {a['verdict']} |"
        for a in attempts
    )
    md = f"""# BENCH/BASELINE — scaling efficiency (N vs 4N protocol)

Measured {stamp}; identical deterministic inputs and code at both
parallelism levels, separate JVMs, warm-pass timing (noop write).
Flagship: median of {REPEATS} CLEAN whole-JVM runs per level. Data ops:
one clean run per level at amortizing walls, single timed pass.

**Load guard (self-defending protocol)**: every phase runs in its own
process session; a monitor samples /proc/stat vs the session tree every
5 s, yielding the NON-SELF host load in cores. Contention is about
HEADROOM — neighbors only steal cycles when other+self approaches the
core count — so the discard thresholds widen with the idle headroom a
phase leaves (headroom = {NCPU} - level):

    avg_max(level)  = max({LOAD_AVG_MAX}, 0.25 * headroom)
    peak_max(level) = max({LOAD_PEAK_MAX}, 0.50 * headroom)

e.g. on this {NCPU}-core host a local[{N_LO}] phase tolerates avg
{max(LOAD_AVG_MAX, 0.25 * max(NCPU - N_LO, 0)):.1f} / peak
{max(LOAD_PEAK_MAX, 0.5 * max(NCPU - N_LO, 0)):.1f} neighbor cores,
while a local[{N_HI}] phase tolerates only avg
{max(LOAD_AVG_MAX, 0.25 * max(NCPU - N_HI, 0)):.1f} / peak
{max(LOAD_PEAK_MAX, 0.5 * max(NCPU - N_HI, 0)):.1f}. A phase is also
discarded as self-throttled if its own session never reaches
{SELF_CORES_MIN_FRAC:.0%} of the requested cores. Dirty attempts are
retried ({len(dirty)} of {len(attempts)} attempts discarded across the
store); if every retry is dirty the least-loaded attempt is kept but
marked CONTAMINATED — never silently laundered. Every attempt is listed
below — the kept rows are the measurement's clean-window evidence.

Workloads:
- flagship feature pipeline (lag/lead + rolling aggregates +
  role-frequency + backfill + sessionization + listwise + as-of union
  join) over {r_lo['synth_turns']:,} synthetic transcript turns
  ({CONVS} conversations, Zipf-skewed lengths)
- minhash LSH near-dup pairs over {MH_DOCS} synthetic documents
  (word shingles, banded buckets, exact-jaccard verify)
- IVF ANN top-10 over {IVF_VECS} synthetic 64-dim embeddings,
  {IVF_QUERIES}-query batch through {IVF_CENTROIDS} centroids at
  nprobe {IVF_NPROBE} (salted two-phase rank)

## Flagship throughput

| parallelism | wall sec | turns/sec |
|---|---|---|
| local[{N_LO}]  (N)  | {r_lo['queries']['feature_pipeline_synth']:.3f} | {tput_lo:,.0f} |
| local[{N_HI}] (4N) | {r_hi['queries']['feature_pipeline_synth']:.3f} | {tput_hi:,.0f} |

**Scaling efficiency = (throughput_4N / throughput_N) / {int(ratio)} = {flag_eff:.3f}**
(north-rule gate: >= 0.8)

## Data-ops efficiency at amortizing walls

| query | local[{N_LO}] sec | local[{N_HI}] sec | efficiency |
|---|---|---|---|
| minhash_lsh_synth ({MH_DOCS} docs) | {mh_lo['queries']['minhash_lsh_synth']:.2f} | {mh_hi['queries']['minhash_lsh_synth']:.2f} | {mh_eff:.3f} |
| ivf_topk_synth ({IVF_VECS} vecs, {IVF_QUERIES} queries) | {ivf_lo['queries']['ivf_topk_synth']:.2f} | {ivf_hi['queries']['ivf_topk_synth']:.2f} | {ivf_eff:.3f} |{sh_row}

## Scale-tier curve (local[{N_HI}], flagship)

| tier | turns | wall sec | turns/sec |
|---|---|---|---|
| tier 1 ({CONVS} convs) | {r_hi['synth_turns']:,} | {r_hi['queries']['feature_pipeline_synth']:.3f} | {tput_hi:,.0f} |
| tier 2 ({TIER2_CONVS} convs) | {tier2['synth_turns']:,} | {tier2['queries']['feature_pipeline_synth']:.3f} | {tput_t2:,.0f} |

Round-over-round: compare BOTH tier rows — a regression that only shows
past memory/shuffle inflection points is invisible at a single scale.

## Load log (every attempt, kept and discarded)

| phase | level | attempt | other avg | other max | self max | verdict |
|---|---|---|---|---|---|---|
{attempts_rows}

Suite wall: {round((time.time() - t_start) / 60, 1)} min.

Raw bench JSON (kept runs):

```json
{json.dumps(r_lo)}
{json.dumps(r_hi)}
{json.dumps(tier2)}
{json.dumps(mh_lo)}
{json.dumps(mh_hi)}
{json.dumps(ivf_lo)}
{json.dumps(ivf_hi)}{sh_json}
```
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    print(json.dumps({
        "tput_lo": round(tput_lo), "tput_hi": round(tput_hi),
        "tput_tier2": round(tput_t2),
        "efficiency_flagship": round(flag_eff, 3),
        "efficiency_minhash": round(mh_eff, 3),
        "efficiency_ivf": round(ivf_eff, 3),
        **({"efficiency_simhash": round(sh_eff, 3)} if sh_eff is not None else {}),
        "attempts": len(attempts), "discarded": len(dirty),
    }))


if __name__ == "__main__":
    main()
