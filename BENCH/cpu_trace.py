#!/usr/bin/env python
"""Per-second busy-core trace of the index build at a given parallelism.

Spawns the build pinned to the top N host CPUs (same shape as
BENCH/scaling.py), samples the child process tree's utime+stime each
0.5s, then segments the timeline by the build's manifest mtimes.
Answers: is each stage CPU-saturated (contention) or idle (barriers)?
"""
import json, os, subprocess, sys, time

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 8
CONVS = int(sys.argv[2]) if len(sys.argv) > 2 else 120000
REPO = "/root/repo"
OUT = f"/dev/shm/holi_trace_idx_{CPUS}"

CHILD = f"""
import os, shutil, sys, time
sys.path.insert(0, {REPO!r})
os.environ["SPARK_GRAFT_CPUS"] = str({CPUS})
from holi_search_engine_spark.session import get_spark
from holi_search_engine_spark.corpus import generate_transcripts_df, make_vocabulary
from holi_search_engine_spark.plans.index_build import build_index
spark = get_spark("trace-{CPUS}", shuffle_partitions={CPUS})
vocab = frozenset(make_vocabulary())
corpus = generate_transcripts_df(spark, {CONVS}).cache()
n = corpus.count()
warm = generate_transcripts_df(spark, 1500, partitions={CPUS})
shutil.rmtree("/dev/shm/holi_trace_warm", ignore_errors=True)
build_index(spark, warm, "/dev/shm/holi_trace_warm", vocab, buckets=8,
            build_blocks=True)
shutil.rmtree("/dev/shm/holi_trace_warm", ignore_errors=True)
shutil.rmtree({OUT!r}, ignore_errors=True)
print("BUILD_START", time.time(), flush=True)
build_index(spark, corpus, {OUT!r}, vocab, buckets=8,
            build_blocks=True)
print("BUILD_END", time.time(), flush=True)
spark.stop()
"""

def tree_pids(root):
    kids = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            kids.setdefault(int(parts[1]), []).append(int(p))
        except Exception:
            pass
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out

def tree_cpu(root):
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            total += int(parts[11]) + int(parts[12])  # utime+stime ticks
        except Exception:
            pass
    return total

start = 32 - CPUS
env = dict(os.environ, SPARK_DRIVER_MEM=f"{6*CPUS}g")
proc = subprocess.Popen(
    ["taskset", "-c", f"{start}-31", sys.executable, "-c", CHILD],
    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO, env=env,
)
hz = os.sysconf("SC_CLK_TCK")
samples = []
prev = tree_cpu(proc.pid)
prev_t = time.time()
build_start = None
import threading
def reader():
    global build_start
    for line in proc.stdout:
        if line.startswith("BUILD_START"):
            build_start = float(line.split()[1])
        print(line, end="", flush=True)
threading.Thread(target=reader, daemon=True).start()
while proc.poll() is None:
    time.sleep(0.5)
    now = time.time()
    cur = tree_cpu(proc.pid)
    # clamp: pids exiting between snapshots make the delta go negative
    samples.append((now, max(0.0, (cur - prev) / hz / (now - prev_t))))
    prev, prev_t = cur, now
proc.wait()

marks = {}
mdir = os.path.join(OUT, "_manifest")
if os.path.isdir(mdir):
    for f in os.listdir(mdir):
        marks[f.replace(".json", "")] = os.path.getmtime(os.path.join(mdir, f))
boundaries = sorted(set(marks.values()))
print(json.dumps({"stage_end_times": {k: round(v - (build_start or v), 1) for k, v in sorted(marks.items(), key=lambda kv: kv[1])}}))
if build_start:
    segs = [(build_start, b) for b in [*boundaries]]
    lo = build_start
    for b in boundaries:
        xs = [c for (t, c) in samples if lo <= t < b]
        names = [k for k, v in marks.items() if abs(v - b) < 0.01]
        if xs:
            print(f"segment ->{'+'.join(names)}: {b-lo:6.1f}s avg_busy_cores={sum(xs)/len(xs):5.2f} / {CPUS}")
        lo = b
print("per-second trace (s_since_build_start, busy_cores):")
if build_start:
    print(json.dumps([(round(t - build_start, 1), round(c, 2)) for t, c in samples if t >= build_start - 1]))
