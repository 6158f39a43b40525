#!/usr/bin/env python
"""Cumulative CPU split (java vs pyspark daemons vs driver) for the index
build at a given parallelism, measured between BUILD_START and BUILD_END."""
import os, subprocess, sys, time

CPUS = int(sys.argv[1])
CONVS = int(sys.argv[2]) if len(sys.argv) > 2 else 120000
REPO = "/root/repo"
OUT = f"/dev/shm/holi_split_idx_{CPUS}"

CHILD = f"""
import os, shutil, sys, time
sys.path.insert(0, {REPO!r})
os.environ["SPARK_GRAFT_CPUS"] = str({CPUS})
from holi_search_engine_spark.session import get_spark
from holi_search_engine_spark.corpus import generate_transcripts_df, make_vocabulary
from holi_search_engine_spark.plans.index_build import build_index
spark = get_spark("split-{CPUS}", shuffle_partitions={CPUS})
vocab = frozenset(make_vocabulary())
corpus = generate_transcripts_df(spark, {CONVS}).cache()
n = corpus.count()
warm = generate_transcripts_df(spark, 1500, partitions={CPUS})
shutil.rmtree("/dev/shm/holi_split_warm", ignore_errors=True)
build_index(spark, warm, "/dev/shm/holi_split_warm", vocab, buckets=8,
            build_blocks=True)
shutil.rmtree("/dev/shm/holi_split_warm", ignore_errors=True)
shutil.rmtree({OUT!r}, ignore_errors=True)
print("BUILD_START", flush=True); input_ready = time.time()
build_index(spark, corpus, {OUT!r}, vocab, buckets=8,
            build_blocks=True)
print("BUILD_END", time.time() - input_ready, flush=True)
time.sleep(2)
spark.stop()
"""

def snap(root):
    kids = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
            comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
            parts = raw.rsplit(")", 1)[1].split()
            kids.setdefault(int(parts[1]), []).append((int(p), comm, int(parts[11]) + int(parts[12])))
        except Exception:
            pass
    out, stack = {}, [root]
    while stack:
        p = stack.pop()
        for pid, comm, cpu in kids.get(p, []):
            out[pid] = (comm, cpu)
            stack.append(pid)
    try:
        with open(f"/proc/{root}/stat") as f:
            raw = f.read()
        comm = raw.split("(", 1)[1].rsplit(")", 1)[0]
        parts = raw.rsplit(")", 1)[1].split()
        out[root] = (comm, int(parts[11]) + int(parts[12]))
    except Exception:
        pass
    return out

start = 32 - CPUS
env = dict(os.environ, SPARK_DRIVER_MEM=f"{6*CPUS}g")
proc = subprocess.Popen(
    ["taskset", "-c", f"{start}-31", sys.executable, "-c", CHILD],
    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO, env=env,
)
before = None
wall = None
for line in proc.stdout:
    if line.startswith("BUILD_START"):
        before = snap(proc.pid)
    elif line.startswith("BUILD_END"):
        wall = float(line.split()[1])
        after = snap(proc.pid)
        hz = os.sysconf("SC_CLK_TCK")
        agg = {}
        for pid, (comm, cpu) in after.items():
            base = before.get(pid, (comm, 0))[1] if before else 0
            key = "java" if comm == "java" else ("pyworker" if "python" in comm and pid != proc.pid else comm)
            agg[key] = agg.get(key, 0.0) + (cpu - base) / hz
        total = sum(agg.values())
        print(f"cpus={CPUS} wall={wall:.1f}s total_cpu={total:.1f}s "
              + " ".join(f"{k}={v:.1f}s" for k, v in sorted(agg.items(), key=lambda kv: -kv[1])))
proc.wait()
