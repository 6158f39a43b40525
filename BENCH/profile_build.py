#!/usr/bin/env python
"""Per-stage scaling profile of the index build: runs the build at each
requested parallelism (fresh JVM each) and prints stage walls from the
manifests, to locate the stages that don't scale.

Usage: python BENCH/profile_build.py [--convs 20000] [--cpus 2,8]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import glob, json, os, shutil, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cpus})
from holi_search_engine_spark.session import get_spark
from holi_search_engine_spark.corpus import generate_transcripts_df, make_vocabulary
from holi_search_engine_spark.plans.index_build import build_index

spark = get_spark("profile-{cpus}", shuffle_partitions={cpus})
t_start = time.time()
corpus = generate_transcripts_df(spark, {convs}).cache()
n_turns = corpus.count()
t_gen = time.time() - t_start
out = "/dev/shm/holi_profile_idx_{cpus}"
shutil.rmtree(out, ignore_errors=True)
t0 = time.time()
paths = build_index(spark, corpus, out, frozenset(make_vocabulary()), buckets=8,
                    build_blocks=True)
wall = time.time() - t0
stages = {{}}
for f in sorted(glob.glob(os.path.join(out, "_manifest", "*.json"))):
    with open(f) as fh:
        rec = json.load(fh)
    name = os.path.basename(f).replace(".json", "")
    stages[name] = round(rec.get("wall_sec", 0.0), 2)
    if rec.get("sub_walls"):
        stages[name + ":sub"] = rec["sub_walls"]
print("RESULT " + json.dumps({{"cpus": {cpus}, "n_turns": n_turns,
                               "gen": round(t_gen, 2),
                               "wall": round(wall, 2),
                               "tps": round(n_turns / wall, 1),
                               "stages": stages}}))
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=20000)
    ap.add_argument("--cpus", default="2,8")
    args = ap.parse_args()
    for cpus in [int(c) for c in args.cpus.split(",")]:
        code = CHILD.format(repo=REPO, cpus=cpus, convs=args.convs)
        proc = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True,
            cwd=REPO, timeout=3600,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("RESULT "):
                print(line[7:])
                break
        else:
            print(json.dumps({"cpus": cpus, "error": proc.stderr[-2000:]}))


if __name__ == "__main__":
    main()
