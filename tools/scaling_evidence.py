#!/usr/bin/env python
"""8-vs-32-core scaling evidence at a data-dominated size (VERDICT r14
item 2): at sf0.1 every headliner is 0.5-2 s and fixed per-query cost
(Catalyst planning, task scheduling) hides the data-parallel part, so the
driver's core-count probe reads flat ratios and can only conclude
"harness bug". This runs the heaviest faces on the 30x-replicated linear
corpus (tools/scale_probe.py build: 150k docs across 32 part files, so
scan parallelism is real) under local[8] and local[32] -- fresh
subprocess JVM per (face, cores) pass, interleaved 32/8/32/8 so ambient
drift hits both sides -- and writes SCALING_r15.json. Each face is timed
by ``bench.time_face`` (count + hash reduce), so every run also records
the face's build/plan/codegen/stage layers.

Usage: python tools/scaling_evidence.py [--n 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

FACES = ["x1_dedup_jaccard_ngram", "x5_repetition_stats",
         "x5_decontaminate_ngram"]

# Persist-free builders: the registered jaccard face track_persists its
# result (a warm re-run would time a cache read, not the pipeline), so
# the jaccard side calls the face's helpers without the persist; the
# other two registered faces have no persist and re-execute fully.
_CHILD = r"""
import json, sys
sys.path.insert(0, {root!r})
import __spark_entry__ as e
from bench import time_face
from multiagent_form_schema_etl_spark.session import get_spark
from multiagent_form_schema_etl_spark.operators.dedup import (
    _jaccard_ngram_from, _tok_d_df)
spark = get_spark("scaling_evidence")
spark.sparkContext.setLogLevel("ERROR")
qs = e.queries()
qs = dict(qs, x1_dedup_jaccard_ngram=lambda s, d: _jaccard_ngram_from(
    _tok_d_df(s, d)))
d = {sf_dir!r}
from multiagent_form_schema_etl_spark.catalog import load_table
load_table(spark, d, "documents").limit(1).collect()
out = {{"cpus": spark.sparkContext.defaultParallelism}}
for name in {faces!r}:
    # first execution pays Catalyst planning + codegen (a per-query
    # constant that hides the data-parallel part); the recorded WARM pass
    # isolates steady-state compute, which is what must scale with cores
    time_face(spark, name, lambda: qs[name](spark, d))
    out[name] = time_face(spark, name, lambda: qs[name](spark, d))
print("SCALEREC " + json.dumps(out))
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    args = ap.parse_args()

    # build (or reuse) the x30 linear corpus with a throwaway session
    from multiagent_form_schema_etl_spark.session import get_spark
    from perfbench import probe
    from tools import scale_probe
    spark = get_spark("scaling_evidence_build")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = scale_probe.build_dir(spark, 30, False)
    spark.stop()

    child = _CHILD.format(root=ROOT, sf_dir=sf_dir, faces=FACES)
    jiffies0 = probe.cpu_jiffies()
    runs: dict[str, list[dict]] = {"32": [], "8": []}
    for i in range(args.n):
        for cpus in ("32", "8"):
            env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
            p = subprocess.run([sys.executable, "-c", child],
                               capture_output=True, text=True, env=env)
            rec = None
            for ln in p.stdout.splitlines():
                if ln.startswith("SCALEREC "):
                    rec = json.loads(ln[len("SCALEREC "):])
            if rec is None:
                raise RuntimeError(f"pass failed: {p.stderr[-500:]}")
            runs[cpus].append(rec)
    steal = probe.steal_pct(jiffies0, probe.cpu_jiffies())

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    out = {
        "corpus": sf_dir, "n": args.n,
        "steal_pct": round(steal, 2),
        "parallelism": {c: runs[c][0]["cpus"] for c in runs},
        "per_face": {},
        "runs": runs,
    }
    for f in FACES:
        m32 = med([r[f]["s"] for r in runs["32"]])
        m8 = med([r[f]["s"] for r in runs["8"]])
        out["per_face"][f] = {"sec_32c": m32, "sec_8c": m8,
                              "ratio_8c_over_32c": round(m8 / m32, 2)}
    with open(os.path.join(ROOT, "SCALING_r15.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out["per_face"]))


if __name__ == "__main__":
    main()
