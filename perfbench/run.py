"""The repository benchmark: one seeded workload per run, closed loop, one
client, one Spark session on ``local[<cores>]``.

    python3 perfbench/run.py --workload doc_etl|corpus_prep
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached by seed under ``.perfbench_work/``), then one batch runs cold, one
warm-up batch runs untimed, and further batches run back to back until
``--seconds`` of batch time has passed. Inputs are prepared
and outputs are checked between batches, outside the timed region. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start until the session is up and
  ``registry.load_all_modules()`` returned (one cold set-up per run:
  each further one costs a JVM launch, ~7 s, which the run budget spends
  on the warm-up batch instead);
- ``first_batch_s``: the first batch of the fresh session;
- ``cpu_ms_per_doc``: CPU milliseconds of the JVM, its Python workers
  and this process per input document over the timed batches -- the
  steady-state cost -- without the CPU of the JVM's JIT compiler
  threads. The JIT is still warming up in the timed batches of a short
  run: on corpus_prep it took 10-16 of a batch's 20-27 CPU seconds,
  falling from batch to batch, so with it the figure moved with how many
  batches fit in the window (IQR/median up to 0.25 over ten runs). The
  JIT's CPU is kept per batch in the run record (``batch_jit_cpu_s``).
  Wall-clock throughput is kept there too (``docs_per_s``) but is not a
  gated metric: on a shared 4-vCPU VM its IQR/median over ten runs
  reached 0.25 whenever hypervisor steal moved between 0.1% and 7%;
- ``peak_rss_mb``: high-water RSS of the Spark JVM plus this process.

The run record (``.perfbench_work/records/``) also keeps every batch's
wall time, the CPU seconds of the process tree, and its Catalyst, codegen,
JIT and GC counters, so a slow batch shows whether the JIT, the collector
or the host (steal, load) took the time.

``--trace 1`` records spans around every layer call and reads Spark's
counters (see ``probe.py``), and reports the per-layer metrics. The full
trace -- every span, per-stage sink times, per-face times, GC, spill,
cache-isolation counts and the environment stamp -- is written to
``.perfbench_work/records/``. A summary of the record goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
if not __package__:
    # run as a script: import the sibling modules as the perfbench package
    sys.path.insert(0, ROOT)
    __package__ = "perfbench"
# The batch after the cold one is still JIT-heavy (the Spark JVM spent
# ~20 s of compile-thread CPU in it, against ~7 s by the sixth batch), and
# its time varied with how much of that overlapped the workload: it runs
# untimed.
WARMUP_BATCHES = 1


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _env(cores: int, scratch: str) -> None:
    """Keep every file Spark and the JVM write inside the checkout, and pin
    the session to the host's cores and a 2 GiB JVM heap. The heap
    starts at its maximum (``InitialRAMPercentage`` is capped by ``-Xmx``):
    left to grow on demand, peak RSS varied by 15-20% between identical
    runs with G1's resizing decisions."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        # compiler threads that live the whole run keep their CPU counters
        # readable (see ``probe.jit_cpu_s``)
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:InitialRAMPercentage=50 "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
            "pyspark-shell"),
    })
    time.tzset()


def _reset_hwm() -> None:
    """Restart this process's RSS high-water mark (input generation is
    not part of the measured footprint)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("doc_etl", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "multiagent_form_schema_etl_spark")):
        print(f"no engine package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    from . import probe

    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    _env(cores, scratch)
    load0, jif0 = probe.loadavg(), probe.cpu_jiffies()

    # -- set-up (timed from process start) ---------------------------------
    t_a = time.perf_counter()
    from multiagent_form_schema_etl_spark.session import get_spark

    spark = get_spark("perfbench", cpus=str(cores))
    t_b = time.perf_counter()
    from multiagent_form_schema_etl_spark.plans import registry

    registry.load_all_modules()
    t_c = time.perf_counter()
    setup_s = _process_age_s()
    spark.sparkContext.setLogLevel("ERROR")

    from . import workloads

    counters = probe.SparkCounters(spark)
    ctx = types.SimpleNamespace(spark=spark, scratch=scratch,
                                cache=os.path.join(WORK, "cache"),
                                tracer=probe.Tracer(spark, a.trace == 1, counters))
    reader = probe.StatusReader(spark) if a.trace else None
    if a.trace:
        # scan descriptions must keep the full input path
        spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    wl = workloads.WORKLOADS[a.workload](ctx)
    wl.prepare(a.seed)
    _reset_hwm()

    batches: list[dict] = []
    last_exec = -1
    jvm = probe.jvm_pid(spark)

    def one(i: int) -> dict:
        nonlocal last_exec
        b = wl.next_input(i)
        ctx.tracer.batch = f"b{i}"
        cpu0, c0 = probe.tree_cpu_s(os.getpid()), counters.snapshot()
        jit0 = probe.jit_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("batch"):
                res = wl.run_batch(b)
            res["wall"] = time.perf_counter() - t0
            res["cpu_s"] = probe.tree_cpu_s(os.getpid()) - cpu0
            res["jit_cpu_s"] = probe.jit_cpu_s(jvm) - jit0
            res["counters"] = probe.delta(counters.snapshot(), c0)
            wl.after_batch(b, res)
        except Exception as e:  # every operation of the batch counts as failed
            res = {"items": 0, "ops": wl.ops, "failed_ops": wl.ops,
                   "why": [f"batch {i}: {e!r}"[:500]], "input_rows": 1,
                   "wall": time.perf_counter() - t0,
                   "cpu_s": probe.tree_cpu_s(os.getpid()) - cpu0,
                   "jit_cpu_s": probe.jit_cpu_s(jvm) - jit0}
        registry.invalidate(spark)
        spark.catalog.clearCache()
        if a.trace:
            res["exec"] = probe.exec_by_group(reader, f"b{i}")
            scans = []
            for e in reader.executions():
                if e["executionId"] > last_exec:
                    last_exec = e["executionId"]
                    scans += reader.scan_rows(e["executionId"])
            res["scan_rows"] = sum(n for desc, n in scans
                                   if wl.scan_marker in desc)
        res["tag"] = f"b{i}"
        batches.append(res)
        return res

    for _ in range(1 + WARMUP_BATCHES):
        one(len(batches))
    n_untimed = len(batches)
    timed_s = 0.0
    while timed_s < a.seconds:
        timed_s += one(len(batches))["wall"]
    rss_jvm, rss_py = probe.hwm_mb(jvm), probe.hwm_mb()

    attempted = sum(r["ops"] for r in batches)
    failed = sum(r["failed_ops"] for r in batches)
    why = [w for r in batches for w in r["why"]]
    n, f, w = wl.final_check()
    attempted, failed, why = attempted + n, failed + f, why + w
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "master": spark.sparkContext.master,
              "parallelism": spark.sparkContext.defaultParallelism,
              "cores": cores, "batch_items": batches[0]["items"],
              "batches": len(batches), "untimed_batches": n_untimed,
              "failures": why[:20],
              "peak_rss_mb": {"jvm": rss_jvm, "python": rss_py}}
    probe.stop_spark(spark)
    record.update(loadavg_before=load0, loadavg_after=probe.loadavg(),
                  steal_pct=round(probe.steal_pct(jif0, probe.cpu_jiffies()), 3))

    timed = batches[n_untimed:]
    throughput = sum(r["items"] for r in timed) / sum(r["wall"] for r in timed)
    written = [r["bytes"] / r["items"] for r in timed
               if "bytes" in r and r["items"]]
    record.update(batch_walls_s=[r["wall"] for r in batches],
                  batch_cpu_s=[r["cpu_s"] for r in batches],
                  batch_jit_cpu_s=[r["jit_cpu_s"] for r in batches],
                  batch_counters=[r.get("counters") for r in batches],
                  docs_per_s=throughput,
                  bytes_written_per_doc=_median(written) if written else None)
    if a.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "first_batch_s": (batches[0]["wall"], "s"),
            "cpu_ms_per_doc": (1000 * sum(r["cpu_s"] - r["jit_cpu_s"]
                                          for r in timed)
                               / max(sum(r["items"] for r in timed), 1), "ms"),
            "peak_rss_mb": (rss_jvm + rss_py, "MB"),
        }
    else:
        metrics, record["layers"] = layer_metrics(
            ctx.tracer, batches, n_untimed, wl, cores, t_b - t_a, t_c - t_b,
            throughput)
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    name = f"{a.workload}-s{a.seed}-t{a.trace}.json"
    ctx.tracer.write(os.path.join(WORK, "records", name), record)
    print(json.dumps(record, default=str), file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


def layer_metrics(tracer, batches, n_untimed, wl, cores, get_spark_s, registry_s,
                  traced_throughput):
    """Per-layer numbers from the spans and Spark counters. Per-batch
    values are medians over the timed batches; codegen and Catalyst are
    also given for the cold first batch."""
    from . import probe

    spans = tracer.spans
    build_pre = ("pipeline.build", "face_build.")
    action_pre = ("sinks.write.", "face_exec.")

    def per_batch(tag):
        mine = [s for s in spans if s["batch"] == tag]
        root = next(s for s in mine if s["name"] == "batch")
        wall = root["end"] - root["start"]
        dur = lambda pre: sum(s["end"] - s["start"] for s in mine  # noqa: E731
                              if s["name"].startswith(pre))
        build, action = dur(build_pre), dur(action_pre)
        ex = dict.fromkeys(probe.EXEC_KEYS, 0.0)
        res = next(r for r in batches if r["tag"] == tag)
        for g in res["exec"].values():
            for k in ex:
                ex[k] += g[k]
        by_name: dict[str, float] = {}
        for s in mine:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["end"] - s["start"]
        return {"wall": wall, "build": build, "action": action,
                "coverage": (build + action) / wall,
                "rule_ms": root["rule_ns"] / 1e6,
                "compile_ms": root["compile_ns"] / 1e6,
                "compile_count": root["compile_count"],
                "busy": ex["task_s"] / (wall * cores),
                "scan_ratio": res["scan_rows"] / res["input_rows"],
                "exec": ex, "by_name": by_name,
                "bytes": res.get("bytes", 0), "files": res.get("files", 0),
                "items": res["items"]}

    first = per_batch(batches[0]["tag"])
    rest = [per_batch(r["tag"]) for r in batches[n_untimed:]]
    med = lambda f: _median([f(b) for b in rest])  # noqa: E731
    metrics = {
        "session.get_spark_s": (get_spark_s, "s"),
        "registry.load_s": (registry_s, "s"),
        "build_s": (med(lambda b: b["build"]), "s"),
        "action_s": (med(lambda b: b["action"]), "s"),
        "catalyst.rule_ms": (med(lambda b: b["rule_ms"]), "ms"),
        "catalyst.first_batch_rule_ms": (first["rule_ms"], "ms"),
        "codegen.first_batch_compile_ms": (first["compile_ms"], "ms"),
        "codegen.first_batch_compile_count": (first["compile_count"], "count"),
        "exec.task_s": (med(lambda b: b["exec"]["task_s"]), "s"),
        "exec.jobs": (med(lambda b: b["exec"]["jobs"]), "count"),
        "exec.stages": (med(lambda b: b["exec"]["stages"]), "count"),
        "exec.shuffle_write_bytes": (med(lambda b: b["exec"]["shuffle_write_bytes"]), "B"),
        "exec.shuffle_read_bytes": (med(lambda b: b["exec"]["shuffle_read_bytes"]), "B"),
        "exec.core_busy_ratio": (med(lambda b: b["busy"]), "ratio"),
        "scan.read_ratio": (med(lambda b: b["scan_ratio"]), "ratio"),
        "trace.span_coverage": (med(lambda b: b["coverage"]), "ratio"),
        "trace.throughput_per_s": (traced_throughput, "1/s"),
    }
    names = sorted({n for b in rest for n in b["by_name"]})
    detail = {
        "span_s": {n: med(lambda b: b["by_name"].get(n, 0.0)) for n in names},
        "first_batch_span_s": first["by_name"],
        "exec.gc_s": med(lambda b: b["exec"]["gc_s"]),
        "exec.spill_memory_bytes": med(lambda b: b["exec"]["spill_memory_bytes"]),
        "exec.spill_disk_bytes": med(lambda b: b["exec"]["spill_disk_bytes"]),
        "exec.input_records": med(lambda b: b["exec"]["input_records"]),
        "codegen.compile_ms": med(lambda b: b["compile_ms"]),
        "codegen.compile_count": med(lambda b: b["compile_count"]),
        "registry.memo_hits_per_batch": [r.get("memo_hits", 0) for r in batches],
        "sinks.bytes_written": med(lambda b: b["bytes"]),
        "sinks.files_written": med(lambda b: b["files"]),
        "scan.input": wl.scan_marker,
        "unavailable": {
            "batch_s.tail": "needs 11+ timed batches; a run has one or two",
            "catalyst.plan_ms": "doc_etl: a sink's write command plans in "
                                "its own QueryExecution, which callers "
                                "cannot reach; see catalyst.rule_ms",
        },
        "catalyst.plan_ms": {
            f: {p: _median([r["plan_ms"][f][p] for r in batches[n_untimed:]])
                for p in ("analysis", "optimization", "planning")}
            for f in batches[-1].get("plan_ms", {})},
    }
    return metrics, detail


if __name__ == "__main__":
    sys.exit(main())
