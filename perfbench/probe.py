"""Measurement layer of the benchmark: environment stamp, the tracer, and
readers for Spark's own counters.

Spans are recorded from outside the program, around calls into its public
functions. Spark's counters are read through the live session:

- ``RuleExecutor.getCurrentMetrics`` -- nanoseconds spent in Catalyst
  analyzer and optimizer rules, for every query of the session;
- ``CodeGenerator.compileTime`` and ``CodegenMetrics`` -- janino compile
  nanoseconds and compile count;
- the application status store (the data behind the REST API
  ``/api/v1/applications/<id>/stages``) -- per-stage task time, shuffle,
  spill, GC and input records, mapped to spans by job group;
- the SQL status store -- per-scan output rows, to count how often an
  input relation is re-read.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat (total over the first eight
    fields; the kernel folds guest time into user/nice)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d if d > 0 else 0.0


def hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds incl. reaped children) of every
    visible process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        out[int(name)] = (int(fields[1]),
                          sum(int(x) for x in fields[11:15]) / tick)
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (pp, _cpu) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every process under it (the
    JVM and its Python workers). Time the hypervisor steals is not in it."""
    table = _proc_table()
    return sum(table[p][1] for p in [pid, *descendants(pid, table)]
               if p in table)


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15


def jit_cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``.
    Exact only while those threads live the whole run (the benchmark
    starts the JVM with ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, fields = stat[stat.index("(") + 1:].rsplit(")", 1)
        if comm.startswith(JIT_THREADS):
            fields = fields.split()
            total += int(fields[11]) + int(fields[12])
    return total / tick


class SparkCounters:
    """Cumulative counters of the live session: Catalyst rule time, janino
    compile time and count, and the JVM's JIT and GC milliseconds (six
    py4j calls per snapshot)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def snapshot(self) -> dict:
        return {"rule_ns": self._rules.getCurrentMetrics().time(),
                "compile_ns": self._cg.compileTime(),
                "compile_count": self._cg_hist.getCount(),
                "jit_ms": self._jit.getTotalCompilationTime(),
                "gc_ms": sum(g.getCollectionTime() for g in self._gcs)}


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class StatusReader:
    """Reads the status stores as JSON (one py4j call per list)."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = getattr(self._app, "stageList$default$4")()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._app.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self._app.stageList(None, False, False,
                                              self._quantiles, None))

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def scan_rows(self, execution_id: int) -> list[tuple[str, int]]:
        """(scan description, output rows) for every file scan node of one
        SQL execution."""
        nodes = self._json(self._sql.planGraph(execution_id).allNodes())
        values = self._json(self._sql.executionMetrics(execution_id))
        out = []
        for n in nodes:
            if not n["name"].startswith("Scan "):
                continue
            for m in n["metrics"]:
                if m["name"] == "number of output rows":
                    v = values.get(str(m["accumulatorId"]), "0")
                    out.append((n["desc"], int(v.replace(",", "") or 0)))
        return out


class Tracer:
    """Spans kept in memory and written once at exit. Disabled, ``span``
    is a bare context manager and nothing else runs, so untraced batches
    pay no tracing cost."""

    def __init__(self, spark, enabled: bool, counters: SparkCounters):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.batch = "setup"
        self._sc = spark.sparkContext
        self._counters = counters

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"{self.batch}/{name}"
        rec = {"name": name, "batch": self.batch, "parent": parent,
               "group": group}
        self.spans.append(rec)
        self._stack.append(idx)
        self._sc.setJobGroup(group, name)
        c0 = self._counters.snapshot()
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec.update(delta(self._counters.snapshot(), c0))
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self.spans[parent]["group"],
                                     self.spans[parent]["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str, record: dict) -> None:
        """The run record, with every span when tracing was on."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"record": record, "spans": self.spans}, f, indent=1,
                      default=str)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    workers = descendants(gw.proc.pid) if gw is not None else []
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    # the JVM's Python workers exit on its end of their pipes; wait for them
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.05)
    for w in workers:
        try:
            os.kill(w, 9)
        except OSError:
            pass


EXEC_KEYS = ("jobs", "stages", "task_s", "gc_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_memory_bytes", "spill_disk_bytes",
             "input_records")


def exec_by_group(reader: StatusReader, batch: str) -> dict[str, dict]:
    """Execution metrics of one batch per job group (= span). A stage
    shared by several jobs counts once, for the first job that ran it."""
    stages = {s["stageId"]: s for s in reader.stages()}
    jobs = sorted((j for j in reader.jobs()
                   if (j.get("jobGroup") or "").startswith(batch + "/")),
                  key=lambda j: j["jobId"])
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j in jobs:
        g = out.setdefault(j["jobGroup"], dict.fromkeys(EXEC_KEYS, 0))
        g["jobs"] += 1
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if sid in seen or s is None or s["status"] != "COMPLETE":
                continue
            seen.add(sid)
            g["stages"] += 1
            g["task_s"] += s["executorRunTime"] / 1000.0
            g["gc_s"] += s["jvmGcTime"] / 1000.0
            g["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            g["shuffle_read_bytes"] += s["shuffleReadBytes"]
            g["spill_memory_bytes"] += s["memoryBytesSpilled"]
            g["spill_disk_bytes"] += s["diskBytesSpilled"]
            g["input_records"] += s["inputRecords"]
    return out


def plan_phases_ms(df) -> dict[str, int]:
    """Analysis, optimization and planning milliseconds of the query that
    executed ``df`` (its ``QueryPlanningTracker``)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() if p.isDefined() else 0
    return out
