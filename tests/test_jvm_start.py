"""The driver JVM's class-data-sharing archive lifecycle (session.py):
where archives live, when a run records one, when a dump is published,
and when the JVM starts exactly as it would without archives."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from multiagent_form_schema_etl_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEADER = S.CDS_MAGIC + b"\x01" * 60


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A cache dir, a SPARK_HOME with a jar and only template confs, a java
    binary, and a jcmd that writes ``tmp_path/dump`` to the file it is
    asked to dump to and exits with ``tmp_path/rc`` -- nothing a JVM could
    run."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    jcmd = jdk / "bin" / "jcmd"
    jcmd.write_text(f'#!/bin/sh\necho "$@" > {tmp_path}/jcmd.args\n'
                    f'cat {tmp_path}/dump > "$4"\nexit $(cat {tmp_path}/rc)\n')
    jcmd.chmod(0o755)
    (tmp_path / "dump").write_bytes(HEADER)
    (tmp_path / "rc").write_text("0")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    for var in ("SPARK_CONF_DIR", *S._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    return home


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _key(home) -> str:
    return S.archive_key(S._java_binary(), str(home))


def test_no_archive_records_one_and_publishes_the_dump(fake_install,
                                                        tmp_path):
    plan = S.plan_jvm_start()
    cache = S.cds_cache_dir()
    key = _key(fake_install)
    assert plan.state == "recording"
    assert plan.archive == os.path.join(cache, key + ".jsa")
    assert plan.record == str(tmp_path / "jdk" / "bin" / "jcmd")
    assert plan.java_options == (S.CDS_RECORD, *S.CDS_QUIET)
    assert plan.env == {"SPARK_CONF_DIR": os.path.join(cache, "conf")}
    assert os.listdir(plan.env["SPARK_CONF_DIR"]) == []
    assert S.driver_java_options(plan.java_options).startswith(
        "-Duser.timezone=UTC -XX:+RecordDynamicDumpInfo")
    assert S.record_archive(plan.record, os.getpid(), plan.archive)
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    assert (tmp_path / "jcmd.args").read_text().split() == [
        str(os.getpid()), "VM.cds", "dynamic_dump", tmp]
    assert sorted(os.listdir(cache)) == sorted(["conf", key + ".jsa"])
    again = S.plan_jvm_start()
    assert again.state == f"archive {plan.archive}" and again.record is None
    assert again.java_options == (f"-XX:SharedArchiveFile={plan.archive}",
                                  *S.CDS_QUIET)


@pytest.mark.parametrize("rc,head", [(1, HEADER), (0, bytes(64)), (0, b""),
                                     (None, HEADER)])
def test_failed_or_incomplete_dump_is_deleted(fake_install, tmp_path, rc,
                                              head):
    plan = S.plan_jvm_start()
    (tmp_path / "dump").write_bytes(head)
    (tmp_path / "rc").write_text(str(rc or 0))
    jcmd = plan.record if rc is not None else str(tmp_path / "no-jcmd")
    assert not S.record_archive(jcmd, os.getpid(), plan.archive)
    assert sorted(os.listdir(S.cds_cache_dir())) == ["conf"]
    assert S.plan_jvm_start().state == "recording"


def test_jdk_without_jcmd_keeps_the_parents_start(fake_install, tmp_path):
    (tmp_path / "jdk" / "bin" / "jcmd").unlink()
    before = dict(os.environ)
    _assert_parents_start(S.plan_jvm_start(), before)


def test_dead_writers_finished_dump_is_published(fake_install):
    cache = S.cds_cache_dir()
    os.makedirs(cache)
    key = _key(fake_install)
    Path(cache, f"{key}.{_dead_pid()}.tmp").write_bytes(HEADER)
    plan = S.plan_jvm_start()
    archive = os.path.join(cache, key + ".jsa")
    assert plan.state == f"archive {archive}"
    assert sorted(os.listdir(cache)) == sorted(["conf", key + ".jsa"])


def test_zero_header_temp_is_deleted_and_never_offered(fake_install):
    cache = S.cds_cache_dir()
    os.makedirs(cache)
    key = _key(fake_install)
    stale = os.path.join(cache, f"{key}.{_dead_pid()}.tmp")
    Path(stale).write_bytes(bytes(4096))
    plan = S.plan_jvm_start()
    assert plan.state == "recording" and not os.path.exists(stale)
    assert not any(stale in o for o in plan.java_options)
    assert not os.path.exists(os.path.join(cache, key + ".jsa"))


def test_live_writers_temp_is_left_alone(fake_install):
    cache = S.cds_cache_dir()
    os.makedirs(cache)
    key = _key(fake_install)
    writer = subprocess.Popen(["sleep", "60"])
    try:
        live = os.path.join(cache, f"{key}.{writer.pid}.tmp")
        Path(live).write_bytes(HEADER)
        plan = S.plan_jvm_start()
        assert plan.state == "recording"
        assert Path(live).read_bytes() == HEADER
        assert not os.path.exists(os.path.join(cache, key + ".jsa"))
    finally:
        writer.kill()
        writer.wait()


def test_changed_jars_give_a_new_key_and_drop_the_old_archive(fake_install):
    cache = S.cds_cache_dir()
    first = S.plan_jvm_start()
    assert S.record_archive(first.record, os.getpid(), first.archive)
    (fake_install / "jars" / "extra.jar").write_bytes(b"x")
    plan = S.plan_jvm_start()
    assert plan.state == "recording" and plan.archive != first.archive
    assert not os.path.exists(first.archive)
    assert os.path.basename(plan.archive) == _key(fake_install) + ".jsa"
    assert sorted(os.listdir(cache)) == ["conf"]


def _assert_parents_start(plan, environ_before):
    assert plan.java_options == () and plan.env == {}
    assert plan.archive is None and plan.record is None
    assert plan.state.startswith("off: ")
    assert S.driver_java_options(plan.java_options) == "-Duser.timezone=UTC"
    assert dict(os.environ) == environ_before


def test_real_conf_file_keeps_the_parents_start(fake_install):
    (fake_install / "conf" / "spark-defaults.conf").write_text(
        "spark.driver.memory 1g\n")
    before = dict(os.environ)
    _assert_parents_start(S.plan_jvm_start(), before)
    assert not os.path.exists(S.cds_cache_dir())


def test_user_conf_dir_keeps_the_parents_start(fake_install, tmp_path,
                                               monkeypatch):
    conf = tmp_path / "myconf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    before = dict(os.environ)
    _assert_parents_start(S.plan_jvm_start(), before)
    assert not os.path.exists(S.cds_cache_dir())


def test_unwritable_cache_dir_keeps_the_parents_start(fake_install, tmp_path,
                                                      monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    before = dict(os.environ)
    _assert_parents_start(S.plan_jvm_start(), before)


def test_running_session_touches_no_file_and_no_env(spark, tmp_path,
                                                    monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    before, state = dict(os.environ), S.jvm_start()
    assert S.get_spark("tests", cpus="8") is spark
    assert dict(os.environ) == before and S.jvm_start() == state
    assert os.listdir(tmp_path) == []


_RUN = r"""
import json, sys, time
sys.path.insert(0, {root!r})
from multiagent_form_schema_etl_spark.session import get_spark, jvm_start
spark = get_spark("cds-test", cpus="2")
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
            .getInputArguments())
print("RUN " + json.dumps({{"count": spark.range(1000).count(),
                           "state": jvm_start(), "args": args,
                           "pid": spark.sparkContext._gateway.proc.pid}}),
      flush=True)
if sys.argv[1:] == ["hold"]:
    time.sleep(600)
if sys.argv[1:] == ["stop"]:  # end the JVM before exit handlers run
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait()
"""


def _env(cache_home) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=str(cache_home), SPARK_GRAFT_DRIVER_MEM="1g")
    return env


def _record(line: str) -> dict:
    return json.loads(line[line.index("RUN ") + 4:])


def _run(env, *args) -> tuple[dict, str]:
    p = subprocess.run([sys.executable, "-c", _RUN.format(root=ROOT), *args],
                       env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    [rec] = [_record(ln) for ln in p.stdout.splitlines() if "RUN " in ln]
    return rec, p.stdout


def _gone(pid: int, within_s: float = 15.0) -> bool:
    """True once ``pid`` has exited (a zombie counts as exited)."""
    deadline = time.monotonic() + within_s
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return True
        except OSError:
            return True
        time.sleep(0.2)
    return False


def test_killed_recording_run_leaves_no_jvm_and_no_temp(tmp_path):
    cache = tmp_path / "spark-graft" / "cds"
    p = subprocess.Popen([sys.executable, "-c", _RUN.format(root=ROOT),
                          "hold"], env=_env(tmp_path), text=True,
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    try:
        line = next(ln for ln in p.stdout if "RUN " in ln)
        rec = _record(line)
        assert rec["state"] == "recording" and S.CDS_RECORD in rec["args"]
        p.send_signal(signal.SIGTERM)  # exit handlers do not run
        assert p.wait(timeout=60) == -signal.SIGTERM
    finally:
        p.kill()
        p.wait()
        p.stdout.close()
    # the JVM sees EOF on its stdin and exits at once, dumping nothing
    assert _gone(rec["pid"]), rec["pid"]
    assert sorted(os.listdir(cache)) == ["conf"]


@pytest.mark.parametrize("end", ["exit", "stop"])
def test_second_process_starts_from_the_first_ones_archive(tmp_path, end):
    """The first run records whether it just exits (the CLI) or stops its
    session and ends the JVM itself first (a benchmark harness)."""
    env = _env(tmp_path)
    cache = os.path.join(str(tmp_path), "spark-graft", "cds")

    first, out1 = _run(env, end)
    assert first["count"] == 1000 and first["state"] == "recording"
    assert _gone(first["pid"])  # the recording JVM exited with its run
    [archive] = [os.path.join(cache, n) for n in os.listdir(cache)
                 if n.endswith(".jsa")]
    assert S.has_cds_magic(archive)
    assert not [n for n in os.listdir(cache) if n.endswith(".tmp")]

    second, out2 = _run(env)
    assert second["count"] == 1000
    assert second["state"] == f"archive {archive}"
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    for out in (out1, out2):  # no CDS warning or dump report on stdout
        assert [ln for ln in out.splitlines() if "RUN " not in ln] == [], out
