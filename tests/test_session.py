"""Start-up from the class-data-sharing archive (file_d_spark.session).

The decision tests run no JVM: a fake ``$SPARK_HOME`` and java binary
under ``tmp_path`` stand in for the real ones.  The one launch test
starts real driver JVMs in child processes, each with
``XDG_CACHE_HOME`` under ``tmp_path`` so no test touches the real cache.
"""

import json
import os
import signal
import subprocess
import sys
import textwrap
import time

import pytest

from file_d_spark import session
from file_d_spark.session import cds_cache_dir, cds_launch

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def home(tmp_path):
    """A fake Spark home (templates-only conf, two jars), a fake java
    binary and the environment that points at them."""
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("")
    for name in ("a.jar", "b.jar"):
        (spark / "jars" / name).write_bytes(b"jar " + name.encode())
    (tmp_path / "jdk" / "bin").mkdir(parents=True)
    (tmp_path / "jdk" / "bin" / "java").write_text("")
    env = {"XDG_CACHE_HOME": str(tmp_path / "cache"), "JAVA_HOME": str(tmp_path / "jdk")}
    return str(spark), env


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_record_when_no_archive(home):
    spark_home, env = home
    cds = cds_launch(env, spark_home)
    cache = cds_cache_dir(env)
    assert cds.lock and open(cds.lock).read() == str(os.getpid())
    assert f"-XX:ArchiveClassesAtExit={cds.tmp}" in cds.java_options
    assert f"-Xlog:cds+dynamic=info:file={cds.log}" in cds.java_options
    assert "-Xlog:cds*=off" in cds.java_options  # no CDS lines on stdout
    # templates-only conf: launch under an empty conf dir in the cache
    assert cds.conf_dir == os.path.join(cache, "conf")
    assert os.listdir(cds.conf_dir) == []
    assert os.path.dirname(cds.archive) == cache and cds.archive.endswith(".jsa")
    cds.release()
    assert not os.path.exists(cds.lock)


def test_use_existing_archive(home):
    spark_home, env = home
    first = cds_launch(env, spark_home)
    first.release()
    open(first.archive, "wb").close()
    cds = cds_launch(env, spark_home)
    assert cds.java_options.startswith(f"-XX:SharedArchiveFile={first.archive} ")
    assert cds.lock is None and "ArchiveClassesAtExit" not in cds.java_options


def test_key_follows_jars_and_java(home, tmp_path):
    """A new key records its own archive, and publishing it removes the
    archives of other keys but no other key's lock, tmp or log file."""
    spark_home, env = home
    a = cds_launch(env, spark_home)
    a.release()
    open(a.archive, "wb").close()
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"new")
    b = cds_launch(env, spark_home)
    assert b.lock and b.archive != a.archive
    cache = cds_cache_dir(env)
    others = ["k.lock", "k.1.tmp", "k.1.log"]
    for name in others:
        open(os.path.join(cache, name), "w").close()
    open(b.tmp, "wb").close()
    with open(b.log, "w") as fh:
        fh.write("[info][cds,dynamic] Written dynamic archive 0x0 - 0x1\n")
    assert b.publish(subprocess.Popen(["sh", "-c", "cat >/dev/null"], stdin=subprocess.PIPE))
    left = os.listdir(cache)
    assert [n for n in left if n.endswith(".jsa")] == [os.path.basename(b.archive)]
    assert set(others) <= set(left)
    (tmp_path / "jdk2" / "bin").mkdir(parents=True)
    (tmp_path / "jdk2" / "bin" / "java").write_text("")
    c = cds_launch(dict(env, JAVA_HOME=str(tmp_path / "jdk2")), spark_home)
    c.release()
    assert len({a.archive, b.archive, c.archive}) == 3


@pytest.mark.parametrize(
    "extra",
    [
        {"HADOOP_CONF_DIR": "/etc/hadoop"},
        {"YARN_CONF_DIR": "/etc/yarn"},
        {"SPARK_DIST_CLASSPATH": "/srv/hadoop/lib/*"},
        {"PYSPARK_SUBMIT_ARGS": "--conf spark.driver.extraClassPath=/x pyspark-shell"},
        {"PYSPARK_SUBMIT_ARGS": "--driver-class-path /x pyspark-shell"},
        {"PYSPARK_SUBMIT_ARGS": "--conf spark.driver.defaultJavaOptions=-Xss4m pyspark-shell"},
        {"PYSPARK_GATEWAY_PORT": "4242"},
    ],
    ids=[
        "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "submit-extraClassPath",
        "submit-driver-class-path", "submit-defaultJavaOptions", "existing-gateway",
    ],
)
def test_skip_when_classpath_can_change(home, extra):
    spark_home, env = home
    assert cds_launch({**env, **extra}, spark_home) is None
    assert not os.path.exists(cds_cache_dir(env))  # nothing written


def test_skip_when_conf_dir_has_real_config(home, tmp_path):
    spark_home, env = home
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert cds_launch(env, spark_home) is None
    user_conf = tmp_path / "userconf"
    user_conf.mkdir()
    (user_conf / "log4j2.properties").write_text("")
    assert cds_launch(dict(env, SPARK_CONF_DIR=str(user_conf)), spark_home) is None


def test_conf_dir_missing_or_already_empty(home, tmp_path):
    spark_home, env = home
    (tmp_path / "spark" / "conf" / "spark-defaults.conf.template").unlink()
    (tmp_path / "spark" / "conf").rmdir()
    cds = cds_launch(env, spark_home)
    assert cds.conf_dir == os.path.join(cds_cache_dir(env), "conf")
    cds.release()
    empty = tmp_path / "empty"
    empty.mkdir()
    cds = cds_launch(dict(env, SPARK_CONF_DIR=str(empty)), spark_home)
    assert cds.conf_dir is None  # the caller's SPARK_CONF_DIR is kept
    assert cds.lock
    cds.release()


def test_held_lock_launches_plainly_and_stale_lock_is_taken(home):
    spark_home, env = home
    cds = cds_launch(env, spark_home)
    lock = cds.lock
    with open(lock, "w") as fh:
        fh.write(str(os.getppid()))  # a live process holds it
    assert cds_launch(env, spark_home) is None
    with open(lock, "w") as fh:
        fh.write(str(_dead_pid()))
    again = cds_launch(env, spark_home)
    assert again.lock == lock and open(lock).read() == str(os.getpid())
    again.release()


def test_sweep_removes_dead_recorders_files(home):
    spark_home, env = home
    cache = cds_cache_dir(env)
    os.makedirs(cache)
    dead, live = _dead_pid(), os.getppid()
    for name in (f"k.{dead}.tmp", f"k.{dead}.log", f"k.{live}.tmp", "k.jsa", "k.lock"):
        open(os.path.join(cache, name), "w").close()
    cds_launch(env, spark_home).release()
    left = set(os.listdir(cache))
    assert f"k.{dead}.tmp" not in left and f"k.{dead}.log" not in left
    assert {f"k.{live}.tmp", "k.jsa", "k.lock"} <= left


@pytest.mark.parametrize(
    "script, log, published",
    [
        ("cat >/dev/null", "[info][cds,dynamic] Written dynamic archive 0x0 - 0x1\n", True),
        ("cat >/dev/null", "[error] dump failed\n", False),
        ("cat >/dev/null; exit 1", "[info][cds,dynamic] Written dynamic archive 0x0 - 0x1\n", False),
    ],
    ids=["written", "no-written-line", "nonzero-exit"],
)
def test_publish_only_a_whole_archive(home, script, log, published):
    """``publish`` closes the gateway's stdin, waits for the exit and
    renames the tmp file only on exit 0 with the "Written" log line;
    otherwise the tmp file is removed and the final path stays empty."""
    spark_home, env = home
    cds = cds_launch(env, spark_home)
    with open(cds.tmp, "wb") as fh:
        fh.write(b"archive bytes")
    with open(cds.log, "w") as fh:
        fh.write(log)
    proc = subprocess.Popen(["sh", "-c", script], stdin=subprocess.PIPE)
    assert cds.publish(proc) is published
    assert proc.returncode is not None
    assert os.path.exists(cds.archive) is published
    if published:
        assert open(cds.archive, "rb").read() == b"archive bytes"
    for path in (cds.tmp, cds.log, cds.lock):
        assert not os.path.exists(path)


def test_publish_kills_a_recorder_past_the_time_limit(home):
    spark_home, env = home
    cds = cds_launch(env, spark_home)
    open(cds.tmp, "wb").close()
    proc = subprocess.Popen(["sleep", "60"], stdin=subprocess.PIPE)
    assert cds.publish(proc, timeout=0.2) is False
    assert proc.returncode == -signal.SIGKILL
    assert not os.path.exists(cds.archive) and not os.path.exists(cds.tmp)


class _Builder:
    """Records what ``_launch`` passes and the launch-time environment."""

    def __init__(self):
        self.conf = {}

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.conf_dir_at_launch = os.environ.get("SPARK_CONF_DIR")
        return "session"


def test_launch_sets_conf_dir_only_for_the_launch(home, monkeypatch):
    spark_home, env = home
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    first = cds_launch(env, spark_home)
    first.release()
    open(first.archive, "wb").close()
    cds = cds_launch(env, spark_home)  # map the archive: no exit hook
    monkeypatch.setattr(session, "cds_launch", lambda: cds)
    b = _Builder()
    assert session._launch(b) == "session"
    assert b.conf == {"spark.driver.defaultJavaOptions": cds.java_options}
    assert b.conf_dir_at_launch == cds.conf_dir
    assert "SPARK_CONF_DIR" not in os.environ
    # no archive option at all when CDS is off
    monkeypatch.setattr(session, "cds_launch", lambda: None)
    b = _Builder()
    session._launch(b)
    assert b.conf == {} and b.conf_dir_at_launch is None


def test_unwritable_cache_launches_plainly(home, tmp_path, monkeypatch):
    from pyspark import SparkContext

    spark_home, env = home
    (tmp_path / "file").write_text("")
    env["XDG_CACHE_HOME"] = str(tmp_path / "file")  # the cache dir cannot be made
    with pytest.raises(OSError):
        cds_launch(env, spark_home)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "cds_launch", lambda: cds_launch(env, spark_home))
    b = _Builder()
    assert session._launch(b) == "session"
    assert b.conf == {}


_CHILD = textwrap.dedent(
    """
    import json, os, sys, time
    from pyspark import SparkContext
    from file_d_spark import get_spark

    conf_before = os.environ.get("SPARK_CONF_DIR")
    spark = get_spark("cds-test", cpus=1)
    assert spark.range(10).count() == 10
    jvm = SparkContext._gateway.proc.pid
    args = list(spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getRuntimeMXBean().getInputArguments())
    with open(f"/proc/{jvm}/maps") as fh:
        maps = fh.read()
    print(json.dumps({
        "jvm": jvm,
        "cds_args": [a for a in args if "Archive" in a],
        "mapped": sorted({l.split()[-1] for l in maps.splitlines() if l.endswith(".jsa")}),
        "conf_restored": os.environ.get("SPARK_CONF_DIR") == conf_before,
    }), flush=True)
    if sys.argv[1] == "hang":
        time.sleep(600)
    """
)


def _child_env(cache: str) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=cache, PYTHONPATH=_REPO)
    for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV):
        env.pop(k, None)
    return env


def _run_child(cache: str, mode: str, cwd: str) -> tuple[subprocess.Popen, dict]:
    env = _child_env(cache)
    proc = subprocess.Popen(
        [sys.executable, "-c", _CHILD, mode], cwd=cwd, env=env,
        stdout=subprocess.PIPE, text=True,
    )
    line = proc.stdout.readline()
    assert line, f"child exited {proc.wait()} before reporting"
    return proc, json.loads(line)


def _wait_gone(pid: int, limit: float = 120.0) -> None:
    deadline = time.time() + limit
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        time.sleep(0.2)
    assert not os.path.exists(f"/proc/{pid}"), f"JVM {pid} still running"


def test_record_then_map_then_killed_recorder(tmp_path):
    """Three real launches: the first records (the archive appears only
    after its process exits), the second maps the archive, and a
    recorder killed with SIGKILL leaves nothing at the final path."""
    probe = cds_launch(_child_env(str(tmp_path / "probe")))
    if probe is None:
        pytest.skip("this Spark home's conf dir holds real config")
    probe.release()
    cache = str(tmp_path / "c1")
    cds = cds_cache_dir({"XDG_CACHE_HOME": cache})

    proc, first = _run_child(cache, "exit", str(tmp_path))
    assert len(first["cds_args"]) == 1
    assert first["cds_args"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert not [n for n in os.listdir(cds) if n.endswith(".jsa")]
    assert proc.wait(timeout=180) == 0
    archives = [n for n in os.listdir(cds) if n.endswith(".jsa")]
    assert len(archives) == 1
    archive = os.path.join(cds, archives[0])
    assert sorted(os.listdir(cds)) == sorted(["conf", archives[0]])  # no tmp/log/lock
    assert first["conf_restored"]

    proc, second = _run_child(cache, "exit", str(tmp_path))
    assert second["cds_args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in second["mapped"]
    assert second["conf_restored"]
    assert proc.wait(timeout=60) == 0

    cache2 = str(tmp_path / "c2")
    cds2 = cds_cache_dir({"XDG_CACHE_HOME": cache2})
    proc, third = _run_child(cache2, "hang", str(tmp_path))
    assert third["cds_args"][0].startswith("-XX:ArchiveClassesAtExit=")
    proc.kill()
    proc.wait()
    _wait_gone(third["jvm"])  # the orphaned JVM sees stdin EOF and exits
    assert not [n for n in os.listdir(cds2) if n.endswith(".jsa")]
    # the next launch sweeps the dead recorder's files and records anew
    again = cds_launch(_child_env(cache2))
    assert again is not None and again.lock
    again.release()
    assert sorted(os.listdir(cds2)) == ["conf"]
    os.unlink(archive)  # ~140 MB: keep it out of pytest's retained tmp dirs
