"""The driver JVM's class-data-sharing archive (``session`` module
docstring): the launch decision and the exit hook without a JVM, a
writer session that leaves only the archive behind and a second one
that maps it, and one fresh session that must start, with the same
answers, while a truncated part file waits in the cache."""

from __future__ import annotations

import contextlib
import logging
import os
import signal
import sqlite3
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from git_log_to_sqlite_spark import session
from git_log_to_sqlite_spark.config import Config
from git_log_to_sqlite_spark.etl import parse_git_log, run_pipeline
from git_log_to_sqlite_spark.etl.writers import write_sqlite

from . import fixtures as FX

REPO_ROOT = str(Path(__file__).resolve().parents[1])
CALLER_OPTIONS = "-Djava.io.tmpdir=/tmp/x -XX:-UsePerfData"


@pytest.fixture
def conf_dir(tmp_path, monkeypatch):
    """A template-only Spark conf directory and an empty cache, with
    nothing else feeding the class path. Exit hooks ``session`` would
    register go to ``session.atexit.hooks`` instead."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in session._CLASS_PATH_ENV:
        monkeypatch.delenv(var, raising=False)
    hooks = []
    monkeypatch.setattr(session, "atexit", SimpleNamespace(
        hooks=hooks, register=lambda *args: hooks.append(args)))
    return conf


def _cache() -> str:
    java_home = session._java_home()
    if java_home is None:
        pytest.skip("no Java runtime with a base CDS archive")
    key = session._archive_key(java_home, session._spark_home())
    path = os.path.join(session._cache_root(), key)
    os.makedirs(path, exist_ok=True)
    return path


class _Builder:
    """Stands in for ``SparkSession.Builder``: keeps the conf it is
    given, and its "session" sees the environment of the launch."""

    def __init__(self, conf: dict[str, str]):
        self.conf = dict(conf)
        self.launch_env: dict[str, str] = {}
        self.jvm_properties: dict[str, str] = {}

    def config(self, key: str, value: str) -> _Builder:
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launch_env = dict(os.environ)
        system = SimpleNamespace(getProperty=self.jvm_properties.get,
                                 setProperty=self.jvm_properties.__setitem__)
        return SimpleNamespace(sparkContext=SimpleNamespace(
            _gateway="the gateway", _accumulatorServer="the server",
            _jvm=SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))))


def _hold(lock: str) -> subprocess.Popen:
    """A process that holds the ``flock`` on ``lock`` until it is killed."""
    holder = subprocess.Popen(
        (sys.executable, "-c", "import fcntl, os, sys, time\n"
         "fcntl.flock(os.open(sys.argv[1], os.O_RDWR | os.O_CREAT), fcntl.LOCK_EX)\n"
         "print(flush=True)\ntime.sleep(120)", lock),
        stdout=subprocess.PIPE)
    holder.stdout.readline()  # the lock is taken
    return holder


def _end_jvm(proc, stem: str) -> SimpleNamespace:
    """Run the exit hook for a stand-in gateway of ``proc``; returns
    the gateway, whose ``shut`` says whether it was shut down."""
    gateway = SimpleNamespace(proc=proc, shut=False)
    gateway.shutdown = lambda: setattr(gateway, "shut", True)
    session._end_jvm_at_exit(gateway, stem, SimpleNamespace())
    return gateway


def _kill(proc: subprocess.Popen) -> None:
    proc.kill()
    proc.wait(timeout=30)
    proc.stdout.close()


def test_template_only_conf_writes_the_archive_and_restores_the_env(conf_dir):
    builder = _Builder({})
    session._launch(builder, {})
    empty_conf = builder.launch_env["SPARK_CONF_DIR"]
    assert empty_conf == os.path.join(session._cache_root(), "conf") != str(conf_dir)
    assert os.listdir(empty_conf) == []
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    (hook, gateway, stem, server), = session.atexit.hooks
    assert (hook, gateway, server) == (session._end_jvm_at_exit, "the gateway", "the server")
    assert f"-XX:ArchiveClassesAtExit={stem}.part" in builder.conf[session._JAVA_OPTIONS]
    assert sorted(os.listdir(_cache())) == [f"{os.path.basename(stem)}.{ext}"
                                            for ext in ("lock", "part")]
    assert os.path.getsize(f"{stem}.part") == 0  # the writer's marker
    assert session._held(f"{stem}.lock")


def test_real_spark_defaults_gives_no_archive(conf_dir):
    (conf_dir / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    builder = _Builder({})
    session._launch(builder, {})
    assert builder.conf == {}
    assert builder.launch_env["SPARK_CONF_DIR"] == str(conf_dir)
    assert "holds a Spark configuration" in builder.jvm_properties[session._OFF_PROPERTY]


def test_hadoop_conf_dir_gives_no_archive(conf_dir, monkeypatch, tmp_path):
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert session._archive_launch({}) == ("", None, "HADOOP_CONF_DIR is set")


def test_unwritable_cache_gives_no_archive(conf_dir, monkeypatch, tmp_path):
    # a path below a regular file: no directory can be made there, even as root
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    options, stem, reason = session._archive_launch({})
    assert options == "" and stem is None
    assert "not writable" in reason


def test_archive_whose_size_changed_is_deleted_not_mapped(conf_dir):
    cache = _cache()
    archive = os.path.join(cache, "archive-100.jsa")
    Path(archive).write_bytes(b"\0" * 50)
    options, _, _ = session._archive_launch({})
    assert "SharedArchiveFile" not in options
    assert "-XX:ArchiveClassesAtExit=" in options
    assert not os.path.exists(archive)


def test_part_file_is_not_promoted_while_its_writer_runs(conf_dir):
    """A part file whose lock is held belongs to a live writer: a launch
    keeps it and starts without the archive. Once the writer is killed
    the kernel frees its lock, and the next launch deletes its files and
    writes the archive itself."""
    cache = _cache()
    stem = os.path.join(cache, "0123456789abcdef")
    Path(f"{stem}.part").write_bytes(b"")
    Path(f"{stem}.log").write_text("")
    writer = _hold(f"{stem}.lock")
    try:
        builder = _Builder({})
        session._launch(builder, {})
        assert builder.conf == {}
        assert session.atexit.hooks == [
            (session._end_jvm_at_exit, "the gateway", None, "the server")]
        assert builder.jvm_properties[session._OFF_PROPERTY] == (
            "another session is writing the archive")
        assert os.path.exists(f"{stem}.part") and session._held(f"{stem}.lock")
    finally:
        _kill(writer)
    options, new, _ = session._archive_launch({})
    assert f"-XX:ArchiveClassesAtExit={new}.part" in options
    assert not [f for f in os.listdir(cache) if f.startswith("0123456789abcdef")]


def test_files_of_a_dead_session_are_deleted(conf_dir):
    """A session whose lock is free has exited: every ``<token>.*`` of
    it goes, a lock file missing or left behind alike."""
    cache = _cache()
    Path(cache, "aaaaaaaaaaaaaaaa.part").write_bytes(b"cut short")
    Path(cache, "aaaaaaaaaaaaaaaa.lock").write_text("")
    Path(cache, "bbbbbbbbbbbbbbbb.log").write_text("")
    Path(cache, "cccccccccccccccc.json").write_text("{}")  # an older record
    _, stem, _ = session._archive_launch({})
    token = os.path.basename(stem)
    assert sorted(os.listdir(cache)) == [f"{token}.lock", f"{token}.part"]


def test_other_installs_are_deleted_unless_a_session_runs(conf_dir):
    cache = _cache()
    root = session._cache_root()
    stale = Path(root, "00000000deadbeef")
    stale.mkdir()
    Path(stale, "archive-3.jsa").write_bytes(b"old")
    Path(stale, "aaaaaaaaaaaaaaaa.lock").write_text("")
    busy = Path(root, "11111111deadbeef")
    busy.mkdir()
    other = Path(root, "notes")
    other.mkdir()
    holder = _hold(str(busy / "bbbbbbbbbbbbbbbb.lock"))
    try:
        session._archive_launch({})
    finally:
        _kill(holder)
    assert not stale.exists()
    assert busy.exists() and other.exists() and os.path.isdir(cache)


@pytest.mark.parametrize("code, log, archive, promoted", [
    (0, "[info][cds,dynamic] Written dynamic archive 0x8 - 0x9\n", False, True),
    (0, "[info][cds] no dump\n", False, False),
    (1, "[info][cds,dynamic] Written dynamic archive 0x8 - 0x9\n", False, False),
    (0, "[info][cds,dynamic] Written dynamic archive 0x8 - 0x9\n", True, False),
])
def test_exit_hook_promotes_only_a_written_archive(conf_dir, code, log, archive, promoted):
    """The hook renames the part only when the JVM exited 0, its log
    reports the archive written and no validated archive exists; it
    always removes the session's part, log and lock."""
    cache = _cache()
    stem = os.path.join(cache, "0123456789abcdef")
    Path(f"{stem}.part").write_bytes(b"x" * 7)
    Path(f"{stem}.log").write_text(log)
    Path(f"{stem}.lock").write_text("")
    if archive:
        Path(cache, "archive-3.jsa").write_bytes(b"old")
    stdin = open(os.devnull, "wb")
    proc = SimpleNamespace(stdin=stdin, wait=lambda timeout: code)
    assert _end_jvm(proc, stem).shut
    assert stdin.closed
    want = ["archive-7.jsa"] if promoted else ["archive-3.jsa"] if archive else []
    assert sorted(os.listdir(cache)) == want


def test_exit_hook_kills_a_jvm_that_outlives_the_bound(conf_dir, monkeypatch):
    cache = _cache()
    stem = os.path.join(cache, "0123456789abcdef")
    Path(f"{stem}.part").write_bytes(b"x")
    Path(f"{stem}.log").write_text("Written dynamic archive\n")
    monkeypatch.setattr(session, "_DUMP_TIMEOUT_S", 0.2)
    proc = subprocess.Popen((sys.executable, "-c", "import time; time.sleep(120)"),
                            stdin=subprocess.PIPE)
    _end_jvm(proc, stem)
    assert proc.returncode == -signal.SIGKILL
    assert os.listdir(cache) == []


def test_caller_java_options_survive_next_to_the_archive_flag(conf_dir):
    builder = _Builder({session._JAVA_OPTIONS: CALLER_OPTIONS, "k": "v"})
    session._launch(builder, {session._JAVA_OPTIONS: CALLER_OPTIONS, "k": "v"})
    options = builder.conf[session._JAVA_OPTIONS]
    assert options.startswith(CALLER_OPTIONS + " ")
    assert "-XX:ArchiveClassesAtExit=" in options and builder.conf["k"] == "v"


def _session_with_args(*args: str, properties: dict[str, str] | None = None):
    """A stand-in session whose JVM was started with ``args``."""
    bean = SimpleNamespace(getInputArguments=lambda: list(args))
    lang = SimpleNamespace(
        System=SimpleNamespace(getProperty=(properties or {}).get),
        String=SimpleNamespace(join=lambda sep, items: sep.join(items)),
        management=SimpleNamespace(ManagementFactory=SimpleNamespace(
            getRuntimeMXBean=lambda: bean)))
    return SimpleNamespace(sparkContext=SimpleNamespace(
        _jvm=SimpleNamespace(java=SimpleNamespace(lang=lang))))


def test_archive_state_reads_a_rejected_archive_as_off(tmp_path):
    """The JVM logs the mapped regions before it checks the class path,
    and unmaps them when the check fails."""
    mapped = "[info][cds] Mapped dynamic region #0 at base 0x7f00 top 0x7f10 (ReadWrite)\n"
    rejected = mapped + ("[info][cds] UseSharedSpaces: shared class paths mismatch\n"
                         "[warning][cds,dynamic] Unable to use shared archive. "
                         "The top archive failed to load: /c/archive-1.jsa\n")
    states = {}
    for name, text in (("mapped", mapped), ("rejected", rejected), ("empty", "")):
        log = tmp_path / f"{name}.log"
        log.write_text(text)
        spark = _session_with_args("-Xlog:cds*=off,class+path=off",
                                   f"{session._CDS_LOG}{log}::filecount=0",
                                   "-XX:SharedArchiveFile=/c/archive-1.jsa")
        states[name] = session.jvm_archive_state(spark)
    assert states == {"mapped": "mapped",
                      "rejected": "off: the JVM rejected the archive",
                      "empty": "off: the JVM did not map the archive"}
    writing = _session_with_args("-XX:ArchiveClassesAtExit=/c/x.part")
    assert session.jvm_archive_state(writing) == "writing"
    off = _session_with_args(properties={session._OFF_PROPERTY: "HADOOP_CONF_DIR is set"})
    assert session.jvm_archive_state(off) == "off: HADOOP_CONF_DIR is set"


def test_cli_logs_the_archive_state_at_debug_level(spark, tmp_path, caplog, capsys):
    from git_log_to_sqlite_spark.__main__ import main

    caplog.set_level(logging.DEBUG, logger="git_log_to_sqlite_spark.__main__")
    assert main([str(tmp_path), "-d", str(tmp_path / "out.db")]) == 0
    state = session.jvm_archive_state(spark)
    assert state in ("mapped", "writing") or state.startswith("off: ")
    assert f"driver JVM class-data archive: {state}" in caplog.messages
    assert "class-data archive" not in capsys.readouterr().out


def golden_ingest(spark, logs_dir: str, db: str) -> None:
    """The golden fixture logs through parse, pipeline and the SQLite sink."""
    commits = parse_git_log(spark, logs_dir)
    cfg = Config(ignored_repositories=FX.IGNORED_REPOSITORIES, author_map=FX.AUTHOR_MAP)
    res = run_pipeline(spark, commits, FX.REPOS_META, config=cfg)
    write_sqlite(db, res.repositories, res.commits)


def _tables(db: str) -> dict[str, list]:
    con = sqlite3.connect(db)
    try:
        return {t: con.execute(f"SELECT * FROM {t} ORDER BY 1, 2").fetchall()
                for t in ("repositories", "logs", "changed_files")}
    finally:
        con.close()


def _python(script: str, *args: str) -> subprocess.CompletedProcess:
    """``script`` run to a zero exit in a fresh Python process, with no
    gateway to join and a small driver heap."""
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run((sys.executable, "-c", script, *args), capture_output=True,
                          text=True, timeout=300, cwd=REPO_ROOT, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc


# The Python-worker job opens the JVM's connection to the accumulator
# server, which the JVM's exit then ends.
_SESSION = """
from git_log_to_sqlite_spark.session import get_spark, jvm_archive_state
spark = get_spark("archive-lifecycle", cpus=1)
assert spark.range(10).count() == 10
assert spark.sparkContext.parallelize(range(10), 1).map(lambda x: x).count() == 10
print(jvm_archive_state(spark), flush=True)
"""


def _assert_only_the_archive_is_left(cache: str) -> None:
    """The cache holds the promoted archive and nothing else, and no
    process (no driver JVM) names the cache on its command line."""
    archive, = os.listdir(cache)
    assert archive == f"archive-{os.path.getsize(os.path.join(cache, archive))}.jsa"
    root = session._cache_root().encode()
    for cmdline in Path("/proc").glob("[0-9]*/cmdline"):
        with contextlib.suppress(OSError):
            assert root not in cmdline.read_bytes(), cmdline


def test_writer_session_leaves_the_archive_and_the_next_maps_it(conf_dir):
    """A session that writes the archive and exits normally returns
    only after its JVM has dumped and exited: the cache then holds the
    promoted archive and nothing else, and no process names the cache.
    The next session maps it, and it too returns only after its JVM
    has exited, leaving only the archive. Neither prints an error as
    its JVM ends."""
    cache = _cache()
    for state in ("writing", "mapped"):
        proc = _python(_SESSION)
        assert proc.stdout.splitlines()[-1] == state
        assert "Traceback" not in proc.stderr, proc.stderr[-2000:]
        _assert_only_the_archive_is_left(cache)


# The fresh session ends its own JVM before it can write an archive
# into the test's temporary cache.
_FRESH_SESSION = """
import os, signal, sys
from git_log_to_sqlite_spark.session import get_spark, jvm_archive_state
from tests.test_session_archive import golden_ingest
spark = get_spark("archive-trial", cpus=2)
golden_ingest(spark, sys.argv[1], sys.argv[2])
print(jvm_archive_state(spark), flush=True)
os.kill(int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()), signal.SIGKILL)
os._exit(0)
"""


def test_truncated_part_file_is_rejected_and_the_session_starts(
        spark, conf_dir, tmp_path):
    """A part file cut short (its JVM killed mid-dump) crashes any JVM
    that maps it. Its lock is free, so a launch must delete it, and a
    fresh session must start and load the same tables as this one."""
    cache = _cache()
    empty_conf = os.path.join(session._cache_root(), "conf")
    os.makedirs(empty_conf, exist_ok=True)
    java = os.path.join(session._java_home(), "bin", "java")
    part = os.path.join(cache, "0123456789abcdef.part")
    # a real dynamic archive for a class path the session's extends
    writer = subprocess.Popen(
        (java, f"-XX:ArchiveClassesAtExit={part}", "-Xlog:disable",
         "-cp", empty_conf + os.sep, "-version"),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    assert writer.wait(timeout=60) == 0
    data = Path(part).read_bytes()
    os.chmod(part, 0o644)
    Path(part).write_bytes(data[: len(data) // 2])
    Path(cache, "0123456789abcdef.lock").write_text("")

    logs_dir = str(FX.write_fixture_logs(tmp_path / "logs"))
    proc = _python(_FRESH_SESSION, logs_dir, str(tmp_path / "fresh.db"))
    assert proc.stdout.splitlines()[-1] == "writing"
    assert not os.path.exists(part)
    assert not [f for f in os.listdir(cache) if f.startswith("archive-")]

    golden_ingest(spark, logs_dir, str(tmp_path / "here.db"))
    assert _tables(str(tmp_path / "fresh.db")) == _tables(str(tmp_path / "here.db"))
