"""The driver JVM's class-data-sharing archive (``session`` module
docstring): the launch decision without a JVM, and one fresh session
that must start, with the same answers, while a truncated part file
waits in the cache."""

from __future__ import annotations

import json
import logging
import os
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
    nothing else feeding the class path."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in session._CLASS_PATH_ENV:
        monkeypatch.delenv(var, raising=False)
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
        self.jvm_properties = {"java.home": "/jdk", "java.class.path": "cp"}

    def config(self, key: str, value: str) -> _Builder:
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launch_env = dict(os.environ)
        system = SimpleNamespace(getProperty=self.jvm_properties.get,
                                 setProperty=self.jvm_properties.__setitem__)
        lang = SimpleNamespace(System=system, ProcessHandle=SimpleNamespace(
            current=lambda: SimpleNamespace(pid=lambda: 4242)))
        return SimpleNamespace(sparkContext=SimpleNamespace(
            _jvm=SimpleNamespace(java=SimpleNamespace(lang=lang))))


def test_template_only_conf_writes_the_archive_and_restores_the_env(conf_dir):
    builder = _Builder({})
    session._launch(builder, {})
    assert "-XX:ArchiveClassesAtExit=" in builder.conf[session._JAVA_OPTIONS]
    empty_conf = builder.launch_env["SPARK_CONF_DIR"]
    assert empty_conf == os.path.join(session._cache_root(), "conf") != str(conf_dir)
    assert os.listdir(empty_conf) == []
    assert os.environ["SPARK_CONF_DIR"] == str(conf_dir)
    record, = Path(_cache()).glob("*.json")
    assert json.loads(record.read_text()) == {
        "pid": 4242, "java": "/jdk/bin/java", "class_path": "cp"}


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
    options, record, reason = session._archive_launch({})
    assert options == "" and record is None
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
    cache = _cache()
    token = "0123456789abcdef"
    part = os.path.join(cache, f"{token}.part")
    Path(part).write_bytes(b"not an archive")
    writer = subprocess.Popen(
        (sys.executable, "-c", "import time; print(flush=True); time.sleep(120)", token),
        stdout=subprocess.PIPE)
    try:
        writer.stdout.readline()  # running, its command line set
        meta = {"pid": writer.pid, "java": "java", "class_path": "."}
        Path(cache, f"{token}.json").write_text(json.dumps(meta))
        session._archive_launch({})
        assert os.path.exists(part)
        assert not [f for f in os.listdir(cache) if f.startswith("archive-")]
    finally:
        writer.kill()
        writer.wait(timeout=30)
        writer.stdout.close()
    # once the writer has exited, the trial rejects the garbage
    session._archive_launch({})
    assert not os.path.exists(part)
    assert not [f for f in os.listdir(cache) if f.startswith("archive-")]


def test_a_writer_of_another_user_counts_as_running(monkeypatch):
    def kill(pid, sig):
        raise PermissionError(1, "Operation not permitted")

    monkeypatch.setattr(session.os, "kill", kill)
    assert session._alive(1, "0123456789abcdef")


def test_other_installs_are_deleted_unless_a_session_runs(conf_dir):
    cache = _cache()
    root = session._cache_root()
    stale = Path(root, "00000000deadbeef")
    stale.mkdir()
    Path(stale, "archive-3.jsa").write_bytes(b"old")
    Path(stale, "aaaaaaaaaaaaaaaa.json").write_text(json.dumps({"pid": 2 ** 22 + 1}))
    busy = Path(root, "11111111deadbeef")
    busy.mkdir()
    # a launch that has not recorded its JVM yet
    Path(busy, "bbbbbbbbbbbbbbbb.json").write_text(json.dumps({"started": 0}))
    other = Path(root, "notes")
    other.mkdir()
    session._archive_launch({})
    assert not stale.exists()
    assert busy.exists() and other.exists() and os.path.isdir(cache)


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
    that maps it. The trial must reject and delete it, and a fresh
    session must start and load the same tables as this one."""
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
    meta = {"pid": writer.pid, "java": java, "class_path": empty_conf + os.sep}
    Path(cache, "0123456789abcdef.json").write_text(json.dumps(meta))

    logs_dir = str(FX.write_fixture_logs(tmp_path / "logs"))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        (sys.executable, "-c", _FRESH_SESSION, logs_dir, str(tmp_path / "fresh.db")),
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.splitlines()[-1] == "writing"
    assert not os.path.exists(part)
    assert not [f for f in os.listdir(cache) if f.startswith("archive-")]

    golden_ingest(spark, logs_dir, str(tmp_path / "here.db"))
    assert _tables(str(tmp_path / "fresh.db")) == _tables(str(tmp_path / "here.db"))
