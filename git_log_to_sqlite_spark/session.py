"""SparkSession factory with oracle-parity and scale-aware defaults.

Encodes SURVEY.md section 4.2's "physical-execution decisions to encode in
config, not code":

* ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  pinning the session TZ makes timestamp values hash-comparable.
* AQE on (runtime shuffle coalescing + skew-join splitting) — at 100 TB
  the static partition count is always wrong somewhere; AQE re-plans at
  each exchange from observed sizes.
* ``spark.sql.shuffle.partitions`` sized to local cores for tests; on a
  real cluster this is overridden (AQE coalescing makes the initial
  number a ceiling, not a target).
* Arrow enabled so Pandas-UDF operators (near-dup, multimodal) use
  vectorized batch transfer instead of per-row pickling.

Driver JVM class-data sharing. Most of a cold session start is the
JVM loading about 13,000 classes. When ``get_spark`` launches the
driver JVM, it starts it from a class-data-sharing (CDS) archive kept
in ``$XDG_CACHE_HOME/git_log_to_sqlite_spark/<key>/`` (default
``~/.cache``), keyed by the Java runtime and the Spark jars:

* a validated ``archive-<size>.jsa`` exists: the JVM maps it
  (``-XX:SharedArchiveFile``). A file whose size is no longer the
  validated size is deleted, never mapped: a truncated archive kills
  the JVM with SIGBUS;
* none exists, and no live session writes one: this session writes
  it. Its JVM dumps ``<token>.part`` when it exits
  (``-XX:ArchiveClassesAtExit``), and the exit hook renames the part
  to ``archive-<size>.jsa`` only when the JVM exited 0, its ``cds``
  log reports the archive written and no validated archive exists
  yet; otherwise it deletes the part. So the first run of an install
  returns after the dump (6-13 s, README "Cold start");
* none exists, but a live session writes one: the JVM launches
  without the archive.

Every driver JVM ``get_spark`` launches, archive or not, gets an
``atexit`` hook that ends it and waits for its exit, so no JVM
outlives the process, and then deletes the session's ``<token>.*``.

Each launch holds an exclusive ``flock`` on ``<token>.lock`` for the
life of its process; the kernel drops it when the process dies, even
on SIGKILL. A launch deletes every ``<token>.*`` whose lock it can
take, so a dead writer's part file is deleted, never mapped. It also
deletes the directories that other Java runtimes or Spark installs
left in the cache unless a lock in them is held, so the cache holds
one archive (about 150 MB).

The archive needs a class path without non-empty directories, so the
launch points ``SPARK_CONF_DIR`` at an empty cache directory (restored
after the launch). It does so only when the effective Spark conf
directory holds nothing but ``*.template`` files and nothing else
feeds the class path (``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``,
``SPARK_DIST_CLASSPATH``, ``SPARK_PREPEND_CLASSES``,
``PYSPARK_SUBMIT_ARGS``, ``spark.driver.extraClassPath``). Otherwise,
and when the cache directory cannot be written, the JVM launches
exactly as without an archive. The archive options are appended to
any ``spark.driver.extraJavaOptions`` the caller passes. The JVM's
``cds`` logging goes to ``<token>.log``, never to stdout;
``jvm_archive_state`` reads it.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import uuid
from subprocess import TimeoutExpired

from pyspark import SparkContext
from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Anything here feeds the driver's class path or its launch, which the
# archive is not keyed by.
_CLASS_PATH_ENV = (
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "PYSPARK_SUBMIT_ARGS",
)
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_CDS_LOG = "-Xlog:cds*=info,class+path=info:file="
# The longest the exit hook waits for the driver JVM to exit (a
# writer's dumps the archive first); the JVM is then killed.
_DUMP_TIMEOUT_S = 120
# The JVM system property that holds why a JVM launched without the
# archive; ``jvm_archive_state`` reports it.
_OFF_PROPERTY = "git_log_to_sqlite_spark.jvm_archive_off"


def _cache_root() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "git_log_to_sqlite_spark")


def _java_home() -> str | None:
    """The Java home the launch scripts run (``$JAVA_HOME/bin/java``,
    else ``java`` on the PATH), when it ships the base CDS archive a
    dynamic archive extends."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    return home if os.path.isfile(os.path.join(home, "lib", "server", "classes.jsa")) else None


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def _archive_key(java_home: str, spark_home: str) -> str:
    """Hash of the Java runtime and the Spark jars, by path, size and
    modification time."""
    files = [os.path.join(java_home, "lib", name)
             for name in ("modules", os.path.join("server", "libjvm.so"),
                          os.path.join("server", "classes.jsa"))]
    files += sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    digest = hashlib.sha256()
    for path in files:
        with contextlib.suppress(OSError):
            st = os.stat(path)
            digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


def _archive_blocker(caller_conf: dict[str, str], conf_dir: str) -> str:
    """Why the launch must not redirect the conf directory or add the
    archive options, or "" when nothing stops it."""
    for var in _CLASS_PATH_ENV:
        if os.environ.get(var):
            return f"{var} is set"
    if caller_conf.get("spark.driver.extraClassPath"):
        return "spark.driver.extraClassPath is set"
    with contextlib.suppress(FileNotFoundError, NotADirectoryError):
        if any(not name.endswith(".template") for name in os.listdir(conf_dir)):
            return f"{conf_dir} holds a Spark configuration"
    return ""


def _held(lock: str) -> bool:
    """Whether a live process holds the ``flock`` on ``lock`` (a
    missing file is created, and is free)."""
    fd = os.open(lock, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return False
    except BlockingIOError:
        return True
    finally:
        os.close(fd)


def _remove(*paths: str) -> None:
    for path in paths:
        with contextlib.suppress(OSError):
            os.remove(path)


def _validated_archive(cache: str) -> str | None:
    """The promoted archive, or None. One whose size differs from the
    validated size in its name is deleted."""
    for path in glob.glob(os.path.join(cache, "archive-*.jsa")):
        size = os.path.basename(path)[len("archive-"):-len(".jsa")]
        try:
            if os.path.getsize(path) == int(size):
                return path
        except (OSError, ValueError):
            pass
        _remove(path)
    return None


def _sweep(cache: str) -> bool:
    """Delete the files of every session in ``cache`` whose lock is
    free (its process has exited, however it ended), and say whether a
    live session writes the archive (its part file exists)."""
    writing = False
    for token in {n[:16] for n in os.listdir(cache) if re.match(r"[0-9a-f]{16}\.", n)}:
        stem = os.path.join(cache, token)
        if _held(f"{stem}.lock"):
            writing = writing or os.path.exists(f"{stem}.part")
        else:
            _remove(*glob.glob(f"{stem}.*"))
    return writing


def _drop_other_installs(root: str, key: str) -> None:
    """Delete the cache directories of other Java runtimes and Spark
    installs (a JDK or Spark update leaves one behind) unless a lock
    in them is held, so one archive stays per cache."""
    with os.scandir(root) as entries:
        stale = [e.path for e in entries
                 if e.name != key and re.fullmatch(r"[0-9a-f]{16}", e.name)
                 and e.is_dir(follow_symlinks=False)]
    for path in stale:
        if not any(_held(lock) for lock in glob.glob(os.path.join(path, "*.lock"))):
            shutil.rmtree(path, ignore_errors=True)


def _archive_launch(caller_conf: dict[str, str]) -> tuple[str, str | None, str]:
    """The archive decision for a driver JVM launch with the caller's
    Spark conf ``caller_conf``: the options to append to its
    ``spark.driver.extraJavaOptions``, the stem ``<cache>/<token>`` of
    the session's files (its lock and log, and the part file a writer's
    JVM dumps), and why the archive is off (options "" and no stem).
    Sweeps the cache directory and takes the session's lock, held for
    the life of the process."""
    spark_home = _spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    reason = _archive_blocker(caller_conf, conf_dir)
    if reason:
        return "", None, reason
    java_home = _java_home()
    if java_home is None:
        return "", None, "no Java runtime with a base CDS archive found"
    root = _cache_root()
    if not re.fullmatch(r"[\w./+@~-]+", root):
        return "", None, f"cache path {root!r} cannot be passed as a JVM option"
    key = _archive_key(java_home, spark_home)
    cache = os.path.join(root, key)
    empty_conf = os.path.join(root, "conf")
    stem = os.path.join(cache, uuid.uuid4().hex[:16])
    try:
        os.makedirs(empty_conf, exist_ok=True)
        os.makedirs(cache, exist_ok=True)
        if os.listdir(empty_conf):
            return "", None, f"{empty_conf} is not empty"
        _drop_other_installs(root, key)
        writing = _sweep(cache)
        archive = _validated_archive(cache)
        if archive is None and writing:
            return "", None, "another session is writing the archive"
        # The fd stays open, and so the lock held, until the process ends.
        fcntl.flock(os.open(f"{stem}.lock", os.O_RDWR | os.O_CREAT, 0o644), fcntl.LOCK_EX)
        if archive is None:
            # The writer's marker, which the JVM replaces when it dumps.
            open(f"{stem}.part", "x").close()
    except OSError as exc:
        return "", None, f"cache directory not writable: {exc}"
    flag = (f"-XX:SharedArchiveFile={archive}" if archive else
            f"-XX:ArchiveClassesAtExit={stem}.part")
    options = f"-Xlog:cds*=off,class+path=off {_CDS_LOG}{stem}.log::filecount=0 {flag}"
    return options, stem, ""


def _end_jvm_at_exit(gateway, stem: str | None, accumulators) -> None:
    """The exit hook of a session whose driver JVM (``gateway.proc``)
    this process launched. It shuts the py4j ``gateway`` down, so no
    late command (a garbage-collected object's release) reaches a dying
    JVM, silences the ``accumulators`` server, whose connection the
    JVM's exit ends, closes the JVM's stdin (it exits on EOF) and waits
    for it, killing it after ``_DUMP_TIMEOUT_S``. ``stem`` (None with
    the archive off) names the session's files: a ``<stem>.part`` is
    renamed to ``archive-<size>.jsa`` when the JVM exited 0, its
    ``cds`` log reports the archive written and no validated archive
    exists yet, and deleted otherwise; the log and lock go either way."""
    gateway.shutdown()
    accumulators.handle_error = lambda request, client_address: None
    proc = gateway.proc
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        code = proc.wait(timeout=_DUMP_TIMEOUT_S)
    except TimeoutExpired:
        proc.kill()
        code = proc.wait()
    if stem is None:
        return
    cache, part, log = os.path.dirname(stem), f"{stem}.part", f"{stem}.log"
    try:
        with open(log, "rb") as fh:
            written = b"Written dynamic archive" in fh.read()
    except OSError:
        written = False
    if code == 0 and written and _validated_archive(cache) is None:
        with contextlib.suppress(OSError):
            os.replace(part, os.path.join(cache, f"archive-{os.path.getsize(part)}.jsa"))
    _remove(part, log, f"{stem}.lock")


def _launch(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()`` for a call that launches the driver
    JVM: with the archive options appended to the caller's Java options
    and ``SPARK_CONF_DIR`` at the empty cache directory (restored
    afterwards), unless the archive is off: then the JVM keeps the
    reason as a system property. Either way the JVM gets the exit hook
    that ends it."""
    options, stem, reason = _archive_launch(conf)
    if not options:
        spark = builder.getOrCreate()
        spark.sparkContext._jvm.java.lang.System.setProperty(_OFF_PROPERTY, reason)
    else:
        caller = conf.get(_JAVA_OPTIONS, "").strip()
        builder = builder.config(_JAVA_OPTIONS, f"{caller} {options}".strip())
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = os.path.join(_cache_root(), "conf")
        try:
            spark = builder.getOrCreate()
        finally:
            if old is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = old
    sc = spark.sparkContext
    atexit.register(_end_jvm_at_exit, sc._gateway, stem, sc._accumulatorServer)
    return spark


def jvm_archive_state(spark: SparkSession) -> str:
    """Whether the session's driver JVM started from the class-data
    archive: ``"mapped"``, ``"writing"`` (it writes the archive when it
    exits) or ``"off: <reason>"``. Read from the JVM's own arguments
    and its ``cds`` log."""
    jvm = spark.sparkContext._jvm
    args = str(jvm.java.lang.String.join(
        "\n", jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments())).split("\n")
    if any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args):
        return "writing"
    if not any(a.startswith("-XX:SharedArchiveFile=") for a in args):
        reason = jvm.java.lang.System.getProperty(_OFF_PROPERTY)
        return f"off: {reason or 'the JVM was launched without the archive'}"
    log = next((a[len(_CDS_LOG):].rsplit("::", 1)[0]
                for a in args if a.startswith(_CDS_LOG)), None)
    try:
        with open(log) as fh:
            text = fh.read()
    except (OSError, TypeError):
        return "off: the JVM's cds log is unreadable"
    # The JVM maps the regions first and then checks the class path; a
    # failed check unmaps them again.
    if "Unable to use shared archive" in text:
        return "off: the JVM rejected the archive"
    return "mapped" if "Mapped dynamic region" in text else "off: the JVM did not map the archive"


def get_spark(
    app_name: str = "git_log_to_sqlite_spark",
    cpus: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session used by tests, bench, and the driver.

    ``cpus`` sets the local-mode threads and the shuffle partitions
    alike — at local scale each shuffle partition should map to one
    core, while at cluster scale AQE coalesces from a higher initial
    count. A call that launches the driver JVM starts it from the
    class-data-sharing archive (module docstring).
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # The console progress bar rewrites stderr lines with carriage
        # returns, so it splices into the per-row lines bench.py
        # prints there.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Whole-stage-codegen compile cache (static conf; JVM-wide,
        # same knob on driver and executors).  The default 100 entries
        # cannot hold even ONE pass of the 15-query bench suite — the
        # LSH-family plans alone emit hundreds of generated-source
        # fragments — so in any session that cycles through the corpus
        # (bench passes, the 126-query gate, a serving deployment
        # dispatching a query mix) every revisit re-runs Janino over
        # the full plan.  Measured (codegen-cache A/B, OPTIMIZATION_r17.md;
        # sf0.1, local[32], cold-cache protocol): suite pass after one
        # full cycle 19.28 s -> 12.55 s (-35%), first-cycle pass
        # 92 -> 31 s.  4096 covers the whole registry with headroom;
        # entries are (source, compiled-class) pairs so the bound is
        # a few hundred MB against the 16 g driver heap.  Caches
        # COMPILED CODE keyed by generated source — results and plans
        # are unaffected.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    conf = dict(extra_conf or {})
    for key, value in conf.items():
        builder = builder.config(key, value)
    if SparkContext._gateway is None and not os.environ.get("PYSPARK_GATEWAY_PORT"):
        spark = _launch(builder, conf)
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec warns "No Partition Defined for Window operation" on
    # every empty-partition window — including this repo's deliberately
    # global ones, each of which runs over a BOUNDED frame (a
    # #partitions-row offsets table, a df histogram, a dimension table)
    # with the boundedness argument documented at the site. A
    # partitionBy(lit(0)) decoy does NOT silence it: Spark >= 3.5's
    # EliminateWindowPartitions rule folds literal partition keys away,
    # restoring the empty spec at the physical node. So suppress the
    # logger itself. Trade-off: a genuinely data-sized empty-spec
    # window would also log nothing — that class of mistake is guarded
    # by plan-shape tests (tests/test_plans.py) instead of log grep.
    # The suppression is JVM-global and permanent.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """Bounded driver-side state as a ``LocalRelation``: the rows go to
    the JVM as one Arrow table (``createDataFrame(pyarrow.Table,
    schema)``).

    The frame executes with no pickled partitions, no Python workers
    and no Spark job, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, where each
    execution over a tuple-list frame pays a Python-worker round trip
    (BASELINE.md). Use it for every small in-process frame on a timed,
    gated or user-facing path; plain tuple-list is fine for test
    fixtures.

    ``rows`` is an iterable of tuples in ``schema`` column order;
    ``schema`` is a DDL string or a StructType. The result has exactly
    that schema, nullability included. Field types are those Arrow
    converts from Python values: strings, integral and floating types
    (NaN and ±inf included; ints convert to a floating field), and
    arrays, maps and structs of these. A struct value is a tuple, a
    ``Row`` or a dict, one form per column. A None in a non-nullable
    field raises ``ValueError``, as ``createDataFrame`` does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = schema.fields
    rows = [tuple(r) for r in rows]
    for row in rows:
        for field, value in zip(fields, row, strict=True):
            if value is None and not field.nullable:
                raise ValueError(f"field {field.name!r} is not nullable, got None")
    columns = [[row[i] for row in rows] for i in range(len(fields))]
    table = pa.Table.from_arrays(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def map_lookup(mapping: dict[str, str], key: str) -> str:
    """SQL text looking the string expression ``key`` up in ``mapping``:
    the mapped string, or NULL for a missing or NULL key.

    The map is a literal in the plan, so the lookup needs no join and
    no job to broadcast a build side. Each row scans the map's keys, so
    it suits driver-sized maps (an author map, one name per dumped
    repository), not data-sized ones. Every key and value is escaped
    (``'`` and ``\\`` included)."""
    if not mapping:
        return "CAST(NULL AS STRING)"
    items = ", ".join(
        f"{_sql_string(str(k))}, {_sql_string(str(v))}" for k, v in sorted(mapping.items())
    )
    return f"map({items})[{key}]"


def _sql_string(text: str) -> str:
    # escaped for the default spark.sql.parser.escapedStringLiterals=false
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
