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
* none exists: the JVM writes ``<token>.part`` at its normal exit
  (``-XX:ArchiveClassesAtExit``), after the session's work. A later
  launch promotes it with ``os.replace``, but only after its writer
  JVM has exited and a trial ``java -Xshare:on
  -XX:+VerifySharedSpaces`` with the writer's class path accepted it;
  a rejected part file is deleted.

A launch also deletes the directories that other Java runtimes or
Spark installs left in the cache, unless one of their sessions still
runs, so the cache holds one archive (about 150 MB). The first
session of an install pays for the archive: a JVM that dumps at exit
starts about 4 s slower and spends 7-13 s writing the archive when it
exits (README "Cold start" has the measurements).

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

import contextlib
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import time
import uuid

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
# A session launch that never recorded its JVM is given up after this.
_LAUNCH_TIMEOUT_S = 3600
# The JVM system property that holds why a JVM launched without the
# archive; ``jvm_archive_state`` reports it.
_OFF_PROPERTY = "git_log_to_sqlite_spark.jvm_archive_off"


def _write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


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


def _alive(pid: int, token: str) -> bool:
    """Whether the JVM launched for ``token`` still runs: ``pid`` is
    alive and, where ``/proc`` shows it, its command line names the
    token (so a reused pid or a zombie does not count). Only a pid
    that is gone counts as exited: a process of another user, or one
    ``/proc`` hides, counts as running."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return token.encode() in fh.read()
    except OSError:
        return True


def _running(record: str) -> tuple[bool, dict]:
    """Whether the session of ``record`` still runs (its JVM, or a
    launch that has not recorded its JVM yet), and the record."""
    token = os.path.basename(record)[:-len(".json")]
    try:
        with open(record) as fh:
            meta = json.load(fh)
        pid = meta.get("pid")
    except (OSError, ValueError, AttributeError):
        meta, pid = {}, None
    if isinstance(pid, int):
        return _alive(pid, token), meta
    try:
        return time.time() - os.path.getmtime(record) < _LAUNCH_TIMEOUT_S, meta
    except OSError:
        return False, meta


def _trial(meta: dict, part: str) -> bool:
    """Whether a JVM with the writer's java and class path maps ``part``
    and verifies every region's checksum. A truncated archive crashes
    this JVM, not a session's."""
    try:
        return subprocess.run(
            (meta["java"], "-Xshare:on", f"-XX:SharedArchiveFile={part}",
             "-XX:+VerifySharedSpaces", f"-XX:ErrorFile={os.devnull}",
             "-XX:-CreateCoredumpOnCrash", "-cp", meta["class_path"], "-version"),
            capture_output=True, timeout=120, cwd=os.path.dirname(part),
        ).returncode == 0
    except (KeyError, TypeError, OSError, subprocess.SubprocessError):
        return False


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


def _settle(cache: str) -> None:
    """Finish the records of sessions whose JVM has exited: promote the
    first part file the trial accepts when no archive exists, delete
    every other part file, and delete their logs and records."""
    for record in sorted(glob.glob(os.path.join(cache, "*.json"))):
        running, meta = _running(record)
        if running:
            continue
        token = os.path.basename(record)[:-len(".json")]
        part = os.path.join(cache, f"{token}.part")
        if os.path.exists(part):
            recorded = isinstance(meta.get("pid"), int)  # its JVM ran and exited
            if recorded and _validated_archive(cache) is None and _trial(meta, part):
                with contextlib.suppress(OSError):
                    size = os.path.getsize(part)
                    os.replace(part, os.path.join(cache, f"archive-{size}.jsa"))
            _remove(part)
        _remove(os.path.join(cache, f"{token}.log"), record)


def _drop_other_installs(root: str, key: str) -> None:
    """Delete the cache directories of other Java runtimes and Spark
    installs (a JDK or Spark update leaves one behind) unless one of
    their sessions still runs, so one archive stays per cache."""
    with os.scandir(root) as entries:
        stale = [e.path for e in entries
                 if e.name != key and re.fullmatch(r"[0-9a-f]{16}", e.name)
                 and e.is_dir(follow_symlinks=False)]
    for path in stale:
        if not any(_running(r)[0] for r in glob.glob(os.path.join(path, "*.json"))):
            shutil.rmtree(path, ignore_errors=True)


def _archive_launch(caller_conf: dict[str, str]) -> tuple[str, str | None, str]:
    """The archive decision for a driver JVM launch with the caller's
    Spark conf ``caller_conf``: the options to append to its
    ``spark.driver.extraJavaOptions``, the path of the session's record,
    and why the archive is off (options "" and no record). Writes the
    record (and settles finished sessions) in the cache directory."""
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
    token = uuid.uuid4().hex[:16]
    record = os.path.join(cache, f"{token}.json")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        os.makedirs(cache, exist_ok=True)
        if os.listdir(empty_conf):
            return "", None, f"{empty_conf} is not empty"
        _drop_other_installs(root, key)
        _settle(cache)
        _write_json(record, {"started": time.time()})
    except OSError as exc:
        return "", None, f"cache directory not writable: {exc}"
    archive = _validated_archive(cache)
    flag = (f"-XX:SharedArchiveFile={archive}" if archive else
            f"-XX:ArchiveClassesAtExit={os.path.join(cache, token)}.part")
    log = os.path.join(cache, f"{token}.log")
    return f"-Xlog:cds*=off,class+path=off {_CDS_LOG}{log}::filecount=0 {flag}", record, ""


def _launch(builder: SparkSession.Builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()`` for a call that launches the driver
    JVM: with the archive options appended to the caller's Java options
    and ``SPARK_CONF_DIR`` at the empty cache directory (restored
    afterwards), unless the archive is off: then the JVM keeps the
    reason as a system property. The session's record gets the JVM's
    pid, which tells a later launch when the part file is complete,
    and its java and class path, which the trial runs."""
    options, record, reason = _archive_launch(conf)
    if not options:
        spark = builder.getOrCreate()
        spark.sparkContext._jvm.java.lang.System.setProperty(_OFF_PROPERTY, reason)
        return spark
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
    jvm = spark.sparkContext._jvm
    system = jvm.java.lang.System
    with contextlib.suppress(OSError):
        _write_json(record, {
            "pid": int(jvm.java.lang.ProcessHandle.current().pid()),
            "java": os.path.join(system.getProperty("java.home"), "bin", "java"),
            "class_path": system.getProperty("java.class.path"),
        })
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
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session used by tests, bench, and the driver.

    ``cpus`` controls local-mode threads; ``shuffle_partitions`` defaults
    to the same number — at local scale each shuffle partition should map
    to one core, while at cluster scale AQE coalesces from a higher
    initial count. A call that launches the driver JVM starts it from
    the class-data-sharing archive (module docstring).
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
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
    # The suppression is JVM-global and permanent, so embedding
    # applications that share the session and want the warning for
    # THEIR plans can opt out: SPARK_GRAFT_KEEP_WINDOW_WARN=1
    # ("", "0", and "false" count as unset, so wrapper scripts that
    # always export the var with a 0/1 value behave as written).
    if os.environ.get("SPARK_GRAFT_KEEP_WINDOW_WARN", "").lower() in ("", "0", "false"):
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES):
    """Load the driver's parquet tables as DataFrames keyed by name.

    Plain ``spark.read.parquet`` — Catalyst pushes filters/projections
    into the scan, so no eager caching here; callers that reuse a table
    across many queries (bench) may ``.cache()`` selectively.
    """
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register the driver tables as temp views for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema):
    """Bounded driver-side state as a JVM-parsed ``LocalRelation``: a
    SQL ``VALUES`` inline table with every value cast to its field type.

    The frame executes with no pickled partitions and no Python
    workers, and building it needs neither pandas nor Arrow. The
    tuple-list ``createDataFrame`` form instead spreads the rows over
    defaultParallelism pickled partitions, and every execution that
    consumes them (a broadcast build, a model-state write) pays a
    Python-worker round trip for a handful of rows (BASELINE.md has
    the measurements). Use it for every small in-process frame on a
    timed, gated or user-facing path — dims, model state, the CLI's
    dump results; plain tuple-list remains fine for test fixtures.

    ``rows`` is an iterable of tuples in ``schema`` column order;
    ``schema`` is a DDL string or a StructType. The result has exactly
    that schema, nullability included. Supported field types: string,
    integral, float and double (NaN and ±inf included), and maps and
    structs of these (a struct value is a tuple, a ``Row`` or a dict);
    other types raise ``TypeError``. Map values always come back
    nullable. A None in a non-nullable field raises ``ValueError``, as
    ``createDataFrame`` does. Zero rows fall back to the tuple-list
    form, which has no per-row cost to save.
    """
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = [tuple(r) for r in rows]
    if not rows:
        return spark.createDataFrame([], schema)
    fields = schema.fields
    values = []
    for i, row in enumerate(rows):
        cells = []
        for field, value in zip(fields, row, strict=True):
            if value is None and not field.nullable:
                raise ValueError(f"field {field.name!r} is not nullable, got None")
            cell = _sql_literal(value, field.dataType)
            if i == 0 and field.nullable:
                # An inline-table column is nullable when one of its
                # expressions is: this one is, and it evaluates to ``cell``.
                cell = f"IF(TRUE, {cell}, NULL)"
            cells.append(cell)
        values.append(f"({', '.join(cells)})")
    names = ", ".join(_sql_name(f.name) for f in fields)
    return spark.sql(f"VALUES {', '.join(values)} AS t({names})")


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


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


def _sql_type(dtype) -> str:
    """``dtype`` as Spark SQL type text, nested field nullability kept."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.StructType):
        inner = ", ".join(
            f"{_sql_name(f.name)}: {_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dtype.fields
        )
        return f"STRUCT<{inner}>"
    if isinstance(dtype, T.MapType):
        return f"MAP<{_sql_type(dtype.keyType)}, {_sql_type(dtype.valueType)}>"
    return dtype.simpleString()


def _sql_literal(value, dtype) -> str:
    """``value`` as a Spark SQL expression of type ``dtype``."""
    from pyspark.sql import types as T

    sql_type = _sql_type(dtype)
    if value is None:
        return f"CAST(NULL AS {sql_type})"
    if isinstance(dtype, T.StringType):
        return _sql_string(str(value))
    if isinstance(dtype, T.IntegralType):
        return f"CAST({int(value)} AS {sql_type})"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # str() round-trips a float, and its 'nan', 'inf' and '-inf'
        # are spellings Spark's string-to-double cast accepts
        return f"CAST('{value}' AS {sql_type})"
    if isinstance(dtype, T.MapType):
        items = ", ".join(
            f"{_sql_literal(k, dtype.keyType)}, {_sql_literal(v, dtype.valueType)}"
            for k, v in value.items()
        )
        return f"CAST(map({items}) AS {sql_type})"
    if isinstance(dtype, T.StructType):
        if isinstance(value, dict):
            value = [value.get(f.name) for f in dtype.fields]
        items = ", ".join(
            f"{_sql_string(f.name)}, {_sql_literal(v, f.dataType)}"
            for f, v in zip(dtype.fields, value, strict=True)
        )
        return f"CAST(named_struct({items}) AS {sql_type})"
    raise TypeError(f"local_frame does not support {dtype.simpleString()} fields")
