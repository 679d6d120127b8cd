#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one Spark session on
``local[<cpus>]``, one closed-loop client: each operation starts when
the previous one has finished. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout (see ``gen.py``); the program
only ever sees the generated files.

Workloads (``BENCHMARK.json`` gives the reason for each):

* ``etl_cli_sqlite`` - one operation is the CLI's ``main`` over a tree
  of real git repositories into a fresh SQLite file;
* ``query_headline`` - one operation is a cold pass over the 15
  headline queries (noop sink, caches released after every query).

A run sets up (session start, input generation, one warm-up operation),
then repeats operations until their timed windows add up to
``--seconds``. Every ETL operation's output is compared exactly with
the generator's manifest. The query warm-up collects each headline
result and compares it with its DuckDB oracle; the comparison is timed
out of ``setup_s`` and out of every timed window. The last line of
stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``, with the end-to-end metrics for ``--trace 0`` and the
per-layer metrics for ``--trace 1``. A record with the diagnostics (raw
timings, the set-up split, the contention sentinel, output differences)
goes to ``.perfbench/out/``, and a traced run also writes its spans
there.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib
import io
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer  # noqa: E402

# The frozen headline set, copied so that edits elsewhere cannot change
# what this benchmark measures.
HEADLINE = (
    "agg_pricing_summary",
    "agg_rollup",
    "join_revenue_per_customer",
    "join_region_revenue",
    "join_anti",
    "win_topk_per_group",
    "events_sessionize",
    "events_window_tumbling",
    "fn_explode",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_cosine_topk",
    "text_quality",
    "asof_event_value",
)
ETL_TABLES = ("repositories", "logs", "changed_files")

# Input sizes, the same for every seed so that runs with different seeds
# do the same amount of work.
CLI_REPOS, CLI_COMMITS = 16, 200
QUERY_SCALE = 0.01


@dataclasses.dataclass
class Op:
    """One operation: its timed window, the items it completed (commits
    loaded or queries run), and how many attempts it made and failed."""

    wall_s: float
    items: int
    attempted: int = 1
    failed: int = 0
    info: dict = dataclasses.field(default_factory=dict)


def _guarded(op) -> Op:
    """Run one operation; one that raises is a failed attempt, so a
    single failure never ends the run."""
    t0 = time.perf_counter()
    try:
        return op()
    except Exception as exc:  # noqa: BLE001 - recorded and counted
        print(f"perfbench: operation failed: {exc!r:.300}", file=sys.stderr)
        return Op(time.perf_counter() - t0, 0, failed=1, info={"diffs": [repr(exc)]})


def _release(spark) -> None:
    """The cold-run protocol's reset, outside every timed window:
    operator pins released (blocking) and the session cache cleared."""
    from git_log_to_sqlite_spark.operators.caching import release_caches

    release_caches(blocking=True)
    spark.catalog.clearCache()


# ---------------------------------------------------------------- checks
def check_sqlite(db: str, report: str, m: dict) -> list[str]:
    """Differences between the CLI's SQLite output plus its stdout
    report and the manifest; empty when they agree exactly."""
    import sqlite3

    con = sqlite3.connect(db)
    try:
        def q(sql):
            return con.execute(sql).fetchall()

        (commits, ins, dels), = q("SELECT count(*), sum(insertions), sum(deletions) FROM logs")
        (files,), = q("SELECT count(*) FROM changed_files")
        names = ",".join(f"'{c}'" for c in gen.AUTHOR_MAP.values())
        (mapped,), = q(f"SELECT count(*) FROM logs WHERE author_name IN ({names})")
        repos = dict(q("SELECT name, url FROM repositories"))
        per_repo = dict(q("SELECT r.name, count(*) FROM logs l "
                          "JOIN repositories r ON l.repository_id = r.id GROUP BY r.name"))
        (orphans,), = q("SELECT count(*) FROM changed_files c "
                        "LEFT JOIN logs l USING (commit_hash) WHERE l.commit_hash IS NULL")
    finally:
        con.close()
    got = {"commits": commits, "insertions": ins, "deletions": dels, "changed_files": files,
           "mapped_commits": mapped, "orphan_files": orphans,
           "repositories": {n: {"commits": per_repo.get(n, 0), "url": u} for n, u in repos.items()}}
    want = {**{k: m[k] for k in ("commits", "insertions", "deletions", "changed_files",
                                 "mapped_commits", "repositories")}, "orphan_files": 0}
    diffs = [f"{k}: got {got[k]!r:.200} want {want[k]!r:.200}" for k in want if got[k] != want[k]]
    listed = {}
    for section in report.split("# ")[1:]:
        head, _, body = section.partition("\n")
        items = sorted(x.strip() for x in body.replace(",", "\n").split("\n") if x.strip())
        if "repositories in the table" in head:
            listed["analyzed"] = items
        elif "ignored repositories" in head:
            listed["ignored"] = items
        elif "not stored" in head:
            listed["skipped"] = items
    for key in ("analyzed", "ignored", "skipped"):
        if listed.get(key, []) != m[key]:
            diffs.append(f"report {key}: got {listed.get(key)} want {m[key]}")
    return diffs


@dataclasses.dataclass
class _Collected:
    """A query result already collected, in the shape
    ``tests.oracle_harness.compare`` reads from a DataFrame."""

    columns: list
    dtypes: list
    rows: list

    def collect(self) -> list:
        return self.rows


# ------------------------------------------------------------- workloads
class Workload:
    """One workload: input generation, the warm-up and timed operation
    with their output checks, and the layer spans of a traced operation."""

    def __init__(self, spark, work: str, seed: int, cpus: int):
        self.spark, self.work, self.seed, self.cpus = spark, work, seed, cpus
        self.keep: list = []  # layer outputs the tracer persisted

    def generate(self) -> None:
        raise NotImplementedError

    def op(self) -> Op:
        raise NotImplementedError

    def warm_up(self) -> Op:
        """The set-up's untimed operation; its ``wall_s`` counts into
        ``setup_s``."""
        return _guarded(self.op)

    def instrument(self, tracer: Tracer) -> None:
        """Wrap this workload's layer functions in spans."""

    def traced_op(self, tracer: Tracer) -> Op:
        return _guarded(self.op)

    def layer_metrics(self, tracer: Tracer, run_id: int, op: Op) -> dict:
        """Every per-layer metric of one traced operation; layers the
        workload does not reach read 0."""
        out = dict.fromkeys(
            ("cli.scan_s", "cli.dump_s", "cli.dump_busy_s", "cli.dump_calls",
             "cli.dump_skipped", "etl.gitlog.parse_s", "etl.gitlog.commits", "etl.gitlog.jobs",
             "etl.pipeline.build_s", "etl.pipeline.jobs", "etl.pipeline.stages",
             "etl.pipeline.shuffle_write_bytes", "etl.writers.sqlite_s",
             "etl.writers.sqlite_rows_per_s", "etl.writers.bytes_written",
             "etl.writers.bytes_per_commit"), 0)
        for q in HEADLINE:
            for key in ("construct_s", "py4j_calls", "plan_s", "exec_s", "jobs",
                        "shuffle_write_bytes"):
                out[f"plans.{q}.{key}"] = 0
        for key in ("construct_s", "plan_s", "exec_s", "py4j_calls", "jobs",
                    "shuffle_write_bytes", "exchanges", "query_p50_s"):
            out[f"plans.{key}"] = 0
        return out

    def covered_s(self, metrics: dict) -> float:
        """Seconds of the traced operation that layer spans account for."""
        raise NotImplementedError

    def release(self) -> None:
        for df in self.keep:
            df.unpersist(blocking=True)
        self.keep.clear()


class CliSqlite(Workload):
    """The CLI over real git repositories into a fresh SQLite file."""

    def generate(self) -> None:
        self.root = os.path.join(self.work, "scan", "root")
        self.manifest = gen.git_repos(self.root, self.seed, CLI_REPOS, CLI_COMMITS)
        self.runs = 0

    def op(self) -> Op:
        cli = importlib.import_module("git_log_to_sqlite_spark.__main__")
        self.runs += 1
        db = os.path.join(self.work, f"out{self.runs}.db")
        report = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(report):
            rc = cli.main([self.root, "-r", "-d", db, "-f", self.manifest["config"],
                           "-n", str(self.cpus)])
        wall = time.perf_counter() - t0
        self.release()
        diffs = check_sqlite(db, report.getvalue(), self.manifest) + (
            [f"exit code {rc}"] if rc else [])
        size = os.path.getsize(db)
        os.remove(db)
        return Op(wall, 0 if diffs else self.manifest["commits"], failed=int(bool(diffs)),
                  info={"diffs": diffs, "sink_bytes": size})

    def _persist_count(self, df, attrs: dict, key: str):
        """Materialize a layer's output inside that layer's span."""
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.keep.append(df)
        attrs[key] = df.count()
        return df

    def instrument(self, tracer: Tracer) -> None:
        from git_log_to_sqlite_spark.etl import gitlog, pipeline, writers

        cli = importlib.import_module("git_log_to_sqlite_spark.__main__")

        def dumped(result, attrs):
            attrs["skipped"] = result is None
            return result

        def parsed(df, attrs):
            return self._persist_count(df, attrs, "commits")

        def built(res, attrs):
            return dataclasses.replace(res, **{
                name: self._persist_count(getattr(res, name), attrs, f"{name}_rows")
                for name in (*ETL_TABLES, "ignored", "skipped")})

        tracer.wrap(cli, "main", "cli.main")
        tracer.wrap(pipeline, "scan_directories", "cli.scan")
        tracer.wrap(cli, "_dump_repo", "cli.dump", after=dumped, from_threads=True)
        tracer.wrap(gitlog, "parse_git_log", "etl.gitlog.parse", group=True, after=parsed)
        tracer.wrap(pipeline, "run_pipeline", "etl.pipeline.build", group=True, after=built)
        tracer.wrap(pipeline, "ordered_row_number", "operators.ordered.ordered_row_number")
        tracer.wrap(writers, "write_sqlite", "etl.writers.sqlite", group=True)

    def layer_metrics(self, tracer: Tracer, run_id: int, op: Op) -> dict:
        out = super().layer_metrics(tracer, run_id, op)

        def dur(spans):
            return sum(s["end"] - s["start"] for s in spans)

        def attr(spans, key):
            return sum(s["attrs"].get(key, 0) for s in spans)

        dumps = tracer.of(run_id, "cli.dump")
        parse = tracer.of(run_id, "etl.gitlog.parse")
        build = tracer.of(run_id, "etl.pipeline.build")
        sqlite = tracer.of(run_id, "etl.writers.sqlite")
        commits = attr(parse, "commits")
        sink = op.info.get("sink_bytes", 0)
        out.update({
            "cli.scan_s": dur(tracer.of(run_id, "cli.scan")),
            "cli.dump_s": max(s["end"] for s in dumps) - min(s["start"] for s in dumps),
            "cli.dump_busy_s": dur(dumps),
            "cli.dump_calls": len(dumps),
            "cli.dump_skipped": sum(bool(s["attrs"]["skipped"]) for s in dumps),
            "etl.gitlog.parse_s": dur(parse),
            "etl.gitlog.commits": commits,
            "etl.gitlog.jobs": attr(parse, "jobs"),
            "etl.pipeline.build_s": dur(build),
            "etl.pipeline.jobs": attr(build, "jobs"),
            "etl.pipeline.stages": attr(build, "stages"),
            "etl.pipeline.shuffle_write_bytes": attr(build, "shuffle_write_bytes"),
            "etl.writers.sqlite_s": dur(sqlite),
            "etl.writers.sqlite_rows_per_s":
                sum(attr(build, f"{t}_rows") for t in ETL_TABLES) / dur(sqlite),
            "etl.writers.bytes_written": sink,
            "etl.writers.bytes_per_commit": sink / commits,
        })
        return out

    def covered_s(self, metrics: dict) -> float:
        return sum(metrics[k] for k in ("cli.scan_s", "cli.dump_s", "etl.gitlog.parse_s",
                                        "etl.pipeline.build_s", "etl.writers.sqlite_s"))


class Headline(Workload):
    """One cold pass over the frozen headline queries."""

    def generate(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        gen.tables(self.tables, self.seed, QUERY_SCALE)

    def _query(self, name: str):
        from git_log_to_sqlite_spark import plans

        return plans.REGISTRY[name].fn(self.spark, self.tables)

    def op(self) -> Op:
        times, failed = {}, 0
        for name in HEADLINE:
            try:
                t0 = time.perf_counter()
                self._query(name).write.mode("overwrite").format("noop").save()
                times[name] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - one query never ends the run
                failed += 1
                print(f"perfbench: {name} failed: {exc!r:.300}", file=sys.stderr)
            finally:
                _release(self.spark)
        return Op(sum(times.values()), len(times), attempted=len(HEADLINE), failed=failed,
                  info={"queries": times,
                        "query_p50_s": statistics.median(times.values()) if times else 0.0})

    def warm_up(self) -> Op:
        """One cold pass that collects each result; the comparison with
        the query's DuckDB oracle is outside the timed windows."""
        from git_log_to_sqlite_spark import plans
        from tests.oracle_harness import compare, duck_connection

        con = duck_connection(self.tables)
        wall, bad = 0.0, {}
        try:
            for name in HEADLINE:
                try:
                    t0 = time.perf_counter()
                    df = self._query(name)
                    result = _Collected(df.columns, df.dtypes, df.collect())
                    wall += time.perf_counter() - t0
                    ok, msg = compare(result, con, plans.REGISTRY[name].oracle, name)
                except Exception as exc:  # noqa: BLE001 - a failure is a result
                    ok, msg = False, f"{name}: {exc!r:.300}"
                finally:
                    _release(self.spark)
                if not ok:
                    bad[name] = msg
        finally:
            con.close()
        return Op(wall, len(HEADLINE) - len(bad), attempted=len(HEADLINE), failed=len(bad),
                  info={"diffs": bad})

    def traced_op(self, tracer: Tracer) -> Op:
        self.exchanges = {}
        failed = 0
        for name in HEADLINE:
            try:
                with tracer.span(f"plans.{name}", group=True):
                    with tracer.span("plans.construct"):
                        df = self._query(name)
                    with tracer.span("plans.plan"):
                        plan = df._jdf.queryExecution().executedPlan()
                    with tracer.span("plans.exec"):
                        df.write.mode("overwrite").format("noop").save()
                with tracer.uncounted():
                    self.exchanges[name] = count_exchanges(plan)
            except Exception as exc:  # noqa: BLE001 - one query never ends the run
                failed += 1
                print(f"perfbench: traced {name} failed: {exc!r:.300}", file=sys.stderr)
            finally:
                _release(self.spark)
        return Op(0.0, len(HEADLINE) - failed, attempted=len(HEADLINE), failed=failed)

    def layer_metrics(self, tracer: Tracer, run_id: int, op: Op) -> dict:
        out = super().layer_metrics(tracer, run_id, op)
        for q in HEADLINE:
            for top in tracer.of(run_id, f"plans.{q}"):
                phases = {s["name"]: s for s in tracer.spans if s["parent"] == top["id"]}
                for phase in ("construct", "plan", "exec"):
                    span = phases[f"plans.{phase}"]
                    out[f"plans.{q}.{phase}_s"] = span["end"] - span["start"]
                out[f"plans.{q}.py4j_calls"] = phases["plans.construct"]["attrs"]["py4j_calls"]
                out[f"plans.{q}.jobs"] = top["attrs"]["jobs"]
                out[f"plans.{q}.shuffle_write_bytes"] = top["attrs"]["shuffle_write_bytes"]
        for key in ("construct_s", "plan_s", "exec_s", "py4j_calls", "jobs",
                    "shuffle_write_bytes"):
            out[f"plans.{key}"] = sum(out[f"plans.{q}.{key}"] for q in HEADLINE)
        out["plans.exchanges"] = sum(self.exchanges.values())
        return out

    def covered_s(self, metrics: dict) -> float:
        return metrics["plans.construct_s"] + metrics["plans.plan_s"] + metrics["plans.exec_s"]


def count_exchanges(plan) -> int:
    """Distinct shuffle and broadcast exchange operators in a physical
    plan, by operator id: a reused exchange, or a cached subtree that
    prints once per use, counts once. Walks adaptive plans and their
    query stages, subqueries and in-memory relations."""
    seen, found, todo = set(), set(), [plan]
    while todo:
        node = todo.pop()
        nid = node.id()
        if nid in seen:
            continue
        seen.add(nid)
        name = node.nodeName()
        if name.endswith("Exchange") and not name.startswith("Reused"):
            found.add(nid)
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name.startswith("Reused"):
            todo.append(node.child())
        elif name.startswith("InMemoryTableScan"):
            todo.append(node.relation().cachedPlan())
        for seq in (node.children(), node.subqueries()):
            todo.extend(seq.apply(i) for i in range(seq.length()))
    return len(found)


WORKLOADS = {"etl_cli_sqlite": CliSqlite, "query_headline": Headline}


# ------------------------------------------------------------ the runner
def _calibrate(spark) -> list[float]:
    """Fixed-cost contention sentinel: a constant-size shuffle and
    aggregate over generated rows. A reading far above this machine's
    usual value marks the run as a contended sample."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (spark.range(0, 200_000, 1, 32)
         .groupBy((F.col("id") % 100_003).alias("k"))
         .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
         .write.mode("overwrite").format("noop").save())
        runs.append(time.perf_counter() - t0)
    return runs


def _sandbox(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and make git and
    Spark independent of the user's configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "GIT_CONFIG_GLOBAL": os.devnull,
        "GIT_CONFIG_NOSYSTEM": "1",
        "GIT_CEILING_DIRECTORIES": work,
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH")))),
    })
    tempfile.tempdir = tmp


def _start_spark(work: str, cpus: int):
    from git_log_to_sqlite_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    return get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it ends
            proc.kill()
            proc.wait()


def _traced(wl: Workload, spark, name: str, before: Op, out: str) -> dict:
    """Trace one operation; its per-layer metrics plus its coverage of
    the untraced wall time, taken as the mean of the untraced operations
    just before and just after it, and the tracing overhead."""
    tracer = Tracer(spark)
    tracer.count_py4j()
    wl.instrument(tracer)
    try:
        with tracer.root(name):
            op = wl.traced_op(tracer)
    finally:
        tracer.close()
        wl.release()
    after = _guarded(wl.op)
    untraced_s = (before.wall_s + after.wall_s) / 2
    run_id = tracer.run_id
    metrics = wl.layer_metrics(tracer, run_id, op)
    root = tracer.of(run_id, name)[0]
    traced_s = root["end"] - root["start"]
    metrics.update({
        "trace.untraced_wall_s": untraced_s,
        "trace.traced_wall_s": traced_s,
        "trace.coverage": wl.covered_s(metrics) / untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    })
    tracer.dump(out, {"metrics": metrics, "exchanges": getattr(wl, "exchanges", {})})
    return {"ops": [op, after], "metrics": metrics}


def run(args, root: str, work: str, out_dir: str) -> tuple[dict, dict]:
    """Set up, measure and check one workload. Returns the result line
    and the diagnostic record."""
    cpus = len(os.sched_getaffinity(0))
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cpus": cpus}
    t0 = time.perf_counter()
    spark = _start_spark(work, cpus)
    wl = WORKLOADS[args.workload](spark, work, args.seed, cpus)
    try:
        t1 = time.perf_counter()
        wl.generate()
        t2 = time.perf_counter()
        warm = wl.warm_up()
        setup = {"session_s": t1 - t0, "generate_s": t2 - t1, "warmup_s": warm.wall_s}
        setup_s = sum(setup.values())
        measured: list[Op] = []
        budget = args.seconds / 2 if args.trace else args.seconds
        while not measured or sum(o.wall_s for o in measured) < budget:
            measured.append(_guarded(wl.op))
        walls = [o.wall_s for o in measured]
        ops = [warm, *measured]
        if args.trace:
            traced = _traced(wl, spark, args.workload, measured[-1],
                             os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
            ops += traced["ops"]
            metrics = traced["metrics"]
        else:
            metrics = {"setup_s": setup_s, "wall_s": statistics.median(walls),
                       "items_per_s": sum(o.items for o in measured) / sum(walls)}
        record["calibration_s"] = _calibrate(spark)
    finally:
        wl.release()
        _stop_spark(spark)
    attempted = sum(o.attempted for o in ops)
    failed = sum(o.failed for o in ops)
    record.update({
        "setup": {**setup, "setup_s": setup_s},
        "walls_s": walls,
        "errors": [o.info["diffs"] for o in ops if o.info.get("diffs")],
        "error_rate": failed / attempted,
    })
    if args.workload == "query_headline":
        record["queries_s"] = [o.info["queries"] for o in measured]
        record["query_p50_s"] = statistics.median(o.info["query_p50_s"] for o in measured)
        if args.trace:
            metrics["plans.query_p50_s"] = record["query_p50_s"]
    else:
        record["sink_bytes_per_commit"] = statistics.median(
            o.info["sink_bytes"] for o in measured) / wl.manifest["commits"]
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec["per_layer" if args.trace else "end_to_end"]},
    }
    record["metrics"] = result["metrics"]
    return result, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="The repository benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "git_log_to_sqlite_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (git_log_to_sqlite_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out_dir = os.path.join(root, ".perfbench", "out")
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    try:
        _sandbox(root, work)
        result, record = run(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"setup {({k: round(v, 3) for k, v in record['setup'].items()})} "
          f"walls {[round(w, 3) for w in record['walls_s']]} "
          f"calibration {[round(c, 3) for c in record['calibration_s']]}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
