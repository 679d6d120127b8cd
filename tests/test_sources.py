"""Source-format coverage (SURVEY.md section 2.2 "Sources / sinks"):
CSV / JSON / text scans with DECLARED schemas round-trip the same rows
as the parquet scan. Schemas are always supplied — inference is a
correctness hazard (silent type drift) and a performance hazard (an
extra full read) at scale."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from git_log_to_sqlite_spark.plans.registry import table

REPO_ROOT = Path(__file__).resolve().parents[1]

CUSTOMER_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey bigint,"
    " c_acctbal double, c_mktsegment string"
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_scan_schema_supplied(spark, oracle_sf_dir, tmp_path):
    pq = table(spark, oracle_sf_dir, "customer")
    path = str(tmp_path / "customer_csv")
    pq.write.option("header", True).mode("overwrite").csv(path)
    got = spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)
    assert _rows(got) == _rows(pq)


def test_json_scan_schema_supplied(spark, oracle_sf_dir, tmp_path):
    pq = table(spark, oracle_sf_dir, "nation")
    path = str(tmp_path / "nation_json")
    pq.write.mode("overwrite").json(path)
    got = spark.read.schema(pq.schema).json(path)
    assert _rows(got) == _rows(pq)


def test_json_corrupt_records_are_isolated(spark, tmp_path):
    """PERMISSIVE mode routes malformed rows to _corrupt_record instead
    of failing the job — the reference's R8/R27 error-containment
    pattern (drop bad units, keep going) at the source layer."""
    p = tmp_path / "mixed.json"
    p.write_text('{"a": 1}\n{"a": 2}\nnot-json\n{"a": 3}\n')
    schema = "a bigint, _corrupt_record string"
    df = spark.read.schema(schema).json(str(p)).cache()
    try:
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert sorted(r["a"] for r in good.collect()) == [1, 2, 3]
        assert bad.count() == 1
    finally:
        df.unpersist()


def test_text_scan_line_per_row(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    assert sorted(r["value"] for r in df.collect()) == ["alpha", "beta", "gamma"]


def test_csv_pushdown_still_prunes_columns(spark, oracle_sf_dir, tmp_path):
    """Column pruning reaches non-parquet scans too: a 2-column select
    over a 5-column CSV must not carry the rest into the plan."""
    pq = table(spark, oracle_sf_dir, "customer")
    path = str(tmp_path / "customer_csv2")
    pq.write.option("header", True).mode("overwrite").csv(path)
    df = spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(path)
    plan = df.select("c_custkey", "c_acctbal")._jdf.queryExecution().executedPlan().toString()
    assert "c_mktsegment" not in plan


def test_orc_sink_and_scan_roundtrip(spark, oracle_sf_dir, tmp_path):
    """ORC is the second columnar format Spark supports natively (no
    extra jars): write orders out, read it back with pushdown, and
    check the scan prunes and filters like the parquet path."""
    from git_log_to_sqlite_spark.plans.registry import table

    path = str(tmp_path / "orders_orc")
    table(spark, oracle_sf_dir, "orders").write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    want = table(spark, oracle_sf_dir, "orders")
    assert back.count() == want.count()
    got = back.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    ref = want.filter(F.col("o_orderkey") < 100).select("o_orderkey", "o_totalprice")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    plan_buf = got._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan_buf.lower()


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution in a parquet lake: an old partition without a
    new column and a new partition with it must read as ONE table under
    mergeSchema, nulls filling the old rows."""
    old = spark.createDataFrame([(1, "a")], "id long, name string")
    new = spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    )
    old.write.parquet(str(tmp_path / "t" / "batch=1"))
    new.write.parquet(str(tmp_path / "t" / "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    rows = {r["id"]: (r["name"], r["quality"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.9)}
    assert "quality" in merged.columns and "batch" in merged.columns


def test_local_frame_matches_tuple_list_form(spark):
    """session.local_frame (the Arrow path for bounded dim/model
    frames) must be value- and schema-identical to the tuple-list
    createDataFrame it replaces — including a nested comma-bearing DDL
    type, which a naive comma-split column parse would break on, an
    ``array<double>`` column (the centroids shape) and zero rows. It
    rejects a None in a NOT NULL field, and its frame is a
    LocalRelation that collects with no Spark job, also with the Arrow
    conf off."""
    import pytest

    from git_log_to_sqlite_spark.session import local_frame

    ddl = "k string, v double"
    rows = [("a", 1.5), ("b", -2.0)]
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )

    nested_ddl = "k string, m map<string,int>, s struct<a:int,b:string>"
    nested_rows = [("x", {"p": 1, "q": 2}, (7, "y"))]
    got_n = local_frame(spark, nested_rows, nested_ddl)
    want_n = spark.createDataFrame(nested_rows, nested_ddl)
    assert got_n.schema == want_n.schema
    [gr], [wr] = got_n.collect(), want_n.collect()
    assert (gr["k"], dict(gr["m"]), tuple(gr["s"])) == (
        wr["k"],
        dict(wr["m"]),
        tuple(wr["s"]),
    )

    empty = local_frame(spark, [], ddl)
    assert empty.schema == want.schema and empty.count() == 0

    # edge values: quotes, backslashes (a trailing one too), control
    # characters, NULL, NaN and both infinities
    import math

    edge_rows = [
        ("it's", float("nan")),
        ("back\\slash\\", float("inf")),
        ("\\'", float("-inf")),
        ("tab\tnew\nline é", None),
        (None, 1e-300),
    ]
    got_e = local_frame(spark, edge_rows, ddl)
    assert got_e.schema == want.schema
    assert got_e._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    rows_e = got_e.collect()
    assert [r["k"] for r in rows_e] == [k for k, _ in edge_rows]
    assert math.isnan(rows_e[0]["v"])
    assert [r["v"] for r in rows_e[1:]] == [v for _, v in edge_rows[1:]]

    arr_ddl = "cell int, centroid array<double>"
    arr_rows = [(0, [0.5, -1.0]), (1, [2.0, float("inf")]), (2, None)]
    got_a = local_frame(spark, arr_rows, arr_ddl)
    assert got_a.schema == spark.createDataFrame(arr_rows, arr_ddl).schema
    assert [tuple(r) for r in got_a.collect()] == arr_rows

    with pytest.raises(ValueError, match="'id' is not nullable"):
        local_frame(spark, [(1, "a"), (None, "b")], "id long NOT NULL, name string")

    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(), default=-1)
    big = local_frame(spark, [(i, f"r{i}") for i in range(1000)], "id long NOT NULL, name string")
    assert len(big.collect()) == 1000
    assert max(tracker.getJobIdsForGroup(), default=-1) == last_job

    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    old_arrow = spark.conf.get(arrow)
    spark.conf.set(arrow, "false")
    try:
        off = local_frame(spark, edge_rows, ddl)
        assert off._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    finally:
        spark.conf.set(arrow, old_arrow)


def test_only_local_frame_creates_frames_from_driver_rows():
    """Small driver-side frames enter Spark one way: in the package,
    ``createDataFrame`` is reached only from ``session.local_frame``."""
    import ast

    package = REPO_ROOT / "git_log_to_sqlite_spark"
    found = []
    for f in sorted(package.rglob("*.py")):
        tree = ast.parse(f.read_text(encoding="utf-8"))
        # ast.walk is breadth-first, so an inner function overwrites
        # its outer one: each node maps to its innermost function
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                owner.update(dict.fromkeys(ast.walk(fn), fn.name))
        found += [f"{f.relative_to(package)}:{owner.get(node, '<module>')}"
                  for node in ast.walk(tree)
                  if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"]
    assert found == ["session.py:local_frame"], found


def test_write_parquet_bounds_records_per_file(spark, tmp_path):
    """The scale sink's file-sizing knob: max_records_per_file must
    bound every output file (a skewed task otherwise emits one giant
    unsplittable-below-row-group file at fleet scale), the rows must
    round-trip exactly, and the default must keep the unbounded
    one-file-per-task layout."""
    import glob

    import pyarrow.parquet as pq

    from git_log_to_sqlite_spark.etl.writers import write_parquet

    df = spark.range(100).coalesce(1).selectExpr("id", "id * 2 AS v")

    write_parquet(df, str(tmp_path / "bounded"), max_records_per_file=30)
    files = glob.glob(str(tmp_path / "bounded" / "*.parquet"))
    assert len(files) == 4  # ceil(100 / 30) from the single task
    assert all(pq.ParquetFile(f).metadata.num_rows <= 30 for f in files)
    back = spark.read.parquet(str(tmp_path / "bounded"))
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    write_parquet(df, str(tmp_path / "default"))
    assert len(glob.glob(str(tmp_path / "default" / "*.parquet"))) == 1

    import pytest

    with pytest.raises(ValueError, match="max_records_per_file"):
        write_parquet(df, str(tmp_path / "bad"), max_records_per_file=0)


def _bench():
    """``bench.py`` at the repo root, imported as a module."""
    import sys

    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))
    import bench

    return bench


def test_bench_detail_write_never_costs_the_stdout_line(tmp_path):
    """bench._write_detail (the round-14 artifact-of-record guard): a
    happy write round-trips the sidecar and leaves the compact line
    untouched; an unwritable path surfaces as detail_error in the
    compact line instead of raising after minutes of measured work."""
    import json

    _write_detail = _bench()._write_detail

    detail = {"sf": 0.01, "value": 1.23, "runs": {"q": [1.0]}}
    out = {"metric": "m", "value": 1.23}
    ok_path = str(tmp_path / "detail.json")
    _write_detail(detail, ok_path, out)
    assert "detail_error" not in out
    assert json.load(open(ok_path)) == detail

    bad_path = str(tmp_path / "no_such_dir" / "detail.json")
    _write_detail(detail, bad_path, out)
    assert out["detail_error"].startswith("FileNotFoundError")
    assert out["value"] == 1.23  # the compact payload survives

    # a non-JSON-serializable value in the detail (the other way a
    # sidecar write can fail) must degrade the sidecar, not the line
    out2 = {"metric": "m", "value": 4.56}
    _write_detail({"bad": {1, 2}}, str(tmp_path / "d2.json"), out2)
    assert out2["detail_error"].startswith("TypeError")
    assert out2["value"] == 4.56


def test_bench_rows_are_contained(spark, monkeypatch):
    """bench._sample / _bench: a row whose setup or run raises records
    ``_fmt_exc`` under its key, releases its pins and returns None, and
    the next row still runs; a passing row yields ``n`` runs rounded to
    3 decimals. A
    failed extra lands in ``extra_errors`` only: it never sets the
    headline's ``errors`` or ``incomplete``."""
    from git_log_to_sqlite_spark.operators import caching

    bench = _bench()
    boom = RuntimeError("boom\nsecond line")

    def raising():
        caching.pin(spark.range(5))  # a failed run must not leak its pins
        raise boom

    def ok():
        return lambda: spark.range(3)

    errors = {}
    assert bench._sample(spark, lambda: raising, 3, "bad", errors) is None
    assert errors == {"bad": bench._fmt_exc(boom)} == {"bad": "RuntimeError: boom"}
    assert caching.release_caches() == 0
    runs = bench._sample(spark, ok, 2, "ok", errors)
    assert len(runs) == 2 and all(r == round(r, 3) >= 0 for r in runs)
    assert list(errors) == ["bad"]

    monkeypatch.setattr(bench, "_calibrate", lambda spark: [0.1, 0.1, 0.1])
    out, detail = bench._bench(
        spark, 0.001, [("q", ok)],
        [("bad_run", lambda: raising), ("bad_setup", raising), ("fine", ok)],
        {"one_off": 1.5},
    )
    assert "errors" not in out and "incomplete" not in out
    assert detail["extra_errors"] == {
        "bad_run": "RuntimeError: boom", "bad_setup": "RuntimeError: boom"
    }
    assert set(detail["extra"]) == {"one_off", "fine"}
    assert len(detail["extra_runs"]["fine"]) == 3
    assert out["queries"] == {"q": min(detail["runs"]["q"])} and out["value"] > 0
    assert list(detail["runs_pass2"]) == ["q"]

    out, detail = bench._bench(spark, 0.001, [("bad", lambda: raising), ("q", ok)], [], {})
    assert out["errors"] == {"bad": "RuntimeError: boom"} and out["incomplete"] is True
    assert list(out["queries"]) == list(detail["runs"]) == ["q"]
    assert "extra_errors" not in detail


def test_cited_tools_paths_exist():
    """Every ``tools/<file>`` path cited in the package, the tests and
    bench.py names a file that exists, so a deleted probe script cannot
    be cited again as evidence."""
    files = [
        REPO_ROOT / "bench.py",
        *(REPO_ROOT / "git_log_to_sqlite_spark").rglob("*.py"),
        *(REPO_ROOT / "tests").rglob("*.py"),
    ]
    cited = {
        (str(f.relative_to(REPO_ROOT)), m)
        for f in files
        for m in re.findall(r"\btools/[\w.-]*\w", f.read_text(encoding="utf-8"))
    }
    missing = sorted(f"{f}: {m}" for f, m in cited if not (REPO_ROOT / m).is_file())
    assert cited and not missing, missing


def test_session_has_no_console_progress_bar(spark):
    """``get_spark`` turns Spark's console progress bar off: it rewrites
    stderr lines with carriage returns, so it splices into bench.py's
    per-row stderr lines and a line filter over a saved log drops
    rows."""
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"


def test_perfbench_trace_targets_exist():
    """Every ``tracer.wrap(<module>, "<attr>", ...)`` in
    ``perfbench/run.py`` names an attribute its module still has, so
    deleting or renaming a traced function cannot silently break
    ``--trace 1``. The module names are resolved from the imports in
    the function that makes the calls."""
    import ast
    import importlib

    tree = ast.parse((REPO_ROOT / "perfbench" / "run.py").read_text(encoding="utf-8"))
    checked, missing = [], []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        modules = {}
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom) and node.module:
                for alias in node.names:
                    modules[alias.asname or alias.name] = f"{node.module}.{alias.name}"
            elif (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and ast.unparse(node.value.func) == "importlib.import_module"
            ):
                modules[node.targets[0].id] = node.value.args[0].value
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) == "tracer.wrap"
            ):
                var, attr = node.args[0].id, node.args[1].value
                module = importlib.import_module(modules[var])
                checked.append(f"{modules[var]}.{attr}")
                if not callable(getattr(module, attr, None)):
                    missing.append(checked[-1])
    assert len(checked) >= 7 and not missing, (checked, missing)


# Exported operators that no package code, bench.py or perfbench/
# loads, each with the reason it stays.
ALLOWED = {
    "assign_clusters": "the literal-centroid reference that "
    "assign_clusters_table is tested equal against",
}


def test_every_exported_operator_is_reached():
    """Every name in ``operators.__all__`` is loaded, as a ``Name`` or
    an ``Attribute``, somewhere in the package outside
    ``operators/__init__.py``, in ``bench.py`` or in ``perfbench/``.
    Docstrings and registry ``doc=`` strings are not loads, and tests
    do not count. An export nothing reaches is deleted, or listed in
    ``ALLOWED`` with the reason it stays; a listed name that becomes
    reached (or is deleted) must leave the list."""
    import ast

    from git_log_to_sqlite_spark import operators

    package = REPO_ROOT / "git_log_to_sqlite_spark"
    init = package / "operators" / "__init__.py"
    files = [
        *(f for f in package.rglob("*.py") if f != init),
        REPO_ROOT / "bench.py",
        *(REPO_ROOT / "perfbench").rglob("*.py"),
    ]
    loaded = set()
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                loaded.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                loaded.add(node.attr)
    unreached = {name for name in operators.__all__ if name not in loaded}
    assert unreached == set(ALLOWED), sorted(unreached ^ set(ALLOWED))


def _loads(tree) -> "list[str]":
    """Every name an AST loads, as a ``Name`` or as an ``Attribute``."""
    import ast

    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.append(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            out.append(node.attr)
    return out


def test_every_module_level_name_is_loaded():
    """Every module-level ``def``, ``class`` and assignment in the
    package is loaded, as a ``Name`` or an ``Attribute``, somewhere
    outside its own definition: in the package, ``bench.py``,
    ``perfbench/``, ``__spark_entry__.py`` or ``tests/`` (tests count
    here, so reference helpers that only a test reads stay).
    Docstrings, ``__all__`` strings and imports are not loads. Two
    kinds of name are reached without a load and are skipped:
    dunders, and decorated functions (``@register`` puts a query in
    the registry)."""
    import ast
    from collections import Counter

    package = REPO_ROOT / "git_log_to_sqlite_spark"
    readers = [
        *package.rglob("*.py"),
        REPO_ROOT / "bench.py",
        REPO_ROOT / "__spark_entry__.py",
        *(REPO_ROOT / "perfbench").rglob("*.py"),
        *(REPO_ROOT / "tests").rglob("*.py"),
    ]
    trees = {f: ast.parse(f.read_text(encoding="utf-8")) for f in readers}
    loads = Counter(name for tree in trees.values() for name in _loads(tree))
    unloaded = []
    for f in package.rglob("*.py"):
        for stmt in trees[f].body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if stmt.decorator_list:
                    continue
                names = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
            else:
                continue
            own = Counter(_loads(stmt))
            for name in names:
                if name.startswith("__") and name.endswith("__"):
                    continue
                if loads[name] - own[name] <= 0:
                    unloaded.append(f"{f.relative_to(REPO_ROOT)}:{stmt.lineno} {name}")
    assert unloaded == [], unloaded



# Defaulted parameters of the package's public API that only tests
# set, each with the reason it stays an option.
ALLOWED_TEST_ONLY = {
    # test seams: a test swaps in a deterministic stand-in
    "audio_shared_segment_pairs(energy_fn)": "test seam for the band energies",
    "pack_token_shards(tokenizer_fn)": "test seam for the subword tokenizer",
    "ordered_running_sum(num_partitions)": "test seam: the answer must not "
    "depend on the range-partition count",
    "ordered_row_number(num_partitions)": "test seam: the answer must not "
    "depend on the range-partition count",
    # telemetry sinks: a test reads what the operator reports
    "minhash_lsh_pairs(observation)": "valve telemetry sink",
    "ngram_jaccard_pairs(observation)": "valve telemetry sink",
    "substring_span_pairs(observation)": "valve telemetry sink",
    "incremental_substring_spans(observation)": "valve telemetry sink",
    "simhash_pairs(observation)": "valve telemetry sink",
    "hamming_probe(observation)": "valve telemetry sink",
    "incremental_minhash_dedup(observation)": "valve telemetry sink",
    "audio_shared_segment_pairs(observation)": "valve telemetry sink",
    "video_shared_scene_pairs(observation)": "valve telemetry sink",
    "semantic_dedup(observation)": "valve telemetry sink",
    "connected_components(stats)": "round-count sink that pins the "
    "convergence bound",
    "curate_corpus(telemetry)": "stage-funnel telemetry sink",
    "pretrain_corpus(telemetry)": "stage-funnel telemetry sink",
    # contracts that a test documents
    "write_parquet(max_records_per_file)": "the per-write file-size bound",
    "asof_join(direction)": "forward as-of, pd.merge_asof's direction",
    "asof_join(tolerance_seconds)": "pd.merge_asof's tolerance bound",
    "assign_clusters(round_to)": "the literal reference's rounding, "
    "tested equal to the table form",
    "hamming_probe(cap_hot_keys)": "the probe's hot-key valve; its "
    "package callers run uncapped",
    "incremental_minhash_dedup(best_match)": "the best-estimate match id",
    "image_near_dup_pairs(bands)": "the pigeonhole check runs before any pin",
    "IvfIndex.build(fit_sample_size)": "the full-corpus and sampled fits",
    "IvfIndex.compact(num_files)": "compaction to a set file count",
    "pretrain_corpus(char_budget_per_source)": "the subword token budget, "
    "tested against the char path",
    "pretrain_corpus(shard_chars)": "the subword token budget, tested "
    "against the char path",
    "pretrain_corpus(token_col)": "the subword token budget, tested "
    "against the char path",
}


def _public_options(tree) -> "list[tuple[str, str, str, int | None, int]]":
    """``(callee, qualname, param, position, line)`` for every defaulted
    parameter of a public function, public method or ``__init__`` in a
    module. ``callee`` is the name a call uses (the class for an
    ``__init__``); ``position`` is the parameter's index among the
    positional arguments a call passes (``self`` excluded), or None
    for a keyword-only one."""
    import ast

    def options(fn, callee, qualname, method):
        a = fn.args
        pos = a.posonlyargs + a.args
        if method:
            pos = pos[1:]
        first = len(pos) - len(a.defaults)
        out = [(callee, qualname, p.arg, i, fn.lineno) for i, p in enumerate(pos) if i >= first]
        out += [
            (callee, qualname, p.arg, None, fn.lineno)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        return out

    found = []
    for stmt in tree.body:
        if isinstance(stmt, ast.FunctionDef) and not stmt.name.startswith("_"):
            found += options(stmt, stmt.name, stmt.name, False)
        elif isinstance(stmt, ast.ClassDef) and not stmt.name.startswith("_"):
            for m in stmt.body:
                if isinstance(m, ast.FunctionDef) and (
                    not m.name.startswith("_") or m.name == "__init__"
                ):
                    callee = stmt.name if m.name == "__init__" else m.name
                    found += options(m, callee, f"{stmt.name}.{m.name}", True)
    return found


def _settings(files) -> "tuple[dict[str, set[str]], dict[str, int]]":
    """For every name called in ``files`` (a ``Name`` or an
    ``Attribute``): the keywords some call passes, and the most
    positional arguments one call passes (``*args`` not counted)."""
    import ast
    from collections import defaultdict

    keywords, positional = defaultdict(set), defaultdict(int)
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name is None:
                continue
            keywords[name].update(k.arg for k in node.keywords if k.arg)
            n = sum(not isinstance(a, ast.Starred) for a in node.args)
            positional[name] = max(positional[name], n)
    return keywords, positional


def test_every_public_option_is_set():
    """Every defaulted parameter of a public function, public method or
    ``__init__`` in the package is set, by keyword or by position, by
    some call to that name in the package, ``bench.py``,
    ``perfbench/`` or ``tools/``. Calls match by name alone. An option
    that no caller sets is a constant and is folded into one; one that
    only tests set is listed in ``ALLOWED_TEST_ONLY`` with its reason.
    A listed option that gains a real caller (or is deleted) must
    leave the list."""
    import ast

    package = REPO_ROOT / "git_log_to_sqlite_spark"
    callers = [
        *package.rglob("*.py"),
        REPO_ROOT / "bench.py",
        *(REPO_ROOT / "perfbench").rglob("*.py"),
        *(REPO_ROOT / "tools").rglob("*.py"),
    ]
    real = _settings(callers)
    tested = _settings((REPO_ROOT / "tests").rglob("*.py"))

    def is_set(settings, callee, param, position):
        keywords, positional = settings
        return param in keywords[callee] or (
            position is not None and positional[callee] > position
        )

    unset, test_only = [], set()
    for f in sorted(package.rglob("*.py")):
        tree = ast.parse(f.read_text(encoding="utf-8"))
        for callee, qualname, param, position, line in _public_options(tree):
            if is_set(real, callee, param, position):
                continue
            key = f"{qualname}({param})"
            if is_set(tested, callee, param, position):
                test_only.add(key)
            else:
                unset.append(f"{f.relative_to(REPO_ROOT)}:{line} {key}")
    stray = sorted(test_only ^ set(ALLOWED_TEST_ONLY))
    assert unset == [] and stray == [], (unset, stray)
