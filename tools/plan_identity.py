#!/usr/bin/env python3
"""Plan identity: did a change keep every registry query's answer and plan?

    python tools/plan_identity.py run SF_DIR OUT.json [--root DIR]
        [--queries a,b,...] [--runs 3]
    python tools/plan_identity.py diff BEFORE.json AFTER.json

``run`` imports the package from ``--root`` (default: this checkout),
so one copy of this script measures any checkout, and writes one JSON
entry per registry query at ``SF_DIR``:

* ``rows_sha256`` / ``n_rows``: sha256 over the sorted ``repr`` of the
  collected rows (plus the column names and types);
* ``ops``: the physical plan as built before execution, one line per
  operator, with every ``name#id`` attribute, alias name, plan id and
  file path masked, so renamed internal columns do not count as a
  change;
* ``exchanges``: the SET of distinct-exchange counts
  (``perfbench/run.py``'s ``count_exchanges``, imported from
  ``--root``) over ``--runs`` cold runs. AQE picks some joins at
  run time, so one query can read 3 on one run and 4 on the next; a
  set compares like with like where a single reading does not;
* ``oracle_sha256``: sha256 of the query's DuckDB oracle SQL, or null.

Each run collects the rows, then releases the operator pins and clears
the session cache, as ``perfbench`` does between queries.
The session's core count comes from ``SPARK_GRAFT_CPUS``, as for every
``get_spark`` caller.

``diff`` prints every query whose entry differs between two files and
exits 1 if any does (0 when all are identical).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import re
import sys
import time

_MASKS = (
    (re.compile(r"[^\s,()\[\]]+#\d+L?"), "#"),  # name#id attributes
    (re.compile(r"#\d+L?"), "#"),  # ids behind names with parentheses
    (re.compile(r" AS #"), ""),  # alias names
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"file:[^\s,\]]*"), "file:PATH"),
)


def _mask(line: str) -> str:
    for pattern, repl in _MASKS:
        line = pattern.sub(repl, line)
    return line.rstrip()


def _rows_sha256(df) -> tuple[str, int]:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    h = hashlib.sha256(repr(df.dtypes).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def _measure(spark, spec, sf_dir: str, runs: int, count_exchanges, release) -> dict:
    hashes, counts, ops = set(), set(), None
    for _ in range(runs):
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan()
            if ops is None:
                ops = [_mask(ln) for ln in plan.treeString().splitlines() if ln.strip()]
            digest, n = _rows_sha256(df)
            hashes.add((digest, n))
            counts.add(count_exchanges(plan))
        except Exception as exc:  # noqa: BLE001 - a failure is a result
            return {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        finally:
            release(spark)
    if len(hashes) != 1:
        return {"error": f"rows differ between runs: {sorted(hashes)}"}
    (digest, n), = hashes
    return {"rows_sha256": digest, "n_rows": n, "ops": ops, "exchanges": sorted(counts)}


def run(args) -> int:
    root = os.path.abspath(args.root)
    sys.path.insert(0, root)
    # pandas-UDF queries import the package on the Python workers too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (root, os.environ.get("PYTHONPATH")))
    )
    spec = importlib.util.spec_from_file_location(
        "_perfbench_run", os.path.join(root, "perfbench", "run.py")
    )
    bench = sys.modules[spec.name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from git_log_to_sqlite_spark import plans
    from git_log_to_sqlite_spark.session import get_spark

    names = args.queries.split(",") if args.queries else sorted(plans.REGISTRY)
    spark = get_spark("plan_identity")
    out = {"root": root, "sf_dir": args.sf_dir, "runs": args.runs, "queries": {}}
    try:
        for name in names:
            qspec = plans.REGISTRY[name]
            t0 = time.perf_counter()
            entry = _measure(
                spark, qspec, args.sf_dir, args.runs, bench.count_exchanges, bench._release
            )
            entry["oracle_sha256"] = (
                hashlib.sha256(qspec.oracle.encode()).hexdigest() if qspec.oracle else None
            )
            out["queries"][name] = entry
            print(f"{name}: {time.perf_counter() - t0:.1f}s "
                  f"{entry.get('error') or entry['exchanges']}", file=sys.stderr)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    return 0


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)["queries"]


def diff(args) -> int:
    before, after = _load(args.before), _load(args.after)
    changed = 0
    for name in sorted(set(before) | set(after)):
        a, b = before.get(name), after.get(name)
        if a == b:
            continue
        changed += 1
        if a is None or b is None:
            print(f"{name}: only in {'after' if a is None else 'before'}")
            continue
        for key in sorted(set(a) | set(b)):
            if a.get(key) == b.get(key):
                continue
            if key == "ops":
                print(f"{name}: ops differ")
                for i, (x, y) in enumerate(zip(a["ops"], b["ops"])):
                    if x != y:
                        print(f"  line {i}:\n    - {x}\n    + {y}")
                        break
                if len(a["ops"]) != len(b["ops"]):
                    print(f"  {len(a['ops'])} -> {len(b['ops'])} lines")
            else:
                print(f"{name}: {key} {a.get(key)!r} -> {b.get(key)!r}")
    print(f"{len(set(before) | set(after)) - changed} identical, {changed} differ")
    return 1 if changed else 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="measure every registry query at one scale")
    r.add_argument("sf_dir")
    r.add_argument("out")
    r.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    r.add_argument("--queries", default="", help="comma-separated names (default: all)")
    r.add_argument("--runs", type=int, default=3)
    d = sub.add_parser("diff", help="compare two run files")
    d.add_argument("before")
    d.add_argument("after")
    args = p.parse_args(argv)
    return run(args) if args.cmd == "run" else diff(args)


if __name__ == "__main__":
    sys.exit(main())
