#!/usr/bin/env python
"""Round-16 10x scale probe for the ETL layer (SURVEY §2.1, R1-R30) —
the last operator family without a measured curve.

Input shape: N per-repository ``git log`` files (the reference's own
unit of parallelism — one log per scanned repo), N at 10/40/100, each
a copy of THIS repo's real log under a distinct repo name, so the
commit stream is real numstat/rename/merge-filter content and repo
count is the scaled axis (10x repos = 10x commits = 10x changed-file
rows; repo-id and author-map joins broadcast at every scale).

Stages timed separately, warm min-of-2, full materialization through
the noop sink:

* parse — wholetext read + the JVM-side regex/split parse chain to
  COMMITS rows (R6-R15);
* pipeline_logs — parse + repo-keyed build + broadcast joins to the
  ``logs`` table (R16-R20);
* pipeline_files — parse + the changed_files unnest (R21);
* parquet_sink — logs written to an actual parquet sink (R19/R22's
  scale path), timed separately so sink cost never muddies the
  transform curve.

Expectation (the honest linear regime): every stage linear in repo
count with exchange kinds invariant and zero Cartesians — the
per-repo file is the parallelism unit, nothing shuffles on a
data-sized key except the final sink write.

Results land in BASELINE.md (round 16) and
``tools/scale_probe_r16_etl_results.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from scale_probe_r15 import plan_kinds, timed  # noqa: E402

from git_log_to_sqlite_spark.etl import parse_git_log, run_pipeline  # noqa: E402
from git_log_to_sqlite_spark.session import get_spark  # noqa: E402

SCALES = (10, 40, 100)  # repo counts (x1/x4/x10)


def export_log(dest: str) -> None:
    out = subprocess.run(
        ["git", "-C", "/root/repo", "log", "--no-merges",
         "--pretty=format:%x01%H%x02%P%x02%an%x02%ae%x02%at%x02%s",
         "--numstat", "-M", "-C"],
        capture_output=True, text=True, check=True,
    )
    with open(dest, "w") as fh:
        fh.write(out.stdout)


def replicate_logs(base_log: str, out_dir: str, n_repos: int) -> str:
    d = os.path.join(out_dir, f"x{n_repos}_gitlogs")
    os.makedirs(d, exist_ok=True)
    for i in range(n_repos):
        shutil.copyfile(base_log, os.path.join(d, f"repo_{i:04d}.log"))
    return d


def probe(spark, logs_dir: str, n_repos: int, work: str) -> dict:
    repos = [(f"repo_{i:04d}", None) for i in range(n_repos)]

    def mk_parse():
        return parse_git_log(spark, logs_dir)

    def mk_logs():
        return run_pipeline(spark, mk_parse(), repos).logs

    def mk_files():
        return run_pipeline(spark, mk_parse(), repos).changed_files

    t_parse, parse_runs = timed(mk_parse)
    t_logs, logs_runs = timed(mk_logs)
    t_files, files_runs = timed(mk_files)
    sink = os.path.join(work, f"x{n_repos}_logs.parquet")
    t0 = time.perf_counter()
    mk_logs().write.mode("overwrite").parquet(sink)
    t_sink = round(time.perf_counter() - t0, 3)
    return {
        "n_repos": n_repos,
        "commit_rows": mk_logs().count(),
        "file_rows": mk_files().count(),
        "t_parse": t_parse,
        "parse_runs": parse_runs,
        "t_pipeline_logs": t_logs,
        "logs_runs": logs_runs,
        "t_pipeline_files": t_files,
        "files_runs": files_runs,
        "t_parquet_sink": t_sink,
        "plan_kinds": plan_kinds(mk_logs()),
    }


def main() -> None:
    spark = get_spark("scale_probe_r16_etl", cpus="16")
    work = tempfile.mkdtemp(prefix="probe_r16_etl_")
    results: dict = {"scales_repos": list(SCALES), "targets": {}}
    try:
        base = os.path.join(work, "repo.log")
        export_log(base)
        per_scale = {}
        for n in SCALES:
            d = replicate_logs(base, work, n)
            per_scale[f"x{n}"] = probe(spark, d, n, work)
            print(f"  etl x{n}: {json.dumps(per_scale[f'x{n}'])}",
                  file=sys.stderr)
        kinds = [s["plan_kinds"] for s in per_scale.values()]
        per_scale["kinds_invariant"] = all(k == kinds[0] for k in kinds)
        per_scale["cartesian_free"] = all(k["cartesian"] == 0 for k in kinds)
        results["targets"]["etl_pipeline"] = per_scale
        print(json.dumps(results, indent=1))
        if not per_scale["cartesian_free"]:
            print("CARTESIAN AT SCALE", file=sys.stderr)
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
