#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line is deliberately COMPACT (~700 chars): the driver that
records it captures only the tail of stdout, and round 13's artifact of
record lost its ``value`` field when in-line instrumentation grew the
JSON past that window (BENCH_r13 ``"parsed": null``).  Everything that
is not needed to read the headline — raw per-query runs, the extras
block, cool-down batches, per-window calibration — goes to a sidecar
``bench_detail.json`` next to this script, referenced by name in the
compact line's ``detail`` field.

Every timed row is a ``(key, setup)`` pair: ``setup()`` does the row's
one-time work and returns a zero-argument DataFrame builder, and every
run of that builder goes through ``_timed_run``, fully materialized
through the ``noop`` sink (real execution, no driver-side collect
bottleneck). Numbers are recorded in BASELINE.md; the first recorded
value per row is the frozen baseline.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from git_log_to_sqlite_spark import plans
from git_log_to_sqlite_spark.operators.caching import release_caches
from git_log_to_sqlite_spark.session import get_spark, jvm_archive_state

# Headline set: one representative per operator family, weighted toward
# the shuffle-heavy shapes that dominate at scale.
HEADLINE = [
    "agg_pricing_summary",      # filtered scan + multi-agg
    "agg_rollup",               # grouping sets over dim joins
    "join_revenue_per_customer",  # fact-fact join + agg
    "join_region_revenue",      # snowflake broadcast chain
    "join_anti",                # anti join
    "win_topk_per_group",       # window top-k
    "events_sessionize",        # lag-gap sessionization
    "events_window_tumbling",   # time-window agg
    "fn_explode",               # generate + re-agg fan-out
    "dedup_exact",              # hash-group dedup
    "dedup_minhash_lsh",        # shingle -> minhash -> band join
    "dedup_ngram_jaccard",      # inverted-index pair join
    "sim_cosine_topk",          # broadcast brute-force ANN baseline
    "text_quality",             # scalar battery over documents
    "asof_event_value",         # union-window as-of
]

# Registry queries timed OUTSIDE the headline total: the 15-query
# headline set is frozen so `value` stays comparable against the
# reference baseline and earlier rounds.  sim_ann_ivf is deliberately
# NOT benched — its time is ~90% the k-means FIT's per-iteration job
# dispatch, which a production deployment pays once at index build, so
# the number would track scheduler latency rather than the ANN probe
# the query exists for — the recall test at sf0.1 is its perf/quality
# gate.
EXTRA_QUERIES = [
    "pipeline_pretrain_corpus", "dedup_incremental_lsh",
    "dedup_decontaminate", "dedup_embedding_cosine",
    "dedup_simhash_pairs", "dedup_substring_spans",
    "dedup_incremental_substring",
    # connected-components closure consumers (pairs -> groups)
    "dedup_substring_groups", "dedup_minhash_groups",
    # binary-modality gate queries (mapInPandas decode + shared
    # Hamming pair stage)
    "mm_image_near_dup", "mm_video_near_dup", "mm_audio_near_dup",
    # sequence-modality pair stages, simhash-distance decontamination
    # and the cross-modal probe lookup
    "mm_video_scene_pairs", "mm_audio_segment_pairs",
    "mm_fuzzy_decontaminate", "mm_image_in_video",
]

DETAIL = "bench_detail.json"


def _calibrate(spark) -> list[float]:
    """Fixed-cost contention sentinel: a constant-size shuffle+agg over
    generated data (no parquet, no sf dependence) whose cost on this box
    is known (~0.3 s idle; BASELINE.md records the reference band).

    Round 6's driver bench artifact ran every query 1.5-2.5x slower than
    two independent runs of the same code because the box was contended
    — and nothing in the JSON made that detectable.  Emitting this
    query's min-of-3 next to the suite number lets any reader normalize:
    if ``calibration_s`` is far above its idle band, the suite number is
    a contended sample, not a code regression.
    """
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(0, 4_000_000, 1, 32)
            .groupBy((F.col("id") % 100_003).alias("k"))
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


def _idle_max(cores: int) -> float:
    """Top of the contention sentinel's idle band on ``cores`` local
    cores (BASELINE.md): 0.45 s measured at 32 cores, 1.2 s at 4.  The
    sentinel's 32 input partitions run in ceil(32 / cores) waves, and
    the bound is linear in the wave count through those two points."""
    waves = -(-32 // max(cores, 1))
    return round(0.45 + (1.2 - 0.45) * (waves - 1) / 7, 3)


def _self_sha(n_hex: int = 12) -> str:
    """sha256 prefix of this script's own bytes, or "unreadable" — the
    hash must degrade, never abort, after minutes of measured work."""
    import hashlib

    try:
        with open(os.path.abspath(__file__), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()[:n_hex]
    except OSError:
        return "unreadable"


def _fmt_exc(exc: Exception) -> str:
    """One-line error record; the `or [""]` guards an empty message
    from IndexError-ing out of the containment itself."""
    return f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:200]}"


def _timed_run(thunk, spark) -> float:
    """One fully-materialized execution (noop sink) of the DataFrame
    ``thunk()`` builds, wall-clock seconds — THE timing protocol of
    every row, so a change to it (sink, rounding, the cache release)
    cannot skew one row or pass against another.  Construction is
    inside the timed window.

    Every run is COLD: operator pins are released and the session
    cache cleared after EVERY run, not once per min-of-3 triple.  With
    a per-triple release, runs 2-3 of any query that ``pin()``s an
    intermediate read the run-1 InMemoryRelation back — CacheManager
    substitutes cached plans by ``sameResult`` — and min-of-3 reported
    a warm number (dedup_minhash_lsh 1.66 warm vs 4.2-6.5 cold at sf0.1;
    OPTIMIZATION_r17.md).  The release is OUTSIDE the timed window and
    blocking, so async block eviction cannot overlap the next run, and
    it runs after a failed run too, so a failure leaks no pin into the
    next row."""
    try:
        t0 = time.perf_counter()
        thunk().write.mode("overwrite").format("noop").save()
        return round(time.perf_counter() - t0, 3)
    finally:
        release_caches(blocking=True)
        spark.catalog.clearCache()


def _sample(spark, setup, n: int, key: str, errors: dict,
            tag: str = "") -> list[float] | None:
    """Per-row containment: ``n`` timed runs of the thunk ``setup()``
    returns, or None when the setup or any run raises — the error is
    recorded under ``errors[key]`` with one stderr line, and the caller
    moves on to the next row.  One failing row must never zero the
    whole run's perf signal."""
    try:
        thunk = setup()
        runs = [_timed_run(thunk, spark) for _ in range(n)]
    except Exception as exc:  # noqa: BLE001 — record, keep benching
        errors[key] = _fmt_exc(exc)
        print(f"  {tag}{key}: FAILED ({errors[key]})", file=sys.stderr)
        return None
    print(f"  {tag}{key}: {min(runs):.3f}s (runs: {runs})", file=sys.stderr)
    return runs


def _sample_rows(spark, rows, n: int, errors: dict,
                 tag: str = "") -> dict[str, list[float]]:
    """``{key: runs}`` for every ``(key, setup)`` row that completed."""
    out = {}
    for key, setup in rows:
        runs = _sample(spark, setup, n, key, errors, tag)
        if runs is not None:
            out[key] = runs
    return out


def _query(spark, sf_dir: str, name: str):
    """The ``(key, setup)`` row of a registry query: no one-time work."""
    def setup():
        fn = plans.REGISTRY[name].fn
        return lambda: fn(spark, sf_dir)
    return name, setup


def _operator_rows(spark, sf_dir: str, ivf_dir: str, extra: dict) -> list:
    """The extras that are not registry queries, as ``(key, setup)``
    rows; each setup's one-time work is untimed unless noted."""
    from pyspark.sql import functions as F

    from git_log_to_sqlite_spark.operators import (
        IvfIndex,
        dsir_select,
        kmeans_fit_sample,
        semantic_dedup,
        subword_token_counts,
    )

    def ivf_probe():
        # The persisted build-once/probe-many API: one build, timed once
        # and stage-split (fit / assign_write / centroids_write) into
        # `extra`, because the build is the most contention-prone extra
        # and the split shows WHICH term absorbed the load; then probe
        # batches (100 queries, n_probe=2), the steady-state cost the
        # index exists for and the number to watch across rounds.
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = IvfIndex(spark, ivf_dir, id_col="vec_id", vec_col="embedding")
        stages: dict = {}
        t0 = time.perf_counter()
        idx.build(emb, k=8, max_iter=5, stage_times=stages)
        extra["ivf_index_build"] = round(time.perf_counter() - t0, 3)
        for st, secs in stages.items():
            extra[f"ivf_index_build_{st}"] = secs
        probes = emb.orderBy("vec_id").limit(100)
        return lambda: idx.probe(probes, n_probe=2, k=5)

    def semantic_annotate():
        # SemDeDup with a prefit quantizer, the steady-state shape: the
        # bounded-sample fit is a once-per-rebuild cost already tracked
        # by ivf_index_build; the annotate (assignment + rank window +
        # cell-local pair join) is what a curation pipeline pays per run.
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = kmeans_fit_sample(emb, "vec_id", "embedding", k=8,
                                  max_iter=5, sample_size=1024)
        return lambda: semantic_dedup(emb, "vec_id", "embedding", cents,
                                      threshold=0.3)

    def dsir(hash_fn):
        # DSIR weights + Gumbel top-n at the gate parameters, once with
        # the md5 oracle hash and once with the production xxhash64: the
        # pair measures exactly the per-gram hashing cost BASELINE.md
        # names as DSIR's dominant term.
        def setup():
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            raw = docs.filter(F.col("doc_id") % 29 != 0)
            tgt = docs.filter(F.col("doc_id") % 29 == 0)
            return lambda: dsir_select(raw, tgt, "doc_id", "text", n=50,
                                       buckets=2048, hash_fn=hash_fn)
        return setup

    def subword_seam():
        # The stub tokenizer over the full documents table: the
        # mapInPandas transport + per-text Python call cost a
        # real-tokenizer deployment pays, the one Python hot path in the
        # text battery (everything else is codegen).
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return lambda: subword_token_counts(docs, "doc_id", "text")

    return [
        ("ivf_index_probe", ivf_probe),
        ("semantic_dedup_annotate", semantic_annotate),
        ("dsir_select", dsir("md5")),
        ("dsir_select_xxhash64", dsir("xxhash64")),
        ("text_subword_tokens_seam", subword_seam),
    ]


def _bench(spark, sf: float, headline: list, extras: list,
           extra: dict) -> tuple[dict, dict]:
    """Time the ``headline`` and ``extras`` rows; returns the compact
    line and the sidecar.  ``extra`` receives each extra's min-of-3,
    next to the one-off numbers the extras' setups record in it (the
    IVF build stages)."""
    # Contention sentinel, sampled before AND after the suite so
    # mid-run load spikes are visible too.  Bounded cool-down: the
    # r11/r12 driver artifacts both sampled a contended window
    # (calibration 0.578/0.514 vs the 0.33-0.45 idle band at 32 cores)
    # because the driver's own preceding work heats the box; when the
    # FIRST calibration reads above the band for the session's cores
    # (``_idle_max``), wait briefly and re-measure (at
    # most twice, <=40 s added) so a transient spike doesn't stamp
    # the whole artifact as non-comparable.  All samples are
    # reported; a genuinely busy box still shows out-of-band numbers.
    # One discarded batch first: the sentinel's first batch in a
    # session pays its own JIT and codegen and reads far out of band.
    idle_max = _idle_max(spark.sparkContext.defaultParallelism)
    _calibrate(spark)
    calibration_pre = _calibrate(spark)
    pre_batches = [calibration_pre]
    for _ in range(2):
        if min(calibration_pre) <= idle_max:
            break
        time.sleep(20)
        retry = _calibrate(spark)
        pre_batches.append(retry)
        improved = min(retry) < 0.9 * min(calibration_pre)
        # accept the retry only when it is at least as good: a LAST
        # retry that reads worse than the batch that triggered it must
        # not displace the better sample from calibration_s (the
        # superseded batches survive only in the detail sidecar)
        if min(retry) <= min(calibration_pre):
            calibration_pre = retry
        # the idle floor is host-epoch-dependent (BASELINE.md: the
        # 0.33-0.45 band is unreachable on some epochs however quiet
        # the box) — when a retry stops improving materially we are AT
        # the floor, and further waiting just delays the suite
        if not improved:
            break
    cooldown_retries = [b for b in pre_batches if b is not calibration_pre]

    # Pass 1, cold min-of-3: run 1 pays codegen/compile; runs 2-3 absorb
    # this box's +/-2x contention swings.  `value` is its sum.
    errors: dict[str, str] = {}
    all_runs = _sample_rows(spark, headline, 3, errors)
    timings = {k: round(min(r), 3) for k, r in all_runs.items()}

    # Pass 2: one more run per query AFTER the whole suite has run once,
    # in a later contention window (pass 1's runs of a query land
    # back-to-back in ONE window).  Pass 3 arbitrates only the queries
    # whose pass-1 and pass-2 readings disagree by 2x or more.  Both
    # feed `value_floor` only, never `value`, and their failures are
    # not errors: they can only improve the floor.
    setups = dict(headline)
    runs_pass2 = _sample_rows(
        spark, [(k, setups[k]) for k in all_runs], 1, {}, "[pass2] ")
    spread = [k for k, (r2,) in runs_pass2.items()
              if max(timings[k], r2) >= 2.0 * min(timings[k], r2)]
    runs_pass3 = _sample_rows(
        spark, [(k, setups[k]) for k in spread], 1, {}, "[pass3] ")
    timings_floor = {
        k: min(t, *runs_pass2.get(k, ()), *runs_pass3.get(k, ()))
        for k, t in timings.items()
    }

    # Per-window contention sentinel sampled immediately BEFORE the
    # extras: the pre-suite cool-down protects the headline, but the
    # extras run after it un-guarded (BENCH_r13's cold dsir A/B read
    # reversed purely from load).  Far above the idle band means the
    # extras, not the headline, are a contended sample.
    calibration_extras = _calibrate(spark)
    extra_errors: dict[str, str] = {}
    extra_runs = _sample_rows(spark, extras, 3, extra_errors, "[extra] ")
    extra.update({k: round(min(r), 3) for k, r in extra_runs.items()})
    calibration_post = _calibrate(spark)

    total = round(sum(timings.values()), 3)
    total_floor = round(sum(timings_floor.values()), 3)
    # COMPACT driver-parsed line: keep it inside the capture window
    # (module docstring); everything else lives in the sidecar.
    out = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # sha256 prefix of this file's bytes: equal hash == identical
        # harness, checkable from the artifact of record alone.
        "bench_sha": _self_sha(),
        # Cross-pass per-query floor (passes 1-3): the contention-
        # resistant reading, next to the baseline-comparable `value`.
        "value_floor": total_floor,
        "sf": sf,
        # A value well above the idle band (BASELINE.md) means the
        # suite ran on a contended box and `value` is not comparable.
        "calibration_s": round(min(calibration_pre + calibration_post), 3),
        "detail": DETAIL,
    }
    detail = {
        # The sidecar is overwritten per run: a reader pairing it with
        # a recorded stdout line checks these match that line's.
        "sf": sf,
        "value": total,
        "calibration_runs": {"pre": calibration_pre,
                             "extras": calibration_extras,
                             "post": calibration_post},
        "extra_cold": "all",
        # Non-empty means the suite start was delayed 20 s per entry.
        "calibration_cooldown_retries": cooldown_retries,
        "calibration_idle_max_s": idle_max,
        # Raw runs (run 1 includes codegen/compile), so a reader can
        # audit variance instead of trusting min-of-3.
        "runs": all_runs,
        "runs_pass2": runs_pass2,
        "runs_pass3": runs_pass3,
        "queries_floor": timings_floor,
        "value_floor": total_floor,
        "headline_formula": "value = sum of pass-1 min-of-3 "
                            "(baseline-comparable); value_floor = sum "
                            "of per-query min across passes 1-3; "
                            "since round 17 every run is COLD "
                            "(operator pins released + cache cleared "
                            "between every timed run, all passes)",
        # Excluded from `value` so the suite total stays comparable.
        "extra": extra,
        "extra_runs": extra_runs,
    }
    # Extras never gate: a failed extra gets its own field and never
    # sets `errors`/`incomplete`, which describe the headline set.
    if extra_errors:
        detail["extra_errors"] = extra_errors
    if errors:
        # value covers only completed queries — flag the gap loudly.
        out["errors"] = errors
        out["incomplete"] = True
    return out, detail


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = get_spark("bench", cpus=cpus)
    # Warm the JVM + parquet footers so q1 doesn't pay one-time costs.
    plans.REGISTRY["agg_global"].fn(spark, sf_dir).write.mode("overwrite").format(
        "noop"
    ).save()

    extra: dict[str, float] = {}
    with tempfile.TemporaryDirectory(prefix="bench_ivf_",
                                     ignore_cleanup_errors=True) as ivf_dir:
        out, detail = _bench(
            spark, sf,
            [_query(spark, sf_dir, q) for q in HEADLINE],
            [_query(spark, sf_dir, q) for q in EXTRA_QUERIES]
            + _operator_rows(spark, sf_dir, ivf_dir, extra),
            extra,
        )
    # "mapped" when the driver JVM started from the class-data archive
    detail["jvm_archive"] = jvm_archive_state(spark)
    _write_detail(detail, os.path.join(
        os.path.dirname(os.path.abspath(__file__)), DETAIL), out)
    print(json.dumps(out))
    spark.stop()


def _write_detail(detail: dict, detail_path: str, out: dict) -> None:
    """Write the instrumentation sidecar WITHOUT ever costing the
    stdout line: the compact line is the artifact of record, and an
    unwritable script dir (read-only checkout, full disk) after
    minutes of measured work would otherwise destroy exactly what the
    sidecar split protects. A failed write surfaces as
    ``detail_error`` in the compact line instead."""
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except (OSError, TypeError, ValueError) as exc:
        # TypeError/ValueError: a future extra slipping a
        # non-serializable value (numpy scalar, set) into the detail
        # must degrade the SIDECAR, not the artifact of record
        out["detail_error"] = f"{type(exc).__name__}: {exc}"


if __name__ == "__main__":
    main()
