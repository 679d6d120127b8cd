"""Property tests (SURVEY.md section 5.2.4, hypothesis): invariants
that must hold for ANY input, not just the golden fixtures.

Each property materializes one small Spark job per example; example
counts are tuned so the whole module stays in tens of seconds.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from git_log_to_sqlite_spark.config import Config
from git_log_to_sqlite_spark.etl.pipeline import apply_author_map
from git_log_to_sqlite_spark.operators.dedup import md5_long, shingles

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Letters of any script, digits, and the characters a SQL literal must
# escape or a careless one would break on: quote, backslash,
# double quote and space.
_name = st.text(
    alphabet=st.characters(categories=("Ll", "Lu", "Nd"), include_characters="'\\\" "),
    min_size=1,
    max_size=8,
)
_email = st.builds(lambda u, d: f"{u}@{d}.test", _name, _name)

_commit_rows = st.lists(
    st.tuples(st.integers(0, 10**6), _name, _email), min_size=1, max_size=20
)


@pytest.fixture(scope="module")
def sess(spark):
    return spark


@given(rows=_commit_rows, mapping=st.dictionaries(_email, _name, max_size=5))
@example(
    rows=[(0, "Zoë", "o'brien\\x@d.test"), (1, 'say "hi"', "a b@é.test"), (2, "x\\", "z@z.test")],
    mapping={"o'brien\\x@d.test": "O'Brien \\ Ünal", "a b@é.test": 'Ab "q" ß'},
)
@settings(**_SETTINGS)
def test_author_map_preserves_rows_and_touches_only_name(sess, rows, mapping):
    """R16 invariant: the map-literal override NEVER changes the row
    count and only author_name moves, whatever the emails and names
    hold (quotes, backslashes, spaces, non-ASCII letters)."""
    df = sess.createDataFrame(
        [(i, n, e) for i, (i_, n, e) in enumerate(rows) for _ in [i_]],
        "commit_id long, author_name string, author_email string",
    )
    cfg = Config(author_map=mapping)
    out = apply_author_map(df, cfg)
    assert out.count() == df.count()
    joined = (
        df.alias("i")
        .join(out.alias("o"), "commit_id")
        .select(
            F.col("i.author_email").alias("email_in"),
            F.col("o.author_email").alias("email_out"),
            F.col("i.author_name").alias("name_in"),
            F.col("o.author_name").alias("name_out"),
        )
    )
    for r in joined.collect():
        assert r["email_out"] == r["email_in"]  # other columns untouched
        want = mapping.get(r["email_in"], r["name_in"])
        assert r["name_out"] == want


@given(
    arrays=st.lists(
        st.lists(_name, min_size=0, max_size=6), min_size=1, max_size=12
    )
)
@settings(**_SETTINGS)
def test_explode_collect_roundtrip(sess, arrays):
    """explode then collect_list+sort reconstructs each array as a
    multiset (R22 and its inverse)."""
    df = sess.createDataFrame(
        [(i, a) for i, a in enumerate(arrays)], "id long, xs array<string>"
    )
    back = (
        df.select("id", F.explode_outer("xs").alias("x"))
        .filter(F.col("x").isNotNull())
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("x")).alias("xs_back"))
    )
    got = {r["id"]: r["xs_back"] for r in back.collect()}
    for i, a in enumerate(arrays):
        assert got.get(i, []) == sorted(a)


@given(
    texts=st.lists(
        st.text(alphabet="xyz ", min_size=0, max_size=40), min_size=1, max_size=10
    ),
    n=st.integers(2, 4),
)
@settings(**_SETTINGS)
def test_shingles_bounded_distinct_and_hash_range(sess, texts, n):
    """|shingles(doc, n)| <= max(0, tokens-n+1), entries distinct, and
    md5_long stays a non-negative 60-bit value."""
    df = sess.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    toks = F.split(F.col("t"), " ")
    out = df.select(
        "id",
        F.size(toks).alias("n_tok"),
        shingles(toks, n).alias("sh"),
    ).select(
        "id",
        "n_tok",
        F.size("sh").alias("n_sh"),
        F.size(F.array_distinct("sh")).alias("n_uniq"),
        F.explode_outer("sh").alias("one"),
    ).withColumn("h", md5_long(F.col("one")))
    for r in out.collect():
        assert r["n_sh"] <= max(0, r["n_tok"] - n + 1)
        assert r["n_sh"] == r["n_uniq"]
        if r["h"] is not None:
            assert 0 <= r["h"] < (1 << 60)


# --- git-log parser round-trip fuzz (one Spark job per example) ----------

_hash = st.text(alphabet="0123456789abcdef", min_size=7, max_size=40)
# blacklist: the format's own separators, plus every char
# str.splitlines() treats as a line boundary (the parser applies the
# reference's first-line-of-message rule, so multi-line summaries are
# out of scope for the single-line %s field by construction)
_safe_text = st.text(
    alphabet=st.characters(
        blacklist_characters="\x01\x02\n\r\t\x0b\x0c\x1c\x1d\x1e\x85\u2028\u2029",
        blacklist_categories=("Cs",),
    ),
    min_size=1,
    max_size=12,
).map(str.strip).filter(lambda s: s and " => " not in s)
_numstat_entry = st.tuples(
    st.one_of(st.integers(0, 9999), st.just("-")),
    st.one_of(st.integers(0, 9999), st.just("-")),
    _safe_text.filter(lambda s: "{" not in s and "}" not in s),
)
_commit = st.tuples(
    _hash,
    st.lists(_hash, max_size=3),  # parents: >=2 means merge -> dropped
    _safe_text,  # author name
    _safe_text,  # author email
    st.integers(0, 2**31),  # epoch
    _safe_text,  # summary
    st.lists(_numstat_entry, max_size=4),
)


def _render(commits) -> str:
    blocks = []
    for h, parents, name, email, epoch, summary, numstat in commits:
        head = "\x02".join([h, " ".join(parents), name, email, str(epoch), summary])
        lines = [f"{i}\t{d}\t{p}" for i, d, p in numstat]
        blocks.append("\x01" + head + ("\n" + "\n".join(lines) if lines else ""))
    return "".join(blocks)


def _expected(commits, repository: str) -> list[tuple]:
    """The reference's rows for one rendered log: merges excluded, '-'
    counts as 0, sentinels applied, zero-OID root parent, numstat
    summed."""
    from git_log_to_sqlite_spark.schemas import ZERO_OID

    expected = []
    for h, parents, name, email, epoch, summary, numstat in commits:
        if len(parents) >= 2:
            continue  # merge exclusion
        ins = sum(i for i, _, _ in numstat if i != "-")
        dels = sum(d for _, d, _ in numstat if d != "-")
        expected.append(
            (
                h,
                parents[0] if parents else ZERO_OID,
                name or "(no author name)",
                email or "(no author email)",
                summary or "(no commit summary)",
                epoch,
                ins,
                dels,
                repository,
                [p for _, _, p in numstat],
            )
        )
    return expected


@given(logs=st.lists(st.lists(_commit, max_size=8), min_size=1, max_size=4))
@settings(max_examples=50, deadline=None)
def test_gitlog_parse_blocks_roundtrip(sess, logs):
    """Any well-formed rendering parses back to exactly the expected
    rows through ``parse_raw_logs``, the parse the CLI runs: the
    reference semantics hold for ANY input, not just the golden
    fixtures. Each example is several log files, one per commit list."""
    from git_log_to_sqlite_spark.etl.gitlog import parse_raw_logs
    from git_log_to_sqlite_spark.session import local_frame

    raw = local_frame(
        sess,
        [(_render(commits), f"file:/logs/r{i}.log") for i, commits in enumerate(logs)],
        "value string, _file string",
    )
    got = parse_raw_logs(raw).select(
        "commit_hash", "parent_hash", "author_name", "author_email", "message",
        "commit_epoch", "insertions", "deletions", "repository", "changed_files",
    )
    expected = [row for i, commits in enumerate(logs) for row in _expected(commits, f"r{i}")]
    assert [tuple(r) for r in got.collect()] == expected


# ----------------------------------------------------------------------
# Round 7: decontamination / repetition / token-budget vs pure-Python
# reference implementations (any input, not just the golden corpus)
# ----------------------------------------------------------------------

_doc_text = st.text(alphabet="abc ", min_size=0, max_size=40)


def _ref_grams(text: str, n: int) -> set[str]:
    t = text.split(" ")
    if len(t) < n:
        return set()
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


@given(
    bench=st.lists(_doc_text, min_size=1, max_size=4),
    train=st.lists(_doc_text, min_size=1, max_size=8),
    n=st.integers(2, 4),
)
@settings(**_SETTINGS)
def test_decontaminate_matches_python_reference(sess, bench, train, n):
    from git_log_to_sqlite_spark.operators.dedup import decontaminate

    bdf = sess.createDataFrame(
        [(i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    tdf = sess.createDataFrame(
        [(100 + i, t) for i, t in enumerate(train)], "doc_id long, text string"
    )
    bench_grams = set().union(*(_ref_grams(t, n) for t in bench))
    want = {
        100 + i: len(_ref_grams(t, n) & bench_grams) for i, t in enumerate(train)
    }
    got = {
        r["doc_id"]: r["shared_ngrams"]
        for r in decontaminate(tdf, bdf, "doc_id", "text", ngram_n=n).collect()
    }
    assert got == want


@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
@example(texts=["a a a b", "solo", "", "x y x y x y"])
@settings(**_SETTINGS)
def test_repetition_stats_matches_python_reference(sess, texts):
    from git_log_to_sqlite_spark.operators.text import repetition_stats

    df = sess.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in repetition_stats(df, "doc_id", "text").collect()
    }
    for i, t in enumerate(texts):
        toks = t.split(" ")
        n, u = len(toks), len(set(toks))
        grams = [" ".join(toks[j : j + 2]) for j in range(n - 1)]
        top = max((grams.count(g) for g in set(grams)), default=0)
        assert got[i]["dup_token_frac"] == round((n - u) / n, 6), t
        want_top = round(top / len(grams), 6) if grams else 0.0
        assert got[i]["top_bigram_frac"] == want_top, t
        want_gate = int(top * 5 <= len(grams) and (n - u) * 10 <= 7 * n)
        assert got[i]["passes_repetition_gate"] == want_gate, t


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["d0", "d1", "d2"]), st.integers(1, 50)),
        min_size=1,
        max_size=20,
    ),
    budget=st.integers(1, 120),
)
@settings(**_SETTINGS)
def test_token_budget_matches_python_reference(sess, rows, budget):
    import hashlib

    from git_log_to_sqlite_spark.operators.sampling import token_budget_sample

    df = sess.createDataFrame(
        [(i, d, w) for i, (d, w) in enumerate(rows)],
        "id long, dom string, w long",
    )

    def u_of(i: int) -> float:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return (h + 1.0) / float(1 << 60)

    want = {}
    by_dom: dict[str, list[int]] = {}
    for i, (d, _) in enumerate(rows):
        by_dom.setdefault(d, []).append(i)
    for d, ids in by_dom.items():
        cum = 0
        for i in sorted(ids, key=lambda i: (u_of(i), i)):
            if cum < budget:
                want[i] = cum
            cum += rows[i][1]
    got = {
        r["id"]: r["cum_before"]
        for r in token_budget_sample(df, "id", "w", budget, domain_col="dom").collect()
    }
    assert got == want


@given(texts=st.lists(_doc_text, min_size=2, max_size=8))
@settings(**_SETTINGS)
def test_simhash_pairs_matches_brute_force(sess, texts):
    """Pigeonhole invariant on ANY input: with bands > max_hamming the
    banded pair set must equal the brute-force Hamming scan of the
    signatures — candidate generation can change cost, never results
    (uncapped; the valve's recall trade is opt-in and tested apart)."""
    from git_log_to_sqlite_spark.operators.dedup import simhash, simhash_pairs

    df = sess.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "doc_id", "text").collect()
    }
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(
            df, "doc_id", "text", bands=4, max_hamming=3
        ).collect()
    }
    assert got == want


_band_rows = st.lists(
    st.tuples(
        st.integers(0, 24),            # id
        st.integers(0, 2),             # band
        st.sampled_from(["x", "y", "z"]),  # band_key — collisions likely
    ),
    min_size=1,
    max_size=24,
)


@given(rows=_band_rows, probe=_band_rows)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_pair_joins_row_identical_any_input(sess, rows, probe):
    """Band-join algebra on ANY bands table (SURVEY 5.2.4), duplicate
    rows included, against a pure-Python reference: the self form (the
    bands frame against itself, ids renamed, ``id_a < id_b``) yields
    every such pair sharing a ``(band, band_key)``, once across bands;
    the probe form yields every ``(pid, doc_id)`` sharing a
    ``(band, band_key)``, once."""
    from git_log_to_sqlite_spark.operators.dedup import _band_pairs

    bands = sess.createDataFrame(
        rows, "doc_id long, band int, band_key string"
    )
    want_self = {
        (a, b)
        for a, ba, ka in rows
        for b, bb, kb in rows
        if (ba, ka) == (bb, kb) and a < b
    }
    got_self = list(map(tuple, _band_pairs(
        bands.select("band", "band_key", F.col("doc_id").alias("id_a")),
        bands.select("band", "band_key", F.col("doc_id").alias("id_b")),
        ["id_a"],
        ["id_b"],
    ).filter(F.col("id_a") < F.col("id_b")).collect()))
    assert len(got_self) == len(set(got_self))
    assert set(got_self) == want_self

    bands_p = sess.createDataFrame(
        probe, "pid long, band int, band_key string"
    )
    want_probe = {
        (p, c)
        for p, bp, kp in probe
        for c, bc, kc in rows
        if (bp, kp) == (bc, kc)
    }
    got_probe = list(map(tuple, _band_pairs(
        bands_p, bands, ["pid"], ["doc_id"]
    ).collect()))
    assert len(got_probe) == len(set(got_probe))
    assert set(got_probe) == want_probe


@given(sigs=st.lists(st.integers(0, 255), min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_hamming_pairs_is_self_probe_any_signatures(sess, sigs):
    """The two Hamming operators share one band join and one verify:
    on ANY 8-bit signatures, ``hamming_pairs(sig)`` equals
    ``hamming_probe`` of ``sig`` against itself restricted to
    ``id_a < id_b`` — pairs AND their hamming distances."""
    from git_log_to_sqlite_spark.operators.dedup import (
        hamming_pairs,
        hamming_probe,
    )

    sig = sess.createDataFrame(list(enumerate(sigs)), "doc_id long, sig long")
    knobs = dict(bits=8, bands=4, max_hamming=3)
    got = hamming_pairs(sig, "doc_id", "sig", **knobs).collect()
    probe = hamming_probe(
        sig.withColumnRenamed("doc_id", "id_a"),
        sig.withColumnRenamed("doc_id", "id_b"),
        "id_a",
        "id_b",
        "sig",
        **knobs,
    ).filter(F.col("id_a") < F.col("id_b"))
    want = {tuple(r) for r in probe.collect()}
    assert len(got) == len(want)
    assert set(map(tuple, got)) == want


@given(
    data=st.data(),
    k=st.integers(min_value=2, max_value=24),
    n_probe=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_nearest_cells_table_equals_literal_property(sess, data, k, n_probe):
    """Round-15 quantizer-form invariant, property form: for ANY
    centroid set and vector set (random doubles incl. negatives and
    exact ties from duplicated centroids), the table fan-out's ordered
    n_probe cell list equals the literal expression's — distances,
    slice, and the (distance, cell) struct tie-break can never diverge
    between the forms that tests elsewhere pin only on fixture data."""
    from git_log_to_sqlite_spark.operators import nearest_cells_table
    from git_log_to_sqlite_spark.operators.similarity import _nearest_cells

    dims = data.draw(st.integers(min_value=1, max_value=6))
    finite = st.floats(
        min_value=-8, max_value=8, allow_nan=False, allow_infinity=False
    )
    vec = st.lists(finite, min_size=dims, max_size=dims)
    cents = data.draw(st.lists(vec, min_size=k, max_size=k))
    # force potential distance ties: duplicate one centroid sometimes
    if data.draw(st.booleans()) and k >= 2:
        cents[1] = list(cents[0])
    vectors = data.draw(st.lists(vec, min_size=1, max_size=8))
    df = sess.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)],
        "vid long, _v array<double>",
    )
    cdf = sess.createDataFrame(
        [(j, c) for j, c in enumerate(cents)], "cell int, centroid array<double>"
    )
    npb = min(n_probe, k)
    want = {
        (r["vid"], tuple(r["_pc"]))
        for r in df.select(
            "vid", _nearest_cells("_v", cents, npb).alias("_pc")
        ).collect()
    }
    got = {
        (r["vid"], tuple(r["_probe_cells"]))
        for r in nearest_cells_table(df, "_v", cdf, npb).collect()
    }
    assert got == want


_order_key = st.one_of(
    st.none(),
    st.text(max_size=10),
    st.builds(lambda tail: "shared/prefix/" + tail, st.text(max_size=3)),
    st.from_regex(r"[0-9a-f]{40}", fullmatch=True),
)


@given(keys=st.lists(_order_key, min_size=1, max_size=40))
@example(keys=["", None, "abcdefg", "abcdefgh", "abcdefg\x00", "é", "日本", "\x7f", "z"])
@settings(**_SETTINGS)
def test_ordered_row_number_string_keys_match_global_window(sess, keys):
    """The value-bucketed route keyed on a string's first UTF-8 bytes
    numbers rows exactly as ``ROW_NUMBER() OVER (ORDER BY k, pos)``,
    for NULL, empty, non-ASCII and long-shared-prefix keys."""
    from pyspark.sql import Window

    from git_log_to_sqlite_spark.operators.ordered import ordered_row_number

    df = sess.createDataFrame(
        [(k, i) for i, k in enumerate(keys)], "k string, pos int"
    ).repartition(3)
    got = ordered_row_number(df, ["k", "pos"], out_col="id", num_partitions=8)
    want = df.select(
        "k", "pos", F.row_number().over(Window.orderBy("k", "pos")).cast("long").alias("id")
    )
    assert sorted(map(tuple, got.select("pos", "k", "id").collect())) == sorted(
        (r["pos"], r["k"], r["id"]) for r in want.collect()
    )
