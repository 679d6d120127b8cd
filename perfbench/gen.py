"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical inputs (git object ids aside, which are
themselves a function of the content) and returns the same manifest.
The manifest is the ground truth the output checks compare against;
it is computed from the generator's own model of the data, never by
running the program under test.

* ``git_repos`` builds real repositories with ``git fast-import``:
  renames, binary files, merges (about one commit in ten), remotes in
  three URL shapes, plus one ignored repository, an empty repository,
  an empty directory and a plain directory that the CLI must skip.
* ``tables`` writes the ten query tables (TPC-H-like star schema plus
  events, documents and embeddings) with the column types of the
  repository's test data.
"""

from __future__ import annotations

import os
import random
import subprocess

_BASE_EPOCH = 1_600_000_000
_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line table data agg value key stream window spark a group part "
    "big sort query fast the"
).split()


class _Model:
    """The generator's model of one repository: its files, authors and
    the running totals the manifest reports."""

    def __init__(self, rng: random.Random, name: str, authors: list[tuple[str, str]]):
        self.rng = rng
        self.name = name
        self.authors = authors
        self.files: dict[str, list[str] | bytes] = {}
        self.serial = 0
        self.commits = 0
        self.files_changed = 0
        self.insertions = 0
        self.deletions = 0
        self.emails: dict[str, int] = {}
        self.last_email = ""

    def lines(self, n: int) -> list[str]:
        """``n`` lines that occur nowhere else in the repository, so a
        line diff of any two versions is exact."""
        out = []
        for _ in range(n):
            self.serial += 1
            words = " ".join(self.rng.choice(_WORDS) for _ in range(4))
            out.append(f"{self.name} {self.serial} {words}")
        return out

    def new_path(self) -> str:
        self.serial += 1
        folder = self.rng.choice(("src", "lib", "docs", "test"))
        return f"{folder}/f{self.serial}.txt"

    def author(self) -> tuple[str, str]:
        name, email = self.authors[self.rng.randrange(len(self.authors))]
        self.last_email = email
        return name, email

    def count(self, email: str, numstat: list[tuple[str, str, str]]) -> None:
        """Account one non-merge commit and its numstat lines."""
        self.commits += 1
        self.emails[email] = self.emails.get(email, 0) + 1
        self.files_changed += len(numstat)
        for ins, dels, _ in numstat:
            self.insertions += 0 if ins == "-" else int(ins)
            self.deletions += 0 if dels == "-" else int(dels)

    def edit(self) -> tuple[dict[str, list[str] | bytes | None], list[tuple], list[tuple]]:
        """One commit's worth of changes: ``(writes, renames, numstat)``.
        ``writes`` maps a path to its new content (``None`` deletes)."""
        rng = self.rng
        writes: dict[str, list[str] | bytes | None] = {}
        renames: list[tuple[str, str]] = []
        numstat: list[tuple[str, str, str]] = []
        touched: set[str] = set()
        text = sorted(p for p, c in self.files.items() if isinstance(c, list))
        for _ in range(rng.randint(1, 4)):
            roll = rng.random()
            free = [p for p in text if p not in touched]
            if roll < 0.55 and free:
                path = rng.choice(free)
                old = self.files[path]
                drop = rng.randint(0, len(old) - 1)
                add = rng.randint(1, 6)
                new = old[drop:] + self.lines(add)
                writes[path] = self.files[path] = new
                numstat.append((str(add), str(drop), path))
            elif roll < 0.65 and len(free) > 3:
                path = rng.choice(free)
                new_path = self.new_path()
                renames.append((path, new_path))
                self.files[new_path] = self.files.pop(path)
                text.remove(path)
                touched.add(new_path)
                numstat.append(("0", "0", new_path))
            elif roll < 0.70 and len(free) > 3:
                path = rng.choice(free)
                old = self.files.pop(path)
                text.remove(path)
                writes[path] = None
                numstat.append(("0", str(len(old)), path))
            elif roll < 0.75:
                path = self.new_path().replace(".txt", ".bin")
                blob = bytes(rng.randrange(256) for _ in range(64)) + b"\0" + self.name.encode()
                writes[path] = self.files[path] = blob
                numstat.append(("-", "-", path))
            else:
                path = self.new_path()
                body = self.lines(rng.randint(3, 12))
                writes[path] = self.files[path] = body
                text.append(path)
                numstat.append((str(len(body)), "0", path))
            touched.add(path)
        return writes, renames, numstat


def _data(payload: bytes) -> bytes:
    return b"data %d\n" % len(payload) + payload + b"\n"


def _content(c: list[str] | bytes) -> bytes:
    return c if isinstance(c, bytes) else ("\n".join(c) + "\n").encode()


def _fast_import_stream(model: _Model, n_commits: int, branch: str) -> bytes:
    """fast-import commands for a linear history with side-branch merges
    every tenth commit. Side-branch commits are ordinary commits and
    count; merge commits change no file and are excluded by the CLI."""
    out: list[bytes] = []
    mark = 0
    head = None
    epoch = _BASE_EPOCH + model.rng.randrange(10_000_000)

    def commit(ref: str, parents: list[int], writes, renames, msg: str) -> int:
        nonlocal mark, epoch
        mark += 1
        epoch += model.rng.randint(60, 7200)
        name, email = model.author()
        who = f"{name} <{email}> {epoch} +0000".encode()
        out.append(b"commit %s\nmark :%d\n" % (ref.encode(), mark))
        out.append(b"author " + who + b"\ncommitter " + who + b"\n")
        out.append(_data(msg.encode()))
        if parents:
            out.append(b"from :%d\n" % parents[0])
        for p in parents[1:]:
            out.append(b"merge :%d\n" % p)
        for old, new in renames:
            out.append(b"R %s %s\n" % (old.encode(), new.encode()))
        for path, content in sorted(writes.items()):
            if content is None:
                out.append(b"D %s\n" % path.encode())
            else:
                out.append(b"M 100644 inline %s\n" % path.encode() + _data(_content(content)))
        return mark

    ref = f"refs/heads/{branch}"
    for i in range(n_commits):
        if i % 10 == 9 and head is not None:
            # side branch: one commit adding a file, then a merge whose
            # tree carries that file onto the main line
            path = model.new_path()
            body = model.lines(model.rng.randint(3, 8))
            side = commit(f"refs/heads/side{i}", [head], {path: body}, [],
                          f"{model.name}: side work {i}\n")
            model.count(model.last_email, [(str(len(body)), "0", path)])
            model.files[path] = body
            head = commit(ref, [head, side], {path: body}, [],
                          f"Merge branch 'side{i}' into {branch}\n")
            continue
        writes, renames, numstat = model.edit() if model.files else _initial(model)
        msg = f"{model.name}: change {i} {' '.join(model.rng.choice(_WORDS) for _ in range(3))}\n"
        head = commit(ref, [head] if head else [], writes, renames, msg)
        model.count(model.last_email, numstat)
    return b"".join(out)


def _initial(model: _Model):
    writes, numstat = {}, []
    for _ in range(3):
        path = model.new_path()
        body = model.lines(model.rng.randint(5, 15))
        writes[path] = model.files[path] = body
        numstat.append((str(len(body)), "0", path))
    return writes, [], numstat


def _authors(rng: random.Random, n: int = 12) -> list[tuple[str, str]]:
    return [(f"Dev {chr(65 + i)}{rng.randrange(100)}", f"dev{i}@example.com") for i in range(n)]


AUTHOR_MAP = {"dev0@example.com": "Canonical Zero", "dev1@example.com": "Canonical One"}


def _url(i: int, name: str) -> str | None:
    if i % 3 == 0:
        return f"git@github.com:bench/{name}.git"
    if i % 3 == 1:
        return f"https://example.com/bench/{name}.git"
    return None


def _expected_url(url: str | None) -> str:
    if url is None:
        return "(no remote url)"
    return url.replace("git@github.com:", "https://github.com/", 1)


def _empty_totals() -> dict:
    return {"commits": 0, "changed_files": 0, "insertions": 0, "deletions": 0,
            "mapped_commits": 0}


def _add(totals: dict, model: _Model) -> None:
    totals["commits"] += model.commits
    totals["changed_files"] += model.files_changed
    totals["insertions"] += model.insertions
    totals["deletions"] += model.deletions
    totals["mapped_commits"] += sum(model.emails.get(e, 0) for e in AUTHOR_MAP)


def git_repos(root: str, seed: int, n_repos: int, commits: int) -> dict:
    """Build ``n_repos`` analyzable repositories of about ``commits``
    commits each under ``root``, plus the ignored, empty and non-git
    directories, and the CLI's ``config.toml`` next to ``root``.
    Returns the manifest."""
    rng = random.Random(seed)
    authors = _authors(rng)
    os.makedirs(root)
    totals = _empty_totals()
    repos = {}
    names = [f"repo{i:03d}" for i in range(n_repos)] + ["ignored_repo"]
    for i, name in enumerate(names):
        path = os.path.join(root, name)
        model = _Model(random.Random(rng.random()), name, authors)
        stream = _fast_import_stream(model, commits, "main")
        subprocess.run(("git", "init", "-q", "-b", "main", path), check=True)
        subprocess.run(("git", "-C", path, "fast-import", "--quiet"), input=stream, check=True)
        url = _url(i, name)
        if url is not None:
            with open(os.path.join(path, ".git", "config"), "a") as fh:
                fh.write(f'[remote "origin"]\n\turl = {url}\n')
        if name != "ignored_repo":
            _add(totals, model)
            repos[name] = {"commits": model.commits, "url": _expected_url(url)}
    os.makedirs(os.path.join(root, "empty_dir"))
    os.makedirs(os.path.join(root, "plain_dir"))
    with open(os.path.join(root, "plain_dir", "notes.txt"), "w") as fh:
        fh.write("not a repository\n")
    subprocess.run(("git", "init", "-q", os.path.join(root, "empty_repo")), check=True)
    config = os.path.join(os.path.dirname(root), "config.toml")
    with open(config, "w") as fh:
        fh.write('ignored_repositories = ["ignored_repo"]\n\n[author_map]\n')
        for email, canon in AUTHOR_MAP.items():
            fh.write(f'"{email}" = "{canon}"\n')
    return {
        **totals,
        "repositories": repos,
        "analyzed": sorted(repos),
        "ignored": ["ignored_repo"],
        "skipped": sorted(os.path.join(root, d) for d in ("empty_dir", "empty_repo", "plain_dir")),
        "config": config,
    }


def tables(dirpath: str, seed: int, scale: float = 0.01) -> None:
    """Write the ten query tables at ``scale`` (1.0 ~ 6M lineitems),
    with the physical types the queries and their oracles expect."""
    import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(dirpath)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))

    def days(lo: datetime.date, n_days: int, size: int) -> pa.Array:
        base = np.datetime64(lo.isoformat(), "us")
        return pa.array(base + rng.integers(0, n_days, size) * np.timedelta64(86_400_000_000, "us"),
                        pa.timestamp("us"))

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size), 2)

    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_lines = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate"])
    kinds = np.array(["ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": kinds[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    # two thirds of customers place orders, so the anti join has work
    buyers = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.choice(buyers, n_orders), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500_000, n_orders),
        "o_orderdate": days(datetime.date(1995, 1, 1), 2400, n_orders),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_lines).astype(float)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": days(datetime.date(1995, 1, 2), 2500, n_lines),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    write("events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_events), i64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_events)],
        "value": money(0.01, 500, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near duplicate of an earlier document: one token changed
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[rng.integers(0, 7, n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = (centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
