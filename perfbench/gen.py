"""Seeded input generator for the graft benchmark.

Writes a `(repo, path, commit, lang, content)` corpus as parquet part files,
plus the ground truth the checks need: the planted family of every row and
the planted near-duplicate pairs. The generator belongs to the benchmark, so
a change to the program's own synthetic corpus cannot change these inputs.

Two corpus shapes (see README.md for the make-up of each):

* ``unique`` - mostly unique documents with planted exact copies, near-dups,
  shared-substring files, a hot license group, empty files and a few rows
  without content;
* ``forks``  - a few thousand distinct files copied into fork repos with a
  heavy-tailed copy count, plus edited copies, the license group and empties.

Every count is a fixed function of the size arguments; the seed only picks
contents, lengths and which document takes which role, so the row count is
the same for every seed.
"""

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["scala", "java", "py", "rs", "txt"]
SEPS = [" ", " ", " ", " ", " ", ". ", "(", ", ", " = ", ";\n", "\n"]
LICENSE = ("MIT License Copyright (c) 2026 Example Authors. Permission is hereby "
           "granted free of charge to any person obtaining a copy of this software "
           "and associated documentation files to deal in the software without "
           "restriction.")


def _vocab(n=4096):
    """Fixed identifier vocabulary (independent of the seed)."""
    r = random.Random(20260101)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < n:
        k = r.choice((2, 2, 3, 3, 4))
        words.add("".join(r.choice(cons) + r.choice(vows) for _ in range(k)))
    return sorted(words)


VOCAB = _vocab()
# token id * len(SEPS) + separator id -> "word<sep>": one C-level join per doc
PIECES = [w + s for w in VOCAB for s in SEPS]
NV, NS = len(VOCAB), len(SEPS)


class Gen:
    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)

    def tokens(self, n):
        return self.rng.integers(0, NV, size=n)

    def length(self):
        # source-like lengths: 40..400 tokens, long right tail (~120 mean)
        return int(min(400, 40 + self.rng.exponential(80.0)))

    def seps(self, n):
        return self.rng.integers(0, NS, size=n)

    @staticmethod
    def render(toks, seps):
        return "".join([PIECES[i] for i in (toks * NS + seps).tolist()])

    def edit(self, toks, p):
        """Token-level edit: replace each token with probability p (the
        separators stay, so the unedited stretches remain verbatim)."""
        out = toks.copy()
        m = self.rng.random(len(out)) < p
        out[m] = self.rng.integers(0, NV, size=int(m.sum()))
        return out


def sha40(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()[:40]


class Rows:
    def __init__(self):
        self.repo, self.path, self.lang, self.content, self.family = [], [], [], [], []

    def add(self, repo, path, lang, content, family):
        self.repo.append(repo)
        self.path.append(path)
        self.lang.append(lang)
        self.content.append(content)
        self.family.append(family)

    def __len__(self):
        return len(self.repo)


def unique_corpus(seed, n_base):
    g = Gen(seed)
    rows, pairs = Rows(), []
    n_blocks = max(8, n_base // 150)
    blocks = [Gen.render(g.tokens(60), g.seps(60)) for _ in range(n_blocks)]
    role = g.rng.permutation(n_base)  # role rank of doc i
    for i in range(n_base):
        r = int(role[i])
        lang = LANGS[i % len(LANGS)]
        repo = f"org{int(g.rng.integers(0, 97))}/repo{int(g.rng.integers(0, 13))}"
        toks = g.tokens(g.length())
        seps = g.seps(len(toks))
        body = g.render(toks, seps)
        fam = f"d{i}"
        key = (repo, f"src/m{i % 64}/f{i}.{lang}")
        rows.add(*key, lang, body, fam)
        if r % 5 == 0:  # exact copy
            rows.add(repo, f"copy/f{i}.{lang}", lang, body, fam)
        if r % 7 == 3:  # near-dup: two in three close edits, one in three
            # spread across the 0.6 Jaccard bar; every fourth drops a prefix
            p = 0.02 if r % 3 else float(g.rng.uniform(0.03, 0.12))
            et, es = g.edit(toks, p), seps
            if r % 4 == 0:
                et, es = et[8:], es[8:]
            near = (repo, f"near/f{i}.{lang}")
            rows.add(*near, lang, g.render(et, es), fam)
            pairs.append(("/".join(key), "/".join(near)))
        if r % 11 == 4:  # shared substring: unique prefix + a pooled block
            b = int(g.rng.integers(0, n_blocks))
            mixed = g.render(g.tokens(30), g.seps(30)) + blocks[b]
            rows.add(repo, f"sub/f{i}.{lang}", lang, mixed, f"b{b}")
        if r % 25 == 1:  # hot license group
            rows.add(repo, f"lic/f{i}.{lang}", lang, LICENSE, "lic")
        if r % 100 == 2:  # empty files
            rows.add(repo, f"empty/f{i}.{lang}", lang, "", "empty")
        if r % 500 == 5:  # unreadable: no content, not a valid row
            rows.add(repo, f"bad/f{i}.{lang}", lang, None, None)
    return rows, pairs


def fork_counts(n_files, top):
    """Heavy-tailed copy counts: rank k gets max(1, top / k^0.8) members."""
    k = np.arange(1, n_files + 1, dtype=np.float64)
    return np.maximum(1, np.floor(top / k ** 0.8)).astype(np.int64)


def forks_corpus(seed, n_files, top):
    g = Gen(seed)
    rows, pairs = Rows(), []
    counts = fork_counts(n_files, top)[g.rng.permutation(n_files)]
    for j in range(n_files):
        lang = LANGS[j % len(LANGS)]
        proj = f"proj{j % 211}"
        path = f"src/p{j}/f{j}.{lang}"
        toks = g.tokens(g.length())
        seps = g.seps(len(toks))
        body = g.render(toks, seps)
        fam = f"d{j}"
        rows.add(f"up{j % 211}/{proj}", path, lang, body, fam)
        for c in range(1, int(counts[j])):
            rows.add(f"fork{c}/{proj}", path, lang, body, fam)
        if j % 10 == 3:  # an edited copy in one fork
            rows.add(f"edit{j % 97}/{proj}", path, lang, g.render(g.edit(toks, 0.02), seps), fam)
            pairs.append((f"up{j % 211}/{proj}/{path}", f"edit{j % 97}/{proj}/{path}"))
        if j % 8 == 1:
            rows.add(f"up{j % 211}/{proj}", f"LICENSE{j}", "txt", LICENSE, "lic")
        if j % 40 == 2:
            rows.add(f"up{j % 211}/{proj}", f"src/p{j}/__init__{j}.py", "py", "", "empty")
        if j % 150 == 7:
            rows.add(f"up{j % 211}/{proj}", f"bad/f{j}", lang, None, None)
    return rows, pairs


def write(rows, out_dir, seed, n_parts):
    """Corpus as `n_parts` shuffled part files; truth tables beside it."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(rows)
    order = np.random.default_rng(seed + 1).permutation(n)
    commit = [None if c is None else sha40(c) for c in rows.content]
    table = pa.table({
        "repo": pa.array(rows.repo, pa.string()),
        "path": pa.array(rows.path, pa.string()),
        "commit": pa.array(commit, pa.string()),
        "lang": pa.array(rows.lang, pa.string()),
        "content": pa.array(rows.content, pa.string()),
    }).take(pa.array(order))
    cdir = os.path.join(out_dir, "corpus")
    os.makedirs(cdir, exist_ok=True)
    step = (n + n_parts - 1) // n_parts
    for p in range(n_parts):
        pq.write_table(table.slice(p * step, step), os.path.join(cdir, f"part-{p:05d}.parquet"))
    pq.write_table(pa.table({
        "rkey": pa.array([f"{a}/{b}" for a, b in zip(rows.repo, rows.path)], pa.string()),
        "family": pa.array(rows.family, pa.string()),
    }), os.path.join(out_dir, "families.parquet"))
    return cdir, n


def make(kind, seed, size, out_dir, n_parts=16):
    """Generate one corpus; returns (corpus dir, row count, planted pairs)."""
    if kind == "unique":
        rows, pairs = unique_corpus(seed, size)
    elif kind == "forks":
        rows, pairs = forks_corpus(seed, size, top=size * 11 // 20)
    else:
        raise ValueError(kind)
    cdir, n = write(rows, out_dir, seed, n_parts)
    content = dict(zip((f"{a}/{b}" for a, b in zip(rows.repo, rows.path)), rows.content))
    return cdir, n, [(a, b, content[a], content[b]) for a, b in pairs]
