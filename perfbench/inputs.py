"""Seeded inputs: a source-code corpus, request mixes and their expected top-k.

Everything here is a pure function of the seed and the corpus size, and is
cached on disk by both, so generation and the oracle never count against a
measured metric.  The expected results come from ``tests/oracle.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np
import pandas as pd

VOCAB = 100_000  # distinct identifier terms, Zipf-ranked
ZIPF_S = 1.07
KEYWORDS = ("return", "import", "const", "static", "function", "struct", "public", "self")
KEYWORD_P = 0.6  # each keyword appears in ~60% of files
EMPTY_P = 0.02
TOKENS_PER_FILE = 200  # mean identifier tokens per file
LANGS = (("py", "python"), ("hs", "haskell"), ("c", "c"), ("md", "markdown"), ("rs", "rust"))
SEPS = np.array([" ", " ", " ", " = ", "(", ") ", ", ", ".", " -> ", "::", ";\n", "\n    ", " + ", " {", "}\n"])
NON_LATIN1 = ("λόγος", "данные", "数据", "ключ", "αριθμός", "変数", "Ωmega", "σύνολο")
K = 10  # top-k of every request
BATCH = 64  # queries per batch request


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct lowercase alpha identifiers of 3..14 letters."""
    out: dict[str, None] = {}
    while len(out) < VOCAB:
        lens = np.clip(rng.lognormal(1.8, 0.35, size=VOCAB), 3, 14).astype(int)
        chars = bytes(rng.integers(ord("a"), ord("z") + 1, size=int(lens.sum()), dtype=np.uint8)).decode()
        ends = np.cumsum(lens)
        for a, b in zip(ends - lens, ends):
            w = chars[a:b]
            if w not in KEYWORDS:
                out[w] = None
    return np.array(list(out)[:VOCAB], dtype=object)


def _render(word: str, r: float) -> str:
    """Surface form of a term: case variants, digit suffixes, underscores —
    all of which the tokenizer must fold back to the same term."""
    if r < 0.10:
        return word.capitalize()
    if r < 0.13:
        return word.upper()
    if r < 0.18:
        return f"{word}{int(r * 1000)}"
    if r < 0.21:
        return f"_{word}_"
    return word


def make_corpus(seed: int, n_files: int) -> pd.DataFrame:
    """Native-schema corpus ``(repo, path, commit, lang, content)`` plus its
    ``doc_key``, sorted by doc_key."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    w = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    w /= w.sum()
    # lognormal lengths rescaled to a fixed total, so every seed carries the
    # same amount of text and seeds differ only in how it is spread
    lens = np.clip(rng.lognormal(4.9, 0.9, size=n_files), 1, 4000)
    lens[rng.random(n_files) < EMPTY_P] = 0
    lens = np.round(lens * (TOKENS_PER_FILE * n_files / lens.sum())).astype(int)
    ids = rng.choice(VOCAB, size=int(lens.sum()), p=w)
    seps = rng.integers(0, len(SEPS), size=len(ids))
    surf = rng.random(len(ids))
    rows = []
    off = 0
    for i, n in enumerate(lens):
        words = [_render(vocab[j], r) for j, r in zip(ids[off:off + n], surf[off:off + n])]
        sep = SEPS[seps[off:off + n]]
        off += n
        if n:
            extra = rng.random(6)
            for kw, r in zip(KEYWORDS, rng.random(len(KEYWORDS))):
                if r < KEYWORD_P:
                    words.insert(int(r * 1e6) % (len(words) + 1), kw)
            if extra[0] < 0.3:
                words.append(str(int(extra[1] * 1e6)))  # digits only: no term
            if extra[2] < 0.05:
                words.append("".join(rng.choice(list("abcdefghij"), size=120)))  # >100 chars
            if extra[3] < 0.1:
                words.append(NON_LATIN1[int(extra[4] * len(NON_LATIN1))])
            if extra[5] < 0.2:
                words.append("0x1F != 42 && x >= 3.14 || ok")
            text = "".join(a + b for a, b in zip(words, np.resize(sep, len(words))))
        else:
            text = ""
        ext, lang = LANGS[i % len(LANGS)]
        repo = f"org{i % 7}/repo{i % 23}"
        path = f"src/mod{i % 97}/file{i:06d}.{ext}"
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        rows.append((repo, path, commit, lang, text))
    df = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    df.insert(0, "doc_key", df.repo + "/" + df.path + "@" + df.commit)
    return df.sort_values("doc_key", ignore_index=True)


def _import_oracle():
    """Load tests/oracle.py by path: ``tests`` is not an installed package."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("simplir_oracle", os.path.join("tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod


# term slots by band (0 head, 1 torso, 2 tail, 3 absent): 7/10/6/2 of every
# 25, in an order fixed across seeds
BAND_CYCLE = np.random.default_rng(0).permutation([0] * 7 + [1] * 10 + [2] * 6 + [3] * 2)


def make_queries(seed: int, df: dict[str, int], n: int) -> list[list[str]]:
    """n queries of 1-5 terms from head, torso and tail df bands plus absent
    terms; every 10th query repeats its first term.  Query i has the same
    length and band mix for every seed, and only the terms come from the
    seed, so seeds differ in which terms a request scores, not in how many
    or how common."""
    rng = np.random.default_rng(seed + 7919)
    by_df = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    terms = [t for t, _ in by_df]
    head, torso, tail = terms[:50], terms[50:2000], terms[2000:] or terms
    bands = (head, torso, tail)
    out = []
    slot = 0
    for i in range(n):
        q = []
        for _ in range(1 + i % 5):
            b = int(BAND_CYCLE[slot % len(BAND_CYCLE)])
            slot += 1
            if b == 3:
                q.append("zzq" + "".join(rng.choice(list("xyzqj"), size=6)))  # absent
            else:
                q.append(bands[b][int(rng.integers(0, len(bands[b])))])
        if i % 10 == 9:
            q.append(q[0])  # duplicate term
        out.append(q)
    return out


def _write_atomic_json(path: str, obj) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def load_inputs(cache_root: str, seed: int, n_files: int, n_queries: int, n_parts: int) -> dict:
    """Corpus parquet (one file, and ``n_parts`` doc_key-contiguous files),
    queries and expected top-k for ``seed``; generated once, then cached."""
    d = os.path.join(cache_root, f"s{seed}-n{n_files}-q{n_queries}-p{n_parts}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    t0 = time.perf_counter()
    os.makedirs(os.path.join(d, "parts"), exist_ok=True)
    corpus = make_corpus(seed, n_files)
    corpus.drop(columns="doc_key").to_parquet(os.path.join(d, "corpus.parquet"), index=False)
    # stream files are doc_key-contiguous and take mtimes in key order, so
    # the stream consumes them in key order and merged dids follow doc_key
    # order, which is the oracle's tie rule
    base = time.time() - 10 * n_parts
    for p, part in enumerate(np.array_split(np.arange(len(corpus)), n_parts)):
        fp = os.path.join(d, "parts", f"part-{p:03d}.parquet")
        corpus.iloc[part].to_parquet(fp, index=False)
        os.utime(fp, (base + 10 * p, base + 10 * p))
    oracle = _import_oracle()
    idx = oracle.build_oracle_index(list(zip(corpus.doc_key, corpus.content)))
    queries = make_queries(seed, idx.df, n_queries)
    rng = np.random.default_rng(seed + 104729)
    spot = sorted(rng.choice(len(corpus), size=min(32, len(corpus)), replace=False).tolist())
    meta = {
        "corpus": os.path.join(d, "corpus.parquet"),
        "parts": os.path.join(d, "parts"),
        "doc_count": len(corpus),
        "content_bytes": int(corpus.content.str.encode("utf-8").str.len().sum()),
        "queries": queries,
        "expected": [[(key, score) for _, key, score in oracle.bm25_topk(idx, q, K)] for q in queries],
        "sha256": {corpus.doc_key[i]: hashlib.sha256(corpus.content[i].encode()).hexdigest() for i in spot},
        "gen_s": time.perf_counter() - t0,
    }
    _write_atomic_json(meta_path, meta)
    return meta
