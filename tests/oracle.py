"""Pure-Python oracle: a direct, list/dict-based transliteration of the
reference's scoring path, used as ground truth for the Spark engine.

Ports (all under /root/reference):
 * tokenize/normalize  — simplir/src/SimplIR/Tokenise.hs:25-82 +
   simplir-tools/Search.hs:449-474 (via simplir_spark.functions.tokenize's
   pure-Python kernel, which is itself golden-tested here).
 * CorpusStats         — simplir/src/SimplIR/RetrievalModels/CorpusStats.hs:107-133
 * BM25                — simplir/src/SimplIR/RetrievalModels/BM25.hs:28-59
 * SimpleIndex.score   — simplir-disk-index/src/SimplIR/SimpleIndex.hs:94-98,128-150
 * QueryLikelihood     — simplir/src/SimplIR/RetrievalModels/QueryLikelihood.hs:38-73
 * TF-IDF              — simplir/src/SimplIR/RetrievalModels/TfIdf.hs:18-25
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

from simplir_spark.functions.tokenize import _KILL_TABLE, normalize_token, tokenize_text

# BASELINE.json-mandated engine defaults (the reference's own sensibleParams
# is k1=1.2, b=0.75 — BM25.hs:20-21; params are explicit everywhere).
K1_DEFAULT = 1.1
B_DEFAULT = 0.4


@dataclass
class OracleIndex:
    doc_keys: list[str] = field(default_factory=list)
    doc_lens: list[int] = field(default_factory=list)  # len(terms) per doc
    doc_lens_alnum: list[int] = field(default_factory=list)
    tfs: list[dict[str, int]] = field(default_factory=list)  # per-doc term -> tf
    seqs: list[list[str]] = field(default_factory=list)  # per-doc term sequence
    df: Counter = field(default_factory=Counter)
    cf: Counter = field(default_factory=Counter)
    token_count: int = 0  # corpusTokenCount = sum(len(terms))

    @property
    def doc_count(self) -> int:
        return len(self.doc_keys)

    @property
    def avg_doc_len(self) -> float:
        return self.token_count / self.doc_count


def build_oracle_index(docs: list[tuple[str, str]]) -> OracleIndex:
    """docs = [(doc_key, content)] in doc_key order."""
    idx = OracleIndex()
    for key, content in sorted(docs):
        terms, dl_alnum = tokenize_text(content)
        tf = Counter(terms)
        idx.doc_keys.append(key)
        idx.doc_lens.append(len(terms))
        idx.doc_lens_alnum.append(dl_alnum)
        idx.tfs.append(dict(tf))
        idx.seqs.append(list(terms))
        for t, n in tf.items():
            idx.df[t] += 1
            idx.cf[t] += n
        idx.token_count += len(terms)
    return idx


def oracle_positions(text: str) -> list[tuple[str, int]]:
    """(normalized term, raw token index) for surviving tokens
    (accumPositions, Tokenise.hs:101-105)."""
    raw = text.translate(_KILL_TABLE).split()
    out = []
    for i, tok in enumerate(raw):
        n = normalize_token(tok)
        if n:
            out.append((n, i))
    return out


def bm25_idf(doc_count: int, df: int) -> float:
    """Lucene probidf (BM25.hs:53-59)."""
    return math.log(1.0 + (doc_count - df + 0.5) / (df + 0.5))


def bm25_term(tf: int, doc_len: int, df: int, doc_count: int, avg_doc_len: float,
              k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> float:
    """bm25Term' (BM25.hs:48-59)."""
    idf = bm25_idf(doc_count, df)
    return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * doc_len / avg_doc_len))


def bm25_score_all(
    idx: OracleIndex, query_terms: list[str], k1: float = K1_DEFAULT, b: float = B_DEFAULT
) -> list[tuple[float, str]]:
    """SimpleIndex.score with the BM25 model: union of posting lists over
    deduped query terms, per-doc sum over matching terms (term-sorted
    summation order — SURVEY.md §4.4). Unsorted scores per the reference."""
    q = sorted(set(query_terms))
    out = []
    for i in range(idx.doc_count):
        tfs = idx.tfs[i]
        matched = [t for t in q if t in tfs]
        if not matched:
            continue
        score = 0.0
        for t in matched:
            score += bm25_term(tfs[t], idx.doc_lens[i], idx.df[t], idx.doc_count, idx.avg_doc_len, k1, b)
        out.append((score, idx.doc_keys[i]))
    return out


def bm25_topk(idx: OracleIndex, query_terms: list[str], k: int,
              k1: float = K1_DEFAULT, b: float = B_DEFAULT) -> list[tuple[int, str, float]]:
    """Top-k by (-score, doc_key): [(rank, doc_key, score)], rank from 1."""
    scored = bm25_score_all(idx, query_terms, k1, b)
    scored.sort(key=lambda s: (-s[0], s[1]))
    return [(r + 1, key, sc) for r, (sc, key) in enumerate(scored[:k])]


def tfidf_term(tf: int, df: int, doc_count: int) -> float:
    """TfIdf.hs:18-25: tf * log(N / (1 + df))."""
    return tf * math.log(doc_count / (1.0 + df))


def ql_dirichlet_score_all(
    idx: OracleIndex, query_terms: list[str], mu: float = 1000.0
) -> list[tuple[float, str]]:
    """Query likelihood, Dirichlet smoothing (QueryLikelihood.hs:38-73):
    log score = sum over query tokens (with multiplicity) of
    log((tf + mu * P(t)) / (doc_len + mu)), P(t) = cf(t)/token_count.
    Docs matching no query term are skipped (posting-union semantics)."""
    out = []
    for i in range(idx.doc_count):
        tfs = idx.tfs[i]
        if not any(t in tfs for t in set(query_terms)):
            continue
        s = 0.0
        for t in query_terms:  # query-side multiplicity counts (qtf exponent)
            p_bg = idx.cf.get(t, 0) / idx.token_count
            num = tfs.get(t, 0) + mu * p_bg
            # a term absent from both doc and corpus: probability 0 ->
            # Log Double 0, i.e. -inf in log space
            s += math.log(num / (idx.doc_lens[i] + mu)) if num > 0 else float("-inf")
        out.append((s, idx.doc_keys[i]))
    return out
