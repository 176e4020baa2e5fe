"""Tokenization & normalization — exact reimplementation of the reference
document pipeline, Arrow-vectorized.

Reference semantics (see SURVEY.md §2.2), from
``simplir/src/SimplIR/Tokenise.hs:25-82`` and the canonical document
pipeline ``simplir-tools/Search.hs:449-474`` (`normalizationPipeline`):

1. Map every char in the punctuation kill-set to a space
   (``Tokenise.hs:37-38``; note ``.`` and ``'`` are NOT killed).
2. Split on Unicode whitespace, collapsing runs (``Tokenise.hs:46-82``
   `tokeniseWithPositions` — equivalent to `str.split()`).
3. ``doc_len_alnum`` = number of raw tokens containing >=1 alphanumeric
   char, computed BEFORE term filtering (``Search.hs:458-460``).
4. Per token: full Unicode case-fold, keep only alphabetic chars, keep
   the result iff length > 2 (``Search.hs:466-470`` `normTerms`).

The BM25/SimpleIndex path defines document length as the count of
*normalized* terms (sum of tfs) — ``SimpleIndex.hs:94-98`` — which is the
`doc_len` our index stores; `doc_len_alnum` is kept for the
Search.hs/query-likelihood path.

Vectorization strategy: within each Arrow batch, tokens are exploded and
deduplicated with ``np.unique``; the exact per-token normalizer runs once
per *unique* token (Zipf → tiny relative to token count) with a
cross-batch memo cache, then results are scattered back — no per-row
Spark-level Python, and exact Unicode semantics (``casefold``/``isalpha``
match Haskell ``toCaseFold``/``isAlpha``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# simplir/src/SimplIR/Tokenise.hs:37-38 (duplicated Search.hs:471-474)
KILL_CHARS = "\t\n\r;\"&/:!#?$%()@^*+-,=><[]{}|`~_"
_KILL_TABLE = {ord(c): " " for c in KILL_CHARS}

# --------------------------------------------------------------------------
# Pure-Python reference implementation (oracle; also the per-unique-token
# kernel of the vectorized UDF).
# --------------------------------------------------------------------------


def normalize_token(tok: str) -> str:
    """casefold -> keep alphabetic chars -> '' if resulting len <= 2.

    Port of `normTerms` (Search.hs:466-470): `T.filter isAlpha . T.toCaseFold`
    then `filter ((>2) . T.length)`.
    """
    t = "".join(c for c in tok.casefold() if c.isalpha())
    return t if len(t) > 2 else ""


def token_has_alnum(tok: str) -> bool:
    """Does the raw token contain >=1 alphanumeric char (Search.hs:458-460)."""
    return any(c.isalnum() for c in tok)


def tokenize_text(text: str) -> tuple[list[str], int]:
    """Full document pipeline: returns (normalized terms, doc_len_alnum)."""
    raw = text.translate(_KILL_TABLE).split()
    dl_alnum = sum(1 for t in raw if token_has_alnum(t))
    terms = [n for t in raw if (n := normalize_token(t))]
    return terms, dl_alnum


def tokenize_query(text: str) -> list[str]:
    """Query-string tokenizer.

    The reference's CLI query path (`tokenise`, Tokenise.hs:40-44) is
    casefold -> keep latin1 letters -> whitespace split; terms that survive
    but were filtered at index time simply match nothing.  We run the
    document normalizer for symmetry — identical behavior for ASCII
    queries, and guarantees query terms use the index's term space.
    """
    terms, _ = tokenize_text(text)
    return terms


# --------------------------------------------------------------------------
# Vectorized kernels (shared by the pandas UDF and tests)
# --------------------------------------------------------------------------

_NORM_CACHE: dict[str, str] = {}
_ALNUM_CACHE: dict[str, bool] = {}
_CACHE_MAX = 1 << 20


def _norm_unique(uniq: np.ndarray) -> np.ndarray:
    out = np.empty(len(uniq), dtype=object)
    cache = _NORM_CACHE
    for i, tok in enumerate(uniq):
        v = cache.get(tok)
        if v is None:
            v = normalize_token(tok)
            if len(cache) < _CACHE_MAX:
                cache[tok] = v
        out[i] = v
    return out


def _alnum_unique(uniq: np.ndarray) -> np.ndarray:
    out = np.empty(len(uniq), dtype=bool)
    cache = _ALNUM_CACHE
    for i, tok in enumerate(uniq):
        v = cache.get(tok)
        if v is None:
            v = token_has_alnum(tok)
            if len(cache) < _CACHE_MAX:
                cache[tok] = v
        out[i] = v
    return out


def _factorize_tokens(all_toks: np.ndarray, texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(codes, uniques) for a flat token array.

    ``pd.factorize``'s string hashtable compares C-strings, so tokens are
    conflated at the first NUL byte ('A' == 'A\\x00AA') — wrong for the
    reference semantics (NUL is not in the kill set and not whitespace).
    Batches whose text contains NUL take the slower exact ``np.unique``
    path (Python-level comparisons).
    """
    return _factorize_flat(all_toks, bool(texts.str.contains("\x00", regex=False).any()))


def _factorize_flat(all_toks: np.ndarray, has_nul: bool) -> tuple[np.ndarray, np.ndarray]:
    if has_nul:
        uniq, inv = np.unique(all_toks, return_inverse=True)
        return inv, np.asarray(uniq, dtype=object)
    inv, uniq = pd.factorize(all_toks)
    return inv, np.asarray(uniq, dtype=object)


def tokenize_batch(texts: pd.Series, max_token_len: int | None = None) -> pd.DataFrame:
    """Vectorized tokenize over a batch of documents.

    Returns a DataFrame with columns:
      terms          list[str]  — normalized term sequence (dups kept)
      doc_len        int32      — len(terms)  (SimpleIndex.hs:94-98)
      doc_len_alnum  int32      — alnum raw-token count (Search.hs:458-460)

    ``max_token_len`` is the Search2-pipeline length cap
    (Search2.hs:229-230 `goodLen`: 2 < len < max, applied to the RAW
    pre-normalization token) — unbounded tokens (minified JS, base64
    blobs) otherwise inflate the term dictionary at corpus scale.
    doc_len_alnum stays cap-free by definition (a Search.hs statistic).
    """
    texts = texts.fillna("")
    # kill punctuation + split: pandas str ops (cython loop over the batch)
    raw = texts.str.translate(_KILL_TABLE).str.split()

    n_docs = len(texts)
    lens = np.fromiter((len(t) for t in raw), dtype=np.int64, count=n_docs)
    total = int(lens.sum())
    doc_ix = np.repeat(np.arange(n_docs), lens)
    if total:
        from itertools import chain

        all_toks = np.fromiter(chain.from_iterable(raw), dtype=object, count=total)

    if total == 0:
        return pd.DataFrame(
            {
                "terms": [[] for _ in range(n_docs)],
                "doc_len": np.zeros(n_docs, dtype=np.int32),
                "doc_len_alnum": np.zeros(n_docs, dtype=np.int32),
            }
        )

    # factorize hashes (O(n)) — np.unique would argsort 10^6 object
    # strings with Python-level comparisons (the profile hot spot)
    inv, uniq = _factorize_tokens(all_toks, texts)
    norm_u = _norm_unique(uniq)
    alnum_u = _alnum_unique(uniq)
    if max_token_len is not None:
        # raw-token length cap, evaluated once per UNIQUE token
        too_long = np.fromiter(
            (len(t) >= max_token_len for t in uniq), dtype=bool, count=len(uniq)
        )
        norm_u = np.where(too_long, "", norm_u)

    norm_all = norm_u[inv]
    alnum_all = alnum_u[inv]

    dl_alnum = np.bincount(doc_ix[alnum_all], minlength=n_docs).astype(np.int32)

    keep = norm_all != ""
    kept_docs = doc_ix[keep]
    kept_terms = norm_all[keep]
    doc_len = np.bincount(kept_docs, minlength=n_docs).astype(np.int32)

    # split kept terms back into per-doc lists (kept order == original
    # order); ndarray slices convert to Arrow lists without a copy loop
    bounds = np.cumsum(doc_len)[:-1]
    term_lists = list(np.split(kept_terms, bounds))

    return pd.DataFrame(
        {"terms": term_lists, "doc_len": doc_len, "doc_len_alnum": dl_alnum}
    )


def jvm_clean_text_expr(text_col: str = "content"):
    """JVM-side half of ``text.translate(_KILL_TABLE).split()``: the
    punctuation kill-set -> spaces via F.translate, with NO split — the
    Arrow kernels split with C++ ``utf8_split_whitespace``.  Shipping the
    cleaned STRING through the JVM->Python Arrow stream instead of a
    split token array drops ~35% of the transfer bytes (no per-token
    offsets).  The separator controls U+001C..1F are also mapped to
    spaces: Python's isspace() includes them but Unicode White_Space
    does not, so the fold keeps ``str.split()`` semantics whichever
    splitter follows (Arrow's already splits on them; tested).
    Arrow's splitter emits '' tokens at string edges where Python's
    doesn't — the kernels drop '' before any position assignment.
    """
    kill = KILL_CHARS + "\x1c\x1d\x1e\x1f"
    return F.translate(F.col(text_col), kill, " " * len(kill))


def tokenize_tf_batch(texts: pd.Series) -> pd.DataFrame:
    """Tokenize + per-doc term-frequency aggregation in ONE kernel pass.

    Fuses tokenize_batch with the (term, tf) grouping (`M.fromListWith (+)`,
    SimpleIndex.hs:94-96) so the index build never materializes the raw
    term sequence.  Returns columns:

      terms          list[str]  — DISTINCT normalized terms, lexicographically
                                  sorted (fixes float-summation order for
                                  score parity, SURVEY.md §4.4)
      tfs            list[int]  — per-term frequency, aligned with `terms`
      doc_len        int32      — total surviving tokens (= sum(tfs))
      doc_len_alnum  int32      — alnum raw-token count (Search.hs:458-460)
    """
    texts = texts.fillna("")
    raw = texts.str.translate(_KILL_TABLE).str.split()
    has_nul = bool(texts.str.contains("\x00", regex=False).any())
    return tokenize_tf_from_raw(raw, has_nul=has_nul)


def tokenize_tf_from_raw(raw: pd.Series, has_nul: bool | None = None) -> pd.DataFrame:
    """tokenize_tf_batch's tail over pre-split raw-token arrays ('' tokens
    are dropped, restoring Python split() semantics)."""
    n_docs = len(raw)
    # a None entry (a null doc) contributes nothing, like the Arrow
    # kernels' fill_null
    lens = np.fromiter(
        (0 if t is None else len(t) for t in raw), dtype=np.int64, count=n_docs
    )
    total = int(lens.sum())
    if total == 0:
        return pd.DataFrame(
            {
                "terms": [[] for _ in range(n_docs)],
                "tfs": [[] for _ in range(n_docs)],
                "doc_len": np.zeros(n_docs, dtype=np.int32),
                "doc_len_alnum": np.zeros(n_docs, dtype=np.int32),
            }
        )
    from itertools import chain

    all_toks = np.fromiter(
        chain.from_iterable(t for t in raw if t is not None),
        dtype=object,
        count=total,
    )
    doc_ix = np.repeat(np.arange(n_docs), lens)
    nonempty = all_toks != ""
    if not nonempty.all():
        all_toks = all_toks[nonempty]
        doc_ix = doc_ix[nonempty]
        if len(all_toks) == 0:
            return pd.DataFrame(
                {
                    "terms": [[] for _ in range(n_docs)],
                    "tfs": [[] for _ in range(n_docs)],
                    "doc_len": np.zeros(n_docs, dtype=np.int32),
                    "doc_len_alnum": np.zeros(n_docs, dtype=np.int32),
                }
            )
    if has_nul is None:
        has_nul = bool(pd.Series(all_toks).str.contains("\x00", regex=False).any())

    inv, uniq = _factorize_flat(all_toks, has_nul)
    term_idx, nt_sorted, tf, n_distinct, doc_len, dl_alnum = tf_codes_core(
        inv, uniq, doc_ix, n_docs
    )
    terms_flat = nt_sorted[term_idx]
    bounds = np.cumsum(n_distinct)[:-1]
    return pd.DataFrame(
        {
            "terms": list(np.split(terms_flat, bounds)),
            "tfs": list(np.split(tf, bounds)),
            "doc_len": doc_len,
            "doc_len_alnum": dl_alnum,
        }
    )


def tf_codes_core(
    inv: np.ndarray, uniq: np.ndarray, doc_ix: np.ndarray, n_docs: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Numpy core of the tf tokenizer: raw-token CODES -> per-doc stats.

    Shared by the pandas kernel (which materializes Python list columns)
    and the Arrow kernel (which gathers term strings C++-side) — all
    per-token work here is integer numpy; Python string ops touch only
    the batch vocabulary (``uniq``).

    Returns ``(term_idx, nt_sorted, tf, n_distinct, doc_len, dl_alnum)``:
    entries are (doc, term-rank)-sorted; entry i's term is
    ``nt_sorted[term_idx[i]]`` with frequency ``tf[i]``; doc d owns
    ``n_distinct[d]`` consecutive entries.
    """
    norm_u = _norm_unique(uniq)
    alnum_u = _alnum_unique(uniq)
    dl_alnum = np.bincount(doc_ix[alnum_u[inv]], minlength=n_docs).astype(np.int32)

    # raw-token codes -> normalized-term codes -> lexicographic ranks,
    # fused at the VOCABULARY level so the token stream pays exactly one
    # gather (rank_of_raw[inv]) instead of two chained 27M-element ones
    nt_codes, nt_uniq = pd.factorize(norm_u)
    nt_uniq = np.asarray(nt_uniq, dtype=object)
    order = np.argsort(nt_uniq)
    rank = np.empty(len(nt_uniq), dtype=np.int64)
    rank[order] = np.arange(len(nt_uniq))
    nt_sorted = nt_uniq[order]
    rank_of_raw = rank[nt_codes]  # vocab-sized
    rank_all = rank_of_raw[inv]

    # drop the empty normalization bucket ('' = killed token)
    empty_pos = np.searchsorted(nt_sorted, "")
    has_empty = empty_pos < len(nt_sorted) and nt_sorted[empty_pos] == ""
    if has_empty:
        keep = rank_all != empty_pos
        doc_ix = doc_ix[keep]
        rank_all = rank_all[keep]
    doc_len = np.bincount(doc_ix, minlength=n_docs).astype(np.int32)

    u = len(nt_sorted)
    key = doc_ix * u + rank_all
    # stable np.sort on ints is radix (O(n)) — 3.5x faster than
    # np.unique's comparison sort at ~30M tokens, same output
    ks = np.sort(key, kind="stable")
    if len(ks) == 0:  # every token normalized to '' (all killed)
        starts = np.zeros(0, dtype=np.int64)
    else:
        change = np.nonzero(ks[1:] != ks[:-1])[0] + 1
        starts = np.concatenate(([0], change))
    ukey = ks[starts]
    tf = np.diff(np.concatenate((starts, [len(ks)])))
    d = ukey // u
    term_idx = ukey % u
    n_distinct = np.bincount(d, minlength=n_docs)
    return term_idx, nt_sorted, tf.astype(np.int64), n_distinct, doc_len, dl_alnum


def pos_codes_core(
    inv: np.ndarray, uniq: np.ndarray, doc_ix: np.ndarray,
    raw_pos: np.ndarray, n_docs: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Positional twin of :func:`tf_codes_core`: per-OCCURRENCE output.

    Keeps every occurrence whose normalized term is non-empty, in the
    original raw-token order (Position is the index over the
    pre-normalization-drop token stream, Tokenise.hs:46-82).  Returns ``(codes_kept, norm_vocab, pos_kept,
    kept_doc_ix, doc_len, dl_alnum)`` — occurrence i's term is
    ``norm_vocab[codes_kept[i]]``, its position ``pos_kept[i]``.
    """
    norm_u = _norm_unique(uniq)
    alnum_u = _alnum_unique(uniq)
    dl_alnum = np.bincount(doc_ix[alnum_u[inv]], minlength=n_docs).astype(np.int32)

    nt_codes, nt_uniq = pd.factorize(norm_u)
    nt_uniq = np.asarray(nt_uniq, dtype=object)
    codes_all = nt_codes[inv]
    empty = np.nonzero(nt_uniq == "")[0]
    if len(empty):
        keep = codes_all != empty[0]
        codes_kept = codes_all[keep]
        pos_kept = raw_pos[keep]
        kept_doc_ix = doc_ix[keep]
    else:
        codes_kept = codes_all
        pos_kept = raw_pos
        kept_doc_ix = doc_ix
    doc_len = np.bincount(kept_doc_ix, minlength=n_docs).astype(np.int32)
    return codes_kept, nt_uniq, pos_kept, kept_doc_ix, doc_len, dl_alnum


TOKENIZE_RESULT_TYPE = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("doc_len", T.IntegerType(), False),
        T.StructField("doc_len_alnum", T.IntegerType(), False),
    ]
)


@F.pandas_udf(TOKENIZE_RESULT_TYPE)
def tokenize_udf(texts: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized tokenizer: content -> struct(terms, doc_len, doc_len_alnum)."""
    return tokenize_batch(texts)


def tokenize_udf_capped(max_token_len: int):
    """tokenize_udf with the Search2 raw-token length cap baked in."""

    @F.pandas_udf(TOKENIZE_RESULT_TYPE)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        return tokenize_batch(texts, max_token_len=max_token_len)

    return _udf


def with_tokens(
    df,
    text_col: str = "content",
    stopwords: list[str] | None = None,
    max_token_len: int | None = None,
):
    """Append terms/doc_len/doc_len_alnum columns to a corpus DataFrame.

    ``stopwords`` enables the Search2-pipeline variant (optional stopword
    drop after normalization, simplir-stop-words/StopWords.hs:9-20 used at
    Search2.hs:231): terms and doc_len reflect the filtered list;
    doc_len_alnum stays the pre-filter alnum-token count by definition.
    ``max_token_len`` is Search2's raw-token length cap (Search2.hs:229-230,
    `len < 100` in the reference pipeline).
    """
    tok = (
        tokenize_udf_capped(max_token_len) if max_token_len is not None else tokenize_udf
    )(F.col(text_col))
    out = (
        df.withColumn("_tok", tok)
        .withColumn("terms", F.col("_tok.terms"))
        .withColumn("doc_len", F.col("_tok.doc_len"))
        .withColumn("doc_len_alnum", F.col("_tok.doc_len_alnum"))
        .drop("_tok")
    )
    if stopwords:
        sw = F.array([F.lit(w) for w in stopwords])
        out = out.withColumn(
            "terms", F.filter("terms", lambda t: ~F.array_contains(sw, t))
        ).withColumn("doc_len", F.size("terms"))
    return out


# --------------------------------------------------------------------------
# Per-document term frequencies, vectorized.
# --------------------------------------------------------------------------

TERM_TF_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("tf", T.LongType(), False),
        ]
    )
)


def term_tfs_batch(term_lists: pd.Series) -> pd.Series:
    """Per-doc (term, tf) pairs — `M.fromListWith (+)` (SimpleIndex.hs:94-96).

    Pre-aggregating tf inside the Arrow batch means the downstream explode
    emits one row per (doc, distinct term) instead of one per token
    occurrence — a large shuffle reduction at scale.
    Output pairs are term-sorted (np.unique), which also fixes the
    float-summation order for score parity (SURVEY.md §4.4).
    """
    out = []
    for terms in term_lists:
        if terms is None or len(terms) == 0:
            out.append([])
            continue
        u, c = np.unique(np.asarray(terms, dtype=object), return_counts=True)
        out.append([(t, int(n)) for t, n in zip(u, c)])
    return pd.Series(out)


@F.pandas_udf(TERM_TF_TYPE)
def term_tfs_udf(term_lists: pd.Series) -> pd.Series:
    return term_tfs_batch(term_lists)
