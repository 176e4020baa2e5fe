"""Tokenizer parity tests — FIXTURES.md tokenizer cases.

Hand-written edge cases exercising every rule of the reference pipeline
(Tokenise.hs:25-82 + Search.hs:449-474), checked both against expected
values and for vectorized-batch == pure-Python agreement.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from simplir_spark.functions.tokenize import (
    KILL_CHARS,
    tokenize_batch,
    tokenize_text,
)

# (content, expected_terms, expected_doc_len_alnum)
CASES = [
    ("", [], 0),
    ("   \t\n  ", [], 0),
    ("hello world", ["hello", "world"], 2),
    # kill-set chars become spaces (token separators)
    ("foo;bar,baz", ["foo", "bar", "baz"], 3),
    ("a+b=c", [], 3),  # 1-char tokens all filtered, but all alnum
    ("x-y-z", [], 3),
    # '.' and apostrophe are NOT in the kill set -> stay inside tokens,
    # then get stripped by the alpha filter
    ("foo.bar", ["foobar"], 1),
    ("don't", ["dont"], 1),
    # case folding
    ("Hello WORLD MiXeD", ["hello", "world", "mixed"], 3),
    # digits stripped by isAlpha filter but count for alnum doc_len
    ("foo2 123 a1b2c3", ["foo", "abc"], 3),
    ("x123456", [], 1),  # alpha residue "x" has len 1 -> dropped
    # length > 2 filter (strict)
    ("ab abc abcd a", ["abc", "abcd"], 4),
    # doc_len_alnum counts pre-filter tokens with >=1 alnum
    ("... --- ,,, foo", ["foo"], 1),  # "..." has no alnum ("---"/",,," killed)
    ("a.b.c ..", ["abc"], 1),  # "a.b.c" -> alnum yes, residue "abc"; ".." no alnum
    # unicode: sharp s casefolds to ss; accented letters are alphabetic
    ("STRASSE straße", ["strasse", "strasse"], 2),
    ("café CAFÉ", ["café", "café"], 2),
    # greek (outside latin1, still letters)
    ("αβγδ ΑΒΓΔ", ["αβγδ", "αβγδ"], 2),
    # underscores are killed -> separators
    ("snake_case_name", ["snake", "case", "name"], 3),
    # mixed code-ish line
    (
        "def foo(bar, baz):\n    return bar+baz # comment",
        ["def", "foo", "bar", "baz", "return", "bar", "baz", "comment"],
        8,
    ),
    # tabs/newlines in kill set AND whitespace
    ("one\ttwo\nthree\rfour", ["one", "two", "three", "four"], 4),
    # >100 char token survives (no max-length rule in Search.hs variant)
    ("x" * 150, ["x" * 150], 1),
    # token that is only punctuation residue
    ("'''' ....", [], 0),
    # digits-only tokens: alnum yes, term no
    ("42 4242 999999", [], 3),
]


@pytest.mark.parametrize("content,terms,dl_alnum", CASES)
def test_pure_python_cases(content, terms, dl_alnum):
    got_terms, got_dl = tokenize_text(content)
    assert got_terms == terms
    assert got_dl == dl_alnum


def test_vectorized_matches_pure():
    s = pd.Series([c for c, _, _ in CASES])
    out = tokenize_batch(s)
    for i, (content, terms, dl_alnum) in enumerate(CASES):
        assert list(out["terms"].iloc[i]) == terms, content
        assert int(out["doc_len_alnum"].iloc[i]) == dl_alnum, content
        assert int(out["doc_len"].iloc[i]) == len(terms), content


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=60,
        ),
        max_size=20,
    )
)
def test_vectorized_matches_pure_hypothesis(texts):
    s = pd.Series(texts, dtype=object)
    out = tokenize_batch(s)
    for i, content in enumerate(texts):
        terms, dl = tokenize_text(content)
        assert list(out["terms"].iloc[i]) == terms
        assert int(out["doc_len_alnum"].iloc[i]) == dl
        assert int(out["doc_len"].iloc[i]) == len(terms)


def test_kill_set_is_reference_literal():
    # Tokenise.hs:37-38 string "\t\n\r;\"&/:!#?$%()@^*+-,=><[]{}|`~_`" with
    # the duplicated backtick collapsed.
    assert set(KILL_CHARS) == set("\t\n\r;\"&/:!#?$%()@^*+-,=><[]{}|`~_")


def test_spark_udf_matches_pure(spark, corpus_small):
    from pyspark.sql import functions as F

    from simplir_spark.functions.tokenize import with_tokens

    rows = (
        with_tokens(corpus_small)
        .select("doc_key", "content", "terms", "doc_len", "doc_len_alnum")
        .orderBy("doc_key")
        .limit(100)
        .collect()
    )
    assert len(rows) == 100
    for r in rows:
        terms, dl = tokenize_text(r.content)
        assert list(r.terms) == terms
        assert r.doc_len == len(terms)
        assert r.doc_len_alnum == dl


def test_jvm_clean_text_split_matches_python_split(spark):
    """jvm_clean_text_expr (kill-set translate in Tungsten) followed by
    Arrow's utf8_split_whitespace — the index build's tokenize path —
    must reproduce Python's text.translate(KILL).split() exactly after
    '' removal, including separator controls U+001C..1F, which Python
    isspace() includes but Unicode White_Space does not."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from simplir_spark.functions.tokenize import _KILL_TABLE, jvm_clean_text_expr

    texts = [
        "Hello, world! foo2 bar",
        "",
        "x\x1cy\x1dz\x1ea\x1fb",
        "tab\tand\nnewline\r mix",
        "unicode\u00a0space\u2003wide",
        "emoji 🎉 stays; punct!kill",
        "  leading and trailing  ",
        "a.b'c keeps dots'n'quotes",
        "nul\x00inside token\x00s",
        "   \t\n  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, content string")
    cleaned = [
        r.clean
        for r in df.select("i", jvm_clean_text_expr("content").alias("clean"))
        .orderBy("i")
        .collect()
    ]
    split = pc.utf8_split_whitespace(pa.array(cleaned, pa.string())).to_pylist()
    got = [[x for x in toks if x != ""] for toks in split]
    want = [t.translate(_KILL_TABLE).split() for t in texts]
    assert got == want


def test_max_token_len_cap(spark):
    """Search2.hs:229-230 goodLen: raw tokens with len >= cap are dropped
    BEFORE normalization; doc_len reflects it, doc_len_alnum does not."""
    from simplir_spark.functions.tokenize import with_tokens

    blob = "x" * 150
    df = spark.createDataFrame(
        [(1, f"hello {blob} world")], "doc_key long, content string"
    )
    capped = with_tokens(df, max_token_len=100).collect()[0]
    assert list(capped.terms) == ["hello", "world"]
    assert capped.doc_len == 2
    assert capped.doc_len_alnum == 3  # alnum count is cap-free
    uncapped = with_tokens(df).collect()[0]
    assert list(uncapped.terms) == ["hello", blob, "world"]


def test_tokenize_tf_from_raw_null_docs():
    # regression: a NULL document reaches the pandas kernel as None
    # (split(NULL) is NULL JVM-side); it must contribute nothing, like
    # the Arrow kernels' fill_null path, not raise TypeError
    import pandas as pd

    from simplir_spark.functions.tokenize import tokenize_tf_from_raw

    out = tokenize_tf_from_raw(
        pd.Series([["hashes", "join", "hashes"], None, []], dtype=object)
    )
    assert list(out["doc_len"]) == [3, 0, 0]
    assert list(out["terms"].iloc[0]) == ["hashes", "join"]
    assert list(out["tfs"].iloc[0]) == [2, 1]
    assert list(out["terms"].iloc[1]) == []
    all_null = tokenize_tf_from_raw(pd.Series([None, None], dtype=object))
    assert list(all_null["doc_len"]) == [0, 0]
