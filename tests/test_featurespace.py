"""FeatureSpace algebra tests (FeatureSpace.hs:109-430 port)."""

from __future__ import annotations

import numpy as np
import pytest

from simplir_spark.operators.featurespace import (
    FeatureSpace,
    FeatureVec,
    project_feature_column,
)


def test_space_sorted_unique_and_lookup():
    s = FeatureSpace(["tfidf", "bm25", "doclen"])
    assert list(s.names) == ["bm25", "doclen", "tfidf"]  # mkFeatureSpace sorts
    assert s.dimension == 3
    assert s.index("doclen") == 1
    assert "bm25" in s and "nope" not in s
    with pytest.raises(KeyError):
        s.index("nope")
    with pytest.raises(ValueError):
        FeatureSpace(["a", "a"])


def test_from_list_strictness():
    """fromList mirrors the reference's partial M.!: unknown, repeated,
    and missing features all error instead of silently zero-filling."""
    s = FeatureSpace(["a", "b"])
    v = FeatureVec.from_list(s, [("b", 2.0), ("a", 1.0)])
    assert v.to_list() == [("a", 1.0), ("b", 2.0)]
    with pytest.raises(KeyError):
        FeatureVec.from_list(s, [("a", 1.0), ("z", 9.0)])
    with pytest.raises(ValueError):
        FeatureVec.from_list(s, [("a", 1.0), ("a", 2.0)])
    with pytest.raises(ValueError):
        FeatureVec.from_list(s, [("a", 1.0)])


def test_project_subset_and_reorder():
    s = FeatureSpace(["a", "b", "c"])
    v = FeatureVec.from_list(s, [("a", 1.0), ("b", 2.0), ("c", 3.0)])
    p = v.project(FeatureSpace(["c", "a"]))
    assert p.to_list() == [("a", 1.0), ("c", 3.0)]
    with pytest.raises(KeyError):
        v.project(FeatureSpace(["a", "zz"]))


def test_stack_disjoint_spaces():
    """concatSpaces/stack: disjoint name sets combine; overlap errors."""
    v1 = FeatureVec.from_list(FeatureSpace(["a", "c"]), [("a", 1.0), ("c", 3.0)])
    v2 = FeatureVec.from_list(FeatureSpace(["b"]), [("b", 2.0)])
    st = v1.stack(v2)
    assert st.to_list() == [("a", 1.0), ("b", 2.0), ("c", 3.0)]
    with pytest.raises(ValueError):
        v1.space.concat(FeatureSpace(["c", "d"]))


def test_vector_algebra_and_space_guard():
    s = FeatureSpace(["a", "b"])
    v = FeatureVec.from_list(s, [("a", 1.0), ("b", 2.0)])
    w = FeatureVec.from_list(s, [("a", 10.0), ("b", 20.0)])
    assert (v + w).to_list() == [("a", 11.0), ("b", 22.0)]
    assert v.dot(w) == pytest.approx(50.0)
    assert v.scale(3).sum() == pytest.approx(9.0)
    assert v.modify([("a", 7.0)]).lookup("a") == 7.0
    assert v.accum(lambda x, y: x + y, [("b", 5.0), ("b", 1.0)]).lookup("b") == 8.0
    assert v.zip_with(max, w).to_list() == w.to_list()
    other = FeatureVec.repeat(FeatureSpace(["a", "z"]), 0.0)
    with pytest.raises(ValueError):
        v.dot(other)
    g = FeatureVec.generate(s, lambda n: float(len(n)))
    assert g.to_list() == [("a", 1.0), ("b", 1.0)]
    m = s.map_names(lambda n: "f_" + n)
    assert list(m.names) == ["f_a", "f_b"]


def test_project_feature_column_spark(spark):
    """The JVM-side array projection agrees with the numpy projection on
    every row (no UDF in the plan)."""
    from pyspark.sql import functions as F

    src = FeatureSpace(["a", "b", "c"])
    dst = FeatureSpace(["c", "a"])
    rows = [([1.0, 2.0, 3.0],), ([4.0, 5.0, 6.0],)]
    df = spark.createDataFrame(rows, "feats array<double>")
    out = df.select(project_feature_column(F.col("feats"), src, dst).alias("p"))
    got = [r["p"] for r in out.collect()]
    want = [
        FeatureVec(src, np.array(r[0])).project(dst).values.tolist() for r in rows
    ]
    assert got == want
    assert "pythonUDF" not in out._jdf.queryExecution().executedPlan().toString()


def test_feature_vec_eq_and_hash():
    # regression: the dataclass-generated __eq__/__hash__ raised on the
    # ndarray field for any space with more than one feature
    import numpy as np

    from simplir_spark.operators.featurespace import FeatureSpace, FeatureVec

    sp = FeatureSpace(["a", "b", "c"])
    v1 = FeatureVec.from_list(sp, [("a", 1.0), ("b", 2.0), ("c", 3.0)])
    v2 = FeatureVec.from_list(sp, [("a", 1.0), ("b", 2.0), ("c", 3.0)])
    v3 = FeatureVec.from_list(sp, [("a", 1.0), ("b", 2.0), ("c", 4.0)])
    assert v1 == v2 and v1 != v3
    assert hash(v1) == hash(v2)
    assert len({v1, v2, v3}) == 2
    nan1 = FeatureVec(sp, np.array([1.0, np.nan, 3.0]))
    nan2 = FeatureVec(sp, np.array([1.0, np.nan, 3.0]))
    assert nan1 == nan2  # elementwise with equal_nan, like a bitwise Eq
    # hash/eq contract across value representations (ADVICE r5): equal
    # vectors must hash equally whatever their bit patterns or dtypes
    assert hash(nan1) == hash(nan2)
    neg0 = FeatureVec(sp, np.array([0.0, -0.0, 1.0]))
    pos0 = FeatureVec(sp, np.array([0.0, 0.0, 1.0]))
    assert neg0 == pos0 and hash(neg0) == hash(pos0)
    f32 = FeatureVec(sp, np.array([1.0, 2.0, 3.0], dtype=np.float32))
    f64 = FeatureVec(sp, np.array([1.0, 2.0, 3.0], dtype=np.float64))
    assert f32 == f64 and hash(f32) == hash(f64)
    odd_nan = FeatureVec(
        sp,
        np.array(
            [1.0, np.frombuffer(b"\x01\x00\x00\x00\x00\x00\xf8\x7f", dtype=np.float64)[0], 3.0]
        ),
    )
    assert odd_nan == nan1 and hash(odd_nan) == hash(nan1)
