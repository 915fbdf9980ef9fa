"""The one vector builder in similarity.py: dot_sql / norm_sql / cos_sql,
bucket_sql and the fold-or-unroll policy _fold.

- the interpreted fold and the unrolled codegen chain give bit-identical
  doubles on real embeddings, so the policy is purely a compile-vs-
  execute trade;
- a non-finite literal fails with a ValueError naming it instead of an
  analysis error about an unresolved column;
- a vector of the wrong length is NULL on both forms.
"""

import math

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
DIM = 64


def _bits(x):
    return None if x is None else float(x).hex()


def _query(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]


def test_fold_policy():
    from liblognorm_spark.functions.similarity import UNROLL_MAX_TERMS, _fold, bucket_sql

    assert not _fold(UNROLL_MAX_TERMS)
    assert _fold(UNROLL_MAX_TERMS + 1)
    assert _fold(1, per_plan=True)  # k-means centroids always fold
    small = [[1.0] * DIM] * 8  # 512 terms
    big = [[1.0] * DIM] * (UNROLL_MAX_TERMS // DIM + 1)
    assert "aggregate(" not in bucket_sql("`v`", small)
    assert "aggregate(" in bucket_sql("`v`", big)


def test_fold_equals_unroll_on_embeddings(spark):
    from liblognorm_spark.functions.similarity import (
        _table_planes,
        bucket_sql,
        cos_sql,
        dot_sql,
        norm_sql,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = _query(emb)
    v, w = "`embedding`", "reverse(`embedding`)"
    planes = _table_planes(DIM, 8, 1)[0]
    exprs = {
        "bucket": lambda fold: bucket_sql(v, planes, fold=fold),
        "dot_lit": lambda fold: dot_sql(v, q, DIM, fold),
        "dot_pair": lambda fold: dot_sql(v, w, DIM, fold),
        "norm": lambda fold: norm_sql(v, DIM, fold),
        "cos_lit": lambda fold: cos_sql(v, q, DIM, fold=fold),
        "cos_pair": lambda fold: cos_sql(v, w, DIM, fold=fold),
    }
    cols = []
    for name, build in exprs.items():
        cols.append(F.expr(build(True)).alias(f"{name}_fold"))
        cols.append(F.expr(build(False)).alias(f"{name}_unroll"))
    rows = emb.select("vec_id", *cols).collect()
    assert len(rows) > 100
    for r in rows:
        for name in exprs:
            assert r[f"{name}_fold"] is not None, (name, r["vec_id"])
            assert _bits(r[f"{name}_fold"]) == _bits(r[f"{name}_unroll"]), (name, r["vec_id"])
    assert len({r["bucket_fold"] for r in rows}) > 8  # the planes split the data


def test_non_finite_literal_fails_clearly(spark):
    from liblognorm_spark.functions.clustering import semdedup
    from liblognorm_spark.functions.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = _query(emb)
    for bad in (math.inf, math.nan):
        with pytest.raises(ValueError, match=repr(bad)):
            brute_force_topk(emb, [bad] + q[1:], k=3)
    cents = [q, [math.nan] * DIM]
    with pytest.raises(ValueError, match="nan"):
        semdedup(emb, centroids=cents)


def test_vector_length_contract_both_forms(spark):
    """A vector whose length is not dim — short, long or empty — or a
    NULL vector gives NULL from every builder, and a NULL element nulls
    every dot, norm and cosine that reads it, on the unrolled and the
    fold form alike.  Unguarded, the unrolled form raised
    INVALID_ARRAY_INDEX on a short vector under ANSI mode and read the
    first dim elements of a long one, and the pair fold summed any
    common length."""
    from liblognorm_spark.functions.similarity import (
        bucket_sql,
        cos_sql,
        dot_sql,
        norm_sql,
    )

    q = [1.0, 1.0]
    rows = [(0, [3.0, 4.0]), (1, [3.0]), (2, [3.0, 4.0, 5.0]), (3, []),
            (4, [3.0, None]), (5, None)]
    # repartition: keep the projection out of LocalRelation constant
    # folding so it runs through whole-stage codegen like the operators
    df = spark.createDataFrame(rows, "id long, v array<float>").repartition(1)
    v = "`v`"
    exprs = {
        "dot_lit": lambda fold: dot_sql(v, q, 2, fold),
        "dot_pair": lambda fold: dot_sql(v, v, 2, fold),
        "norm": lambda fold: norm_sql(v, 2, fold),
        "cos_lit": lambda fold: cos_sql(v, q, 2, fold=fold),
        "cos_zero_lit": lambda fold: cos_sql(v, [0.0, 0.0], 2, fold=fold),
        "cos_pair": lambda fold: cos_sql(v, v, 2, fold=fold),
        "bucket": lambda fold: bucket_sql(v, [q, [1.0, -1.0]], fold=fold),
    }
    expect = {"dot_lit": 7.0, "dot_pair": 25.0, "norm": 5.0,
              "cos_lit": 7.0 / (5.0 * math.sqrt(2.0)), "cos_zero_lit": 0.0,
              "cos_pair": 25.0 / 25.0, "bucket": 1}
    for fold in (False, True):
        got = {r["id"]: r for r in df.select(
            "id", *[F.expr(b(fold)).alias(n) for n, b in exprs.items()]).collect()}
        for name, want in expect.items():
            assert got[0][name] == pytest.approx(want, rel=0, abs=0), (name, fold)
            for rid in (1, 2, 3, 4, 5):
                if (name, rid) in (("cos_zero_lit", 4), ("bucket", 4)):
                    # a dim-length vector with a NULL element: a zero-norm
                    # literal's cosine stays 0.0 (NULL OR TRUE) and every
                    # plane's NULL dot leaves its bit unset, as in the
                    # DuckDB twins
                    assert got[rid][name] == 0, (name, fold)
                    continue
                assert got[rid][name] is None, (name, fold, rid, got[rid][name])
