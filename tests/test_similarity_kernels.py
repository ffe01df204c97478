"""Arrow-vectorized cosine kernels must be BIT-IDENTICAL to the JVM
reference fold (operators/similarity.py): the driver's DuckDB oracles
hash the index-ordered left fold, so any reassociation in the fast path
would break the correctness gate.  Pins dot, norm, sign-LSH bucket
assignment, and IVF centroid dots on randomized mixed-magnitude
float32 vectors."""

import struct

import numpy as np

from pyspark.sql import functions as F

import bigquery_delta_plugins_spark.operators.similarity as SIM

DIM = 64


def _vectors(spark, n=300, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        # mixed magnitudes stress non-associativity; a few exact zeros
        v = rng.standard_normal(DIM) * 10.0 ** rng.integers(-6, 6, DIM)
        v[rng.integers(0, DIM, 3)] = 0.0
        rows.append((i, [float(np.float32(x)) for x in v]))
    return spark.createDataFrame(rows, "id long, v array<float>")


def _bits(x):
    return struct.pack("<d", x)


def test_vec_dot_and_norm_bitwise_match_jvm(spark):
    df = _vectors(spark).withColumn("w", F.reverse("v"))
    got = df.select(
        "id",
        SIM.dot(F.col("v"), F.col("w")).alias("jd"),
        SIM.vec_dot(F.col("v"), F.col("w")).alias("vd"),
        SIM.norm(F.col("v")).alias("jn"),
        SIM.vec_norm(F.col("v")).alias("vn"),
    ).collect()
    assert all(_bits(r["jd"]) == _bits(r["vd"]) for r in got)
    assert all(_bits(r["jn"]) == _bits(r["vn"]) for r in got)


def test_vec_bucket_array_matches_jvm(spark):
    df = _vectors(spark, n=200, seed=6)
    got = df.select(
        "id",
        SIM._bucket_array("`v`", 3, DIM, 4).alias("jb"),
        SIM.vec_bucket_array(F.col("v"), 3, DIM, 4).alias("vb"),
    ).collect()
    assert all(list(r["jb"]) == list(r["vb"]) for r in got)


def test_vec_centroid_dots_bitwise_match_jvm(spark):
    signs = SIM.plane_signs(8, DIM)
    jvm = F.expr(
        "array("
        + ",".join(
            SIM._dot_sql(SIM._sign_row_sql(row), "`v`") for row in signs
        )
        + ")"
    )
    df = _vectors(spark, n=200, seed=7)
    got = df.select(
        "id",
        jvm.alias("jd"),
        SIM.vec_centroid_dots(F.col("v"), signs).alias("vd"),
    ).collect()
    for r in got:
        assert all(
            _bits(a) == _bits(b) for a, b in zip(r["jd"], r["vd"])
        )


def test_fused_norm_buckets_matches_separate_kernels(spark):
    """vec_norm_buckets (one Arrow pass) must equal vec_norm +
    vec_bucket_array bit-for-bit — the banded/LSH operators moved to
    the fused kernel purely to halve the Arrow boundary cost."""
    df = _vectors(spark, n=200, seed=8)
    got = df.select(
        SIM.vec_norm(F.col("v")).alias("n1"),
        SIM.vec_bucket_array(F.col("v"), 3, DIM, 6).alias("b1"),
        SIM.vec_norm_buckets(F.col("v"), 3, DIM, 6).alias("nb"),
    ).collect()
    for r in got:
        assert _bits(r["n1"]) == _bits(r["nb"]["nrm"])
        assert list(r["b1"]) == list(r["nb"]["buckets"])


def test_fused_norm_centroid_dots_matches_separate_kernels(spark):
    signs = SIM.plane_signs(8, DIM)
    df = _vectors(spark, n=200, seed=9)
    got = df.select(
        SIM.vec_norm(F.col("v")).alias("n1"),
        SIM.vec_centroid_dots(F.col("v"), signs).alias("d1"),
        SIM.vec_norm_centroid_dots(F.col("v"), signs).alias("nd"),
    ).collect()
    for r in got:
        assert _bits(r["n1"]) == _bits(r["nd"]["nrm"])
        assert all(
            _bits(a) == _bits(b) for a, b in zip(r["d1"], r["nd"]["dots"])
        )


def test_vec_pair_cosine_bitwise_matches_composition(spark):
    """The fused per-pair cosine kernel (r6, ann_bruteforce_topk) must
    bit-equal both the JVM reference ``dot/norm/norm`` chain and the
    unfused ``vec_dot / vec_norm / vec_norm`` composition it replaced —
    same folds, same division order, IEEE division on both sides."""
    df = _vectors(spark).withColumn("w", F.reverse("v"))
    got = df.select(
        "id",
        SIM.cosine(F.col("v"), F.col("w")).alias("jc"),
        (
            SIM.vec_dot(F.col("v"), F.col("w"))
            / SIM.vec_norm(F.col("v"))
            / SIM.vec_norm(F.col("w"))
        ).alias("uc"),
        SIM.vec_pair_cosine(F.col("v"), F.col("w")).alias("fc"),
    ).collect()
    for r in got:
        assert _bits(r["jc"]) == _bits(r["uc"]) == _bits(r["fc"]), r["id"]


def test_vec_pair_cosine_zero_vector_yields_null(spark):
    """Degenerate input: a zero vector's cosine is 0/0.  The SQL-side
    division of the old composition RAISES under Spark 4's default ANSI
    mode, so the fused kernel cannot change any previously-defined
    result — it extends the domain: the in-kernel IEEE answer is NaN,
    which the pandas->Arrow boundary surfaces as NULL (pandas uses NaN
    as its float missing-value marker — the same conversion the old
    ``vec_dot`` kernel already had for NaN dots)."""
    zero = spark.createDataFrame(
        [(0, [0.0] * DIM, [1.0] * DIM)],
        "id long, v array<float>, w array<float>",
    )
    [r] = zero.select(
        SIM.vec_pair_cosine(F.col("v"), F.col("w")).alias("fc")
    ).collect()
    assert r["fc"] is None


def test_sql_side_cosine_zero_vector_yields_null(spark):
    """The SQL-side divisions in ``cosine_pairs``, the single-table
    ``ann_lsh_topk`` and ``ann_topk_ivf`` agree with the fused kernel above: a zero vector's
    cosine is NULL (so it never passes a threshold) instead of an ANSI
    divide-by-zero error."""
    rows = [(0, [0.0] * DIM), (1, [1.0] * DIM), (2, [2.0] * DIM), (3, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in SIM.cosine_pairs(df, "id", "v", threshold=0.5).collect()}
    assert pairs == {(1, 2): 1.0}
    top = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in SIM.ann_lsh_topk(df, df, "id", "v", k=3).collect()}
    # the two zero vectors share every sign-LSH bucket
    assert (0, 3) in top and top[(0, 3)] is None
    assert top[(1, 2)] == 1.0
    ivf = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in SIM.ann_topk_ivf(df, df, "id", "v", k=3, dim=DIM).collect()}
    # a zero vector's centroid dots tie at 0, so both land in one cell
    assert (0, 3) in ivf and ivf[(0, 3)] is None
    assert ivf[(1, 2)] == 1.0
