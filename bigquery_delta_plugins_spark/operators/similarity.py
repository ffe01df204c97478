"""Embedding similarity search: near-dup pairs and approximate top-k.

Over an ``array<float>`` embedding column.  All arithmetic is double
(cast once); every dot product is an index-ordered left fold, defined
by the ``F.aggregate``-over-``F.zip_with`` reference form below and
EXECUTED by Arrow-vectorized kernels that reproduce it bit-for-bit
(numpy ``cumsum`` is strictly sequential) — so any SQL engine, and the
DuckDB oracles, match exactly while the hot path runs ~10x faster than
Catalyst's interpreted higher-order-function evaluation.

- **cosine_pairs**: exact near-duplicate pairs above a cosine threshold.
  O(n^2/2) compare, the correctness baseline; at 100 TB you run the LSH
  variant and sample-audit against this one.
- **ann_bruteforce_topk**: exact top-k for a (small, broadcast) query
  set against the full corpus — one shuffle for the per-query window.
- **ann_lsh_topk**: random-hyperplane sign LSH.  Hyperplane sign
  matrices are derived from md5 in the *driver* (deterministic, public);
  bucket assignment is one Arrow pass per vector.  Buckets collide
  ~n/2^p vectors; top-k is computed within the query's bucket only.

No reference counterpart; mandated training-data-pipeline operators.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

DEFAULT_PLANES = 8


def plane_signs(planes: int, dim: int, table: int = 0) -> list[list[int]]:
    """Deterministic +1/-1 hyperplane matrix from md5 nibble parity of
    ``"{plane}_{dim}"`` — reproducible in any engine / language.

    ``table`` > 0 derives an INDEPENDENT matrix per LSH hash table
    (seed ``"t{table}:{plane}_{dim}"``); table 0 keeps the original
    seed so single-table callers and their oracles are unchanged."""
    prefix = f"t{table}:" if table else ""
    return [
        [
            1
            if int(hashlib.md5(f"{prefix}{p}_{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Index-ordered left-fold double dot product.

    (A static ``((0+p0)+p1)+...`` expansion via ``dim`` was measured
    SLOWER: 64+-term expressions blow past JVM/codegen method limits and
    fall back to interpreted evaluation.  Keep the fold.)"""
    del dim  # see docstring — static expansion measured slower
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """dot / ||a|| / ||b|| — the exact division order the oracle uses."""
    return dot(a, b) / norm(a) / norm(b)


# ------------------- Arrow-vectorized exact kernels (the hot path) -------
#
# The interpreted ``aggregate(zip_with())`` fold above is the REFERENCE
# semantics (and stays in use for documentation/audits), but Catalyst
# evaluates higher-order functions interpreted, never codegen'd — at
# real embedding dims it is the per-row bottleneck of every cosine
# operator.  These kernels compute the IDENTICAL index-ordered left
# fold in float64 over Arrow batches: ``cumsum`` is strictly sequential
# in numpy (unlike ``sum``, which is pairwise), and the trailing
# ``+ 0.0`` normalizes a -0.0 total exactly like the 0.0-seeded fold —
# verified bit-for-bit against the JVM fold on randomized
# mixed-magnitude float32 inputs, so the DuckDB oracles still hash
# exact.  Multiplication commutes bitwise in IEEE, so sign-row * vector
# matches the SQL argument order too.


def _stack_f8(s: pd.Series) -> np.ndarray:
    """(n, d) float64 matrix from an Arrow list<float> series — cast
    each element to double FIRST (the fold multiplies doubles)."""
    if len(s) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(s.to_numpy()).astype(np.float64)


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Strict left-fold dot per row: exactly ``aggregate(zip_with(a, b,
    (x, y) -> double(x) * double(y)), 0.0D, (acc, x) -> acc + x)``."""
    if A.shape[0] == 0:
        return np.empty(0, dtype=np.float64)
    return (A * B).cumsum(axis=1)[:, -1] + 0.0


_UDF_CACHE: dict = {}


def _cached_udf(key, builder):
    """pandas_udf construction needs an active SparkSession (the DDL
    return type is parsed through it), so the kernels are built lazily
    on first use and cached for the session's lifetime."""
    if key not in _UDF_CACHE:
        _UDF_CACHE[key] = builder()
    return _UDF_CACHE[key]


def vec_dot(a: Column, b: Column) -> Column:
    """Vectorized twin of :func:`dot` — bit-identical.  Measured at dim
    768 / array<float> / 200k rows (BENCH/KERNELS.md): single-fold
    surfaces (dot, norm) are a WASH vs the interpreted JVM fold (~0.9
    vs ~1.0 s warm — one fold's interpretation cost roughly equals one
    Arrow round trip), while multi-fold kernels (:func:`vec_bucket_array`
    24 folds/row, :func:`vec_centroid_dots`) win 7x+ because one Arrow
    transfer amortizes across all folds.  Co-projected pandas UDFs are
    NOT fused by Spark (each becomes its own ArrowEvalPython node and
    re-ships the vector), which is why the operators use the fused
    struct kernels (:func:`vec_norm_buckets`,
    :func:`vec_norm_centroid_dots`) for corpus prep and this per-pair
    kernel only on hydrated survivors."""

    def build():
        @pandas_udf("double")
        def _pair_dot_pd(x: pd.Series, y: pd.Series) -> pd.Series:
            return pd.Series(_fold_dot(_stack_f8(x), _stack_f8(y)))

        return _pair_dot_pd

    return _cached_udf("pair_dot", build)(a, b)


def vec_norm(v: Column) -> Column:
    def build():
        @pandas_udf("double")
        def _norm_pd(x: pd.Series) -> pd.Series:
            V = _stack_f8(x)
            return pd.Series(np.sqrt(_fold_dot(V, V)))

        return _norm_pd

    return _cached_udf("norm", build)(v)


def vec_pair_cosine(a: Column, b: Column) -> Column:
    """Fused per-pair cosine: ``fold(a,b) / sqrt(fold(a,a)) /
    sqrt(fold(b,b))`` in ONE Arrow pass — the same ``_fold_dot`` folds
    and the same division order as ``vec_dot / vec_norm / vec_norm``,
    and numpy double division is IEEE like the JVM's, so the value is
    bit-identical while the plan drops two ArrowEvalPython stages (the
    pre-join norm projections).  Norms are recomputed per PAIR instead
    of per row, so this kernel is for joins whose pair count is a small
    multiple of the row count (the broadcast-query top-k); the banded
    operators keep their per-row fused prep kernels."""

    def build():
        @pandas_udf("double")
        def _pair_cos_pd(x: pd.Series, y: pd.Series) -> pd.Series:
            A = _stack_f8(x)
            B = _stack_f8(y)
            with np.errstate(divide="ignore", invalid="ignore"):
                return pd.Series(
                    _fold_dot(A, B)
                    / np.sqrt(_fold_dot(A, A))
                    / np.sqrt(_fold_dot(B, B))
                )

        return _pair_cos_pd

    return _cached_udf("pair_cosine", build)(a, b)


def vec_bucket_array(vec: Column, planes: int, dim: int, n_tables: int) -> Column:
    """Vectorized twin of :func:`_bucket_array`: per-table sign-LSH
    bucket ids, one Arrow pass instead of tables x planes interpreted
    folds per vector (the dominant cost of the banded operators at
    multi-table knobs)."""
    S = np.array(
        [plane_signs(planes, dim, table=t) for t in range(n_tables)],
        dtype=np.float64,
    )  # (T, P, d)

    def build():
        @pandas_udf("array<long>")
        def f(v: pd.Series) -> pd.Series:
            V = _stack_f8(v)
            n = V.shape[0]
            if n == 0:
                return pd.Series([], dtype=object)
            buckets = np.zeros((n, S.shape[0]), dtype=np.int64)
            for t in range(S.shape[0]):
                for p in range(S.shape[1]):
                    dots = _fold_dot(V, np.broadcast_to(S[t, p], V.shape))
                    buckets[:, t] += (dots > 0).astype(np.int64) << p
            return pd.Series(list(buckets))

        return f

    return _cached_udf(("buckets", planes, dim, n_tables), build)(vec)


def vec_norm_buckets(
    vec: Column, planes: int, dim: int, n_tables: int
) -> Column:
    """Fused ``struct(nrm, buckets)`` kernel: norm + all per-table
    sign-LSH bucket ids in ONE Arrow pass.  Spark chains co-projected
    pandas UDFs as separate ArrowEvalPython nodes (the vector ships to
    Python once per UDF — measured plan: 2 nodes for norm + buckets),
    so the banded/ANN corpus prep pays the Arrow boundary twice unless
    the folds share a kernel.  Same ``_fold_dot`` — outputs are
    bit-identical to :func:`vec_norm` / :func:`vec_bucket_array`."""
    S = np.array(
        [plane_signs(planes, dim, table=t) for t in range(n_tables)],
        dtype=np.float64,
    )

    def build():
        @pandas_udf("nrm double, buckets array<long>")
        def f(v: pd.Series) -> pd.DataFrame:
            V = _stack_f8(v)
            n = V.shape[0]
            if n == 0:
                return pd.DataFrame(
                    {"nrm": pd.Series([], dtype="float64"),
                     "buckets": pd.Series([], dtype=object)}
                )
            nrm = np.sqrt(_fold_dot(V, V))
            buckets = np.zeros((n, S.shape[0]), dtype=np.int64)
            for t in range(S.shape[0]):
                for p in range(S.shape[1]):
                    dots = _fold_dot(V, np.broadcast_to(S[t, p], V.shape))
                    buckets[:, t] += (dots > 0).astype(np.int64) << p
            return pd.DataFrame({"nrm": nrm, "buckets": list(buckets)})

        return f

    return _cached_udf(("norm_buckets", planes, dim, n_tables), build)(vec)


def vec_norm_centroid_dots(vec: Column, signs: list[list[int]]) -> Column:
    """Fused ``struct(nrm, dots)`` kernel for the IVF prep — one Arrow
    pass instead of two chained ArrowEvalPython nodes; bit-identical
    outputs (same folds as :func:`vec_norm` / :func:`vec_centroid_dots`)."""
    S = np.array(signs, dtype=np.float64)  # (C, d)

    def build():
        @pandas_udf("nrm double, dots array<double>")
        def f(v: pd.Series) -> pd.DataFrame:
            V = _stack_f8(v)
            n = V.shape[0]
            if n == 0:
                return pd.DataFrame(
                    {"nrm": pd.Series([], dtype="float64"),
                     "dots": pd.Series([], dtype=object)}
                )
            nrm = np.sqrt(_fold_dot(V, V))
            out = np.empty((n, S.shape[0]), dtype=np.float64)
            for i in range(S.shape[0]):
                out[:, i] = _fold_dot(V, np.broadcast_to(S[i], V.shape))
            return pd.DataFrame({"nrm": nrm, "dots": list(out)})

        return f

    return _cached_udf(("norm_centroids", S.tobytes()), build)(vec)


def vec_centroid_dots(vec: Column, signs: list[list[int]]) -> Column:
    """Vectorized twin of the IVF centroid-dots array (same fold, same
    argument order — argmax/tie-break inputs are bit-identical)."""
    S = np.array(signs, dtype=np.float64)  # (C, d)

    def build():
        @pandas_udf("array<double>")
        def f(v: pd.Series) -> pd.Series:
            V = _stack_f8(v)
            n = V.shape[0]
            if n == 0:
                return pd.Series([], dtype=object)
            out = np.empty((n, S.shape[0]), dtype=np.float64)
            for i in range(S.shape[0]):
                out[:, i] = _fold_dot(V, np.broadcast_to(S[i], V.shape))
            return pd.Series(list(out))

        return f

    return _cached_udf(("centroids", S.tobytes()), build)(vec)


def _cosine(dot_ab: Column, norm_a: Column, norm_b: Column) -> Column:
    """``dot/||a||/||b||`` with a zero norm giving a NULL cosine (the
    fused kernels' answer) instead of an ANSI divide-by-zero error."""
    zero = F.lit(0.0)
    return (dot_ab / F.nullif(norm_a, zero) / F.nullif(norm_b, zero)).alias("cosine")


def cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float = 0.4,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, cosine >= threshold).

    Norms are computed once per vector *before* the O(n^2) join — the
    per-pair work is a single dot fold.  ``dot/||a||/||b||`` divides in
    the same order as the inline form, so results are bit-identical."""
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        vec_norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        vec_norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            _cosine(vec_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
    )


_BLAS_CAPPED = False


def _cap_blas_threads(n: int = 1) -> None:
    """Best-effort cap on OpenBLAS threading inside a Python worker.

    Task-level parallelism already saturates the cluster (one bucket
    group per task), so the kernel's Gram matmuls must run
    single-threaded: an uncapped OpenBLAS spawns nproc threads PER
    WORKER (32 workers x 32 threads here — measured as multi-second
    jitter on the banded query).  numpy offers no API for this and the
    env knob only works before the library loads, so the cap calls
    ``openblas_set_num_threads`` on the already-loaded shared object
    (guide §4.5 — per-task init, cached per worker process)."""
    global _BLAS_CAPPED
    if _BLAS_CAPPED:
        return
    _BLAS_CAPPED = True
    try:
        import ctypes
        import glob
        import os

        base = os.path.dirname(np.__file__)
        cands = (
            glob.glob(os.path.join(os.path.dirname(base), "numpy.libs", "*openblas*"))
            + glob.glob(os.path.join(base, ".libs", "*openblas*"))
        )
        for p in cands:
            try:
                lib = ctypes.CDLL(p)
            except OSError:
                continue
            for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                if hasattr(lib, sym):
                    getattr(lib, sym)(n)
                    return
    except Exception:  # noqa: BLE001 — the cap is an optimization
        pass


def _banded_pairs_kernel(threshold: float, id_dtype_is_object: bool = False):
    """Per-(table, bucket) all-pairs kernel for the banded cosine search.

    Each group holds the bucket's (id, vector) rows ONCE; the kernel
    emits only the surviving pairs.  Two phases:

    1. **Gram prefilter** (BLAS ``V @ V.T``): an *approximate* cosine
       per pair.  Any float64 dot product, regardless of summation
       order, satisfies ``|fl(dot) - dot| <= n*u*sum|a_i*b_i|`` with
       ``u = 2^-53``; dividing by the norms and applying Cauchy-Schwarz
       bounds the cosine discrepancy vs the sequential fold by
       ``~2*n*u ≈ 1.4e-14`` at dim 64.  The prefilter keeps every pair
       with approx cosine >= threshold - 1e-6 (a ~10^8x safety margin)
       plus every non-finite result — so no pair the exact fold would
       accept is ever dropped.
    2. **Exact fold on survivors**: the reference index-ordered left
       fold (:func:`_fold_dot`) + the same ``dot / na / nb`` division
       order, so emitted cosines are bit-identical to the interpreted
       JVM fold and the DuckDB oracle.

    The final keep mirrors Catalyst's ``cosine >= threshold`` NaN
    semantics (Spark orders NaN above every double, so NaN passes)."""
    margin = 1e-6

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        _cap_blas_threads(1)
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pdf["id"].iloc[:0],
                "id_b": pdf["id"].iloc[:0],
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ids_raw = pdf["id"].to_numpy()
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        V = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        nrm = np.sqrt(_fold_dot(V, V))
        out_a: list = []
        out_b: list = []
        out_c: list = []
        # chunk rows so the chunk x n Gram slab stays ~64 MB
        ch = max(1, int(8_000_000 // n))
        col_idx = np.arange(n)
        for s in range(0, n - 1, ch):
            e = min(s + ch, n)
            G = V[s:e] @ V.T
            with np.errstate(divide="ignore", invalid="ignore"):
                approx = G / nrm[s:e, None] / nrm[None, :]
            # upper triangle only (id_a < id_b) and NOT provably below
            # threshold (keeps NaN/inf for the exact pass to decide)
            mask = (col_idx[None, :] > (s + np.arange(e - s))[:, None]) & ~(
                approx < threshold - margin
            )
            ia, jb = np.nonzero(mask)
            if len(ia) == 0:
                continue
            ia = ia + s
            dots = _fold_dot(V[ia], V[jb])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / nrm[ia] / nrm[jb]
            keep = (cos >= threshold) | np.isnan(cos)
            # duplicate ids in the input never self-pair (the join form's
            # ``id_a < id_b``); sorted order makes this the only case
            # where ids[i] == ids[j] with i < j
            keep &= ids[ia] != ids[jb]
            out_a.append(ia[keep])
            out_b.append(jb[keep])
            out_c.append(cos[keep])
        if not out_a:
            return empty
        ia = np.concatenate(out_a)
        jb = np.concatenate(out_b)
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[jb], "cosine": np.concatenate(out_c)}
        )

    return kernel


def cosine_pairs_banded(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.4,
    planes: int = 4,
    dim: int = 64,
    n_tables: int = 1,
    eager_release: bool = True,
) -> DataFrame:
    """Sign-LSH-banded cosine near-dup pairs — the scale path.

    Candidate pairs are restricted to vectors sharing a sign-LSH bucket
    (``planes`` hyperplanes -> 2^planes buckets), so the compare count
    is sum over buckets of |bucket|^2/2 instead of n^2/2.  Exact cosine
    within the bucket, so there are no false positives; recall is the
    only loss axis.

    ``n_tables`` > 1 is the classic multi-table LSH recall lever: L
    INDEPENDENT hyperplane sets, candidates = union of per-table bucket
    collisions, pairs deduped before the threshold filter.  A pair with
    per-plane collision probability q survives one table with q^p but L
    tables with 1-(1-q^p)^L — measured on the sf0.01 corpus this lifts
    pair recall 0.20 (1 table) -> ~0.7 (8 tables); the recall/cost
    point is audited numerically by plans/recall.py against
    ``cosine_pairs``.

    Plan shape (optimization round 6): each vector ships to Python ONCE
    per (table, bucket) — posexplode of the bucket array feeds a
    ``groupBy(tbl, bucket).applyInPandas`` kernel that runs the whole
    bucket's pair search in one Arrow batch (BLAS Gram prefilter +
    exact fold on survivors, see :func:`_banded_pairs_kernel`) and
    emits only the pairs above threshold.  The previous join-based plan
    hydrated BOTH vectors per *candidate pair* through ArrowEvalPython
    — at sf1.0 (20k vectors, 6 tables, 8 buckets) that was ~150M
    candidate collisions x 1 KB of vector payload ≈ 150 GB across the
    Python boundary, measured 211-304 s; the grouped kernel ships
    ~40 MB and runs in seconds.  Survivors are ``distinct``-ed across
    tables (cosines are bit-identical in every table, so the tuple
    dedup equals the old pair-first dedup).  At 100 TB the per-bucket
    group is one task — size ``planes``/``n_tables`` so a bucket fits a
    task (the same knob that bounds the candidate quadratic)."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.posexplode(
            vec_bucket_array(F.col(vec_col), planes, dim, n_tables)
        ).alias("tbl", "bucket"),
    )
    result = (
        keyed.groupBy("tbl", "bucket")
        .applyInPandas(_banded_pairs_kernel(threshold), out_schema)
        .distinct()  # a pair colliding in several tables counts once
    )
    from .dedup import _finish

    return _finish(result, [], eager_release)


def _topk(joined: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def ann_bruteforce_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).  The
    query side is broadcast — the corpus is scanned exactly once and
    never shuffled until the per-query window.

    The whole cosine is one fused per-pair kernel
    (:func:`vec_pair_cosine`, r6): the old shape paid THREE
    ArrowEvalPython stages (a norm projection on each join side plus
    the per-pair dot) for the identical value; recomputing the norms
    per pair is vectorized noise because the query side is small by
    contract (pairs = |corpus| x |queries|)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    joined = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        vec_pair_cosine(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    return _topk(joined, k)


def _sign_row(row: list[int]) -> Column:
    """±1 row as ONE array literal built by a single JVM-parsed expr
    string.  Both ``F.array(*[F.lit(s) ...])`` AND ``F.lit([...])``
    (which desugars to the former) cost one py4j round-trip per element
    — measured 27 ms per 64-dim row vs 2 ms for the expr form; at 12
    tables × 4 planes that difference is seconds of driver-side plan
    build per query."""
    return F.expr(_sign_row_sql(row))


def _sign_row_sql(row: list[int]) -> str:
    return "array(" + ",".join(f"{float(s)}D" for s in row) + ")"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL-string twin of :func:`dot` — parses to the IDENTICAL Catalyst
    expression (ZipWith of double casts folded by aggregate from 0.0D),
    so results are bit-for-bit the same; exists purely to build large
    plane-bank expressions in ONE py4j call instead of thousands."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _bucket_sql(vec_sql: str, signs: list[list[int]]) -> str:
    """Sign-LSH bucket id of one hyperplane table as a SQL string (the
    single-call twin of :func:`lsh_bucket`)."""
    terms = [
        f"(CASE WHEN {_dot_sql(_sign_row_sql(row), vec_sql)} > 0 "
        f"THEN {1 << p}L ELSE 0L END)"
        for p, row in enumerate(signs)
    ]
    return " + ".join(terms)


def _bucket_array(vec_sql: str, planes: int, dim: int, n_tables: int) -> Column:
    """Array of per-table sign-LSH bucket ids, built as ONE parsed
    expression (build cost: one py4j call regardless of tables×planes)."""
    return F.expr(
        "array("
        + ",".join(
            _bucket_sql(vec_sql, plane_signs(planes, dim, table=t))
            for t in range(n_tables)
        )
        + ")"
    )


def _centroid_dots(vec: Column, signs: list[list[int]]) -> Column:
    """Array of dot(centroid_i, v) for the deterministic ±1 centroids.
    All centroids share norm sqrt(dim), so argmax dot == argmax cosine."""
    return F.array(*[dot(_sign_row(row), vec) for row in signs])


def ivf_cells(vec: Column, signs: list[list[int]], nprobe: int) -> list[Column]:
    """1-based indexes of the ``nprobe`` nearest centroids (first-max
    tie-break — IEEE-exact, so any engine reproduces the assignment)."""
    dots = _centroid_dots(vec, signs)

    def _mask(arr: Column, taken: Column) -> Column:
        return F.transform(
            arr,
            lambda x, i: F.when(i + 1 == taken, F.lit(float("-inf"))).otherwise(x),
        )

    cells: list[Column] = []
    masked = dots
    for _ in range(nprobe):
        cell = F.array_position(masked, F.array_max(masked))
        cells.append(cell)
        masked = _mask(masked, cell)
    return cells


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF-flavored approximate top-k: an inverted file over a coarse
    quantizer.  Corpus vectors are assigned to their nearest centroid
    (cell); each query probes its ``nprobe`` nearest cells and ranks
    exact cosine within them.

    The coarse quantizer uses FIXED deterministic ±1 centroids (md5
    nibble parity, like the LSH planes) rather than trained k-means —
    that keeps the whole operator a pure Catalyst plan with an exact
    SQL oracle; swap ``plane_signs`` for trained centroids at
    deployment without touching the plan.  At 100 TB the corpus is
    scanned once to build (cell, vector) and the probe join is an
    equi-join on cell — candidates ∝ corpus/n_cells·nprobe per query,
    never all-pairs.  Recall < 1 by construction; audit against
    ann_bruteforce_topk (plans/recall.py).

    The nprobe walk BINDS each masked-dots intermediate as a real
    column (``withColumn``) instead of nesting the ``ivf_cells``
    expressions: the inline form duplicates the whole centroid-dots
    tree ~3× per probe level (array_position + array_max + the next
    mask each re-reference it), and Catalyst analysis of that ~3^nprobe
    blow-up measured 6-7 s PER QUERY at nprobe=4.  CollapseProject
    keeps non-cheap bound columns un-inlined, so the plan stays
    linear in nprobe."""
    signs = plane_signs(n_cells, dim)
    # fused struct kernel: norm + centroid dots in ONE Arrow pass per
    # side (co-projected pandas UDFs chain as separate ArrowEvalPython
    # nodes and would ship every vector twice)
    nd = vec_norm_centroid_dots(F.col(vec_col), signs)
    c0 = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        nd.alias("__nd"),
    ).select(
        "neighbor_id", "cv",
        F.col("__nd.nrm").alias("cn"), F.col("__nd.dots").alias("__m0"),
    )
    c = c0.select(
        "neighbor_id", "cv", "cn",
        F.array_position(F.col("__m0"), F.array_max(F.col("__m0"))).alias("cell"),
    )
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        nd.alias("__nd"),
    ).select(
        "query_id", "qv",
        F.col("__nd.nrm").alias("qn"), F.col("__nd.dots").alias("__m0"),
    )
    cell_cols: list[str] = []
    m_prev = "__m0"
    for j in range(1, nprobe + 1):
        cell = f"__cell{j}"
        q0 = q0.withColumn(
            cell,
            F.array_position(F.col(m_prev), F.array_max(F.col(m_prev))),
        )
        cell_cols.append(cell)
        if j < nprobe:

            def _mask(cell_name: str):
                return lambda x, i: F.when(
                    i + 1 == F.col(cell_name), F.lit(float("-inf"))
                ).otherwise(x)

            m_next = f"__m{j}"
            q0 = q0.withColumn(
                m_next, F.transform(F.col(m_prev), _mask(cell))
            )
            m_prev = m_next
    q = q0.select(
        "query_id", "qv", "qn",
        F.explode(F.array(*[F.col(cc) for cc in cell_cols])).alias("cell"),
    )
    joined = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(vec_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
        )
    )
    return _topk(joined, k)


def lsh_bucket(vec: Column, signs: list[list[int]]) -> Column:
    """Sign-LSH bucket id: bit p set iff dot(plane_p, v) > 0."""
    bucket = None
    for p, row in enumerate(signs):
        bit = F.when(dot(_sign_row(row), vec) > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    planes: int = DEFAULT_PLANES,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket.  Equi-join on the bucket id replaces the cross join — the
    scale path (recall < 1 by construction; audit vs brute force).

    ``n_tables`` > 1: multi-table LSH (see ``cosine_pairs_banded``) —
    candidates are the union of per-table bucket collisions, deduped
    per (query, neighbor) before ranking.  The recall lever for
    weakly-clustered corpora, where a single table's bucket rarely
    captures enough of the true top-k (measured 0.0 -> ~0.7 recall@5
    on the sf0.01 corpus at planes=4, tables=8; plans/recall.py).

    Multi-table plan shape: candidate (query, neighbor) ids are deduped
    BEFORE the cosine — the per-collision-cosine-then-distinct form
    runs the interpreted dot fold ``n_tables``× per candidate (see
    ``cosine_pairs_banded``).  The deduped candidate set (bounded by
    |queries| × bucket occupancy) is re-hydrated with the query vector
    and broadcast against the corpus, so the corpus-side cosine + norm
    are evaluated only on join survivors and the corpus is never
    shuffled."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    buckets = vec_bucket_array(F.col(vec_col), planes, dim, n_tables)
    if n_tables <= 1:
        nb = vec_norm_buckets(F.col(vec_col), planes, dim, n_tables)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            nb.alias("__nb"),
        ).select(
            "query_id", "qv", F.col("__nb.nrm").alias("qn"),
            F.posexplode(F.col("__nb.buckets")).alias("tbl", "bucket"),
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            nb.alias("__nb"),
        ).select(
            "neighbor_id", "cv", F.col("__nb.nrm").alias("cn"),
            F.posexplode(F.col("__nb.buckets")).alias("tbl", "bucket"),
        )
        joined = (
            c.join(F.broadcast(q), ["tbl", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id",
                "neighbor_id",
                _cosine(vec_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")),
            )
        )
        return _topk(joined, k)

    q_keys = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(buckets).alias("tbl", "bucket"),
    )
    c_keys = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(buckets).alias("tbl", "bucket"),
    )
    cand = (
        c_keys.join(F.broadcast(q_keys), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # multi-table collisions count once
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
    )
    joined = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        )
        .join(F.broadcast(cand.join(q_vec, "query_id")), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            # one fused kernel for dot/qn/cn (r6): the unfused form was
            # three ArrowEvalPython stages (per-pair dot, corpus-side
            # norm, query-norm precompute) shipping cv twice; the fold
            # and division order are identical, so the double is
            # bit-identical (see vec_pair_cosine)
            vec_pair_cosine(F.col("qv"), F.col("cv")).alias("cosine"),
        )
    )
    return _topk(joined, k)
