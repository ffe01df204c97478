"""Document deduplication operators for web-scale corpus curation.

Four families, all expressed as declarative DataFrame plans (no Python
in the hot path) so Catalyst/AQE pick the physical strategy:

- **Exact**: hash-groupBy on md5(text) — one shuffle, map-side partial
  aggregation collapses duplicate-heavy partitions before the exchange.
- **N-gram Jaccard** (ground truth): word-shingle inverted index
  self-join; pairs sharing a shingle get ``|A∩B| / (|A|+|B|-|A∩B|)``.
  The ``max_df`` knob drops stop-shingles (document frequency cap) —
  at 100 TB the inverted index is Zipfian and the hottest shingle would
  otherwise produce a quadratic pair blow-up on one reducer.
- **MinHash + LSH**: k independent min-hashes per shingle set (min of
  md5(seed:shingle) — a random-permutation surrogate that any SQL engine
  reproduces), banded so that only band-collision candidates are
  verified with true Jaccard.  Verification joins the shingle index
  *through the candidate list* (candidate-restricted), so verify cost
  scales with candidates, not with |docs|².
- **SimHash**: 32-bit sign-of-weighted-bit-sums fingerprint per doc;
  candidates blocked on 8-bit bands (pigeonhole: hamming ≤ 3 implies an
  identical band), hamming-filtered via ``bit_count(xor)``, then
  Jaccard-verified.

No reference counterpart (the reference's dedup is event-replay dedup,
BigQueryEventConsumer.java:626-648); these are the training-data-pipeline
operators mandated alongside the CDC engine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import hash32, tokens

SIMHASH_BITS = 32
SIMHASH_BAND_BITS = 8


def shingle_array(toks: Column, k: int = 3) -> Column:
    """Word k-shingles over a TOKEN-ARRAY column: ``concat_ws(' ',
    toks[i:i+k])`` for every window; short docs yield one (partial)
    shingle.  Pass a bound column (``withColumn`` first), not a raw
    ``split(...)`` expression — an outer expression referenced inside a
    transform lambda is re-evaluated PER ELEMENT (the HOF-capture
    pitfall; measured 13s -> 0.8s on the n-gram twin of this function)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) with per-doc distinct shingles (set semantics).

    The explode MUST sit in the same projection as the shingling chain:
    splitting them into two selects lets the Generate inline the array
    expression and re-evaluate the interpreted HOF chain per OUTPUT
    element (the shingle_array docstring's capture pitfall, measured
    1.3 s -> 23 s at sf1.0 in r6).  Callers that also want the array
    form derive the exploded index from a PERSISTED
    :func:`shingle_sets` instead — the cache boundary cuts the
    expression, so the explode reads materialized arrays."""
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(shingle_array(F.col("__toks"), k))
            ).alias("shingle"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, sh_set) — the per-doc DISTINCT shingle set as one array row.
    The array form is the cache/join currency of the pair operators
    (r6): persisting (id, array) costs the same bytes as the exploded
    index but hydrates a candidate pair in one row per side, and
    ``array_intersect`` computes |A∩B| without re-exploding.  ALWAYS
    persist this frame before deriving an exploded index from it (see
    :func:`shingles` — an un-materialized two-step explode re-runs the
    HOF chain per element)."""
    return df.withColumn("__toks", tokens(F.col(text_col))).select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingle_array(F.col("__toks"), k)).alias("sh_set"),
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: one row per distinct text, min-id survivor + count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _finish(result: DataFrame, releases: list, eager_release: bool) -> DataFrame:
    """Persist-hygiene epilogue shared by the dedup/similarity pair
    operators: the persisted shingle/signature/projection indexes are
    each justified (consumed 2-3x by interpreted HOF chains — measured),
    but a long-lived session running many queries (bench.py, a
    production driver) would otherwise accrete cached partitions until
    eviction pressure causes recomputation storms elsewhere.

    ``eager_release=True`` (production default): materialize the SMALL
    pair result once (``localCheckpoint(eager=True)`` — checkpointed
    blocks are reclaimed by the ContextCleaner when the result is GC'd),
    then unpersist every index immediately — storage occupancy stays
    flat across repeated queries.  Pass ``False`` to keep the lazy plan
    (plan-shape tests, or callers composing further before the action —
    they inherit the release responsibility)."""
    if not eager_release:
        return result
    result = result.localCheckpoint(eager=True)
    for df in releases:
        df.unpersist()
    return result


def _pair_jaccard(
    sh: DataFrame, pairs: DataFrame | None, threshold: float,
    releases: list | None = None,
) -> DataFrame:
    """Jaccard for (id_a, id_b) pairs from a shingle index.  With
    ``pairs`` given, the intersection join is candidate-restricted.

    The shingle index is PERSISTED: it is consumed 3x (both self-join
    sides + per-doc counts) and the shingling expression is a chain of
    higher-order functions (transform/slice/concat_ws) that Spark
    evaluates interpreted, not codegen'd — measured 2.5s/pass on 5k
    docs, so recomputation, not the join, dominated the query.  The
    persisted handle is appended to ``releases`` for the caller's
    eager-release epilogue (:func:`_finish`)."""
    sh = sh.persist()
    if releases is not None:
        releases.append(sh)
    cnt = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if pairs is None:
        # the inverted-index self-join is corpus-sized on BOTH sides —
        # force a shuffled hash join (guide §3.1): Catalyst's size
        # estimate for the exploded index flows from the small pre-
        # explode scan, and the resulting broadcast of the multi-
        # million-row index measured 26-30 s vs ~2.5 s shuffled
        # (r6; the estimate, not the data, is what's small)
        common = (
            sh.alias("a").hint("shuffle_hash")
            .join(
                sh.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        common = (
            pairs.join(sh.alias("sa"), F.col("sa.id") == F.col("id_a"))
            .join(
                sh.alias("sb"),
                (F.col("sb.id") == F.col("id_b"))
                & (F.col("sa.shingle") == F.col("sb.shingle")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    j = (
        common.join(cnt.alias("ca"), F.col("ca.id") == F.col("id_a"))
        .join(cnt.alias("cb"), F.col("cb.id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("common")
                / (F.col("ca.n") + F.col("cb.n") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def _pair_jaccard_sets(
    sets: DataFrame, pairs: DataFrame, threshold: float
) -> DataFrame:
    """Candidate-restricted Jaccard over per-doc shingle ARRAYS (r6).

    The exploded-index form (:func:`_pair_jaccard` with ``pairs``)
    expands every candidate pair through the (id, shingle) index twice
    — at sf1.0 that is two multi-million-row joins plus a pair-count
    aggregation, measured 4.3 s of the minhash query.  Hydrating the
    two DISTINCT shingle arrays per pair and intersecting them in one
    projection produces the identical |A∩B| (both sides are distinct
    sets, so every common shingle matched exactly once in the join
    form) and the identical ``common / (na + nb - common)`` division —
    integer sizes convert to double exactly, so the jaccard doubles are
    bit-identical and the oracle hash is unchanged.  A pair with zero
    common shingles yields jaccard 0 here where the join form dropped
    the group — both fall to the same >=threshold filter.

    Join shape: shuffled hash joins keyed on the doc id — hinted, so a
    bad pre-materialization size estimate of the cached array frame can
    never pick a broadcast of the corpus-sized sets side (the candidate
    list is collision-bounded but the SETS side scales with the
    corpus)."""
    a = sets.select(F.col("id").alias("id_a"), F.col("sh_set").alias("__sa"))
    b = sets.select(F.col("id").alias("id_b"), F.col("sh_set").alias("__sb"))
    j = (
        pairs.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("__sa"), F.col("__sb"))).alias(
                "common"
            ),
            F.size(F.col("__sa")).alias("na"),
            F.size(F.col("__sb")).alias("nb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    eager_release: bool = True,
) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup pairs (the ground truth the
    LSH variants approximate).  ``max_df`` caps shingle document
    frequency to kill the hot-shingle quadratic blow-up at scale."""
    releases: list = []
    sh = shingles(df, id_col, text_col, k)
    if max_df is not None:
        sh = sh.persist()  # scanned for df stats AND by the filtered index
        releases.append(sh)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return _finish(
        _pair_jaccard(sh, None, threshold, releases), releases, eager_release
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    eager_release: bool = True,
) -> DataFrame:
    """MinHash signatures -> banded LSH candidates -> Jaccard verify.

    The min-hash for seed ``h`` is ``min(md5('h:' || shingle))`` — the
    lexicographic min over an md5-keyed ordering of the shingle set, a
    standard permutation surrogate that is exactly reproducible in any
    engine with md5.  One aggregation computes all ``num_hashes`` mins
    (map-side partial agg); candidates join on (band index, band hash).

    The corpus is tokenized ONCE into persisted per-doc shingle ARRAYS
    (:func:`shingle_sets`): the signature aggregation explodes the
    cached arrays (a cheap JVM explode — the expensive interpreted-HOF
    shingling is not recomputed) and the Jaccard verify hydrates the
    same arrays per candidate pair (:func:`_pair_jaccard_sets`) instead
    of re-joining the exploded index."""
    r = num_hashes // bands
    sets = shingle_sets(df, id_col, text_col, k).persist()
    sh = sets.select("id", F.explode("sh_set").alias("shingle"))
    sig = sh.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{h}:"), F.col("shingle")))).alias(f"mh_{h}")
            for h in range(num_hashes)
        ]
    )
    band_vals = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh_{b * r + i}") for i in range(r)]))
            for b in range(bands)
        ]
    )
    # one row per doc; persisted because the candidate self-join consumes
    # it twice and the signature aggregation above it is the query's
    # most expensive stage
    banded = sig.select(
        "id", F.posexplode(band_vals).alias("band_idx", "band_val")
    ).persist()
    releases: list = [sets, banded]
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _finish(
        _pair_jaccard_sets(sets, cand, threshold), releases, eager_release
    )


def _simhash_from_features(feat: DataFrame, feat_col: str) -> DataFrame:
    """32-bit SimHash over a (id, feature) relation: bit b of the
    fingerprint is set iff more than half the features have bit b set
    in their 32-bit hash (+1/-1 majority vote)."""
    h = feat.withColumn("h", hash32(F.col(feat_col)))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c_{b}")
        for b in range(SIMHASH_BITS)
    ]
    bits = h.groupBy("id").agg(*aggs)
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"c_{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return bits.select("id", sim.alias("simhash"), F.col("n").alias("n_tokens"))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 32-bit SimHash over the distinct-token set (standalone
    fingerprint utility; ``simhash_pairs`` fingerprints over SHINGLES
    instead — see its docstring for why)."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("token"),
    )
    return _simhash_from_features(tok, "token")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    max_hamming: int = 2,
    threshold: float = 0.5,
    eager_release: bool = True,
) -> DataFrame:
    """SimHash-blocked near-dup pairs: band-join candidates (4 x 8-bit
    bands — complete for hamming <= 3 by pigeonhole), hamming filter via
    ``bit_count(xor)``, then candidate-restricted Jaccard verify.

    The fingerprint is computed over word k-SHINGLES, not unigram
    tokens: documents drawn from a shared vocabulary have near-identical
    per-bit token majorities, which collapses unigram SimHash into a few
    mega-clusters (measured: 777k candidate pairs within hamming<=2 over
    5k docs — quadratic blow-up).  Shingles are document-specific, so
    only true near-dups collide; the same persisted shingle-ARRAY index
    (r6: tokenized once, explode is a cheap JVM pass over the cache)
    feeds both the fingerprint and the array-intersect Jaccard verify —
    one feature pass for the whole query."""
    sets = shingle_sets(df, id_col, text_col, k).persist()
    sh = sets.select("id", F.explode("sh_set").alias("shingle"))
    releases: list = [sets]
    sim = _simhash_from_features(sh, "shingle")
    n_bands = SIMHASH_BITS // SIMHASH_BAND_BITS
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), i * SIMHASH_BAND_BITS).bitwiseAND(
                F.lit((1 << SIMHASH_BAND_BITS) - 1)
            )
            for i in range(n_bands)
        ]
    )
    # persisted: consumed by both sides of the candidate self-join, and
    # the simhash bit-vote aggregation feeding it is the expensive stage
    banded = sim.select(
        "id", "simhash", F.posexplode(bands).alias("band_idx", "band_val")
    ).persist()
    releases.append(banded)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    verified = _pair_jaccard_sets(sets, cand.select("id_a", "id_b"), threshold)
    result = verified.join(cand, ["id_a", "id_b"]).select(
        "id_a", "id_b", "hamming", "jaccard"
    )
    return _finish(result, releases, eager_release)


def _bloom_positions(h: "object", m_bits: int, k: int):
    """k double-hash bit positions per 64-bit hash (numpy, vectorized):
    ``(h1 + i*h2) mod m`` with h1/h2 derived from the xxhash64 value —
    the standard Kirsch-Mitzenmacher construction."""
    hh = h.astype(np.uint64)
    h1 = hh % np.uint64(m_bits)
    h2 = (hh >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)) for i in range(k)
    ]


def incremental_dedup_bloom(
    new_df: DataFrame,
    history_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Incremental-ingest dedup: rows of ``new_df`` whose ``text_col``
    does NOT appear in ``history_df`` — the nightly-crawl-vs-100TB-corpus
    pattern, where joining every new document against the full history
    is the thing to avoid.

    Scale shape (bloom prefilter + exact verify, output EXACT):

    1. history's ``xxhash64(text)`` values fold into per-partition bloom
       bitmaps inside Arrow batches (``mapInPandas``, vectorized numpy
       bit-sets), OR-reduced on the driver — ``m_bits/8`` bytes per
       partition travel, never the hashes themselves.  (At 10^12-row
       history you'd treeReduce the OR instead of driver-reducing; the
       per-partition fold is the same.)
    2. the bitmap broadcasts to executors; a vectorized pandas UDF marks
       each new doc maybe-dup / definitely-new.  Definitely-new rows
       SKIP the join entirely — no false negatives by construction.
    3. only maybe-dup rows (true dups + ~fpp of new) take the exact
       LEFT ANTI join against history texts, which rescues bloom false
       positives — so the result equals the plain anti-join bit-for-bit
       (the DuckDB oracle runs exactly that NOT EXISTS).
    """
    spark = new_df.sparkSession
    n_bytes = m_bits // 8
    hist_h = history_df.select(F.xxhash64(F.col(text_col)).alias("h"))

    def fold(batches):
        bm = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for pos in _bloom_positions(pdf["h"].to_numpy(), m_bits, k):
                np.bitwise_or.at(
                    bm, (pos >> np.uint64(3)).astype(np.int64),
                    np.left_shift(
                        np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                    ),
                )
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = hist_h.mapInPandas(fold, "bm binary").collect()
    bitmap = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def maybe_dup(hs: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        out = np.ones(len(hs), dtype=bool)
        for pos in _bloom_positions(hs.to_numpy(), m_bits, k):
            byte = bm[(pos >> np.uint64(3)).astype(np.int64)]
            bit = np.left_shift(
                np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
            )
            out &= (byte & bit) != 0
        return pd.Series(out)

    tagged = new_df.withColumn(
        "_maybe", maybe_dup(F.xxhash64(F.col(text_col)))
    )
    definite_new = tagged.filter(~F.col("_maybe")).drop("_maybe")
    rescued = (
        tagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(
            history_df.select(F.col(text_col).alias("_ht")).distinct(),
            F.col(text_col) == F.col("_ht"),
            "left_anti",
        )
    )
    return definite_new.unionByName(rescued)


def dedup_stream(
    docs, id_col: str, text_col: str, ts_col: str, watermark: str = "10 minutes"
):
    """Ingest-time exact dedup of a streaming document source: the first
    arrival of each content hash passes, replays/duplicates within the
    watermark horizon are dropped, and state is evicted once the
    watermark passes (bounded memory — the reason this beats a naive
    ``dropDuplicates``, whose state grows forever on an unbounded
    corpus).  Built on ``dropDuplicatesWithinWatermark`` so the engine
    keys state on the 16-byte content hash, never the payload."""
    return (
        docs.withColumn("_content_md5", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_md5"])
        .drop("_content_md5")
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Explicitly free a ``localCheckpoint``'ed frame's storage blocks.

    ``DataFrame.unpersist()`` cannot reach them (checkpoint blocks are
    RDD-cached, not CacheManager-cached), so without this every
    iterative round's checkpoint lingers until driver GC — which
    accretes across repeated ``near_dup_clusters`` calls in a
    long-lived session.  The frame is DEAD after release (its plan is a
    scan of the freed RDD); only call on intermediates nothing else
    references.  Best-effort: if the internal handle shifts across
    Spark versions, blocks fall back to ContextCleaner-on-GC, the
    pre-existing behavior."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — release is an optimization
        pass


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star contraction round (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", CC-MR variant).
    ``edges`` is a distinct directed edge list with src != dst; output
    is the contracted edge list with the same connected components.

    - large-star(u): connect every strictly-larger neighbor of u to
      min(N(u) + {u}) — per node, emitted as a groupBy-min + join.
    - small-star(u): orient edges u > v, connect every small neighbor
      AND u itself to min(N<=(u)).

    Both halves are a shuffle-agg + a shuffle-join + a distinct; the
    alternation converges in O(log^2 n) rounds for ANY diameter (~10
    rounds for a diameter-1000 path, measured in tests)."""
    # Each half computes a per-src neighborhood min and re-attaches it
    # to every row of the group — a WINDOW min over partitionBy(src)
    # (one exchange), not a groupBy + re-join (two).  r6: this halves
    # the exchanges per round; the per-round edge SET (and therefore
    # the fixpoint signature and round count) is unchanged — large-star
    # emits the identical multiset, and small-star's per-edge (src, m)
    # duplicates collapse in the round's trailing distinct exactly as
    # the old per-src union rows did.
    wsrc = Window.partitionBy("src")
    # ---- large-star
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    large = (
        # the min must see ALL neighbors (also the smaller ones), so the
        # window sits above the union and below the dst > src filter
        nbrs.withColumn("m", F.least(F.min("dst").over(wsrc), F.col("src")))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # ---- small-star
    oriented = large.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    small = (
        oriented.withColumn("m", F.min("dst").over(wsrc))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("v"), F.col("m")),
                    F.struct(F.col("src").alias("v"), F.col("m")),
                )
            ).alias("e")
        )
        .filter(F.col("e.v") != F.col("e.m"))
        .select(F.col("e.v").alias("src"), F.col("e.m").alias("dst"))
        .distinct()
    )
    return small


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    label_rounds: int = 8,
    max_iter: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph -> one row per
    vertex ``(id, component)``, where ``component`` is the component's
    minimum vertex id (a canonical, engine-independent labeling).

    This is the cluster-formation step of near-dup dedup: pair
    operators (minhash_lsh_pairs, simhash_pairs, cosine banded) emit
    edges, and training-data curation keeps ONE canonical document per
    component — pairs alone under-delete whenever A~B and B~C but the
    A/C pair fell under the threshold (reference behavior is pairwise
    only; this operator is the transitive closure a real pipeline
    applies on top).

    Two phases, picked automatically by the data:

    1. **Min-label propagation** for up to ``label_rounds`` rounds:
       labels flow across edges, every vertex keeps the minimum seen.
       ONE map-side-combinable shuffle per round; round count = graph
       diameter.  Near-dup graphs are clique-like (diameter 2-3
       measured on the sf corpora), so this converges in 3-4 rounds
       and is the fastest path for the common case.
    2. **Large-star/small-star contraction** (Kiveris et al.,
       "Connected Components in MapReduce and Beyond") when phase 1
       hasn't converged: O(log^2 n) rounds for ANY diameter — a
       100 TB crawl with templated chain spam (mirrored pagination)
       degrades gracefully instead of running diameter-many rounds.
       Final labeling is identical (min vertex id per component).

    Storage hygiene: each round materializes via ``localCheckpoint``
    (truncating the exponentially-growing iterative lineage) and the
    PREVIOUS round's checkpoint blocks are released explicitly
    (:func:`_release_checkpoint`) — peak storage is ~2x the frontier
    regardless of round count, nothing accretes until GC.  The
    RETURNED frame is itself a fresh checkpoint (the :func:`_finish`
    contract): its blocks are reclaimed by the ContextCleaner when the
    caller drops the reference.

    ``max_iter`` bounds phase-2 rounds — with the O(log^2 n) bound it
    is unreachable for any physical input; kept as a hard rail so a
    logic bug can never silently spin."""
    if stats is None:
        stats = {}
    stats["label_rounds"] = 0
    stats["star_rounds"] = 0
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .union(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        .persist()
    )
    # Size-adaptive iteration width (r6): every round is a chain of
    # shuffles whose MAP task count is inherited from the frontier's
    # partitioning, and on a small pair graph (near-dup graphs are
    # pairs-above-threshold, usually tiny relative to the corpus) a
    # dozen rounds of full-width 32-task stages are pure scheduling
    # overhead — measured 12.5 s -> ~5 s on the adversarial deep graph.
    # ~250k edges per partition keeps per-task work modest; a billion-
    # edge graph still iterates at full cluster width.  The count also
    # materializes the persisted edge cache before iteration starts.
    n_edges = edges.count()
    edges_p = edges  # the persisted handle (coalesce wraps it below)
    width = max(1, min(
        edges.sparkSession.sparkContext.defaultParallelism,
        n_edges // 250_000 + 1,
    ))
    if width < edges.rdd.getNumPartitions():
        edges = edges.coalesce(width)  # narrow dependency — no shuffle
    vertices = edges.select(F.col("src").alias("id")).distinct()
    try:
        return _cc_iterate(edges, vertices, label_rounds, max_iter, stats, width)
    finally:
        edges_p.unpersist()


def _cc_iterate(
    edges: DataFrame,
    vertices: DataFrame,
    label_rounds: int,
    max_iter: int,
    stats: dict,
    width: int,
) -> DataFrame:
    """The iterative phases of :func:`connected_components`, run under
    size-adapted shuffle settings.

    Every round is ~7 sequential shuffle stages over the frontier; on a
    SMALL graph (width below cluster parallelism) the wall is pure
    per-stage scheduling — 32-wide shuffles and AQE's per-stage
    re-planning round trips, not data.  Measured on the adversarial
    deep graph (22k edges, 12 rounds): 11.0 s at session defaults,
    5.8 s at shuffle.partitions=4 with AQE off.  The overrides are
    derived from the MEASURED edge count (never constants tuned to one
    box), applied only when the graph is small, and restored in
    ``finally`` — a billion-edge graph iterates at full session width
    with AQE skew handling intact."""
    sess = edges.sparkSession
    conf = sess.conf
    small = width < sess.sparkContext.defaultParallelism
    orig_sp = conf.get("spark.sql.shuffle.partitions")
    orig_aqe = conf.get("spark.sql.adaptive.enabled")
    try:
        if small:
            conf.set("spark.sql.shuffle.partitions", str(max(4, width)))
            conf.set("spark.sql.adaptive.enabled", "false")
        return _cc_rounds(
            edges, vertices, label_rounds, max_iter, stats, fuse=small
        )
    finally:
        conf.set("spark.sql.shuffle.partitions", orig_sp)
        conf.set("spark.sql.adaptive.enabled", orig_aqe)


def _cc_rounds(
    edges: DataFrame,
    vertices: DataFrame,
    label_rounds: int,
    max_iter: int,
    stats: dict,
    *,
    fuse: bool = False,
) -> DataFrame:

    # ---------------------------------------------- phase 1: min-label
    prev_cp = vertices.withColumn("component", F.col("id")).localCheckpoint(
        eager=True
    )
    labels = prev_cp
    converged = False
    for _ in range(label_rounds):
        stats["label_rounds"] += 1
        msgs = edges.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "component"
        )
        # ONE action per round: the checkpoint is lazy, so the
        # convergence count below is what materializes it — the filter
        # scans every partition, pinning all blocks, and the round pays
        # a single job instead of materialize-then-rescan.
        stepped = (
            labels.select("id", "component")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .join(
                labels.select("id", F.col("component").alias("_prev")), "id"
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("component") != F.col("_prev")).count()
        _release_checkpoint(prev_cp)
        prev_cp = stepped
        labels = stepped.select("id", "component")
        if changed == 0:
            converged = True
            break

    # ------------------------- phase 2: large-star/small-star fallback
    if not converged:
        _release_checkpoint(prev_cp)
        star_cp = edges.distinct().localCheckpoint(eager=True)
        # fixpoint signature: (edge count, order-independent xxhash64
        # sum) computed in one agg job over the checkpointed blocks —
        # equal signatures on a distinct edge set mean the set is
        # unchanged (a 2^-64 collision would be caught by the oracle
        # tests downstream).
        sig = tuple(
            star_cp.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
            ).first()
        )
        # Small-graph action fusion (r6): when the graph iterates below
        # cluster width the per-round wall is job submission + py4j +
        # the convergence agg, not data — so run TWO contraction rounds
        # per convergence check.  Each round KEEPS its own lazy
        # localCheckpoint: the checkpoint DataFrame is one shared RDD,
        # so the second round's multiple references to the first round's
        # output compute it once inside the same job (composing the raw
        # Catalyst trees instead copies the subtree per reference and
        # re-runs round one several times — measured 6 s -> 23 s).  The
        # fused check stays sound: _star_round is a DETERMINISTIC
        # function of the edge set, so sig(t+2) == sig(t) with
        # sig(t+1) != sig(t) would be a period-2 cycle that never
        # converges, contradicting the Kiveris et al. convergence
        # theorem — equal fused signatures therefore imply the fixpoint,
        # identically to the per-round check.  At production width
        # (fuse=False) the per-round check is kept: an extra no-op round
        # over a billion-edge graph costs real compute there, while the
        # saved driver actions are trivia.
        per_step = 2 if fuse else 1
        # ceiling division: an odd max_iter still gets its last round
        for _ in range(-(-max_iter // per_step)):
            stats["star_rounds"] += per_step
            # lazy checkpoints: the sig agg (which scans every
            # partition) is the materializing action for the whole step
            # — one job per step, not one per round plus one per agg
            mid_cp = None
            new_cp = _star_round(star_cp).localCheckpoint(eager=False)
            if per_step == 2:
                mid_cp = new_cp
                new_cp = _star_round(mid_cp).localCheckpoint(eager=False)
            new_sig = tuple(
                new_cp.agg(
                    F.count(F.lit(1)),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)"))
                ).first()
            )
            _release_checkpoint(star_cp)
            if mid_cp is not None:
                _release_checkpoint(mid_cp)
            star_cp = new_cp
            if new_sig == sig:
                converged = True
                break
            sig = new_sig
        if not converged:
            _release_checkpoint(star_cp)
            # (edge cache released by connected_components' finally)
            raise RuntimeError(
                "connected_components did not converge in "
                f"{stats['star_rounds']} star rounds (max_iter={max_iter}) "
                "— impossible for a finite graph; indicates "
                "a logic bug, not an input property"
            )
        # fixpoint is a star forest: every non-root points straight at
        # its component min; roots have no out-edge.
        labels = vertices.join(
            star_cp.select(
                F.col("src").alias("id"), F.col("dst").alias("component")
            ),
            "id",
            "left",
        ).select("id", F.coalesce("component", "id").alias("component"))
        prev_cp = star_cp

    result = labels.localCheckpoint(eager=True)
    _release_checkpoint(prev_cp)
    # (edge cache released by connected_components' finally)
    return result


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup cluster assignment over a document corpus: MinHash-LSH
    verified pairs -> connected components -> ``(doc_id, cluster_id,
    cluster_size)`` for every document that belongs to a near-dup
    cluster (size >= 2 by construction — singletons never appear in the
    pair graph).  ``cluster_id`` is the cluster's minimum doc id;
    curation keeps ``doc_id == cluster_id`` rows and drops the rest."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col,
        k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
    )
    comp = connected_components(pairs)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
