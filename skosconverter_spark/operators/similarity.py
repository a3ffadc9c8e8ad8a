"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``: brute-force exact top-k — broadcast the (small) query
  side against the full vector table; the dot product is an ordered
  fold (F.aggregate over zip_with) so any engine that folds
  left-to-right in doubles reproduces the score bit-for-bit.
- ``ivf_topk``: the scale path — a deterministic IVF variant: coarse
  centroids are a fixed modulus sample of the corpus, every vector is
  assigned to its nearest centroid (one broadcast join), and a query
  only scans its own centroid's bucket. Recall < 1 by design; the
  brute-force operator is the verifier.
- ``embedding_neardup_pairs``: the exact near-duplicate verifier,
  pairwise cosine ≥ τ over all pairs. Its scale paths compare only
  IVF bucket-mates (``embedding_neardup_bucketed``) or SRP band-bucket
  mates (``embedding_neardup_srp``), the embedding-space analogues of
  LSH dedup.

No UDFs: everything compiles to Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dbl(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# Higher-order functions (aggregate/zip_with) are interpreted expressions
# — no whole-stage codegen, one closure dispatch per element — which made
# the fold the dominant per-row cost of every cosine consumer. For the
# common fixed dimension we emit an unrolled left-associated chain
# seeded with lit(0.0): ((0.0 + a0*b0) + a1*b1) + …, the exact same
# IEEE addition sequence as the fold (including the 0.0 + -0.0 = 0.0
# edge), so scores are bit-identical while compiling through codegen. A
# runtime size() guard keeps any other dimension on the fold path.
DIM_HINT = 64


def _unrolled_dot(a: Column, b: Column, n: int) -> Column:
    acc: Column = F.lit(0.0)
    for i in range(1, n + 1):
        acc = acc + (
            F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
        )
    return acc


def _unrolled_sq(a: Column, n: int) -> Column:
    acc: Column = F.lit(0.0)
    for i in range(1, n + 1):
        x = F.element_at(a, i).cast("double")
        acc = acc + x * x
    return acc


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in doubles (order-stable across engines):
    the interpreted-fold form, one expression node regardless of dim.
    Used directly where MANY dots appear in one projection (the b-bit
    SRP signature emits bits-many dots per row; unrolling all of them
    ballooned codegen/compile time past what the per-row win repays —
    measured 0.98 s fold vs 1.15 s unrolled on the srp query)."""
    return F.aggregate(
        F.zip_with(_dbl(a), _dbl(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_dbl(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def dot_fast(a: Column, b: Column) -> Column:
    """dot() with the unrolled codegen fast path for DIM_HINT-sized
    vectors. The unrolled chain costs real DRIVER time to construct and
    compile (~1.3 s measured: ~1200 py4j column calls + Janino on a busy
    JVM), so it is OPT-IN for operators whose row volume amortizes it —
    the pairwise near-dup verifiers and IVF scoring, where candidate
    counts are quadratic-ish per bucket — while query-sized paths
    (cosine_topk's broadcast top-k) keep the construction-light fold."""
    return F.when(
        (F.size(a) == DIM_HINT) & (F.size(b) == DIM_HINT),
        _unrolled_dot(a, b, DIM_HINT),
    ).otherwise(dot(a, b))


def norm_fast(a: Column) -> Column:
    return F.when(
        F.size(a) == DIM_HINT, F.sqrt(_unrolled_sq(a, DIM_HINT))
    ).otherwise(norm(a))


def cosine_fast(a: Column, b: Column) -> Column:
    return dot_fast(a, b) / (norm_fast(a) * norm_fast(b))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, score): exact top-k by cosine.

    ``queries`` is broadcast (top-k searches are many-small-queries);
    candidate scoring is a map-side nested loop the optimizer fuses into
    one stage — no shuffle until the per-query top-k window.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
    )
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("q_vec"), F.col("v_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("score", 6).alias("score"),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroid_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, centroid_id): each vector's nearest deterministic
    centroid, its bucket. Centroids are the vectors whose id ≡ 0 (mod
    centroid_mod) — a fixed, engine-agnostic coarse quantizer (real
    deployments train k-means; the assignment plumbing is identical).

    Materialized eagerly: the vectors×centroids scoring pass is the
    expensive stage, and every consumer joins the assignment from two
    sides (self-join / query+corpus); without the lineage cut the
    scoring subtree executes once PER side (no ReusedExchange across the
    window), doubling the dominant cost. The checkpointed table is two
    longs per vector — negligible next to re-scoring."""
    cents = vectors.filter((F.col(id_col) % centroid_mod) == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
    )
    scored = vectors.select(
        F.col(id_col), F.col(vec_col)
    ).join(F.broadcast(cents), F.lit(True)).withColumn(
        "score", cosine_fast(F.col(vec_col), F.col("c_vec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "centroid_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "centroid_id")
        .localCheckpoint(eager=True)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    centroid_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: each vector lives in exactly ONE centroid
    bucket, and a query scans only its own bucket; buckets are disjoint
    so no dedup pass is needed."""
    # ONE scoring pass assigns both sides: queries are rows of vectors
    assign = ivf_assign(vectors, centroid_mod, id_col, vec_col)
    v = vectors.join(assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("v_vec"),
        "centroid_id",
    )
    q = queries.join(assign, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "centroid_id",
    )
    scored = (
        v.join(F.broadcast(q), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", cosine(F.col("q_vec"), F.col("v_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 20_000,
) -> DataFrame:
    """(id_a, id_b, score) with cosine ≥ τ. EXACT over all n²/2 pairs —
    a nested-loop self-join. This is the small-corpus VERIFIER (recall
    oracle for the bucketed plan below), never the scale path: at corpus
    scale use ``embedding_neardup_bucketed`` or ``_srp``. Guarded by a
    count, not by ``guard_driver_sized``: this path collects nothing, so
    limit(max_rows+1).count() proves whether row max_rows+1 exists
    without moving data, and raises rather than launching an n² join on
    a corpus (max_rows=0 disables)."""
    if max_rows and vectors.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"embedding_neardup_pairs is the exact O(n²) verifier and is "
            f"gated at {max_rows} vectors; this input exceeds it. Use "
            "embedding_neardup_bucketed / embedding_neardup_srp for "
            "corpus-sized inputs, or raise max_rows explicitly."
        )
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("score", cosine_fast(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, pos, n_vectors, centroid): the element-wise mean vector
    per label — k-means-style centroid computation, the building block
    of IVF (re)training and per-cluster drift monitoring.

    Determinism across engines: floating sums are order-dependent under
    distributed partial aggregation, so each element is rounded to 6
    places and summed as DECIMAL(18,6) (exact, order-free); the single
    final division back to double is then bit-stable anywhere. Plan:
    one posexplode + one hash aggregation on (label, pos) — dim × labels
    output rows, map-side combined, one shuffle."""
    e = F.round(F.col("e").cast("double"), 6).cast("decimal(18,6)")
    return (
        vectors.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("pos", "e"),
        )
        .select("label", "pos", e.alias("e"))
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(
                F.sum("e").cast("double") / F.count("*").cast("double"), 6
            ).alias("centroid"),
        )
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(centroid_id, pos, centroid): Lloyd's k-means after a fixed number
    of iterations — the IVF (re)training step, as a distributed fixpoint.

    Deterministic and oracle-checkable end to end, which distributed
    k-means normally is NOT (float summation order). Three choices make
    it exact:
    - elements are rounded to 6 places and carried as DECIMAL(12,6), so
      squared distances (DECIMAL(27,12)) and their sums are EXACT and
      order-free under partial aggregation;
    - the argmin is min(struct(dist, cid)) over exact decimals — the
      house first-value-wins pattern, no float ties;
    - new centroids divide an exact decimal sum by an exact count once,
      in doubles, then re-round — bit-stable in any engine.
    Seeds are the k vectors with the smallest md5(vec_id) (TakeOrdered —
    no global sort), so every engine picks the same ones.

    Plan shape per iteration: posexploded vectors (checkpointed once,
    reused every iteration) broadcast-join the k·dim centroid table on
    pos, two hash aggregations (vec-keyed partial-agg distance, then
    cluster-keyed mean). Nothing shuffles more than n·k rows; empty
    clusters drop out (inner join) deterministically."""
    e = (
        vectors.select(
            F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "v_raw")
        )
        .select(
            id_col,
            "pos",
            F.round(F.col("v_raw").cast("double"), 6)
            .cast("decimal(12,6)")
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    seeds = (
        vectors.select(F.col(id_col), F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h")
        .limit(k)
    )
    init = seeds.withColumn(
        "cid", F.row_number().over(Window.orderBy("h")) - 1
    ).select(id_col, "cid")
    cent = e.join(F.broadcast(init), id_col).select(
        "cid", "pos", F.col("v").alias("c")
    )
    for _ in range(iterations):
        d = (
            e.join(F.broadcast(cent), "pos")
            .withColumn("sq", (F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
            .groupBy(id_col, "cid")
            .agg(F.sum("sq").alias("dist"))
        )
        a = (
            d.groupBy(id_col)
            .agg(F.min(F.struct("dist", "cid")).alias("m"))
            .select(id_col, F.col("m.cid").alias("cid"))
        )
        cent = (
            e.join(a, id_col)
            .groupBy("cid", "pos")
            .agg(
                F.round(
                    F.sum("v").cast("double") / F.count("*").cast("double"), 6
                )
                .cast("decimal(12,6)")
                .alias("c")
            )
            .localCheckpoint(eager=True)  # k·dim rows; breaks the loop lineage
        )
    return cent.select(
        F.col("cid").alias("centroid_id"),
        "pos",
        F.col("c").cast("double").alias("centroid"),
    )


def srp_signs(bits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane components for SRP-LSH (Charikar 2002
    random-hyperplane signatures): component (j, d) = +1 iff the first
    md5 hex digit of "j:d" is >= 8. Engine-agnostic (both the Spark
    expressions and the SQL oracle consume these as literals), so the
    signature — unlike a seeded RNG — is identical everywhere."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(dim)
        ]
        for j in range(bits)
    ]


def srp_signature(
    vectors: DataFrame,
    bits: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sig): the SRP bit-string — bit j is 1 iff the (ordered
    left-fold) dot of the vector with hyperplane j is > 0. Cosine-similar
    vectors agree on most bits (P[agree] = 1 − θ/π), which is what makes
    banding the signature a near-dup candidate generator."""
    signs = srp_signs(bits, dim)
    bit_cols = [
        F.when(
            dot(F.col(vec_col), F.array(*[F.lit(s) for s in signs[j]])) > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for j in range(bits)
    ]
    return vectors.select(
        F.col(id_col), F.concat(*bit_cols).alias("sig")
    )


def srp_candidates(
    vectors: DataFrame,
    bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a, id_b) candidate pairs from banded SRP signatures: a pair is
    a candidate iff some band of bits/bands signature bits is equal on
    both sides — an equi-join on (band, bucket)."""
    r = bits // bands
    sig = srp_signature(vectors, bits, dim, id_col, vec_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring(F.col("sig"), b * r + 1, r).alias("bucket"),
        )
        for b in range(bands)
    ]
    band_rows = (
        sig.select(id_col, F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        .localCheckpoint(eager=True)
    )
    a = band_rows.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = band_rows.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_neardup_srp(
    vectors: DataFrame,
    threshold: float,
    bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The LSH-bucketed near-dup alternative to the IVF gate: band the
    SRP signature (bands × bits/bands), self-join per band bucket for
    candidates (``srp_candidates``), verify with exact cosine ≥ τ.
    Identical vectors share every band; near-identical ones share some
    band with probability following the LSH s-curve. Same shuffle shape
    as the minhash text dedup — a uniform equi-join on (band, bucket),
    never all-pairs.

    Measured on the synthetic sf0.001 corpus at τ=0.35 (recall vs the
    exact all-pairs verifier; cost = candidate fraction of n²/2): the
    default 16×4 gives recall 0.54 @ 24%. At this loose a τ, random
    pairs agree per bit with p≈0.5; tighter thresholds (τ≥0.8, real
    near-dup) prune far harder."""
    candidates = srp_candidates(vectors, bits, bands, dim, id_col, vec_col)
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("score", cosine_fast(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )


def embedding_neardup_bucketed(
    vectors: DataFrame,
    threshold: float,
    centroid_mod: int = 97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The scale path for embedding near-dup: gate pair generation
    through IVF buckets (the embedding-space analogue of the LSH band
    join in operators.dedup). Only bucket-mates are compared, so the
    candidate count is Σ|bucket|² instead of n²/2 — an equi-join on
    centroid_id that shuffles each vector once. Recall < 1 by design
    (a near-dup pair straddling a bucket boundary is missed; coarser
    centroids trade cost for recall);
    ``embedding_neardup_pairs`` is the exact verifier and the recall
    measurement is pinned in tests."""
    assign = ivf_assign(vectors, centroid_mod, id_col, vec_col)
    v = vectors.select(F.col(id_col), F.col(vec_col)).join(assign, id_col)
    a = v.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("a_vec"), "centroid_id"
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("b_vec"), "centroid_id"
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", cosine_fast(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", F.round("score", 6).alias("score"))
    )
