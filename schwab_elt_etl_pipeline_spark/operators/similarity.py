"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs:

- **Brute-force cosine top-k** — exact baseline. Queries broadcast (they are
  few); the corpus streams through one projection + per-partition top-k via
  window rank. O(Q×N) but embarrassingly parallel, no shuffle of the corpus.
- **Bucketed ANN (sign-LSH / IVF-style)** — the scale path. Each vector gets a
  deterministic bucket from the sign pattern of its leading components
  (a random-hyperplane LSH with axis-aligned planes); search only touches the
  query's bucket, turning O(N) per query into O(N/2^bits) with a recall
  trade-off. The same shape holds for a trained-centroid IVF; centroids would
  come from an offline k-means job.

Dot products run as JVM array lambdas (``zip_with`` + ``aggregate``) — exact
left-to-right summation, deterministic across engines, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(vec: Column | str) -> Column:
    col = F.col(vec) if isinstance(vec, str) else vec
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential (deterministic) dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows per ``queries`` row.

    Output: (q_id, vec_id, cos) — ``cos`` rounded so the top-k cutoff is
    stable across engines; ties broken by corpus id. Self-matches excluded.

    Norms are per-vector invariants, hoisted OUT of the pair stage
    (``sqrt(dot(v,v))`` is the identical float wherever computed, so the
    rounded cosine — and the oracle hash — is unchanged): per pair, one
    64-element fold instead of three.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(vec_col).alias("q_vec")
    ).withColumn("q_n", l2_norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("c_vec")
    ).withColumn("c_n", l2_norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_n") * F.col("c_n")),
                round_digits,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos")
    )


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """Deterministic sign-LSH bucket: bit i set iff component i >= 0.

    (2^i is built arithmetically — ``shiftleft`` needs a literal bit count.)
    """
    return F.aggregate(
        F.zip_with(
            F.slice(vec, 1, bits),
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: F.pow(F.lit(2.0), i).cast("long"),
            ),
            lambda x, p: F.when(x >= 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """IVF with TRAINED centroids: k-means partitions the corpus; each query
    probes its ``n_probe`` nearest centroid cells only.

    This is the classic inverted-file ANN layout: the clustering runs once
    offline (here inline, seeded for determinism), cell assignment is a
    broadcast join against ≤ ``n_centroids`` centroid vectors, and search cost
    drops from O(N) to O(N × n_probe / n_centroids) per query. Recall improves
    with ``n_probe`` at linear cost.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    corpus_d = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("c_vec")
    )
    featurized = corpus_d.withColumn("features", array_to_vector("c_vec"))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(featurized)
    assigned = model.transform(featurized).select(
        "vec_id", "c_vec", F.col("prediction").alias("cell")
    )

    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cent_df = corpus.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    )

    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(vec_col).alias("q_vec")
    )
    # rank each query's centroid cells, keep the n_probe nearest
    q_cells = (
        q.crossJoin(F.broadcast(cent_df))
        .withColumn("c_dist", F.sqrt(
            F.aggregate(
                F.zip_with(F.col("q_vec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ))
        .withColumn(
            "c_rank",
            F.row_number().over(Window.partitionBy("q_id").orderBy("c_dist", "cell")),
        )
        .filter(F.col("c_rank") <= n_probe)
        .select("q_id", "q_vec", "cell")
    )

    scored = (
        assigned.join(F.broadcast(q_cells), on="cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos")
    )


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k restricted to the query's sign-LSH bucket (the IVF shape:
    probe 1 of 2^bits partitions). Join on bucket replaces the cross join —
    at scale this is a co-partitioned equi-join, not a broadcast of N×Q work."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        as_double(vec_col).alias("q_vec"),
    ).withColumn("bucket", sign_bucket(F.col("q_vec"), bits))
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        as_double(vec_col).alias("c_vec"),
    ).withColumn("bucket", sign_bucket(F.col("c_vec"), bits))
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos")
    )


def centroid_fold(
    cents: DataFrame, id_col: str = "cent_id", vec_col: str = "c_vec"
) -> DataFrame:
    """Collapse a (cent_id, c_vec) centroid table into ONE row carrying the
    whole set as ``_cents`` = array<struct<cid, cv, cn>> with the L2 norm
    hoisted per centroid. Broadcast next to :func:`nearest_centroid_struct`,
    this turns a k-means/IVF E-step into a pure projection: no k× row
    fan-out, no per-vector window, and the corpus never shuffles for an
    assignment (guide §2.4 — remove shuffles outright). ``cid`` keeps the
    caller's id type so output schemas are unchanged."""
    return cents.agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("cid"),
                F.col(vec_col).alias("cv"),
                l2_norm(F.col(vec_col)).alias("cn"),
            )
        ).alias("_cents")
    )


def nearest_centroid_struct(
    v: Column, vn: Column, zero_safe: bool = False
) -> Column:
    """Per-row nearest-centroid argmax over a broadcast ``_cents`` array
    (:func:`centroid_fold`): struct(s = round(cosine, 6), nid = -cid,
    cid) of the winner — highest rounded cosine, ties to the LOWEST cid
    (via the nid field; struct comparison is total because cid is unique,
    so the fold is independent of collect_list order). ``vn`` must be the
    caller-hoisted per-row L2 norm: Spark does not hoist invariant
    subexpressions out of HOF lambdas, so an inline norm would re-fold per
    centroid. The cosine is the same dot/(vn*cn) expression tree the
    window form evaluated, hence bit-identical rounded values.

    ``zero_safe=True`` is the SemDeDup discipline: try_divide leaves a
    zero-norm cosine NULL, coalesced to a -2.0 sentinel (< any real
    cosine ≥ -1) so a directionless vector loses to every real score and
    an all-NULL row falls to the lowest cid — exactly the former
    "NULLs last under DESC, tie lowest cent_id" window order. An EMPTY
    centroid set folds to a NULL struct (array_max of []), which callers
    filter to preserve the former empty-join contract."""

    def _score(c: Column) -> Column:
        num = dot(v, c["cv"])
        den = vn * c["cn"]
        cosr = F.round(
            F.try_divide(num, den) if zero_safe else num / den, 6
        )
        if zero_safe:
            cosr = F.coalesce(cosr, F.lit(-2.0))
        return F.struct(
            cosr.alias("s"), (-c["cid"]).alias("nid"), c["cid"].alias("cid")
        )

    return F.array_max(F.transform(F.col("_cents"), _score))


def label_centroid_cells(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-(label, dim) centroid cells: (label, dim, n, centroid), dim
    1-based.

    Elementwise means from exact DECIMAL sums over a posexplode — map-side
    combinable and order-independent, so centroids are bit-reproducible;
    at 100 TB this shuffles (label, dim) partial sums, never vectors. The
    single final ROUND(…, 6) exists because a float32 whose decimal
    expansion ties exactly at the cast scale rounds HALF_UP in Spark vs
    HALF_EVEN in DuckDB (~one cell in 10^5 at sf0.01, 2e-14 apart); six
    digits swallow the half-ulp without hiding real drift. Every centroid
    consumer (catalog queries and their oracles) must share THIS function's
    discipline — that is why it lives here and not inline.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(as_double(vec_col)).alias("dim0", "x"),
    )
    return (
        exploded.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid"),
        )
    )


def projection_signs(n_proj: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-projection matrix (n_proj × dim).

    Signs come from bit 16 of an LCG mix of (j, d), computed HERE and
    embedded as literals on both engines — no cross-engine hash function
    is involved, so the projection is reproducible anywhere.
    """
    return [
        [
            1.0 if ((j * 1103515245 + d * 12345) >> 16) & 1 == 0 else -1.0
            for d in range(dim)
        ]
        for j in range(n_proj)
    ]


def project(vec: Column, signs: list[list[float]]) -> Column:
    """Signed-projection sketch of ``vec``: array of n_proj dot products
    against the literal ±1 rows (JVM array lambdas, sequential sums)."""
    return F.array(
        *[dot(vec, F.array(*[F.lit(s) for s in row])) for row in signs]
    )


def projected_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_candidates: int = 40,
    n_proj: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Two-stage ANN: coarse top-``n_candidates`` by dot product in a
    ``n_proj``-dimensional ±1 random-projection space, exact cosine re-rank
    of the candidates to top-``k``.

    This is the filter-then-refine layout every billion-vector store uses:
    the coarse pass touches only the 8-d sketch (8/64 of the bytes — at
    scale the sketch column is a separate, cache-resident projection of the
    table), and the exact kernel runs on ``n_candidates/N`` of the corpus.
    Both stages are deterministic (rounded scores, id tiebreaks), so the
    whole pipeline is exactly reproducible — and exactly oracle-checkable —
    unlike sample-trained ANN indexes.
    """
    signs = projection_signs(n_proj, dim)
    q = queries.select(
        F.col(id_col).alias("q_id"), as_double(vec_col).alias("q_vec")
    ).withColumn("q_proj", project(F.col("q_vec"), signs))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("c_vec")
    ).withColumn("c_proj", project(F.col("c_vec"), signs))
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "q_vec",
            "c_vec",
            F.round(dot(F.col("q_proj"), F.col("c_proj")), round_digits).alias(
                "coarse"
            ),
        )
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("coarse"), F.asc("vec_id"))
    cand = coarse.withColumn("crk", F.row_number().over(wc)).filter(
        F.col("crk") <= n_candidates
    )
    rer = cand.select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), round_digits).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        rer.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric-distance scoring
# ---------------------------------------------------------------------------


def _first_vec_len(df: DataFrame, vec_col: str, what: str) -> int:
    """Length of the first vector in ``df``; loud ValueError when the frame
    is empty (``first()`` returning None would otherwise surface as an
    opaque TypeError deep in the PQ build)."""
    row = df.select(as_double(vec_col).alias("v")).first()
    if row is None or row["v"] is None:
        raise ValueError(f"{what} is empty (or {vec_col!r} is NULL) — cannot infer PQ dimension")
    return len(row["v"])


def _require_dim(
    df: DataFrame, vec_col: str, dim: int, what: str, strict: bool = False
) -> None:
    """Probe the first vector of ``df`` and fail loudly on dimension drift:
    a mismatched vector would otherwise yield NULL subvector distances
    (``zip_with`` pads the short side with NULL) and silently wrong top-k.
    Empty frames pass — an empty query set is a valid no-op.

    LIMITATION (deliberate, cheap-guard trade-off): the default probe reads
    only the FIRST vector, so drift WITHIN the frame — mixed-length vectors
    after row 1 — still slips through to the NULL-padded failure mode this
    guard documents. ``strict=True`` adds one full-column aggregate
    asserting min(size) == max(size) == dim; the index BUILD path uses it
    (one extra scan over data that is being scanned anyway), the per-query
    serving path keeps the O(1) probe."""
    row = df.select(as_double(vec_col).alias("v")).first()
    if row is not None and row["v"] is not None and len(row["v"]) != dim:
        raise ValueError(
            f"{what} dimension {len(row['v'])} != index dimension {dim}"
        )
    if strict and row is not None:
        lo, hi = df.select(
            F.min(F.size(vec_col)), F.max(F.size(vec_col))
        ).first()
        if lo != dim or hi != dim:
            raise ValueError(
                f"{what} has mixed vector dimensions (min {lo}, max {hi}) "
                f"!= index dimension {dim}"
            )


def pq_subvectors(
    df: DataFrame, m: int, dim: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, sub, subvec): split each ``dim``-dim vector into ``m`` contiguous
    subspaces (``dim`` must divide evenly — PQ codebooks are per-subspace)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    width = dim // m
    vec = as_double(vec_col)
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub"),
                F.slice(vec, j * width + 1, width).alias("subvec"),
            )
            for j in range(m)
        ]
    )
    return df.select(
        F.col(id_col), F.explode(subs).alias("s")
    ).select(id_col, F.col("s.sub").alias("sub"), F.col("s.subvec").alias("subvec"))


def pq_train_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    subvectors: DataFrame | None = None,
) -> DataFrame:
    """Per-subspace k-means codebooks: (sub, code, centroid) — m × k_codes
    rows, broadcastable by construction (a PQ codebook is kilobytes no
    matter the corpus size; that is the point of the layout). Pass ``dim``
    and/or a prebuilt ``subvectors`` frame to avoid re-deriving them when
    the caller (``pq_adc_topk``) already has both."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    if dim is None:
        dim = _first_vec_len(corpus, vec_col, "PQ training corpus")
    subs = (
        subvectors
        if subvectors is not None
        else pq_subvectors(corpus, m, dim, id_col, vec_col)
    ).persist()
    rows = []
    try:
        for j in range(m):
            feats = subs.filter(F.col("sub") == j).withColumn(
                "features", array_to_vector("subvec")
            )
            model = KMeans(
                k=k_codes, seed=seed + j, featuresCol="features"
            ).fit(feats)
            rows += [
                (j, c, [float(x) for x in cent])
                for c, cent in enumerate(model.clusterCenters())
            ]
    finally:
        subs.unpersist()
    return spark.createDataFrame(rows, "sub INT, code INT, centroid ARRAY<DOUBLE>")


def _l2sq(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subvectors: DataFrame | None = None,
) -> DataFrame:
    """(id, sub, code): nearest codebook entry per subspace — the compressed
    representation (m small ints per vector, e.g. 64 dims × 8 bytes → 4
    bytes). One broadcast join + a map-side argmin; the corpus never
    shuffles."""
    subs = (
        subvectors
        if subvectors is not None
        else pq_subvectors(corpus, m, dim, id_col, vec_col)
    )
    joined = subs.join(F.broadcast(codebooks), "sub")
    return (
        joined.withColumn("d2", _l2sq(F.col("subvec"), F.col("centroid")))
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """PQ search with asymmetric distance computation (ADC), Jégou et al.
    2011 "Product Quantization for Nearest Neighbor Search".

    Per query, the distance to every corpus vector is approximated as the
    sum over subspaces of ||q_sub - centroid[code]||² — computed by joining
    the corpus CODES (m ints/vector) against a broadcast per-query distance
    table (n_q × m × k_codes rows). The raw corpus vectors are never read
    at query time: at 100 TB the scan is over the 16×-smaller code table,
    clustered however the corpus is, and the only shuffle is the final
    per-query top-k. Output: (q_id, vec_id, adc_d2) ascending per query —
    an ADC-ordered SHORTLIST (approximate order); production searches
    exact-rerank it against the raw vectors of just these candidates, as
    ``catalog/similarity.py ann_pq_adc`` does.
    """
    spark = corpus.sparkSession
    dim = _first_vec_len(corpus, vec_col, "PQ corpus")
    _require_dim(queries, vec_col, dim, "query")
    corpus_subs = pq_subvectors(corpus, m, dim, id_col, vec_col)
    books = pq_train_codebooks(
        corpus, m, k_codes, id_col, vec_col, seed, dim=dim, subvectors=corpus_subs
    )
    codes = pq_encode(corpus, books, m, dim, id_col, vec_col, subvectors=corpus_subs)
    qsubs = pq_subvectors(
        queries.select(F.col(id_col).alias("q_id"), vec_col), m, dim, "q_id", vec_col
    )
    dtable = (
        qsubs.join(F.broadcast(books), "sub")
        .select(
            "q_id",
            "sub",
            "code",
            _l2sq(F.col("subvec"), F.col("centroid")).alias("d2"),
        )
    )
    scored = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
        # only vectors matched in EVERY subspace carry a complete distance;
        # the inner join guarantees m partials per (q, vec) by construction
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col, "adc_d2")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVFADC — the full Jégou et al. 2011 layout: a coarse IVF quantizer
    prunes the corpus to ``n_probe`` cells per query, and PQ codes score the
    surviving candidates by asymmetric distance. The two compressions
    multiply: at 100 TB the query-time scan is the code table of the probed
    cells only (n_probe/n_centroids of a table already ~16× smaller than
    the raw vectors), the cell assignment is a broadcast join against
    ≤ ``n_centroids`` rows, and the distance tables are n_q × m × k_codes —
    kilobytes. Codes quantize the RESIDUAL (vector − cell centroid), the
    detail that makes coarse-cell + fine-code precision add rather than
    overlap. Output: (q_id, vec_id, adc_d2) — an ADC-ordered shortlist,
    exact-rerank it as in ``catalog/similarity.py ann_pq_adc``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    dim = _first_vec_len(corpus, vec_col, "IVFADC corpus")
    _require_dim(queries, vec_col, dim, "query")

    # coarse quantizer: cell per corpus vector + centroid table
    feats = corpus.select(
        F.col(id_col), as_double(vec_col).alias("vec")
    ).withColumn("features", array_to_vector("vec"))
    coarse = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(feats)
    assigned = coarse.transform(feats).select(
        id_col, "vec", F.col("prediction").alias("cell")
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(coarse.clusterCenters())],
        "cell INT, centroid ARRAY<DOUBLE>",
    )

    # residuals -> PQ codebooks + codes (shared subvector frame, one pass)
    residuals = (
        assigned.join(F.broadcast(cents), "cell")
        .select(
            id_col,
            "cell",
            F.zip_with("vec", "centroid", lambda x, y: x - y).alias("res"),
        )
    )
    res_subs = pq_subvectors(residuals, m, dim, id_col, "res")
    books = pq_train_codebooks(
        residuals, m, k_codes, id_col, "res", seed + 100, dim=dim, subvectors=res_subs
    )
    codes = pq_encode(
        residuals, books, m, dim, id_col, "res", subvectors=res_subs
    ).join(residuals.select(id_col, "cell"), id_col)

    # query side: probe the n_probe nearest cells; the distance table is per
    # (query, probed cell) because the residual depends on the cell
    qv = queries.select(F.col(id_col).alias("q_id"), as_double(vec_col).alias("q_vec"))
    q_cells = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("c_d2", _l2sq(F.col("q_vec"), F.col("centroid")))
        .withColumn(
            "c_rank",
            F.row_number().over(Window.partitionBy("q_id").orderBy("c_d2", "cell")),
        )
        .filter(F.col("c_rank") <= n_probe)
        .select(
            "q_id",
            "cell",
            F.zip_with("q_vec", "centroid", lambda x, y: x - y).alias("q_res"),
        )
    )
    q_res_subs = pq_subvectors(q_cells.withColumn("_qc", F.struct("q_id", "cell")), m, dim, "_qc", "q_res")
    dtable = (
        q_res_subs.join(F.broadcast(books), "sub")
        .select(
            F.col("_qc.q_id").alias("q_id"),
            F.col("_qc.cell").alias("cell"),
            "sub",
            "code",
            _l2sq(F.col("subvec"), F.col("centroid")).alias("d2"),
        )
    )
    scored = (
        codes.join(F.broadcast(dtable), ["cell", "sub", "code"])
        .filter(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col, "adc_d2")
    )


def build_pq_index(
    corpus: DataFrame,
    books_table,
    codes_table,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist a PQ index: codebooks + codes as warehouse tables
    (``sources/warehouse.py ParquetTable``) — the build-once/query-many
    deployment of :func:`pq_adc_topk`. Training/encoding cost is paid
    offline; a query session reads the m-ints-per-vector code table (clustered
    however the corpus is partitioned) and the kilobyte codebooks, never the
    raw vectors. Versioned overwrite keeps readers snapshot-isolated across
    rebuilds, exactly like the incremental ANN index
    (``streaming/corpus.py update_ann_index``)."""
    dim = _first_vec_len(corpus, vec_col, "PQ index corpus")
    # Build path: strict probe (full min/max-size aggregate) — within-frame
    # dimension drift must fail HERE, not as NULL-padded distances at query
    # time; one extra aggregate is cheap against an offline index build.
    _require_dim(corpus, vec_col, dim, "PQ index corpus", strict=True)
    subs = pq_subvectors(corpus, m, dim, id_col, vec_col)
    books = pq_train_codebooks(
        corpus, m, k_codes, id_col, vec_col, seed, dim=dim, subvectors=subs
    )
    codes = pq_encode(corpus, books, m, dim, id_col, vec_col, subvectors=subs)
    books_table.overwrite_versioned(books)
    codes_table.overwrite_versioned(codes)


def _unclaimed_codes(codes_table, exclude_epoch: int | None) -> DataFrame:
    """The code rows a query may see: all of them, or those
    ``exclude_epoch`` did not claim (``streaming/epochs.py``)."""
    codes = codes_table.read()
    if exclude_epoch is None:  # a batch query: the streaming package stays unloaded
        return codes
    from schwab_elt_etl_pipeline_spark.streaming.epochs import exclude_own

    return exclude_own(codes, exclude_epoch)


def _stamp_codes(
    codes: DataFrame, codes_table, epoch: int | None, bootstrap: str
) -> DataFrame:
    """``codes`` stamped with ``epoch`` when the code table carries the
    stamp; ``epoch`` against an unstamped (batch-built) table is an error
    rather than a silent schema fork."""
    from schwab_elt_etl_pipeline_spark.streaming.epochs import is_stamped, stamp

    if is_stamped(codes_table.read()):
        return stamp(codes, epoch)
    if epoch is not None:
        raise ValueError(
            "epoch passed but the codes table carries no epoch stamp — "
            f"bootstrap the index via streaming/corpus.py {bootstrap}"
        )
    return codes


def pq_query_index(
    books_table,
    codes_table,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_epoch: int | None = None,
) -> DataFrame:
    """ADC search against a persisted PQ index — no corpus access at all.
    Output matches :func:`pq_adc_topk` on the same build (test-pinned).

    ``exclude_epoch`` (streaming replay hook): skip codes stamped with that
    ``_epoch`` — a replayed foreachBatch epoch must not see the rows its
    first attempt appended, or batch-mates would surface as neighbors that
    were absent from the original output. NULL-epoch rows (batch appends)
    always count as indexed, matching the null-safe convention of
    ``update_window_index``."""
    books = books_table.read()
    codes = _unclaimed_codes(codes_table, exclude_epoch)
    m = books.select("sub").distinct().count()
    width = len(books.select("centroid").first()["centroid"])
    dim = m * width
    _require_dim(queries, vec_col, dim, "query")
    qsubs = pq_subvectors(
        queries.select(F.col(id_col).alias("q_id"), vec_col), m, dim, "q_id", vec_col
    )
    dtable = qsubs.join(F.broadcast(books), "sub").select(
        "q_id", "sub", "code", _l2sq(F.col("subvec"), F.col("centroid")).alias("d2")
    )
    scored = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col, "adc_d2")
    )


def extend_pq_index(
    new_vectors: DataFrame,
    books_table,
    codes_table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch: int | None = None,
) -> None:
    """Incrementally add vectors to a persisted PQ index: encode ONLY the
    batch against the EXISTING codebooks and dup-guard-append the codes
    (``insert_new`` on (id, sub) — replays add nothing). O(batch) work per
    call; the codebooks stay fixed between retrains, exactly how production
    PQ serving amortizes index maintenance (the quantization error of new
    data drifts slowly; retrain via :func:`build_pq_index` on a cadence,
    with versioned overwrite keeping readers snapshot-isolated).

    ``epoch`` is the streaming replay-stability hook
    (``streaming/corpus.py update_pq_index``): when the codes table carries
    an ``_epoch`` column, the batch's codes are stamped with it so a
    replayed foreachBatch epoch can exclude its OWN prior claims from the
    query scan and reproduce its original shortlist bit-for-bit. The column
    is schema-following — a batch-built table without ``_epoch`` stays
    clean, and ``epoch`` on such a table is a loud error rather than a
    silent schema fork."""
    books = books_table.read()
    m = books.select("sub").distinct().count()
    width = len(books.select("centroid").first()["centroid"])
    _require_dim(new_vectors, vec_col, m * width, "new vector", strict=True)
    codes = pq_encode(new_vectors, books, m, m * width, id_col, vec_col)
    codes = _stamp_codes(codes, codes_table, epoch, "update_pq_index")
    codes_table.insert_new(codes, keys=[id_col, "sub"])


# ---------------------------------------------------------------------------
# Persisted IVFADC index (build / query / extend)
# ---------------------------------------------------------------------------


def _assign_cells(
    vectors: DataFrame, cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, cell): nearest coarse centroid per vector — one broadcast
    join (cells are a kB-scale table by construction) + a map-side argmin
    via ``min_by``; the vectors never shuffle. Ties break on the LOWER cell
    id (min_by on struct(d2, cell)), a deterministic rule the extend path
    and any re-encode agree on."""
    expanded = vectors.select(
        F.col(id_col), as_double(vec_col).alias("vec")
    ).join(F.broadcast(cents))
    return (
        expanded.withColumn("c_d2", _l2sq(F.col("vec"), F.col("centroid")))
        .groupBy(id_col)
        .agg(
            F.first("vec").alias("vec"),
            F.min_by("cell", F.struct("c_d2", "cell")).alias("cell"),
        )
    )


def build_ivfadc_index(
    corpus: DataFrame,
    cents_table,
    books_table,
    codes_table,
    n_centroids: int = 8,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVFADC index (Jégou et al.: coarse inverted file +
    residual product quantization) as three warehouse tables: coarse
    centroids (``cell, centroid`` — kilobytes), residual PQ codebooks
    (``sub, code, centroid`` — kilobytes), and the code table
    (``id, cell, sub, code`` — m small ints per vector). The persisted
    sibling of :func:`ivfpq_topk` (same seeds: coarse ``seed``, books
    ``seed + 100``) and the IVF-structured sibling of
    :func:`build_pq_index`. Queries probe only their nearest cells' codes;
    raw vectors are never read at serving time. Versioned overwrite keeps
    readers snapshot-isolated across rebuilds."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    dim = _first_vec_len(corpus, vec_col, "IVFADC index corpus")
    _require_dim(corpus, vec_col, dim, "IVFADC index corpus", strict=True)
    feats = corpus.select(
        F.col(id_col), as_double(vec_col).alias("vec")
    ).withColumn("features", array_to_vector("vec"))
    coarse = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(feats)
    assigned = coarse.transform(feats).select(
        id_col, "vec", F.col("prediction").alias("cell")
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(coarse.clusterCenters())],
        "cell INT, centroid ARRAY<DOUBLE>",
    )
    residuals = assigned.join(F.broadcast(cents), "cell").select(
        id_col,
        "cell",
        F.zip_with("vec", "centroid", lambda x, y: x - y).alias("res"),
    )
    res_subs = pq_subvectors(residuals, m, dim, id_col, "res")
    books = pq_train_codebooks(
        residuals, m, k_codes, id_col, "res", seed + 100, dim=dim,
        subvectors=res_subs,
    )
    codes = pq_encode(
        residuals, books, m, dim, id_col, "res", subvectors=res_subs
    ).join(residuals.select(id_col, "cell"), id_col)
    cents_table.overwrite_versioned(cents)
    books_table.overwrite_versioned(books)
    codes_table.overwrite_versioned(codes)


def ivfadc_query_index(
    cents_table,
    books_table,
    codes_table,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_epoch: int | None = None,
) -> DataFrame:
    """ADC search against a persisted IVFADC index — probes only the
    ``n_probe`` nearest cells' code rows; no corpus access at all. The
    distance table is per (query, probed cell) because the residual depends
    on the cell. ``exclude_epoch`` is the streaming replay hook, identical
    to :func:`pq_query_index`'s (null-safe; batch-written NULL-epoch rows
    always count as indexed)."""
    cents = cents_table.read()
    books = books_table.read()
    codes = _unclaimed_codes(codes_table, exclude_epoch)
    m = books.select("sub").distinct().count()
    width = len(books.select("centroid").first()["centroid"])
    dim = m * width
    _require_dim(queries, vec_col, dim, "query")
    qv = queries.select(
        F.col(id_col).alias("q_id"), as_double(vec_col).alias("q_vec")
    )
    q_cells = (
        qv.join(F.broadcast(cents))
        .withColumn("c_d2", _l2sq(F.col("q_vec"), F.col("centroid")))
        .withColumn(
            "c_rank",
            F.row_number().over(Window.partitionBy("q_id").orderBy("c_d2", "cell")),
        )
        .filter(F.col("c_rank") <= n_probe)
        .select(
            "q_id",
            "cell",
            F.zip_with("q_vec", "centroid", lambda x, y: x - y).alias("q_res"),
        )
    )
    q_res_subs = pq_subvectors(
        q_cells.withColumn("_qc", F.struct("q_id", "cell")), m, dim, "_qc", "q_res"
    )
    dtable = q_res_subs.join(F.broadcast(books), "sub").select(
        F.col("_qc.q_id").alias("q_id"),
        F.col("_qc.cell").alias("cell"),
        "sub",
        "code",
        _l2sq(F.col("subvec"), F.col("centroid")).alias("d2"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["cell", "sub", "code"])
        .filter(F.col(id_col) != F.col("q_id"))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("d2"), 6).alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", id_col, "adc_d2")
    )


def extend_ivfadc_index(
    new_vectors: DataFrame,
    cents_table,
    books_table,
    codes_table,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch: int | None = None,
) -> None:
    """Incrementally add vectors to a persisted IVFADC index: assign each
    batch vector to its nearest FIXED coarse cell (broadcast centroids +
    map-side argmin — the batch never shuffles), residual-encode against
    the FIXED codebooks, and dup-guard-append (``insert_new`` on (id, sub)
    — replays add nothing). O(batch) per call; coarse centroids and
    codebooks retrain only on a rebuild cadence via
    :func:`build_ivfadc_index`, exactly as :func:`extend_pq_index`. Same
    schema-following ``_epoch`` rule: stamped when the codes table carries
    the column, loud error when ``epoch`` is passed against a batch-built
    table without it."""
    cents = cents_table.read()
    books = books_table.read()
    m = books.select("sub").distinct().count()
    width = len(books.select("centroid").first()["centroid"])
    dim = m * width
    _require_dim(new_vectors, vec_col, dim, "new vector", strict=True)
    assigned = _assign_cells(new_vectors, cents, id_col, vec_col)
    residuals = assigned.join(F.broadcast(cents), "cell").select(
        id_col,
        "cell",
        F.zip_with("vec", "centroid", lambda x, y: x - y).alias("res"),
    )
    codes = pq_encode(residuals, books, m, dim, id_col, "res").join(
        residuals.select(id_col, "cell"), id_col
    )
    codes = _stamp_codes(codes, codes_table, epoch, "update_ivfadc_index")
    codes_table.insert_new(codes, keys=[id_col, "sub"])


def mmr_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    pool: int = 20,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diverse re-ranking (Carbonell & Goldstein
    1998): per query, greedily select ``k`` results from the ``pool``
    most-relevant candidates, each step maximizing

        score = lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)

    — relevance traded against redundancy with what is already picked. The
    retrieval-diversity companion of ``retrieval_rrf_hybrid``.

    Scale shape: the candidate pool comes from ``brute_force_topk`` (or any
    ANN tier — the pool is the interchange format), so the corpus is
    touched exactly once; everything after is per-query work on ``pool``
    rows — the pairwise-similarity join is pool², and the greedy selection
    runs as ONE per-row higher-order ``aggregate`` over the packed pool
    (no driver loop, no shuffle, no UDF — the ``viterbi_segment``
    discipline). Determinism: rel and sim are rounded to 6 digits and the
    combined MMR score to 7 (6 + one coefficient digit — rounding the
    linear combination back to 6 would sit exactly on the half-way
    boundary whenever the 7th digit is 5, where Spark and the DuckDB
    oracle disagree); ties break by (rel DESC, id ASC) via the pool
    ordering. Output: (q_id, rank, vec_id, score).

    ``pool`` must be <= 63: pairwise sims are packed into one map keyed
    ``i * 64 + j``, so a larger pool would collide keys silently.
    """
    if pool > 63:
        raise ValueError(f"mmr_rerank_topk: pool must be <= 63, got {pool}")
    cand = brute_force_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col)
    vecs = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("_vec")
    )
    ranked = (
        cand.join(vecs, "vec_id")
        .withColumn(
            "idx",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
            ),
        )
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    sims = (
        a.join(b, (F.col("a.q_id") == F.col("b.q_id")) & (F.col("a.idx") < F.col("b.idx")))
        .select(
            F.col("a.q_id").alias("q_id"),
            F.col("a.idx").alias("i"),
            F.col("b.idx").alias("j"),
            F.round(cosine(F.col("a._vec"), F.col("b._vec")), 6).alias("sim"),
        )
    )
    # pack per query: rels/vids ordered by idx, pairwise sims keyed i*64+j
    # (symmetric — both orientations inserted; pool <= 63 by construction)
    packed = (
        ranked.groupBy("q_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cos", "vec_id"))),
                lambda s: s["cos"],
            ).alias("rels"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cos", "vec_id"))),
                lambda s: s["vec_id"],
            ).alias("vids"),
        )
        .join(
            sims.groupBy("q_id").agg(
                F.map_from_entries(
                    F.flatten(
                        F.collect_list(
                            F.array(
                                F.struct(
                                    (F.col("i") * 64 + F.col("j")).alias("key"),
                                    F.col("sim").alias("value"),
                                ),
                                F.struct(
                                    (F.col("j") * 64 + F.col("i")).alias("key"),
                                    F.col("sim").alias("value"),
                                ),
                            )
                        )
                    )
                ).alias("sims")
            ),
            "q_id",
            "left",
        )
    )
    score_of = (
        "round({lam}D * element_at(rels, c) - {mu}D * (CASE WHEN size(acc) = 0 "
        "THEN 0.0D ELSE array_max(transform(acc, x -> "
        "element_at(sims, c * 64 + x.idx))) END), 7)"
    ).format(lam=lam, mu=round(1.0 - lam, 12))
    sel_expr = f"""
    aggregate(
      sequence(1, {k}),
      cast(array() as array<struct<idx:int, sc:double>>),
      (acc, step) -> acc || array(
        aggregate(
          sequence(1, size(vids)),
          named_struct('idx', -1, 'sc', cast('-Infinity' as double)),
          (best, c) -> CASE
            WHEN exists(acc, x -> x.idx = c) THEN best
            WHEN {score_of.format()} > best.sc
            THEN named_struct('idx', c, 'sc', {score_of.format()})
            ELSE best END
        )
      )
    )"""
    out = packed.select(
        "q_id", "vids", F.posexplode(F.expr(sel_expr)).alias("pos", "pick")
    ).filter(F.col("pick.idx") > 0)
    return out.select(
        "q_id",
        (F.col("pos") + 1).alias("rank"),
        F.element_at("vids", F.col("pick.idx")).alias("vec_id"),
        F.col("pick.sc").alias("score"),
    )
