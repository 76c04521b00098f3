"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the correctness baseline; IVF (inverted file)
partitioning as the scale path: assign every vector to its nearest
centroid once (map-side against broadcast centroids), then restrict query
probes to matching clusters — the candidate set shrinks by ~n_clusters
while recall stays high for near-duplicates.

Per-pair scoring uses Spark higher-order functions (zip_with/aggregate —
JVM-side, no Python in the join loop); bulk per-vector linear algebra
(hyperplane signatures) runs as Arrow-batched numpy GEMMs, which beat the
interpreted higher-order folds ~5x with bit-identical integer-exact
results. Everything is quantized-integer math, so DuckDB oracles
reproduce scores exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (degenerate) vector scores NULL, not an
    # ANSI DIVIDE_BY_ZERO error killing the whole job
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def quantize(v: Column, scale: int = 1000) -> Column:
    """Quantize a float vector to integers: floor(x*scale + 0.5).

    Used for engine-portable scoring: integer dot products are EXACT, so a
    SQL oracle in another engine reproduces scores bit-for-bit (float
    summation order differs between engines and flips rounded values)."""
    return F.transform(
        v, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long")
    )


def cosine_pre_quantized(qa: Column, qb: Column) -> Column:
    """Cosine over ALREADY-quantized (long-array) vectors — use with
    ``quantize`` applied once per side before a join, so the per-pair work
    is just the integer fold, not 2x re-quantization."""
    d = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    na = F.sqrt(
        F.aggregate(qa, F.lit(0).cast("long"), lambda acc, x: acc + x * x).cast("double")
    )
    nb = F.sqrt(
        F.aggregate(qb, F.lit(0).cast("long"), lambda acc, x: acc + x * x).cast("double")
    )
    # try_divide: zero-norm vectors yield NULL (callers decide — e.g.
    # ivf_assign coalesces to -2) instead of an ANSI DIVIDE_BY_ZERO error
    return F.try_divide(d.cast("double"), na * nb)


def cosine_q(a: Column, b: Column, scale: int = 1000) -> Column:
    """Cosine over quantized vectors: exact integer dot/norms, one
    deterministic double division at the end."""
    return cosine_pre_quantized(quantize(a, scale), quantize(b, scale))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for every query vector.

    queries is expected to be small (broadcast side); the corpus streams
    through a map-side crossJoin + per-query window rank. Output:
    (query_id, vec_id, cosine, rank)."""
    corpus_q = embeddings.withColumn("__qv", quantize(F.col(vec_col)))
    queries_q = queries.withColumn("__qq", quantize(F.col(q_vec_col)))
    pairs = corpus_q.crossJoin(F.broadcast(queries_q))
    scored = pairs.select(
        F.col(q_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(cosine_pre_quantized(F.col("__qv"), F.col("__qq")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rp_signs(d_out: int, d_in: int) -> list[list[int]]:
    """Deterministic ±1 sign-projection matrix (Achlioptas-style random
    projection, derandomized): component (j, i) is +1 iff the first byte
    of md5("rp:j:i") is even. Salted "rp:" so the draw is independent of
    the hyperplane-LSH matrix; seed-free and engine-portable — the SQL
    oracle inlines the identical literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1
            for i in range(d_in)
        ]
        for j in range(d_out)
    ]


def sign_random_projection(
    embeddings: DataFrame,
    d_in: int,
    d_out: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Dimensionality reduction for the ANN family: project each vector
    onto ``d_out`` deterministic ±1 sign vectors. Output: (vec_id, proj)
    with proj an INTEGER array — proj[j] = Σ_i ±qv[i] over the quantized
    input, so the projection is exact integer math (order-free sums,
    bit-identical in any engine) and downstream quantized-cosine top-k
    over ``proj`` needs no new machinery.

    This is the 100-TB pre-ANN trick the float-heavy tiers assume away:
    cut 1536-dim embeddings to 64-128 dims before IVF/PQ and the index
    build, candidate generation, and storage all shrink ~10x, with the
    Johnson-Lindenstrauss guarantee bounding the distortion — and
    unlike PQ codes, projected vectors still compose with every
    existing operator (cosine, IVF assign, k-means) unchanged.

    Plan: pure map over the corpus — zero shuffle, fuses into the scan.

    The ±1 matrix is inlined as ONE parsed SQL expression rather than
    d_out x d_in Column-API literal calls: building the same tree via
    F.array(*[F.lit(s) ...]) cost >1000 py4j round-trips (~0.5 s of
    driver latency PER query construction at 16x64 — measured r12);
    the parsed tree is semantically identical (same integer lits, same
    zip_with/aggregate fold), so results and plans are unchanged."""
    signs = rp_signs(d_out, d_in)
    qv = quantize(F.col(vec_col))
    terms = ",\n".join(
        "aggregate(zip_with(__qv, array("
        + ",".join(str(s) for s in signs[j])
        + "), (a, b) -> a * b), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        for j in range(d_out)
    )
    proj = F.expr(f"array({terms})")
    return embeddings.withColumn("__qv", qv).select(
        F.col(id_col).alias("vec_id"), proj.alias("proj")
    )


def _hyperplanes(planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix: component (p, d) is +1 iff the
    first byte of md5("p:d") is even. Seed-free and engine-portable — a
    SQL oracle re-derives the identical matrix from md5."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:2], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_sig_expr(
    qv: Column, dim: int, planes: int = 16
) -> Column:
    """Sign-random-projection signature (SimHash for vectors) over an
    ALREADY-quantized vector column: bit p is 1 iff dot(qv, w_p) >= 0.
    Pure map-side JVM column math — the ±1 hyperplanes are literal
    arrays, integer dots are exact, no RNG/broadcast/shuffle."""
    w = _hyperplanes(planes, dim)
    sig = None
    for p in range(planes):
        wp = F.array(*[F.lit(x) for x in w[p]])
        d = F.aggregate(
            F.zip_with(qv, wp, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        term = F.when(d >= 0, 2**p).otherwise(0)
        sig = term if sig is None else sig + term
    return sig.cast("long")


def _gemm_sig_mapper(
    planes: int, dim: int, scale: int, id_name: str, qv_name: str | None = None
):
    """mapInPandas body: signatures for a whole Arrow batch in one numpy
    GEMM — sign(Q @ W.T) with Q the quantized vectors, W the ±1
    hyperplanes. Every product and partial sum is an integer well below
    2^53, so float64 GEMM is EXACT regardless of summation order and the
    result is bit-identical to the per-element hyperplane_sig_expr (a
    pytest asserts this parity)."""
    import numpy as np
    import pandas as pd

    w_t = np.array(_hyperplanes(planes, dim), dtype=np.float64).T
    pow2 = (1 << np.arange(planes)).astype(np.int64)

    def mapper(batches):
        for pdf in batches:
            q = np.floor(np.stack(pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5)
            bits = (q @ w_t) >= 0
            out = {id_name: pdf["id"], "hp_sig": bits @ pow2}
            if qv_name:
                out[qv_name] = list(q.astype(np.int64))
            cols = [id_name, qv_name, "hp_sig"] if qv_name else [id_name, "hp_sig"]
            yield pd.DataFrame(out)[cols]

    return mapper


def hyperplane_signatures(
    embeddings: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    scale: int = 1000,
) -> DataFrame:
    """Per-vector hyperplane signature table. For unit-ish vectors
    P[bit agrees] = 1 - angle/pi, so cosine-near vectors share most bits
    — band the signature and self-join (as in MinHash-LSH) for candidate
    pairs without an all-pairs scan.

    Computed as an Arrow-batched numpy GEMM (~5x the 16 interpreted
    higher-order folds of hyperplane_sig_expr, with bit-identical
    output); map-side only, no shuffle."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    src = ensure_parallelism(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    )
    return src.mapInPandas(
        _gemm_sig_mapper(planes, dim, scale, id_col),
        schema=f"{id_col} long, hp_sig long",
    )


def hyperplane_lsh_candidates(
    signatures: DataFrame,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    sig_col: str = "hp_sig",
) -> DataFrame:
    """Candidate pairs sharing at least one exact band of the hyperplane
    signature: (doc_a, doc_b, n_bands_shared). Same skew-free banded
    self-join shape as MinHash-LSH; follow with an exact cosine verify
    on the (small) candidate set."""
    assert planes % bands == 0
    bits = planes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(sig_col), b * bits)
            .bitwiseAND((1 << bits) - 1)
            .alias("sig"),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b2 = banded.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    return (
        a.join(b2, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def hyperplane_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    scale: int = 1000,
) -> DataFrame:
    """ANN top-k via hyperplane LSH: corpus vectors whose signature shares
    >= 1 exact band with the query's are scored by exact quantized cosine
    and ranked. Approximate: recall < 1 when a true neighbor differs in
    every band.

    Scale shape: signatures and banding are map-side on both sides; the
    candidate join broadcasts the (small) banded query set, so the corpus
    is never shuffled — only the candidate (query, vec, cosine) triples
    move, first into a max-dedup (a pair can match in several bands),
    then into the per-query top-k window over candidate counts."""
    assert planes % bands == 0
    bits = planes // bands

    def banded(df, idc, vecc, out_id):
        # one map-side GEMM pass emits the quantized vector AND its
        # signature — no join back, the corpus is never shuffled
        from irstats2_spark.pipeline.parallel import ensure_parallelism

        src = ensure_parallelism(
            df.select(F.col(idc).alias("id"), F.col(vecc).alias("v"))
        )
        base = src.mapInPandas(
            _gemm_sig_mapper(planes, dim, scale, out_id, qv_name=f"__q_{out_id}"),
            schema=f"{out_id} long, __q_{out_id} array<bigint>, hp_sig long",
        )
        band_cols = [
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("hp_sig"), b * bits)
                .bitwiseAND((1 << bits) - 1)
                .alias("sig"),
            )
            for b in range(bands)
        ]
        return base.select(
            out_id, f"__q_{out_id}", F.explode(F.array(*band_cols)).alias("bs")
        ).select(out_id, f"__q_{out_id}", "bs.band", "bs.sig")

    corpus_b = banded(embeddings, id_col, vec_col, "vec_id")
    query_b = banded(queries, q_id_col, q_vec_col, "query_id")
    scored = (
        corpus_b.join(F.broadcast(query_b), ["band", "sig"])
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_pre_quantized(F.col("__q_vec_id"), F.col("__q_query_id")), 6
            ).alias("cosine"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    c_id_col: str = "centroid_id",
    c_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine, tie-break
    by centroid id). Output: original columns + centroid_id +
    centroid_cosine.

    Plan shape: a PURE MAP over the corpus — the centroid table is first
    aggregated into ONE array-of-structs row (tiny: |centroids|), that
    single row is broadcast-cross-joined onto the corpus, and the argmax
    is a per-row fold (``F.aggregate``) over the centroid array. The
    corpus is never shuffled, never sorted, and never aggregated: the
    assignment fuses into the scan stage. (A row_number window here
    shuffles+sorts |corpus| x |centroids| scored pairs; a max_by/struct-
    max aggregate still plans SortAggregate over the exploded pairs —
    both were measurably worse shapes.)

    The fold keeps (best rounded cosine, best centroid id); a strictly-
    greater compare with an id tie-break reproduces the oracle's
    (cosine DESC, centroid_id ASC) ordering exactly. Quantized-integer
    dot products keep scores engine-exact (see ``quantize``).

    Zero-norm (degenerate) vectors: cosine divides by the norm, so a
    zero vector scores NULL against every centroid. NULL never wins a
    strict compare, which would leave the sentinel and silently DROP the
    row — whereas the row_number oracle keeps a rank-1 row (NULLS LAST
    puts some centroid first). Coalescing the score to -2.0 — STRICTLY
    below any real cosine — keeps the row and ranks every zero-norm
    centroid behind even an antipodal (-1.0) one, matching the oracle's
    NULLS-LAST-then-id order exactly (a -1.0 sentinel would tie with and
    beat a genuine -1.0 cosine on lower id). The trailing isNotNull
    filter then only fires for its documented case: an EMPTY centroid
    set."""
    cents_arr = (
        centroids.withColumn("__qc", quantize(F.col(c_vec_col)))
        .select(
            F.struct(
                F.col(c_id_col).alias("cid"), F.col("__qc").alias("qv")
            ).alias("__c")
        )
        .agg(F.sort_array(F.collect_list("__c")).alias("__cents"))
    )
    emb_q = embeddings.withColumn("__qv", quantize(F.col(vec_col)))
    with_cents = emb_q.crossJoin(F.broadcast(cents_arr))

    init = F.struct(
        F.lit(-3.0).alias("cc"),  # below even the NULL-cosine sentinel
        F.lit(None).cast(centroids.schema[c_id_col].dataType).alias("cid"),
    )

    def step(acc, c):
        # NULL (zero-norm) cosines coalesce to -2.0 — STRICTLY below any
        # real cosine, so a genuine -1.0 (antipodal) centroid still beats
        # a zero-norm one, exactly like the oracle's NULLS LAST
        cos = F.coalesce(
            F.round(cosine_pre_quantized(F.col("__qv"), c["qv"]), 6), F.lit(-2.0)
        )
        better = (cos > acc["cc"]) | ((cos == acc["cc"]) & (c["cid"] < acc["cid"]))
        return F.when(
            better, F.struct(cos.alias("cc"), c["cid"].alias("cid"))
        ).otherwise(acc)

    best = F.aggregate(F.col("__cents"), init, step)
    return (
        with_cents.withColumn("__best", best)
        .withColumn(c_id_col, F.col("__best.cid"))
        .withColumn("centroid_cosine", F.col("__best.cc"))
        .filter(F.col(c_id_col).isNotNull())  # empty centroid set => no rows
        .drop("__qv", "__cents", "__best")
    )


def ivf_assign_gemm(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    c_id_col: str = "centroid_id",
    c_vec_col: str = "centroid_vec",
    scale: int = 1000,
) -> DataFrame:
    """``ivf_assign`` for WIDE centroid sets: one numpy GEMM per Arrow
    batch instead of a per-element JVM fold.

    The higher-order fold in ``ivf_assign`` evaluates interpreted
    expressions per (row, centroid, dim) — fine for tens of centroids,
    dominant at a realistic 1000-way IVF. Here the (small) centroid
    table is collected once to the driver — the standard broadcast-
    dimension pattern; this is the DIMENSION side, never the corpus —
    and each Arrow batch scores against it with ``Q @ C.T`` (quantized
    ints, exact in float64; half-up round to 6dp like SQL ROUND).
    Centroids are pre-sorted by id so ``argmax``'s first-max rule
    reproduces the (cosine DESC, centroid_id ASC) tie-break; a pytest
    asserts bit-parity with ``ivf_assign``. The corpus is still never
    shuffled — map-side only, same plan shape as the fold."""
    import numpy as np

    from irstats2_spark.pipeline.parallel import ensure_parallelism

    cpdf = centroids.select(
        F.col(c_id_col).alias("cid"), F.col(c_vec_col).alias("cv")
    ).toPandas()
    order = cpdf["cid"].to_numpy().argsort(kind="stable")
    cids = cpdf["cid"].to_numpy()[order]
    cq = np.floor(
        np.stack(cpdf["cv"].to_numpy()[order]).astype(np.float64) * scale + 0.5
    )
    cn = np.sqrt((cq * cq).sum(axis=1))
    bc = embeddings.sparkSession.sparkContext.broadcast((cids, cq, cn))

    in_schema = embeddings.schema
    cid_type = centroids.schema[c_id_col].dataType.simpleString()
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema)
        + f", `{c_id_col}` {cid_type}, `centroid_cosine` double"
    )

    def assign(batches):
        cids_b, cq_b, cn_b = bc.value
        for pdf in batches:
            q = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * scale + 0.5
            )
            qn = np.sqrt((q * q).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (q @ cq_b.T) / np.outer(qn, cn_b)
            # zero-norm row => 0/0 = NaN; score it -2 like ivf_assign's
            # coalesce so the two variants stay bit-identical (strictly
            # below any real cosine — never ties an antipodal -1.0)
            cos = np.nan_to_num(cos, nan=-2.0)
            cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
            best = np.argmax(cos, axis=1)  # first max => lowest centroid id
            out = pdf.copy()
            out[c_id_col] = cids_b[best]
            out["centroid_cosine"] = cos[np.arange(len(pdf)), best]
            yield out

    return ensure_parallelism(embeddings).mapInPandas(assign, schema=out_schema)


def ivf_multi_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    c_id_col: str = "centroid_id",
    c_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Assign each CORPUS vector to its ``n_probe`` nearest centroids —
    one output row per (vector, probe), ordered by the same (cosine DESC,
    centroid_id ASC) rule as ``ivf_assign`` (probe=1 reproduces it).

    This is the corpus-side recall knob for IVF dedup: a vector filed
    into its 2 nearest clusters meets neighbors sitting just across its
    cluster boundary (``embedding_dups_ivf`` misses those by contract).

    Plan shape: the same PURE-MAP fold as ``ivf_assign`` — the
    accumulator is a length-<=n_probe array of (neg cosine, centroid id)
    structs kept sorted each step (struct comparison is lexicographic, so
    negating the cosine makes ascending sort_array give cosine DESC with
    id ASC tie-break). The corpus is never shuffled or sorted; the
    explode multiplies rows n_probe-fold AFTER the scan, map-side.
    ``ivf_probe_assign`` stays the right shape for the small QUERY side
    (its window rank is |queries| x |centroids|); this one exists so the
    100-TB corpus side never sees a window."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    cid_type = centroids.schema[c_id_col].dataType
    acc_type = ArrayType(
        StructType(
            [StructField("negcc", DoubleType()), StructField("cid", cid_type)]
        )
    )
    cents_arr = (
        centroids.withColumn("__qc", quantize(F.col(c_vec_col)))
        .select(
            F.struct(
                F.col(c_id_col).alias("cid"), F.col("__qc").alias("qv")
            ).alias("__c")
        )
        .agg(F.sort_array(F.collect_list("__c")).alias("__cents"))
    )
    emb_q = embeddings.withColumn("__qv", quantize(F.col(vec_col)))
    with_cents = emb_q.crossJoin(F.broadcast(cents_arr))

    init = F.array().cast(acc_type)

    def step(acc, c):
        # -2.0 NULL sentinel: see ivf_assign — strictly below any real cosine
        cos = F.coalesce(
            F.round(cosine_pre_quantized(F.col("__qv"), c["qv"]), 6), F.lit(-2.0)
        )
        cand = F.struct((-cos).alias("negcc"), c["cid"].alias("cid"))
        return F.slice(
            F.sort_array(F.concat(acc, F.array(cand))), 1, n_probe
        )

    probes = F.aggregate(F.col("__cents"), init, step)
    exploded = (
        with_cents.withColumn("__probes", probes)
        .select("*", F.posexplode("__probes").alias("__pos", "__p"))
        .withColumn("probe", (F.col("__pos") + 1).cast("int"))
        .withColumn(c_id_col, F.col("__p.cid"))
        .withColumn("centroid_cosine", -F.col("__p.negcc"))
    )
    return exploded.drop("__qv", "__cents", "__probes", "__pos", "__p")


def _kmeans_round_stats_gemm(
    src: DataFrame, book: "dict[int, list[float]]", scale: int
) -> DataFrame:
    """One k-means Lloyd round's sufficient statistics as an Arrow-
    batched numpy pass: per batch, assign every vector to its best
    centroid and emit PARTIAL per-(centroid, dim) member sums/counts;
    the tiny reduce that follows sums integers, so the result is
    bit-identical to the ``ivf_assign``-fold formulation this replaces
    (rows x centroids x dims interpreted expression steps per round —
    the dominant cost of every kmeans-headed chain at the bench).

    Exactness mirrors the fold step for step: vectors arrive already
    quantized (int64); ``ivf_assign`` would re-quantize them
    (floor(q*scale+0.5) == q*scale for integers), so the GEMM scores
    q*scale against floor(centroid*scale+0.5) — int64 dot, one float64
    sqrt-product division (IEEE-identical in numpy and the JVM), the
    same half-up 6dp round as SQL ROUND (the ``knn_graph_ivf``
    precedent), NaN (zero-norm) coalesced to the fold's -2.0 sentinel,
    and argmax's first-max rule IS the lowest-centroid-id tie-break
    because centroids are ordered by id ascending."""
    import math

    import numpy as np
    import pandas as pd

    cids = sorted(book)
    cmat = np.array(
        [[math.floor(v * scale + 0.5) for v in book[c]] for c in cids],
        dtype=np.int64,
    )
    cnorm = np.sqrt((cmat * cmat).sum(axis=1).astype(np.float64))

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["__kq"].to_numpy()).astype(np.int64)
            q2 = q * scale
            qnorm = np.sqrt((q2 * q2).sum(axis=1).astype(np.float64))
            dots = (q2 @ cmat.T).astype(np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (qnorm[:, None] * cnorm[None, :])
            cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
            cos = np.nan_to_num(cos, nan=-2.0, posinf=-2.0, neginf=-2.0)
            best = cos.argmax(axis=1)
            rows: list[tuple[int, int, int, int]] = []
            for j, cid in enumerate(cids):
                mask = best == j
                if mask.any():
                    ssum = q[mask].sum(axis=0)
                    n = int(mask.sum())
                    rows.extend(
                        (cid, d, int(v), n) for d, v in enumerate(ssum)
                    )
            yield pd.DataFrame(
                rows, columns=["centroid_id", "dim", "s", "n"]
            )

    return src.mapInPandas(
        part, schema="centroid_id long, dim int, s long, n long"
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    max_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column — the FIT
    step that makes the IVF family self-contained (fit -> ivf_assign ->
    ivf_topk / embedding_dups_ivf).

    Engine-portable by construction, so a SQL oracle reproduces the
    centroids bit-for-bit:
    - init: the k lowest-id vectors (seed-free, deterministic);
    - assign: max quantized cosine, centroid-id tie-break — exactly
      ``ivf_assign``'s rule, and a pure map over the corpus;
    - update: element-wise mean of the QUANTIZED member vectors (integer
      sums are order-exact; one double division per dimension), then
      re-quantized for the next round's scoring;
    - empty clusters keep their previous centroid;
    - fixed ``max_iter`` rounds, no driver-side convergence collect.

    Per round: ONE distributed SINGLE-STAGE job — an Arrow-batched
    numpy pass (``_kmeans_round_stats_gemm``: assignment GEMM +
    in-batch partial per-(centroid, dim) integer sums, replacing the
    interpreted rows x centroids x dims ``ivf_assign`` expression fold
    that dominated every kmeans-headed bench chain) whose
    <= partitions x k x dim partial rows are collected and merged on
    the driver (r13: the former groupBy reduce cost an exchange = a
    second AQE stage job per round). The centroid table lives DRIVER-side
    between rounds (k*dim doubles — the same accepted collect as
    ``ivf_assign_gemm`` and ``pq_fit``); the mean, the empty-cluster
    carry-over, and the array rebuild happen in plain python on the
    collected integers. Double division of exact integer sums is
    IEEE-identical in python, numpy, and the JVM, so the values are
    bit-for-bit unchanged — the SQL oracle pins it.

    Output: (centroid_id, dim, value) exploded per dimension — join or
    pivot back to arrays as needed (``centroids_as_vectors`` below).
    """
    spark = embeddings.sparkSession
    # NB: the quantized column must not be named __qv — ivf_assign uses
    # that name internally and would silently replace-then-drop it
    src = embeddings.select(
        F.col(id_col).alias("__id"), quantize(F.col(vec_col), scale).alias("__kq")
    ).persist()
    # init: k lowest ids, centroid_id = the seed vector's id
    book: dict[int, list[float]] = {
        r["__id"]: [q / scale for q in r["__kq"]]
        for r in src.orderBy("__id").limit(k).collect()
    }
    for _ in range(max_iter):
        # collect the map-side PARTIALS directly — one SINGLE-STAGE job
        # per Lloyd round (the old groupBy+collect paid an exchange,
        # which AQE materializes as its own stage job: 2 jobs/round).
        # <= partitions x k x dim partial rows — the accepted
        # contract-tiny collect class; python integer sums + the same
        # double division are bit-identical to the JVM reduce.
        partials = _kmeans_round_stats_gemm(src, book, scale).collect()
        acc: dict[tuple[int, int], list[int]] = {}
        for r in partials:
            a = acc.setdefault((r.centroid_id, r.dim), [0, 0])
            a[0] += r.s
            a[1] += r.n
        # element-wise mean; empty clusters are absent from stats and
        # keep their previous centroid
        for (cid, d_), (ssum, n) in acc.items():
            book[cid][d_] = ssum / n / scale
    src.unpersist()
    cents = spark.createDataFrame(
        sorted(book.items()), "centroid_id long, centroid_vec array<double>"
    )
    return cents.select(
        "centroid_id", F.posexplode("centroid_vec").alias("dim", "value")
    ).select("centroid_id", "dim", F.round("value", 6).alias("value"))


def centroids_as_vectors(fitted: DataFrame) -> DataFrame:
    """Rebuild (centroid_id, centroid_vec) arrays from kmeans_fit's
    exploded (centroid_id, dim, value) rows — the shape ivf_assign /
    ivf_probe_assign take as their centroid table."""
    return (
        fitted.groupBy("centroid_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "value"))).alias("__dv")
        )
        .select(
            "centroid_id",
            F.transform(F.col("__dv"), lambda s: s["value"]).alias("centroid_vec"),
        )
    )


def ivf_probe_assign(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
    c_id_col: str = "centroid_id",
    c_vec_col: str = "centroid_vec",
) -> DataFrame:
    """The QUERY side of multi-probe IVF: each query's ``n_probe``
    nearest centroids (one output row per probe). Feeding this to
    ``ivf_topk`` widens the candidate set to the n_probe closest
    clusters — the standard IVF recall knob (recall lost to a neighbor
    sitting just across a cluster boundary is recovered at p=2..4 for a
    |probed clusters| / |clusters| fraction of the scan cost).

    Queries are small by contract (the corpus side stays single-assigned
    via ivf_assign), so the |queries| x |centroids| rank here is
    negligible; at p=1 this degenerates to ivf_assign's result."""
    q_q = queries.withColumn("__qq", quantize(F.col(q_vec_col)))
    c_q = centroids.withColumn("__qc", quantize(F.col(c_vec_col)))
    scored = q_q.crossJoin(F.broadcast(c_q)).withColumn(
        "centroid_cosine",
        F.round(cosine_pre_quantized(F.col("__qq"), F.col("__qc")), 6),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("centroid_cosine").desc(), F.col(c_id_col).asc()
    )
    return (
        scored.withColumn("__probe", F.row_number().over(w))
        .filter(F.col("__probe") <= n_probe)
        .drop("__probe", "__qq", "__qc", c_vec_col)
    )


def ivf_topk(
    embeddings_assigned: DataFrame,
    queries_assigned: DataFrame,
    k: int = 5,
) -> DataFrame:
    """ANN top-k restricted to the query's probed cluster(s). Inputs:
    the corpus from ``ivf_assign`` and the query side from ``ivf_assign``
    (single probe) or ``ivf_probe_assign`` (multi-probe: several rows
    per query, one per probed cluster — each corpus vector matches at
    most one of them, so no dedup is needed before ranking). Output like
    brute_force_topk (approximate: recall < 1 when the true neighbor
    lives outside every probed cluster)."""
    corpus = embeddings_assigned.select(
        "vec_id",
        quantize(F.col("embedding")).alias("__qv"),
        F.col("centroid_id").alias("c_corpus"),
    )
    qs = queries_assigned.select(
        "query_id",
        quantize(F.col("query_vec")).alias("__qq"),
        F.col("centroid_id").alias("c_query"),
    )
    joined = corpus.join(
        F.broadcast(qs), F.col("c_corpus") == F.col("c_query"), "inner"
    )
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(cosine_pre_quantized(F.col("__qv"), F.col("__qq")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def contrastive_pairs(
    embeddings: DataFrame,
    queries: DataFrame,
    k_pos: int = 1,
    n_neg: int = 3,
    topn_excl: int = 5,
    salt: str = "neg:",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "query_id",
    q_vec_col: str = "query_vec",
) -> DataFrame:
    """Mine (anchor, positive, negative) training pairs for contrastive
    embedding fine-tuning: per query, positives are its ``k_pos``
    nearest non-self neighbors (exact cosine), negatives are ``n_neg``
    corpus docs drawn deterministically by salted-hash rank from
    OUTSIDE the query's top-``topn_excl`` (so a near-duplicate can
    never leak in as a negative). Output: (query_id, role 'pos'|'neg',
    vec_id, rank).

    Deterministic end to end — hash-ranked negatives redraw identically
    on any engine/partitioning, and a new salt draws an independent
    negative set.

    Scale shape: the exact top-k and the negative rank both broadcast
    the (small-by-contract) query side over the corpus; for
    corpus-scale mining pre-thin the negative candidates with a hash
    threshold (keep md5 < t, t ~ a few x n_neg / |corpus|) before the
    rank — the hash order makes the thinned result identical."""
    bf = brute_force_topk(
        embeddings, queries, k=topn_excl, id_col=id_col, vec_col=vec_col,
        q_id_col=q_id_col, q_vec_col=q_vec_col,
    )
    w_pos = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    pos = (
        bf.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("__r", F.row_number().over(w_pos))
        .filter(F.col("__r") <= k_pos)
        .select(
            "query_id",
            F.lit("pos").alias("role"),
            "vec_id",
            F.col("__r").cast("int").alias("rank"),
        )
    )
    cand = (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .crossJoin(F.broadcast(queries.select(F.col(q_id_col).alias("query_id"))))
        .join(bf.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    h = F.md5(
        F.concat(
            F.lit(salt),
            F.col("query_id").cast("string"),
            F.lit(":"),
            F.col("vec_id").cast("string"),
        )
    )
    w_neg = Window.partitionBy("query_id").orderBy(h.asc(), F.col("vec_id").asc())
    neg = (
        cand.withColumn("__r", F.row_number().over(w_neg))
        .filter(F.col("__r") <= n_neg)
        .select(
            "query_id",
            F.lit("neg").alias("role"),
            "vec_id",
            F.col("__r").cast("int").alias("rank"),
        )
    )
    return pos.unionByName(neg)


def knn_graph_ivf(
    embeddings: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Corpus k-NN GRAPH under IVF blocking: each vector's top-k nearest
    neighbors WITHIN its cluster — the primitive under SemDeDup-style
    semantic dedup, embedding-space clustering diagnostics, and
    graph-based curation (a near-dup pair query asks "who is closer
    than t"; the graph asks "who are my k closest", which survives
    threshold-free downstream use).

    Output: (vec_id, neighbor_id, rank, cosine), rank 1..k by
    (cosine DESC, neighbor_id ASC) — the same total order as a SQL
    ROW_NUMBER, so the oracle replays it exactly. Vectors alone in
    their cluster emit no rows; a cluster of size s emits min(k, s-1)
    rows per member.

    Scale shape: identical to ``embedding_dups_ivf`` — map-side
    broadcast-centroid assignment, ONE shuffle keyed by centroid_id,
    per-cluster Arrow-batched numpy GEMM — but each block emits k rows
    per member instead of thresholded pairs, so output is exactly
    k*|corpus| rows regardless of threshold tuning. Same approximation
    contract: cross-cluster neighbors are unseen; probe multiple
    assignments upstream (``ivf_multi_assign``) when recall past the
    cluster boundary matters."""
    import numpy as np
    import pandas as pd

    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    src = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "centroid_id"
    )

    def cluster_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "neighbor_id": [], "rank": [], "cosine": []}
            ).astype(
                {
                    "vec_id": "int64",
                    "neighbor_id": "int64",
                    "rank": "int32",
                    "cosine": "float64",
                }
            )
        ids = pdf["id"].to_numpy()
        q = np.floor(np.stack(pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5)
        nrm = np.sqrt((q * q).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (q @ q.T) / np.outer(nrm, nrm)
        cos = np.nan_to_num(cos, nan=-1.0)
        cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
        np.fill_diagonal(cos, -np.inf)  # self is never a neighbor
        kk = min(k, n - 1)
        # exact (cosine DESC, neighbor_id ASC): lexsort keys are applied
        # last-key-primary, so sort by (id asc) then (-cos) stably
        order = np.lexsort((ids[None, :].repeat(n, 0), -cos), axis=1)[:, :kk]
        rows = np.repeat(np.arange(n), kk)
        cols = order.ravel()
        return pd.DataFrame(
            {
                "vec_id": ids[rows],
                "neighbor_id": ids[cols],
                "rank": np.tile(np.arange(1, kk + 1), n).astype("int32"),
                "cosine": cos[rows, cols],
            }
        )

    return src.groupBy("centroid_id").applyInPandas(
        cluster_topk,
        schema="vec_id long, neighbor_id long, rank int, cosine double",
    )


def ivf_balance_audit(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cluster-balance audit — the capacity-planning companion to
    the recall audit: per centroid, its member count, corpus share, and
    skew factor (share x n_clusters; 1.0 = perfectly balanced). A
    skewed IVF index serves skewed probe latencies and starves recall
    in fat clusters, so this table is what decides re-fitting with more
    centroids (or splitting a hot cell) before an index ships.

    Output: (centroid_id, n_vecs, share, skew) — centroids with zero
    members emit (0, 0.0, 0.0) rather than vanishing (an empty cell is
    exactly what the audit must surface).

    Scale shape: the assignment is ``ivf_assign``'s pure map; the
    rollup is one groupBy over centroid ids (k rows out); the total
    rides a 1-row broadcast crossJoin. The corpus never shuffles."""
    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    all_cents = centroids.select("centroid_id").join(
        sizes, "centroid_id", "left"
    ).select(
        "centroid_id", F.coalesce("n_vecs", F.lit(0)).alias("n_vecs")
    )
    k = centroids.count()
    tot = all_cents.agg(F.sum("n_vecs").alias("__tot"))
    return all_cents.crossJoin(F.broadcast(tot)).select(
        "centroid_id",
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("__tot"), 6).alias("share"),
        F.round(F.col("n_vecs") * F.lit(k) / F.col("__tot"), 6).alias("skew"),
    )


def knn_mutual_graph(
    knn_graph: DataFrame,
) -> DataFrame:
    """MUTUAL k-NN edge filter over a (vec_id, neighbor_id, rank,
    cosine) graph: keep the undirected edge {a, b} only when a lists b
    AND b lists a. Directed k-NN edges are asymmetric — a point on a
    cluster's rim lists the cluster core, but the core's k slots fill
    with other core points — and that asymmetry is exactly what hubness
    looks like in high dimensions: hub points appear in everyone's
    lists while listing only each other. Mutuality is the standard
    cheap de-hubbing step before graph clustering or kNN-graph dedup
    (e.g. mutual-kNN clustering, UMAP's symmetrization family): rim→
    core one-way edges drop, genuinely-close pairs survive.

    Output: (vec_id, neighbor_id, cosine, rank_fwd, rank_rev) with
    vec_id < neighbor_id, one row per surviving undirected edge;
    rank_fwd = b's rank in a's list, rank_rev = a's rank in b's.

    Scale shape: one self-join of the k-bounded edge list on the
    reversed (vec_id, neighbor_id) key — both sides are exactly
    k x |corpus| rows carrying (two ids, int, double); the corpus and
    its vectors are never touched again."""
    fwd = knn_graph.select(
        "vec_id", "neighbor_id",
        F.col("rank").alias("rank_fwd"), "cosine",
    ).filter(F.col("vec_id") < F.col("neighbor_id"))
    rev = knn_graph.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("rank").alias("rank_rev"),
    ).filter(F.col("vec_id") < F.col("neighbor_id"))
    return fwd.join(rev, ["vec_id", "neighbor_id"]).select(
        "vec_id", "neighbor_id", "cosine", "rank_fwd", "rank_rev"
    )


def ivf_probe_sweep_audit(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    probes: tuple[int, ...] = (1, 2, 3, 4),
    k: int = 5,
) -> DataFrame:
    """Recall-vs-probes SWEEP: recall@k of multi-probe IVF against the
    exact brute-force baseline, one row PER PROBE COUNT — the tuning
    curve behind the n_probe knob (the fixed-probe ``recall audit``
    answers "is p good enough"; the sweep answers "which p"). Completes
    the index-health triad's tuning loop: balance says whether cells
    are usable, recall says whether one setting works, the sweep shows
    where the recall/latency curve flattens so p is chosen, not
    guessed.

    Output: (n_probes, n_exact, n_hit, recall_at_k) aggregated over all
    queries; n_exact = k x |queries| by construction, monotone
    non-decreasing n_hit in n_probes (more probes only ADD candidates).

    Scale shape (reworked r12, second pass): candidates are generated
    and scored ONCE at max(probes) — probe assignments are
    prefix-nested and a corpus vector matches at most one probed
    cluster per query, so each branch's candidate set is exactly the
    probe-rank <= p filter of the p_max set; per-branch work is a
    filter + rank window + marker-join aggregate over the persisted
    (pair-sized) candidate table. The corpus is touched exactly once
    (ivf_assign's pure-map assignment into the broadcast-probe join,
    never shuffled), where the first r12 shape re-scored the nested
    candidate sets once per branch against a persisted corpus
    assignment. The brute-force truth stays persisted across the
    branch aggregates; both pins release after the len(probes)-row
    curve is eagerly materialized (the band-sweep release pattern).

    Measured 5x point (r12 clean window, tools/probe_5x.py, 5
    id-shifted corpus copies): this shape 2.23 s at 1x / 2.11 s at 5x
    best-of-3 — scheduling-bound, 5x/1x = 0.94 — and it beats the
    previous per-branch shape (persisted corpus assignment + 4
    ivf_topk passes) at BOTH scales: 0.91x at 1x, 0.85x at 5x,
    outputs row-identical. The earlier persist-vs-AQE-reuse question
    (r11 verdict #5) is superseded: with one scoring pass there is no
    repeated subplan left for either mechanism to dedup."""
    from functools import reduce

    bf = brute_force_topk(embeddings, queries, k=k).select(
        "query_id", "vec_id"
    ).persist()
    # ONE candidate-generation pass at max(probes) (r12): probe
    # assignments are prefix-nested (ivf_probe_assign(p) is exactly the
    # probe-rank <= p prefix of the p_max assignment — same rounded
    # cosine, same (cosine DESC, centroid_id ASC) tie-break), and a
    # corpus vector matches at most one probed cluster per query, so
    # the p-probe candidate set is exactly the __probe <= p filter of
    # the p_max candidate set. Scoring the p_max set once and deriving
    # each branch by filter + rank replaces len(probes) ivf_topk
    # passes over the assigned corpus — every query-candidate cosine
    # is computed exactly once (the old shape re-scored the p=1 set 4x,
    # the p=2 set 3x, ...). The persisted candidate table is
    # (|queries| x probed-cluster population)-sized, strictly smaller
    # than the previously-persisted corpus assignment it replaces.
    p_max = max(probes)
    qa = ivf_probe_assign(queries, centroids, n_probe=p_max)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("centroid_cosine").desc(), F.col("centroid_id").asc()
    )
    qs = (
        qa.withColumn("__probe", F.row_number().over(w_probe))
        .select(
            "query_id",
            quantize(F.col("query_vec")).alias("__qq"),
            F.col("centroid_id").alias("c_query"),
            "__probe",
        )
    )
    corpus = ivf_assign(embeddings, centroids).select(
        "vec_id",
        quantize(F.col("embedding")).alias("__qv"),
        F.col("centroid_id").alias("c_corpus"),
    )
    cand = (
        corpus.join(
            F.broadcast(qs), F.col("c_corpus") == F.col("c_query"), "inner"
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_pre_quantized(F.col("__qv"), F.col("__qq")), 6
            ).alias("cosine"),
            "__probe",
        )
        .persist()
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    branches = []
    for p in probes:
        approx = (
            cand.filter(F.col("__probe") <= p)
            .withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id")
        )
        joined = bf.alias("b").join(
            approx.alias("i"),
            (F.col("b.query_id") == F.col("i.query_id"))
            & (F.col("b.vec_id") == F.col("i.vec_id")),
            "left",
        )
        branches.append(
            joined.agg(
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                F.sum(
                    F.when(F.col("i.vec_id").isNotNull(), 1).otherwise(0)
                ).cast("long").alias("n_hit"),
            ).select(
                F.lit(p).cast("int").alias("n_probes"),
                "n_exact",
                "n_hit",
                F.round(F.col("n_hit") / F.col("n_exact"), 6).alias(
                    f"recall_at_{k}"
                ),
            )
        )
    # eager-materialize the len(probes)-row curve, then release the
    # pair-sized pins — the audit must not hold caches past its return
    out = reduce(lambda a, b: a.unionByName(b), branches).localCheckpoint()
    bf.unpersist()
    cand.unpersist()
    return out
