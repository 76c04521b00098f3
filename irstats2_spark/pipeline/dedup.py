"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash. All engine-portable —
hashes derive from md5 hex strings so a SQL oracle can reproduce results
bit-for-bit (Spark's xxhash/murmur are not portable across engines).

Scale design:
- exact: one hash-groupBy; the only shuffle carries (hash, doc_id).
- shingling: explode is map-side; DISTINCT (doc, shingle) shuffles once
  on the shingle hash.
- LSH: band signatures bucket-join candidates so the pairwise verify is
  |bucket|^2 within buckets, never |docs|^2; band signature strings are
  md5 hex (deterministic, seed-free).
- pairwise verify joins are self-joins on small candidate sets; the
  doc_id < doc_id2 guard halves the pair space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irstats2_spark.pipeline.lifecycle import release_after

# Default cap on |docs sharing one shingle| in the co-occurrence pair
# expanders below. The expanders build candidate pairs by collecting each
# shingle's doc list and expanding ordered pairs IN-ROW, so one corpus-wide
# boilerplate shingle shared by N docs materializes an N^2 struct array
# inside a single aggregation row — the same skewed-semantic-key blowup
# documented (and fixed via a banded self-join) for SimHash buckets below.
# A shingle shared by >64 docs is boilerplate by definition (site chrome,
# license headers), not near-duplication evidence — dropping those buckets
# is the standard web-scale approximation (same contract as
# ``minhash_lsh_dedup``'s band caps). Pass ``max_docs_per_shingle=None``
# explicitly for the exact uncapped form on corpora known to be clean.
DEFAULT_MAX_DOCS_PER_SHINGLE = 64


def normalize_text(col):
    """Canonical form for hashing: lowercase, punctuation stripped,
    whitespace collapsed + trimmed."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: md5(text) -> (hash, keeper=min id, n_dups)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# Tracking parameters every web-corpus canonicalizer strips (anchored:
# the whole param name must match, values irrelevant).
_TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid)(=|$)"


def canonicalize_url(url: Column) -> Column:
    """Canonical URL form for web-corpus dedup (beyond the reference's
    parser): two page fetches that differ only in scheme/host case,
    default port, fragment, tracking parameters, query-parameter order,
    or trailing slashes are the SAME document, and URL-keyed dedup must
    see one key for them.

    Rules (each engine-portable — the DuckDB oracle mirrors all of them):
    lowercase scheme (default http when absent) and host; drop the
    fragment; strip :80/:443 when they are the scheme default; trim
    trailing slashes off the path ('' -> '/'); drop utm_*/fbclid/gclid/
    msclkid params; sort surviving params byte-wise and rejoin.

    Pure string/array expressions — fuses into the scan, so
    canonicalization is free relative to the dedup's own shuffle.
    """
    u = F.regexp_replace(F.trim(url), r"#.*$", "")
    scheme_raw = F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    scheme = F.when(scheme_raw == "", F.lit("http")).otherwise(F.lower(scheme_raw))
    rest = F.when(scheme_raw == "", u).otherwise(
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    )
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    host = (
        F.when(
            (scheme == "http") & hostport.endswith(":80"),
            F.regexp_replace(hostport, ":80$", ""),
        )
        .when(
            (scheme == "https") & hostport.endswith(":443"),
            F.regexp_replace(hostport, ":443$", ""),
        )
        .otherwise(hostport)
    )
    tail = F.substr(rest, F.length(hostport) + 1)
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    query = F.when(
        F.length(tail) > F.length(path), F.substr(tail, F.length(path) + 2)
    ).otherwise(F.lit(""))
    path_c = F.regexp_replace(path, r"/+$", "")
    path_c = F.when(path_c == "", F.lit("/")).otherwise(path_c)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0) & ~p.rlike(_TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.sort_array(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path_c,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def word_shingles(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    keep_empty: bool = False,
) -> DataFrame:
    """Distinct k-word shingles per doc: (id, shingle).

    With ``keep_empty=True`` a doc too short to shingle (< k words)
    still emits one (id, NULL) row (``explode_outer``) — for consumers
    like contamination scoring whose decision predicate needs a row for
    EVERY doc; the default drops such docs entirely.

    Normalization + shingling is the CPU-heavy map stage of every dedup
    path — spread a narrow input across cores first (no-op at scale).

    Distinctness is PER DOCUMENT, so it is computed map-side with
    ``array_distinct`` on the per-row shingle array BEFORE the explode —
    a row-level dedup needs no shuffle. (A trailing ``.distinct()`` here
    used to cost every consumer in the shingle family — Jaccard, MinHash,
    LSH, contamination — one extra corpus-wide exchange on
    (doc_id, shingle) for work the next groupBy's shuffle absorbs
    anyway.)"""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    exploder = F.explode_outer if keep_empty else F.explode
    return docs.select(
        F.col(id_col).alias("doc_id"),
        exploder(shingle_array(F.col(text_col), k)).alias("shingle"),
    )


def shingle_array(text: "F.Column", k: int = 3) -> "F.Column":
    """Per-row array of DISTINCT k-word shingles — the pre-explode form
    of ``word_shingles``, map-side only (shared by the batch explode
    path and the streaming per-row MinHash, which must not aggregate).

    The split-normalized word array is BOUND AS A LAMBDA VARIABLE (the
    single-element-array transform trick) instead of being inlined:
    codegen re-evaluates an inlined subexpression at every reference,
    and ``slice(words, ...)`` references it once PER SHINGLE — the
    normalize+split regex ran O(n_tokens) times per document, turning
    the whole shingle family's map stage quadratic (measured 10.1s ->
    1.0s for the sf0.1 shingle explode). A lambda variable is evaluated
    once per element, and the outer array has exactly one element."""

    def build(words: "F.Column") -> "F.Column":
        n = F.size(words)
        # a doc with fewer than k words has NO k-shingles (the greatest()
        # fallback used to emit one short pseudo-shingle for such docs,
        # diverging from the SQL oracles' i+k-1 <= len(words) bound)
        idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.array_distinct(
            F.filter(
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))
                ),
                lambda s: F.length(s) > 0,
            )
        )

    return F.get(
        F.transform(F.array(F.split(normalize_text(text), " ")), build), 0
    )


def _ordered_pair_structs(arr: "F.Column", make_struct) -> "F.Column":
    """In-row ordered-pair expansion of a SORTED array: every (x, y) with
    x before y, as ``make_struct(x, y)`` structs.

    ``arr`` is bound as a lambda variable (the shingle_array trick): the
    callers pass an ``array_sort(...)`` EXPRESSION, which inlined would
    re-sort the bucket once per element (the slice inside the lambda
    references it |bucket| times)."""

    def expand(a: "F.Column") -> "F.Column":
        return F.flatten(
            F.transform(
                a,
                lambda x, i: F.transform(
                    F.slice(a, i + 2, F.size(a)),
                    lambda y: make_struct(x, y),
                ),
            )
        )

    return F.get(F.transform(F.array(arr), expand), 0)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_docs_per_shingle: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
    shingles: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Near-dup pairs by exact k-word-shingle Jaccard >= threshold.

    Brute-force baseline (pairs sharing >=1 shingle); the LSH variant
    below is the scale path. Output: (doc_a, doc_b, jaccard).

    The co-occurrence count groups docs per shingle and emits ordered
    pairs from the sorted id array — ONE shuffle of the shingle set,
    where the equivalent self-join on shingle shuffles it twice. The
    per-shingle pair blowup (|docs sharing a shingle|^2) materializes
    IN-ROW here, so ``max_docs_per_shingle`` (default
    ``DEFAULT_MAX_DOCS_PER_SHINGLE`` = 64) drops ultra-common shingles
    before the expansion: a >64-doc shingle is boilerplate, and counting
    it would both blow up one reducer row and inflate Jaccard for pairs
    whose only overlap is site chrome. ``None`` = exact uncapped form.
    Pass a (cached) ``shingles`` DataFrame to share the shingling scan
    with other consumers (the recall audit does).

    Cache lifecycle: when ``shingles`` is not supplied, the shingle scan
    is pinned for its two consumers; ``materialize`` selects who
    releases it (``pipeline.lifecycle``: False = lazy result, caller
    owns the pin; True = eager localCheckpoint + release here)."""
    own_pins: list[DataFrame] = []
    if shingles is None:
        shingles = word_shingles(docs, text_col, id_col, k).cache()
        own_pins.append(shingles)
    sh = shingles
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pair_structs = _ordered_pair_structs(
        F.array_sort(F.col("ids")),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    bucket_ok = F.size("ids") > 1
    if max_docs_per_shingle is not None:
        bucket_ok = bucket_ok & (F.size("ids") <= max_docs_per_shingle)
    common = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(bucket_ok)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return release_after(
        jac.select("doc_a", "doc_b", "jaccard"), own_pins, materialize
    )


def ngram_idf_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_docs_per_shingle: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
    materialize: bool = False,
) -> DataFrame:
    """IDF-WEIGHTED shingle Jaccard: overlap on a rare shingle counts
    more than overlap on corpus boilerplate —

        wj(A,B) = Σ_{s ∈ A∩B} idf(s) / Σ_{s ∈ A∪B} idf(s),

    idf(s) = ln(N / df(s)), N = corpus docs. Plain Jaccard scores two
    docs sharing only the site's footer the same as two sharing a rare
    paragraph; the weighted form suppresses the former and amplifies the
    latter (the set-similarity analog of TF-IDF).

    Engine-exact: idf quantizes ONCE per shingle to integer micro-nats
    (floor(1e6·ln(N/df)+0.5)); intersection/union weights are integer
    sums, one double division + 6dp round at the end. df(s) ≥ 2 for any
    shared shingle so idf > 0 whenever it matters (a shingle unique to
    one doc gets idf(N/1) in the union term — the maximal weight,
    correctly penalizing unshared content).

    Scale shape: the per-shingle df rides a WINDOW over the one
    shingle exchange (count over partitionBy(shingle) — no separate df
    aggregation and no shingle-keyed join back), and the resulting
    weighted scan is persisted once for its two consumers (the per-doc
    total rollup and the co-occurrence bucket groupBy, which was
    otherwise re-running the df derivation); downstream shuffles carry
    (doc pairs, integer idf partials) and per-doc total weights on a
    doc-keyed rollup. ``max_docs_per_shingle`` (default 64) drops
    boilerplate buckets before the in-row pair expansion — such
    shingles carry near-zero idf weight anyway, so the cap here barely
    moves scores while removing the N^2 hot-row risk; ``None`` =
    exact.

    Cache lifecycle: the weighted shingle scan is pinned for its two
    consumers; ``materialize`` selects who releases it
    (``pipeline.lifecycle``)."""
    from pyspark.sql import Window

    n_docs = docs.count()  # one cheap scalar job; N is a model constant
    sh = word_shingles(docs, text_col, id_col, k)
    df_c = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    idf_q = F.floor(
        F.lit(1e6) * F.log(F.lit(float(n_docs)) / df_c.cast("double"))
        + F.lit(0.5)
    ).cast("long")
    # persisted for the two consumers in the returned lazy plan; the
    # ``materialize`` contract (pipeline.lifecycle) decides who releases
    weighted = sh.select("doc_id", "shingle", idf_q.alias("__w")).persist()
    totals = weighted.groupBy("doc_id").agg(F.sum("__w").alias("__tw"))
    pair_structs = _ordered_pair_structs(
        F.array_sort(F.col("members")),
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["__w"].alias("__w"),
        ),
    )
    bucket_ok = F.size("members") > 1
    if max_docs_per_shingle is not None:
        bucket_ok = bucket_ok & (F.size("members") <= max_docs_per_shingle)
    common = (
        weighted.groupBy("shingle")
        .agg(F.collect_list(F.struct("doc_id", "__w")).alias("members"))
        .filter(bucket_ok)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.sum("p.__w").alias("w_common"))
    )
    ta = totals.select(F.col("doc_id").alias("doc_a"), F.col("__tw").alias("wa"))
    tb = totals.select(F.col("doc_id").alias("doc_b"), F.col("__tw").alias("wb"))
    wj = F.round(
        F.col("w_common")
        / (F.col("wa") + F.col("wb") - F.col("w_common")).cast("double"),
        6,
    )
    return release_after(
        common.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("idf_jaccard", wj)
        .filter(F.col("idf_jaccard") >= threshold)
        .select("doc_a", "doc_b", "idf_jaccard"),
        [weighted],
        materialize,
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_docs_per_shingle: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
    materialize: bool = False,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment
    C(A in B) = |A ∩ B| / |A| — the sub-document-duplication detector
    Jaccard structurally misses: a short doc fully quoted inside a long
    one has containment 1.0 but Jaccard ≈ |A|/|B| → 0 as B grows.
    Output: (doc_id, contained_in, containment) — one DIRECTED row per
    (smaller-side, larger-side) with C >= threshold; curation drops
    ``doc_id`` (the contained doc) and keeps ``contained_in``.

    Same one-shuffle co-occurrence shape as ``ngram_jaccard_pairs``
    (shared shingle -> ordered pairs -> per-pair n_common), then BOTH
    directed containments are checked from the one undirected pair row.
    ``max_docs_per_shingle`` (default 64) caps boilerplate blowup
    identically; ``None`` = exact.

    Cache lifecycle: the shingle scan is pinned for its two consumers;
    ``materialize`` selects who releases it (``pipeline.lifecycle``)."""
    sh = word_shingles(docs, text_col, id_col, k).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pair_structs = _ordered_pair_structs(
        F.array_sort(F.col("ids")),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    bucket_ok = F.size("ids") > 1
    if max_docs_per_shingle is not None:
        bucket_ok = bucket_ok & (F.size("ids") <= max_docs_per_shingle)
    common = (
        sh.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(bucket_ok)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    both = common.join(sa, "doc_a").join(sb, "doc_b")
    # both directed containments come out of the one undirected pair row
    # IN-ROW (explode of two structs) — a union of two projections of
    # `both` would put the whole join subtree in the plan twice (r12;
    # rows identical: same two directed rows per pair, same filter)
    directed = F.array(
        F.struct(
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("contained_in"),
            F.round(F.col("n_common") / F.col("na"), 6).alias("containment"),
        ),
        F.struct(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("contained_in"),
            F.round(F.col("n_common") / F.col("nb"), 6).alias("containment"),
        ),
    )
    return release_after(
        both.select(F.explode(directed).alias("__p"))
        .select("__p.*")
        .filter(F.col("containment") >= threshold),
        [sh],
        materialize,
    )


def _minhash_aggs(n_hashes: int) -> list:
    """Per-doc MinHash aggregate expressions: permutation i's hash of a
    shingle is an 8-hex-char SLICE of md5(salt || shingle) — one md5
    digest yields four 32-bit slices, so 8 permutations cost 2 md5 calls
    per shingle instead of 8 (the hashing CPU is the dominant per-byte
    cost of MinHash over 100 TB of shingles). Lexicographic min over
    fixed-width lowercase hex == numeric min. Deterministic, seed-free,
    reproducible in any engine with md5+substring."""
    aggs = []
    for i in range(n_hashes):
        salt, slot = divmod(i, 4)
        digest = F.md5(
            F.concat(F.lit(f"{salt}:"), F.col("shingle"))
            if salt
            else F.col("shingle")
        )
        aggs.append(
            F.min(F.substring(digest, 1 + 8 * slot, 8)).alias(f"mh_{i}")
        )
    return aggs


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 8
) -> DataFrame:
    """Engine-portable MinHash signatures per doc (see _minhash_aggs)."""
    return shingles.groupBy("doc_id").agg(*_minhash_aggs(n_hashes))


def minhash_row_cols(sh, n_hashes: int = 8) -> list:
    """Per-ROW MinHash signature expressions over a shingle ARRAY column
    (``shingle_array`` output): ``array_min`` over each permutation's
    hash — bit-identical to ``_minhash_aggs``' groupBy-min over the
    exploded shingles (min is insensitive to the array's distinctness
    and order), but computed entirely MAP-SIDE with no aggregation.

    This is what makes MinHash streamable: a Structured Streaming query
    can't run the groupBy form without watermarked stateful aggregation,
    but these columns fuse into the stateless projection of each
    micro-batch (streams.neardup_doc_stream). An empty shingle
    array (doc too short) yields NULL signature slots — such docs can't
    near-dup and band-join nothing."""
    # closure factory, not default args: F.transform counts a lambda's
    # default parameters as lambda arity and would bind the array index
    # to them
    def perm_hash(salt: int, slot: int):
        def h(s):
            digest = F.md5(F.concat(F.lit(f"{salt}:"), s)) if salt else F.md5(s)
            return F.substring(digest, 1 + 8 * slot, 8)

        return h

    cols = []
    for i in range(n_hashes):
        salt, slot = divmod(i, 4)
        cols.append(
            F.array_min(F.transform(sh, perm_hash(salt, slot))).alias(f"mh_{i}")
        )
    return cols


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    shingles: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band signature.
    Output: (doc_a, doc_b, n_bands_shared). Pass a (cached) ``shingles``
    DataFrame to share the shingling scan with the verify stage."""
    assert n_hashes % bands == 0
    if shingles is None:
        shingles = word_shingles(docs, text_col, id_col, k)
    sig = minhash_signatures(shingles, n_hashes)
    return _band_candidates(sig, n_hashes, bands, max_bucket_size)


def _band_candidates(
    sig: DataFrame,
    n_hashes: int,
    bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Docs sharing a banded signature: (doc_a, doc_b, n_bands_shared).

    Same one-shuffle shape as ngram_jaccard_pairs: group docs per
    (band, sig) bucket, emit ordered pairs from the sorted id array —
    the equivalent self-join on the band key shuffles the banded rows
    twice. The bucket key (band, md5-of-band-rows) spreads uniformly,
    so the shuffle is skew-free; pair blowup is |bucket|^2 within
    buckets, never |docs|^2. ``max_bucket_size`` drops pathological
    buckets (mass-boilerplate collision sets) — at web scale, a bucket
    of N near-identical docs emits N^2 pairs that downstream clustering
    would collapse to one keeper anyway; run exact_dedup first so true
    duplicates never reach LSH, then cap survivors."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("sig"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    pair_structs = _ordered_pair_structs(
        F.array_sort(F.col("ids")),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    bucket_ok = F.size("ids") > 1
    if max_bucket_size is not None:
        bucket_ok = bucket_ok & (F.size("ids") <= max_bucket_size)
    return (
        banded.groupBy("band", "sig")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(bucket_ok)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup: LSH candidates verified by true Jaccard.
    Output: (doc_a, doc_b, jaccard) for verified pairs.

    One-shuffle design: a single groupBy over the shingle set computes the
    MinHash minima, the shingle SET (collect_set), and the shingle count
    per doc, all in one pass — the md5 per shingle is evaluated once, and
    no later stage touches the raw (doc, shingle) rows again. Candidates
    come from the banded self-join (skew-free md5 keys); the Jaccard
    verify is then map-side: broadcast the candidate pairs onto the
    per-doc rows and intersect the two shingle arrays in the JVM
    (array_intersect is hash-based, O(|set|)). Per-doc state is bounded
    by document length, not corpus size. At candidate volumes past
    broadcast limits, semi-filter per-doc rows by candidate ids and let
    AQE plan the pair joins instead of hinting broadcast.

    Cache lifecycle: the per-doc signature/set pass is pinned for its
    three consumers (band candidates + both verify sides);
    ``materialize`` selects who releases it (``pipeline.lifecycle``)."""
    sh = word_shingles(docs, text_col, id_col, k)
    per_doc = sh.groupBy("doc_id").agg(
        *_minhash_aggs(n_hashes),
        F.collect_set("shingle").alias("__set"),
        F.count(F.lit(1)).alias("__n"),
    )
    per_doc = per_doc.cache()  # reused: band candidates + both verify sides
    cand = _band_candidates(per_doc, n_hashes, bands, max_bucket_size)
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"), F.col("__set").alias("__sa"), F.col("__n").alias("na")
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"), F.col("__set").alias("__sb"), F.col("__n").alias("nb")
    )
    pairs = a.join(F.broadcast(cand.select("doc_a", "doc_b")), "doc_a").join(b, "doc_b")
    n_common = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    return release_after(
        pairs.withColumn(
            "jaccard",
            F.round(n_common / (F.col("na") + F.col("nb") - n_common), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        [per_doc],
        materialize,
    )


def simhash_quality_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """SimHash QUALITY audit against exact-Jaccard truth — the
    SimHash-tier counterpart of ``lsh_recall_audit``: every true
    near-dup pair (shingle Jaccard >= ``threshold``) tagged with its
    actual 64-bit Hamming distance and whether the banded miner
    (``simhash_hamming_pairs`` at ``max_hamming``) reports it. The two
    audits measure different failure modes: MinHash-LSH estimates
    Jaccard itself, so its misses are BLOCKING losses (band
    granularity); SimHash approximates a different similarity (cosine
    over the term multiset), so a miss here is a MODEL gap — the number
    to look at before replacing the shingle tier with the two-int
    signature index. found == (hamming <= max_hamming) exactly, because
    the banded miner's pigeonhole guarantee (oracle-pinned on its own
    row) surfaces every pair within Hamming bands-1.

    Output: (doc_a, doc_b, jaccard, hamming, found).

    Scale shape: the truth side is the one-shuffle co-occurrence pair
    miner (sample the corpus at web scale — an audit doesn't need all
    of it); signatures are one vectorized map pass joined twice by id —
    pair-set-sized work after the miners.

    Cache lifecycle: audits default to ``materialize=True`` — the
    truth side flows through LAZILY (one shared shingle pin, made
    here) and the single outer checkpoint below both evaluates the
    result and releases that pin, exactly like ``lsh_recall_audit``;
    routing ``materialize`` into ``ngram_jaccard_pairs`` instead would
    pay a second eager localCheckpoint for the same pair set."""
    sh = word_shingles(docs, text_col, id_col, k).cache()
    truth = ngram_jaccard_pairs(
        docs, text_col, id_col, k, threshold=threshold, shingles=sh
    )
    sig = simhash64(docs, text_col, id_col)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sim_lo").alias("__alo"),
        F.col("sim_hi").alias("__ahi"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sim_lo").alias("__blo"),
        F.col("sim_hi").alias("__bhi"),
    )
    hamming = (
        F.bit_count(F.col("__alo").bitwiseXOR(F.col("__blo")))
        + F.bit_count(F.col("__ahi").bitwiseXOR(F.col("__bhi")))
    ).cast("int")
    return release_after(
        truth.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            hamming.alias("hamming"),
            (hamming <= max_hamming).alias("found"),
        ),
        [sh],
        materialize,
    )


def winnow_shared_pairs(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs by SHARED WINNOWING FINGERPRINTS — the
    MOSS matching step on top of ``textstats.winnow_fingerprints``:
    docs sharing >= ``min_shared`` distinct selected fingerprints are
    candidates, with the winnowing guarantee that any common run of
    ``window + k - 1``+ tokens shares at least one fingerprint. Output:
    (doc_a, doc_b, n_shared).

    Scale shape: same one-shuffle co-occurrence form as
    ``ngram_jaccard_pairs`` — group doc ids per fingerprint, expand
    ordered pairs IN-ROW from the sorted id array — but over a gram
    stream winnowing already cut to ~1/window density, so the shuffle
    is proportionally smaller before any capping. The same boilerplate
    cap applies (``max_docs_per_fp``, default 64): a fingerprint
    shared by more docs than that is site chrome, and expanding it is
    the skewed-key blowup the SimHash self-join rewrite documents."""
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    fps = winnow_fingerprints(docs, k, window, text_col, id_col).select(
        id_col, "fp"
    ).distinct()
    grouped = fps.groupBy("fp").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    if max_docs_per_fp is not None:
        grouped = grouped.filter(F.size("ids") <= max_docs_per_fp)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_incremental(
    new_docs: DataFrame,
    old_fps: DataFrame,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental winnowing match — the nightly-batch form of the MOSS
    matcher: fingerprint only the NEW documents and join them against
    the accumulated fingerprint snapshot (``winnow_fingerprints``
    output, stored exploded as (doc_id, fp)), completing the
    incremental tier for the winnowing family the way
    ``simhash_hamming_incremental`` does for SimHash. Output:
    (old_id, new_id, n_shared) for cross pairs sharing >=
    ``min_shared`` distinct fingerprints; new-vs-new pairs are out of
    scope (run ``winnow_shared_pairs`` over the accumulated corpus).

    The boilerplate cap applies to the SNAPSHOT side (a fingerprint in
    > ``max_docs_per_fp`` historical docs is site chrome; joining it
    fans every new occurrence out by that df — the skewed-key blowup
    the SimHash self-join rewrite documents).

    Scale shape: new-side fingerprinting is the zero-shuffle per-row
    map; the join is hash-keyed on fp with the snapshot side grouped-
    capped first; the pair count shuffles (old_id, new_id) ints,
    ∝ cross hits."""
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    new_fps = (
        winnow_fingerprints(new_docs, k, window, text_col, id_col)
        .select(F.col("doc_id").alias("new_id"), "fp")
        .distinct()
    )
    old = old_fps.select(F.col(id_col).alias("old_id"), "fp").distinct()
    if max_docs_per_fp is not None:
        ok = (
            old.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_docs_per_fp)
            .select("fp")
        )
        old = old.join(ok, "fp", "left_semi")
    return (
        old.join(new_fps, "fp")
        .groupBy("old_id", "new_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cluster_keepers_by_score(
    components: DataFrame,
    scores: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper selection for near-dup clusters: instead of
    ``connected_components``' min-id keeper, keep each cluster's
    HIGHEST-scoring member (min-id tiebreak) — the curation-correct rule
    when duplicates differ (truncated mirrors, boilerplate-injected
    copies): dedup should discard the worse copy, and min-id picks
    whichever was crawled first.

    ``components``: (doc_id, cluster_id) from connected_components;
    ``scores``: (doc_id, score) — any per-doc quality signal (token
    count, classifier margin, negated LM NLL). Output: (doc_id,
    cluster_id, score, is_keeper).

    Scale shape: one join on doc_id + a struct-max window per
    cluster_id — both keyed by ids, ∝ the dup-pair node set, never the
    corpus; exactly one keeper per cluster by construction (the
    (score, -id) struct ordering is a total order)."""
    joined = components.join(
        scores.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("score")),
        "doc_id",
    )
    from pyspark.sql import Window

    pick = F.struct(F.col("score"), (-F.col("doc_id")).alias("__negid"))
    best = F.max(pick).over(Window.partitionBy("cluster_id"))
    return joined.select(
        "doc_id", "cluster_id", "score", (pick == best).alias("is_keeper")
    )


def lsh_recall_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """LSH recall audit — the dedup counterpart of the ANN recall audit:
    for every TRUE near-dup pair (exact shingle Jaccard >= threshold),
    did the banded MinHash blocking surface it as a candidate? Output:
    (doc_a, doc_b, jaccard, found). The aggregate recall is
    sum(found)/count — kept per-pair so the misses themselves are
    inspectable (they cluster just above the threshold, where the
    (1/bands)-exponent S-curve is steepest; tuning bands/n_hashes against
    a measured recall beats trusting the closed-form curve).

    Scale shape: the exact side is the one-shuffle shingle co-occurrence
    (run it on a SAMPLE at web scale — auditing doesn't need the full
    corpus); the candidate side is the banded signature join; both reuse
    one cached shingle scan.

    Cache lifecycle: audits default to ``materialize=True`` — the
    pair-set-sized result is evaluated eagerly and the shared shingle
    pin released before returning (``pipeline.lifecycle``)."""
    sh = word_shingles(docs, text_col, id_col, k).cache()
    truth = ngram_jaccard_pairs(
        docs, text_col, id_col, k, threshold=threshold, shingles=sh
    )
    cand = minhash_lsh_candidates(
        docs, text_col, id_col, k, n_hashes, bands, shingles=sh
    )
    flag = cand.select("doc_a", "doc_b").withColumn("__f", F.lit(1))
    return release_after(
        truth.join(flag, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.col("__f").isNotNull().alias("found"),
        ),
        [sh],
        materialize,
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Engine-portable SimHash over words: bit b of a word's hash is bit b
    of the first 4 bytes of md5(word); the document's bit b is 1 iff the
    sum of votes (+1/-1 per DISTINCT word) is positive. Output:
    (doc_id, simhash int).

    Entirely map-side: the distinct-word set, the word hashes (one md5
    per word via a single array transform), and the 16 bit-votes are all
    per-row array expressions — NO shuffle, so at 100 TB this fuses into
    the scan stage and costs exactly one pass over the text. (The
    previous formulation exploded words and shuffled twice: once for the
    (doc, word) distinct, once for the vote groupBy.)"""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    words = F.array_distinct(
        F.filter(
            F.split(normalize_text(F.col(text_col)), " "),
            lambda w: F.length(w) > 0,
        )
    )
    # first 8 hex chars of md5 -> 32-bit int; computed once per word
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )
    sim = None
    for b in range(bits):
        vote = F.aggregate(
            F.col("__wh"),
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(1) == 1, 1).otherwise(-1),  # noqa: B023
        )
        term = F.when(vote > 0, 2**b).otherwise(0)
        sim = term if sim is None else sim + term
    return docs.withColumn("__wh", hashes).select(
        F.col(id_col).alias("doc_id"), sim.cast("long").alias("simhash")
    )


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """64-bit SimHash as TWO 32-bit halves (doc_id, sim_lo, sim_hi) —
    the Manku-et-al. production width. Two halves rather than one long
    because bit 63 of a packed single value would overflow signed int64
    arithmetic in SQL engines (2^63 has no positive BIGINT), and the
    Hamming math is identical: popcount(xor(lo)) + popcount(xor(hi)).

    Word hashes are the first and second 8-hex-char slices of md5(word)
    — independent 32-bit draws, engine-portable. Same zero-shuffle
    map-side shape as ``simhash``; being a stateless projection it also
    runs on STREAMING DataFrames unchanged (``keep_cols`` carries
    event-time columns through for the streaming twin).

    Computed as ONE Arrow-batched vectorized pass (mapInPandas): python
    md5 over the batch's distinct words, then all 64 bit-votes as two
    numpy scatter-adds — bit-identical to the 64-expression-fold
    formulation it replaces (md5 bytes are md5 bytes; votes are
    order-free integer sums; sign/packing replayed exactly, including
    the all-zero signature for empty or NULL text), which evaluated
    64 x |words| interpreted lambda steps per row and was the shared
    dominant cost of every SimHash-headed chain."""
    import hashlib

    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    src = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in keep_cols],
        normalize_text(F.col(text_col)).alias("__norm"),
    )
    out_schema = src.drop("__norm").schema.add("sim_lo", "long").add(
        "sim_hi", "long"
    )
    passthrough = ["doc_id", *keep_cols]
    shifts = np.arange(32, dtype=np.int64)

    def part(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            row_idx: list[int] = []
            h1: list[int] = []
            h2: list[int] = []
            for i, text in enumerate(pdf["__norm"]):
                if not text:
                    continue  # empty/NULL text: zero votes -> sig (0, 0)
                for w in {w for w in text.split(" ") if w}:
                    hx = hashlib.md5(w.encode("utf-8")).hexdigest()
                    row_idx.append(i)
                    h1.append(int(hx[:8], 16))
                    h2.append(int(hx[8:16], 16))
            votes1 = np.zeros((n, 32), dtype=np.int64)
            votes2 = np.zeros((n, 32), dtype=np.int64)
            if row_idx:
                idx = np.array(row_idx)
                b1 = ((np.array(h1, dtype=np.int64)[:, None] >> shifts) & 1) * 2 - 1
                b2 = ((np.array(h2, dtype=np.int64)[:, None] >> shifts) & 1) * 2 - 1
                np.add.at(votes1, idx, b1)
                np.add.at(votes2, idx, b2)
            lo = ((votes1 > 0).astype(np.int64) << shifts).sum(axis=1)
            hi = ((votes2 > 0).astype(np.int64) << shifts).sum(axis=1)
            out = pdf[passthrough].copy()
            out["sim_lo"] = lo
            out["sim_hi"] = hi
            yield out

    return src.mapInPandas(part, schema=out_schema)


def _simhash_banded(
    sig: DataFrame, bands: int, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Explode (doc_id, sim_lo, sim_hi) signatures into per-band rows
    (doc_id[, keep_cols], sim_lo, sim_hi, band, key) — each band is a
    contiguous 64/bands-bit slice out of the two 32-bit halves. Shared
    by the full self-join pair miner, the incremental snapshot join,
    and the streaming twin (keep_cols carries event time through) so
    every consumer bands identically by construction."""
    band_bits = 64 // bands
    mask = (1 << band_bits) - 1
    slices = []
    for b in range(bands):
        half = F.col("sim_lo") if b < bands // 2 else F.col("sim_hi")
        shift = (b % (bands // 2)) * band_bits
        slices.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(half, shift).bitwiseAND(F.lit(mask)).alias("key"),
            )
        )
    return sig.select(
        "doc_id",
        *[F.col(c) for c in keep_cols],
        "sim_lo",
        "sim_hi",
        F.explode(F.array(*slices)).alias("bk"),
    ).select(
        "doc_id",
        *[F.col(c) for c in keep_cols],
        "sim_lo",
        "sim_hi",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )



def simhash_hamming_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS: banded blocking over the 64-bit signature,
    then an exact Hamming verify. Output: (doc_a, doc_b, hamming) for
    pairs with popcount(xor(sig_a, sig_b)) <= max_hamming.

    Completes the SimHash tier: ``simhash`` emits signatures but (before
    this) no pair stage existed, so SimHash could not feed
    ``connected_components`` the way MinHash-LSH does. Blocking is the
    classic Charikar/Manku split: cut the signature into ``bands`` equal
    slices and bucket-join on (band, slice). Pigeonhole: any pair within
    Hamming distance ``bands - 1`` agrees exactly on at least one slice,
    so with ``max_hamming <= bands - 1`` (default 3 <= 3) the banded
    output EQUALS the all-pairs scan — the oracle verifies that
    equivalence, not just plausibility.

    Scale shape: signatures are map-side (zero-shuffle ``simhash64``);
    banding explodes to ``bands`` rows per doc carrying only (doc_id,
    band, 16-bit slice, lo, hi) — never text. Candidates come from a
    SELF-JOIN on the (band, slice) key, NOT the collect-a-bucket-array
    groupBy the MinHash path uses: simhash slices are SEMANTIC keys
    (similar docs collide by construction), so bucket sizes are heavy-
    tailed where MinHash's md5 band keys are uniform — a hot bucket of
    N docs would materialize an N^2 struct array inside ONE aggregation
    row (the first version of this operator spent 60 s of a 220 s bench
    run in exactly that), while the join STREAMS the same pairs through
    codegen and AQE's skew-join splitting distributes a hot key across
    tasks. The Hamming verify sits in the join condition, so only
    passing pairs (output-sized, not candidate-sized) reach the
    pair-dedup groupBy. ``max_bucket_size`` drops boilerplate-collision
    buckets via a tiny bucket-size side table; run ``exact_dedup``
    first so true duplicates never inflate a bucket."""
    # the signature is stored as two 32-bit halves (sim_lo/sim_hi), and
    # each band slices one half — so the band count must split evenly
    # across the two halves: bands ∈ {2, 4, 8, 16, 32, 64}. bands=1
    # would need a single 64-bit slice spanning both columns (and
    # divides by bands//2 == 0 below); odd counts straddle the boundary.
    assert bands >= 2 and bands % 2 == 0 and 64 % bands == 0, (
        "bands must be one of {2, 4, 8, 16, 32, 64}: the 64-bit signature "
        "is sliced per-band out of two 32-bit halves"
    )
    sig = simhash64(docs, text_col, id_col)
    banded = _simhash_banded(sig, bands)
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        banded = (
            banded.join(F.broadcast(sizes), ["band", "key"])
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    a = banded.select(
        F.col("band"),
        F.col("key"),
        F.col("doc_id").alias("doc_a"),
        F.col("sim_lo").alias("__alo"),
        F.col("sim_hi").alias("__ahi"),
    )
    b_side = banded.select(
        F.col("band"),
        F.col("key"),
        F.col("doc_id").alias("doc_b"),
        F.col("sim_lo").alias("__blo"),
        F.col("sim_hi").alias("__bhi"),
    )
    hamming = (
        F.bit_count(F.col("__alo").bitwiseXOR(F.col("__blo")))
        + F.bit_count(F.col("__ahi").bitwiseXOR(F.col("__bhi")))
    ).cast("int")
    return (
        a.join(
            b_side,
            on=[
                a["band"] == b_side["band"],
                a["key"] == b_side["key"],
                F.col("doc_a") < F.col("doc_b"),
            ],
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        # a pair sharing several bands appears once per shared band
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Transitive closure of near-dup pairs: (doc_id, cluster_id) where
    cluster_id = the MIN doc id reachable through any chain of pairs.
    Near-dup is not transitive, so pair output alone under-deduplicates
    (A~B, B~C leaves A,C both kept); keeper selection needs components.

    Distributed min-label propagation: every node starts labeled with
    itself; each round a node adopts the min label among itself and its
    neighbors; fixpoint in O(component diameter) rounds (near-dup
    clusters are shallow — a handful). Per round: one join of the label
    table onto the edge list + one min-groupBy; the label table is
    ``localCheckpoint``-ed so lineage (and recovery cost) stays O(1) in
    rounds. The tables involved scale with |dup-pair nodes|, not corpus
    size. Convergence is an exact fixpoint — output is deterministic and
    iteration-count-independent.
    """
    # Materialize the (small) pair set once: the pair source is typically
    # a whole LSH pipeline, and both union branches, the label init, and
    # every propagation round would re-derive it otherwise.
    from pyspark.sql import Observation

    pairs = pairs.select(a_col, b_col).localCheckpoint()
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )

    # labels only ever decrease, so an unchanged sum proves fixpoint.
    # The checksum rides the SAME action that materializes the label
    # table (observe() metrics are collected by localCheckpoint's job),
    # so each round is one distributed action, not two (r12: the
    # separate per-round checksum agg was ~half the loop's job count).
    def _chk(lbl: DataFrame):
        obs = Observation()
        ck = lbl.observe(
            obs, F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint()
        return ck, obs.get["s"]

    labels, prev = _chk(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "comp")
        )
        labels, cur = _chk(
            labels.union(neighbor_min)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        if cur == prev:
            break
        prev = cur
    return labels.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


def embedding_cosine_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scale: int = 1000,
    max_cells: int = 50_000_000,
) -> DataFrame:
    """Embedding near-dup pairs by quantized cosine >= threshold.

    All-pairs scoring as a blocked matrix multiply: the corpus (the
    "small side", like a broadcast-join build side) ships to every task
    once, and each task scores its row block against it with one numpy
    GEMM — a ~100x win over per-pair array folds, with bit-identical
    results: vectors are quantized to ints (floor(x*scale+0.5), see
    similarity.quantize), so every product/sum is an integer < 2^53 and
    float64 GEMM is EXACT regardless of summation order; the final
    round is half-up to match SQL ROUND.

    This is the SMALL-CORPUS exact path, enforced: the whole corpus is
    driver-collected and broadcast, so it raises when n_rows * dim
    exceeds ``max_cells`` (default 5e7 float64 cells = ~400 MB, the
    conventional broadcast ceiling) — pointing at ``embedding_dups_ivf``,
    the no-driver-collect scale path, instead of silently OOMing a
    1000-executor job at the driver.
    """
    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.parallel import ensure_parallelism

    spark = embeddings.sparkSession
    src = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # one tiny agg job; far cheaper than discovering the size via a
    # failed driver collect
    stats = src.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size("v")).alias("dim")
    ).head()
    cells = (stats.n or 0) * (stats.dim or 0)
    if cells > max_cells:
        raise ValueError(
            f"embedding_cosine_dups is the small-corpus exact path: corpus "
            f"is {stats.n} x {stats.dim} = {cells} cells > max_cells="
            f"{max_cells}. Use embedding_dups_ivf (IVF-bucketed per-cluster "
            f"GEMM, no driver collect) for corpora past the broadcast budget."
        )
    corpus_pdf = src.toPandas()
    corpus_ids = corpus_pdf["id"].to_numpy()
    cq = np.floor(
        np.stack(corpus_pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5
    )
    c_norm = np.sqrt((cq * cq).sum(axis=1))
    bc = spark.sparkContext.broadcast((corpus_ids, cq, c_norm))

    def score(batches):
        ids_b, mat_b, norm_b = bc.value
        for pdf in batches:
            a_ids = pdf["id"].to_numpy()
            aq = np.floor(
                np.stack(pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5
            )
            a_norm = np.sqrt((aq * aq).sum(axis=1))
            cos = (aq @ mat_b.T) / np.outer(a_norm, norm_b)
            # SQL ROUND is half-up; cosines passing the threshold are
            # positive, where floor(x*1e6+0.5)/1e6 IS half-up
            cos = np.floor(cos * 1e6 + 0.5) / 1e6
            keep = (cos >= threshold) & (a_ids[:, None] < ids_b[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "doc_a": a_ids[ai],
                    "doc_b": ids_b[bi],
                    "cosine": cos[ai, bi],
                }
            )

    arranged = ensure_parallelism(src)
    return arranged.mapInPandas(
        score, schema="doc_a long, doc_b long, cosine double"
    )


def embedding_dups_ivf(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs at scale: IVF pre-bucketing, then the exact
    quantized GEMM per cluster — the scale path prescribed by
    embedding_cosine_dups' docstring, as code.

    Shape: ivf_assign scores each corpus vector against the broadcast
    centroid set map-side (one pass, no corpus shuffle), then ONE shuffle
    groups vectors by centroid_id and ``applyInPandas`` scores each
    cluster's block against itself with a numpy GEMM. No ``toPandas()``,
    no driver-side state, no global broadcast of the corpus: executor
    memory bounds the CLUSTER size (pick n_centroids ~ corpus_bytes /
    target_block_bytes), not the corpus.

    Quantized-integer math (floor(x*scale+0.5)) keeps every product below
    2^53, so the float64 GEMM is exact and a SQL oracle reproduces scores
    bit-for-bit; the final round is half-up like SQL ROUND.

    Approximation contract (standard IVF): pairs whose members land in
    different clusters are missed. For near-duplicate thresholds (>= ~0.9
    cosine) both members sit nearly on top of each other, so split pairs
    are rare; raise recall by probing multiple assignments upstream if
    needed. The broadcast-GEMM embedding_cosine_dups remains the exact
    small-corpus path.
    """
    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.similarity import ivf_assign

    assigned = ivf_assign(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    src = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "centroid_id"
    )

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        q = np.floor(np.stack(pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5)
        nrm = np.sqrt((q * q).sum(axis=1))
        cos = (q @ q.T) / np.outer(nrm, nrm)
        cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"doc_a": ids[ai], "doc_b": ids[bi], "cosine": cos[ai, bi]}
        )

    return src.groupBy("centroid_id").applyInPandas(
        cluster_pairs, schema="doc_a long, doc_b long, cosine double"
    )


def embedding_dups_ivf_probe(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_probe: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """``embedding_dups_ivf`` with the recall knob: each vector is filed
    into its ``n_probe`` nearest clusters (ivf_multi_assign, still a pure
    map), so a near-dup pair split by a cluster boundary is recovered
    whenever the two vectors share ANY probed cluster — the multi-probe
    recall contract the search side already has (ivf_probe_assign), now
    first-class for dedup.

    Shape: map-side multi-assign (corpus rows x n_probe, no corpus
    shuffle) -> ONE grouping shuffle on centroid_id -> per-cluster exact
    quantized GEMM (applyInPandas) -> pair-level dedup (a pair found in
    several shared clusters scores identically in each — deterministic
    integer math — so a max-agg keyed by the pair collapses them). The
    dedup shuffle is sized by candidate PAIRS, not the corpus.

    Cost vs single-probe: scan side x n_probe rows, cluster blocks
    ~n_probe x denser; recall strictly wider (p=1 equals
    embedding_dups_ivf). Exactness per pair is unchanged: quantized
    integer GEMM, half-up round, same threshold semantics.
    """
    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.similarity import ivf_multi_assign

    assigned = ivf_multi_assign(
        embeddings, centroids, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    src = assigned.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), "centroid_id"
    )

    def cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        q = np.floor(np.stack(pdf["v"].to_numpy()).astype(np.float64) * scale + 0.5)
        nrm = np.sqrt((q * q).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (q @ q.T) / np.outer(nrm, nrm)
        cos = np.nan_to_num(cos, nan=-1.0)
        cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"doc_a": ids[ai], "doc_b": ids[bi], "cosine": cos[ai, bi]}
        )

    pairs = src.groupBy("centroid_id").applyInPandas(
        cluster_pairs, schema="doc_a long, doc_b long, cosine double"
    )
    return pairs.groupBy("doc_a", "doc_b").agg(F.max("cosine").alias("cosine"))


def chunk_dedup_stats(
    docs: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style chunk-level exact dedup bookkeeping.

    Splits each document into consecutive non-overlapping ``chunk_tokens``
    windows of normalized tokens; the canonical owner of a chunk value is
    its globally-first instance (min (doc_id, chunk_idx)). Returns per doc:
    n_chunks, n_kept (instances this doc owns). A downstream rewriter keeps
    exactly the owned instances — the large-corpus equivalent of C4's
    duplicate-line removal.

    Scale design:
    - chunking is fully map-side (sequence+slice array expressions — no
      posexplode-then-regroup shuffle to reassemble chunks);
    - ONE wide shuffle, on the chunk hash: the ownership test is a
      min-over-window keyed by md5(chunk), so the chunk text itself is
      pruned below the exchange (only (doc_id, chunk_idx, hash) flows);
    - the final per-doc rollup groups on doc_id — small (|docs| rows).
    """
    toks = normalize_text(F.col(text_col))
    words = F.filter(F.split(toks, " "), lambda w: F.length(w) > 0)
    n_chunks = F.ceil(F.size(words) / F.lit(float(chunk_tokens))).cast("int")
    chunks = F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(words, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )).otherwise(F.array().cast("array<string>"))

    inst = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.md5("chunk").alias("h"),
    )
    # Encode (doc_id, chunk_idx) as one orderable key; chunk_idx < 1e6
    # holds for any doc under 20M tokens (guarded below at runtime by the
    # cast being exact arithmetic, not truncation).
    inst = inst.withColumn(
        "_key", F.col("doc_id") * F.lit(1_000_000) + F.col("chunk_idx")
    )
    from pyspark.sql import Window

    owner = F.min("_key").over(Window.partitionBy("h"))
    kept = (F.col("_key") == owner).cast("int")
    return (
        inst.withColumn("_kept", kept)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("_kept").alias("n_kept"),
        )
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: a NEW batch against an accumulated hash
    snapshot — the shape that matters at 100 TB, where the daily batch
    must never rescan or reshuffle the historical corpus.

    ``seen_hashes`` needs one column ``text_hash`` (md5 hex), e.g. the
    ``text_hash`` output of prior exact_dedup runs (persist it bucketed
    by text_hash via layout.write_corpus_snapshot_bucketed and the anti-
    join below plans exchange-free on the snapshot side). Returns the
    batch's fresh groups: (text_hash, keeper_id = min id within the
    batch, n_docs = batch occurrences) for hashes absent from the
    snapshot. Composition law (pytest-asserted): keepers(old ∪ new) ==
    keepers(old) ∪ exact_dedup_incremental(new, hashes(old)) — so a
    daily pipeline folding batches through this operator converges to
    exactly the global dedup result.
    """
    batch_groups = exact_dedup(new_docs, text_col, id_col)
    return batch_groups.join(
        seen_hashes.select("text_hash"), "text_hash", "left_anti"
    )


def minhash_lsh_incremental(
    new_docs: DataFrame,
    old_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup: a NEW batch against the accumulated MinHash
    SIGNATURE snapshot (``minhash_signatures`` output persisted per
    batch, ~n_hashes strings per historical doc) — the historical text
    and shingle sets are never re-read.

    Candidates come from a band join of the new batch's banded
    signatures against the banded snapshot; verification uses the
    MinHash Jaccard ESTIMATOR (matching-slot fraction — the textbook
    unbiased estimator, granularity 1/n_hashes) because exact Jaccard
    would need the old shingle sets back. Output: (old_id, new_id,
    est_jaccard) for cross pairs with estimate >= threshold. Run the
    exact in-batch minhash_lsh_dedup alongside for new-vs-new pairs.

    Scale shape: band keys are uniform md5 strings (skew-free); the
    snapshot side can be stored bucketed by (band, sig) so the daily
    join co-locates without reshuffling history.
    """
    assert n_hashes % bands == 0
    new_sigs = minhash_signatures(
        word_shingles(new_docs, text_col, id_col, k), n_hashes
    )

    def banded(sig, out_id):
        rows_per_band = n_hashes // bands
        band_cols = []
        for b in range(bands):
            cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            band_cols.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("sig"),
                )
            )
        return sig.select(
            F.col("doc_id").alias(out_id), F.explode(F.array(*band_cols)).alias("bs")
        ).select(out_id, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))

    cand = (
        banded(old_sigs, "old_id")
        .join(banded(new_sigs, "new_id"), ["band", "sig"])
        .select("old_id", "new_id")
        .distinct()
    )
    o = old_sigs.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"mh_{i}").alias(f"__o{i}") for i in range(n_hashes)],
    )
    n = new_sigs.select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"mh_{i}").alias(f"__n{i}") for i in range(n_hashes)],
    )
    matches = sum(
        F.when(F.col(f"__o{i}") == F.col(f"__n{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        cand.join(o, "old_id")
        .join(n, "new_id")
        .withColumn("est_jaccard", F.round(matches / F.lit(n_hashes), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("old_id", "new_id", "est_jaccard")
    )


def _bloom_pos(i: int, hash_col, m_bits: int):
    """Bloom hash i of an md5-hex key: first 8 hex chars of
    md5("{i}:" || key) as a 32-bit int, mod the filter width. The
    engine-portable hash-bucket idiom (sampling.hash_bucket), salted per
    hash function."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}:"), hash_col)), 1, 8), 16, 10
        ).cast("long")
        % m_bits
    )


def bloom_build(
    hashes: DataFrame,
    hash_col: str = "text_hash",
    n_hashes: int = 3,
    m_bits: int = 1 << 27,
) -> DataFrame:
    """Build a Bloom filter over a hash snapshot as a BITMAP TABLE:
    (word_idx, bits) with 32 filter bits per 64-bit word (masks stay
    positive, dodging sign traps in any engine's bigint shifts).

    This is the memory-bound membership tier for incremental dedup: the
    accumulated corpus's hash set at 100 TB is ~billions of 32-char
    strings, but the Bloom bitmap is m_bits/8 bytes FIXED (e.g. 2^33
    bits = 1 GiB for ~10^9 docs at ~2% FP with k=3; size by
    m = -n*ln(p)/ln(2)^2, k = (m/n)*ln(2)). Build is one shuffle:
    explode k positions map-side, groupBy word with a bit_or partial
    aggregate — the reduce side is at most m_bits/32 rows regardless of
    corpus size.

    Contract: NO false negatives ever (a hash that was added always
    probes maybe_seen=true); false positives at the designed rate, and
    deterministic — the same md5-derived positions in every engine, so
    a SQL oracle replays even the false positives bit-for-bit.
    """
    pos_structs = F.array(
        *[_bloom_pos(i, F.col(hash_col), m_bits).alias(f"p{i}") for i in range(n_hashes)]
    )
    pos = hashes.select(F.explode(pos_structs).alias("p"))
    # 2^k via pow: exact in double for k <= 31 (F.shiftleft only takes a
    # literal shift count, not a column)
    mask = F.pow(F.lit(2.0), F.col("p") % 32).cast("long")
    return (
        pos.select(F.floor(F.col("p") / 32).alias("word_idx"), mask.alias("__mask"))
        .groupBy("word_idx")
        .agg(F.bit_or("__mask").alias("bits"))
    )


def bloom_probe(
    batch: DataFrame,
    bloom: DataFrame,
    hash_col: str = "text_hash",
    n_hashes: int = 3,
    m_bits: int = 1 << 27,
) -> DataFrame:
    """Probe a batch against a Bloom bitmap: adds ``maybe_seen`` —
    true iff ALL k salted positions are set. ``maybe_seen=false`` is
    definitive (drop straight into the corpus, no further check);
    ``maybe_seen=true`` routes the (tiny) candidate subset to the exact
    anti-join (``exact_dedup_incremental``) — the standard two-tier
    shape that keeps the exact check's build side ~FP-rate-sized.

    Plan: the bitmap table is folded into ONE map<word_idx, bits> row
    (built once — not once per hash function) and broadcast; each probe
    row checks its k positions with map lookups, AND-ed map-side. The
    batch is never shuffled and never joined. For bitmaps past the
    broadcast budget, pre-partition bloom and the exploded positions on
    word_idx and use a co-located join instead."""
    bm = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "bits"))
        ).alias("__bloom")
    )
    out = batch.crossJoin(F.broadcast(bm))
    keep = None
    for i in range(n_hashes):
        p = _bloom_pos(i, F.col(hash_col), m_bits)
        mask = F.pow(F.lit(2.0), p % 32).cast("long")
        word = F.element_at(F.col("__bloom"), F.floor(p / 32))
        hit = F.coalesce(word.bitwiseAND(mask) != 0, F.lit(False))
        keep = hit if keep is None else keep & hit
    return out.withColumn("maybe_seen", keep).drop("__bloom")


def embedding_dups_pq_blocking(
    embeddings: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 8,
    n_codes: int = 4,
    bands: int = 4,
    threshold: float = 0.95,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-dup candidates by PQ-CODE BLOCKING: vectors whose
    PQ codes agree on a whole band (m/bands consecutive subspaces) are
    candidates, verified by exact quantized cosine >= threshold — the
    code-space analog of MinHash-LSH banding, and the natural dedup tier
    when the corpus already stores PQ codes (no shingles, no extra
    signatures: the index IS the blocking key).

    Scale shape: encode is a pure map (broadcast nested codebook, codes
    + quantized vector carried together so the verify never joins back
    to the corpus); banding explodes rows x bands map-side; ONE keyed
    shuffle on (band, band signature) forms buckets; each bucket's pairs
    are scored with an Arrow-batched numpy GEMM (applyInPandas — exact
    quantized integers, half-up 6dp round, the same verified convention
    as ``embedding_dups_ivf``; a JVM per-pair fold here cost ~10x at
    bucket sizes in the hundreds) and a max-agg collapses pairs found in
    several bands.

    Candidate volume is bucket-bounded like LSH, so it scales ONLY if
    the codes discriminate: size the codebook so expected bucket size
    stays O(1)-ish (n_codes^(m/bands) >> corpus/acceptable_bucket), and
    set ``max_bucket_size`` to drop degenerate buckets (boilerplate
    code regions) outright — the standard web-scale cap, same contract
    as ``minhash_lsh_dedup``. Recall: a near-dup pair is found iff some
    band's codes all agree; more bands (fewer subspaces each) = higher
    recall."""
    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.pq import pq_encode_vec
    from irstats2_spark.pipeline.similarity import quantize

    assert m % bands == 0
    per_band = m // bands

    enc = pq_encode_vec(
        embeddings.withColumn("__qv", quantize(F.col(vec_col), scale)),
        codebook,
        dim,
        m,
        id_col=id_col,
        vec_col=vec_col,
        scale=scale,
        keep_cols=("__qv",),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[
                        F.element_at(F.col("codes"), b * per_band + i + 1)
                        for i in range(per_band)
                    ],
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    banded = enc.select(
        F.col("vec_id").alias("doc_id"),
        F.col("__qv"),
        F.explode(band_structs).alias("bs"),
    ).select(
        "doc_id", "__qv", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2 or (
            max_bucket_size is not None and len(pdf) > max_bucket_size
        ):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": []}).astype(
                {"doc_a": "int64", "doc_b": "int64", "cosine": "float64"}
            )
        ids = pdf["doc_id"].to_numpy()
        q = np.stack(pdf["__qv"].to_numpy()).astype(np.float64)
        nrm = np.sqrt((q * q).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (q @ q.T) / np.outer(nrm, nrm)
        cos = np.nan_to_num(cos, nan=-1.0)
        cos = np.floor(cos * 1e6 + 0.5) / 1e6  # half-up, like SQL ROUND
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"doc_a": ids[ai], "doc_b": ids[bi], "cosine": cos[ai, bi]}
        )

    pairs = banded.groupBy("band", "sig").applyInPandas(
        bucket_pairs, schema="doc_a long, doc_b long, cosine double"
    )
    return pairs.groupBy("doc_a", "doc_b").agg(F.max("cosine").alias("cosine"))


def simhash_hamming_incremental(
    new_docs: DataFrame,
    old_sigs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental SimHash near-dup: a NEW batch against the accumulated
    SIGNATURE snapshot (``simhash64`` output persisted per batch — two
    ints per historical doc, the cheapest possible dedup index) — the
    historical text is never re-read, completing the incremental tier
    for every dedup family (exact / MinHash-LSH / SimHash).

    Verification is EXACT (popcount of the xor'd halves — unlike the
    MinHash incremental, whose estimator pays for not having the old
    shingle sets, the signature IS the full SimHash state), so
    incremental results match what the full self-join would report for
    the same cross pairs. Banding uses the shared ``_simhash_banded``
    slicing, so a pair is surfaced iff some 64/bands-bit slice agrees —
    the identical pigeonhole contract as ``simhash_hamming_pairs``
    (guaranteed complete for Hamming <= bands-1... with the same
    bands/max_hamming the batch miner uses). Output:
    (old_id, new_id, hamming) for cross pairs only; run
    ``simhash_hamming_pairs`` on the batch alongside for new-vs-new.

    Scale shape: new side is a map over the batch; the snapshot side
    can be stored bucketed by (band, key) so the daily join co-locates
    without reshuffling history; pairs stream through the join (no
    bucket collect), AQE splits hot slices."""
    assert bands >= 2 and bands % 2 == 0 and 64 % bands == 0, (
        "bands must be one of {2, 4, 8, 16, 32, 64}: the 64-bit signature "
        "is sliced per-band out of two 32-bit halves"
    )
    new_banded = _simhash_banded(simhash64(new_docs, text_col, id_col), bands)
    old_banded = _simhash_banded(old_sigs, bands)
    o = old_banded.select(
        "band",
        "key",
        F.col("doc_id").alias("old_id"),
        F.col("sim_lo").alias("__olo"),
        F.col("sim_hi").alias("__ohi"),
    )
    n = new_banded.select(
        "band",
        "key",
        F.col("doc_id").alias("new_id"),
        F.col("sim_lo").alias("__nlo"),
        F.col("sim_hi").alias("__nhi"),
    )
    hamming = (
        F.bit_count(F.col("__olo").bitwiseXOR(F.col("__nlo")))
        + F.bit_count(F.col("__ohi").bitwiseXOR(F.col("__nhi")))
    ).cast("int")
    return (
        o.join(n, ["band", "key"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        # a pair sharing several bands appears once per shared band
        .groupBy("old_id", "new_id")
        .agg(F.first("hamming").alias("hamming"))
    )


def edit_distance_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_norm: float = 0.3,
    max_docs_per_fp: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
) -> DataFrame:
    """Edit-distance-VERIFIED near-dup pairs: WINNOWING fingerprints
    propose candidates, character-level Levenshtein confirms them. The
    sketch tiers (MinHash/SimHash/shingle-Jaccard) measure token-SET
    overlap, which misses character-level edits inside words and can't
    rank rewrites by how much actually changed; Levenshtein is the
    exact string metric but is O(len_a x len_b) per pair — unrunnable
    all-pairs. This operator composes them the way production dedup
    does: cheap recall-oriented blocking, expensive precise verify on
    the (output-sized) candidate set only.

    Blocking is SEQUENTIAL (winnowing / MOSS) — deliberately not a
    set-based signature. Edit distance is a SEQUENCE metric: two docs
    with identical token sets in different orders are maximally far in
    edit distance yet collide in every set-based scheme, so SimHash
    banding floods the verify stage with reorder pairs that all fail
    the cut (measured on the sf0.1 corpus: 166k SimHash candidates ->
    47 survivors, 250 s of DP; winnowing at min_shared=2: 308 candidates -> 254
    survivors, ~3 s — fewer candidates AND more true pairs, because
    hamming<=3 also missed genuine partial-overlap rewrites).
    Winnowing's guarantee matches the metric: any shared token run of
    ``window + k - 1`` tokens shares a fingerprint, and docs within a
    small edit distance share almost all their runs.

    Output: (doc_a, doc_b, n_shared, edit_distance, edit_norm) for
    candidate pairs with edit_norm = dist / max(len_a, len_b) <=
    ``max_norm``. The filter is integer-exact (dist * 1e6 <=
    max_norm_micros * greatest_len), so engines agree bit-for-bit; the
    reported edit_norm is rounded to 6 places for display. Recall
    bound: a true pair is missed only if the docs share no
    ``window + k - 1``-token run (or only boilerplate runs past the
    cap) — such docs differ by more than a small edit by definition.
    ``min_shared=2`` (the MOSS convention) additionally drops
    single-fingerprint boilerplate collisions — measured at sf0.1 it
    cuts candidates 11k -> 308 while keeping 254 of 256 survivors; set
    ``min_shared=1`` for maximum recall when the verify bill is
    acceptable.

    Scale shape: candidate mining inherits ``winnow_shared_pairs``'
    one-shuffle co-occurrence over the ~1/window-density fingerprint
    stream (boilerplate fingerprints capped). Texts ride only the two
    hydration joins keyed by id — the pair table carries ids, never
    strings — and the Levenshtein verify runs JVM-side, computed ONCE
    per pair via a projected column the cut then filters."""
    pairs = winnow_shared_pairs(
        docs, k, window, min_shared, max_docs_per_fp, text_col, id_col
    )
    left = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("__ta")
    )
    right = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("__tb")
    )
    glen = F.greatest(F.length("__ta"), F.length("__tb"))
    max_norm_micros = int(max_norm * 1_000_000)
    return (
        pairs.join(left, "doc_a")
        .join(right, "doc_b")
        .withColumn("__d", F.levenshtein("__ta", "__tb"))
        .filter(
            F.col("__d").cast("long") * 1_000_000
            <= F.lit(max_norm_micros) * glen
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.col("__d").cast("int").alias("edit_distance"),
            F.round(F.col("__d") / glen, 6).alias("edit_norm"),
        )
    )


def edit_distance_incremental(
    new_docs: DataFrame,
    old_fps: DataFrame,
    old_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_norm: float = 0.3,
    max_docs_per_fp: int | None = DEFAULT_MAX_DOCS_PER_SHINGLE,
) -> DataFrame:
    """Incremental edit-distance near-dup: the NEW batch against the
    corpus, candidates mined from the winnowing FINGERPRINT snapshot
    (``winnow_incremental`` over stored ``winnow_fingerprints``
    output), Levenshtein-verified like ``edit_distance_dups`` — and
    blocked SEQUENTIALLY for the same reason (see that docstring: a
    set-based signature floods the verify with reorder pairs; shared
    winnowed runs are evidence of shared SEQUENCE, which is what edit
    distance measures). The snapshot keeps candidate MINING off the
    historical text entirely; only docs that actually matched a new
    doc hydrate their text from the corpus store (``old_docs``) — a
    candidate-pair-sized id lookup, not a history re-read. Output:
    (old_id, new_id, n_shared, edit_distance, edit_norm) cross pairs
    under the same integer-exact normalized cut as the batch miner;
    run ``edit_distance_dups`` on the batch alongside for new-vs-new.

    Scale shape: mining inherits the incremental fingerprint join
    (snapshot storable bucketed by fp, boilerplate fps capped on the
    snapshot side); the old-text hydration join is keyed by id with a
    candidate-sized probe side — when the corpus store is id-bucketed
    (``sources/storage.py``) it plans without a corpus-side exchange;
    the verify is JVM ``levenshtein`` computed once per candidate."""
    cand = winnow_incremental(
        new_docs, old_fps, k, window, min_shared, max_docs_per_fp,
        text_col, id_col,
    )
    o = old_docs.select(
        F.col(id_col).alias("old_id"), F.col(text_col).alias("__to")
    )
    n = new_docs.select(
        F.col(id_col).alias("new_id"), F.col(text_col).alias("__tn")
    )
    glen = F.greatest(F.length("__to"), F.length("__tn"))
    max_norm_micros = int(max_norm * 1_000_000)
    return (
        cand.join(o, "old_id")
        .join(n, "new_id")
        .withColumn("__d", F.levenshtein("__to", "__tn"))
        .filter(
            F.col("__d").cast("long") * 1_000_000
            <= F.lit(max_norm_micros) * glen
        )
        .select(
            "old_id",
            "new_id",
            "n_shared",
            F.col("__d").cast("int").alias("edit_distance"),
            F.round(F.col("__d") / glen, 6).alias("edit_norm"),
        )
    )


def lsh_band_sweep_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    band_options: tuple[int, ...] = (2, 4, 8),
    threshold: float = 0.5,
) -> DataFrame:
    """LSH banding SWEEP: candidate volume and recall against the exact
    Jaccard truth for several (bands, rows-per-band) splits of the SAME
    signature — the measured S-curve behind the banding knob, closing
    the tuning-curve trilogy (IVF probes, mixing temperature, LSH
    bands). Theory says P(candidate) = 1 - (1 - j^r)^b; practice tunes
    against the corpus because real Jaccard mass clusters near the
    threshold where that curve is steepest. More bands (fewer rows per
    band) = looser blocking: recall rises, candidate volume (the verify
    bill) rises with it — this table shows both so the cheapest
    band count hitting target recall is read off, not derived.

    Output: (bands, rows_per_band, n_candidates, n_found, n_truth,
    recall) with recall = found/truth (NULL when the corpus has no true
    pairs at the threshold). n_found counts true pairs that banding
    surfaced; verified output being truth ∩ candidates makes recall
    the end-to-end miss rate, not just a blocking statistic.

    Scale shape: ONE cached shingle scan feeds the truth side and the
    signature aggregation, which is computed ONCE (the branches differ
    only in how the same mh_* columns are GROUPED into bands, so
    re-running the expensive minima per branch would triple the
    dominant aggregation) — and since r12 ALL band splits ride ONE
    banded explode tagged with the config: every doc emits its
    sum(band_options) banded rows in a single pass, one bucket
    aggregation and one pair rollup keyed by (bands, ...) replace the
    per-config branch pipelines (2 exchanges total instead of 2 per
    config — the per-config candidate sets are unchanged, just
    stacked). The truth pair set is pair-sized (bounded by real dup
    mass, not the corpus) and persisted for its two consumers (the
    truth total and the marker join); the candidate set STREAMS once
    through a single marker-join aggregate yielding candidate volume
    and found-truth count together (r12 — persisting it for a second
    aggregate pass bought nothing once the counts fused). At web
    scale, run on a sample — the audit needs the curve, not the
    census.

    Measured 5x point (r12, tools/probe_5x.py, 5 doc_id-shifted corpus
    copies so every pair's dup mass saturates): clean-window best-of-3
    2.69 s -> 9.50 s — **3.54x wall for 5x docs**, with the
    candidate/truth pair sets growing superlinearly by construction
    (the id-shifted copies multiply every dup class's pair count
    ~25x, so super-proportional wall is the workload, not the shape).
    An earlier in-round measurement read 1.85x (5.1 -> 9.4 s) — its 1x
    leg was inflated ~2x by host contention; the clean-window figure
    is the honest one. The explicit cache/persist pins (not AQE stage
    reuse) are what hold the shape, so no reuse-degradation risk at
    scale (r11 verdict #5 closed)."""
    sh = word_shingles(docs, text_col, id_col, k).cache()
    truth = (
        ngram_jaccard_pairs(
            docs, text_col, id_col, k, threshold=threshold, shingles=sh
        )
        .select("doc_a", "doc_b")
        .persist()
    )
    sig = minhash_signatures(sh, n_hashes)
    band_cols = []
    for b in band_options:
        assert n_hashes % b == 0
        rows_per_band = n_hashes // b
        for bi in range(b):
            cols = [
                F.col(f"mh_{bi * rows_per_band + r}")
                for r in range(rows_per_band)
            ]
            band_cols.append(
                F.struct(
                    F.lit(b).alias("bands"),
                    F.lit(bi).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("sig"),
                )
            )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bs")
    ).select("doc_id", "bs.bands", "bs.band", "bs.sig")
    pair_structs = _ordered_pair_structs(
        F.array_sort(F.col("ids")),
        lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
    )
    cand = (
        banded.groupBy("bands", "band", "sig")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select("bands", F.explode(pair_structs).alias("p"))
        .select("bands", "p.doc_a", "p.doc_b")
        .dropDuplicates(["bands", "doc_a", "doc_b"])
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    # candidate volume and found-truth count in ONE pass over the
    # candidate set (r12, the lsh_recall_audit marker-join pattern):
    # truth pairs are unique by construction, so the left
    # join preserves candidate multiplicity and COUNT(marker) equals
    # the inner-join count — two aggregate jobs become one
    nc_nf = (
        cand.join(
            truth.withColumn("__t", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .groupBy("bands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.count("__t").cast("long").alias("n_found"),
        )
    )
    opts = docs.sparkSession.createDataFrame(
        [(int(b),) for b in band_options], "bands int"
    )
    out = (
        opts.join(nc_nf, "bands", "left")
        .crossJoin(nt)
        .select(
            F.col("bands").cast("int").alias("bands"),
            (F.lit(n_hashes) / F.col("bands")).cast("int").alias(
                "rows_per_band"
            ),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            "n_truth",
            F.when(
                F.col("n_truth") > 0,
                F.round(F.col("n_found") / F.col("n_truth"), 6),
            ).alias("recall"),
        )
    )
    # eager-materialize the len(band_options)-row curve, then RELEASE
    # the pinned datasets (shingles, truth pairs, combined candidates)
    # — in a long-lived application the audit must not hold
    # corpus-sized caches past its return
    out = out.localCheckpoint()
    for cached in (sh, truth):
        cached.unpersist()
    return out


def cosine_pairs_inverted(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 64,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """All-pairs TF-cosine similarity by INVERTED INDEX (document-at-a-
    time posting join) — the Bayardo-style all-pairs-similarity shape:
    instead of comparing dense vectors pairwise, each term's posting
    list joins against itself, and per-pair dot products assemble from
    the per-term products in one aggregation.

    Two standard prunings make it scale (and both are mirrored in the
    oracle, so the semantics ARE the pruned semantics):
    - terms with document frequency > ``max_df`` are dropped from the
      vector space entirely (norms AND dots): a term in >64 docs is
      stop-word/boilerplate mass that dominates runtime (its posting
      self-join is df^2) while carrying no discriminative signal —
      the same boilerplate-cap contract as DEFAULT_MAX_DOCS_PER_SHINGLE;
    - df=1 terms stay in the NORMS (they are real vector mass that
      must depress cosine) but skip the pair join, where they cannot
      contribute.

    The threshold is the rational ``threshold_num/threshold_den`` and
    the cut is the cross-multiplied INTEGER predicate
    ``den^2 * dot^2 >= num^2 * |a|^2 * |b|^2`` — no float compare at
    the boundary; the reported cosine is one double expression over
    exact integers, rounded to 6dp.

    Scale shape: one (doc, term) count shuffle, one df rollup, one
    posting self-join keyed by term (each term contributes <= df^2 <=
    max_df^2 pairs, so AQE sees bounded keys), one (a, b) dot rollup,
    two id-keyed norm joins. Shuffles carry ids + small ints, never
    text."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism
    from irstats2_spark.pipeline.textstats import tokens

    docs = ensure_parallelism(docs)
    ex = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    df = ex.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    kept = ex.join(df, "token").filter(F.col("df") <= max_df)
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("norm_sq")
    )
    posts = kept.filter(F.col("df") >= 2)
    a = posts.select(
        "token", F.col("doc_id").alias("doc_a"), F.col("c").alias("ca")
    )
    b = posts.select(
        "token", F.col("doc_id").alias("doc_b"), F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("norm_sq").alias("norm_sq_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("norm_sq").alias("norm_sq_b")
    )
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.lit(den2) * F.col("dot") * F.col("dot")
            >= F.lit(num2) * F.col("norm_sq_a") * F.col("norm_sq_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "dot",
            "norm_sq_a",
            "norm_sq_b",
            F.round(
                F.col("dot")
                / F.sqrt(
                    (F.col("norm_sq_a") * F.col("norm_sq_b")).cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )


def minhash_containment_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """ASYMMETRIC containment from MinHash signatures, audited against
    the exact value — the near-dup question Jaccard gets wrong when
    sizes differ: a short doc fully embedded in a long one has low
    Jaccard (union is large) but containment ~1.0 in one direction.
    The sketch estimate needs no second pass over the text: with
    signature agreement m of ``n_hashes``, J^ = m/n, and the standard
    size-corrected identity |A∩B| = J(|A|+|B|)/(1+J) gives
    I^ = m(|A|+|B|)/(n+m), so C^(A⊆B) = I^/|A| — all from the sketch
    plus the two exact set sizes the signature pass already counts.
    Both directions are emitted NEXT TO the exact containments
    (intersect of the collected shingle sets), so the query is its own
    estimator-quality audit, the same contract as
    ``similarity_recall_audit``.

    Engine-exact: m, sizes, and n_common are integers; every reported
    ratio is one double division over integers, rounded to 6dp.

    Scale shape: identical to ``minhash_lsh_dedup`` — one shingle
    groupBy computes signatures + sets + sizes in a single pass,
    banded self-join proposes candidates on uniform md5 keys, and the
    verify is map-side array intersection over broadcast pairs. The
    exact columns are the audit half: at corpus scale run the estimate
    columns alone (drop the collect_set) and keep this audited form
    for sampled QA.

    Cache lifecycle: audits default to ``materialize=True`` — eager
    evaluation, per-doc pin released before returning
    (``pipeline.lifecycle``)."""
    from irstats2_spark.pipeline.dedup import word_shingles

    sh = word_shingles(docs, text_col, id_col, k)
    per_doc = sh.groupBy("doc_id").agg(
        *_minhash_aggs(n_hashes),
        F.collect_set("shingle").alias("__set"),
        F.count(F.lit(1)).alias("__n"),
    )
    per_doc = per_doc.cache()  # reused: band candidates + both pair sides
    cand = _band_candidates(per_doc, n_hashes, bands, None)
    mh = [f"mh_{i}" for i in range(n_hashes)]
    a = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("__set").alias("__sa"),
        F.col("__n").alias("size_a"),
        *[F.col(m).alias(f"__a_{m}") for m in mh],
    )
    b = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("__set").alias("__sb"),
        F.col("__n").alias("size_b"),
        *[F.col(m).alias(f"__b_{m}") for m in mh],
    )
    pairs = a.join(F.broadcast(cand.select("doc_a", "doc_b")), "doc_a").join(
        b, "doc_b"
    )
    m_matches = sum(
        F.when(F.col(f"__a_{x}") == F.col(f"__b_{x}"), 1).otherwise(0)
        for x in mh
    )
    n_common = F.size(F.array_intersect(F.col("__sa"), F.col("__sb")))
    est_inter = m_matches * (F.col("size_a") + F.col("size_b"))
    est_den = F.lit(n_hashes) + m_matches
    out = pairs.select(
        "doc_a",
        "doc_b",
        m_matches.cast("int").alias("n_sig_matches"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        n_common.cast("long").alias("n_common"),
        F.round(m_matches / F.lit(float(n_hashes)), 6).alias("est_jaccard"),
        F.round(est_inter / (est_den * F.col("size_a")), 6).alias(
            "est_containment_a"
        ),
        F.round(n_common / F.col("size_a"), 6).alias("exact_containment_a"),
        F.round(est_inter / (est_den * F.col("size_b")), 6).alias(
            "est_containment_b"
        ),
        F.round(n_common / F.col("size_b"), 6).alias("exact_containment_b"),
    )
    return release_after(out, [per_doc], materialize)
