"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All pure column expressions (portable to a SQL
oracle, JVM-side at scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irstats2_spark.pipeline.dedup import normalize_text
from irstats2_spark.pipeline.lifecycle import release_after

# Tiny per-language marker lists for the n-gram/stopword heuristic.
# (Real deployments plug in fasttext/cld3 via a pandas UDF — the operator
# contract is the same.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "los", "una"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "fr": ["le", "la", "les", "des", "est", "une"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.filter(F.split(normalize_text(text), " "), lambda w: F.length(w) > 0)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def word_token_count(text: Column) -> Column:
    """BPE-ish sub-word proxy: count of word/number/punctuation runs —
    `\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]` matches, via regexp_count."""
    return F.regexp_count(text, F.lit(r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s]"))


def lang_scores(text: Column) -> Column:
    """Map of language -> marker-hit count over distinct tokens."""
    toks = F.array_distinct(tokens(text))
    entries = [
        F.struct(
            F.lit(lang).alias("lang"),
            F.size(
                F.filter(toks, lambda w: w.isin(markers))  # noqa: B023
            ).alias("hits"),
        )
        for lang, markers in LANG_MARKERS.items()
    ]
    return F.array(*entries)


def lang_id(text: Column) -> Column:
    """Best-scoring language, ties broken alphabetically; 'und' when no
    marker hits at all.

    NOTE: inlines the tokenization once per language — when applying to a
    DataFrame, materialize the distinct-token array with withColumn and
    call lang_id_from_tokens instead (runtime subexpression elimination
    does not dedupe subtrees nested under different parents, so the
    inline form re-tokenizes 4x per row)."""
    return lang_id_from_tokens(F.array_distinct(tokens(text)))


def lang_id_from_tokens(toks_distinct: Column) -> Column:
    """lang_id over an ALREADY-materialized distinct-token array column."""
    exprs = []
    for lang in sorted(LANG_MARKERS):
        hits = F.size(
            F.filter(
                toks_distinct,
                lambda w: w.isin(LANG_MARKERS[lang]),  # noqa: B023
            )
        )
        exprs.append((lang, hits))
    # deterministic argmax: fold over (lang, hits) in alphabetical order,
    # strictly-greater wins => first language wins ties
    best_lang, best_hits = None, None
    for lang, hits in exprs:
        if best_lang is None:
            best_lang, best_hits = F.lit(lang), hits
        else:
            cond = hits > best_hits
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best_hits = F.when(cond, hits).otherwise(best_hits)
    return F.when(best_hits > 0, best_lang).otherwise(F.lit("und"))


def quality_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc quality features: length, token count, mean token length,
    punctuation ratio, stopword ratio, all-caps flag.

    The token array is materialized once per row (withColumn) rather than
    inlined per feature — the tokenize-normalize chain is the dominant
    per-row cost and Spark does not dedupe it across sibling expressions
    (~1.7x at sf0.1)."""
    text = F.col(text_col)
    docs = docs.withColumn("__toks", tokens(text))
    toks = F.col("__toks")
    n_toks = F.size(toks)
    n_chars = F.length(text)
    punct = n_chars - F.length(F.regexp_replace(text, r"[^\p{L}\p{N}\s]", ""))
    stop = F.size(F.filter(toks, lambda w: w.isin(LANG_MARKERS["en"])))
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(
            F.when(n_toks > 0, (F.length(F.concat_ws("", toks)) / n_toks)).otherwise(0.0),
            6,
        ).alias("mean_token_len"),
        F.round(F.when(n_chars > 0, punct / n_chars).otherwise(0.0), 6).alias(
            "punct_ratio"
        ),
        F.round(F.when(n_toks > 0, stop / n_toks).otherwise(0.0), 6).alias(
            "stopword_ratio"
        ),
        (text == F.upper(text)).alias("all_caps"),
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the sorted distinct normalized tokens
    (word-order-insensitive content hash — catches shuffled near-dups)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def vocab_top_k(
    docs: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-k tokens by total occurrence,
    with document frequency. Deterministic tiebreak: (n_total DESC, token).

    Scale design: the explode is map-side; countDistinct(doc_id) plans as
    Spark's two-phase distinct aggregate — partial agg on (token, doc_id)
    first, which is exactly the manual skew mitigation one would write for
    stopword-grade heavy hitters (a token in every doc shrinks to
    |docs| rows before the per-token shuffle, never |occurrences|).
    Final top-k is orderBy+limit => TakeOrderedAndProject, no full sort.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    )
    return (
        ex.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(k)
    )


def _dup_ngram_frac(words: Column, k: int) -> Column:
    """Fraction of a doc's k-gram instances that are repeats of an
    earlier instance IN THE SAME DOC: 1 - distinct/total. 0.0 for docs
    too short to form a k-gram.

    Cost shape (this is the per-row hot loop of a full-corpus scan):
    - total needs no array at all — it is max(n - k + 1, 0);
    - distinct counts over xxhash64 of each shingle, not the shingle
      STRINGS: array_distinct's pairwise-equality scan is O(m^2) either
      way, but long compares vectorize where string compares walk bytes
      — measured 5x end-to-end on ~900-token docs (and a sort-based
      exact transition count is 4x slower than the hashed scan).
      A within-doc 64-bit collision (~m^2/2^64 ~ 4e-14 per doc) would
      undercount distinct by 1; acceptable for a quality SIGNAL and far
      below the oracle's 6dp rounding at any realistic doc length.
    """
    n = F.size(words)
    total = F.greatest(n - k + 1, F.lit(0))
    sh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    distinct = F.size(F.array_distinct(sh))
    return F.when(
        total > 0, F.round((total - distinct) / total, 6)
    ).otherwise(F.lit(0.0))


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText quality
    rules): the fraction of duplicate 2-gram and 3-gram instances within
    each document. Boilerplate, templated spam, and decoding loops score
    high; natural text scores near zero — the standard cheap filter
    between exact dedup and model-based quality scoring.

    Everything is a per-row array expression over the tokenized text —
    ZERO shuffle, fuses into the scan; contrast with corpus-level dedup,
    which needs cross-doc state. The input is spread across cores first
    (ensure_parallelism): this is exactly the CPU-bound map stage that a
    single under-split parquet file would otherwise serialize.
    """
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    # materialize the token array once: _dup_ngram_frac slices its input
    # per gram, and an inlined tokens() expression would re-run the
    # normalize+split regex per gram (quadratic per doc — the
    # shingle_array lesson); a column reference is free
    docs = docs.withColumn("__words", tokens(F.col(text_col)))
    words = F.col("__words")
    return docs.select(
        F.col(id_col),
        F.size(words).alias("n_tokens"),
        _dup_ngram_frac(words, 2).alias("dup_bigram_frac"),
        _dup_ngram_frac(words, 3).alias("dup_trigram_frac"),
    )


def heavy_hitters_checked(
    docs: DataFrame,
    support: float = 0.02,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequent-items sketch with its guarantee verified in-query — the
    sketch-family pattern events_unique_visitors_approx established for
    HLL, applied to token heavy hitters.

    ``DataFrame.stat.freqItems`` is Spark's single-pass frequent-items
    aggregate (Karp et al.): O(1/support) state per partition, one
    merge, NO exact per-token shuffle — the cheap first pass that finds
    stopword-grade tokens in a corpus too large to count exactly every
    run. Its contract is one-sided: every token with frequency >
    support*N is in the result (false positives allowed, false negatives
    not).

    Output: for each EXACT heavy hitter (count > support * total), its
    exact count and ``in_sketch`` — which the contract forces to TRUE,
    so a SQL oracle can pin the whole result. The sketch side executes
    eagerly (freqItems collects its tiny candidate array — bounded by
    1/support, the same small-by-contract shape as a centroid collect)
    and rejoins as a one-row broadcast; the exact side is one counting
    aggregate used only to VERIFY the sketch at gate scale.
    """
    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("n_occurrences"))
    # total derives from the per-word counts (SUM == COUNT of instances,
    # exactly) so the corpus explode is not re-evaluated a third time;
    # ReuseExchange then shares the one groupBy exchange between the
    # heavy-side scan and this scalar (r12)
    total = counts.agg(F.sum("n_occurrences").alias("__n"))
    heavy = counts.crossJoin(F.broadcast(total)).filter(
        F.col("n_occurrences") > F.lit(support) * F.col("__n")
    )
    sketch = toks.stat.freqItems(["word"], support)
    return (
        heavy.crossJoin(F.broadcast(sketch))
        .select(
            "word",
            "n_occurrences",
            F.array_contains(F.col("word_freqItems"), F.col("word")).alias(
                "in_sketch"
            ),
        )
    )


def tfidf_top_term(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Each document's most characteristic term by TF-IDF
    (tf * ln(N / df)), ties broken alphabetically.

    Scale design: term frequencies are one explode + groupBy; document
    frequencies aggregate the SAME grouped output (no second scan of the
    corpus); N is a 1-row broadcast. The per-doc argmax is a ranked
    window over (doc, term) rows — |vocab per doc| rows per partition,
    text long gone. Scores round to 6dp BEFORE ranking so the result is
    float-order-independent (and matches the SQL oracle exactly).

    Cache lifecycle: the (doc, term, tf) pass is pinned for its two
    consumers; ``materialize`` selects who releases it
    (``pipeline.lifecycle``).
    """
    from pyspark.sql import Window

    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tf = tf.cache()  # reused: df aggregation + scoring
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return release_after(
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tfidf"),
        [tf],
        materialize,
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass every training-data pipeline runs
# before text ships to a model. Patterns restricted to syntax with
# identical semantics in Java regex (Spark) and RE2 (DuckDB) so the SQL
# oracle reproduces the scrub byte-for-byte; replacement order is fixed
# (email, ipv4, phone) because the classes can abut in raw text.
# ---------------------------------------------------------------------------
PII_PATTERNS = (
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("phone", r"\d{3}[-. ]\d{4}", "<PHONE>"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts on the ORIGINAL text (map-side)."""
    return {
        kind: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
        for kind, pat, _ in PII_PATTERNS
    }


def pii_scrub(text: Column) -> Column:
    """Text with every PII match replaced by its placeholder, applied in
    PII_PATTERNS order (map-side, no shuffle, no Python)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def classifier_vote_scores(
    docs: DataFrame,
    pos_seed: DataFrame,
    neg_seed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Seed-set quality classification, integer-exact: the learned-filter
    pattern (a la CCNet's fastText quality classifier) reduced to
    Naive-Bayes token VOTES so every comparison is exact integer math —
    no log-likelihood floats, so a SQL oracle replays it bit-for-bit.

    Train: token counts per class over the two seed sets. Score: each
    token instance in a doc votes +1 if P(tok|pos) > P(tok|neg) — i.e.
    c_pos(tok) * T_neg > c_neg(tok) * T_pos by cross-multiplication —
    -1 if the inequality reverses, 0 on ties/unseen. Output per doc:
    (doc_id, n_pos_votes, n_neg_votes, n_votes, vote_margin,
    label 'pos'|'neg'|'tie').

    Scale shape: seed-vocab stats are one groupBy(token) with
    conditional-sum partials; the corpus tokens join the vocab
    BROADCAST (vocabularies are ~millions of rows — well under
    broadcast budgets; for extreme vocabularies co-partition both
    sides on token instead) and roll up per doc. Two shuffles total,
    neither carrying text."""
    def toks(df):
        return df.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
        )

    pos_t = toks(pos_seed).withColumn("__is_pos", F.lit(1))
    neg_t = toks(neg_seed).withColumn("__is_pos", F.lit(0))
    vocab = (
        pos_t.unionByName(neg_t)
        .groupBy("tok")
        .agg(
            F.sum("__is_pos").alias("c_pos"),
            F.sum(1 - F.col("__is_pos")).alias("c_neg"),
        )
    )
    totals = vocab.agg(
        F.sum("c_pos").alias("t_pos"), F.sum("c_neg").alias("t_neg")
    )
    scored = (
        toks(docs)
        .join(F.broadcast(vocab), "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.when(
                F.coalesce(F.col("c_pos"), F.lit(0)) * F.col("t_neg")
                > F.coalesce(F.col("c_neg"), F.lit(0)) * F.col("t_pos"),
                F.lit(1),
            )
            .when(
                F.coalesce(F.col("c_pos"), F.lit(0)) * F.col("t_neg")
                < F.coalesce(F.col("c_neg"), F.lit(0)) * F.col("t_pos"),
                F.lit(-1),
            )
            .otherwise(F.lit(0))
            .alias("vote"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum(F.when(F.col("vote") == 1, 1).otherwise(0)).alias("n_pos_votes"),
        F.sum(F.when(F.col("vote") == -1, 1).otherwise(0)).alias("n_neg_votes"),
        F.count(F.lit(1)).alias("n_votes"),
        F.sum("vote").alias("vote_margin"),
        F.when(F.sum("vote") > 0, F.lit("pos"))
        .when(F.sum("vote") < 0, F.lit("neg"))
        .otherwise(F.lit("tie"))
        .alias("label"),
    )


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Corpus-level informativeness per doc: the fraction of its
    distinct k-word shingles that appear in NO other document —
    high-novelty docs carry content the corpus doesn't already have
    (the inverse of boilerplate), a standard curation signal next to
    dup rate and quality score.

    Output: (doc_id, n_shingles, n_novel, novelty) — counts exact
    integers, novelty one final division. Docs too short to shingle
    emit (0, 0, 0.0) rather than dropping (the contamination-scores
    contract).

    Scale shape: shingle document frequencies are ONE groupBy on the
    shingle (map-side combine; the shuffle carries hashes of work the
    per-doc rollup needs anyway); the df table joins back to the
    exploded shingles on the same key — at 100 TB, bucket both sides or
    accept the one co-keyed shuffle — then a per-doc rollup."""
    from irstats2_spark.pipeline.dedup import word_shingles

    sh = word_shingles(docs, text_col, id_col, k, keep_empty=True)
    df_counts = (
        sh.filter(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    joined = sh.join(df_counts, "shingle", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("shingle").isNotNull(), 1).otherwise(0)
            ).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.coalesce(
                    F.try_divide(F.col("n_novel"), F.col("n_shingles")), F.lit(0.0)
                ),
                6,
            ).alias("novelty"),
        )
    )


def lm_nll_scores(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM negative-log-likelihood quality scores (the CCNet-style
    perplexity filter, reduced to an engine-exact bigram model): train
    add-one-smoothed bigram probabilities on a REFERENCE corpus (the
    "good text" sample), score every corpus doc by the average NLL of its
    bigrams under that model — low avg_nll ≈ reference-like text, high ≈
    gibberish. Output: (doc_id, n_bigrams, nll_micro, avg_nll) for every
    doc; docs with < 2 tokens score (0, 0, 0.0).

        P(w | ctx) = (c_big(ctx,w) + 1) / (c_uni(ctx) + V)

    with V = reference vocab size; unseen context ⇒ uniform 1/V.

    Engine-exact like ``dsir_logweights``: each bigram's ln P is computed
    from exact integer counts (one double division + one ln — identical
    in any IEEE engine) and quantized ONCE to integer micro-nats; the
    per-doc rollup sums integers, so results are partitioning-independent
    and the SQL oracle replays them bit-for-bit.

    Scale shape: reference unigram/bigram tables are two groupBys over
    the (typically curated, small) reference sample and BROADCAST onto
    the corpus's exploded bigrams — for a giant reference co-partition
    both sides on the bigram key instead; the per-doc rollup's shuffle
    carries (doc_id, long) partials, never text.

    Precondition: ``reference`` must contain at least one token (V >= 1).
    An empty reference makes the smoothing denominator 0 and the scores
    meaningless — train the model on a curated sample, which is nonempty
    by construction."""

    def bigrams(df: DataFrame) -> DataFrame:
        toks = tokens(F.col(text_col))
        n = F.size("__toks")
        zipped = F.arrays_zip(
            F.slice(F.col("__toks"), 1, n - 1).alias("ctx"),
            F.slice(F.col("__toks"), 2, n - 1).alias("w"),
        )
        return (
            df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
            .filter(n >= 2)
            .select("doc_id", F.explode(zipped).alias("b"))
            .select("doc_id", F.col("b.ctx").alias("ctx"), F.col("b.w").alias("w"))
        )

    # the reference only contributes n-gram counts — it need not carry
    # the id column (a bare text sample is a valid model source)
    reference = reference.select(F.lit(0).alias(id_col), F.col(text_col))
    ref_big = bigrams(reference).groupBy("ctx", "w").agg(
        F.count(F.lit(1)).alias("c_big")
    )
    ref_uni = (
        reference.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    vocab = ref_uni.agg(F.count(F.lit(1)).alias("v"))
    scored = (
        bigrams(docs)
        .join(F.broadcast(ref_big), ["ctx", "w"], "left")
        .join(
            F.broadcast(ref_uni.withColumnRenamed("w", "ctx")), "ctx", "left"
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.lit(1e6)
                * F.log(
                    (F.coalesce(F.col("c_big"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("c_uni"), F.lit(0)) + F.col("v")).cast(
                        "double"
                    )
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lq"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum("lq")).alias("nll_micro"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce(F.col("nll_micro"), F.lit(0)).cast("long").alias("nll_micro"),
            F.round(
                F.coalesce(
                    F.try_divide(F.col("nll_micro"), F.col("n_bigrams") * F.lit(1e6)),
                    F.lit(0.0),
                ),
                6,
            ).alias("avg_nll"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token windows — the RAG /
    embedding-pipeline chunker (``dedup.chunk_dedup_stats`` hashes
    fixed chunks for dedup; this one PRODUCES the chunk rows an
    embedding or retrieval index consumes). Output: one row per chunk —
    (doc_id, chunk_idx, n_chunk_tokens, chunk_text) — with stride
    ``chunk_tokens - overlap``, so consecutive chunks share ``overlap``
    tokens and no token is dropped; a doc shorter than one window
    yields exactly one chunk. Chunking is over the normalized token
    stream, so chunk identity is stable under whitespace/punctuation
    noise (the same canonicalization every hash in this module uses).

    Plan: pure map-side array arithmetic (sequence + slice per row) —
    zero shuffle, fuses into the scan; at 100 TB this runs embedded in
    whatever writes or embeds the chunks."""
    assert 0 <= overlap < chunk_tokens
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size("__toks")
    # chunk starts: 0, step, 2*step, ... while start+overlap < n — i.e.
    # the last chunk begins at most (n - overlap - 1); always >= 1 chunk
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.struct(
            j.cast("int").alias("chunk_idx"),
            F.slice(F.col("__toks"), j * step + 1, chunk_tokens).alias("__ct"),
        ),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .filter(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.__ct").alias("n_chunk_tokens"),
            F.concat_ws(" ", "c.__ct").alias("chunk_text"),
        )
    )


def fixed_chunk_array(toks: Column, chunk_tokens: int) -> Column:
    """Per-row array of NON-overlapping ``chunk_tokens``-token chunks of
    a token array (last chunk may be partial; an empty token array
    yields an empty chunk array). Shared by the intra-doc rewrite, the
    cross-doc frequent-chunk miner, and the cross-doc rewrite so all
    three agree on chunk boundaries by construction.

    ``toks`` is usually the ``tokens(...)`` EXPRESSION (regex split) and
    is referenced once per chunk in the slice lambda — codegen would
    re-evaluate it n/chunk times per row. Binding it as a lambda
    variable (single-element-array transform, see ``shingle_array``)
    evaluates it once."""

    def build(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.ceil(n / F.lit(chunk_tokens)).cast("int")
        chunks = F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
            lambda j: F.concat_ws(
                " ", F.slice(t, j * chunk_tokens + 1, chunk_tokens)
            ),
        )
        return F.when(n > 0, chunks).otherwise(F.array().cast("array<string>"))

    return F.get(F.transform(F.array(toks), build), 0)


def remove_repeated_chunks(
    docs: DataFrame,
    chunk_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """In-place intra-document dedup TRANSFORM: split each doc into
    NON-overlapping ``chunk_tokens``-token chunks, drop every chunk that
    already occurred earlier in the same document, and reconstruct the
    text from the survivors — the rewrite step behind
    ``repetition_features``'s diagnostics (C4 drops whole repeated
    lines; over token chunks the same rule catches looped boilerplate
    with no line structure). First occurrence wins, so the rewrite is
    deterministic and idempotent.

    Output: (doc_id, n_chunks, n_kept, new_text). Empty/whitespace docs
    emit (0, 0, "").

    Plan: per-row array arithmetic only (chunk slices + a
    preceding-window membership filter) — zero shuffle, fuses into the
    scan like the other map-side text transforms."""
    toks = tokens(F.col(text_col))
    kept = F.filter(
        F.col("__chunks"),
        lambda x, i: ~F.array_contains(F.slice(F.col("__chunks"), 1, i), x),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .withColumn(
            "__chunks", fixed_chunk_array(F.col("__toks"), chunk_tokens)
        )
        .select(
            "doc_id",
            F.size("__chunks").alias("n_chunks"),
            kept.alias("__kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            F.size("__kept").alias("n_kept"),
            F.concat_ws(" ", F.col("__kept")).alias("new_text"),
        )
    )


def corpus_frequent_chunks(
    docs: DataFrame,
    chunk_tokens: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CROSS-document repeated-passage miner: which exact
    ``chunk_tokens``-token passages appear in ``min_docs``+ distinct
    documents — the corpus-level boilerplate report (license headers,
    site chrome, templated paragraphs) that intra-doc
    ``remove_repeated_chunks`` and whole-doc dedup both structurally
    miss (a passage can recur across thousands of docs that are
    pairwise nothing alike).

    Output: (chunk_hash, chunk, n_docs, n_total) — n_docs is DISTINCT
    documents, n_total all occurrences (n_total > n_docs means the
    passage also loops within docs).

    Scale shape: chunking is the shared map-side array expression;
    the count is one groupBy keyed by md5(chunk) with Spark's two-phase
    distinct (partial agg on (hash, doc_id) first — a corpus-wide
    boilerplate chunk shrinks to |docs| rows before the per-hash
    shuffle, the same skew shape ``vocab_top_k`` documents). The chunk
    text rides the shuffle as a min() exemplar for the report; at
    100 TB drop the exemplar column and join hashes back to a sample
    instead."""
    chunks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            fixed_chunk_array(tokens(F.col(text_col)), chunk_tokens)
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.min("chunk").alias("chunk"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_corpus_frequent_chunks(
    docs: DataFrame,
    chunk_tokens: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """CROSS-document boilerplate removal TRANSFORM: rewrite every doc
    dropping each ``chunk_tokens``-token chunk that occurs in
    ``min_docs``+ distinct documents corpus-wide — the C4 "repeated
    line" filter generalized to token chunks and applied at corpus (not
    document) scope. Deterministic: the frequent set is a pure function
    of the corpus, and every occurrence is dropped (unlike the
    intra-doc rewrite there is no first-occurrence privilege — a
    passage shared by N docs is boilerplate in all N).

    Output: (doc_id, n_chunks, n_kept, new_text) — same contract as
    ``remove_repeated_chunks`` (empty docs emit (0, 0, "")), so the two
    rewrites compose in either order.

    Scale shape: the exploded (doc_id, pos, chunk) scan is built ONCE
    and persisted — its three consumers (frequent-hash mining, the
    rewrite's anti-join probe, and the per-doc chunk totals) previously
    each re-ran the tokenize+chunk projection over the full corpus,
    the dominant per-pass cost. Mining is the ``corpus_frequent_chunks``
    groupBy (hash-keyed, two-phase distinct); with a boilerplate-grade
    ``min_docs`` the frequent set is small by contract and broadcast;
    the rewrite tags members via a broadcast LEFT marker join and
    rebuilds each doc with ONE doc-keyed aggregation (collect_list
    skips the NULL-marked dropped chunks; the frequent set's key is
    unique, so the NULL-marker count equals an anti-join's count) —
    the corpus text crosses an exchange once, the unavoidable cost of
    any corpus-wide rewrite (the
    intra-doc rewrite stays zero-shuffle because its decision is
    row-local). Docs whose every chunk is boilerplate (or that are too
    short to chunk) are restored via a left join from the bare id
    spine — a scan that reads only the id column — so they emit
    n_chunks/n_kept = 0 rather than vanishing."""
    chunks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            fixed_chunk_array(tokens(F.col(text_col)), chunk_tokens)
        ).alias("pos", "chunk"),
    ).persist()  # mined AND rewritten from one scan; the ``materialize``
    # contract (pipeline.lifecycle) decides who releases the pin
    frequent = (
        chunks.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("chunk_hash")
    )
    # one broadcast LEFT join tags each chunk kept/dropped (frequent's
    # hash key is unique by construction, so multiplicity is preserved
    # exactly — COUNT(marker IS NULL) == the anti-join count), and ONE
    # doc-keyed aggregation yields the totals, the kept count, and the
    # rebuilt text together (collect_list skips the NULLed dropped
    # chunks). The previous shape ran two separate groupBys over the
    # cached scan plus two spine joins — one extra cached pass, one
    # extra doc-keyed shuffle, one extra join per evaluation (r12).
    tagged = chunks.join(
        F.broadcast(frequent.withColumn("__freq", F.lit(True))),
        F.md5(F.col("chunk")) == F.col("chunk_hash"),
        "left",
    )
    keep_flag = F.col("__freq").isNull()
    rebuilt = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum(F.when(keep_flag, 1).otherwise(0)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep_flag, F.struct("pos", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
        ).alias("new_text"),
    )
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return release_after(
        spine.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        ),
        [chunks],
        materialize,
    )


def cdc_chunks(
    docs: DataFrame,
    gram_tokens: int = 2,
    divisor: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_text: bool = False,
) -> DataFrame:
    """CONTENT-DEFINED chunking (the LBFS/rsync/restic technique, on
    tokens): cut after token c whenever the hash of the ``gram_tokens``-
    token gram ENDING at c is ≡ 0 mod ``divisor`` — boundaries are a
    function of local content, not position, so an insertion upstream
    re-chunks only the spans it touches and every later chunk hash
    survives verbatim. Fixed chunking (``fixed_chunk_array``) shifts
    every subsequent boundary instead, which is why cross-doc chunk
    dedup misses shared text behind a one-token edit; CDC chunk hashes
    are the alignment-robust unit (pytest pins exactly this: inject a
    prefix, CDC hashes still intersect, fixed hashes don't).

    Output: (doc_id, chunk_idx, start, n_tokens, chunk_hash) — start is
    the 0-based token offset; expected chunk length is ``divisor``
    tokens (geometric); docs shorter than one gram emit one whole-doc
    chunk; empty docs emit nothing. ``with_text=True`` appends the
    chunk's text (for rewrites — hashes only otherwise, so the default
    stream stays narrow).

    Scale shape: boundary detection, span building, and hashing are all
    per-row array expressions — zero shuffle, fuses into the scan. The
    natural downstream is ``corpus_frequent_chunks``-style grouping on
    chunk_hash, which inherits the same two-phase-distinct shape."""
    k = gram_tokens
    gram_hash = lambda c: F.conv(  # noqa: E731 — local expression builder
        F.substring(
            F.md5(F.concat_ws(" ", F.slice("__t", c - k + 1, k))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    cuts = F.when(
        F.size("__t") > k,
        F.filter(
            F.sequence(F.lit(k), F.size("__t") - 1),
            lambda c: gram_hash(c) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.concat(
        F.array(F.lit(0)), F.col("__cuts"), F.array(F.size("__t"))
    )
    chunk_text = F.concat_ws(
        " ",
        F.slice(
            "__t",
            F.element_at("__b", F.col("__j") + 1) + 1,
            F.element_at("__b", F.col("__j") + 2)
            - F.element_at("__b", F.col("__j") + 1),
        ),
    )
    out_cols = [
        "doc_id",
        F.col("__j").cast("int").alias("chunk_idx"),
        F.element_at("__b", F.col("__j") + 1).cast("int").alias("start"),
        (
            F.element_at("__b", F.col("__j") + 2)
            - F.element_at("__b", F.col("__j") + 1)
        )
        .cast("int")
        .alias("n_tokens"),
        F.md5(chunk_text).alias("chunk_hash"),
    ]
    if with_text:
        out_cols.append(chunk_text.alias("chunk_text"))
    return (
        docs.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t"))
        .filter(F.size("__t") > 0)
        .withColumn("__cuts", cuts)
        .withColumn("__b", bounds)
        .select(
            "doc_id",
            "__t",
            "__b",
            F.explode(F.sequence(F.lit(0), F.size("__b") - 2)).alias("__j"),
        )
        .select(*out_cols)
    )


def remove_cdc_frequent_chunks(
    docs: DataFrame,
    gram_tokens: int = 2,
    divisor: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Shift-robust boilerplate REMOVAL: rewrite every doc dropping each
    CDC chunk that occurs in ``min_docs``+ distinct documents — the
    removal half of the content-defined family, and the rewrite the
    fixed-chunk version (``remove_corpus_frequent_chunks``) cannot
    express: a passage injected at different offsets in every copy
    still chunks to identical hashes here, so all copies drop.

    Output: (doc_id, n_chunks, n_kept, new_text) — the shared rewrite
    contract (empty docs emit (0, 0, "")).

    Scale shape: identical to the fixed-chunk rewrite — mine frequent
    chunk hashes (two-phase-distinct groupBy, boilerplate-grade
    ``min_docs`` keeps the set broadcast-small), tag members via a
    broadcast LEFT marker join, rebuild each doc with one doc-keyed
    aggregation ordered by chunk_idx (collect_list skips the
    NULL-marked dropped chunks). The corpus text crosses an exchange
    once."""
    chunks = cdc_chunks(
        docs, gram_tokens, divisor, text_col, id_col, with_text=True
    ).persist()  # mined AND rewritten from the same scan; the
    # ``materialize`` contract (pipeline.lifecycle) decides who releases
    frequent = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("chunk_hash")
    )
    # same fused shape as remove_corpus_frequent_chunks (r12): tag via
    # one broadcast LEFT marker join (frequent's key is unique, so the
    # NULL-marker count equals the anti-join count), aggregate totals +
    # kept + rebuilt text in ONE doc-keyed pass (collect_list skips the
    # NULLed dropped chunks) — one cached pass, one shuffle, one join
    # fewer per evaluation than the two-groupBy + two-spine-join shape.
    tagged = chunks.join(
        F.broadcast(frequent.withColumn("__freq", F.lit(True))),
        "chunk_hash",
        "left",
    )
    keep_flag = F.col("__freq").isNull()
    rebuilt = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(keep_flag, 1).otherwise(0)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep_flag, F.struct("chunk_idx", "chunk_text"))
                    )
                ),
                lambda s: s["chunk_text"],
            ),
        ).alias("new_text"),
    )
    spine = docs.select(F.col(id_col).alias("doc_id"))
    return release_after(
        spine.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chunks", F.lit(0)).cast("int").alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        ),
        [chunks],
        materialize,
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprint SELECTION (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every k-token gram, then keep the minimum
    hash of each ``window`` consecutive grams — a position-robust
    subset ~1/window the size of the full gram set that still
    GUARANTEES any shared run of ``window + k - 1``+ tokens contributes
    at least one common fingerprint. The local-min rule is what makes
    it robust: unlike stride sampling, an insertion upstream shifts
    which windows exist but not which grams are locally minimal.

    Output: (doc_id, pos, fp) — the selected gram's 0-based token
    position and its 32-bit hash. Ties/selection are deterministic:
    each gram is keyed by hash*2^20 + pos (docs are contracted to
    < 2^20 tokens — split longer ones upstream), so the per-window min
    is the LEFTMOST minimal hash and the whole selection replays in
    SQL. Docs with fewer grams than one window contribute their single
    overall min (below winnowing's guarantee length, documented —
    dropping them would make short docs invisible to matching); docs
    shorter than k contribute nothing.

    Scale shape: entirely per-row array arithmetic — gram hashing,
    windowed min, and dedup all happen inside one projection, zero
    shuffle, fuses into the scan. The downstream matcher
    (``dedup.winnow_shared_pairs``) inherits a gram stream 1/window
    the size the full-shingle path would shuffle."""
    keys = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__t")
    ).filter(F.size("__t") >= k)
    sel = winnow_key_array(F.col("__t"), k, window)
    return keys.select("doc_id", F.explode(sel).alias("__k")).select(
        "doc_id",
        (F.col("__k") % 1048576).cast("int").alias("pos"),
        F.shiftright("__k", 20).alias("fp"),
    )


def winnow_key_array(toks: Column, k: int = 4, window: int = 4) -> Column:
    """Per-row array of DISTINCT winnowing keys (hash*2^20 + pos) for a
    token array — the row-local core ``winnow_fingerprints`` explodes
    and the streaming twin keeps in-row (a per-row fingerprint SET makes
    the shared-count verify a row-local ``array_intersect``, which is
    what lets the matcher stream stateless). Caller must ensure
    size(toks) >= k (fewer tokens have no gram to fingerprint).

    Both the token array AND the gram-key array are bound as lambda
    variables (the single-element-array transform trick, see
    ``shingle_array``): ``toks`` is usually the tokens(...) regex
    expression and is referenced once per gram in the slice, and the
    gram array is referenced once per window min — inlined, each level
    re-evaluates per element and the stage goes quadratic."""

    def grams_of(t: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.size(t) - k),
            lambda i: F.conv(
                F.substring(F.md5(F.concat_ws(" ", F.slice(t, i + 1, k))), 1, 8),
                16,
                10,
            ).cast("long")
            * F.lit(1048576)
            + i,
        )

    def windowed_min(keys: Column) -> Column:
        wlen = F.least(F.lit(window), F.size(keys))
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.size(keys) - window, F.lit(0))
                ),
                lambda j: F.array_min(F.slice(keys, j + 1, wlen)),
            )
        )

    return F.get(
        F.transform(
            F.array(toks),
            lambda t: F.flatten(
                F.transform(F.array(grams_of(t)), lambda ks: windowed_min(ks))
            ),
        ),
        0,
    )


def remove_listed_chunks(
    docs: DataFrame,
    chunk_hashes: "list[str]",
    chunk_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate removal against a KNOWN chunk set — the incremental /
    streaming form of ``remove_corpus_frequent_chunks``: the frequent
    set was mined once on an earlier corpus snapshot (the
    ``corpus_frequent_chunks`` output), and incoming documents are
    rewritten against it without re-mining. Same output contract as the
    batch rewrite ((doc_id, n_chunks, n_kept, new_text); empty docs emit
    (0, 0, "")), so when the listed set equals the corpus' own mined set
    the two rewrites agree row-for-row (pytest pins this).

    Scale shape: with the set baked in as a literal array the rewrite is
    a ZERO-SHUFFLE per-row map — no explode, no rebuild groupBy — which
    is also why it streams stateless (``streams.clean_chunks_stream``).
    The membership probe is O(|set|) per chunk, the right trade for a
    boilerplate-grade set (hundreds–thousands of hashes, the same
    smallness contract that lets the batch form broadcast); for a set
    past broadcast scale, fall back to the batch join form."""
    hs = sorted(set(chunk_hashes))
    hset = F.lit(hs) if hs else F.array().cast("array<string>")
    with_chunks = docs.select(
        F.col(id_col).alias("doc_id"),
        fixed_chunk_array(tokens(F.col(text_col)), chunk_tokens).alias("__ch"),
    )
    kept = F.filter(
        F.col("__ch"), lambda c: ~F.array_contains(hset, F.md5(c))
    )
    return with_chunks.select(
        "doc_id",
        F.size("__ch").alias("n_chunks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.concat_ws(" ", kept).alias("new_text"),
    )


def duplicate_span_coverage(
    docs: DataFrame,
    span_tokens: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> DataFrame:
    """Per-document DUPLICATED-TEXT FRACTION at arbitrary alignment: the
    share of a doc's tokens covered by at least one ``span_tokens``-token
    window that also appears in ``min_docs - 1``+ OTHER documents — the
    RefinedWeb/Dolma "fraction of characters in duplicated n-grams"
    curation signal. Fixed-chunk mining (``corpus_frequent_chunks``)
    only sees passages that land on chunk boundaries; sliding windows at
    stride 1 catch a shared passage wherever it starts, and the
    interval-union makes overlapping hits count each token once.

    Output: (doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens,
    dup_frac) — dup_frac = covered_tokens / n_tokens rounded to 6dp
    (0.0 for docs shorter than one window).

    Scale shape: the window stream is a map-side explode (~1 row per
    token); the document-frequency count is one hash-keyed groupBy with
    partial aggregation on (hash, doc_id) — a corpus-wide boilerplate
    window shrinks to |docs| rows before the per-hash shuffle. Frequent
    hashes join back to the (persisted) window stream as a plain
    hash-partitioned equi-join: the build side is grouped-unique per
    key, so no skewed-key blowup — the shuffles carry (doc_id, pos,
    16-byte hash), never text. Coverage is the classic sorted-interval
    union, but with equal-length stride-1 windows it degenerates to one
    LAG per doc: each kept window contributes min(span, pos - prev_pos)
    tokens. One window-function pass per doc, state O(1)."""
    k = span_tokens
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
    )
    wins = (
        toks.filter(F.size("t") >= k)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - k),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(F.concat_ws(" ", F.slice("t", i + 1, k))).alias(
                            "h"
                        ),
                    ),
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )
    wins = wins.persist()  # two consumers below; the ``materialize``
    # contract (pipeline.lifecycle) decides who releases the pin
    frequent = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("h")
    )
    dup = wins.join(frequent, "h").select("doc_id", "pos")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (
        dup.withColumn("__prev", F.lag("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_windows"),
            F.sum(
                F.when(F.col("__prev").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), F.col("pos") - F.col("__prev"))
                )
            ).alias("covered_tokens"),
        )
    )
    totals = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.greatest(F.size("t") - k + 1, F.lit(0)).alias("n_windows"),
    )
    return release_after(
        totals.join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.col("n_windows").cast("int").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        ),
        [wins],
        materialize,
    )


def length_histogram(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Log2-bucketed document-length histogram: bucket b holds docs
    with 2^(b-1) <= n_tokens < 2^b (bucket 0 = empty docs), with doc
    count and token mass per bucket — the length-distribution dashboard
    a packing/budget plan starts from, shaped to work at any corpus
    size (a quantile needs a sort or a sketch; a log histogram is one
    tiny groupBy whose key domain is <= 64 by construction).

    Integer-exact bucketing: b = length(bin(n_tokens)) — the binary
    digit count, floor(log2)+1 without touching floating-point LOG
    (which disagrees between engines at exact powers of two).

    Output: (bucket, lo, hi, n_docs, total_tokens), lo/hi the inclusive
    token range."""
    n = token_count(F.col(text_col))
    bucket = F.when(n > 0, F.length(F.bin(n))).otherwise(F.lit(0)).cast("int")
    agg = (
        docs.select(bucket.alias("bucket"), n.alias("__n"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
    )
    return agg.select(
        "bucket",
        F.expr(
            "CASE WHEN bucket > 0"
            " THEN shiftleft(CAST(1 AS BIGINT), bucket - 1) ELSE 0 END"
        ).cast("long").alias("lo"),
        F.expr(
            "CASE WHEN bucket > 0"
            " THEN shiftleft(CAST(1 AS BIGINT), bucket) - 1 ELSE 0 END"
        ).cast("long").alias("hi"),
        "n_docs",
        "total_tokens",
    )


def span_coverage_against(
    docs: DataFrame,
    ref_docs: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level DECONTAMINATION coverage: per training document, the
    share of tokens covered by a ``span_tokens``-token window that also
    appears ANYWHERE in the reference/benchmark set — the span-grain
    companion to ``contamination.shingle_overlap_fraction`` (which
    counts distinct shingles): coverage says how much of the DOC is
    benchmark text, which is the number a filter threshold actually
    wants (a 5000-token doc quoting one benchmark sentence is fine; a
    doc that IS a benchmark answer sheet is not — both can have similar
    distinct-shingle fractions).

    Output: (doc_id, n_tokens, n_windows, n_hit_windows, covered_tokens,
    leak_frac) — same interval-union semantics as
    ``duplicate_span_coverage`` (each token counted once).

    Scale shape: the reference side collapses to DISTINCT window hashes
    (benchmark-sized, tiny by contract — broadcast); the corpus window
    stream joins it map-side, and the LAG-union runs per doc. The
    corpus shuffles once, keyed by doc_id, carrying (pos, hash)."""
    k = span_tokens

    def windows(src: DataFrame) -> DataFrame:
        toks = src.select(
            F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("t")
        )
        return (
            toks.filter(F.size("t") >= k)
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("t") - k),
                        lambda i: F.struct(
                            i.alias("pos"),
                            F.md5(
                                F.concat_ws(" ", F.slice("t", i + 1, k))
                            ).alias("h"),
                        ),
                    )
                ).alias("w"),
            )
            .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
        )

    ref_hashes = windows(ref_docs).select("h").distinct()
    hits = windows(docs).join(F.broadcast(ref_hashes), "h").select(
        "doc_id", "pos"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (
        hits.withColumn("__prev", F.lag("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_windows"),
            F.sum(
                F.when(F.col("__prev").isNull(), F.lit(k)).otherwise(
                    F.least(F.lit(k), F.col("pos") - F.col("__prev"))
                )
            ).alias("covered_tokens"),
        )
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        F.greatest(F.col("n_tokens") - k + 1, F.lit(0)).alias("n_windows"),
    )
    return totals.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_windows").cast("int").alias("n_windows"),
        F.coalesce("n_hit_windows", F.lit(0)).cast("long").alias("n_hit_windows"),
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("leak_frac"),
    )


def vocab_encode(
    docs: DataFrame,
    vocab_size: int = 1024,
    oov_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-id encoding against a BOUNDED frequency vocabulary: ids
    1..vocab_size are assigned by (corpus count DESC, token ASC) — the
    standard most-frequent-first numbering — and every out-of-vocabulary
    token maps to ``oov_id``. Output is the EXPLODED form
    (doc_id, pos, token_id), the id stream a packing/training consumer
    reads in (doc_id, pos) order.

    Bounding the vocab is what makes the ranking scale: an UNbounded
    rank over the corpus vocabulary would need a global sort of a
    possibly-billions-row table, but the top-``vocab_size`` cut is a
    TakeOrdered (per-partition top-k, merged on the driver — the same
    contract as ``vocab_top_k``), and the id table is then
    vocab_size rows by construction: the broadcast side of a map-side
    encode join. The encode itself is posexplode + broadcast join —
    the corpus never shuffles.

    Determinism: (count DESC, token ASC) is a total order, so ids are
    stable across partitionings and engines (pytest + oracle pin)."""
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    top = counts.orderBy(F.desc("__c"), F.asc("token")).limit(vocab_size)
    # vocab_size rows by contract: the single-partition window is legal
    from pyspark.sql import Window

    vocab = top.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.desc("__c"), F.asc("token")))
        .alias("__tid"),
    )
    return ex.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce("__tid", F.lit(oov_id)).cast("int").alias("token_id"),
    )


def gopher_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 3.0,
    max_mean_token_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    max_dup_trigram_frac: float = 0.3,
) -> DataFrame:
    """The Gopher/MassiveText rule-based quality gate as ONE composite
    decision (Rae et al. 2021 §A1.1, the standard pre-model filter):
    token-count window, mean-token-length window, symbol-ratio cap,
    a minimum count of common-English stopword hits, and the duplicate
    3-gram cap from the repetition rules — with the PER-RULE verdicts
    kept as columns so the corpus report shows WHY documents fail, not
    just how many.

    Output: (doc_id, n_tokens, mean_token_len, symbol_ratio,
    stopword_hits, dup_trigram_frac, fail_length, fail_token_len,
    fail_symbols, fail_stopwords, fail_repetition, quality_pass).

    Entirely map-side: every rule is a per-row array expression over
    one materialized tokenization (zero shuffle, fuses into the scan) —
    the cheapest tier of the quality stack, meant to run before the
    classifier votes and LM scoring tiers."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    text = F.col(text_col)
    docs = docs.withColumn("__toks", tokens(text))
    toks = F.col("__toks")
    n_toks = F.size(toks)
    n_chars = F.length(text)
    mean_len = F.when(
        n_toks > 0, F.round(F.length(F.concat_ws("", toks)) / n_toks, 6)
    ).otherwise(F.lit(0.0))
    symbols = n_chars - F.length(F.regexp_replace(text, r"[^\p{L}\p{N}\s]", ""))
    sym_ratio = F.when(n_chars > 0, F.round(symbols / n_chars, 6)).otherwise(
        F.lit(0.0)
    )
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(LANG_MARKERS["en"])))
    dup3 = _dup_ngram_frac(toks, 3)
    fail_length = (n_toks < min_tokens) | (n_toks > max_tokens)
    fail_token_len = (mean_len < min_mean_token_len) | (
        mean_len > max_mean_token_len
    )
    fail_symbols = sym_ratio > max_symbol_ratio
    fail_stop = stop_hits < min_stopword_hits
    fail_rep = dup3 > max_dup_trigram_frac
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_toks.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        sym_ratio.alias("symbol_ratio"),
        stop_hits.cast("long").alias("stopword_hits"),
        dup3.alias("dup_trigram_frac"),
        fail_length.alias("fail_length"),
        fail_token_len.alias("fail_token_len"),
        fail_symbols.alias("fail_symbols"),
        fail_stop.alias("fail_stopwords"),
        fail_rep.alias("fail_repetition"),
        (
            ~fail_length
            & ~fail_token_len
            & ~fail_symbols
            & ~fail_stop
            & ~fail_rep
        ).alias("quality_pass"),
    )


def ccnet_perplexity_buckets(
    docs: DataFrame,
    reference: DataFrame,
    group_col: str = "lang",
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing: score every doc with the
    reference bigram LM (``lm_nll_scores``), then split each language
    into equal-count head/middle/tail tiers by ascending per-bigram NLL
    (head = most reference-like — CCNet keeps head+middle for
    pretraining and drops or down-weights tail). Bucketing is
    PER-GROUP, not global, because perplexity is not comparable across
    languages: a well-formed zh doc scores higher absolute NLL under
    any model than a well-formed en doc, so a global cut would empty
    entire languages out of the head tier.

    The sort key is integer-exact: ``nll_per_bigram_micro =
    (nll_micro * 1e6) DIV n_bigrams`` — pure BIGINT floor division on
    the already-integer micro-nat sums, so every engine orders docs
    identically; remaining ties break by doc_id. Docs with < 2 tokens
    key at 0 (they carry no bigram evidence) and land in head by
    construction — filter them upstream with a length gate if that
    matters. NTILE(n) distributes remainders to the lowest tiles in
    both Spark and DuckDB (SQL-standard), so bucket BOUNDARIES are also
    engine-exact.

    Output: (doc_id, lang, n_bigrams, nll_per_bigram_micro, bucket,
    tier) with bucket in 1..n and tier naming the classic 3-cut
    (head/middle/tail; for n != 3 tier is 'b<bucket>').

    Scale shape: scoring inherits ``lm_nll_scores``' broadcast-model
    map; the NTILE is one shuffle keyed on the group column followed by
    a per-group sort of (id, two longs) rows — never text. Per-group
    total sorts are the exactness-auditable form; at 100 TB swap the
    NTILE for the histogram-split pattern (`classifier_top_fraction_
    binned`): bucket the integer key, pick boundary bins from bin
    counts, and only sort within boundary bins."""
    from pyspark.sql import Window

    scores = lm_nll_scores(docs, reference, text_col, id_col)
    keyed = (
        docs.select(F.col(id_col).alias("doc_id"), group_col)
        .join(scores, "doc_id")
        .select(
            "doc_id",
            group_col,
            "n_bigrams",
            F.when(F.col("n_bigrams") > 0,
                   F.expr("(nll_micro * 1000000) DIV n_bigrams"))
            .otherwise(F.lit(0).cast("long"))
            .alias("nll_per_bigram_micro"),
        )
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("nll_per_bigram_micro").asc(), F.col("doc_id").asc()
    )
    tier = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket").cast("string"))
    )
    return keyed.withColumn("bucket", F.ntile(n_buckets).over(w)).select(
        "doc_id",
        group_col,
        "n_bigrams",
        "nll_per_bigram_micro",
        "bucket",
        tier.alias("tier"),
    )


def vocab_coverage_curve(
    docs: DataFrame,
    ks: tuple[int, ...] = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024),
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size k, the
    fraction of all token OCCURRENCES covered by the k most frequent
    types — the sizing audit behind every bounded-vocab decision
    (``vocab_encode``'s OOV rate at size k is exactly 1 - share(k)).
    Token frequencies are Zipfian, so the curve bends hard; reading the
    knee off this table replaces guessing the vocab size.

    Output: (k, n_types, covered_occurrences, total_occurrences,
    share) — n_types < k when the corpus has fewer types than k; ties
    at the boundary break (count DESC, token ASC) like ``vocab_encode``
    so the curve is engine-exact.

    Scale shape: one groupBy builds type counts (shuffles (token,
    long)); only the top max(ks) types matter for every cut, so the
    ranked side is a TakeOrdered broadcast of <= max(ks) rows — there
    is NO global sort of the vocabulary and NO single-partition window;
    the k-cut join and the total are broadcasts."""
    from pyspark.sql import Window

    mk = max(ks)
    spark = docs.sparkSession
    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    total = counts.agg(F.sum("__c").alias("__t"))
    top = counts.orderBy(F.col("__c").desc(), F.col("token").asc()).limit(mk)
    # the window runs over the <= max(ks)-row TakeOrdered result only
    ranked = top.withColumn(
        "__r",
        F.row_number().over(
            Window.orderBy(F.col("__c").desc(), F.col("token").asc())
        ),
    )
    ks_df = spark.createDataFrame([(int(k),) for k in ks], "k int")
    return (
        ks_df.join(F.broadcast(ranked), F.col("__r") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("__c").cast("long").alias("covered_occurrences"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "n_types",
            "covered_occurrences",
            F.col("__t").cast("long").alias("total_occurrences"),
            F.round(F.col("covered_occurrences") / F.col("__t"), 6).alias(
                "share"
            ),
        )
    )


def lang_confusion_audit(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Language-ID CONFUSION MATRIX against the corpus's labeled
    language: one row per (labeled, detected) cell with the doc count
    and the within-label share (the diagonal's share = per-language
    recall). Every classifier in the curation stack ships with an
    accuracy audit before its output becomes a filter key — this is
    ``lang_id``'s: it turns "the heuristic looks right" into a number
    per language, and off-diagonal hot cells name exactly which marker
    lists need work (e.g. es/fr sharing 'la'/'de' markers).

    Scale shape: the detector is the same zero-shuffle token map as
    ``lang_id`` (fanned out past the input's file-partitioning like
    lang_id — a single parquet file must not serialize the map onto
    one core); the rollup is one groupBy over a key domain of
    |langs|^2 cells, and the within-label totals ride a broadcast of
    |langs| rows — nothing corpus-sized shuffles."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    detected = docs.select(
        F.col(label_col).alias("labeled_lang"),
        lang_id_from_tokens(
            F.array_distinct(tokens(F.col(text_col)))
        ).alias("detected_lang"),
    )
    cells = detected.groupBy("labeled_lang", "detected_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("__lt")
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "detected_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__lt"), 6).alias("label_share"),
        (F.col("labeled_lang") == F.col("detected_lang")).alias("is_correct"),
    )


def quality_calibration_audit(
    docs: DataFrame,
    pos_seed: DataFrame,
    neg_seed: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Agreement matrix between the two quality tiers: the LEARNED
    seed-set classifier (``classifier_vote_scores`` label pos/tie/neg)
    against the RULE-BASED Gopher gate (``gopher_quality_gate``
    quality_pass) — one row per (label, quality_pass) cell with counts
    and within-label share. The signals are built from different
    evidence (token likelihoods vs surface statistics), so their
    DISAGREEMENT cells are the actionable output: pos-but-gate-fail
    docs show where the seed set imports the reference's quirks;
    neg-but-gate-pass docs are surface-clean text the classifier
    dislikes — exactly what gets hand-reviewed before a filter ships.

    Scale shape: both inputs are existing zero-/one-shuffle scores;
    the join is doc-keyed; the rollup's key domain is 3 x 2 cells and
    within-label totals ride a broadcast — nothing corpus-sized moves
    after the score maps."""
    votes = classifier_vote_scores(docs, pos_seed, neg_seed).select(
        id_col, "label"
    )
    gate = gopher_quality_gate(docs).select(id_col, "quality_pass")
    cells = (
        votes.join(gate, id_col)
        .groupBy("label", "quality_pass")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    totals = cells.groupBy("label").agg(F.sum("n_docs").alias("__lt"))
    return cells.join(F.broadcast(totals), "label").select(
        "label",
        "quality_pass",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__lt"), 6).alias("label_share"),
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc token Shannon ENTROPY in nats — the diversity signal the
    ratio features miss: H = ln(n) - (1/n) * sum_t c_t * ln(c_t) over
    token counts c_t. Low entropy = a few tokens dominate (keyword
    stuffing, boilerplate loops — high `repetition_score` catches exact
    n-gram repeats, entropy also catches shuffled repetition); max
    entropy = every token distinct (ln n). A standard cheap feature in
    quality stacks next to length/stopword/symbol ratios.

    Engine-exact: each ln quantizes ONCE to integer micro-nats
    (floor(1e6*ln(x)+0.5)); sum_c_lnc_micro is an exact integer, and
    the reported entropy is one double expression over integers,
    rounded to 6dp — so any engine reproduces it bit-for-bit.

    Scale shape: entirely per-row array expressions (distinct tokens,
    per-type counts via in-row filters, one fold) — ZERO shuffle, fuses
    into the scan like `quality_features`; fanned out past the input's
    file-partitioning so a single parquet file does not serialize the
    per-row O(types x tokens) work onto one core. Fine for documents,
    not for megabyte blobs."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)

    def lnq(c):
        return F.floor(F.lit(1e6) * F.log(c.cast("double")) + F.lit(0.5)).cast(
            "long"
        )

    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.array_distinct(toks).alias("__u"),
    )
    cnt = lambda t: F.size(F.filter(F.col("__toks"), lambda x: x == t))  # noqa: E731
    sum_c_lnc = F.aggregate(
        F.transform(F.col("__u"), lambda t: cnt(t) * lnq(cnt(t))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = F.size("__toks")
    return base.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.size("__u").cast("int").alias("n_types"),
        F.when(n > 0, sum_c_lnc).otherwise(F.lit(0)).cast("long").alias(
            "sum_c_lnc_micro"
        ),
        F.when(
            n > 0,
            F.round(
                (lnq(n) * n - sum_c_lnc) / (n.cast("double") * 1e6), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    vocab_size: int = 64,
    chunk_chars: int = 4,
    by_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-fertility audit per language (or any stratum): subword
    tokens emitted per whitespace word under a bounded word vocabulary
    with character-chunk fallback — in-vocab words cost 1 token, OOV
    words fall back to ceil(len / chunk_chars) chunks (the byte-fallback
    upper bound every real BPE stays under). High fertility for a
    language means the vocabulary under-serves it — the tokenizer-parity
    signal multilingual pretraining audits report (tokens/word ratios
    across languages), computable without shipping a trained tokenizer.

    Engine-exact: costs are integers ((len + chunk-1) DIV chunk), the
    two reported ratios are single double divisions over exact integer
    sums, rounded to 6dp.

    Scale shape: same as ``vocab_encode`` — the vocabulary is a
    TakeOrdered top-k (per-partition top-k, driver merge, vocab_size
    rows), broadcast into a map-side membership join on the exploded
    token stream; the only corpus-wide shuffle is the final
    stratum-keyed agg of integer partials."""
    from pyspark.sql import Window

    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    ex = docs.select(
        F.col(by_col).alias("stratum"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    top = counts.orderBy(F.desc("__c"), F.asc("token")).limit(vocab_size)
    vocab = top.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.desc("__c"), F.asc("token")))
        .alias("__tid"),
    )
    joined = ex.join(F.broadcast(vocab), "token", "left")
    cost = F.when(F.col("__tid").isNotNull(), F.lit(1)).otherwise(
        F.expr(f"(length(token) + {chunk_chars - 1}) DIV {chunk_chars}")
    )
    return (
        joined.select(
            "stratum",
            cost.cast("long").alias("__cost"),
            F.when(F.col("__tid").isNull(), 1).otherwise(0).alias("__oov"),
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__cost").cast("long").alias("n_subword_tokens"),
            F.sum("__oov").cast("long").alias("n_oov_words"),
            F.round(F.sum("__cost") / F.count(F.lit(1)), 6).alias("fertility"),
            F.round(F.sum("__oov") / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


def ngram_diversity(
    docs: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lexical-diversity audit per stratum: type/token ratio on unigrams
    and distinct/total ratio on word trigrams. Boilerplate-heavy or
    template-generated slices show low trigram diversity long before
    near-dup pair mining runs — this is the cheap corpus-health screen
    that decides WHERE to point the expensive dedup.

    Exactness: totals are integer sums computed from per-doc token
    counts (a doc with n tokens has max(n-2, 0) trigrams); distincts
    are exact COUNT(DISTINCT) over the stratum. Ratios are single
    double divisions rounded to 6dp.

    Scale shape: two exact-distinct aggregations keyed by stratum —
    Spark plans each as the standard two-phase partial-distinct
    (expand + local distinct before the exchange), and the trigram
    side shuffles per-doc-DISTINCT shingles only (corpus-distinct is
    invariant to the per-doc pre-dedup, which ``word_shingles`` applies
    map-side). At 100 TB swap the exact distincts for
    ``approx_count_distinct`` (the ``events_unique_visitors_approx``
    pattern: sketch in the plan, exactness asserted at audit scale)."""
    from irstats2_spark.pipeline.dedup import word_shingles

    per_doc = docs.select(
        F.col(by_col).alias("stratum"),
        F.col(id_col).alias("doc_id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("__n_toks"),
    )
    uni = docs.select(
        F.col(by_col).alias("stratum"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    uni_agg = uni.groupBy("stratum").agg(
        F.countDistinct("token").cast("long").alias("n_types")
    )
    tri = word_shingles(docs, text_col, id_col, k=3).join(
        per_doc.select("doc_id", "stratum"), "doc_id"
    )
    tri_agg = tri.groupBy("stratum").agg(
        F.countDistinct("shingle").cast("long").alias("n_trigram_types")
    )
    base = per_doc.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__n_toks").cast("long").alias("n_tokens"),
        F.sum(F.greatest(F.col("__n_toks") - 2, F.lit(0)))
        .cast("long")
        .alias("n_trigrams"),
    )
    return (
        base.join(uni_agg, "stratum")
        .join(tri_agg, "stratum")
        .select(
            "stratum",
            "n_docs",
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
            "n_trigrams",
            "n_trigram_types",
            F.round(
                F.col("n_trigram_types") / F.col("n_trigrams"), 6
            ).alias("trigram_diversity"),
        )
    )


def burstiness_audit(
    docs: DataFrame,
    top_k: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Term burstiness (Fano factor) for the top-k corpus terms: the
    variance-to-mean ratio of a term's per-document count across ALL
    documents. Poisson-scattered terms sit near 1.0; content words
    clump (burstiness >> 1) while function words spread evenly — and a
    supposedly-common term with extreme burstiness is boilerplate
    concentrated in a few templated docs, the signal TF-IDF's binary
    doc-frequency misses (Church & Gale's burstiness observation).

    Engine-exact: with N docs, term total T and per-doc-count square
    sum S (zero-count docs add nothing to either), VMR = var/mean
    collapses to (N*S - T^2) / (N*T) — computed as ONE double division
    over three exact integers, rounded to 6dp.

    Scale shape: explode -> (term, doc) partial counts -> per-term
    integer moments (two keyed shuffles carrying small ints), then a
    TakeOrdered top-k cut (count DESC, token ASC) — no global sort;
    the N scalar joins in as a broadcast single-row aggregate."""
    from irstats2_spark.pipeline.parallel import ensure_parallelism

    docs = ensure_parallelism(docs)
    n_docs = docs.select(
        F.count(F.lit(1)).cast("long").alias("__N")
    )
    per_doc = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    stats = per_doc.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__c").cast("long").alias("total"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__sumsq"),
    )
    top = stats.orderBy(F.desc("total"), F.asc("token")).limit(top_k)
    return top.crossJoin(F.broadcast(n_docs)).select(
        "token",
        "n_docs",
        "total",
        F.round(
            (F.col("__N") * F.col("__sumsq") - F.col("total") * F.col("total"))
            / (F.col("__N") * F.col("total")),
            6,
        ).alias("burstiness"),
    )


def encoding_anomaly_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    per_mille_threshold: int = 50,
) -> DataFrame:
    """Encoding-anomaly audit per document: counts of U+FFFD replacement
    characters (the scar UTF-8 decoding leaves on mojibake), C0 control
    characters (excluding tab/newline/CR), and non-ASCII codepoints,
    rolled into an integer per-mille score — the 'fix or drop broken
    decodes' gate every crawl pipeline runs before tokenization (a
    replacement char is unrecoverable; control chars mark binary
    spillover; the non-ASCII rate is the weak signal that flags
    double-encoded latin-1 when it spikes for an ASCII-dominant lang).

    score_per_mille = floor((20*n_replacement + 10*n_control +
    n_non_ascii) * 1000 / max(n_chars, 1)); is_clean = score below the
    threshold. Pure map (three regexp counts fused into the scan
    projection); every count is an exact integer and the one division
    is floored, so the row is engine-exact.
    """
    col = F.col(text_col)
    n_chars = F.length(col).cast("long")

    def n_matching(pattern: str):
        return (
            n_chars - F.length(F.regexp_replace(col, pattern, "")).cast("long")
        )

    n_control = n_matching("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    n_replacement = n_matching("�")
    n_non_ascii = n_matching("[^\\x00-\\x7F]")
    score = (
        (20 * n_replacement + 10 * n_control + n_non_ascii)
        * 1000
        / F.greatest(n_chars, F.lit(1))
    ).cast("long")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars_text"),
        n_control.alias("n_control"),
        n_replacement.alias("n_replacement"),
        n_non_ascii.alias("n_non_ascii"),
        score.alias("anomaly_per_mille"),
        (score < per_mille_threshold).alias("is_clean"),
    )


def vocab_decode_roundtrip(
    docs: DataFrame,
    vocab_size: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer integrity audit: encode against the bounded frequency
    vocabulary (``vocab_encode``'s exact construction), decode the id
    stream back through the same table, and verify every in-vocab
    position reproduces its original token — the round-trip identity a
    training pipeline asserts before committing a tokenized dataset
    (id-table drift between the encode and decode sides is a silent
    corpus corruptor). Output per doc: token/OOV counts, the mismatch
    count (0 by construction — the gate makes the identity visible, not
    assumed), and the ok flag.

    Plan shape: one token explode reused by both the vocab count and the
    encode; the vocab (and its inverse) are TakeOrdered broadcast sides;
    the per-doc rollup is the only corpus-keyed aggregation.
    """
    from pyspark.sql import Window

    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    )
    counts = ex.groupBy("token").agg(F.count(F.lit(1)).alias("__c"))
    top = counts.orderBy(F.desc("__c"), F.asc("token")).limit(vocab_size)
    vocab = top.select(
        "token",
        F.row_number()
        .over(Window.orderBy(F.desc("__c"), F.asc("token")))
        .alias("tid"),
    )
    enc = ex.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", "token", F.coalesce("tid", F.lit(0)).alias("token_id")
    )
    inverse = vocab.select(
        F.col("tid").alias("token_id"), F.col("token").alias("decoded")
    )
    dec = enc.join(F.broadcast(inverse), "token_id", "left")
    return (
        dec.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("token_id") == 0).cast("int"))
            .cast("long")
            .alias("n_oov"),
            F.sum(
                (
                    (F.col("token_id") > 0)
                    & (F.col("decoded") != F.col("token"))
                ).cast("int")
            )
            .cast("long")
            .alias("n_mismatch"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            "n_mismatch",
            (F.col("n_mismatch") == 0).alias("roundtrip_ok"),
        )
    )
