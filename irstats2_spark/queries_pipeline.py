"""Training-data-pipeline catalog queries over documents + embeddings.

Oracles reproduce the engine-portable hashing (md5 hex strings) in DuckDB
SQL, so exact/LSH dedup and text analysis are value-verified end to end.
Cosine scores are rounded to 6dp on both sides before ranking/compare.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.catalog import register
from irstats2_spark.sources.testdata import load_table

# Shared SQL fragment: normalized text (matches pipeline.dedup.normalize_text)
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
# documents.text is lowercase ascii word soup, so [^a-z0-9\s] == Spark's
# [^\p{L}\p{N}\s] on this data; the pytest suite covers unicode parity.

def _winnow_cte(p: str, where: str = "") -> str:
    return f"""
    {p}toks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents {where}
    ),
    {p}grams AS (
        SELECT doc_id,
               list_transform(generate_series(0, len(t) - 4),
                   i -> CAST(concat('0x', substring(
                            md5(array_to_string(t[i+1 : i+4], ' ')), 1, 8))
                        AS BIGINT) * 1048576 + i) AS keys
        FROM {p}toks WHERE len(t) >= 4
    ),
    {p}sel AS (
        SELECT DISTINCT doc_id, k FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(0, GREATEST(len(keys) - 4, 0)),
                       j -> list_min(keys[j+1 : j + LEAST(4, len(keys))])))
                       AS k
            FROM {p}grams
        )
    ),
    {p}fps AS (
        SELECT doc_id, CAST(k % 1048576 AS INT) AS pos, k >> 20 AS fp
        FROM {p}sel
    )
"""


_SHINGLES_SQL = f"""
    shingled AS (
        SELECT doc_id, words, generate_subscripts(words, 1) AS i
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents) t
    ),
    shingles AS (
        SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM shingled
        WHERE i + 2 <= len(words)
    )
"""



# Quantized-cosine SQL fragments (mirror pipeline.similarity.cosine_q):
# integer dot/norms are exact in any engine; one double division at the end.
_Q = "list_transform({v}, x -> CAST(FLOOR(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT))"


def _qcos(a: str, b: str) -> str:
    qa, qb = _Q.format(v=a), _Q.format(v=b)
    return (
        f"(CAST(list_sum(list_transform(list_zip({qa}, {qb}), p -> p[1]*p[2])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform({qa}, x -> x*x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({qb}, x -> x*x)) AS DOUBLE))))"
    )


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    doc="exact dedup: hash-groupBy, keeper = min doc_id",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import exact_dedup

    return exact_dedup(load_table(spark, "documents", sf_dir))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    -- mirror the engine's default max_docs_per_shingle=64 boilerplate cap:
    -- co-occurrence counts only shingles shared by <= 64 docs
    capped AS (SELECT shingle FROM shingles GROUP BY 1 HAVING COUNT(*) <= 64),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN capped c ON c.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.6
    """,
    doc="n-gram Jaccard near-dup: 3-word shingles, threshold 0.6",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.6
    )


@register(
    "dedup_minhash_signatures",
    f"""
    WITH {_SHINGLES_SQL}
    SELECT doc_id,
           MIN(substring(md5(shingle), 1, 8)) AS mh_0,
           MIN(substring(md5(shingle), 9, 8)) AS mh_1,
           MIN(substring(md5(shingle), 17, 8)) AS mh_2,
           MIN(substring(md5(shingle), 25, 8)) AS mh_3,
           MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
           MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
           MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
           MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
    FROM shingles GROUP BY doc_id
    """,
    doc="MinHash signatures: md5-hex lexicographic minima (engine-portable)",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import minhash_signatures, word_shingles

    docs = load_table(spark, "documents", sf_dir)
    return minhash_signatures(word_shingles(docs, "text", "doc_id", 3), 8)


# LSH candidate + Jaccard-verify chain, ending in CTE ``verified`` —
# shared by the pair query and the connected-components clustering query.
_LSH_VERIFIED_SQL = f"""
    {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS sig FROM sig
        UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
        UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
        UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
                                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT doc_a, doc_b, ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
    )
"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_LSH_VERIFIED_SQL}
    SELECT doc_a, doc_b, jaccard FROM verified
    """,
    doc="MinHash+LSH near-dup: 8 hashes, 4 bands, Jaccard-verified >= 0.5",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(
        load_table(spark, "documents", sf_dir), threshold=0.5
    )


def _lsh_sweep_banded(b: int, n_hashes: int = 8) -> str:
    r = n_hashes // b
    sep = " || '|' || "
    rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, "
        f"md5({sep.join(f'mh_{i * r + j}' for j in range(r))}) AS sig "
        "FROM lsw_sig"
        for i in range(b)
    )
    return f"lsw_banded_{b} AS ({rows})"


def _lsh_sweep_branch(b: int, n_hashes: int = 8) -> str:
    return f"""
    SELECT bands, rows_per_band, n_candidates, n_found, n_truth,
           CASE WHEN n_truth > 0
                THEN ROUND(CAST(n_found AS DOUBLE) / n_truth, 6)
           END AS recall
    FROM (SELECT CAST({b} AS INT) AS bands,
                 CAST({n_hashes // b} AS INT) AS rows_per_band,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lsw_cand_{b})
                     AS n_candidates,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lsw_truth t
                  JOIN lsw_cand_{b} c
                    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_found,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM lsw_truth) AS n_truth)
    """


@register(
    "dedup_lsh_band_sweep",
    f"""
    WITH {_SHINGLES_SQL},
    lsw_sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    lsw_capped AS (SELECT shingle FROM shingles GROUP BY 1 HAVING COUNT(*) <= 64),
    lsw_common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN lsw_capped c ON c.shingle = a.shingle
        GROUP BY 1, 2
    ),
    lsw_truth AS (
        SELECT doc_a, doc_b FROM lsw_common
        JOIN lsw_sizes sa ON sa.doc_id = doc_a
        JOIN lsw_sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
    ),
    lsw_sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    {", ".join(_lsh_sweep_banded(b) for b in (2, 4, 8))},
    {", ".join(
        f'''lsw_cand_{b} AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM lsw_banded_{b} a JOIN lsw_banded_{b} b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        GROUP BY 1, 2)''' for b in (2, 4, 8)
    )}
    {" UNION ALL ".join(_lsh_sweep_branch(b) for b in (2, 4, 8))}
    """,
    doc="LSH banding sweep: candidate volume + recall vs exact-Jaccard "
    "truth for (bands, rows) splits (2x4, 4x2, 8x1) of ONE 8-hash "
    "signature — the measured S-curve behind the banding knob; one "
    "cached shingle scan feeds truth and every branch's signatures",
)
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import lsh_band_sweep_audit

    return lsh_band_sweep_audit(
        load_table(spark, "documents", sf_dir),
        band_options=(2, 4, 8),
        threshold=0.5,
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_LSH_VERIFIED_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, m) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    )
    SELECT node AS doc_id, MIN(m) AS cluster_id,
           node = MIN(m) AS is_keeper
    FROM reach GROUP BY node
    """,
    doc="near-dup clustering: transitive closure over LSH-verified pairs "
    "via distributed min-label propagation; keeper = min id per component",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import connected_components, minhash_lsh_dedup

    pairs = minhash_lsh_dedup(load_table(spark, "documents", sf_dir), threshold=0.5)
    comp = connected_components(pairs)
    return comp.withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))


# Engine-portable hash bucket, SQL form (mirrors sampling.hash_bucket):
# first 8 md5 hex chars as a 32-bit int mod the bucket count.
def _bucket_sql(salt: str, key: str = "doc_id", buckets: int = 10_000) -> str:
    return (
        f"CAST(concat('0x', substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8))"
        f" AS BIGINT) % {buckets}"
    )


@register(
    "sample_split_assign",
    f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {_bucket_sql('split:')} AS bucket FROM documents)
    """,
    doc="deterministic train/val/test assignment: md5 hash bucket of the "
    "doc id — stable across reruns, engines, and partitionings",
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import hash_bucket, split_assign

    docs = load_table(spark, "documents", sf_dir)
    out = split_assign(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    return out.select(
        "doc_id", hash_bucket(F.col("doc_id"), salt="split:").alias("bucket"), "split"
    )


@register(
    "sample_stratified",
    f"""
    SELECT doc_id, lang
    FROM (SELECT doc_id, lang, {_bucket_sql('sample:')} AS b FROM documents)
    WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
    """,
    doc="deterministic stratified sample: per-stratum hash-bucket "
    "fractions (en 50%, de 25%, default 10%); supersets under growth",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import stratified_sample

    docs = load_table(spark, "documents", sf_dir)
    kept = stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.25}, "doc_id", default_fraction=0.1
    )
    return kept.select("doc_id", "lang")


@register(
    "corpus_deterministic_shuffle",
    """
    WITH dsk AS (
        SELECT doc_id,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS sort_key,
               CAST(concat('0x', substring(
                   md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) AS v
        FROM documents
    )
    SELECT doc_id, sort_key,
           CAST((v * 8) >> 32 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY (v * 8) >> 32
                                   ORDER BY sort_key, doc_id) AS BIGINT)
               AS pos,
           CAST(ROW_NUMBER() OVER (ORDER BY sort_key, doc_id) AS BIGINT)
               AS global_pos
    FROM dsk
    """,
    doc="reproducible global training-order shuffle: md5 sort key, "
    "range-sharded by its leading 32 bits, shard-local rank + prefix "
    "offsets — the oracle's single global ROW_NUMBER pins that "
    "shard rank + offset == one global sort, computed with one hash "
    "exchange and an n_shards-row offsets broadcast instead",
)
def corpus_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import deterministic_shuffle

    return deterministic_shuffle(
        load_table(spark, "documents", sf_dir), n_shards=8
    )


def _simhash_cte(bits: int) -> str:
    """SimHash signature CTE (ends in ``sigs(doc_id, simhash)``) for any
    signature width — shared by the signature query (16-bit) and the
    Hamming-pair query (32-bit). Generated, not handwritten: the per-bit
    vote columns are mechanical."""
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
    words AS (
        SELECT DISTINCT doc_id, w AS word
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
              FROM documents)
        WHERE length(w) > 0
    ),
    wh AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(word), 1, 8)) AS BIGINT) AS h
        FROM words
    ),
    votes AS (
        SELECT doc_id,
        {votes}
        FROM wh GROUP BY doc_id
    ),
    sigs AS (
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash
        FROM votes
    )
"""


@register(
    "dedup_simhash",
    f"WITH {_simhash_cte(16)} SELECT doc_id, simhash FROM sigs",
    doc="SimHash 16-bit signatures from md5 word hashes; oracle rebuilds "
    "the per-bit vote sums in SQL",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import simhash

    return simhash(load_table(spark, "documents", sf_dir))


def _simhash64_cte() -> str:
    """64-bit SimHash CTE as two 32-bit halves (ends in
    ``sigs64(doc_id, sim_lo, sim_hi)``), mirroring
    ``pipeline.dedup.simhash64``: per-word hashes are md5 hex slices
    [1,8] (lo) and [9,16] (hi)."""
    parts = []
    for pfx, lohi in (("u", "sim_lo"), ("w", "sim_hi")):
        votes = ",\n        ".join(
            f"SUM(CASE WHEN (h{pfx} // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END)"
            f" AS {pfx}{b}"
            for b in range(32)
        )
        sig = " + ".join(
            f"(CASE WHEN {pfx}{b} > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(32)
        )
        parts.append((votes, sig, pfx, lohi))
    return f"""
    words64 AS (
        SELECT DISTINCT doc_id, w AS word
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
              FROM documents)
        WHERE length(w) > 0
    ),
    wh64 AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(word), 1, 8)) AS BIGINT) AS hu,
               CAST(concat('0x', substring(md5(word), 9, 8)) AS BIGINT) AS hw
        FROM words64
    ),
    votes_lo AS (SELECT doc_id, {parts[0][0]} FROM wh64 GROUP BY doc_id),
    votes_hi AS (SELECT doc_id, {parts[1][0]} FROM wh64 GROUP BY doc_id),
    sigs64 AS (
        SELECT a.doc_id,
               CAST({parts[0][1]} AS BIGINT) AS sim_lo,
               CAST({parts[1][1]} AS BIGINT) AS sim_hi
        FROM votes_lo a JOIN votes_hi USING (doc_id)
    )
"""


@register(
    "dedup_simhash_hamming",
    f"""
    WITH {_simhash64_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim_lo, b.sim_lo))
                + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
    FROM sigs64 a JOIN sigs64 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim_lo, b.sim_lo))
          + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    """,
    doc="SimHash near-dup pairs (64-bit, two 32-bit halves): banded "
    "blocking self-join + exact Hamming<=3 verify; the all-pairs oracle "
    "proves the pigeonhole equivalence (4 bands of 16 bits, d=3)",
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same default-parameter pair list the leakage-safe split and the
    # maintenance chain consume — serve all three from one build
    return _simhash_banded_pairs(spark, sf_dir)


@register(
    "dedup_edit_distance",
    f"""
    WITH {_winnow_cte('ed')},
    ed_dfp AS (SELECT DISTINCT doc_id, fp FROM edfps),
    ed_cap AS (
        SELECT fp FROM ed_dfp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 64
    ),
    ed_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS n_shared
        FROM ed_dfp a JOIN ed_dfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM ed_cap)
        GROUP BY 1, 2 HAVING COUNT(DISTINCT a.fp) >= 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(d AS INT) AS edit_distance,
           ROUND(CAST(d AS DOUBLE) / glen, 6) AS edit_norm
    FROM (
        SELECT c.doc_a, c.doc_b, c.n_shared,
               levenshtein(da.text, db.text) AS d,
               GREATEST(length(da.text), length(db.text)) AS glen
        FROM ed_cand c
        JOIN documents da ON c.doc_a = da.doc_id
        JOIN documents db ON c.doc_b = db.doc_id
    ) WHERE d * 1000000 <= 300000 * glen
    """,
    doc="edit-distance-verified near-dup pairs: WINNOWING fingerprints "
    "propose (sequential blocking — a set-based signature floods the "
    "verify with token-reorder pairs: 166k candidates/47 survivors vs "
    "308/254 measured at sf0.1; min_shared=2 per MOSS convention), JVM Levenshtein computed once per "
    "candidate confirms under an integer-exact normalized cut "
    "(dist/max_len <= 0.3); texts ride only the id-keyed hydration "
    "joins, never the pair table",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import edit_distance_dups

    return edit_distance_dups(load_table(spark, "documents", sf_dir))


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT doc_a, doc_b, cosine FROM (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               ROUND({_qcos('a.embedding', 'b.embedding')}, 6) AS cosine
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
    ) WHERE cosine >= 0.45
    """,
    doc="embedding near-dup: all-pairs quantized cosine >= 0.45 (the synthetic embeddings are near-orthogonal, so the threshold sits where real pairs exist)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import embedding_cosine_dups

    return embedding_cosine_dups(
        load_table(spark, "embeddings", sf_dir), threshold=0.45
    )


@register(
    "dedup_embedding_ivf",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    )
    SELECT doc_a, doc_b, cosine FROM (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               ROUND({_qcos('a.embedding', 'b.embedding')}, 6) AS cosine
        FROM embeddings a
        JOIN assign sa ON sa.vec_id = a.vec_id
        JOIN assign sb ON sb.centroid_id = sa.centroid_id
                      AND sb.vec_id > sa.vec_id
        JOIN embeddings b ON b.vec_id = sb.vec_id
    ) WHERE cosine >= 0.45
    """,
    doc="embedding near-dup at scale: IVF-bucketed per-cluster exact GEMM "
    "(no driver collect, no global broadcast); cluster-local pairs only",
)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import embedding_dups_ivf

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return embedding_dups_ivf(emb, cents, threshold=0.45)


@register(
    "dedup_embedding_ivf_probe2",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    probes AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT pa.vec_id AS va, pb.vec_id AS vb
        FROM probes pa
        JOIN probes pb ON pb.centroid_id = pa.centroid_id
                      AND pb.vec_id > pa.vec_id
    )
    SELECT doc_a, doc_b, cosine FROM (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               ROUND({_qcos('a.embedding', 'b.embedding')}, 6) AS cosine
        FROM cand
        JOIN embeddings a ON a.vec_id = cand.va
        JOIN embeddings b ON b.vec_id = cand.vb
    ) WHERE cosine >= 0.45
    """,
    doc="embedding near-dup with the multi-probe recall knob: each vector "
    "filed into its 2 nearest clusters (pure-map ivf_multi_assign), "
    "per-cluster exact GEMM, pair-level dedup — recovers pairs split by a "
    "cluster boundary that single-probe IVF misses by contract",
)
def dedup_embedding_ivf_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import embedding_dups_ivf_probe

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return embedding_dups_ivf_probe(emb, cents, threshold=0.45, n_probe=2)


@register(
    "similarity_bruteforce_topk",
    f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND({_qcos('e.embedding', 'q.qv')}, 6) AS cosine
        FROM embeddings e CROSS JOIN queries q
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="ANN baseline: exact cosine top-5 for 3 query vectors",
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import brute_force_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "similarity_ivf_assign",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < 4
    ),
    scored AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND({_qcos('e.embedding', 'c.cv')}, 6) AS centroid_cosine
        FROM embeddings e CROSS JOIN cents c
    )
    SELECT vec_id, centroid_id, centroid_cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY centroid_cosine DESC, centroid_id ASC) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    doc="IVF scale path: nearest-centroid assignment (broadcast centroids)",
)
def similarity_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import ivf_assign

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return ivf_assign(emb, cents).select("vec_id", "centroid_id", "centroid_cosine")


@register(
    "pipeline_curation_summary",
    f"""
    WITH feats AS (
        SELECT doc_id, lang, text,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> length(w) > 0)) AS n_tokens,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> w IN ('the','and','of','to','in','is','a'))) AS n_stop
        FROM documents
    ),
    kept AS (
        SELECT * FROM feats
        WHERE n_tokens >= 5 AND (CAST(n_stop AS DOUBLE) / n_tokens) <= 0.6
    ),
    keepers AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM kept
    ),
    assigned AS (
        SELECT doc_id, lang, n_tokens,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {_bucket_sql('split:')} AS b FROM keepers WHERE doc_id = keeper)
    )
    SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY 1, 2
    """,
    doc="end-to-end curation: quality gate -> exact-dedup keepers -> "
    "deterministic split -> per-(split, lang) corpus summary",
)
def pipeline_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import curate_corpus, curation_summary

    curated = curate_corpus(load_table(spark, "documents", sf_dir))
    return curation_summary(curated)


@register(
    "similarity_hyperplane_sig",
    f"""
    WITH w AS (
        SELECT p,
               list(CASE WHEN CAST(concat('0x', substring(
                        md5(concat(CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))),
                        1, 2)) AS INT) % 2 = 0 THEN 1 ELSE -1 END ORDER BY d) AS wv
        FROM generate_series(0, 15) t1(p), generate_series(0, 63) t2(d)
        GROUP BY p
    ),
    q AS (SELECT vec_id, {_Q.format(v='embedding')} AS qv FROM embeddings),
    bits AS (
        SELECT vec_id, p,
               CASE WHEN list_sum(list_transform(list_zip(qv, wv), pr -> pr[1]*pr[2])) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM q CROSS JOIN w
    )
    SELECT vec_id,
           CAST(SUM(bit * CAST(round(pow(2, p)) AS BIGINT)) AS BIGINT) AS hp_sig
    FROM bits GROUP BY vec_id
    """,
    doc="ANN scale path #2: sign-random-projection signatures from "
    "md5-derived ±1 hyperplanes (exact integer dots; band + self-join "
    "for candidates without an all-pairs scan)",
)
def similarity_hyperplane_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import hyperplane_signatures

    return hyperplane_signatures(
        load_table(spark, "embeddings", sf_dir), dim=64, planes=16
    )


@register(
    "similarity_hyperplane_topk",
    f"""
    WITH w AS (
        SELECT p,
               list(CASE WHEN CAST(concat('0x', substring(
                        md5(concat(CAST(p AS VARCHAR), ':', CAST(d AS VARCHAR))),
                        1, 2)) AS INT) % 2 = 0 THEN 1 ELSE -1 END ORDER BY d) AS wv
        FROM generate_series(0, 15) t1(p), generate_series(0, 63) t2(d)
        GROUP BY p
    ),
    q AS (SELECT vec_id, {_Q.format(v='embedding')} AS qv FROM embeddings),
    bits AS (
        SELECT vec_id, p,
               CASE WHEN list_sum(list_transform(list_zip(qv, wv), pr -> pr[1]*pr[2])) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM q CROSS JOIN w
    ),
    sigs AS (
        SELECT vec_id,
               CAST(SUM(bit * CAST(round(pow(2, p)) AS BIGINT)) AS BIGINT) AS hp_sig
        FROM bits GROUP BY vec_id
    ),
    banded AS (
        SELECT vec_id, b.b AS band, (hp_sig >> (b.b * 4)) & 15 AS bsig
        FROM sigs CROSS JOIN generate_series(0, 3) b(b)
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
        FROM banded qb JOIN banded cb ON qb.band = cb.band AND qb.bsig = cb.bsig
        WHERE qb.vec_id < 3
    ),
    scored AS (
        SELECT c.query_id, c.vec_id,
               ROUND({_qcos('e.embedding', 'qe.embedding')}, 6) AS cosine
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings qe ON qe.vec_id = c.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="ANN scale path #2 end-to-end: hyperplane-LSH banded candidates "
    "against broadcast queries, exact quantized-cosine verify, top-5 "
    "(corpus never shuffled)",
)
def similarity_hyperplane_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import hyperplane_topk

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hyperplane_topk(emb, queries, dim=64, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           CAST(len(string_split({_NORM_SQL}, ' ')) AS INT) AS n_tokens,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) + 1 AS INT) AS n_ws_tokens
    FROM documents
    """,
    doc="token counting: normalized whitespace tokens + raw whitespace runs",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        (
            F.length(F.regexp_replace(F.col("text"), "[^ ]", "")) + 1
        ).alias("n_ws_tokens"),
    )


@register(
    "text_quality_features",
    f"""
    WITH t AS (
        SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT doc_id, CAST(n_chars AS INT) AS n_chars, CAST(len(toks) AS INT) AS n_tokens,
           ROUND(CASE WHEN len(toks) > 0
                 THEN length(list_aggregate(toks, 'string_agg', '')) / len(toks)
                 ELSE 0 END, 6) AS mean_token_len,
           ROUND((n_chars - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')))
                 / n_chars, 6) AS punct_ratio,
           ROUND(len(list_filter(toks, w -> w IN ('the','and','of','to','in','is','a')))
                 / len(toks), 6) AS stopword_ratio,
           text = upper(text) AS all_caps
    FROM t
    """,
    doc="quality scoring: length/punct/stopword features per doc",
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import quality_features

    return quality_features(load_table(spark, "documents", sf_dir))


@register(
    "text_lang_id",
    """
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct(string_split(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS toks
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
          len(list_filter(toks, w -> w IN ('the','and','of','to','in','is','a'))) AS h_en,
          len(list_filter(toks, w -> w IN ('der','die','das','und','nicht','ist'))) AS h_de,
          len(list_filter(toks, w -> w IN ('el','la','de','que','los','una'))) AS h_es,
          len(list_filter(toks, w -> w IN ('le','la','les','des','est','une'))) AS h_fr
        FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN GREATEST(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de > h_en AND h_de > h_es AND h_de > h_fr THEN 'de'
                WHEN h_es > h_en AND h_es > h_fr AND h_es >= h_de THEN 'es'
                WHEN h_fr > h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
                ELSE 'en' END AS detected_lang
    FROM hits
    """,
    doc="language-ID heuristic: marker-token votes, alphabetical tie-break",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.parallel import ensure_parallelism
    from irstats2_spark.pipeline.textstats import lang_id_from_tokens, tokens

    docs = ensure_parallelism(load_table(spark, "documents", sf_dir))
    docs = docs.withColumn("__toks", F.array_distinct(tokens(F.col("text"))))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id_from_tokens(F.col("__toks")).alias("detected_lang"),
    )


@register(
    "text_lang_confusion_audit",
    """
    WITH lct AS (
        SELECT doc_id, lang,
               list_distinct(string_split(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS toks
        FROM documents
    ),
    lch AS (
        SELECT doc_id, lang,
          len(list_filter(toks, w -> w IN ('the','and','of','to','in','is','a'))) AS h_en,
          len(list_filter(toks, w -> w IN ('der','die','das','und','nicht','ist'))) AS h_de,
          len(list_filter(toks, w -> w IN ('el','la','de','que','los','una'))) AS h_es,
          len(list_filter(toks, w -> w IN ('le','la','les','des','est','une'))) AS h_fr
        FROM lct
    ),
    lcd AS (
        SELECT lang AS labeled_lang,
               CASE WHEN GREATEST(h_en, h_de, h_es, h_fr) = 0 THEN 'und'
                    WHEN h_de > h_en AND h_de > h_es AND h_de > h_fr THEN 'de'
                    WHEN h_es > h_en AND h_es > h_fr AND h_es >= h_de THEN 'es'
                    WHEN h_fr > h_en AND h_fr >= h_de AND h_fr >= h_es THEN 'fr'
                    ELSE 'en' END AS detected_lang
        FROM lch
    ),
    lcc AS (
        SELECT labeled_lang, detected_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM lcd GROUP BY 1, 2
    )
    SELECT labeled_lang, detected_lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) /
                 SUM(n_docs) OVER (PARTITION BY labeled_lang), 6)
               AS label_share,
           labeled_lang = detected_lang AS is_correct
    FROM lcc
    """,
    doc="language-ID confusion matrix vs the labeled language: per "
    "(labeled, detected) cell counts and within-label share (diagonal "
    "= per-language recall) — the accuracy audit that must exist "
    "before a classifier's output becomes a filter key; |langs|^2 "
    "rollup, nothing corpus-sized shuffles",
)
def text_lang_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import lang_confusion_audit

    return lang_confusion_audit(load_table(spark, "documents", sf_dir))


@register(
    "text_token_entropy",
    f"""
    WITH te AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS toks
        FROM documents
    ),
    tec AS (
        SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS n_types,
               CASE WHEN len(toks) > 0 THEN
                   list_sum(list_transform(list_distinct(toks), t ->
                       len(list_filter(toks, x -> x = t))
                       * CAST(FLOOR(1e6 * ln(len(list_filter(toks, x -> x = t)))
                              + 0.5) AS BIGINT)))
               ELSE 0 END AS s
        FROM te
    )
    SELECT doc_id, CAST(n AS INT) AS n_tokens, CAST(n_types AS INT) AS n_types,
           CAST(s AS BIGINT) AS sum_c_lnc_micro,
           CASE WHEN n > 0 THEN ROUND(
               (CAST(FLOOR(1e6 * ln(n) + 0.5) AS BIGINT) * n - s)
               / (CAST(n AS DOUBLE) * 1e6), 6)
           ELSE 0.0 END AS entropy
    FROM tec
    """,
    doc="per-doc token Shannon entropy (integer micro-nat quantization, "
    "one double division at the end): the diversity signal next to the "
    "ratio features — catches shuffled repetition that exact n-gram "
    "repeat scores miss; zero-shuffle per-row array expressions",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import token_entropy

    return token_entropy(load_table(spark, "documents", sf_dir))


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(list_aggregate(list_sort(list_distinct(
               string_split({_NORM_SQL}, ' '))), 'string_agg', ' ')) AS fp
    FROM documents
    """,
    doc="document fingerprint: md5 of sorted distinct tokens",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "multimodal_decode_stub",
    """
    WITH media AS (
        SELECT doc_id AS media_id,
               (CASE doc_id % 4
                  WHEN 0 THEN unhex('89504E470D0A1A0A')
                  WHEN 1 THEN unhex('FFD8FFE000104A46')
                  WHEN 2 THEN unhex('4749463839616161')
                  ELSE unhex('') END) || encode(text) AS content
        FROM documents
    )
    SELECT media_id,
           CASE WHEN substr(hex(content), 1, 16) = '89504E470D0A1A0A' THEN 'png'
                WHEN substr(hex(content), 1, 6)  = 'FFD8FF'   THEN 'jpeg'
                WHEN substr(hex(content), 1, 8)  = '47494638' THEN 'gif'
                WHEN substr(hex(content), 1, 8)  = '52494646' THEN 'riff'
                WHEN substr(hex(content), 1, 8)  = '25504446' THEN 'pdf'
                ELSE 'unknown' END AS format,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           CAST((octet_length(content) * 7) % 1024 + 1 AS INT) AS width,
           CAST((octet_length(content) * 13) % 1024 + 1 AS INT) AS height,
           CAST(GREATEST(CEIL(octet_length(content) / 1024.0), 1) AS BIGINT)
               AS n_frames
    FROM media
    """,
    doc="multimodal plumbing, value-oracled end to end: composite binary "
    "payloads with REAL magic bytes -> JVM-side format sniff (hex prefix) "
    "+ Arrow-batched stub decode (n_bytes and derived dims over the "
    "COMPOSITE payload) + byte-exact frame chunk counts from the explode "
    "sampler — computed properties, not stub-vs-stub equality",
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.multimodal import (
        decode_image_stub,
        frame_sample,
        media_with_magic,
        sniff_media_format,
    )

    media = media_with_magic(load_table(spark, "documents", sf_dir))
    # mean_intensity depends on byte content (decoder-internal detail);
    # everything else is a verifiable byte-plumbing property
    feats = decode_image_stub(media).select("media_id", "n_bytes", "width", "height")
    fmt = media.select(
        "media_id", sniff_media_format(F.col("content")).alias("format")
    )
    frames = frame_sample(media, every_n_bytes=1024).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames")
    )
    return (
        feats.join(fmt, "media_id")
        .join(frames, "media_id")
        .select("media_id", "format", "n_bytes", "width", "height", "n_frames")
    )


@register(
    "multimodal_dims",
    """
    SELECT doc_id AS media_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                WHEN 2 THEN 'gif' ELSE 'unknown' END AS format,
           CASE WHEN doc_id % 4 <= 2
                THEN CAST(doc_id % 640 + 1 AS INT) END AS width,
           CASE WHEN doc_id % 4 <= 2
                THEN CAST((doc_id * 3) % 480 + 1 AS INT) END AS height,
           CASE doc_id % 4
                WHEN 0 THEN CAST(CASE (doc_id // 4) % 4
                                 WHEN 0 THEN 1 WHEN 1 THEN 3
                                 WHEN 2 THEN 2 ELSE 4 END AS INT)
                WHEN 1 THEN CAST(CASE WHEN (doc_id // 4) % 2 = 0
                                 THEN 1 ELSE 3 END AS INT)
                WHEN 2 THEN CAST(3 AS INT)
           END AS channels
    FROM documents
    """,
    doc="REAL header-level image decode (r10 verdict #3): byte-valid "
    "PNG IHDR / JPEG SOF0 / GIF89a headers synthesized JVM-side with "
    "dims+channels derived from doc_id, then PARSED back from the bytes "
    "by the Arrow-batched mapInPandas decoder (big-endian u32 IHDR dims, "
    "JPEG marker walk to SOFn, little-endian GIF screen descriptor) — "
    "the oracle recomputes the expected properties arithmetically, so "
    "parse(synthesize(doc)) is value-verified, not stub-vs-stub",
)
def multimodal_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.multimodal import (
        media_with_real_headers,
        parse_image_dims,
    )

    media = media_with_real_headers(load_table(spark, "documents", sf_dir))
    return parse_image_dims(media)


@register(
    "pipeline_multimodal_e2e",
    """
    WITH media AS (
        SELECT doc_id AS media_id,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    WHEN 2 THEN 'gif' ELSE 'unknown' END AS format,
               CASE WHEN doc_id % 4 <= 2
                    THEN CAST(doc_id % 640 + 1 AS INT) END AS width,
               CASE WHEN doc_id % 4 <= 2
                    THEN CAST((doc_id * 3) % 480 + 1 AS INT) END AS height,
               (CASE doc_id % 4
                    WHEN 0 THEN 33
                    WHEN 1 THEN CASE WHEN (doc_id // 4) % 2 = 0
                                THEN 33 ELSE 39 END
                    WHEN 2 THEN 13
                    ELSE 0 END)
               + octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    gated AS (
        SELECT *, CAST(GREATEST(CEIL(n_bytes / 1024.0), 1) AS BIGINT)
                      AS n_frames
        FROM media WHERE width >= 100
    )
    SELECT format,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           ROUND(AVG(CAST(width AS DOUBLE)), 6) AS avg_width,
           ROUND(AVG(CAST(height AS DOUBLE)), 6) AS avg_height,
           CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
           CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes
    FROM gated GROUP BY format ORDER BY format
    """,
    doc="multimodal e2e composition (synthesize byte-valid headers -> "
    "Arrow header decode -> width>=100 quality gate -> frame-chunk + "
    "byte accounting -> per-format stats): every stage's output is an "
    "arithmetic function of doc_id and the documented header byte "
    "layouts (PNG 33 B, JPEG 33/39 B by component count, GIF 13 B), so "
    "the oracle replays the whole chain without touching bytes. Scale "
    "shape: ONE map pass — n_bytes rides through the decode via "
    "passthrough and the frame count is the chunk-count law "
    "ceil(n_bytes/1024) (the law itself is value-verified against the "
    "real explode sampler by multimodal_decode_stub's oracle), so the "
    "only exchange is the final |formats|-row aggregate, not three "
    "corpus-wide media_id joins",
)
def pipeline_multimodal_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.multimodal import (
        media_with_real_headers,
        parse_image_dims,
    )

    media = media_with_real_headers(
        load_table(spark, "documents", sf_dir)
    ).withColumn("n_bytes", F.length("content").cast("long"))
    dims = parse_image_dims(media, passthrough=("n_bytes",))
    gated = dims.filter(F.col("width") >= 100).withColumn(
        "n_frames",
        F.greatest(F.ceil(F.col("n_bytes") / 1024.0), F.lit(1)).cast("long"),
    )
    return (
        gated.groupBy("format")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.round(F.avg(F.col("width").cast("double")), 6).alias("avg_width"),
            F.round(F.avg(F.col("height").cast("double")), 6).alias(
                "avg_height"
            ),
            F.sum("n_frames").cast("long").alias("sum_frames"),
            F.sum("n_bytes").cast("long").alias("sum_bytes"),
        )
        .orderBy("format")
    )


@register(
    "similarity_ivf_topk",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 3
    ),
    qassign AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('q.qv', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM queries q CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT qa.query_id, e.vec_id,
               ROUND({_qcos('e.embedding', 'q.qv')}, 6) AS cosine
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN qassign qa ON a.centroid_id = qa.centroid_id
        JOIN queries q ON q.query_id = qa.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="IVF ANN scale path: corpus + queries assigned to broadcast "
    "centroids, top-5 restricted to the query's cluster",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import ivf_assign, ivf_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qassigned = ivf_assign(
        queries, cents, id_col="query_id", vec_col="query_vec"
    )
    return ivf_topk(assigned, qassigned, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "similarity_ivf_probe2_topk",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 3
    ),
    qprobe AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('q.qv', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM queries q CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT qa.query_id, e.vec_id,
               ROUND({_qcos('e.embedding', 'q.qv')}, 6) AS cosine
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN qprobe qa ON a.centroid_id = qa.centroid_id
        JOIN queries q ON q.query_id = qa.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="multi-probe IVF ANN: each query probes its 2 nearest clusters — "
    "the recall knob over single-probe IVF (candidates still "
    "cluster-restricted; corpus never shuffled)",
)
def similarity_ivf_probe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import (
        ivf_assign,
        ivf_probe_assign,
        ivf_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    probes = ivf_probe_assign(queries, cents, n_probe=2)
    return ivf_topk(assigned, probes, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "text_pii_scrub",
    """
    WITH src AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org or call 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               AS full_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(full_text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(full_text,
               '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(full_text,
               '\\d{3}[-. ]\\d{4}')) AS INT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(full_text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
               '\\d{3}[-. ]\\d{4}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM src
    """,
    doc="PII scrub: synthetic email/phone/IP injected per doc, redaction "
    "+ per-kind counts verified byte-exact via md5 of the scrubbed text",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import pii_counts, pii_scrub

    docs = load_table(spark, "documents", sf_dir)
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    docs = docs.withColumn("__full", full)
    counts = pii_counts(F.col("__full"))
    return docs.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phones"),
        F.md5(pii_scrub(F.col("__full"))).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# k-means fit (pipeline/similarity.kmeans_fit): deterministic Lloyd's over
# quantized vectors. The oracle replays both rounds — assign = the ivf
# argmax SQL, update = exact integer per-dimension sums with the identical
# division sequence (sum -> /count -> /scale), so centroids match to the
# 6dp round.
# ---------------------------------------------------------------------------
def _kmeans_cte(k: int = 4, iters: int = 2) -> str:
    """CTE chain q, c0, a0, u0, ..., c{iters} — shared by the fit query
    and the end-to-end fit->assign->probe->search query."""
    parts = [
        f"q AS (SELECT vec_id, {_Q.format(v='embedding')} AS qv FROM embeddings),",
        f"""c0 AS (
            SELECT vec_id AS centroid_id,
                   list_transform(qv, x -> CAST(x AS DOUBLE) / 1000) AS cv
            FROM q ORDER BY vec_id LIMIT {k}
        )""",
    ]
    for i in range(iters):
        cur, nxt = f"c{i}", f"c{i + 1}"
        score = _qcos("q.qv", "c.cv")
        parts.append(f""",
        a{i} AS (
            SELECT vec_id, centroid_id FROM (
                SELECT q.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY ROUND({score}, 6) DESC,
                                    c.centroid_id ASC) AS rn
                FROM q CROSS JOIN {cur} c
            ) WHERE rn = 1
        ),
        u{i} AS (
            SELECT centroid_id, i - 1 AS dim,
                   CAST(SUM(qv[i]) AS DOUBLE) / COUNT(*) / 1000 AS value
            FROM (SELECT a.centroid_id, q.qv, generate_subscripts(q.qv, 1) AS i
                  FROM a{i} a JOIN q ON a.vec_id = q.vec_id) t
            GROUP BY 1, 2
        ),
        {nxt} AS (
            SELECT c.centroid_id, COALESCE(u.cv, c.cv) AS cv
            FROM {cur} c LEFT JOIN (
                SELECT centroid_id, list(value ORDER BY dim) AS cv
                FROM u{i} GROUP BY 1
            ) u USING (centroid_id)
        )""")
    return "\n".join(parts)


def _kmeans_oracle_sql(k: int = 4, iters: int = 2) -> str:
    return f"""
    WITH {_kmeans_cte(k, iters)}
    SELECT centroid_id, CAST(i - 1 AS INT) AS dim, ROUND(cv[i], 6) AS value
    FROM (SELECT centroid_id, cv, generate_subscripts(cv, 1) AS i FROM c{iters}) t
    """


@register(
    "similarity_kmeans_fit",
    _kmeans_oracle_sql(k=4, iters=2),
    doc="k-means centroid training (deterministic Lloyd's, quantized-exact "
    "update sums) — the fit step ahead of ivf_assign / ivf_topk",
)
def similarity_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import kmeans_fit

    return kmeans_fit(load_table(spark, "embeddings", sf_dir), k=4, max_iter=2)


@register(
    "dedup_exact_incremental",
    """
    WITH old_hashes AS (
        SELECT DISTINCT md5(text) AS text_hash FROM documents WHERE doc_id < 250
    ),
    batch AS (
        SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_docs
        FROM documents WHERE doc_id >= 250 GROUP BY 1
    )
    SELECT b.text_hash, b.keeper_id, b.n_docs
    FROM batch b LEFT JOIN old_hashes o ON b.text_hash = o.text_hash
    WHERE o.text_hash IS NULL
    """,
    doc="incremental exact dedup: new batch anti-joined against the "
    "accumulated hash snapshot — the historical corpus is never rescanned",
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import exact_dedup, exact_dedup_incremental

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    seen = exact_dedup(old).select("text_hash")
    return exact_dedup_incremental(new, seen)


# Incremental LSH oracle: the sig CTE over the whole table, split into
# snapshot (doc_id < 250) and batch (>= 250); band join + matching-slot
# Jaccard estimator.
_INC_SIGS = f"""
    {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS sig FROM sig
        UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
        UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
        UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig
    )
"""


@register(
    "dedup_minhash_incremental",
    f"""
    WITH {_INC_SIGS},
    cand AS (
        SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
        FROM banded o JOIN banded n ON o.band = n.band AND o.sig = n.sig
        WHERE o.doc_id < 250 AND n.doc_id >= 250
    )
    SELECT c.old_id, c.new_id,
           ROUND(((CASE WHEN so.mh_0 = sn.mh_0 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_1 = sn.mh_1 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_2 = sn.mh_2 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_3 = sn.mh_3 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_4 = sn.mh_4 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_5 = sn.mh_5 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_6 = sn.mh_6 THEN 1 ELSE 0 END)
                + (CASE WHEN so.mh_7 = sn.mh_7 THEN 1 ELSE 0 END)) / 8.0, 6)
           AS est_jaccard
    FROM cand c
    JOIN sig so ON so.doc_id = c.old_id
    JOIN sig sn ON sn.doc_id = c.new_id
    WHERE ((CASE WHEN so.mh_0 = sn.mh_0 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_1 = sn.mh_1 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_2 = sn.mh_2 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_3 = sn.mh_3 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_4 = sn.mh_4 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_5 = sn.mh_5 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_6 = sn.mh_6 THEN 1 ELSE 0 END)
         + (CASE WHEN so.mh_7 = sn.mh_7 THEN 1 ELSE 0 END)) / 8.0 >= 0.5
    """,
    doc="incremental MinHash-LSH: new batch banded against the signature "
    "snapshot, matching-slot Jaccard estimator — historical text never "
    "re-read",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    old_sigs = minhash_signatures(word_shingles(old, "text", "doc_id", 3), 8)
    return minhash_lsh_incremental(new, old_sigs, threshold=0.5)


@register(
    "sample_weighted",
    f"""
    SELECT doc_id, lang, ROUND(w, 6) AS weight FROM (
        SELECT doc_id, lang,
               LEAST(1.0, len(list_filter(string_split({_NORM_SQL}, ' '),
                                          x -> length(x) > 0)) / 100.0) AS w,
               {_bucket_sql('wsample:')} AS b
        FROM documents
    ) WHERE b < w * 10000
    """,
    doc="weighted sampling: per-row keep-probability = quality-ish weight "
    "(token count capped at 100 tokens -> weight 1.0); deterministic, "
    "monotone in the weight",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import weighted_sample
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    w = F.least(F.lit(1.0), token_count(F.col("text")) / F.lit(100.0))
    docs = docs.withColumn("__w", w)
    kept = weighted_sample(docs, F.col("__w"), "doc_id")
    return kept.select("doc_id", "lang", F.round("__w", 6).alias("weight"))


# Near-dup-aware curation: the exact-curation CTEs, then the (verified)
# LSH chain re-pointed at the curated survivors, the recursive component
# closure from dedup_clusters, and the final keeper-only summary.
_CURATED_CTE = f"""
    feats AS (
        SELECT doc_id, lang, text,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> length(w) > 0)) AS n_tokens,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> w IN ('the','and','of','to','in','is','a'))) AS n_stop
        FROM documents
    ),
    kept AS (
        SELECT * FROM feats
        WHERE n_tokens >= 5 AND (CAST(n_stop AS DOUBLE) / n_tokens) <= 0.6
    ),
    keepers AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM kept
    ),
    curated AS (
        SELECT doc_id, lang, text, n_tokens,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {_bucket_sql('split:')} AS b
              FROM keepers WHERE doc_id = keeper)
    )
"""


@register(
    "pipeline_curation_neardup",
    f"""
    WITH RECURSIVE {_CURATED_CTE},
    {_LSH_VERIFIED_SQL.replace("FROM documents", "FROM curated").lstrip()},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, m) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    drops AS (
        SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> MIN(m)
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM curated c LEFT JOIN drops d USING (doc_id)
    WHERE d.doc_id IS NULL
    GROUP BY 1, 2
    """,
    doc="near-dup-aware curation end-to-end: quality gate -> exact "
    "keepers -> split -> LSH cluster keepers -> corpus summary",
)
def pipeline_curation_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import curate_corpus_neardup, curation_summary

    curated = curate_corpus_neardup(load_table(spark, "documents", sf_dir))
    return curation_summary(curated)


@register(
    "similarity_kmeans_ivf_topk",
    f"""
    WITH {{kmeans_cte}},
    cents AS (
        -- round-2 centroids as centroids_as_vectors emits them: values
        -- rounded to 6dp BEFORE the search-side re-quantization
        SELECT centroid_id, list_transform(cv, x -> ROUND(x, 6)) AS cv FROM c2
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    queries AS (
        SELECT vec_id AS query_id, embedding AS qv2
        FROM embeddings WHERE vec_id < 3
    ),
    qprobe AS (
        SELECT query_id, centroid_id FROM (
            SELECT q2.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q2.query_id
                       ORDER BY ROUND({_qcos('q2.qv2', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM queries q2 CROSS JOIN cents c
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT qa.query_id, e.vec_id,
               ROUND({_qcos('e.embedding', 'q2.qv2')}, 6) AS cosine
        FROM embeddings e
        JOIN assign a ON e.vec_id = a.vec_id
        JOIN qprobe qa ON a.centroid_id = qa.centroid_id
        JOIN queries q2 ON q2.query_id = qa.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """.format(kmeans_cte="__KMEANS_CTE__"),
    doc="the complete ANN story in one chain: k-means fit (2 rounds) -> "
    "corpus assignment -> 2-probe query routing -> exact top-5 on the "
    "probed clusters",
)
def similarity_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import (
        centroids_as_vectors,
        ivf_assign,
        ivf_probe_assign,
        ivf_topk,
        kmeans_fit,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = centroids_as_vectors(kmeans_fit(emb, k=4, max_iter=2))
    assigned = ivf_assign(emb, cents)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    probes = ivf_probe_assign(queries, cents, n_probe=2)
    return ivf_topk(assigned, probes, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "meta_json_extract",
    """
    WITH side AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 9 THEN '{"broken":'
                    ELSE printf(
                        '{"source":{"site":"s%d","rank":%d},'
                        '"tags":["t%d","common"],"quality":{"score":%d.5}}',
                        doc_id % 5, doc_id % 100, doc_id % 3, doc_id % 7)
               END AS sidecar
        FROM documents
    ),
    flat AS (
        SELECT doc_id,
               CASE WHEN json_valid(sidecar)
                    THEN json_extract_string(sidecar, '$.source.site') END AS site,
               CASE WHEN json_valid(sidecar)
                    THEN CAST(json_extract(sidecar, '$.source.rank') AS INT) END AS rank,
               CASE WHEN json_valid(sidecar)
                    THEN CAST(json_extract(sidecar, '$.quality.score') AS DOUBLE) END AS score,
               CASE WHEN json_valid(sidecar)
                    THEN json_extract_string(sidecar, '$.tags[0]') END AS tag0
        FROM side
    )
    SELECT COALESCE(site, 'invalid') AS site,
           COUNT(*) AS n_docs,
           CAST(COALESCE(SUM(rank), 0) AS BIGINT) AS sum_rank,
           COALESCE(ROUND(AVG(score), 6), -1.0) AS avg_score,
           COALESCE(MAX(tag0), 'none') AS top_tag
    FROM flat GROUP BY 1
    """,
    doc="VARIANT/JSON sidecar ingestion (sources/jsonmeta.py): heterogeneous "
    "per-doc JSON metadata parsed once into VARIANT (try_parse_json — the "
    "deliberately-malformed 10% become NULL variants, not failed jobs), "
    "typed fields pulled with try_variant_get paths (nested object, array "
    "element), rolled up per site. Pure per-row expressions fused into the "
    "scan; the only shuffle is the final aggregation.",
)
def meta_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.sources.jsonmeta import extract_meta_fields, with_variant_meta

    docs = load_table(spark, "documents", sf_dir)
    sidecar = F.when(docs.doc_id % 10 == 9, F.lit('{"broken":')).otherwise(
        F.format_string(
            '{"source":{"site":"s%d","rank":%d},'
            '"tags":["t%d","common"],"quality":{"score":%d.5}}',
            docs.doc_id % 5,
            docs.doc_id % 100,
            docs.doc_id % 3,
            docs.doc_id % 7,
        )
    )
    parsed = with_variant_meta(docs.withColumn("sidecar", sidecar), "sidecar")
    flat = extract_meta_fields(
        parsed,
        {
            "site": ("$.source.site", "string"),
            "rank": ("$.source.rank", "int"),
            "score": ("$.quality.score", "double"),
            "tag0": ("$.tags[0]", "string"),
        },
        keep=["doc_id"],
    )
    return flat.groupBy(
        F.coalesce(F.col("site"), F.lit("invalid")).alias("site")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("rank"), F.lit(0)).cast("bigint").alias("sum_rank"),
        F.coalesce(F.round(F.avg("score"), 6), F.lit(-1.0)).alias("avg_score"),
        F.coalesce(F.max("tag0"), F.lit("none")).alias("top_tag"),
    )


@register(
    "text_decontamination",
    f"""
    WITH {_SHINGLES_SQL},
    bench AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id < 10
    ),
    scored AS (
        SELECT d.doc_id,
               COUNT(s.shingle) AS n_sh,
               SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM documents d
        LEFT JOIN shingles s ON d.doc_id = s.doc_id
        LEFT JOIN bench b ON s.shingle = b.shingle
        GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_contaminated,
           CASE WHEN n_sh = 0 THEN 0.0
                ELSE ROUND(n_hit * 1.0 / n_sh, 6) END AS contamination_frac
    FROM scored
    """,
    doc="benchmark decontamination (pipeline/contamination.py): per-doc "
    "fraction of distinct 3-gram shingles found in an eval/benchmark set "
    "(docs 0-9 stand in for it) — broadcast probe of the tiny benchmark "
    "shingle set, corpus never shuffled with text; the eval-leak detector "
    "every training pipeline runs before a corpus ships",
)
def text_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.contamination import contamination_scores

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") < 10)
    return contamination_scores(docs, bench, k=3)


@register(
    "pack_training_sequences",
    f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(string_split({_NORM_SQL}, ' ')) AS INT) AS n_tokens,
               md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY ord, doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens) / 2048.0)
                AS BIGINT) AS seq_id
    FROM sized
    """,
    doc="deterministic shuffle + greedy packing into 2048-token training "
    "sequences (pipeline/sampling.pack_sequences): order = md5(salt||id), "
    "seq = floor(preceding-mass / budget); computed as a two-phase prefix "
    "sum (bucketed local cumsum + tiny offset table), never a one-task "
    "global window — the oracle's single window is the same function at "
    "gate scale (budget is a power of two, so the division is float-exact)",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import pack_sequences
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(
        sized, F.col("n_tokens"), "doc_id", budget=2048
    ).select("doc_id", "n_tokens", "seq_id")


@register(
    "pack_sequences_offsets",
    f"""
    WITH posized AS (
        SELECT doc_id,
               CAST(len(string_split({_NORM_SQL}, ' ')) AS INT) AS n_tokens,
               md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents
    ),
    postart AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY ord, doc_id
                   ROWS UNBOUNDED PRECEDING) - n_tokens AS st
        FROM posized
    )
    SELECT doc_id, n_tokens,
           CAST(FLOOR(st / 2048.0) AS BIGINT) AS seq_id,
           CAST(st - CAST(FLOOR(st / 2048.0) AS BIGINT) * 2048 AS BIGINT)
               AS offset,
           (st - CAST(FLOOR(st / 2048.0) AS BIGINT) * 2048 + n_tokens > 2048)
               AS crosses_boundary
    FROM postart
    """,
    doc="packing with position metadata: each doc's within-sequence "
    "token offset (global start mod budget — pure arithmetic on the "
    "already-computed prefix sums, zero extra shuffle) plus a "
    "straddles-the-boundary flag — what a trainer needs to restart "
    "position ids and cut attention at doc boundaries without "
    "re-tokenizing the packed stream",
)
def pack_sequences_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import pack_sequences
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    out = pack_sequences(
        sized, F.col("n_tokens"), "doc_id", budget=2048, offset_col="offset"
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "seq_id",
        "offset",
        (F.col("offset") + F.col("n_tokens") > 2048).alias("crosses_boundary"),
    )


@register(
    "text_repetition_score",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words FROM documents
    ),
    g2 AS (
        SELECT doc_id, COUNT(*) AS t2, COUNT(DISTINCT words[i] || ' ' || words[i+1]) AS d2
        FROM (SELECT doc_id, words, generate_subscripts(words, 1) AS i FROM toks) t
        WHERE i + 1 <= len(words) GROUP BY 1
    ),
    g3 AS (
        SELECT doc_id, COUNT(*) AS t3,
               COUNT(DISTINCT words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS d3
        FROM (SELECT doc_id, words, generate_subscripts(words, 1) AS i FROM toks) t
        WHERE i + 2 <= len(words) GROUP BY 1
    )
    SELECT k.doc_id,
           CAST(len(k.words) AS INT) AS n_tokens,
           COALESCE(ROUND((g2.t2 - g2.d2) * 1.0 / g2.t2, 6), 0.0) AS dup_bigram_frac,
           COALESCE(ROUND((g3.t3 - g3.d3) * 1.0 / g3.t3, 6), 0.0) AS dup_trigram_frac
    FROM toks k
    LEFT JOIN g2 ON g2.doc_id = k.doc_id
    LEFT JOIN g3 ON g3.doc_id = k.doc_id
    """,
    doc="Gopher-style intra-doc repetition: duplicate 2-/3-gram instance "
    "fractions (1 - distinct/total), per-row array math — zero shuffle, "
    "fuses into the scan; the cheap boilerplate/spam filter between exact "
    "dedup and model-based quality scoring",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import repetition_features

    return repetition_features(load_table(spark, "documents", sf_dir))


@register(
    "mix_by_source_cap",
    f"""
    WITH rates AS (
        SELECT source, LEAST(1.0, 10.0 / COUNT(*)) AS rate
        FROM documents GROUP BY 1
    )
    SELECT d.doc_id, d.source
    FROM (SELECT doc_id, source, {_bucket_sql('mix:')} AS b FROM documents) d
    JOIN rates r ON r.source = d.source
    WHERE d.b < r.rate * 10000
    """,
    doc="data mixing by computed per-source rates "
    "(sampling.sample_by_rates): cap every source at ~10 expected docs — "
    "rates come from an aggregate, broadcast-joined (the high-cardinality "
    "strata path stratified_sample's literal map can't serve); "
    "deterministic hash-bucket survival, corpus never shuffled",
)
def mix_by_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import sample_by_rates

    docs = load_table(spark, "documents", sf_dir)
    rates = docs.groupBy("source").agg(
        F.least(F.lit(1.0), F.lit(10.0) / F.count(F.lit(1))).alias("rate")
    )
    return sample_by_rates(docs, rates, "source", "doc_id").select(
        "doc_id", "source"
    )


@register(
    "embed_text_stub",
    """
    WITH dims AS (SELECT unnest(generate_series(0, 7)) AS dim),
    x AS (
        SELECT doc_id, dim,
               CAST(concat('0x', substring(md5(text || ':' || dim), 1, 8))
                    AS BIGINT) % 2000 - 1000 AS xi
        FROM documents, dims
    ),
    norms AS (SELECT doc_id, sqrt(SUM(xi * xi)) AS nrm FROM x GROUP BY 1)
    SELECT x.doc_id, CAST(x.dim AS INT) AS dim,
           ROUND(CASE WHEN nrm = 0 THEN xi ELSE xi / nrm END, 6) AS value
    FROM x JOIN norms USING (doc_id)
    """,
    doc="batch text-embedding plumbing (pipeline/embed.py): Arrow-batched "
    "mapInPandas inference shape with the MODEL stubbed to a "
    "deterministic md5-derived vector (integer components, exact-integer "
    "norm), L2-normalized — swap the fake for model.encode and nothing "
    "else changes; chains into ivf_assign via embedded_as_vectors",
)
def embed_text_stub_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.embed import embed_text_stub

    return embed_text_stub(load_table(spark, "documents", sf_dir), dim=8)


@register(
    "dedup_url_canonical",
    """
    WITH raw AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://WWW.Example.com:443/p/' || source ||
                             '/?utm_source=feed&id=' || (doc_id % 50) || '#frag'
                 WHEN 1 THEN 'https://www.example.com/p/' || source ||
                             '?id=' || (doc_id % 50)
                 WHEN 2 THEN 'HTTP://Example.COM:80/p/' || source ||
                             '/?id=' || (doc_id % 50) || '&utm_campaign=x'
                 ELSE 'example.com/p/' || source || '?fbclid=abc&id=' || (doc_id % 50)
               END AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               regexp_replace(trim(url), '#.*$', '') AS u
        FROM raw
    ),
    parts AS (
        SELECT doc_id,
               CASE WHEN regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = ''
                    THEN 'http'
                    ELSE lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
               END AS scheme,
               CASE WHEN regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = ''
                    THEN u
                    ELSE regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
               END AS rest
        FROM canon
    ),
    split1 AS (
        SELECT doc_id, scheme,
               lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
               substr(rest, length(regexp_extract(rest, '^([^/?]*)', 1)) + 1) AS tail
        FROM parts
    ),
    split2 AS (
        SELECT doc_id, scheme,
               CASE WHEN scheme = 'http'  AND hostport LIKE '%:80'
                    THEN regexp_replace(hostport, ':80$', '')
                    WHEN scheme = 'https' AND hostport LIKE '%:443'
                    THEN regexp_replace(hostport, ':443$', '')
                    ELSE hostport END AS host,
               regexp_extract(tail, '^([^?]*)', 1) AS path,
               CASE WHEN length(tail) > length(regexp_extract(tail, '^([^?]*)', 1))
                    THEN substr(tail, length(regexp_extract(tail, '^([^?]*)', 1)) + 2)
                    ELSE '' END AS query
        FROM split1
    ),
    built AS (
        SELECT doc_id, scheme, host,
               CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(path, '/+$', '') END AS path_c,
               array_to_string(list_sort(list_filter(string_split(query, '&'),
                   p -> length(p) > 0 AND NOT regexp_matches(p,
                        '^(utm_[^=]*|fbclid|gclid|msclkid)(=|$)'))), '&') AS qs
        FROM split2
    )
    SELECT scheme || '://' || host || path_c ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url,
           COUNT(*) AS n_urls,
           MIN(doc_id) AS keeper_id
    FROM built GROUP BY 1
    """,
    doc="URL-keyed dedup for web corpora (functions/urls.canonicalize_url): "
    "scheme/host case, default ports, fragments, tracking params "
    "(utm_*/fbclid/gclid/msclkid), param order, and trailing slashes all "
    "normalize away, so page variants collapse to one key — map-side "
    "string/array expressions, one counting shuffle; the oracle mirrors "
    "every rule in SQL over the same synthesized variants",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.functions.urls import canonicalize_url

    docs = load_table(spark, "documents", sf_dir)
    d = docs.doc_id
    url = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("https://WWW.Example.com:443/p/"), docs.source,
                F.lit("/?utm_source=feed&id="), (d % 50).cast("string"), F.lit("#frag"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("https://www.example.com/p/"), docs.source,
                F.lit("?id="), (d % 50).cast("string"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("HTTP://Example.COM:80/p/"), docs.source,
                F.lit("/?id="), (d % 50).cast("string"), F.lit("&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("example.com/p/"), docs.source,
                F.lit("?fbclid=abc&id="), (d % 50).cast("string"),
            )
        )
    )
    return (
        docs.select("doc_id", canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


@register(
    "text_vocab_heavyhitters_approx",
    f"""
    WITH words AS (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM words)
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences, TRUE AS in_sketch
    FROM words, tot GROUP BY word, tot.n HAVING COUNT(*) > 0.02 * tot.n
    """,
    doc="frequent-items sketch with the guarantee checked in-query "
    "(textstats.heavy_hitters_checked): stat.freqItems' one-sided "
    "contract (no false negatives above support) forces in_sketch=TRUE "
    "for every exact heavy hitter, so the oracle pins the whole result — "
    "the HLL-style verification pattern applied to heavy hitters",
)
def text_vocab_heavyhitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import heavy_hitters_checked

    return heavy_hitters_checked(load_table(spark, "documents", sf_dir), support=0.02)


@register(
    "pipeline_pretrain_e2e",
    f"""
    WITH feats AS (
        SELECT doc_id, source, text,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> length(w) > 0)) AS n_tokens,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> w IN ('the','and','of','to','in','is','a'))) AS n_stop
        FROM documents
    ),
    kept AS (
        SELECT * FROM feats
        WHERE n_tokens >= 5 AND (CAST(n_stop AS DOUBLE) / n_tokens) <= 0.6
    ),
    keepers AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper FROM kept
    ),
    curated AS (
        SELECT doc_id, source, text, n_tokens,
               CASE WHEN b < 9000 THEN 'train'
                    WHEN b < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {_bucket_sql('split:')} AS b FROM keepers
              WHERE doc_id = keeper)
    ),
    c_shingled AS (
        SELECT doc_id, words, generate_subscripts(words, 1) AS i
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
              FROM curated) t
    ),
    c_sh AS (
        SELECT DISTINCT doc_id,
               words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM c_shingled WHERE i + 2 <= len(words)
    ),
    b_shingled AS (
        SELECT doc_id, words, generate_subscripts(words, 1) AS i
        FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
              FROM documents WHERE doc_id < 10) t
    ),
    bench_sh AS (
        SELECT DISTINCT words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        FROM b_shingled WHERE i + 2 <= len(words)
    ),
    flagged AS (
        SELECT s.doc_id
        FROM c_sh s LEFT JOIN bench_sh b ON s.shingle = b.shingle
        GROUP BY 1
        HAVING ROUND(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) >= 0.1
    ),
    train AS (
        SELECT * FROM curated
        WHERE split = 'train' AND doc_id NOT IN (SELECT doc_id FROM flagged)
    ),
    rates AS (
        SELECT source, LEAST(1.0, 15.0 / COUNT(*)) AS rate FROM train GROUP BY 1
    ),
    mixed AS (
        SELECT d.doc_id, d.source, d.n_tokens
        FROM (SELECT *, {_bucket_sql('mix:')} AS mb FROM train) d
        JOIN rates r ON r.source = d.source
        WHERE d.mb < r.rate * 10000
    )
    SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (
                    ORDER BY md5('pack:' || CAST(doc_id AS VARCHAR)), doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) / 1024.0)
                AS BIGINT) AS seq_id
    FROM mixed
    """,
    doc="END-TO-END pretraining pipeline (curate.pretrain_corpus): "
    "quality gate -> exact-dedup keepers -> split -> benchmark "
    "decontamination (docs 0-9 as the eval set, tau=0.1) -> per-source "
    "rate mixing (cap ~15 train docs/source) -> deterministic packing "
    "into 1024-token sequences. The LLM-data analog of "
    "etl_silver_views_fact: every stage is gated alone, this row gates "
    "their COMPOSITION — n_tokens billing, kept-vs-dropped doc sets, and "
    "deterministic ordering must agree across all four stages at once",
)
def pipeline_pretrain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import pretrain_corpus

    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") < 10)
    return pretrain_corpus(docs, bench)


# splice the shared kmeans CTE chain into the oracle registered above
# (the registration string uses a placeholder because the f-string and
# .format would both try to interpret the chain's braces)
from irstats2_spark import catalog as _catalog  # noqa: E402

_spec = _catalog._REGISTRY["similarity_kmeans_ivf_topk"]
_catalog._REGISTRY["similarity_kmeans_ivf_topk"] = type(_spec)(
    spark=_spec.spark,
    oracle=_spec.oracle.replace("__KMEANS_CTE__", _kmeans_cte(4, 2)),
    doc=_spec.doc,
)


# ---------------------------------------------------------------------------
# Product quantization (pipeline/pq.py): per-subspace Lloyd's fit, code
# encoding, ADC search. Distances are EXACT integers (squared L2 over
# quantized subvectors), so the oracle replays fit -> encode -> ADC with
# no rounding anywhere except the codebook means (the same
# sum -> /count -> /scale double sequence the kmeans oracle pins).
# ---------------------------------------------------------------------------
def _pq_l2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )


def _pq_iter_cte(sub: str = "sub", n_codes: int = 4, iters: int = 2) -> str:
    """PQ fit iteration chain over a (vec_id, subspace, qsub) CTE named
    ``sub``: seeds, c0, (cq{i}, a{i}, u{i}, c{i+1})..., cbR (rounded
    codebook = pq_fit's output) and cqF (requantized from the ROUNDED
    values — exactly what pq_encode receives from pq_fit). Shared by the
    plain-PQ oracles (sub = sliced corpus vectors) and the IVF-PQ oracle
    (sub = sliced coarse-cluster residuals)."""
    parts = [
        f"""seeds AS (
            SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
            FROM (SELECT DISTINCT vec_id FROM {sub} ORDER BY vec_id LIMIT {n_codes})
        ),
        c0 AS (
            SELECT t.subspace, t.code, CAST(t.i - 1 AS INT) AS dim,
                   CAST(t.qsub[t.i] AS DOUBLE)/1000 AS value
            FROM (SELECT s.subspace, sd.code, s.qsub,
                         generate_subscripts(s.qsub, 1) AS i
                  FROM {sub} s JOIN seeds sd USING (vec_id)) t
        )""",
    ]
    for i in range(iters):
        parts.append(f""",
        cq{i} AS (
            SELECT subspace, code,
                   list(CAST(FLOOR(value*1000 + 0.5) AS BIGINT) ORDER BY dim) AS qv
            FROM c{i} GROUP BY 1, 2
        ),
        a{i} AS (
            SELECT vec_id, subspace, code FROM (
                SELECT s.vec_id, s.subspace, c.code,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                           ORDER BY {_pq_l2("s.qsub", "c.qv")} ASC, c.code ASC) AS rn
                FROM {sub} s JOIN cq{i} c ON s.subspace = c.subspace
            ) WHERE rn = 1
        ),
        u{i} AS (
            SELECT t.subspace, t.code, CAST(t.i - 1 AS INT) AS dim,
                   CAST(SUM(t.qsub[t.i]) AS DOUBLE) / COUNT(*) / 1000 AS value
            FROM (SELECT a.subspace, a.code, s.qsub,
                         generate_subscripts(s.qsub, 1) AS i
                  FROM a{i} a JOIN {sub} s
                    ON a.vec_id = s.vec_id AND a.subspace = s.subspace) t
            GROUP BY 1, 2, 3
        ),
        c{i + 1} AS (
            SELECT c.subspace, c.code, c.dim, COALESCE(u.value, c.value) AS value
            FROM c{i} c LEFT JOIN u{i} u
              ON c.subspace = u.subspace AND c.code = u.code AND c.dim = u.dim
        )""")
    parts.append(f""",
        cbR AS (
            SELECT subspace, code, dim, ROUND(value, 6) AS value FROM c{iters}
        ),
        cqF AS (
            SELECT subspace, code,
                   list(CAST(FLOOR(value*1000 + 0.5) AS BIGINT) ORDER BY dim) AS qv
            FROM cbR GROUP BY 1, 2
        )""")
    return "\n".join(parts)


def _pq_sub_cte(src: str = "q", vec: str = "qv", m: int = 8, sub_dim: int = 8) -> str:
    """Slice a quantized-vector CTE into per-subspace subvectors."""
    return f"""sub AS (
            SELECT vec_id, CAST(j AS INT) AS subspace,
                   list_slice({vec}, j*{sub_dim}+1, j*{sub_dim}+{sub_dim}) AS qsub
            FROM {src} CROSS JOIN (SELECT unnest(range({m})) AS j)
        )"""


def _pq_cte(m: int = 8, sub_dim: int = 8, n_codes: int = 4, iters: int = 2) -> str:
    """Plain-PQ chain over the embeddings table: q, sub, then the shared
    fit iteration chain ending in cbR/cqF."""
    return (
        f"q AS (SELECT vec_id, {_Q.format(v='embedding')} AS qv FROM embeddings),\n"
        + _pq_sub_cte("q", "qv", m, sub_dim)
        + ",\n"
        + _pq_iter_cte("sub", n_codes, iters)
    )


_PQ_ENC = f"""
    enc AS (
        SELECT vec_id, subspace, code, dist FROM (
            SELECT s.vec_id, s.subspace, c.code,
                   {_pq_l2("s.qsub", "c.qv")} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                       ORDER BY {_pq_l2("s.qsub", "c.qv")} ASC, c.code ASC) AS rn
            FROM sub s JOIN cqF c ON s.subspace = c.subspace
        ) WHERE rn = 1
    )
"""


@register(
    "similarity_pq_fit",
    f"""
    WITH {_pq_cte()}
    SELECT subspace, code, dim, value FROM cbR
    """,
    doc="PQ codebook fit: per-subspace deterministic Lloyd's over "
    "quantized subvectors (m=8 subspaces x 4 codewords, integer-exact "
    "L2 assignment) — the memory-bound ANN tier's training step",
)
def similarity_pq_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_fit

    return pq_fit(
        load_table(spark, "embeddings", sf_dir), dim=64, m=8, n_codes=4, max_iter=2
    )


@register(
    "similarity_pq_encode",
    f"""
    WITH {_pq_cte()},
    {_PQ_ENC}
    SELECT vec_id, subspace, code, dist FROM enc
    """,
    doc="PQ encoding: nearest codeword per (vector, subspace) — m bytes "
    "per vector replace the float array; dist = exact integer "
    "reconstruction error per subspace",
)
def similarity_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_encode, pq_fit

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_fit(emb, dim=64, m=8, n_codes=4, max_iter=2)
    return pq_encode(emb, cb, dim=64, m=8)


@register(
    "similarity_pq_balance_audit",
    f"""
    WITH {_pq_cte()},
    {_PQ_ENC},
    pqb AS (
        SELECT subspace, code, COUNT(*) AS n_vecs FROM enc GROUP BY 1, 2
    ),
    pqspine AS (SELECT DISTINCT subspace, code FROM cqF),
    pqfull AS (
        SELECT s.subspace, s.code, COALESCE(b.n_vecs, 0) AS n_vecs
        FROM pqspine s LEFT JOIN pqb b USING (subspace, code)
    ),
    pqn AS (SELECT subspace, SUM(n_vecs) AS t FROM pqfull GROUP BY 1)
    SELECT f.subspace, f.code, CAST(f.n_vecs AS BIGINT) AS n_vecs,
           ROUND(f.n_vecs / CAST(n.t AS DOUBLE), 6) AS share,
           ROUND(f.n_vecs * 4 / CAST(n.t AS DOUBLE), 6) AS skew
    FROM pqfull f JOIN pqn n USING (subspace)
    """,
    doc="PQ codeword-usage audit: per (subspace, code) member count, "
    "share, and skew (share x n_codes; 1.0 = balanced), dead codewords "
    "surfaced as zero rows — completes the index-health triad beside "
    "the IVF balance and recall audits (a dead or fat codeword means "
    "the quantizer wastes bits and ADC distances saturate); encode is "
    "the pure map, the rollup is m x n_codes rows",
)
def similarity_pq_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_balance_audit, pq_fit

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_fit(emb, dim=64, m=8, n_codes=4, max_iter=2)
    return pq_balance_audit(emb, cb, dim=64, m=8, n_codes=4)


@register(
    "similarity_pq_topk",
    f"""
    WITH {_pq_cte()},
    {_PQ_ENC},
    qsub AS (SELECT vec_id AS query_id, subspace, qsub FROM sub WHERE vec_id < 3),
    tbl AS (
        SELECT q.query_id, c.subspace, c.code,
               {_pq_l2("q.qsub", "c.qv")} AS dist
        FROM qsub q JOIN cqF c ON q.subspace = c.subspace
    ),
    scored AS (
        SELECT t.query_id, e.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adc_dist
        FROM enc e JOIN tbl t ON e.subspace = t.subspace AND e.code = t.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    doc="PQ ADC top-k: fit -> encode -> asymmetric distance search — the "
    "query's m x n_codes integer distance table is broadcast and each "
    "corpus vector scores as m table lookups over its codes; no float "
    "vector is touched at scan time",
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_encode_vec, pq_fit, pq_topk_adc_vec

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_fit(emb, dim=64, m=8, n_codes=4, max_iter=2)
    codes = pq_encode_vec(emb, cb, dim=64, m=8)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_topk_adc_vec(codes, cb, queries, dim=64, m=8, n_codes=4, k=5)


@register(
    "similarity_pq_rerank_topk",
    f"""
    WITH {_pq_cte()},
    {_PQ_ENC},
    qsub AS (SELECT vec_id AS query_id, subspace, qsub FROM sub WHERE vec_id < 3),
    tbl AS (
        SELECT q.query_id, c.subspace, c.code,
               {_pq_l2("q.qsub", "c.qv")} AS dist
        FROM qsub q JOIN cqF c ON q.subspace = c.subspace
    ),
    scored AS (
        SELECT t.query_id, e.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adc_dist
        FROM enc e JOIN tbl t ON e.subspace = t.subspace AND e.code = t.code
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, vec_id, adc_dist FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY adc_dist ASC, vec_id ASC) AS srn
            FROM scored
        ) WHERE srn <= 20
    ),
    rr AS (
        SELECT s.query_id, s.vec_id, s.adc_dist,
               {_pq_l2("eq.qv", "qq.qv")} AS exact_dist
        FROM short s
        JOIN q eq ON eq.vec_id = s.vec_id
        JOIN q qq ON qq.vec_id = s.query_id
    )
    SELECT query_id, vec_id, adc_dist, exact_dist, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY exact_dist ASC, vec_id ASC) AS INT) AS rank
        FROM rr
    ) WHERE rank <= 5
    """,
    doc="PQ shortlist + exact re-rank (FAISS IndexRefineFlat pattern): "
    "ADC proposes 20 candidates per query from codes alone, only those "
    "rows hydrate full vectors (broadcast prune of the embeddings "
    "scan, never a corpus shuffle) for an exact integer-L2 top-5 — "
    "adc_dist stays in the output so the reorder is auditable",
)
def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_encode_vec, pq_fit, pq_rerank_exact

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_fit(emb, dim=64, m=8, n_codes=4, max_iter=2)
    codes = pq_encode_vec(emb, cb, dim=64, m=8)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_rerank_exact(
        codes, cb, queries, emb, dim=64, m=8, n_codes=4, shortlist=20, k=5
    )


def _pq_m_branch(m: int, dim: int = 64) -> str:
    sub_dim = dim // m
    return f"""
    SELECT CAST({m} AS INT) AS m, CAST({sub_dim} AS INT) AS sub_dim,
           CAST({m} AS INT) AS code_bytes,
           n_vecs, total_sq_err,
           ROUND(CAST(total_sq_err AS DOUBLE) / n_vecs, 6) AS mean_sq_err
    FROM (
        WITH {_pq_cte(m, sub_dim)},
        {_PQ_ENC}
        SELECT CAST(COUNT(*) / {m} AS BIGINT) AS n_vecs,
               CAST(SUM(dist) AS BIGINT) AS total_sq_err
        FROM enc
    ) t
    """


@register(
    "similarity_pq_m_sweep",
    " UNION ALL ".join(_pq_m_branch(m) for m in (4, 8, 16)),
    doc="PQ subspace-count sweep: exact integer reconstruction "
    "distortion vs code bytes at m in {4, 8, 16} — the tuning table "
    "behind PQ's core knob (more bytes, shorter subvectors, lower "
    "distortion), completing the sweep family; each branch is the "
    "audited fit + map-side encode + a 1-row sum",
)
def similarity_pq_m_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import pq_m_sweep_audit

    return pq_m_sweep_audit(
        load_table(spark, "embeddings", sf_dir), dim=64, ms=(4, 8, 16)
    )


@register(
    "similarity_scalar_quant_error",
    """
    WITH ex AS (
        SELECT CAST(t.i - 1 AS INT) AS dim, CAST(t.embedding[t.i] AS DOUBLE) AS x
        FROM (SELECT embedding, generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
    ),
    rng AS (SELECT dim, MIN(x) AS vmin, MAX(x) AS vmax FROM ex GROUP BY 1),
    coded AS (
        SELECT e.dim, e.x, r.vmin, r.vmax,
               CASE WHEN r.vmax = r.vmin THEN 0
                    ELSE FLOOR((e.x - r.vmin) / (r.vmax - r.vmin) * 255 + 0.5)
               END AS code
        FROM ex e JOIN rng r ON e.dim = r.dim
    ),
    errs AS (
        SELECT dim, vmin, vmax,
               CAST(FLOOR(ABS(x - (vmin + code * (vmax - vmin) / 255)) * 1e9 + 0.5)
                    AS BIGINT) AS err_q
        FROM coded
    )
    SELECT dim, ROUND(MIN(vmin), 6) AS vmin, ROUND(MAX(vmax), 6) AS vmax,
           ROUND(CAST(SUM(err_q) AS DOUBLE) / COUNT(*) / 1e9, 6) AS mean_abs_err,
           ROUND(CAST(MAX(err_q) AS DOUBLE) / 1e9, 6) AS max_abs_err
    FROM errs GROUP BY 1
    """,
    doc="scalar int8 quantization audit: per-dim calibration ranges and "
    "reconstruction error (nanos-quantized exact double sums) — the "
    "go/no-go check before switching a vector store to int8",
)
def similarity_scalar_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import scalar_quant_stats

    return scalar_quant_stats(load_table(spark, "embeddings", sf_dir))


def _bloom_pos_sql(i_expr: str, key: str, m_bits: int) -> str:
    return (
        f"CAST(concat('0x', substring(md5(CAST({i_expr} AS VARCHAR) || ':' || {key}),"
        f" 1, 8)) AS BIGINT) % {m_bits}"
    )


@register(
    "dedup_bloom_prefilter",
    f"""
    WITH snap AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ),
    pos AS (
        SELECT {_bloom_pos_sql("i", "h", 1024)} AS p
        FROM snap CROSS JOIN (SELECT unnest(range(3)) AS i)
    ),
    bloom AS (
        SELECT CAST(FLOOR(p / 32) AS BIGINT) AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        FROM pos GROUP BY 1
    ),
    batch AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
    ),
    bpos AS (
        SELECT doc_id, h, {_bloom_pos_sql("i", "h", 1024)} AS p
        FROM batch CROSS JOIN (SELECT unnest(range(3)) AS i)
    ),
    hits AS (
        SELECT b.doc_id, b.h,
               COALESCE((bl.bits & (CAST(1 AS BIGINT) << CAST(b.p % 32 AS INT))) <> 0,
                        FALSE) AS hit
        FROM bpos b LEFT JOIN bloom bl
          ON CAST(FLOOR(b.p / 32) AS BIGINT) = bl.word_idx
    )
    SELECT doc_id, h AS text_hash, bool_and(hit) AS maybe_seen
    FROM hits GROUP BY 1, 2
    """,
    doc="Bloom-filter dedup prefilter: the new batch probes a fixed-size "
    "bitmap built from the corpus snapshot's hashes (k=3 salted md5 "
    "positions, 32 bits/word) — maybe_seen=false skips the exact "
    "anti-join entirely; false positives are deterministic and the "
    "oracle replays them bit-for-bit",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import bloom_build, bloom_probe

    docs = load_table(spark, "documents", sf_dir)
    snap = (
        docs.filter(F.col("doc_id") < 250)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    bloom = bloom_build(snap, n_hashes=3, m_bits=1024)
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    return bloom_probe(batch, bloom, n_hashes=3, m_bits=1024)


@register(
    "corpus_source_stats",
    f"""
    WITH feats AS (
        SELECT doc_id, source, text,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> length(w) > 0)) AS n_tokens,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> w IN ('the','and','of','to','in','is','a'))) AS n_stop
        FROM documents
    ),
    flagged AS (
        SELECT source, n_tokens, n_stop,
               CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
                    THEN 1 ELSE 0 END AS is_dup,
               CASE WHEN n_tokens < 5 THEN 1
                    WHEN CAST(n_stop AS DOUBLE) / n_tokens > 0.6 THEN 1
                    ELSE 0 END AS q_fail
        FROM feats
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(q_fail) AS BIGINT) AS n_quality_fail,
           CAST(SUM(is_dup) AS BIGINT) AS n_dups,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
           ROUND(CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens), 6) AS stop_ratio,
           ROUND(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate
    FROM flagged GROUP BY 1
    """,
    doc="per-source curation dashboard: doc/dup/quality-fail counts, "
    "token totals, and the integer-exact ratios a mixing rate table is "
    "derived from — cross-source dups billed to the non-keeper source",
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import source_stats

    return source_stats(load_table(spark, "documents", sf_dir))


# Quantized-cosine over ALREADY-quantized bigint lists (mirrors
# similarity.cosine_pre_quantized) — the coarse-assignment scorer for
# the IVF-PQ oracle, where q/cents are quantized once upstream.
def _qcos_pre(a: str, b: str) -> str:
    return (
        f"(CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1]*p[2])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform({a}, x -> x*x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({b}, x -> x*x)) AS DOUBLE))))"
    )


def _ivfpq_sql(
    m: int = 8,
    sub_dim: int = 8,
    n_codes: int = 4,
    iters: int = 2,
    n_cents: int = 4,
    n_queries: int = 3,
    n_probe: int = 2,
    k: int = 5,
) -> str:
    """The IVF-PQ oracle chain from coarse centroids to the ranked
    SELECT, assuming a CTE ``q`` (vec_id, qv quantized bigint list)
    already exists — shared by the embeddings-table query and the
    embed -> index -> search e2e composition."""
    return f"""cents AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < {n_cents}),
    asg AS (
        SELECT vec_id, cid FROM (
            SELECT q.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({_qcos_pre("q.qv", "c.cqv")}, 6) DESC,
                                c.cid ASC) AS rn
            FROM q CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    res AS (
        SELECT q.vec_id, a.cid,
               list_transform(list_zip(q.qv, c.cqv), p -> p[1]-p[2]) AS rv
        FROM q JOIN asg a USING (vec_id) JOIN cents c ON a.cid = c.cid
    ),
    {_pq_sub_cte("res", "rv", m, sub_dim)},
    {_pq_iter_cte("sub", n_codes, iters)},
    enc AS (
        SELECT e.vec_id, a.cid, e.subspace, e.code FROM (
            SELECT s.vec_id, s.subspace, c.code,
                   ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.subspace
                       ORDER BY {_pq_l2("s.qsub", "c.qv")} ASC, c.code ASC) AS rn
            FROM sub s JOIN cqF c ON s.subspace = c.subspace
        ) e JOIN asg a USING (vec_id) WHERE e.rn = 1
    ),
    probes AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND({_qcos_pre("q.qv", "c.cqv")}, 6) DESC,
                                c.cid ASC) AS rn
            FROM q CROSS JOIN cents c WHERE q.vec_id < {n_queries}
        ) WHERE rn <= {n_probe}
    ),
    qres AS (
        SELECT p.query_id, p.cid,
               list_transform(list_zip(q.qv, c.cqv), p2 -> p2[1]-p2[2]) AS rv
        FROM probes p JOIN q ON p.query_id = q.vec_id
                      JOIN cents c ON p.cid = c.cid
    ),
    qsub2 AS (
        SELECT query_id, cid, CAST(j AS INT) AS subspace,
               list_slice(rv, j*{sub_dim}+1, j*{sub_dim}+{sub_dim}) AS qsub
        FROM qres CROSS JOIN (SELECT unnest(range({m})) AS j)
    ),
    tbl AS (
        SELECT s.query_id, s.cid, s.subspace, c.code,
               {_pq_l2("s.qsub", "c.qv")} AS dist
        FROM qsub2 s JOIN cqF c ON s.subspace = c.subspace
    ),
    scored AS (
        SELECT t.query_id, e.vec_id, CAST(SUM(t.dist) AS BIGINT) AS adc_dist
        FROM enc e JOIN tbl t
          ON e.cid = t.cid AND e.subspace = t.subspace AND e.code = t.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, vec_id ASC) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {k}"""


@register(
    "similarity_ivfpq_topk",
    f"""
    WITH q AS (SELECT vec_id, {_Q.format(v='embedding')} AS qv FROM embeddings),
    {_ivfpq_sql()}
    """,
    doc="IVF-PQ ANN search (the FAISS-style index): coarse IVF "
    "assignment + PQ over integer residuals, searched per probe by ADC "
    "— vectors score only against queries probing their cluster, and "
    "the stored corpus is (centroid_id, m codes) per vector",
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.pq import ivfpq_topk

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk(
        emb, cents, queries, dim=64, m=8, n_codes=4, k=5, n_probe=2, max_iter=2
    )


@register(
    "sample_balanced_topk",
    """
    SELECT source, doc_id, sample_rank FROM (
        SELECT source, doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY md5('topk:' || CAST(doc_id AS VARCHAR)) ASC,
                            doc_id ASC) AS INT) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 10
    """,
    doc="balanced subset: exactly min(k, |stratum|) docs per source by "
    "deterministic salted-hash rank — the fixed-count complement to "
    "rate-based mixing",
)
def sample_balanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import balanced_topk_sample

    docs = load_table(spark, "documents", sf_dir)
    return balanced_topk_sample(docs, "source", "doc_id", k=10).select(
        "source", "doc_id", "sample_rank"
    )


@register(
    "similarity_recall_audit",
    f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    bf AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('e.embedding', 'q.qv')}, 6) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings e CROSS JOIN queries q
        ) WHERE rank <= 5
    ),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    qassign AS (
        SELECT query_id, centroid_id FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('q.qv', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM queries q CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    ivf AS (
        SELECT query_id, vec_id FROM (
            SELECT qa.query_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qa.query_id
                       ORDER BY ROUND({_qcos('e.embedding', 'q.qv')}, 6) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings e
            JOIN assign a ON e.vec_id = a.vec_id
            JOIN qassign qa ON a.centroid_id = qa.centroid_id
            JOIN queries q ON q.query_id = qa.query_id
        ) WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
           ROUND(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall_at_5
    FROM bf b LEFT JOIN ivf i
      ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    GROUP BY 1
    """,
    doc="ANN quality audit: recall@5 of single-probe IVF against the "
    "exact brute-force baseline, per query — the feedback loop that "
    "tunes n_probe/n_clusters before trusting an approximate index; "
    "an integer hit count and one division, so the oracle is exact",
)
def similarity_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = brute_force_topk(emb, queries, k=5).select("query_id", "vec_id")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    ivf = (
        ivf_topk(
            ivf_assign(emb, cents),
            ivf_assign(queries, cents, id_col="query_id", vec_col="query_vec"),
            k=5,
        )
        .select("query_id", "vec_id")
        .withColumn("__hit", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("recall_at_5"),
        )
    )


@register(
    "corpus_snapshot_diff",
    """
    WITH old AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
        FROM documents WHERE doc_id >= 100
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
    doc="dataset versioning: per-doc added/removed/changed/unchanged "
    "between two corpus snapshots — hashes shuffle, bodies never do "
    "(fixture: docs <400 vs >=100 with a deterministic mutation)",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import snapshot_diff

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new)


@register(
    "pipeline_embed_index_search_e2e",
    f"""
    WITH dims AS (SELECT unnest(generate_series(0, 7)) AS dim),
    x AS (
        SELECT doc_id, dim,
               CAST(concat('0x', substring(md5(text || ':' || dim), 1, 8))
                    AS BIGINT) % 2000 - 1000 AS xi
        FROM documents, dims
    ),
    norms AS (SELECT doc_id, sqrt(SUM(xi * xi)) AS nrm FROM x GROUP BY 1),
    emb AS (
        SELECT x.doc_id, x.dim,
               ROUND(CASE WHEN nrm = 0 THEN xi ELSE xi / nrm END, 6) AS value
        FROM x JOIN norms USING (doc_id)
    ),
    vecs AS (
        SELECT doc_id AS vec_id,
               list(CAST(value AS FLOAT) ORDER BY dim) AS emb_v
        FROM emb GROUP BY 1
    ),
    q AS (SELECT vec_id, {_Q.format(v='emb_v')} AS qv FROM vecs),
    {_ivfpq_sql(m=4, sub_dim=2)}
    """,
    doc="END-TO-END vector pipeline: embed (stubbed model, Arrow "
    "mapInPandas) -> fold to float32 vectors -> coarse IVF + residual "
    "PQ index -> multi-probe ADC search, as ONE composition over the "
    "documents table — the ANN analog of pipeline_pretrain_e2e: every "
    "stage is gated alone, this row gates their composition (float32 "
    "storage, 6dp embed rounding, and integer residual quantization "
    "must agree across the whole chain)",
)
def pipeline_embed_index_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.embed import embed_text_stub, embedded_as_vectors
    from irstats2_spark.pipeline.pq import ivfpq_topk

    docs = load_table(spark, "documents", sf_dir)
    # a production pipeline materializes embeddings to storage before
    # indexing (inference is the expensive stage; fit/assign/encode all
    # re-read it) — persist() stands in for that parquet write so the
    # embed stage runs once, not once per lineage branch
    vecs = embedded_as_vectors(embed_text_stub(docs, dim=8)).persist()
    cents = vecs.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # materialize=True: the k-row result is checkpointed eagerly and the
    # residual pin released inside ivfpq_topk; the embed pin is then
    # dead too — nothing stays pinned across query boundaries
    out = ivfpq_topk(
        vecs, cents, queries, dim=8, m=4, n_codes=4, k=5, n_probe=2,
        max_iter=2, materialize=True,
    )
    vecs.unpersist()
    return out


@register(
    "pairs_contrastive_mining",
    f"""
    WITH queries AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    bf AS (
        SELECT query_id, vec_id, rank FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('e.embedding', 'q.qv')}, 6) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings e CROSS JOIN queries q
        ) WHERE rank <= 5
    ),
    pos AS (
        SELECT query_id, 'pos' AS role, vec_id, rnk AS rank FROM (
            SELECT query_id, vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY rank ASC) AS INT) AS rnk
            FROM bf WHERE vec_id <> query_id
        ) WHERE rnk <= 1
    ),
    cand AS (
        SELECT q.query_id, e.vec_id
        FROM embeddings e CROSS JOIN queries q
        LEFT JOIN bf b ON b.query_id = q.query_id AND b.vec_id = e.vec_id
        WHERE b.vec_id IS NULL AND e.vec_id <> q.query_id
    ),
    neg AS (
        SELECT query_id, 'neg' AS role, vec_id, rnk AS rank FROM (
            SELECT query_id, vec_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY md5('neg:' || CAST(query_id AS VARCHAR) || ':'
                                     || CAST(vec_id AS VARCHAR)) ASC,
                                 vec_id ASC) AS INT) AS rnk
            FROM cand
        ) WHERE rnk <= 3
    )
    SELECT * FROM pos UNION ALL SELECT * FROM neg
    """,
    doc="contrastive training-pair mining: per query, the nearest "
    "non-self neighbor as positive and 3 deterministic hash-ranked "
    "negatives drawn from outside the top-5 (near-dups can never leak "
    "in as negatives)",
)
def pairs_contrastive_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import contrastive_pairs

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return contrastive_pairs(emb, queries, k_pos=1, n_neg=3, topn_excl=5)


@register(
    "text_classifier_votes",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM toks WHERE source IN ('src0', 'src1')
    ),
    vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM seed GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM vocab
    ),
    votes AS (
        SELECT t.doc_id,
               CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                    WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                    ELSE 0 END AS vote
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_votes,
           CAST(SUM(CASE WHEN vote = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_votes,
           COUNT(*) AS n_votes,
           CAST(SUM(vote) AS BIGINT) AS vote_margin,
           CASE WHEN SUM(vote) > 0 THEN 'pos'
                WHEN SUM(vote) < 0 THEN 'neg'
                ELSE 'tie' END AS label
    FROM votes GROUP BY 1
    """,
    doc="seed-set quality classifier (the CCNet/fastText learned-filter "
    "pattern) reduced to integer-exact Naive-Bayes token votes: src0 "
    "docs as positive seeds, src1 as negative, cross-multiplied counts "
    "instead of log-likelihood floats — the oracle replays it exactly",
)
def text_classifier_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import classifier_vote_scores

    docs = load_table(spark, "documents", sf_dir)
    return classifier_vote_scores(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    )


@register(
    "text_classifier_top_fraction",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM toks WHERE source IN ('src0', 'src1')
    ),
    vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM seed GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM vocab
    ),
    votes AS (
        SELECT t.doc_id,
               CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                    WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                    ELSE 0 END AS vote
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
    ),
    margins AS (
        SELECT doc_id, CAST(SUM(vote) AS BIGINT) AS vote_margin
        FROM votes GROUP BY 1
    ),
    n AS (SELECT CAST(FLOOR(COUNT(*) * 0.3) AS BIGINT) AS k FROM margins)
    SELECT doc_id, vote_margin, quality_rank FROM (
        SELECT doc_id, vote_margin,
               CAST(ROW_NUMBER() OVER (ORDER BY vote_margin DESC, doc_id ASC)
                    AS BIGINT) AS quality_rank
        FROM margins
    ) r, n WHERE r.quality_rank <= n.k
    """,
    doc="learned-filter composition: classifier vote margins -> keep the "
    "global top 30% by exact integer rank (no percentile interpolation "
    "to drift between engines) — the FineWeb-edu-style quality cut",
)
def text_classifier_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import top_fraction
    from irstats2_spark.pipeline.textstats import classifier_vote_scores

    docs = load_table(spark, "documents", sf_dir)
    margins = classifier_vote_scores(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    ).select("doc_id", "vote_margin")
    return top_fraction(margins, "vote_margin", 0.3, "doc_id")


@register(
    "dedup_embedding_pq_blocking",
    f"""
    WITH {_pq_cte(n_codes=16)},
    {_PQ_ENC},
    cand AS (
        SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM enc a JOIN enc b
          ON a.subspace = b.subspace AND a.code = b.code
         AND a.vec_id < b.vec_id
    )
    SELECT doc_a, doc_b, cosine FROM (
        SELECT c.doc_a, c.doc_b,
               ROUND({_qcos_pre('qa.qv', 'qb.qv')}, 6) AS cosine
        FROM cand c JOIN q qa ON c.doc_a = qa.vec_id
                    JOIN q qb ON c.doc_b = qb.vec_id
    ) WHERE cosine >= 0.45
    """,
    doc="embedding near-dup by PQ-CODE BLOCKING: vectors sharing any "
    "per-subspace codeword (16-codeword subspaces — sized so buckets "
    "stay small) are candidates, GEMM-verified by exact quantized "
    "cosine; the stored index IS the blocking key, no extra signatures",
)
def dedup_embedding_pq_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import embedding_dups_pq_blocking
    from irstats2_spark.pipeline.pq import pq_fit

    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_fit(emb, dim=64, m=8, n_codes=16, max_iter=2)
    return embedding_dups_pq_blocking(
        emb, cb, dim=64, m=8, n_codes=16, bands=8, threshold=0.45
    )


@register(
    "text_classifier_top_fraction_binned",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM toks WHERE source IN ('src0', 'src1')
    ),
    vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM seed GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM vocab
    ),
    votes AS (
        SELECT t.doc_id,
               CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                    WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                    ELSE 0 END AS vote
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
    ),
    margins AS (
        SELECT doc_id, CAST(SUM(vote) AS BIGINT) AS vote_margin
        FROM votes GROUP BY 1
    ),
    n AS (SELECT CAST(FLOOR(COUNT(*) * 0.3) AS BIGINT) AS k FROM margins),
    hist AS (
        SELECT vote_margin AS score, COUNT(*) AS cnt FROM margins GROUP BY 1
    ),
    cum AS (
        SELECT score, cnt,
               SUM(cnt) OVER (ORDER BY score DESC) - cnt AS above
        FROM hist
    ),
    cut AS (
        SELECT MIN(score) AS cut, CAST(MAX(above) AS BIGINT) AS cut_above, MIN(k) AS k
        FROM cum, n WHERE above < k
    )
    SELECT doc_id, vote_margin FROM margins, cut WHERE vote_margin > cut
    UNION ALL
    SELECT doc_id, vote_margin FROM (
        SELECT m.doc_id, m.vote_margin,
               ROW_NUMBER() OVER (
                   ORDER BY md5('cut:' || CAST(m.doc_id AS VARCHAR)) ASC,
                            m.doc_id ASC) AS r,
               c.k - c.cut_above AS need
        FROM margins m, cut c WHERE m.vote_margin = c.cut
    ) WHERE r <= need
    """,
    doc="the 100-TB form of the quality cut: exact score HISTOGRAM "
    "finds the boundary margin (tiny aggregate, broadcast), everything "
    "above it survives map-side, and only the boundary bin passes "
    "through a rank window (deterministic hash tie-break) — exactly "
    "floor(0.3*N) rows, no global sort of the corpus",
)
def text_classifier_top_fraction_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.sampling import top_fraction_binned
    from irstats2_spark.pipeline.textstats import classifier_vote_scores

    docs = load_table(spark, "documents", sf_dir)
    margins = classifier_vote_scores(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    ).select("doc_id", "vote_margin")
    return top_fraction_binned(margins, "vote_margin", 0.3, "doc_id")


@register(
    "text_classifier_top_fraction_approx",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM toks WHERE source IN ('src0', 'src1')
    ),
    vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM seed GROUP BY 1
    ),
    totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM vocab
    ),
    votes AS (
        SELECT t.doc_id,
               CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                    WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                    ELSE 0 END AS vote
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
    ),
    margins AS (
        SELECT doc_id, CAST(SUM(vote) AS BIGINT) AS vote_margin
        FROM votes GROUP BY 1
    ),
    bounds AS (
        SELECT MIN(CAST(vote_margin AS DOUBLE)) AS lo,
               MAX(CAST(vote_margin AS DOUBLE)) AS hi
        FROM margins
    ),
    qb AS (
        SELECT m.doc_id, m.vote_margin,
               CASE WHEN b.hi > b.lo THEN
                   CAST(LEAST(FLOOR((CAST(m.vote_margin AS DOUBLE) - b.lo)
                                    / ((b.hi - b.lo) / 64)), 63) AS BIGINT)
               ELSE 0 END AS qbin
        FROM margins m, bounds b
    ),
    n AS (SELECT CAST(FLOOR(COUNT(*) * 0.3) AS BIGINT) AS k FROM margins),
    hist AS (SELECT qbin, COUNT(*) AS cnt FROM qb GROUP BY 1),
    cum AS (
        SELECT qbin, cnt, SUM(cnt) OVER (ORDER BY qbin DESC) - cnt AS above
        FROM hist
    ),
    cut AS (
        SELECT MIN(qbin) AS cut, CAST(MAX(above) AS BIGINT) AS cut_above,
               MIN(k) AS k
        FROM cum, n WHERE above < k
    )
    SELECT doc_id, vote_margin FROM qb, cut WHERE qbin > cut
    UNION ALL
    SELECT doc_id, vote_margin FROM (
        SELECT q.doc_id, q.vote_margin,
               ROW_NUMBER() OVER (
                   ORDER BY md5('cut:' || CAST(q.doc_id AS VARCHAR)) ASC,
                            q.doc_id ASC) AS r,
               c.k - c.cut_above AS need
        FROM qb q, cut c WHERE q.qbin = c.cut
    ) WHERE r <= need
    """,
    doc="the CONTINUOUS-score 100-TB quality cut (two-phase: bounds "
    "pass, uniform 64-bin quantization, histogram boundary, map-side "
    "keep + hash-ranked boundary fill) — exactly floor(0.3*N) rows, "
    "kept scores within one bin width of the exact cutoff, fully "
    "deterministic so the oracle replays the quantization exactly "
    "instead of asserting an epsilon",
)
def text_classifier_top_fraction_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.sampling import top_fraction_approx
    from irstats2_spark.pipeline.textstats import classifier_vote_scores

    docs = load_table(spark, "documents", sf_dir)
    margins = classifier_vote_scores(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    ).select("doc_id", "vote_margin")
    return top_fraction_approx(margins, "vote_margin", 0.3, "doc_id", n_bins=64)


_SCORE_CALIBRATION_ORACLE = """
    SELECT doc_id, source, n_chars,
           percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars ASC
           ) AS score_pctl
    FROM documents
    """


@register(
    "sample_score_calibration_by_source",
    _SCORE_CALIBRATION_ORACLE,
    doc="cross-source score calibration (CCNet/FineWeb per-bucket "
    "idiom): within-source exact percentile of a quality score (here "
    "n_chars) so a single GLOBAL percentile cut keeps the top (1-p) of "
    "EVERY source — cutting the raw score instead keeps almost none of "
    "one source and almost all of another when their scales differ; "
    "ties share the min rank, so the value is partitioning- and "
    "engine-invariant (oracle: SQL percent_rank)",
)
def sample_score_calibration_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.sampling import calibrate_scores_by_source

    return calibrate_scores_by_source(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "source", "n_chars"
        ),
        "n_chars",
    )


@register(
    "sample_score_calibration_binned",
    _SCORE_CALIBRATION_ORACLE,
    doc="the 100-TB form of per-source score calibration: one tiny "
    "(source, score) histogram aggregate, a cumulative count over the "
    "HISTOGRAM rows (never the corpus), and a broadcast join assigns "
    "percentiles map-side — bit-identical to the window form (min-rank "
    "ties == exclusive cumulative count), verified by sharing its "
    "full percent_rank oracle",
)
def sample_score_calibration_binned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.sampling import (
        calibrate_scores_by_source_binned,
    )

    return calibrate_scores_by_source_binned(
        load_table(spark, "documents", sf_dir).select(
            "doc_id", "source", "n_chars"
        ),
        "n_chars",
    ).select("doc_id", "source", "n_chars", "score_pctl")


@register(
    "sample_score_calibration_merge",
    _SCORE_CALIBRATION_ORACLE,
    doc="the INCREMENTAL tier of per-source score calibration (r10 "
    "verdict #6): two disjoint batches' (source, score) histograms "
    "fold together with calibrate_scores_merge (counts add — the "
    "zonemap/gram-snapshot merge-law idiom) and the merged histogram "
    "assigns percentiles to the full corpus; bit-identical to the "
    "batch forms because only counts enter the arithmetic, verified "
    "by sharing their percent_rank oracle",
)
def sample_score_calibration_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.sampling import (
        calibrate_scores_apply,
        calibrate_scores_merge,
        score_histogram,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    batch_a = docs.filter(F.col("doc_id") % 3 == 0)
    batch_b = docs.filter(F.col("doc_id") % 3 != 0)
    merged = calibrate_scores_merge(
        score_histogram(batch_a, "n_chars"),
        score_histogram(batch_b, "n_chars"),
    )
    return calibrate_scores_apply(docs, merged, "n_chars").select(
        "doc_id", "source", "n_chars", "score_pctl"
    )


@register(
    "text_ngram_novelty",
    f"""
    WITH {_SHINGLES_SQL},
    df_counts AS (
        SELECT shingle, COUNT(DISTINCT doc_id) AS df FROM shingles GROUP BY 1
    ),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM shingles s JOIN df_counts c ON s.shingle = c.shingle
        GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_novel, 0) AS n_novel,
           COALESCE(ROUND(CAST(p.n_novel AS DOUBLE) / p.n_shingles, 6), 0.0)
               AS novelty
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    doc="per-doc k-gram novelty: fraction of a doc's distinct shingles "
    "appearing in NO other document — the informativeness signal "
    "(inverse of boilerplate) beside dup rate and quality in a "
    "curation decision; exact integer counts, one division",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import ngram_novelty

    return ngram_novelty(load_table(spark, "documents", sf_dir))


# DSIR importance weights: corpus tokens bucketed by salted md5 hash; the
# target domain is the 'src0' source slice of the same corpus.
_DSIR_TOKS = f"""
    dsir_toks AS (
        SELECT doc_id, source,
               {_bucket_sql("dsir:", key="w", buckets=1024)} AS bucket
        FROM (SELECT doc_id, source,
                     unnest(string_split({_NORM_SQL}, ' ')) AS w
              FROM documents) t
        WHERE length(w) > 0
    )
"""


# ... through dsir_scored(doc_id, n_tokens, lw_micro): reused verbatim by
# the select_corpus e2e composition below.
_DSIR_CTES = f"""{_DSIR_TOKS},
    dsir_raw AS (SELECT bucket, COUNT(*) AS c_raw FROM dsir_toks GROUP BY 1),
    dsir_tgt AS (SELECT bucket, COUNT(*) AS c_t FROM dsir_toks
            WHERE source = 'src0' GROUP BY 1),
    dsir_tot AS (SELECT (SELECT COUNT(*) FROM dsir_toks) AS t_raw,
                   (SELECT COUNT(*) FROM dsir_toks WHERE source = 'src0') AS t_t),
    dsir_stats AS (
        SELECT bucket,
               CAST(FLOOR(1e6 * ln(
                   (CAST(COALESCE(c_t, 0) + 1 AS DOUBLE) * (t_raw + 1024.0))
                   / (CAST(c_raw + 1 AS DOUBLE) * (t_t + 1024.0))) + 0.5)
               AS BIGINT) AS lq
        FROM dsir_raw LEFT JOIN dsir_tgt USING (bucket) CROSS JOIN dsir_tot
    ),
    dsir_scored AS (
        SELECT doc_id, COUNT(*) AS n_tokens, SUM(lq) AS lw_micro
        FROM dsir_toks JOIN dsir_stats USING (bucket) GROUP BY 1
    )
"""


@register(
    "select_dsir_weights",
    f"""
    WITH {_DSIR_CTES}
    SELECT d.doc_id,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(lw_micro, 0) AS BIGINT) AS lw_micro,
           ROUND(COALESCE(lw_micro, 0) / 1e6, 6) AS logweight
    FROM documents d LEFT JOIN dsir_scored USING (doc_id)
    """,
    doc="DSIR importance weights vs the src0 target domain: hashed-unigram "
    "log-likelihood ratios quantized to integer micro-nats, summed per doc",
)
def select_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import dsir_logweights

    docs = load_table(spark, "documents", sf_dir)
    return dsir_logweights(docs, docs.filter(F.col("source") == "src0"))


@register(
    "bpe_pair_counts",
    f"""
    WITH toks AS (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents
    ),
    words AS (
        SELECT w AS word, COUNT(*) AS freq FROM toks
        WHERE length(w) > 0 GROUP BY 1
    ),
    sym AS (
        SELECT freq, list_append(string_split(word, ''), '</w>') AS s
        FROM words
    ),
    pairs AS (
        SELECT s[i] AS left_sym, s[i+1] AS right_sym, SUM(freq) AS pair_count
        FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
              FROM sym) t
        GROUP BY 1, 2
    )
    SELECT left_sym, right_sym, CAST(pair_count AS BIGINT) AS pair_count
    FROM pairs
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
    doc="BPE training round 1: freq-weighted adjacent symbol-pair counts "
    "over the corpus word table (chars + </w> marker), top 20",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.bpe import pair_counts, symbolize, word_table

    words = word_table(load_table(spark, "documents", sf_dir))
    sym = words.select("freq", symbolize(F.col("word")).alias("symbols"))
    return pair_counts(sym).orderBy(
        F.col("pair_count").desc(),
        F.col("left_sym").asc(),
        F.col("right_sym").asc(),
    ).limit(20)


def _bpe_train_sql(n_merges: int) -> str:
    """Unroll the BPE trainer's fixed merge rounds as chained CTEs —
    the graph tier's bounded-round idiom, closing the catalog's last
    rows-only entry. Each round: adjacent-pair counts over the symbol
    table, the (count DESC, left, right) argmax (WHERE pair_count >= 2
    reproduces the trainer's early stop: an empty top cascades empty
    symbol tables, so later rounds emit no rows), then the merge
    itself. Greedy left-to-right NON-OVERLAPPING merge == SQL
    ``replace``'s scan semantics, made token-boundary-safe by doubling
    every separator first (' l  r ' consumes one boundary space each
    side and leaves one, so chained occurrences '…l r l r…' all merge,
    while 'xl  r' can never match ' l  r ' mid-symbol); a collapse +
    trim restores the single-space invariant for the next round."""
    ctes = [
        f"""bpe_words AS (
        SELECT w AS word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w FROM documents
        ) WHERE length(w) > 0 GROUP BY 1
    ),
    bpe_sym_0 AS (
        SELECT freq,
               array_to_string(list_append(string_split(word, ''), '</w>'),
                               ' ') AS s
        FROM bpe_words
    )"""
    ]
    for k in range(n_merges):
        ctes.append(
            f"""bpe_pc_{k} AS (
        SELECT sl[i] AS left_sym, sl[i+1] AS right_sym,
               SUM(freq) AS pair_count
        FROM (SELECT freq, sl, unnest(generate_series(1, len(sl) - 1)) AS i
              FROM (SELECT freq, string_split(s, ' ') AS sl
                    FROM bpe_sym_{k}))
        GROUP BY 1, 2
    ),
    bpe_top_{k} AS (
        SELECT left_sym, right_sym, pair_count
        FROM bpe_pc_{k} WHERE pair_count >= 2
        ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
    ),
    bpe_sym_{k + 1} AS (
        SELECT f.freq,
               trim(regexp_replace(
                   replace(replace(' ' || f.s || ' ', ' ', '  '),
                           ' ' || t.left_sym || '  ' || t.right_sym || ' ',
                           ' ' || t.left_sym || t.right_sym || ' '),
                   ' +', ' ', 'g')) AS s
        FROM bpe_sym_{k} f CROSS JOIN bpe_top_{k} t
    )"""
        )
    tops = "\n        UNION ALL ".join(
        f"SELECT {k} AS merge_rank, left_sym, right_sym, pair_count "
        f"FROM bpe_top_{k}"
        for k in range(n_merges)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT CAST(merge_rank AS INT) AS merge_rank, left_sym, right_sym,
           CAST(pair_count AS BIGINT) AS pair_count
    FROM ({tops})
    """


@register(
    "bpe_train_merges",
    _bpe_train_sql(8),
    doc="distributed BPE training, 8 merges over the corpus word table; "
    "oracle unrolls the 8 argmax->merge rounds as chained CTEs (the "
    "graph tier's bounded-round idiom); pytest additionally pins a "
    "clean-room sequential reference",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.bpe import bpe_train

    return bpe_train(load_table(spark, "documents", sf_dir), n_merges=8)


@register(
    "mix_by_temperature",
    f"""
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ),
    terms AS (
        SELECT source, n_docs,
               CAST(FLOOR(1e6 * POWER(CAST(n_docs AS DOUBLE), 0.5) + 0.5)
                    AS BIGINT) AS tq
        FROM counts
    ),
    z AS (SELECT SUM(tq) AS zq FROM terms),
    rates AS (
        SELECT source,
               FLOOR(LEAST(1.0, (100.0 * tq) / (CAST(zq AS DOUBLE) * n_docs))
                     * 1e6 + 0.5) / 1e6 AS rate
        FROM terms CROSS JOIN z
    )
    SELECT d.doc_id, d.source
    FROM (SELECT doc_id, source, {_bucket_sql('mix:')} AS b FROM documents) d
    JOIN rates r ON r.source = d.source
    WHERE d.b < r.rate * 10000
    """,
    doc="temperature-based source mixing (p ∝ n^0.5, ~100 expected docs): "
    "the multilingual-pretraining balancing recipe as computed rates "
    "into sample_by_rates; integer-quantized normalizer so the rates "
    "are partitioning-independent",
)
def mix_by_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import (
        sample_by_rates,
        temperature_mix_rates,
    )

    docs = load_table(spark, "documents", sf_dir)
    rates = temperature_mix_rates(docs, "source", alpha=0.5, target_total=100.0)
    return sample_by_rates(
        docs, rates.withColumnRenamed("stratum", "source"), "source", "doc_id"
    ).select("doc_id", "source")


def _temp_sweep_branch(alpha: float) -> str:
    return f"""
    SELECT CAST({alpha} AS DOUBLE) AS alpha, source AS stratum,
           CAST(n_docs AS BIGINT) AS n_docs,
           FLOOR(LEAST(1.0, (100.0 * tq) / (CAST(zq AS DOUBLE) * n_docs))
                 * 1e6 + 0.5) / 1e6 AS rate
    FROM (
        SELECT source, n_docs,
               CAST(FLOOR(1e6 * POWER(CAST(n_docs AS DOUBLE), {alpha}) + 0.5)
                    AS BIGINT) AS tq
        FROM tsw_counts
    ) t CROSS JOIN (
        SELECT SUM(CAST(FLOOR(1e6 * POWER(CAST(n_docs AS DOUBLE), {alpha})
                              + 0.5) AS BIGINT)) AS zq
        FROM tsw_counts
    ) z
    """


@register(
    "mix_temperature_sweep",
    f"""
    WITH tsw_counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    )
    {" UNION ALL ".join(_temp_sweep_branch(a) for a in (0.25, 0.5, 0.75, 1.0))}
    """,
    doc="temperature sweep: per-source sampling rates at alpha in "
    "{{0.25, 0.5, 0.75, 1.0}} in one table — the tuning curve behind "
    "the mixing temperature (at alpha=1 rates are uniform; lower alpha "
    "shifts budget to small sources until the cap bites); the stratum "
    "count subplan is shared across branches (AQE stage reuse)",
)
def mix_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import temperature_sweep_rates

    return temperature_sweep_rates(
        load_table(spark, "documents", sf_dir),
        "source",
        alphas=(0.25, 0.5, 0.75, 1.0),
        target_total=100.0,
    )


@register(
    "mix_by_temperature_tokens",
    f"""
    WITH mtok AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split({_NORM_SQL}, ' '),
                                        x -> length(x) > 0))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY 1
    ),
    mterm AS (
        SELECT source, n_tokens,
               CAST(FLOOR(1e6 * POWER(CAST(n_tokens AS DOUBLE), 0.5) + 0.5)
                    AS BIGINT) AS tq
        FROM mtok
    ),
    mzq AS (SELECT SUM(tq) AS zq FROM mterm)
    SELECT source AS stratum, n_tokens,
           FLOOR(CASE WHEN n_tokens > 0
                      THEN LEAST(1.0, (25000.0 * tq)
                                      / (CAST(zq AS DOUBLE) * n_tokens))
                      ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS rate
    FROM mterm CROSS JOIN mzq
    """,
    doc="temperature mixing rates at TOKEN grain (p ∝ tokens^0.5, "
    "~25k expected sampled tokens): the unit training budgets are "
    "denominated in — doc-grain rates over-sample long-doc strata; "
    "target sits where the cap genuinely bites (some strata 1.0, "
    "some below); tiny strata-sized plan, corpus never shuffles",
)
def mix_by_temperature_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import temperature_mix_rates_by_tokens
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir).select(
        "source", token_count(F.col("text")).cast("long").alias("tok")
    )
    return temperature_mix_rates_by_tokens(
        docs, "source", "tok", alpha=0.5, target_tokens=25000.0
    )


# Bigram-LM CTEs through lm_scored(doc_id, n_bigrams, nll_micro): reused
# verbatim by the select_corpus e2e composition below.
_LM_CTES = f"""
    lm_toks AS (
        SELECT doc_id, source,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    lm_big AS (
        SELECT doc_id, source, t[i] AS ctx, t[i+1] AS w
        FROM (SELECT doc_id, source, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM lm_toks WHERE len(t) >= 2) z
    ),
    lm_ref_big AS (
        SELECT ctx, w, COUNT(*) AS c_big FROM lm_big
        WHERE source = 'src0' GROUP BY 1, 2
    ),
    lm_ref_uni AS (
        SELECT u AS w, COUNT(*) AS c_uni
        FROM (SELECT unnest(t) AS u FROM lm_toks WHERE source = 'src0')
        GROUP BY 1
    ),
    lm_vocab AS (SELECT COUNT(*) AS v FROM lm_ref_uni),
    lm_scored AS (
        SELECT b.doc_id, COUNT(*) AS n_bigrams,
               -SUM(CAST(FLOOR(1e6 * ln(
                       CAST(COALESCE(rb.c_big, 0) + 1 AS DOUBLE)
                       / CAST(COALESCE(ru.c_uni, 0) + v AS DOUBLE)) + 0.5)
                    AS BIGINT)) AS nll_micro
        FROM lm_big b
        LEFT JOIN lm_ref_big rb ON rb.ctx = b.ctx AND rb.w = b.w
        LEFT JOIN lm_ref_uni ru ON ru.w = b.ctx
        CROSS JOIN lm_vocab
        GROUP BY 1
    )
"""


@register(
    "text_lm_nll_score",
    f"""
    WITH {_LM_CTES}
    SELECT d.doc_id,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(nll_micro, 0) AS BIGINT) AS nll_micro,
           ROUND(COALESCE(nll_micro / (n_bigrams * 1e6), 0.0), 6) AS avg_nll
    FROM documents d LEFT JOIN lm_scored USING (doc_id)
    """,
    doc="bigram-LM quality scores (CCNet-style perplexity filter): add-one "
    "bigram model trained on the src0 reference slice, per-doc average "
    "NLL in integer micro-nats",
)
def text_lm_nll_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import lm_nll_scores

    docs = load_table(spark, "documents", sf_dir)
    return lm_nll_scores(docs, docs.filter(F.col("source") == "src0"))


@register(
    "text_ccnet_perplexity_buckets",
    f"""
    WITH {_LM_CTES},
    cck AS (
        SELECT d.doc_id, d.lang,
               CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(CASE WHEN COALESCE(s.n_bigrams, 0) > 0
                    THEN (s.nll_micro * 1000000) // s.n_bigrams
                    ELSE 0 END AS BIGINT) AS nll_per_bigram_micro
        FROM documents d LEFT JOIN lm_scored s USING (doc_id)
    ),
    ccb AS (
        SELECT *, NTILE(3) OVER (PARTITION BY lang
                      ORDER BY nll_per_bigram_micro ASC, doc_id ASC) AS bucket
        FROM cck
    )
    SELECT doc_id, lang, n_bigrams, nll_per_bigram_micro,
           CAST(bucket AS INT) AS bucket,
           CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier
    FROM ccb
    """,
    doc="CCNet-style perplexity tiers: per-LANGUAGE head/middle/tail "
    "NTILE over the reference-LM per-bigram NLL (global cuts would "
    "empty whole languages); the sort key is BIGINT floor-division "
    "micro-nats so ordering and tile boundaries are engine-exact",
)
def text_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import ccnet_perplexity_buckets

    docs = load_table(spark, "documents", sf_dir)
    return ccnet_perplexity_buckets(docs, docs.filter(F.col("source") == "src0"))


@register(
    "dedup_ngram_containment",
    f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    -- mirror the engine's default max_docs_per_shingle=64 boilerplate cap
    capped AS (SELECT shingle FROM shingles GROUP BY 1 HAVING COUNT(*) <= 64),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN capped c ON c.shingle = a.shingle
        GROUP BY 1, 2
    ),
    both_dirs AS (
        SELECT doc_a AS doc_id, doc_b AS contained_in,
               ROUND(n_common / sa.n, 6) AS containment
        FROM common JOIN sizes sa ON sa.doc_id = doc_a
        UNION ALL
        SELECT doc_b AS doc_id, doc_a AS contained_in,
               ROUND(n_common / sb.n, 6) AS containment
        FROM common JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT doc_id, contained_in, containment
    FROM both_dirs WHERE containment >= 0.6
    """,
    doc="asymmetric shingle containment |A∩B|/|A| >= 0.6: catches short "
    "docs duplicated inside longer ones where Jaccard vanishes",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.6
    )


@register(
    "dedup_lsh_recall_audit",
    f"""
    WITH {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS sig FROM sig
        UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
        UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
        UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
                                    AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    -- truth side mirrors ngram_jaccard_pairs' default boilerplate cap
    capped AS (SELECT shingle FROM shingles GROUP BY 1 HAVING COUNT(*) <= 64),
    all_common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN capped c ON c.shingle = a.shingle
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b,
               ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM all_common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
    )
    SELECT t.doc_a, t.doc_b, t.jaccard, (c.doc_a IS NOT NULL) AS found
    FROM truth t
    LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    """,
    doc="LSH recall audit: every exact-Jaccard>=0.5 pair tagged with "
    "whether banded MinHash blocking surfaced it — measured recall for "
    "tuning bands/n_hashes, misses inspectable per pair",
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import lsh_recall_audit

    return lsh_recall_audit(load_table(spark, "documents", sf_dir))


@register(
    "dedup_simhash_quality_audit",
    f"""
    WITH {_SHINGLES_SQL},
    {_simhash64_cte()},
    qsizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    qcapped AS (
        SELECT shingle FROM shingles GROUP BY 1 HAVING COUNT(*) <= 64
    ),
    qcommon AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN qcapped c ON c.shingle = a.shingle
        GROUP BY 1, 2
    ),
    qtruth AS (
        SELECT doc_a, doc_b,
               ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM qcommon
        JOIN qsizes sa ON sa.doc_id = doc_a
        JOIN qsizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
    )
    SELECT t.doc_a, t.doc_b, t.jaccard,
           CAST(bit_count(xor(a.sim_lo, b.sim_lo))
                + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming,
           (bit_count(xor(a.sim_lo, b.sim_lo))
            + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3) AS found
    FROM qtruth t
    JOIN sigs64 a ON a.doc_id = t.doc_a
    JOIN sigs64 b ON b.doc_id = t.doc_b
    """,
    doc="SimHash quality audit: every exact-Jaccard>=0.5 pair tagged "
    "with its 64-bit Hamming distance and whether the banded miner "
    "(hamming<=3) reports it — the MODEL-gap number (SimHash "
    "approximates cosine, not Jaccard) to check before trusting the "
    "two-int signature tier; the LSH audit's counterpart for the "
    "SimHash family",
)
def dedup_simhash_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import simhash_quality_audit

    return simhash_quality_audit(load_table(spark, "documents", sf_dir))


@register(
    "pipeline_select_e2e",
    f"""
    WITH {_DSIR_CTES},
    {_LM_CTES},
    sel_scored AS (
        SELECT d.doc_id, d.source,
               CAST(CASE WHEN COALESCE(ds.n_tokens, 0) = 0
                           OR COALESCE(lm.n_bigrams, 0) = 0
                    THEN {-(1 << 62)}
                    ELSE FLOOR(ds.lw_micro / ds.n_tokens)
                         - FLOOR(lm.nll_micro / lm.n_bigrams)
                    END AS BIGINT) AS select_score
        FROM documents d
        LEFT JOIN dsir_scored ds USING (doc_id)
        LEFT JOIN lm_scored lm USING (doc_id)
    ),
    sel_total AS (SELECT FLOOR(COUNT(*) * 0.5) AS k FROM sel_scored),
    sel_kept AS (
        SELECT doc_id, source, select_score FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY select_score DESC, doc_id ASC) AS rn
            FROM sel_scored) ranked CROSS JOIN sel_total
        WHERE rn <= k
    ),
    mix_counts AS (SELECT source, COUNT(*) AS n_docs FROM sel_kept GROUP BY 1),
    mix_terms AS (
        SELECT source, n_docs,
               CAST(FLOOR(1e6 * POWER(CAST(n_docs AS DOUBLE), 0.5) + 0.5)
                    AS BIGINT) AS tq
        FROM mix_counts
    ),
    mix_z AS (SELECT SUM(tq) AS zq FROM mix_terms),
    mix_rates AS (
        SELECT source,
               FLOOR(LEAST(1.0, (100.0 * tq) / (CAST(zq AS DOUBLE) * n_docs))
                     * 1e6 + 0.5) / 1e6 AS rate
        FROM mix_terms CROSS JOIN mix_z
    )
    SELECT k.doc_id, k.source, k.select_score
    FROM (SELECT *, {_bucket_sql('mix:')} AS b FROM sel_kept) k
    JOIN mix_rates r ON r.source = k.source
    WHERE k.b < r.rate * 10000
    """,
    doc="model-based selection e2e: per-token DSIR domain weight minus "
    "per-bigram LM NLL (exact integer micro-nats, unscorable docs "
    "sentinel-ranked last) -> global top-50% cut -> temperature mix over "
    "the survivors; one oracle replays the whole composition",
)
def pipeline_select_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import select_corpus

    docs = load_table(spark, "documents", sf_dir)
    src0 = docs.filter(F.col("source") == "src0")
    return select_corpus(docs, target=src0, reference=src0, frac=0.5)


def _rp_proj_sql(d_in: int = 64, d_out: int = 16) -> str:
    """SQL expression list mirroring similarity.sign_random_projection:
    one integer sum per output dim over the quantized input, with the
    identical md5-derived ±1 literals inlined."""
    from irstats2_spark.pipeline.similarity import rp_signs

    signs = rp_signs(d_out, d_in)
    qv = _Q.format(v="embedding")
    terms = []
    for j in range(d_out):
        lits = "[" + ", ".join(str(s) for s in signs[j]) + "]"
        terms.append(
            f"CAST(list_sum(list_transform(list_zip({qv}, {lits}),"
            f" p -> p[1]*p[2])) AS BIGINT)"
        )
    return "[" + ",\n           ".join(terms) + "]"


@register(
    "embedding_random_projection",
    f"""
    WITH rp AS (SELECT vec_id, {_rp_proj_sql()} AS proj FROM embeddings)
    SELECT vec_id, CAST(i - 1 AS INT) AS dim, proj[i] AS value
    FROM (SELECT vec_id, proj, generate_subscripts(proj, 1) AS i
          FROM rp) t
    """,
    doc="sign random projection 64->16 dims: exact integer sums over the "
    "quantized input against a deterministic md5-derived ±1 matrix "
    "(exploded to rows — the gate convention for array outputs)",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import sign_random_projection

    proj = sign_random_projection(
        load_table(spark, "embeddings", sf_dir), d_in=64, d_out=16
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim", "value")
    )


@register(
    "similarity_rp_topk",
    f"""
    WITH projected AS (
        SELECT vec_id,
               list_transform({_rp_proj_sql()}, x -> CAST(x AS DOUBLE)) AS proj
        FROM embeddings
    ),
    rp_queries AS (
        SELECT vec_id AS query_id, proj AS qv FROM projected WHERE vec_id < 3
    ),
    rp_scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND({_qcos('e.proj', 'q.qv')}, 6) AS cosine
        FROM projected e CROSS JOIN rp_queries q
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        FROM rp_scored
    ) WHERE rank <= 5
    """,
    doc="ANN in the 16-dim projected space: exact cosine top-5 for 3 query "
    "vectors over the sign-projection of the corpus — the reduced-dim "
    "tier composes with the unchanged top-k machinery",
)
def similarity_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import (
        brute_force_topk,
        sign_random_projection,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    proj = sign_random_projection(emb, d_in=64, d_out=16).select(
        "vec_id",
        F.transform(F.col("proj"), lambda x: x.cast("double")).alias("embedding"),
    )
    queries = proj.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(proj, queries, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


@register(
    "corpus_shard_manifest",
    f"""
    WITH tagged AS (
        SELECT {_bucket_sql("shard:", buckets=8)} AS shard,
               md5(text) AS h,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               x -> length(x) > 0)) AS nt
        FROM documents
    )
    SELECT CAST(shard AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           md5(string_agg(h, '' ORDER BY h)) AS content_checksum
    FROM tagged GROUP BY 1
    """,
    doc="dataset release manifest: deterministic shard assignment with "
    "per-shard doc/token counts and an order-free md5 content checksum "
    "(sorted doc hashes) — byte-identical across engines/partitionings",
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import shard_manifest

    return shard_manifest(load_table(spark, "documents", sf_dir))


@register(
    "text_chunk_windows",
    f"""
    WITH ctoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    idx AS (
        SELECT doc_id, t,
               generate_series(0, GREATEST(1,
                   CAST(CEIL((len(t) - 16) / 48.0) AS INT)) - 1) AS js
        FROM ctoks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(j AS INT) AS chunk_idx,
           CAST(len(t[j*48 + 1 : j*48 + 64]) AS INT) AS n_chunk_tokens,
           array_to_string(t[j*48 + 1 : j*48 + 64], ' ') AS chunk_text
    FROM (SELECT doc_id, t, unnest(js) AS j FROM idx) z
    """,
    doc="RAG chunking: 64-token windows with 16-token overlap (stride 48) "
    "over the normalized token stream; short docs yield one chunk",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import chunk_documents

    return chunk_documents(
        load_table(spark, "documents", sf_dir), chunk_tokens=64, overlap=16
    )


@register(
    "pipeline_rag_index_e2e",
    f"""
    WITH ragtoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    ragidx AS (
        SELECT doc_id, t,
               generate_series(0, GREATEST(1,
                   CAST(CEIL((len(t) - 16) / 48.0) AS INT)) - 1) AS js
        FROM ragtoks WHERE len(t) > 0
    ),
    ragchunks AS (
        SELECT doc_id * 1000 + j AS vec_id,
               array_to_string(t[j*48 + 1 : j*48 + 64], ' ') AS chunk_text
        FROM (SELECT doc_id, t, unnest(js) AS j FROM ragidx) z
    ),
    ragdims AS (SELECT unnest(generate_series(0, 7)) AS dim),
    ragx AS (
        SELECT vec_id, dim,
               CAST(concat('0x', substring(md5(chunk_text || ':' || dim), 1, 8))
                    AS BIGINT) % 2000 - 1000 AS xi
        FROM ragchunks, ragdims
    ),
    ragnorms AS (SELECT vec_id, sqrt(SUM(xi * xi)) AS nrm FROM ragx GROUP BY 1),
    ragemb AS (
        SELECT x.vec_id, x.dim,
               ROUND(CASE WHEN nrm = 0 THEN xi ELSE xi / nrm END, 6) AS value
        FROM ragx x JOIN ragnorms USING (vec_id)
    ),
    ragvecs AS (
        SELECT vec_id, list(CAST(value AS FLOAT) ORDER BY dim) AS emb_v
        FROM ragemb GROUP BY 1
    ),
    ragcents AS (
        SELECT vec_id AS centroid_id, emb_v AS cv
        FROM ragvecs ORDER BY vec_id LIMIT 4
    ),
    ragscored AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND({_qcos('e.emb_v', 'c.cv')}, 6) AS centroid_cosine
        FROM ragvecs e CROSS JOIN ragcents c
    )
    SELECT vec_id, centroid_id, centroid_cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY centroid_cosine DESC, centroid_id ASC) AS rn
        FROM ragscored
    ) WHERE rn = 1
    """,
    doc="RAG index build e2e: overlapping token-window chunking -> stubbed "
    "chunk embedding (float32 vectors) -> IVF nearest-centroid filing, "
    "as one composition — chunk ids, 6dp embed rounding, and float32 "
    "storage must agree across the whole chain; one oracle replays it",
)
def pipeline_rag_index_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eager: checkpoint the assignment so the embed pin is releasable
    # here — nothing stays pinned across query boundaries
    out, vecs = _rag_index_lazy(spark, sf_dir)
    out = out.localCheckpoint()
    vecs.unpersist()
    return out


def _rag_index_lazy(spark: SparkSession, sf_dir: str):
    """The rag-index plan BEFORE materialization, plus its embed pin —
    split out so the plan-quality pin (exchanges never carry chunk
    text) can inspect the lazy form the checkpoint materializes."""
    from irstats2_spark.pipeline.embed import embed_text_stub, embedded_as_vectors
    from irstats2_spark.pipeline.similarity import ivf_assign
    from irstats2_spark.pipeline.textstats import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=16).select(
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).cast("long").alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    # persist: inference is the expensive stage; centroid selection and
    # assignment both re-read it (the parquet-materialization stand-in)
    vecs = embedded_as_vectors(embed_text_stub(chunks, dim=8)).persist()
    cents = vecs.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    out = ivf_assign(vecs, cents).select(
        "vec_id", "centroid_id", "centroid_cosine"
    )
    return out, vecs


@register(
    "text_dedup_chunks_inplace",
    f"""
    WITH rtoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    rchunks AS (
        SELECT doc_id,
               CASE WHEN len(t) > 0 THEN
                   list_transform(
                       generate_series(0, GREATEST(
                           CAST(CEIL(len(t) / 16.0) AS INT), 1) - 1),
                       j -> array_to_string(t[j*16 + 1 : j*16 + 16], ' '))
               ELSE [] END AS chunks
        FROM rtoks
    ),
    rkept AS (
        SELECT doc_id, chunks,
               list_filter(chunks,
                           (x, i) -> NOT list_contains(chunks[1:i-1], x)) AS kept
        FROM rchunks
    )
    SELECT doc_id,
           CAST(len(chunks) AS INT) AS n_chunks,
           CAST(len(kept) AS INT) AS n_kept,
           array_to_string(kept, ' ') AS new_text
    FROM rkept
    """,
    doc="in-place intra-doc dedup transform: non-overlapping 16-token "
    "chunks, first occurrence wins, text rebuilt from survivors",
)
def text_dedup_chunks_inplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import remove_repeated_chunks

    return remove_repeated_chunks(load_table(spark, "documents", sf_dir))


@register(
    "mix_with_epochs",
    f"""
    WITH ep_counts AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1
    ),
    ep_terms AS (
        SELECT source, n_docs,
               CAST(FLOOR(1e6 * POWER(CAST(n_docs AS DOUBLE), 0.5) + 0.5)
                    AS BIGINT) AS tq
        FROM ep_counts
    ),
    ep_z AS (SELECT SUM(tq) AS zq FROM ep_terms),
    ep_rates AS (
        SELECT source,
               FLOOR(((1000.0 * tq) / (CAST(zq AS DOUBLE) * n_docs))
                     * 1e6 + 0.5) / 1e6 AS rate
        FROM ep_terms CROSS JOIN ep_z
    )
    SELECT d.doc_id, d.source, CAST(n.ci AS INT) AS copy_idx
    FROM (SELECT doc_id, source, {_bucket_sql('epoch:')} AS b
          FROM documents) d
    JOIN ep_rates r ON r.source = d.source
    -- series bound derived from the actual max rate (a fixed literal cap
    -- silently diverged from the engine's unbounded sequence() whenever a
    -- stratum was small enough to push its rate past the cap)
    JOIN (SELECT unnest(generate_series(0,
              (SELECT CAST(CEIL(MAX(rate)) AS BIGINT) FROM ep_rates))) AS ci) n
      ON n.ci < FLOOR(r.rate)
            + CASE WHEN d.b < (r.rate - FLOOR(r.rate)) * 10000
                   THEN 1 ELSE 0 END
    """,
    doc="temperature mixing WITH fractional epochs: uncapped rates feed "
    "replicate_by_rates, so small sources repeat (rate 2.3 = every doc "
    "twice + a deterministic 30% third copy) while big ones downsample "
    "— the data-recipe upsampling knob in one operator",
)
def mix_with_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import (
        replicate_by_rates,
        temperature_mix_rates,
    )

    docs = load_table(spark, "documents", sf_dir)
    rates = temperature_mix_rates(
        docs, "source", alpha=0.5, target_total=1000.0, cap_at_one=False
    )
    return replicate_by_rates(
        docs, rates.withColumnRenamed("stratum", "source"), "source", "doc_id"
    ).select("doc_id", "source", "copy_idx")


@register(
    "mix_with_epochs_tokens",
    f"""
    WITH ept AS (
        SELECT source,
               CAST(SUM(len(list_filter(string_split({_NORM_SQL}, ' '),
                                        x -> length(x) > 0))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY 1
    ),
    eptt AS (
        SELECT source, n_tokens,
               CAST(FLOOR(1e6 * POWER(CAST(n_tokens AS DOUBLE), 0.5) + 0.5)
                    AS BIGINT) AS tq
        FROM ept
    ),
    eptz AS (SELECT SUM(tq) AS zq FROM eptt),
    eptr AS (
        SELECT source,
               FLOOR(CASE WHEN n_tokens > 0
                          THEN (60000.0 * tq)
                               / (CAST(zq AS DOUBLE) * n_tokens)
                          ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS rate
        FROM eptt CROSS JOIN eptz
    )
    SELECT d.doc_id, d.source, CAST(n.ci AS INT) AS copy_idx
    FROM (SELECT doc_id, source, {_bucket_sql('epoch:')} AS b
          FROM documents) d
    JOIN eptr r ON r.source = d.source
    JOIN (SELECT unnest(generate_series(0,
              (SELECT CAST(CEIL(MAX(rate)) AS BIGINT) FROM eptr))) AS ci) n
      ON n.ci < FLOOR(r.rate)
            + CASE WHEN d.b < (r.rate - FLOOR(r.rate)) * 10000
                   THEN 1 ELSE 0 END
    """,
    doc="fractional epochs at TOKEN grain: uncapped token-share "
    "temperature rates (~60k target over a ~27k corpus, so every "
    "source upsamples past one epoch) feed replicate_by_rates — the "
    "token-billed form of the data-recipe repeat knob; series bound "
    "derived from CEIL(MAX(rate)) like the doc-grain row",
)
def mix_with_epochs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import (
        replicate_by_rates,
        temperature_mix_rates_by_tokens,
    )
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "source", token_count(F.col("text")).cast("long").alias("tok")
    )
    rates = temperature_mix_rates_by_tokens(
        sized, "source", "tok", alpha=0.5, target_tokens=60000.0,
        cap_at_one=False,
    )
    return replicate_by_rates(
        docs, rates.withColumnRenamed("stratum", "source"), "source", "doc_id"
    ).select("doc_id", "source", "copy_idx")


@register(
    "dedup_cluster_quality_keepers",
    f"""
    WITH RECURSIVE {_LSH_VERIFIED_SQL},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, m) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    comp AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node),
    qscore AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                                    x -> length(x) > 0)) AS BIGINT) AS score
        FROM documents
    )
    SELECT c.doc_id, c.cluster_id, q.score,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.score DESC, c.doc_id ASC) = 1)
           AS is_keeper
    FROM comp c JOIN qscore q USING (doc_id)
    """,
    doc="quality-aware near-dup keepers: per LSH cluster keep the "
    "highest-token-count member (min-id tiebreak) instead of min id — "
    "dedup discards the worse copy, not the later crawl",
)
def dedup_cluster_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import (
        cluster_keepers_by_score,
        connected_components,
        minhash_lsh_dedup,
    )
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    comp = connected_components(pairs)
    scores = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("score")
    )
    return cluster_keepers_by_score(comp, scores)


@register(
    "sample_split_leakage_safe",
    f"""
    WITH RECURSIVE {_simhash64_cte()},
    ls_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs64 a JOIN sigs64 b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    ),
    ls_edges AS (
        SELECT doc_a AS a, doc_b AS b FROM ls_pairs
        UNION
        SELECT doc_b, doc_a FROM ls_pairs
    ),
    ls_reach(node, m) AS (
        SELECT DISTINCT a, a FROM ls_edges
        UNION
        SELECT r.node, e.b FROM ls_reach r JOIN ls_edges e ON r.m = e.a
    ),
    ls_comp AS (
        SELECT node AS doc_id, MIN(m) AS cluster_id FROM ls_reach GROUP BY node
    ),
    ls_rep AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_rep
        FROM documents d LEFT JOIN ls_comp c USING (doc_id)
    )
    SELECT doc_id, cluster_rep, bucket,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_rep,
                 {_bucket_sql('split:', 'cluster_rep')} AS bucket
          FROM ls_rep)
    """,
    doc="leakage-safe train/val/test split: hash the near-dup CLUSTER "
    "representative (SimHash pairs -> connected components -> min-id "
    "rep), so a doc and its near-copy always land in the SAME split — "
    "closes the eval-contamination hole plain id-hash splitting leaves; "
    "singletons reduce to sample_split_assign exactly",
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import split_assign_leakage_safe

    docs = load_table(spark, "documents", sf_dir)
    # shared memoized prefixes (see _simhash_banded_pairs /
    # _simhash_components): this query and the near-dup maintenance
    # chain consume the identical pair list AND its component closure
    pairs = _simhash_banded_pairs(spark, sf_dir)
    return split_assign_leakage_safe(
        docs, pairs, components=_simhash_components(spark, sf_dir)
    )

@register(
    "dedup_ngram_idf_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    idf_df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY 1),
    idf_w AS (
        SELECT s.doc_id, s.shingle,
               CAST(FLOOR(1e6 * ln(
                   (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                   / CAST(df AS DOUBLE)) + 0.5) AS BIGINT) AS wq
        FROM shingles s JOIN idf_df USING (shingle)
    ),
    idf_common AS (
        -- mirror the engine's default max_docs_per_shingle=64 cap:
        -- co-occurrence weight sums only shingles shared by <= 64 docs
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.wq) AS w_common
        FROM idf_w a JOIN idf_w b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN idf_df d ON d.shingle = a.shingle AND d.df <= 64
        GROUP BY 1, 2
    ),
    idf_tot AS (SELECT doc_id, SUM(wq) AS tw FROM idf_w GROUP BY 1)
    SELECT doc_a, doc_b,
           ROUND(w_common / CAST(ta.tw + tb.tw - w_common AS DOUBLE), 6)
               AS idf_jaccard
    FROM idf_common
    JOIN idf_tot ta ON ta.doc_id = doc_a
    JOIN idf_tot tb ON tb.doc_id = doc_b
    WHERE ROUND(w_common / CAST(ta.tw + tb.tw - w_common AS DOUBLE), 6) >= 0.5
    """,
    doc="IDF-weighted shingle Jaccard >= 0.5: rare-shingle overlap "
    "outweighs boilerplate overlap (integer micro-nat idf weights, "
    "one extra df groupBy over the shared shingle scan)",
)
def dedup_ngram_idf_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import ngram_idf_jaccard_pairs

    return ngram_idf_jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5
    )


@register(
    "pipeline_neardup_maintenance_e2e",
    f"""
    WITH RECURSIVE {_simhash64_cte()},
    nd_pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sigs64 a JOIN sigs64 b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM nd_pairs
        UNION
        SELECT doc_b, doc_a FROM nd_pairs
    ),
    reach(node, m) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.m = e.a
    ),
    comp AS (SELECT node AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY node),
    qscore AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                                    x -> length(x) > 0)) AS BIGINT) AS score
        FROM documents
    )
    SELECT c.doc_id, c.cluster_id, q.score,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.score DESC, c.doc_id ASC) = 1)
           AS is_keeper
    FROM comp c JOIN qscore q USING (doc_id)
    """,
    doc="near-dup maintenance composition: SimHash banded pairs -> "
    "connected components -> quality-aware keepers, as ONE chain — the "
    "nightly corpus-maintenance job. The oracle replays the whole chain "
    "(all-pairs Hamming, recursive closure, windowed keeper cut), so the "
    "contract seams BETWEEN the three green operators are what's gated: "
    "keeper uniqueness under multi-band pair dedup and score ties, and "
    "cluster ids stable across the banded/all-pairs equivalence.",
)
def pipeline_neardup_maintenance_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash_hamming_pairs -> connected_components ->
    cluster_keepers_by_score over ``documents`` — the operators are
    individually green (dedup_simhash_hamming, dedup_clusters,
    dedup_cluster_quality_keepers); this entry gates their composition.

    Scale shape: the banded self-join streams pairs (no bucket
    collect), CC state is ∝ dup-pair nodes, keeper choice is one join +
    one struct-max window per cluster — nothing here touches the
    full corpus after the signature map."""
    from irstats2_spark.pipeline.dedup import cluster_keepers_by_score
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    # shared memoized prefixes (see _simhash_banded_pairs /
    # _simhash_components): this chain and the leakage-safe split
    # consume the identical pair list and component closure
    comp = _simhash_components(spark, sf_dir)
    scores = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("score")
    )
    return cluster_keepers_by_score(comp, scores)


@register(
    "corpus_shard_manifest_hierarchical",
    f"""
    WITH tagged AS (
        SELECT {_bucket_sql("shard:", buckets=8)} AS shard,
               md5(text) AS h,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               x -> length(x) > 0)) AS nt
        FROM documents
    ),
    ranked AS (
        SELECT shard, h, nt,
               CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h)
                           - 1) / 64.0) AS INT) AS ck
        FROM tagged
    ),
    chunks AS (
        SELECT shard, ck, COUNT(*) AS n, SUM(nt) AS t,
               md5(string_agg(h, '' ORDER BY h)) AS cd
        FROM ranked GROUP BY 1, 2
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CASE WHEN COUNT(*) = 1 THEN MIN(cd)
                ELSE md5(string_agg(cd, '' ORDER BY ck)) END
               AS content_checksum
    FROM chunks GROUP BY 1
    """,
    doc="hierarchical (md5-of-md5s) release manifest: sorted doc hashes "
    "chunked at rank boundaries, chunk digests hashed in order — the "
    "billion-doc-shard form of corpus_shard_manifest (no task holds more "
    "than one chunk); one-chunk shards degrade to the flat checksum "
    "byte-identically",
)
def corpus_shard_manifest_hierarchical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.curate import shard_manifest_hierarchical

    # chunk_size=64: a few hundred docs per shard at sf0.01 => several
    # chunks, so the gate exercises the two-level digest path
    return shard_manifest_hierarchical(
        load_table(spark, "documents", sf_dir), n_shards=8, chunk_size=64
    )


@register(
    "corpus_compaction_plan",
    f"""
    WITH cp_manifest AS (
        SELECT CAST({_bucket_sql("shard:", buckets=8)} AS INT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(text)) AS BIGINT) AS n_bytes
        FROM documents GROUP BY 1
    ),
    cp_plan AS (
        SELECT shard, n_docs, n_bytes,
               CAST(FLOOR(COALESCE(SUM(n_bytes) OVER (ORDER BY shard ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 40000.0) AS INT) AS target_file
        FROM cp_manifest
    )
    SELECT shard, n_docs, n_bytes, target_file,
           CAST(SUM(n_bytes) OVER (PARTITION BY target_file) AS BIGINT)
               AS file_bytes,
           CAST(COUNT(*) OVER (PARTITION BY target_file) AS BIGINT)
               AS n_shards_in_file
    FROM cp_plan
    """,
    doc="small-file compaction plan (Delta/Iceberg OPTIMIZE's bin-pack, "
    "engine-exact): file id = floor(cumulative bytes before / target) "
    "over shards in shard order — metadata-only, the corpus is never "
    "read; the plan drives a merge-rewrite of each target_file group",
)
def corpus_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import shard_compaction_plan
    from irstats2_spark.pipeline.sampling import hash_bucket

    docs = load_table(spark, "documents", sf_dir)
    manifest = docs.groupBy(
        hash_bucket(F.col("doc_id"), 8, "shard:").cast("int").alias("shard")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_bytes"),
    )
    # target 40 kB vs ~19 kB/shard at sf0.01 => multi-shard files AND
    # multi-file output, so both grouping directions are exercised
    return shard_compaction_plan(manifest, target_bytes=40_000)


# Shared chunking fragment (ends in CTE ``cchunks(doc_id, j, chunk)`` of
# non-overlapping 16-token chunks, empty docs contributing no rows) —
# mirrors ``textstats.fixed_chunk_array`` for the cross-doc chunk family.
_CHUNKS16_SQL = f"""
    ctoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    cchunks AS (
        SELECT doc_id, j,
               array_to_string(t[j*16 + 1 : j*16 + 16], ' ') AS chunk
        FROM ctoks,
             LATERAL (SELECT unnest(generate_series(0, GREATEST(
                 CAST(CEIL(len(t) / 16.0) AS INT), 1) - 1)) AS j) s
        WHERE len(t) > 0
    )
"""


@register(
    "text_frequent_chunks",
    f"""
    WITH {_CHUNKS16_SQL}
    SELECT md5(chunk) AS chunk_hash,
           MIN(chunk) AS chunk,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_total
    FROM cchunks
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc="cross-document repeated-passage miner: exact 16-token chunks "
    "appearing in >= 2 distinct docs, with doc and occurrence counts — "
    "the corpus-level boilerplate report whole-doc dedup misses",
)
def text_frequent_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import corpus_frequent_chunks

    return corpus_frequent_chunks(
        load_table(spark, "documents", sf_dir), chunk_tokens=16, min_docs=2
    )


@register(
    "text_remove_frequent_chunks",
    f"""
    WITH {_CHUNKS16_SQL},
    cfreq AS (
        SELECT md5(chunk) AS h FROM cchunks
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    ckept AS (
        SELECT doc_id, j, chunk FROM cchunks
        WHERE md5(chunk) NOT IN (SELECT h FROM cfreq)
    ),
    crebuilt AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               array_to_string(list(chunk ORDER BY j), ' ') AS new_text
        FROM ckept GROUP BY 1
    ),
    ctotals AS (
        SELECT doc_id,
               CASE WHEN len(t) > 0 THEN GREATEST(
                   CAST(CEIL(len(t) / 16.0) AS INT), 1)
               ELSE 0 END AS n_chunks
        FROM ctoks
    )
    SELECT t.doc_id, CAST(t.n_chunks AS INT) AS n_chunks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.new_text, '') AS new_text
    FROM ctotals t LEFT JOIN crebuilt r USING (doc_id)
    """,
    doc="cross-document boilerplate removal: rewrite every doc dropping "
    "16-token chunks shared by >= 2 distinct docs (C4's repeated-line "
    "rule at corpus scope); frequent set broadcast, one doc-keyed "
    "rebuild shuffle",
)
def text_remove_frequent_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import remove_corpus_frequent_chunks

    return remove_corpus_frequent_chunks(
        load_table(spark, "documents", sf_dir), chunk_tokens=16, min_docs=2
    )


@register(
    "text_remove_frequent_chunks_incremental",
    f"""
    WITH isrc AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents WHERE doc_id < 300
    ),
    isrcch AS (
        SELECT doc_id, array_to_string(t[j*16 + 1 : j*16 + 16], ' ') AS chunk
        FROM isrc,
             LATERAL (SELECT unnest(generate_series(0, GREATEST(
                 CAST(CEIL(len(t) / 16.0) AS INT), 1) - 1)) AS j) s
        WHERE len(t) > 0
    ),
    ifreq AS (
        SELECT md5(chunk) AS h FROM isrcch
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    inew AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents WHERE doc_id >= 300
    ),
    inewch AS (
        SELECT doc_id, j, array_to_string(t[j*16 + 1 : j*16 + 16], ' ') AS chunk
        FROM inew,
             LATERAL (SELECT unnest(generate_series(0, GREATEST(
                 CAST(CEIL(len(t) / 16.0) AS INT), 1) - 1)) AS j) s
        WHERE len(t) > 0
    ),
    ikept AS (
        SELECT doc_id, j, chunk FROM inewch
        WHERE md5(chunk) NOT IN (SELECT h FROM ifreq)
    ),
    irebuilt AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               array_to_string(list(chunk ORDER BY j), ' ') AS new_text
        FROM ikept GROUP BY 1
    ),
    itotals AS (
        SELECT doc_id,
               CASE WHEN len(t) > 0 THEN GREATEST(
                   CAST(CEIL(len(t) / 16.0) AS INT), 1)
               ELSE 0 END AS n_chunks
        FROM inew
    )
    SELECT t.doc_id, CAST(t.n_chunks AS INT) AS n_chunks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.new_text, '') AS new_text
    FROM itotals t LEFT JOIN irebuilt r USING (doc_id)
    """,
    doc="incremental boilerplate removal: chunk set mined ONCE on the "
    "historical slice (doc_id < 300), incoming docs (>= 300) rewritten "
    "against it as a zero-shuffle per-row map — the mine-nightly/"
    "clean-on-arrival loop; streaming twin in pipeline.streams.clean_chunks_stream",
)
def text_remove_frequent_chunks_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.textstats import (
        corpus_frequent_chunks,
        remove_listed_chunks,
    )

    docs = load_table(spark, "documents", sf_dir)
    # boilerplate-grade set: small by contract, collected once offline
    snapshot_hashes = [
        r.chunk_hash
        for r in corpus_frequent_chunks(
            docs.filter(F.col("doc_id") < 300), chunk_tokens=16, min_docs=2
        )
        .select("chunk_hash")
        .collect()
    ]
    return remove_listed_chunks(
        docs.filter(F.col("doc_id") >= 300), snapshot_hashes, chunk_tokens=16
    )


@register(
    "corpus_length_histogram",
    f"""
    WITH lhn AS (
        SELECT CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                                    x -> length(x) > 0)) AS BIGINT) AS n
        FROM documents
    )
    SELECT CAST(CASE WHEN n > 0 THEN length(bin(n)) ELSE 0 END AS INT)
               AS bucket,
           CAST(CASE WHEN n > 0
                     THEN (CAST(1 AS BIGINT) << (length(bin(n)) - 1))
                     ELSE 0 END AS BIGINT) AS lo,
           CAST(CASE WHEN n > 0
                     THEN (CAST(1 AS BIGINT) << length(bin(n))) - 1
                     ELSE 0 END AS BIGINT) AS hi,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM lhn GROUP BY 1, 2, 3
    """,
    doc="log2-bucketed doc-length histogram with per-bucket token mass "
    "(bucket = binary digit count of n_tokens — integer-exact, no "
    "float LOG; key domain <= 64 by construction) — the length "
    "dashboard a packing/budget plan starts from without a corpus sort",
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import length_histogram

    return length_histogram(load_table(spark, "documents", sf_dir))


@register(
    "corpus_dup_rate_by_source",
    """
    SELECT source, COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
           ROUND(1.0 - COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE),
                 6) AS dup_frac
    FROM documents GROUP BY 1
    """,
    doc="exact-dup rate at source grain: docs vs distinct text hashes "
    "per source — the first number a curation run reports per crawl; "
    "one groupBy, two-phase distinct, shuffle carries (source, hash)",
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import dup_rate_by_source

    return dup_rate_by_source(load_table(spark, "documents", sf_dir))


@register(
    "text_decontamination_spans",
    f"""
    WITH dstoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    dsref AS (
        SELECT DISTINCT md5(array_to_string(t[i + 1 : i + 8], ' ')) AS h
        FROM dstoks,
             LATERAL (SELECT unnest(generate_series(0, len(t) - 8)) AS i) s
        WHERE doc_id < 10 AND len(t) >= 8
    ),
    dswin AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i + 1 : i + 8], ' ')) AS h
        FROM dstoks,
             LATERAL (SELECT unnest(generate_series(0, len(t) - 8)) AS i) s
        WHERE doc_id >= 10 AND len(t) >= 8
    ),
    dshit AS (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM dswin WHERE h IN (SELECT h FROM dsref)
    ),
    dscov AS (
        SELECT doc_id, COUNT(*) AS n_hit_windows,
               SUM(CASE WHEN prev IS NULL THEN 8
                        ELSE LEAST(8, pos - prev) END) AS covered
        FROM dshit GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS INT) AS n_tokens,
           CAST(GREATEST(len(t.t) - 7, 0) AS INT) AS n_windows,
           CAST(COALESCE(c.n_hit_windows, 0) AS BIGINT) AS n_hit_windows,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(CASE WHEN len(t.t) > 0
                      THEN COALESCE(c.covered, 0) / CAST(len(t.t) AS DOUBLE)
                      ELSE 0.0 END, 6) AS leak_frac
    FROM dstoks t LEFT JOIN dscov c USING (doc_id)
    WHERE t.doc_id >= 10
    """,
    doc="span-level decontamination: per training doc (>= 10), the "
    "interval-union fraction of TOKENS covered by an 8-token window "
    "appearing anywhere in the benchmark slice (< 10) — coverage grain "
    "where text_decontamination counts distinct shingles (a doc QUOTING "
    "a benchmark line and a doc that IS the answer sheet separate "
    "here); benchmark windows broadcast, corpus shuffles once by doc",
)
def text_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import span_coverage_against

    docs = load_table(spark, "documents", sf_dir)
    return span_coverage_against(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        span_tokens=8,
    )


# CDC fragment (ends in CTE ``cdchunks(doc_id, chunk_idx, start,
# n_tokens, chunk_hash)``) — mirrors textstats.cdc_chunks with
# gram_tokens=2, divisor=8.
_CDC_SQL = f"""
    cdt AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    cdc AS (
        SELECT doc_id, t,
               list_concat(list_concat([0],
                   CASE WHEN len(t) > 2 THEN
                       list_filter(generate_series(2, len(t) - 1),
                           c -> CAST(concat('0x', substring(
                                    md5(array_to_string(t[c-1 : c], ' ')),
                                    1, 8)) AS BIGINT) % 8 = 0)
                   ELSE [] END), [len(t)]) AS b
        FROM cdt WHERE len(t) > 0
    ),
    cdchunks AS (
        SELECT doc_id, CAST(j AS INT) AS chunk_idx,
               CAST(b[j+1] AS INT) AS start,
               CAST(b[j+2] - b[j+1] AS INT) AS n_tokens,
               md5(array_to_string(t[b[j+1]+1 : b[j+2]], ' ')) AS chunk_hash
        FROM cdc,
             LATERAL (SELECT unnest(generate_series(0, len(b) - 2)) AS j) s
    )
"""


@register(
    "text_cdc_chunks",
    f"""
    WITH {_CDC_SQL}
    SELECT doc_id, chunk_idx, start, n_tokens, chunk_hash FROM cdchunks
    """,
    doc="content-defined chunking (LBFS/restic on tokens): cut after "
    "any 2-token gram whose hash is 0 mod 8, so boundaries follow "
    "content not position — an upstream insertion re-chunks only the "
    "spans it touches and later chunk hashes survive verbatim (the "
    "alignment-robust unit fixed chunking can't provide); zero-shuffle "
    "per-row array math",
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import cdc_chunks

    return cdc_chunks(
        load_table(spark, "documents", sf_dir), gram_tokens=2, divisor=8
    )


@register(
    "text_cdc_frequent_chunks",
    f"""
    WITH {_CDC_SQL}
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_total,
           CAST(MIN(n_tokens) AS INT) AS n_tokens
    FROM cdchunks
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc="shift-robust boilerplate miner: CDC chunks appearing in >= 2 "
    "distinct docs — because boundaries are content-defined, a "
    "passage shared at DIFFERENT offsets still yields identical chunk "
    "hashes, which is exactly what fixed-boundary mining "
    "(text_frequent_chunks) structurally misses; same two-phase-"
    "distinct groupBy shape, shuffle carries hashes",
)
def text_cdc_frequent_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import cdc_chunks

    chunks = cdc_chunks(
        load_table(spark, "documents", sf_dir), gram_tokens=2, divisor=8
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_total"),
            F.min("n_tokens").cast("int").alias("n_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_cdc_remove_frequent",
    f"""
    WITH {_CDC_SQL},
    cdtext AS (
        SELECT c.doc_id, c.chunk_idx, c.chunk_hash,
               array_to_string(t.t[c.start + 1 : c.start + c.n_tokens], ' ')
                   AS chunk_text
        FROM cdchunks c JOIN cdt t USING (doc_id)
    ),
    cdfreq AS (
        SELECT chunk_hash FROM cdchunks
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cdkept AS (
        SELECT doc_id, chunk_idx, chunk_text FROM cdtext
        WHERE chunk_hash NOT IN (SELECT chunk_hash FROM cdfreq)
    ),
    cdreb AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
               array_to_string(list(chunk_text ORDER BY chunk_idx), ' ')
                   AS new_text
        FROM cdkept GROUP BY 1
    ),
    cdtot AS (
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks
        FROM cdchunks GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(t.n_chunks, 0) AS INT) AS n_chunks,
           CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(r.new_text, '') AS new_text
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN cdtot t USING (doc_id)
    LEFT JOIN cdreb r USING (doc_id)
    """,
    doc="shift-robust boilerplate REMOVAL: rewrite every doc dropping "
    "CDC chunks shared by >= 2 distinct docs — copies injected at "
    "different offsets all drop because content-defined boundaries "
    "hash them identically; mine + rewrite share one persisted chunk "
    "scan, frequent set broadcast, one doc-keyed rebuild shuffle",
)
def text_cdc_remove_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import remove_cdc_frequent_chunks

    return remove_cdc_frequent_chunks(
        load_table(spark, "documents", sf_dir), gram_tokens=2, divisor=8,
        min_docs=2,
    )


# Winnowing fragment builder (ends in CTE ``{p}fps(doc_id, pos, fp)``) —
# mirrors textstats.winnow_fingerprints with k=4, window=4: gram keys are
# hash*2^20+pos so the per-window min is the leftmost minimal hash. The
# prefix + WHERE parameters let one query carry two chains (the
# incremental matcher winnows the snapshot and new slices separately).
_WINNOW_SQL = _winnow_cte("w")


@register(
    "text_winnow_fingerprints",
    f"""
    WITH {_WINNOW_SQL}
    SELECT doc_id, pos, fp FROM wfps
    """,
    doc="winnowing fingerprint selection (MOSS): min-hash of each 4 "
    "consecutive 4-token grams, keyed hash*2^20+pos so selection is "
    "deterministic (leftmost minimal) — a ~1/window-density position-"
    "robust fingerprint set with the shared-run guarantee; pure per-row "
    "array arithmetic, zero shuffle",
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    return winnow_fingerprints(
        load_table(spark, "documents", sf_dir), k=4, window=4
    )


@register(
    "dedup_winnowing",
    f"""
    WITH {_WINNOW_SQL},
    wdfp AS (SELECT DISTINCT doc_id, fp FROM wfps),
    wcap AS (
        SELECT fp FROM wdfp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 64
    ),
    wp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp
        FROM wdfp a JOIN wdfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM wcap)
    )
    SELECT doc_a, doc_b, CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_shared
    FROM wp GROUP BY 1, 2 HAVING COUNT(DISTINCT fp) >= 2
    """,
    doc="MOSS matching over winnowed fingerprints: doc pairs sharing "
    ">= 2 distinct selected fingerprints, boilerplate fingerprints "
    "(> 64 docs) capped out — the one-shuffle co-occurrence pair form "
    "over a gram stream winnowing already cut to ~1/window density",
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import winnow_shared_pairs

    return winnow_shared_pairs(
        load_table(spark, "documents", sf_dir), k=4, window=4, min_shared=2
    )


@register(
    "dedup_winnowing_incremental",
    f"""
    WITH {_winnow_cte('o', 'WHERE doc_id < 300')},
    {_winnow_cte('n', 'WHERE doc_id >= 300')},
    odfp AS (SELECT DISTINCT doc_id, fp FROM ofps),
    ndfp AS (SELECT DISTINCT doc_id, fp FROM nfps),
    ocap AS (
        SELECT fp FROM odfp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 64
    )
    SELECT o.doc_id AS old_id, n.doc_id AS new_id,
           CAST(COUNT(DISTINCT o.fp) AS BIGINT) AS n_shared
    FROM odfp o JOIN ndfp n ON o.fp = n.fp
    WHERE o.fp IN (SELECT fp FROM ocap)
    GROUP BY 1, 2 HAVING COUNT(DISTINCT o.fp) >= 2
    """,
    doc="incremental MOSS matching: new docs (>= 300) fingerprinted "
    "map-side and joined against the winnowing snapshot of the "
    "historical slice (< 300), snapshot-side boilerplate fps capped at "
    "64 docs — completes the incremental tier for the winnowing family; "
    "streaming twin in pipeline.streams.winnow_doc_stream",
)
def dedup_winnowing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import winnow_incremental
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    snapshot = winnow_fingerprints(
        docs.filter(F.col("doc_id") < 300), k=4, window=4
    )
    return winnow_incremental(
        docs.filter(F.col("doc_id") >= 300),
        snapshot,
        k=4,
        window=4,
        min_shared=2,
    )


@register(
    "text_dup_span_coverage",
    f"""
    WITH stoks AS (
        SELECT doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    swins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i + 1 : i + 8], ' ')) AS h
        FROM stoks,
             LATERAL (SELECT unnest(generate_series(0, len(t) - 8)) AS i) s
        WHERE len(t) >= 8
    ),
    sfreq AS (
        SELECT h FROM swins GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sdup AS (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM swins WHERE h IN (SELECT h FROM sfreq)
    ),
    scov AS (
        SELECT doc_id, COUNT(*) AS n_dup_windows,
               SUM(CASE WHEN prev IS NULL THEN 8
                        ELSE LEAST(8, pos - prev) END) AS covered
        FROM sdup GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS INT) AS n_tokens,
           CAST(GREATEST(len(t.t) - 7, 0) AS INT) AS n_windows,
           CAST(COALESCE(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(CASE WHEN len(t.t) > 0
                      THEN COALESCE(c.covered, 0) / CAST(len(t.t) AS DOUBLE)
                      ELSE 0.0 END, 6) AS dup_frac
    FROM stoks t LEFT JOIN scov c USING (doc_id)
    """,
    doc="per-doc duplicated-text fraction at ARBITRARY alignment: share "
    "of tokens covered by a stride-1 8-token window shared with another "
    "document (interval-union, each token counted once) — the "
    "RefinedWeb/Dolma dup-fraction signal that boundary-aligned chunk "
    "mining misses; shuffles carry (doc_id, pos, hash), never text",
)
def text_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import duplicate_span_coverage

    return duplicate_span_coverage(
        load_table(spark, "documents", sf_dir), span_tokens=8, min_docs=2
    )


@register(
    "text_vocab_encode",
    f"""
    WITH vtoks AS (
        SELECT doc_id, j - 1 AS pos, t[j] AS token
        FROM (SELECT doc_id,
                     list_filter(string_split({_NORM_SQL}, ' '),
                                 x -> length(x) > 0) AS t
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(t))) AS j) s
        WHERE len(t) > 0
    ),
    vcounts AS (SELECT token, COUNT(*) AS c FROM vtoks GROUP BY 1),
    vvocab AS (
        SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC)
                           AS INT) AS tid
        FROM vcounts ORDER BY c DESC, token ASC LIMIT 16
    )
    SELECT t.doc_id, CAST(t.pos AS INT) AS pos,
           COALESCE(v.tid, 0) AS token_id
    FROM vtoks t LEFT JOIN vvocab v USING (token)
    """,
    doc="bounded-vocabulary token-id encoding: ids 1..16 by (count DESC, "
    "token ASC), OOV -> 0, exploded (doc_id, pos, token_id) id stream; "
    "vocab is a TakeOrdered broadcast side, the corpus never shuffles",
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import vocab_encode

    # vocab_size=16 < the synthetic corpus vocabulary, so the gate
    # exercises BOTH the in-vocab id path and the OOV->0 path
    return vocab_encode(load_table(spark, "documents", sf_dir), vocab_size=16)


@register(
    "text_vocab_coverage_curve",
    f"""
    WITH vct AS (
        SELECT unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                  x -> length(x) > 0)) AS token
        FROM documents
    ),
    vcc AS (SELECT token, COUNT(*) AS c FROM vct GROUP BY 1),
    vctot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vcc),
    vcr AS (
        SELECT token, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, token ASC) AS r
        FROM vcc
    ),
    vck AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]) AS k)
    SELECT CAST(k.k AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(v.c) AS BIGINT) AS covered_occurrences,
           MAX(t.t) AS total_occurrences,
           ROUND(CAST(SUM(v.c) AS DOUBLE) / MAX(t.t), 6) AS share
    FROM vck k JOIN vcr v ON v.r <= k.k CROSS JOIN vctot t
    GROUP BY k.k
    """,
    doc="vocabulary coverage curve: occurrence share of the top-k types "
    "for k in 1..1024 — the vocab-sizing audit (OOV rate at size k = "
    "1 - share); only the top max(k) types are ranked (TakeOrdered "
    "broadcast), no global vocab sort, ties (count DESC, token ASC)",
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import vocab_coverage_curve

    return vocab_coverage_curve(load_table(spark, "documents", sf_dir))


# Shared k-NN-graph-under-IVF fragment (ends in CTE ``knng(vec_id,
# neighbor_id, rank, cosine)`` plus ``cents``/``kassign`` for reuse) —
# mirrors similarity.knn_graph_ivf with centroids = vec_id < 4.
_KNN_IVF_SQL = f"""
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    kassign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    kpairs AS (
        SELECT sa.vec_id AS vec_id, sb.vec_id AS neighbor_id,
               ROUND({_qcos('a.embedding', 'b.embedding')}, 6) AS cosine
        FROM kassign sa
        JOIN kassign sb ON sb.centroid_id = sa.centroid_id
                       AND sb.vec_id != sa.vec_id
        JOIN embeddings a ON a.vec_id = sa.vec_id
        JOIN embeddings b ON b.vec_id = sb.vec_id
    ),
    knng AS MATERIALIZED (
        SELECT vec_id, neighbor_id, CAST(rnk AS INT) AS rank, cosine FROM (
            SELECT vec_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, neighbor_id ASC)
                       AS rnk
            FROM kpairs
        ) WHERE rnk <= 5
    )
"""


@register(
    "similarity_knn_graph_ivf",
    f"""
    WITH {_KNN_IVF_SQL}
    SELECT vec_id, neighbor_id, rank, cosine FROM knng
    """,
    doc="corpus k-NN graph under IVF blocking: per-cluster exact "
    "quantized GEMM emitting each vector's top-5 in-cluster neighbors "
    "(cosine DESC, id ASC) — the SemDeDup/semantic-clustering primitive; "
    "output is k*|corpus| rows by construction, threshold-free",
)
def similarity_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import knn_graph_ivf

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return knn_graph_ivf(emb, cents, k=5)


@register(
    "similarity_knn_mutual_graph",
    f"""
    WITH {_KNN_IVF_SQL}
    SELECT a.vec_id, a.neighbor_id, a.cosine,
           a.rank AS rank_fwd, b.rank AS rank_rev
    FROM knng a
    JOIN knng b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
    WHERE a.vec_id < a.neighbor_id
    """,
    doc="mutual k-NN edges: keep {a,b} only when a lists b AND b lists "
    "a — the standard de-hubbing symmetrization before kNN-graph "
    "clustering/dedup (rim->core one-way edges drop); one self-join of "
    "the k-bounded edge list, vectors never touched again",
)
def similarity_knn_mutual_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import knn_graph_ivf, knn_mutual_graph

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return knn_mutual_graph(knn_graph_ivf(emb, cents, k=5))


@register(
    "similarity_ivf_balance_audit",
    f"""
    WITH {_KNN_IVF_SQL},
    bsz AS (
        SELECT c.centroid_id, COUNT(k.vec_id) AS n_vecs
        FROM cents c LEFT JOIN kassign k USING (centroid_id)
        GROUP BY 1
    ),
    btot AS (SELECT SUM(n_vecs) AS t FROM bsz)
    SELECT centroid_id, CAST(n_vecs AS BIGINT) AS n_vecs,
           ROUND(n_vecs / CAST(t AS DOUBLE), 6) AS share,
           ROUND(n_vecs * 4 / CAST(t AS DOUBLE), 6) AS skew
    FROM bsz, btot
    """,
    doc="IVF cluster-balance audit: per-centroid member count, corpus "
    "share, and skew factor (share x n_clusters, 1.0 = balanced) — the "
    "capacity-planning companion to the recall audit; empty cells "
    "surface as zero rows instead of vanishing; pure-map assign + "
    "k-row rollup, corpus never shuffles",
)
def similarity_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import ivf_balance_audit

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return ivf_balance_audit(emb, cents)


def _probe_sweep_branch(p: int) -> str:
    return f"""
    SELECT CAST({p} AS INT) AS n_probes,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall_at_5
    FROM psw_bf b LEFT JOIN (
        SELECT query_id, vec_id FROM (
            SELECT qa.query_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qa.query_id
                       ORDER BY ROUND({_qcos('e.embedding', 'q.qv')}, 6) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings e
            JOIN psw_assign a ON e.vec_id = a.vec_id
            JOIN (SELECT query_id, centroid_id FROM psw_probe
                  WHERE rn <= {p}) qa ON a.centroid_id = qa.centroid_id
            JOIN psw_q q ON q.query_id = qa.query_id
        ) WHERE rank <= 5
    ) i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
    """


@register(
    "similarity_ivf_probe_sweep",
    f"""
    WITH psw_q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ),
    psw_bf AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('e.embedding', 'q.qv')}, 6) DESC,
                                e.vec_id ASC) AS rank
            FROM embeddings e CROSS JOIN psw_q q
        ) WHERE rank <= 5
    ),
    psw_cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    psw_assign AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN psw_cents c
        ) WHERE rn = 1
    ),
    psw_probe AS (
        SELECT query_id, centroid_id, rn FROM (
            SELECT q.query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY ROUND({_qcos('q.qv', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM psw_q q CROSS JOIN psw_cents c
        ) WHERE rn <= 4
    )
    {" UNION ALL ".join(_probe_sweep_branch(p) for p in (1, 2, 3, 4))}
    """,
    doc="IVF probe-count sweep: recall@5 vs brute force at n_probes in "
    "1..4, one row per setting — the tuning CURVE behind the n_probe "
    "knob (n_hit is monotone in probes by construction); brute-force "
    "truth and corpus assignment are shared subplans deduplicated by "
    "AQE stage reuse at runtime (measured equal to a cached variant)",
)
def similarity_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import ivf_probe_sweep_audit

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_probe_sweep_audit(emb, cents, queries, probes=(1, 2, 3, 4), k=5)


@register(
    "pipeline_semdedup_e2e",
    f"""
    WITH RECURSIVE {_KNN_IVF_SQL},
    sd_pairs AS (
        SELECT LEAST(vec_id, neighbor_id) AS a,
               GREATEST(vec_id, neighbor_id) AS b
        FROM knng WHERE cosine >= 0.45
        GROUP BY 1, 2
    ),
    sd_edges AS (
        SELECT a, b FROM sd_pairs UNION SELECT b, a FROM sd_pairs
    ),
    sd_reach(node, m) AS (
        SELECT DISTINCT a, a FROM sd_edges
        UNION
        SELECT r.node, e.b FROM sd_reach r JOIN sd_edges e ON r.m = e.a
    ),
    sd_comp AS (
        SELECT node AS vec_id, MIN(m) AS cluster_id FROM sd_reach GROUP BY 1
    ),
    sd_score AS (
        SELECT k.vec_id,
               ROUND(1 - ROUND({_qcos('e.embedding', 'c.cv')}, 6), 6) AS score
        FROM kassign k
        JOIN embeddings e ON e.vec_id = k.vec_id
        JOIN cents c ON c.centroid_id = k.centroid_id
    )
    SELECT c.vec_id, c.cluster_id, s.score,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                               ORDER BY s.score DESC, c.vec_id ASC) = 1)
               AS is_keeper
    FROM sd_comp c JOIN sd_score s USING (vec_id)
    """,
    doc="SemDeDup as ONE chain: IVF-blocked k-NN graph -> cosine-"
    "thresholded edges -> connected components -> keep each cluster's "
    "member FARTHEST from its centroid (the SemDeDup keeper rule; "
    "score = 1 - centroid cosine, min-id tiebreak). The oracle replays "
    "the full chain, so the gated seams are edge symmetrization under "
    "the k-cut (A can list B without B listing A), cluster ids under "
    "the banded/all-pairs closure, and the keeper cut under score ties",
)
def pipeline_semdedup_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_graph_ivf -> threshold -> connected_components ->
    cluster_keepers_by_score with distance-from-centroid as the
    quality signal — SemDeDup (Abbas et al. 2023) composed from four
    individually-green operators.

    Scale shape: the graph is the per-cluster GEMM (corpus shuffles
    once, keyed by centroid); edges/components scale with near-dup
    pairs, not the corpus; the centroid-distance score rides the
    already-computed ivf_assign column (pure map, broadcast
    centroids)."""
    from irstats2_spark.pipeline.dedup import (
        cluster_keepers_by_score,
        connected_components,
    )
    from irstats2_spark.pipeline.similarity import (
        ivf_assign_gemm,
        knn_graph_ivf,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    graph = knn_graph_ivf(emb, cents, k=5)
    pairs = (
        graph.filter(F.col("cosine") >= 0.45)
        .select(
            F.least("vec_id", "neighbor_id").alias("doc_a"),
            F.greatest("vec_id", "neighbor_id").alias("doc_b"),
        )
        .distinct()
    )
    comp = connected_components(pairs)
    # gemm variant: bit-parity with the fold is pytest-pinned, and the
    # interpreted per-(row, centroid, dim) fold was this chain's
    # second-largest cost after the k-NN GEMM itself
    scores = ivf_assign_gemm(emb, cents).select(
        F.col("vec_id").alias("doc_id"),
        F.round(F.lit(1.0) - F.col("centroid_cosine"), 6).alias("score"),
    )
    out = cluster_keepers_by_score(comp, scores)
    return out.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "score", "is_keeper"
    )


@register(
    "corpus_source_overlap",
    f"""
    WITH {_SHINGLES_SQL},
    src_sh AS (
        SELECT DISTINCT d.source, s.shingle
        FROM shingles s JOIN documents d USING (doc_id)
    ),
    src_tot AS (SELECT source, COUNT(*) AS n FROM src_sh GROUP BY 1),
    src_common AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_common
        FROM src_sh a JOIN src_sh b
          ON a.shingle = b.shingle AND a.source != b.source
        GROUP BY 1, 2
    )
    SELECT c.source_a, c.source_b, c.n_common,
           ROUND(c.n_common / t.n, 6) AS frac_of_a
    FROM src_common c JOIN src_tot t ON t.source = c.source_a
    """,
    doc="cross-source contamination matrix: directed fraction of source "
    "A's distinct 3-shingles also present in source B — the corpus-"
    "composition diagnostic doc-level dedup can't see; per-shingle "
    "source lists are bounded by |sources|, so the in-row pair "
    "expansion is safe by construction at this grain",
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import source_shingle_overlap

    return source_shingle_overlap(load_table(spark, "documents", sf_dir))


@register(
    "text_gopher_quality_gate",
    f"""
    WITH qt AS (
        SELECT doc_id, text,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS w,
               length(text) AS n_chars
        FROM documents
    ),
    g3q AS (
        SELECT doc_id, COUNT(*) AS t3,
               COUNT(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS d3
        FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM qt) s
        WHERE i + 2 <= len(w) GROUP BY 1
    ),
    feat AS (
        SELECT qt.doc_id,
               CAST(len(w) AS INT) AS n_tokens,
               CASE WHEN len(w) > 0 THEN ROUND(
                   length(list_aggregate(w, 'string_agg', '')) * 1.0 / len(w), 6)
               ELSE 0.0 END AS mean_token_len,
               CASE WHEN n_chars > 0 THEN ROUND(
                   (n_chars - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')))
                   * 1.0 / n_chars, 6)
               ELSE 0.0 END AS symbol_ratio,
               CAST(len(list_filter(w, x -> x IN
                   ('the','and','of','to','in','is','a'))) AS BIGINT)
                   AS stopword_hits,
               COALESCE(ROUND((g3q.t3 - g3q.d3) * 1.0 / g3q.t3, 6), 0.0)
                   AS dup_trigram_frac
        FROM qt LEFT JOIN g3q USING (doc_id)
    )
    SELECT doc_id, n_tokens, mean_token_len, symbol_ratio, stopword_hits,
           dup_trigram_frac,
           (n_tokens < 50 OR n_tokens > 100000) AS fail_length,
           (mean_token_len < 3.0 OR mean_token_len > 10.0) AS fail_token_len,
           (symbol_ratio > 0.1) AS fail_symbols,
           (stopword_hits < 2) AS fail_stopwords,
           (dup_trigram_frac > 0.3) AS fail_repetition,
           (NOT (n_tokens < 50 OR n_tokens > 100000)
            AND NOT (mean_token_len < 3.0 OR mean_token_len > 10.0)
            AND NOT (symbol_ratio > 0.1)
            AND NOT (stopword_hits < 2)
            AND NOT (dup_trigram_frac > 0.3)) AS quality_pass
    FROM feat
    """,
    doc="Gopher/MassiveText rule-based quality gate as one composite "
    "decision with per-rule verdict columns (token window, mean token "
    "length, symbol ratio, stopword floor, duplicate-3-gram cap) — the "
    "cheapest tier of the quality stack, zero-shuffle map",
)
def text_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import gopher_quality_gate

    return gopher_quality_gate(load_table(spark, "documents", sf_dir))


@register(
    "text_quality_calibration_audit",
    f"""
    WITH qa_toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    qa_seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM qa_toks WHERE source IN ('src0', 'src1')
    ),
    qa_vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM qa_seed GROUP BY 1
    ),
    qa_totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM qa_vocab
    ),
    qa_votes AS (
        SELECT t.doc_id,
               CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                    WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                         < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                    ELSE 0 END AS vote
        FROM qa_toks t LEFT JOIN qa_vocab v ON t.tok = v.tok
        CROSS JOIN qa_totals tt
    ),
    qa_label AS (
        SELECT doc_id,
               CASE WHEN SUM(vote) > 0 THEN 'pos'
                    WHEN SUM(vote) < 0 THEN 'neg'
                    ELSE 'tie' END AS label
        FROM qa_votes GROUP BY 1
    ),
    qg_t AS (
        SELECT doc_id, text,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS w,
               length(text) AS n_chars
        FROM documents
    ),
    qg_3 AS (
        SELECT doc_id, COUNT(*) AS t3,
               COUNT(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS d3
        FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM qg_t) s
        WHERE i + 2 <= len(w) GROUP BY 1
    ),
    qg_pass AS (
        SELECT qg_t.doc_id,
               (NOT (len(w) < 50 OR len(w) > 100000)
                AND NOT (CASE WHEN len(w) > 0 THEN ROUND(
                        length(list_aggregate(w, 'string_agg', ''))
                        * 1.0 / len(w), 6) ELSE 0.0 END < 3.0
                     OR CASE WHEN len(w) > 0 THEN ROUND(
                        length(list_aggregate(w, 'string_agg', ''))
                        * 1.0 / len(w), 6) ELSE 0.0 END > 10.0)
                AND NOT (CASE WHEN n_chars > 0 THEN ROUND(
                        (n_chars - length(regexp_replace(text,
                            '[^a-z0-9\\s]', '', 'g'))) * 1.0 / n_chars, 6)
                        ELSE 0.0 END > 0.1)
                AND NOT (len(list_filter(w, x -> x IN
                        ('the','and','of','to','in','is','a'))) < 2)
                AND NOT (COALESCE(ROUND((qg_3.t3 - qg_3.d3) * 1.0
                                        / qg_3.t3, 6), 0.0) > 0.3))
                   AS quality_pass
        FROM qg_t LEFT JOIN qg_3 USING (doc_id)
    ),
    qa_cells AS (
        SELECT l.label, g.quality_pass,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM qa_label l JOIN qg_pass g USING (doc_id)
        GROUP BY 1, 2
    )
    SELECT label, quality_pass, n_docs,
           ROUND(CAST(n_docs AS DOUBLE) /
                 SUM(n_docs) OVER (PARTITION BY label), 6) AS label_share
    FROM qa_cells
    """,
    doc="quality-tier calibration: agreement matrix between the learned "
    "seed-set classifier (pos/tie/neg) and the rule-based Gopher gate "
    "(pass/fail) — the disagreement cells are what gets hand-reviewed "
    "before a filter ships; 3x2 rollup, nothing corpus-sized moves "
    "after the score maps",
)
def text_quality_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import quality_calibration_audit

    docs = load_table(spark, "documents", sf_dir)
    return quality_calibration_audit(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    )


@register(
    "pipeline_quality_funnel_e2e",
    f"""
    WITH fn_toks AS (
        SELECT doc_id, source, unnest(list_filter(
                   string_split({_NORM_SQL}, ' '), w -> length(w) > 0)) AS tok
        FROM documents
    ),
    fn_seed AS (
        SELECT tok, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_pos
        FROM fn_toks WHERE source IN ('src0', 'src1')
    ),
    fn_vocab AS (
        SELECT tok, CAST(SUM(is_pos) AS BIGINT) AS c_pos,
               CAST(SUM(1 - is_pos) AS BIGINT) AS c_neg
        FROM fn_seed GROUP BY 1
    ),
    fn_totals AS (
        SELECT CAST(SUM(c_pos) AS BIGINT) AS t_pos,
               CAST(SUM(c_neg) AS BIGINT) AS t_neg
        FROM fn_vocab
    ),
    fn_label AS (
        SELECT doc_id, CASE WHEN SUM(vote) < 0 THEN 'neg'
                            WHEN SUM(vote) > 0 THEN 'pos'
                            ELSE 'tie' END AS label
        FROM (
            SELECT t.doc_id,
                   CASE WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                             > COALESCE(v.c_neg, 0) * tt.t_pos THEN 1
                        WHEN COALESCE(v.c_pos, 0) * tt.t_neg
                             < COALESCE(v.c_neg, 0) * tt.t_pos THEN -1
                        ELSE 0 END AS vote
            FROM fn_toks t LEFT JOIN fn_vocab v ON t.tok = v.tok
            CROSS JOIN fn_totals tt
        ) GROUP BY 1
    ),
    fn_t AS (
        SELECT doc_id, text,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS w,
               length(text) AS n_chars
        FROM documents
    ),
    fn_3 AS (
        SELECT doc_id, COUNT(*) AS t3,
               COUNT(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS d3
        FROM (SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM fn_t) s
        WHERE i + 2 <= len(w) GROUP BY 1
    ),
    fn_gate AS (
        SELECT fn_t.doc_id,
               (NOT (len(w) < 50 OR len(w) > 100000)
                AND NOT (CASE WHEN len(w) > 0 THEN ROUND(
                        length(list_aggregate(w, 'string_agg', ''))
                        * 1.0 / len(w), 6) ELSE 0.0 END < 3.0
                     OR CASE WHEN len(w) > 0 THEN ROUND(
                        length(list_aggregate(w, 'string_agg', ''))
                        * 1.0 / len(w), 6) ELSE 0.0 END > 10.0)
                AND NOT (CASE WHEN n_chars > 0 THEN ROUND(
                        (n_chars - length(regexp_replace(text,
                            '[^a-z0-9\\s]', '', 'g'))) * 1.0 / n_chars, 6)
                        ELSE 0.0 END > 0.1)
                AND NOT (len(list_filter(w, x -> x IN
                        ('the','and','of','to','in','is','a'))) < 2)
                AND NOT (COALESCE(ROUND((fn_3.t3 - fn_3.d3) * 1.0
                                        / fn_3.t3, 6), 0.0) > 0.3))
                   AS quality_pass
        FROM fn_t LEFT JOIN fn_3 USING (doc_id)
    ),
    fn_keep AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                   AS is_keeper
        FROM documents
    ),
    {_simhash64_cte()},
    fn_losers AS (
        SELECT DISTINCT b.doc_id
        FROM sigs64 a JOIN sigs64 b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    ),
    fn_flags AS (
        SELECT g.quality_pass AS s1,
               g.quality_pass AND l.label <> 'neg' AS s2,
               g.quality_pass AND l.label <> 'neg' AND k.is_keeper AS s3,
               g.quality_pass AND l.label <> 'neg' AND k.is_keeper
                   AND d.doc_id IS NULL AS s4
        FROM documents doc
        JOIN fn_gate g USING (doc_id)
        JOIN fn_label l USING (doc_id)
        JOIN fn_keep k USING (doc_id)
        LEFT JOIN fn_losers d USING (doc_id)
    ),
    fn_counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
               CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        FROM fn_flags
    )
    SELECT CAST(0 AS INT) AS stage, 'ingested' AS stage_name, n0 AS n_docs FROM fn_counts
    UNION ALL SELECT 1, 'quality_gate', n1 FROM fn_counts
    UNION ALL SELECT 2, 'classifier', n2 FROM fn_counts
    UNION ALL SELECT 3, 'exact_dedup', n3 FROM fn_counts
    UNION ALL SELECT 4, 'near_dedup', n4 FROM fn_counts
    """,
    doc="curation funnel e2e: cumulative survivor counts through Gopher "
    "gate -> seed classifier -> exact dedup keeper -> SimHash near-dup "
    "cut, as ONE 5-row table — the before/after accounting a curation "
    "run publishes; the oracle replays all four component chains, so "
    "the gated seam is their CONJUNCTION per doc, not each flag alone",
)
def pipeline_quality_funnel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import quality_funnel

    docs = load_table(spark, "documents", sf_dir)
    return quality_funnel(
        docs,
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") == "src1"),
    )


@register(
    "dedup_simhash_incremental",
    f"""
    WITH {_simhash64_cte()}
    SELECT a.doc_id AS old_id, b.doc_id AS new_id,
           CAST(bit_count(xor(a.sim_lo, b.sim_lo))
                + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
    FROM sigs64 a JOIN sigs64 b
      ON a.doc_id < 250 AND b.doc_id >= 250
    WHERE bit_count(xor(a.sim_lo, b.sim_lo))
          + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
    """,
    doc="incremental SimHash: new batch banded against the two-int "
    "signature snapshot, EXACT Hamming verify (the signature is the "
    "full state, unlike the MinHash estimator) — the all-cross-pairs "
    "oracle proves the same pigeonhole equivalence as the batch miner "
    "(4 bands, d<=3: some 16-bit slice must agree)",
)
def dedup_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import (
        simhash64,
        simhash_hamming_incremental,
    )

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return simhash_hamming_incremental(new, simhash64(old))


@register(
    "dedup_edit_distance_incremental",
    f"""
    WITH {_winnow_cte('eo', 'WHERE doc_id < 250')},
    {_winnow_cte('en', 'WHERE doc_id >= 250')},
    eodfp AS (SELECT DISTINCT doc_id, fp FROM eofps),
    endfp AS (SELECT DISTINCT doc_id, fp FROM enfps),
    eocap AS (
        SELECT fp FROM eodfp GROUP BY 1 HAVING COUNT(DISTINCT doc_id) <= 64
    ),
    edi_cand AS (
        SELECT o.doc_id AS old_id, n.doc_id AS new_id,
               CAST(COUNT(DISTINCT o.fp) AS BIGINT) AS n_shared
        FROM eodfp o JOIN endfp n ON o.fp = n.fp
        WHERE o.fp IN (SELECT fp FROM eocap)
        GROUP BY 1, 2 HAVING COUNT(DISTINCT o.fp) >= 2
    )
    SELECT old_id, new_id, n_shared,
           CAST(d AS INT) AS edit_distance,
           ROUND(CAST(d AS DOUBLE) / glen, 6) AS edit_norm
    FROM (
        SELECT c.old_id, c.new_id, c.n_shared,
               levenshtein(da.text, db.text) AS d,
               GREATEST(length(da.text), length(db.text)) AS glen
        FROM edi_cand c
        JOIN documents da ON c.old_id = da.doc_id
        JOIN documents db ON c.new_id = db.doc_id
    ) WHERE d * 1000000 <= 300000 * glen
    """,
    doc="incremental edit-distance near-dup: new batch fingerprints "
    "map-side against the winnowing snapshot (history text untouched "
    "for MINING; sequential blocking per the batch miner's rationale), "
    "then only actual candidates hydrate old text for the JVM "
    "Levenshtein verify under the batch miner's integer-exact cut",
)
def dedup_edit_distance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import edit_distance_incremental
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    docs = load_table(spark, "documents", sf_dir)
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    return edit_distance_incremental(
        new, winnow_fingerprints(old, k=4, window=4), old
    )


@register(
    "pack_efficiency_audit",
    f"""
    WITH psized AS (
        SELECT doc_id,
               CAST(len(string_split({_NORM_SQL}, ' ')) AS INT) AS n_tokens,
               md5('pack:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents
    ),
    ppacked AS (
        SELECT doc_id, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY ord, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens)
                          / 2048.0) AS BIGINT) AS seq_id
        FROM psized
    )
    SELECT seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS used_tokens,
           ROUND(SUM(n_tokens) / 2048.0, 6) AS fill_ratio
    FROM ppacked GROUP BY 1
    """,
    doc="packing-efficiency audit: per 2048-token training sequence, doc "
    "count, used tokens, and fill ratio (>1.0 rows mark boundary-"
    "crossing docs the trainer truncates or carries) — the pre-training "
    "cost sanity check; one tiny rollup over the packed ids",
)
def pack_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import pack_efficiency, pack_sequences
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", token_count(F.col("text")).cast("int").alias("n_tokens")
    )
    packed = pack_sequences(sized, F.col("n_tokens"), "doc_id", budget=2048)
    return pack_efficiency(packed, budget=2048)


# ---------------------------------------------------------------------------
# Graph tier — PageRank / triangles / label propagation over the mutual-kNN
# edge list. The reference engine has no graph analytics (closest analog:
# the subject ancestor closure's set expansion); these are the standard
# graph questions a curation pipeline asks of its similarity graphs.
# All three use the bounded-round integer-exact variants (pipeline/graph.py)
# so the oracle unrolls the identical rounds as CTEs.
# ---------------------------------------------------------------------------
# The kNN-graph prefix (embed scan -> IVF assignment -> kNN -> mutual
# symmetrization) is identical across the three graph queries; rebuilding
# it per query tripled the graph tier's bench cost. Memoize the
# materialized edge list per (application, sf_dir) — the same shared-
# subplan persist() lesson as the LSH band sweep, lifted across query
# boundaries. The entry is a localCheckpoint'ed (u, v) BIGINT list,
# k-bounded (~|V|*k rows). Keyed by applicationId (unique per
# SparkContext — an id() key could collide after a context restart at
# the same address) PLUS a content fingerprint of the embeddings file
# (mtime + size, cheap os.stat), so regenerating testdata at the same
# sf_dir within one application misses instead of serving stale edges.
# Entries from OTHER applications are evicted on first miss: their
# checkpointed blocks died with that context and cannot be recomputed
# from lineage, so holding them would pin dead-session objects forever.
#
# BENCH SEMANTICS (documented per the r6 advice): within one bench.py /
# driver process the FIRST query of a prefix-sharing tier pays the
# prefix build; the others reuse it. The per-query timings in
# BENCH_DETAIL.json therefore measure each tier the way a production
# job server would run it (shared materialized prefix), not N cold
# rebuilds — compare a tier's COMBINED time across rounds, not any one
# query's solo number. Two prefixes are memoized: the graph tier's
# mutual-kNN edge list (pagerank/triangles/label_propagation) and the
# SimHash banded pair list (sample_split_leakage_safe /
# pipeline_neardup_maintenance_e2e).
_PREFIX_CACHE: dict[tuple[str, str, str, str], DataFrame] = {}


def _testdata_fingerprint(sf_dir: str, name: str) -> str:
    """mtime+size stamp of one testdata parquet file or directory."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        stamp = [f"{st.st_mtime_ns}:{st.st_size}"]
        if os.path.isdir(path):
            for f in sorted(os.listdir(path)):
                s = os.stat(os.path.join(path, f))
                stamp.append(f"{f}:{s.st_mtime_ns}:{s.st_size}")
        return "|".join(stamp)
    except OSError:
        return "unstat-able"


def clear_prefix_cache() -> None:
    """Drop every memoized cross-query prefix (for in-process testdata
    swaps; the fingerprint key already handles on-disk regeneration)."""
    _PREFIX_CACHE.clear()


def _memoized_prefix(
    spark, sf_dir, name, table, build, prematerialized: bool = False
) -> DataFrame:
    """Memoize ``build()`` (materialized via localCheckpoint) per
    (prefix, application, sf_dir, testdata fingerprint).
    ``prematerialized=True`` declares that ``build`` already returns a
    checkpointed DataFrame (because it had internal pins to release
    post-checkpoint, e.g. via ``release_after(..., True)``) — memoize it
    as-is instead of paying a second eager copy."""
    key = (
        name,
        spark.sparkContext.applicationId,
        sf_dir,
        _testdata_fingerprint(sf_dir, table),
    )
    if key not in _PREFIX_CACHE:
        # Evict dead-application entries (their checkpointed blocks died
        # with that context and cannot be recomputed from lineage) and
        # superseded fingerprints of this (prefix, sf_dir); other
        # sf_dirs/prefixes in the same app stay warm.
        for stale in [
            k
            for k in _PREFIX_CACHE
            if k[1] != key[1] or (k[:3] == key[:3] and k[3] != key[3])
        ]:
            del _PREFIX_CACHE[stale]
        built = build()
        _PREFIX_CACHE[key] = built if prematerialized else built.localCheckpoint()
    return _PREFIX_CACHE[key]


def _mutual_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.similarity import knn_graph_ivf, knn_mutual_graph

    def build() -> DataFrame:
        emb = load_table(spark, "embeddings", sf_dir)
        cents = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        return knn_mutual_graph(knn_graph_ivf(emb, cents, k=5)).select(
            F.col("vec_id").alias("u"), F.col("neighbor_id").alias("v")
        )

    return _memoized_prefix(spark, sf_dir, "mutual_knn_edges", "embeddings", build)


def _simhash_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash-64 banded near-dup pair list over ``documents`` at
    default parameters — the shared prefix of the suite's two most
    expensive chains (leakage-safe split and near-dup maintenance),
    which previously each rebuilt signatures + the banded self-join
    from the raw text. Dup-pair-sized, so the checkpoint is tiny."""
    from irstats2_spark.pipeline.dedup import simhash_hamming_pairs

    return _memoized_prefix(
        spark,
        sf_dir,
        "simhash_banded_pairs",
        "documents",
        lambda: simhash_hamming_pairs(load_table(spark, "documents", sf_dir)),
    )


def _simhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the shared SimHash pair list — the
    second stage the leakage-safe split and the maintenance chain ALSO
    both run (the iterative min-propagation closure costs log(diameter)
    jobs); dup-node-sized, so the checkpoint is tiny."""
    from irstats2_spark.pipeline.dedup import connected_components

    return _memoized_prefix(
        spark,
        sf_dir,
        "simhash_components",
        "documents",
        lambda: connected_components(_simhash_banded_pairs(spark, sf_dir)),
    )


_GRAPH_EDGES_SQL = f"""
    {_KNN_IVF_SQL},
    gm AS MATERIALIZED (
        SELECT a.vec_id AS u, a.neighbor_id AS v
        FROM knng a
        JOIN knng b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
        WHERE a.vec_id < a.neighbor_id
    ),
    ge AS MATERIALIZED (SELECT u AS src, v AS dst FROM gm
           UNION ALL SELECT v AS src, u AS dst FROM gm),
    gdeg AS MATERIALIZED (SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS degree
             FROM ge GROUP BY 1)
"""

_PR_SCALE = 10**9
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    tele = (15 * _PR_SCALE) // 100
    ctes = [
        f"pr0 AS (SELECT node_id, degree, "
        f"CAST({_PR_SCALE} AS BIGINT) AS r FROM gdeg)"
    ]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""pr{i} AS (
        SELECT d.node_id, d.degree,
               CAST({tele} + (85 * COALESCE(SUM(p.r // p.degree), 0)) // 100
                    AS BIGINT) AS r
        FROM gdeg d
        JOIN ge e ON e.dst = d.node_id
        JOIN pr{i - 1} p ON p.node_id = e.src
        GROUP BY 1, 2
    )""")
    return f"""
    WITH {_GRAPH_EDGES_SQL},
    {', '.join(ctes)}
    SELECT node_id, degree, r AS rank_scaled,
           ROUND(CAST(r AS DOUBLE) / {_PR_SCALE}, 6) AS rank
    FROM pr{_PR_ITERS}
    """


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="fixed-point PageRank (3 synchronous rounds, damping 0.85) over "
    "the mutual-kNN graph: ranks are BIGINTs updated with floor "
    "division, so integer sums make every engine bit-identical — the "
    "centrality prior for coreset sampling / hub detection; per round "
    "one keyed join + one groupBy, shuffles carry (id, BIGINT) only",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.graph import pagerank_integer
    edges = _mutual_knn_edges(spark, sf_dir)
    return pagerank_integer(edges, iterations=_PR_ITERS, scale=_PR_SCALE)


@register(
    "graph_triangles",
    f"""
    WITH {_GRAPH_EDGES_SQL},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM gm e1
        JOIN gm e2 ON e2.u = e1.v
        JOIN gm e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tcorn AS (
        SELECT node_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node_id FROM tri
            UNION ALL SELECT b AS node_id FROM tri
            UNION ALL SELECT c AS node_id FROM tri
        ) GROUP BY 1
    )
    SELECT d.node_id, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN ROUND(2.0 * COALESCE(t.n_triangles, 0)
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering_coeff
    FROM gdeg d LEFT JOIN tcorn t USING (node_id)
    """,
    doc="per-node triangle counts + local clustering coefficient over "
    "the mutual-kNN graph via the a<b<c oriented two-join enumeration "
    "(each triangle found exactly once, no permutation dedup) — dense "
    "local neighborhoods flag boilerplate/hub clusters; k-bounded "
    "input caps 2-paths at k^2 per node",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.graph import triangle_counts
    edges = _mutual_knn_edges(spark, sf_dir)
    return triangle_counts(edges)


_LP_ITERS = 3


def _label_prop_oracle() -> str:
    ctes = ["lp0 AS (SELECT node_id, CAST(node_id AS BIGINT) AS label FROM gdeg)"]
    for i in range(1, _LP_ITERS + 1):
        ctes.append(f"""lp{i} AS (
        SELECT n.node_id,
               CAST(LEAST(n.label, COALESCE(MIN(p.label), n.label))
                    AS BIGINT) AS label
        FROM lp{i - 1} n
        JOIN ge e ON e.dst = n.node_id
        JOIN lp{i - 1} p ON p.node_id = e.src
        GROUP BY n.node_id, n.label
    )""")
    return f"""
    WITH {_GRAPH_EDGES_SQL},
    {', '.join(ctes)},
    lsz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
            FROM lp{_LP_ITERS} GROUP BY 1)
    SELECT n.node_id, n.label AS community, s.community_size
    FROM lp{_LP_ITERS} n JOIN lsz s USING (label)
    """


@register(
    "graph_label_propagation",
    _label_prop_oracle(),
    doc="synchronous min-label propagation (3 rounds) over the "
    "mutual-kNN graph: the deterministic member of the LPA family "
    "(mode-of-neighbors needs tie conventions no two engines share); "
    "after r rounds nodes within distance r of a component minimum "
    "share its label — community sketches for stratified mixing; per "
    "round one keyed join + one min-agg of (id, id) rows",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.graph import label_propagation_min
    edges = _mutual_knn_edges(spark, sf_dir)
    return label_propagation_min(edges, iterations=_LP_ITERS)


# ---------------------------------------------------------------------------
# Corpus-health text audits: tokenizer fertility, n-gram diversity, term
# burstiness (pipeline/textstats.py).
# ---------------------------------------------------------------------------
@register(
    "text_tokenizer_fertility",
    f"""
    WITH tf_ex AS (
        SELECT lang AS stratum,
               unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                  x -> length(x) > 0)) AS token
        FROM documents
    ),
    tf_counts AS (SELECT token, COUNT(*) AS c FROM tf_ex GROUP BY 1),
    tf_vocab AS (SELECT token FROM tf_counts
                 ORDER BY c DESC, token ASC LIMIT 64),
    tf_cost AS (
        SELECT e.stratum,
               CASE WHEN v.token IS NOT NULL THEN 1
                    ELSE (length(e.token) + 3) // 4 END AS cost,
               CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        FROM tf_ex e LEFT JOIN tf_vocab v USING (token)
    )
    SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(cost) AS BIGINT) AS n_subword_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov_words,
           ROUND(CAST(SUM(cost) AS DOUBLE) / COUNT(*), 6) AS fertility,
           ROUND(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM tf_cost GROUP BY 1
    """,
    doc="tokenizer-fertility audit per language: subword tokens per "
    "whitespace word under a bounded top-64 word vocabulary with "
    "ceil(len/4) character-chunk fallback — the tokenizer-parity "
    "signal (tokens/word by language) without shipping a trained "
    "tokenizer; vocab is a TakeOrdered broadcast, costs are integers, "
    "one stratum-keyed agg of partials",
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import tokenizer_fertility

    return tokenizer_fertility(
        load_table(spark, "documents", sf_dir), vocab_size=64, chunk_chars=4
    )


@register(
    "corpus_ngram_diversity",
    f"""
    WITH nd_docs AS (
        SELECT source AS stratum, doc_id,
               list_filter(string_split({_NORM_SQL}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    ),
    nd_base AS (
        SELECT stratum, COUNT(*) AS n_docs,
               SUM(len(t)) AS n_tokens,
               SUM(GREATEST(len(t) - 2, 0)) AS n_trigrams
        FROM nd_docs GROUP BY 1
    ),
    nd_uni AS (
        SELECT stratum, COUNT(DISTINCT token) AS n_types FROM (
            SELECT stratum, unnest(t) AS token FROM nd_docs
        ) GROUP BY 1
    ),
    nd_tri AS (
        SELECT stratum, COUNT(DISTINCT shingle) AS n_trigram_types FROM (
            SELECT d.stratum,
                   d.t[i] || ' ' || d.t[i+1] || ' ' || d.t[i+2] AS shingle
            FROM nd_docs d,
                 LATERAL (SELECT unnest(generate_series(1, len(d.t) - 2))
                          AS i) s
            WHERE len(d.t) >= 3
        ) GROUP BY 1
    )
    SELECT b.stratum, CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(u.n_types AS BIGINT) AS n_types,
           ROUND(CAST(u.n_types AS DOUBLE) / b.n_tokens, 6)
               AS type_token_ratio,
           CAST(b.n_trigrams AS BIGINT) AS n_trigrams,
           CAST(t.n_trigram_types AS BIGINT) AS n_trigram_types,
           ROUND(CAST(t.n_trigram_types AS DOUBLE) / b.n_trigrams, 6)
               AS trigram_diversity
    FROM nd_base b JOIN nd_uni u USING (stratum) JOIN nd_tri t USING (stratum)
    """,
    doc="lexical-diversity screen per source: unigram type/token ratio "
    "+ trigram distinct/total ratio — template-generated slices show "
    "low trigram diversity before any pair mining runs, pointing the "
    "expensive dedup; exact two-phase distincts (swap in HLL at 100 TB "
    "per the events_unique_visitors_approx pattern)",
)
def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import ngram_diversity

    return ngram_diversity(load_table(spark, "documents", sf_dir))


@register(
    "text_burstiness_audit",
    f"""
    WITH bu_ex AS (
        SELECT doc_id,
               unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                  x -> length(x) > 0)) AS token
        FROM documents
    ),
    bu_pd AS (SELECT token, doc_id, COUNT(*) AS c FROM bu_ex GROUP BY 1, 2),
    bu_st AS (
        SELECT token, COUNT(*) AS n_docs, SUM(c) AS total,
               SUM(c * c) AS sumsq
        FROM bu_pd GROUP BY 1
    ),
    bu_n AS (SELECT COUNT(*) AS n FROM documents),
    bu_top AS (SELECT * FROM bu_st ORDER BY total DESC, token ASC LIMIT 32)
    SELECT t.token, CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.total AS BIGINT) AS total,
           ROUND((n.n * t.sumsq - t.total * t.total)
                 / CAST(n.n * t.total AS DOUBLE), 6) AS burstiness
    FROM bu_top t CROSS JOIN bu_n n
    """,
    doc="term burstiness (Fano factor) for the top-32 corpus terms: "
    "per-doc-count variance/mean across ALL docs collapses to "
    "(N*sumsq - T^2)/(N*T) over three exact integers — clumped "
    "'common' terms are templated boilerplate TF-IDF's binary doc "
    "frequency misses; two keyed int shuffles + a TakeOrdered cut",
)
def text_burstiness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import burstiness_audit

    return burstiness_audit(load_table(spark, "documents", sf_dir), top_k=32)


# ---------------------------------------------------------------------------
# Inverted-index all-pairs cosine + asymmetric MinHash containment audit
# (pipeline/dedup.py).
# ---------------------------------------------------------------------------
@register(
    "text_cosine_pairs_inverted",
    f"""
    WITH ci_tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                  x -> length(x) > 0)) AS token
        FROM documents
    ),
    ci_ex AS (SELECT doc_id, token, COUNT(*) AS c FROM ci_tok GROUP BY 1, 2),
    ci_df AS (SELECT token, COUNT(*) AS df FROM ci_ex GROUP BY 1),
    ci_kept AS (
        SELECT e.doc_id, e.token, e.c, d.df
        FROM ci_ex e JOIN ci_df d USING (token) WHERE d.df <= 64
    ),
    ci_norms AS (
        SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS norm_sq
        FROM ci_kept GROUP BY 1
    ),
    ci_dot AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM ci_kept a
        JOIN ci_kept b ON a.token = b.token AND a.doc_id < b.doc_id
        WHERE a.df >= 2
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.dot,
           na.norm_sq AS norm_sq_a, nb.norm_sq AS norm_sq_b,
           ROUND(d.dot / sqrt(CAST(na.norm_sq * nb.norm_sq AS DOUBLE)), 6)
               AS cosine
    FROM ci_dot d
    JOIN ci_norms na ON na.doc_id = d.doc_a
    JOIN ci_norms nb ON nb.doc_id = d.doc_b
    WHERE 4 * d.dot * d.dot >= na.norm_sq * nb.norm_sq
    """,
    doc="all-pairs TF-cosine >= 0.5 by inverted-index posting join "
    "(Bayardo-style): per-term posting self-join assembles pair dots, "
    "df > 64 stop-terms drop from the vector space (bounding every "
    "term's pair fan-out at df^2), df=1 terms keep their norm mass but "
    "skip the join; the cut is the cross-multiplied integer predicate "
    "4*dot^2 >= |a|^2*|b|^2 — no float compare at the boundary",
)
def text_cosine_pairs_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import cosine_pairs_inverted

    return cosine_pairs_inverted(
        load_table(spark, "documents", sf_dir),
        max_df=64,
        threshold_num=1,
        threshold_den=2,
    )


@register(
    "text_minhash_containment_asym",
    f"""
    WITH {_SHINGLES_SQL},
    mc_sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    mc_band AS (
        SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS sig FROM mc_sig
        UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM mc_sig
        UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM mc_sig
        UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM mc_sig
    ),
    mc_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mc_band a JOIN mc_band b ON a.band = b.band AND a.sig = b.sig
                                      AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    mc_sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    mc_common AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM mc_cand c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    mc_m AS (
        SELECT c.doc_a, c.doc_b,
               (CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END +
                CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) AS m
        FROM mc_cand c
        JOIN mc_sig sa ON sa.doc_id = c.doc_a
        JOIN mc_sig sb ON sb.doc_id = c.doc_b
    )
    SELECT m.doc_a, m.doc_b, CAST(m.m AS INT) AS n_sig_matches,
           CAST(za.n AS BIGINT) AS size_a, CAST(zb.n AS BIGINT) AS size_b,
           CAST(COALESCE(co.n_common, 0) AS BIGINT) AS n_common,
           ROUND(m.m / 8.0, 6) AS est_jaccard,
           ROUND(m.m * (za.n + zb.n) / CAST((8 + m.m) * za.n AS DOUBLE), 6)
               AS est_containment_a,
           ROUND(COALESCE(co.n_common, 0) / CAST(za.n AS DOUBLE), 6)
               AS exact_containment_a,
           ROUND(m.m * (za.n + zb.n) / CAST((8 + m.m) * zb.n AS DOUBLE), 6)
               AS est_containment_b,
           ROUND(COALESCE(co.n_common, 0) / CAST(zb.n AS DOUBLE), 6)
               AS exact_containment_b
    FROM mc_m m
    JOIN mc_sizes za ON za.doc_id = m.doc_a
    JOIN mc_sizes zb ON zb.doc_id = m.doc_b
    LEFT JOIN mc_common co ON co.doc_a = m.doc_a AND co.doc_b = m.doc_b
    """,
    doc="asymmetric containment from MinHash sketches, audited against "
    "exact values: sig agreement m of 8 gives I^=m(|A|+|B|)/(8+m), so "
    "C^(A in B)=I^/|A| — the short-doc-inside-long-doc signal Jaccard "
    "misses; both directions emitted next to exact containments so the "
    "query audits its own estimator, LSH-banded candidates only",
)
def text_minhash_containment_asym(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.dedup import minhash_containment_audit

    return minhash_containment_audit(load_table(spark, "documents", sf_dir))


# ---------------------------------------------------------------------------
# DoReMi-style proxy reweighting, stratified diverse coreset, per-source
# quota packing (pipeline/sampling.py), and the per-source dedup-cascade
# attribution audit.
# ---------------------------------------------------------------------------
@register(
    "mix_doremi_proxy_reweight",
    f"""
    WITH {_LM_CTES},
    dr_doc AS (
        SELECT d.doc_id, d.source,
               COALESCE(s.n_bigrams, 0) AS n_bigrams,
               COALESCE(s.nll_micro, 0) AS nll_micro
        FROM documents d LEFT JOIN lm_scored s USING (doc_id)
    ),
    dr_dom AS (
        SELECT source AS stratum, COUNT(*) AS n_docs,
               CAST(SUM(n_bigrams) AS BIGINT) AS n_tokens,
               CAST(SUM(nll_micro) AS BIGINT) AS tot_loss
        FROM dr_doc GROUP BY 1
    ),
    dr_corp AS (
        SELECT CAST(SUM(tot_loss) // SUM(n_tokens) AS BIGINT) AS corp_rate
        FROM dr_dom
    ),
    dr_boost AS (
        SELECT d.stratum, d.n_docs, d.n_tokens,
               CAST(d.tot_loss // d.n_tokens AS BIGINT) AS rate_micro,
               CAST(GREATEST(d.tot_loss // d.n_tokens - c.corp_rate, 0)
                    AS BIGINT) AS excess_micro,
               CAST(FLOOR(1e6 * EXP(
                        GREATEST(d.tot_loss // d.n_tokens - c.corp_rate, 0)
                        / 1e6) + 0.5) AS BIGINT) AS boost_q
        FROM dr_dom d CROSS JOIN dr_corp c
    ),
    dr_z AS (SELECT SUM(n_tokens * boost_q) AS z FROM dr_boost)
    SELECT b.stratum, CAST(b.n_docs AS BIGINT) AS n_docs, b.n_tokens,
           b.rate_micro, b.excess_micro, b.boost_q,
           ROUND(b.n_tokens * b.boost_q / CAST(z.z AS DOUBLE), 6) AS weight
    FROM dr_boost b CROSS JOIN dr_z z
    """,
    doc="DoReMi-style domain reweighting from the bigram-LM proxy loss: "
    "per-source loss rates in integer micro-nats/token (BIGINT floor "
    "div), excess over the corpus rate boosts the token-share baseline "
    "by exp(excess) quantized to an integer (the POWER idiom), weights "
    "renormalized — one domain-keyed agg, then |domains|-row arithmetic",
)
def mix_doremi_proxy_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import doremi_proxy_reweight
    from irstats2_spark.pipeline.textstats import lm_nll_scores

    docs = load_table(spark, "documents", sf_dir)
    scored = lm_nll_scores(docs, docs.filter(F.col("source") == "src0")).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return doremi_proxy_reweight(scored, by_col="source", eta=1.0)


@register(
    "sample_coreset_diverse",
    f"""
    WITH cs_cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    cs_assign AS (
        SELECT vec_id, centroid_id, centroid_cosine FROM (
            SELECT e.vec_id, c.centroid_id,
                   ROUND({_qcos('e.embedding', 'c.cv')}, 6) AS centroid_cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND({_qcos('e.embedding', 'c.cv')}, 6) DESC,
                                c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cs_cents c
        ) WHERE rn = 1
    ),
    cs_rank AS (
        SELECT vec_id, centroid_id, centroid_cosine,
               CAST(ROW_NUMBER() OVER (
                        PARTITION BY centroid_id
                        ORDER BY centroid_cosine DESC, vec_id ASC)
                    AS INT) AS cell_rank
        FROM cs_assign
    )
    SELECT vec_id, centroid_id, centroid_cosine, cell_rank,
           CAST(sel_rank AS INT) AS sel_rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                      ORDER BY cell_rank, centroid_id, vec_id) AS sel_rank
        FROM cs_rank
    ) WHERE sel_rank <= 50
    """,
    doc="cluster-stratified diverse coreset (budget 50): rank within "
    "each IVF cell by representativeness (centroid cosine DESC), pick "
    "globally by (cell_rank, cell, id) — round-robin across clusters, "
    "the deterministic scalable stand-in for greedy k-center; global "
    "cut is a TakeOrdered top-k, no global sort",
)
def sample_coreset_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import coreset_diverse_stratified
    from irstats2_spark.pipeline.similarity import ivf_assign

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = ivf_assign(emb, cents).select(
        "vec_id", "centroid_id", "centroid_cosine"
    )
    return coreset_diverse_stratified(assigned, k=50).select(
        "vec_id", "centroid_id", "centroid_cosine", "cell_rank", "sel_rank"
    )


@register(
    "corpus_quota_pack",
    f"""
    WITH qp_sized AS (
        SELECT source AS stratum, doc_id,
               CAST(len(list_filter(string_split({_NORM_SQL}, ' '),
                                    x -> length(x) > 0)) AS BIGINT)
                   AS n_tokens,
               md5('quota:' || CAST(doc_id AS VARCHAR)) AS ord
        FROM documents
    ),
    qp_packed AS (
        SELECT stratum, n_tokens,
               (SUM(n_tokens) OVER (PARTITION BY stratum
                                    ORDER BY ord, doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens)
               // 4096 AS shard_id
        FROM qp_sized
    )
    SELECT stratum, CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS used_tokens,
           ROUND(SUM(n_tokens) / 4096.0, 6) AS fill_ratio
    FROM qp_packed GROUP BY 1, 2
    """,
    doc="per-source quota packing (4096-token shards): docs pack into "
    "fixed-quota shards within their source in deterministic hash "
    "order, running-total boundary rule as pack_sequences — the "
    "scheduler's planning grain for per-epoch mixing; cumsum window "
    "parallelizes across sources, then a (source, shard) rollup",
)
def corpus_quota_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import quota_pack
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    sized = docs.select(
        "source", "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return quota_pack(sized, by_col="source", quota=4096)


@register(
    "pipeline_dedup_cascade_audit",
    f"""
    WITH {_SHINGLES_SQL},
    ca_keep AS (
        SELECT doc_id,
               doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
        FROM documents
    ),
    ca_sig AS (
        SELECT doc_id,
               MIN(substring(md5(shingle), 1, 8)) AS mh_0,
               MIN(substring(md5(shingle), 9, 8)) AS mh_1,
               MIN(substring(md5(shingle), 17, 8)) AS mh_2,
               MIN(substring(md5(shingle), 25, 8)) AS mh_3,
               MIN(substring(md5('1:' || shingle), 1, 8)) AS mh_4,
               MIN(substring(md5('1:' || shingle), 9, 8)) AS mh_5,
               MIN(substring(md5('1:' || shingle), 17, 8)) AS mh_6,
               MIN(substring(md5('1:' || shingle), 25, 8)) AS mh_7
        FROM shingles GROUP BY doc_id
    ),
    ca_band AS (
        SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS sig FROM ca_sig
        UNION ALL SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM ca_sig
        UNION ALL SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM ca_sig
        UNION ALL SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM ca_sig
    ),
    ca_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ca_band a JOIN ca_band b ON a.band = b.band AND a.sig = b.sig
                                      AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ca_sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    ca_pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM ca_cand c
            JOIN shingles a ON a.doc_id = c.doc_a
            JOIN shingles b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            JOIN ca_keep ka ON ka.doc_id = c.doc_a AND ka.is_keeper
            JOIN ca_keep kb ON kb.doc_id = c.doc_b AND kb.is_keeper
            GROUP BY 1, 2
        ) c
        JOIN ca_sizes sa ON sa.doc_id = c.doc_a
        JOIN ca_sizes sb ON sb.doc_id = c.doc_b
        WHERE ROUND(c.n_common / (sa.n + sb.n - c.n_common), 6) >= 0.5
    ),
    ca_flag AS (
        SELECT d.source, d.doc_id, k.is_keeper,
               d.doc_id IN (SELECT doc_b FROM ca_pairs) AS near_removed
        FROM documents d JOIN ca_keep k USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_removed,
           CAST(SUM(CASE WHEN is_keeper AND near_removed THEN 1 ELSE 0 END)
               AS BIGINT) AS neardup_removed,
           CAST(SUM(CASE WHEN is_keeper AND NOT near_removed THEN 1 ELSE 0
                    END) AS BIGINT) AS survivors,
           ROUND(CAST(SUM(CASE WHEN is_keeper AND NOT near_removed THEN 1
                          ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS retention
    FROM ca_flag GROUP BY 1
    """,
    doc="per-source dedup-cascade attribution: exact dedup first (min-id "
    "keeper per text hash), then MinHash-LSH >= 0.5 among the exact "
    "keepers removes the larger id of each verified pair; counts "
    "removed at each stage and the survivor retention per source — "
    "WHERE the dup mass lives, the audit the global funnel can't show; "
    "removal attributes to the removed doc's source",
)
def pipeline_dedup_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from irstats2_spark.pipeline.dedup import minhash_lsh_dedup

    docs = load_table(spark, "documents", sf_dir)
    keep = docs.select(
        "doc_id",
        "source",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ).alias("is_keeper"),
    )
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    keepers = keep.filter("is_keeper").select("doc_id")
    keeper_pairs = (
        pairs.join(
            keepers.withColumnRenamed("doc_id", "doc_a"), "doc_a", "leftsemi"
        ).join(
            keepers.withColumnRenamed("doc_id", "doc_b"), "doc_b", "leftsemi"
        )
    )
    removed = keeper_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    flag = keep.join(
        removed.withColumn("near_removed", F.lit(True)), "doc_id", "left"
    ).withColumn("near_removed", F.coalesce("near_removed", F.lit(False)))
    surv = F.col("is_keeper") & ~F.col("near_removed")
    return flag.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((~F.col("is_keeper")).cast("int")).cast("long").alias(
            "exact_removed"
        ),
        F.sum((F.col("is_keeper") & F.col("near_removed")).cast("int"))
        .cast("long")
        .alias("neardup_removed"),
        F.sum(surv.cast("int")).cast("long").alias("survivors"),
        F.round(F.sum(surv.cast("int")) / F.count(F.lit(1)), 6).alias(
            "retention"
        ),
    )


# ---------------------------------------------------------------------------
# Data-layout tier (pipeline/layout.py): zone-map pruning + Z-order
# clustering — the lakehouse file-skipping story, measured in-engine.
# ---------------------------------------------------------------------------
_ZM_SHARD_SQL = (
    "CAST(CAST(concat('0x', substring(md5('zm:' || CAST(doc_id AS VARCHAR)),"
    " 1, 8)) AS BIGINT) % 32 AS INT)"
)


@register(
    "corpus_zonemap_prune_audit",
    f"""
    WITH sh AS (
        SELECT doc_id, n_chars, {_ZM_SHARD_SQL} AS shard FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(n_chars) AS vmin,
           MAX(n_chars) AS vmax,
           (MAX(n_chars) < 200 OR MIN(n_chars) > 400) AS pruned,
           CAST(SUM(CASE WHEN n_chars BETWEEN 200 AND 400 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matching
    FROM sh GROUP BY 1 ORDER BY 1
    """,
    doc="zone-map prune audit: per-shard min/max metadata + whether "
    "n_chars BETWEEN 200 AND 400 can skip the shard, with the true "
    "match count proving soundness (pruned => n_matching = 0); shards "
    "are md5-hashed (the no-clustering worst case this tier's Z-order "
    "entries then beat); one map-side-combined aggregation",
)
def corpus_zonemap_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.layout import zonemap_prune_audit

    return zonemap_prune_audit(
        load_table(spark, "documents", sf_dir), "n_chars", 200, 400
    )


def _zorder_cte(bits: int, n_files: int) -> str:
    """Bin + interleave CTE ending in ``zed(doc_id, n_chars, zvalue,
    file_id)`` — generated like _simhash_cte: the per-bit terms are
    mechanical."""
    n_bins = 1 << bits
    z_terms = " + ".join(
        f"((bx // {1 << b}) % 2) * {1 << (2 * b + 1)}"
        f" + ((by // {1 << b}) % 2) * {1 << (2 * b)}"
        for b in range(bits)
    )
    per_file = (1 << (2 * bits)) // n_files
    return f"""
    bounds AS (
        SELECT MIN(n_chars) AS x_lo, MAX(n_chars) AS x_hi,
               MIN(doc_id) AS y_lo, MAX(doc_id) AS y_hi
        FROM documents
    ),
    binned AS (
        SELECT doc_id, n_chars,
               LEAST(CAST(FLOOR((n_chars - x_lo) * {n_bins}
                          / (x_hi - x_lo + 1)) AS BIGINT), {n_bins - 1}) AS bx,
               LEAST(CAST(FLOOR((doc_id - y_lo) * {n_bins}
                          / (y_hi - y_lo + 1)) AS BIGINT), {n_bins - 1}) AS by
        FROM documents CROSS JOIN bounds
    ),
    zed AS (
        SELECT doc_id, n_chars, {z_terms} AS zvalue,
               CAST(FLOOR(({z_terms}) / {per_file}) AS INT) AS file_id
        FROM binned
    )"""


@register(
    "corpus_zorder_layout",
    f"""
    WITH {_zorder_cte(4, 16)}
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(n_chars) AS x_min, MAX(n_chars) AS x_max,
           MIN(doc_id) AS y_min, MAX(doc_id) AS y_max
    FROM zed GROUP BY 1 ORDER BY 1
    """,
    doc="Z-order (Morton) clustering of documents on (n_chars, doc_id): "
    "4-bit fixed-width bins per dimension interleaved into an 8-bit "
    "Z-value, 16 equal Z-range files; output is each file's zone-map "
    "envelope in BOTH dimensions (tight envelopes are what zone maps "
    "prune on). Z-value is a pure projection given the broadcast "
    "min/max bounds — the writer's only wide op is one "
    "repartitionByRange(zvalue)",
)
def corpus_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.layout import zorder_layout

    return zorder_layout(
        load_table(spark, "documents", sf_dir), "n_chars", "doc_id",
        bits=4, n_files=16,
    )


@register(
    "corpus_zorder_prune_gain",
    f"""
    WITH {_zorder_cte(4, 16)},
    obounds AS (SELECT MIN(doc_id) AS o_lo, MAX(doc_id) AS o_hi FROM documents),
    laid AS (
        SELECT z.doc_id, z.n_chars, z.file_id AS z_file,
               CAST(LEAST(CAST(FLOOR((z.doc_id - o_lo) * 16
                          / (o_hi - o_lo + 1)) AS BIGINT), 15) AS INT) AS i_file
        FROM zed z CROSS JOIN obounds
    ),
    both_layouts AS (
        SELECT 'insertion' AS layout, i_file AS file_id, doc_id, n_chars
        FROM laid
        UNION ALL
        SELECT 'zorder' AS layout, z_file AS file_id, doc_id, n_chars
        FROM laid
    ),
    per_file AS (
        SELECT layout, file_id, COUNT(*) AS n_rows,
               MIN(n_chars) AS x_min, MAX(n_chars) AS x_max,
               MIN(doc_id) AS y_min, MAX(doc_id) AS y_max,
               SUM(CASE WHEN n_chars BETWEEN 150 AND 350
                         AND doc_id BETWEEN 0 AND 249
                        THEN 1 ELSE 0 END) AS n_matching
        FROM both_layouts GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS files_total,
           CAST(SUM(CASE WHEN x_max >= 150 AND x_min <= 350
                          AND y_max >= 0 AND y_min <= 249
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(SUM(CASE WHEN x_max >= 150 AND x_min <= 350
                          AND y_max >= 0 AND y_min <= 249
                         THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_matching) AS BIGINT) AS n_matching
    FROM per_file GROUP BY 1 ORDER BY 1
    """,
    doc="the Z-order payoff, quantified: files/rows a 2-D predicate "
    "(n_chars BETWEEN 150 AND 350 AND doc_id <= 249) must scan under "
    "the insertion-order layout vs the Z-ordered layout at the same "
    "file count — n_matching is layout-invariant by construction, the "
    "scanned counts are not; two map-side-combined aggregations, one "
    "scan each",
)
def corpus_zorder_prune_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.layout import zorder_prune_gain

    return zorder_prune_gain(
        load_table(spark, "documents", sf_dir), "n_chars", "doc_id",
        x_lo=150, x_hi=350, y_lo=0, y_hi=249, bits=4, n_files=16,
    )


# ---------------------------------------------------------------------------
# Embedding linear algebra (pipeline/linalg.py): distributed covariance
# (integer-exact) + PCA projection.
# ---------------------------------------------------------------------------
@register(
    "embedding_covariance",
    """
    WITH q AS (
        SELECT vec_id, CAST(t.i - 1 AS INT) AS dim,
               CAST(FLOOR(CAST(t.embedding[t.i] AS DOUBLE) * 1024 + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT vec_id, embedding, generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS nn FROM q),
    sx AS (SELECT dim, CAST(SUM(qv) AS BIGINT) AS s FROM q GROUP BY 1),
    sxy AS (
        SELECT a.dim AS i, b.dim AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS s
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    )
    SELECT sxy.i AS i, sxy.j AS j,
           ROUND(CAST(CAST(n.nn AS HUGEINT) * sxy.s
                      - CAST(si.s AS HUGEINT) * sj.s AS DOUBLE)
                 / n.nn / n.nn / 1048576.0, 9) AS cov
    FROM sxy CROSS JOIN n
    JOIN sx si ON si.dim = sxy.i
    JOIN sx sj ON sj.dim = sxy.j
    ORDER BY 1, 2
    """,
    doc="distributed d x d covariance, integer-exact: embeddings quantized "
    "to round(x*1024) ints, per-partition numpy GEMM partials (the "
    "k-means partial-reduce contract: state ~ d^2, never ~ N), ONE "
    "shuffle of scalar partial rows, cov finalized from exact int64 "
    "sums via (n*Sxy - Sx*Sy)/n^2 — the primitive under PCA/OPQ/"
    "whitening; the oracle replays it by exploding dims and self-"
    "joining, proving the GEMM == the naive sum-of-products",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.linalg import embedding_covariance as cov

    return cov(load_table(spark, "embeddings", sf_dir))


# Single source of truth for the PCA-audit component counts: the oracle's
# VALUES list and the ks= the query passes are f-string'd from this tuple,
# so editing one side cannot silently desynchronize the gate.
_PCA_KS: tuple[int, ...] = (2, 8, 32, 64)


@register(
    "embedding_pca_project",
    f"""
    WITH pq_ AS (
        SELECT CAST(FLOOR(CAST(t.embedding[t.i] AS DOUBLE) * 1024 + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT embedding, generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
    ),
    pagg AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
               CAST(SUM(qv * qv) AS BIGINT) AS sum_sq_q
        FROM pq_
    )
    SELECT CAST(k.k AS INT) AS k, a.n_vecs, a.sum_sq_q,
           CAST(1000000 AS BIGINT) AS pythagoras_ppm
    FROM (VALUES {", ".join(f"({k})" for k in _PCA_KS)}) k(k) CROSS JOIN pagg a
    ORDER BY 1
    """,
    doc="PCA projection audit, now VALUE-CHECKED (was rows-only): the "
    "eigenvectors are not SQL-expressible, so the gate verifies the "
    "derived invariants instead — the exact-integer quantized energy "
    "(oracle replays quantization + the distributed reduction) and the "
    "per-k Pythagoras closure projected_energy + reconstruction_error "
    "== centered scatter in ppm, which any non-orthonormal / "
    "uncentered / mis-transposed projection breaks; the projected "
    "VALUES stay pinned against numpy in tests/test_layout_linalg.py",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.linalg import pca_projection_audit

    return pca_projection_audit(
        load_table(spark, "embeddings", sf_dir), ks=_PCA_KS
    )


@register(
    "corpus_zonemap_merge",
    f"""
    WITH sh AS (
        SELECT doc_id, n_chars, {_ZM_SHARD_SQL} AS shard FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(n_chars) AS vmin,
           MAX(n_chars) AS vmax
    FROM sh GROUP BY 1 ORDER BY 1
    """,
    doc="zone-map MERGEABILITY, gated: stats computed separately over "
    "the snapshot half (doc_id < 250) and the new-arrivals half then "
    "folded (min/min, max/max, summed counts) must equal one full-scan "
    "stats pass — the incremental-writer contract that lets 100 TB of "
    "existing files keep their metadata unscanned; the oracle IS the "
    "full-scan pass",
)
def corpus_zonemap_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.layout import zonemap_merge, zonemap_stats

    docs = load_table(spark, "documents", sf_dir)
    old = zonemap_stats(docs.filter(F.col("doc_id") < 250), "n_chars")
    new = zonemap_stats(docs.filter(F.col("doc_id") >= 250), "n_chars")
    return zonemap_merge(old, new).orderBy("shard")


@register(
    "similarity_opq_distortion",
    """
    WITH oq_ AS (
        SELECT CAST(FLOOR(CAST(t.embedding[t.i] AS DOUBLE) * 1024 + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT embedding, generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
    ),
    oagg AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vecs,
               CAST(SUM(qv * qv) AS BIGINT) AS sum_sq_q_raw
        FROM oq_
    )
    SELECT v.variant, a.n_vecs, a.sum_sq_q_raw,
           CAST(1000000 AS BIGINT) AS energy_ppm,
           TRUE AS distortion_le_energy
    FROM (VALUES ('opq_rotated'), ('pq_raw')) v(variant) CROSS JOIN oagg a
    ORDER BY 1
    """,
    doc="OPQ audit (parametric, Ge et al.), now VALUE-CHECKED (was "
    "rows-only): runs the full pipeline — PCA basis, balanced "
    "eigenvalue allocation, rotation, and BOTH real PQ fits as "
    "concurrent jobs — and gates on the SQL-checkable invariants: "
    "exact-integer raw quantized energy, rotation orthonormality via "
    "energy conservation in ppm, and each variant's ACTUAL fit "
    "distortion <= its total energy (WCSS <= TSS once Lloyd updated "
    "centroids — a broken fit flips it FALSE); the raw-vs-rotated "
    "improvement stays pinned on anisotropic data in "
    "tests/test_layout_linalg.py",
)
def similarity_opq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.linalg import opq_distortion_audit

    return opq_distortion_audit(
        load_table(spark, "embeddings", sf_dir), dim=64, m=8
    )


@register(
    "text_encoding_anomaly",
    """
    WITH counts AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_text,
               CAST(length(text) - length(regexp_replace(text,
                    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g'))
                    AS BIGINT) AS n_control,
               CAST(length(text) - length(regexp_replace(text,
                    '\\x{FFFD}', '', 'g')) AS BIGINT) AS n_replacement,
               CAST(length(text) - length(regexp_replace(text,
                    '[^\\x00-\\x7F]', '', 'g')) AS BIGINT) AS n_non_ascii
        FROM documents
    )
    SELECT doc_id, n_chars_text, n_control, n_replacement, n_non_ascii,
           CAST(FLOOR((20 * n_replacement + 10 * n_control + n_non_ascii)
                * 1000.0 / GREATEST(n_chars_text, 1)) AS BIGINT)
               AS anomaly_per_mille,
           (CAST(FLOOR((20 * n_replacement + 10 * n_control + n_non_ascii)
                 * 1000.0 / GREATEST(n_chars_text, 1)) AS BIGINT) < 50)
               AS is_clean
    FROM counts
    """,
    doc="encoding-anomaly audit: U+FFFD replacement chars, C0 control "
    "chars, and non-ASCII rate per doc rolled into an integer "
    "per-mille mojibake score with a clean/dirty gate — three regexp "
    "counts fused into the scan projection, zero shuffles",
)
def text_encoding_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import encoding_anomaly_scores

    return encoding_anomaly_scores(load_table(spark, "documents", sf_dir))


@register(
    "corpus_curriculum_order",
    f"""
    WITH {_LM_CTES},
    cck AS (
        SELECT d.doc_id, d.lang,
               CAST(CASE WHEN COALESCE(s.n_bigrams, 0) > 0
                    THEN (s.nll_micro * 1000000) // s.n_bigrams
                    ELSE 0 END AS BIGINT) AS nll_per_bigram_micro
        FROM documents d LEFT JOIN lm_scored s USING (doc_id)
    ),
    ccb AS (
        SELECT doc_id,
               CAST(NTILE(3) OVER (PARTITION BY lang
                    ORDER BY nll_per_bigram_micro ASC, doc_id ASC) AS INT)
                   AS bucket
        FROM cck
    )
    SELECT doc_id, bucket,
           md5('curr:' || CAST(doc_id AS VARCHAR)) AS sort_key,
           CAST(ROW_NUMBER() OVER (
               ORDER BY bucket,
                        md5('curr:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS global_pos
    FROM ccb
    """,
    doc="curriculum training order: CCNet per-language perplexity tiers "
    "(head=1 first) with a reproducible md5 shuffle WITHIN each tier — "
    "global_pos is computed with one (bucket, shard)-keyed exchange "
    "plus a broadcast offsets table (sampling.curriculum_order), and "
    "the oracle's single global ROW_NUMBER over (bucket, sort_key, id) "
    "pins that the sharded rank + offset equals one global sort",
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.sampling import curriculum_order
    from irstats2_spark.pipeline.textstats import ccnet_perplexity_buckets

    docs = load_table(spark, "documents", sf_dir)
    tiers = ccnet_perplexity_buckets(
        docs, docs.filter(F.col("source") == "src0")
    ).select("doc_id", "bucket")
    return curriculum_order(tiers, "bucket")


@register(
    "embedding_class_separation",
    """
    WITH q AS (
        SELECT vec_id, label, CAST(t.i - 1 AS INT) AS dim,
               CAST(FLOOR(CAST(t.embedding[t.i] AS DOUBLE) * 1024 + 0.5)
                    AS BIGINT) AS qv
        FROM (SELECT vec_id, label, embedding,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
    ),
    per AS (
        SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY 1, 2
    ),
    gtot AS (
        SELECT dim, CAST(SUM(s) AS BIGINT) AS gs, CAST(SUM(n) AS BIGINT) AS gn
        FROM per GROUP BY 1
    )
    SELECT label, n AS n_vecs,
           ROUND(CAST(SUM(CAST(s * gn - gs * n AS HUGEINT) * (s * gn - gs * n))
                      AS DOUBLE)
                 / CAST(n * gn AS DOUBLE) / CAST(n * gn AS DOUBLE)
                 / 1048576.0, 6) AS centroid_dist_sq
    FROM per JOIN gtot USING (dim)
    GROUP BY label, n, gn ORDER BY 1
    """,
    doc="per-class centroid offset from the corpus mean (exact-rational "
    "form: int64 dim-wise sums, DECIMAL squares, two final divisions) "
    "— the linear-separability / batch-drift audit; one (label, dim) "
    "integer aggregation with map-side combine + a d-row broadcast "
    "rollup, corpus touched once",
)
def embedding_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.linalg import class_centroid_separation

    return class_centroid_separation(load_table(spark, "embeddings", sf_dir))


@register(
    "similarity_cluster_purity",
    f"""
    WITH cents AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < 4
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.centroid_id,
               ROUND({_qcos('e.embedding', 'c.cv')}, 6) AS cc
        FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
        SELECT vec_id, label, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY cc DESC, centroid_id ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    counts AS (
        SELECT centroid_id, label, CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned GROUP BY 1, 2
    ),
    tot AS (
        SELECT centroid_id, CAST(SUM(n) AS BIGINT) AS n_vecs
        FROM counts GROUP BY 1
    ),
    top AS (
        SELECT centroid_id, label AS majority_label, n AS n_majority FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                          ORDER BY n DESC, label ASC) AS rn
            FROM counts
        ) WHERE rn = 1
    )
    SELECT t.centroid_id, tot.n_vecs, t.majority_label, t.n_majority,
           ROUND(CAST(t.n_majority AS DOUBLE) / tot.n_vecs, 6) AS purity
    FROM top t JOIN tot USING (centroid_id)
    ORDER BY 1
    """,
    doc="IVF cluster purity: nearest-centroid assignment (the gated "
    "zero-shuffle ivf_assign map) crossed with the label column — per "
    "cell, majority label and its fraction; the clustering-quality "
    "check run before trusting cells for semantic dedup or "
    "cluster-stratified sampling. Post-assignment tables are "
    "|cells| x |labels| rows",
)
def similarity_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from irstats2_spark.pipeline.similarity import ivf_assign

    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    counts = (
        ivf_assign(emb, cents)
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("centroid_id").agg(F.sum("n").alias("n_vecs"))
    top = (
        counts.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("centroid_id").orderBy(
                    F.desc("n"), F.asc("label")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "centroid_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    return (
        top.join(tot, "centroid_id")
        .select(
            "centroid_id",
            "n_vecs",
            "majority_label",
            "n_majority",
            F.round(F.col("n_majority") / F.col("n_vecs"), 6).alias("purity"),
        )
        .orderBy("centroid_id")
    )


@register(
    "text_vocab_decode_roundtrip",
    f"""
    WITH vtoks AS (
        SELECT doc_id, j - 1 AS pos, t[j] AS token
        FROM (SELECT doc_id,
                     list_filter(string_split({_NORM_SQL}, ' '),
                                 x -> length(x) > 0) AS t
              FROM documents),
             LATERAL (SELECT unnest(generate_series(1, len(t))) AS j) s
        WHERE len(t) > 0
    ),
    vcounts AS (SELECT token, COUNT(*) AS c FROM vtoks GROUP BY 1),
    vvocab AS (
        SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token ASC)
                           AS INT) AS tid
        FROM vcounts ORDER BY c DESC, token ASC LIMIT 16
    ),
    venc AS (
        SELECT t.doc_id, t.token, COALESCE(v.tid, 0) AS token_id
        FROM vtoks t LEFT JOIN vvocab v USING (token)
    ),
    vdec AS (
        SELECT e.doc_id, e.token, e.token_id, i.token AS decoded
        FROM venc e LEFT JOIN vvocab i ON i.tid = e.token_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN token_id = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN token_id > 0 AND decoded <> token
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           (SUM(CASE WHEN token_id > 0 AND decoded <> token
                     THEN 1 ELSE 0 END) = 0) AS roundtrip_ok
    FROM vdec GROUP BY 1
    """,
    doc="tokenizer round-trip integrity: encode through the bounded "
    "vocab, decode through its inverse, and verify every in-vocab "
    "position reproduces its token (OOV counted, never compared) — "
    "one shared token explode, both id tables broadcast",
)
def text_vocab_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import vocab_decode_roundtrip

    return vocab_decode_roundtrip(
        load_table(spark, "documents", sf_dir), vocab_size=16
    )


@register(
    "corpus_ngram_diversity_approx",
    f"""
    WITH nda AS (
        SELECT source AS stratum,
               unnest(list_filter(string_split({_NORM_SQL}, ' '),
                                  x -> length(x) > 0)) AS token
        FROM documents
    )
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT token) AS BIGINT) AS n_types_exact,
           TRUE AS approx_ok
    FROM nda GROUP BY 1
    """,
    doc="the documented 100-TB path for corpus_ngram_diversity, gated: "
    "HLL++ distinct token types per source, asserted IN-QUERY within "
    "10% of the exact distinct (the oracle emits the exact count plus "
    "TRUE, so sketch drift fails the value hash) — at scale only the "
    "sketch side runs; the exact side is the verification harness",
)
def corpus_ngram_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import tokens

    docs = load_table(spark, "documents", sf_dir)
    ex = docs.select(
        F.col("source").alias("stratum"),
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    return (
        ex.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("token").alias("n_types_exact"),
            F.approx_count_distinct("token", rsd=0.02).alias("__approx"),
        )
        .select(
            "stratum",
            "n_tokens",
            "n_types_exact",
            (
                F.abs(F.col("__approx") - F.col("n_types_exact"))
                <= F.greatest(
                    F.lit(1.0), F.col("n_types_exact") * F.lit(0.10)
                )
            ).alias("approx_ok"),
        )
    )


@register(
    "pipeline_release_e2e",
    f"""
    WITH feats AS (
        SELECT doc_id, text, n_chars,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> length(w) > 0)) AS n_tokens,
               len(list_filter(string_split({_NORM_SQL}, ' '),
                               w -> w IN ('the','and','of','to','in','is','a'))) AS n_stop
        FROM documents
    ),
    kept AS (
        SELECT * FROM feats
        WHERE n_tokens >= 5 AND (CAST(n_stop AS DOUBLE) / n_tokens) <= 0.6
    ),
    keepers AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        FROM kept
    ),
    survivors AS (SELECT * FROM keepers WHERE doc_id = keeper),
    tagged AS (
        SELECT CAST({_bucket_sql("shard:", buckets=8)} AS INT) AS shard,
               md5(text) AS h, n_tokens AS nt, n_chars
        FROM survivors
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           md5(string_agg(h, '' ORDER BY h)) AS content_checksum,
           MIN(n_chars) AS chars_min,
           MAX(n_chars) AS chars_max
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
    doc="dataset RELEASE chain as one composition: quality gate -> "
    "exact-dedup keepers -> deterministic shard assignment -> per-shard "
    "manifest (doc/token counts + order-free md5 content checksum) "
    "FUSED with the shard's zone-map envelope — the artifact a consumer "
    "verifies a published corpus against, and the layout metadata the "
    "reader prunes with, emitted by the same single aggregation; the "
    "corpus text crosses an exchange once (the keeper window), the "
    "manifest shuffle carries hashes and scalars",
)
def pipeline_release_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.curate import curate_corpus
    from irstats2_spark.pipeline.sampling import hash_bucket
    from irstats2_spark.pipeline.textstats import token_count

    docs = load_table(spark, "documents", sf_dir)
    survivors = docs.join(
        curate_corpus(docs).select("doc_id"), "doc_id", "leftsemi"
    )
    tagged = survivors.select(
        hash_bucket(F.col("doc_id"), 8, "shard:").cast("int").alias("shard"),
        F.md5(F.col("text")).alias("__h"),
        token_count(F.col("text")).alias("__nt"),
        "n_chars",
    )
    return (
        tagged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list("__h")))).alias(
                "content_checksum"
            ),
            F.min("n_chars").alias("chars_min"),
            F.max("n_chars").alias("chars_max"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Suffix-array exact-substring tier (pipeline/suffix.py) — repeats of
# ARBITRARY length by suffix-order adjacency (Lee et al. 2022; interval
# enumeration per Abouelhoda et al. 2004), the exact upgrade of the
# fixed-k shingle/chunk tiers. The oracle is an INDEPENDENT declarative
# characterization, not the same algorithm: a maximal repeat is an
# L-gram occurring >= min_count times with >= 2 distinct left AND right
# contexts (doc boundaries count as per-occurrence-unique; at
# L = max_span right-extension is truncated so the right check is
# waived). Tokenization uses \p{L}\p{N} (not [a-z0-9]) so a testdata
# regeneration with non-ascii text cannot desync the gate.
# The sorted suffix index at the tier's span is memoized per
# (application, sf_dir, fingerprint) and shared by the full miner and
# the coverage rollup — same job-server semantics as the kNN-edge and
# SimHash-pair prefixes (see the BENCH SEMANTICS note above).
# ---------------------------------------------------------------------------

_SUFFIX_MIN_LEN, _SUFFIX_SPAN = 6, 9
_SFX_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)
_SFX_TOKS = f"""
    sfx_toks AS (
        SELECT doc_id,
               list_filter(string_split({_SFX_NORM}, ' '),
                           x -> length(x) > 0) AS t
        FROM documents
    )"""
_SFX_GRAMS = f"""
    sfx_grams AS (
        SELECT d.doc_id, l.L, p.p,
               array_to_string(d.t[p.p : p.p + l.L - 1], ' ') AS g,
               CASE WHEN p.p > 1 THEN 't:' || d.t[p.p - 1]
                    ELSE 's:' || d.doc_id || ':' || p.p END AS lctx,
               CASE WHEN p.p + l.L <= len(d.t) THEN 't:' || d.t[p.p + l.L]
                    ELSE 'e:' || d.doc_id || ':' || p.p END AS rctx
        FROM sfx_toks d,
             unnest(range({_SUFFIX_MIN_LEN}, {_SUFFIX_SPAN} + 1)) AS l(L),
             unnest(range(1, len(d.t) - l.L + 2)) AS p(p)
    )"""
_SFX_MAXIMAL = f"""COUNT(*) >= 2 AND COUNT(DISTINCT lctx) >= 2
       AND (L = {_SUFFIX_SPAN} OR COUNT(DISTINCT rctx) >= 2)"""


def _suffix_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized truncated-suffix index (doc_id, pos, w, prev,
    sa_idx) over ``documents`` at the tier's span — the shared prefix
    of the full miner and the coverage rollup (the one corpus-sized
    sort each would otherwise redo)."""
    from irstats2_spark.pipeline.lifecycle import release_after
    from irstats2_spark.pipeline.suffix import suffix_order, suffix_windows

    def build() -> DataFrame:
        sa, pin = suffix_order(
            suffix_windows(
                load_table(spark, "documents", sf_dir), max_span=_SUFFIX_SPAN
            )
        )
        return release_after(sa, [pin], True)  # checkpoint, drop the sort pin

    return _memoized_prefix(
        spark,
        sf_dir,
        f"suffix_sa_span{_SUFFIX_SPAN}",
        "documents",
        build,
        prematerialized=True,
    )


@register(
    "repeated_substrings",
    f"""
    WITH {_SFX_TOKS},
    {_SFX_GRAMS}
    SELECT md5(g) AS fp, CAST(L AS INT) AS repeat_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           g AS repeat_text
    FROM sfx_grams
    GROUP BY g, L
    HAVING {_SFX_MAXIMAL}
    """,
    doc="suffix-array maximal-repeat miner: every left-maximal lcp-interval "
    f"of length {_SUFFIX_MIN_LEN}..{_SUFFIX_SPAN} occurring >= 2 times "
    "corpus-wide, with occurrence/doc counts and a fingerprint — the "
    "arbitrary-length exact-substring dedup report (Lee et al. 2022)",
)
def suffix_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.suffix import repeated_substrings

    return repeated_substrings(
        load_table(spark, "documents", sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        min_count=2,
        max_span=_SUFFIX_SPAN,
        sa=_suffix_sa(spark, sf_dir),
        materialize=True,
    )


@register(
    "repeated_substrings_incremental",
    f"""
    WITH {_SFX_TOKS},
    {_SFX_GRAMS}
    SELECT md5(g) AS fp, CAST(L AS INT) AS repeat_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           g AS repeat_text
    FROM sfx_grams
    GROUP BY g, L
    HAVING {_SFX_MAXIMAL}
       AND MAX(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) = 1
    """,
    doc="nightly-batch suffix miner: repeats involving at least one "
    "occurrence from the new batch (doc_id % 5 = 0) mined against the "
    "accumulated window snapshot (doc_id % 5 != 0); snapshot-only "
    "repeats were reported by earlier runs and are suppressed",
)
def suffix_repeated_substrings_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.suffix import repeated_substrings_incremental

    docs = load_table(spark, "documents", sf_dir)
    return repeated_substrings_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        _suffix_snapshot_windows(spark, sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        min_count=2,
        max_span=_SUFFIX_SPAN,
        materialize=True,
    )


def _suffix_snapshot_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized suffix-window snapshot of the accumulated corpus
    (doc_id % 5 != 0) — in production this is a STORED table
    (``write_suffix_snapshot``), so the nightly entry reads a memoized
    materialization instead of re-windowing the snapshot side per run
    (the ``max_span`` stamp survives the checkpoint with the schema)."""
    from irstats2_spark.pipeline.suffix import suffix_windows

    def build() -> DataFrame:
        return suffix_windows(
            load_table(spark, "documents", sf_dir).filter(
                F.col("doc_id") % 5 != 0
            ),
            max_span=_SUFFIX_SPAN,
        )

    return _memoized_prefix(
        spark,
        sf_dir,
        f"suffix_snapshot_windows_span{_SUFFIX_SPAN}",
        "documents",
        build,
    )


@register(
    "exact_substring_coverage",
    f"""
    WITH {_SFX_TOKS},
    {_SFX_GRAMS},
    sfx_rep AS (
        SELECT g, L FROM sfx_grams GROUP BY g, L HAVING COUNT(*) >= 2
    ),
    sfx_spans AS (
        SELECT doc_id, p, MAX(L) AS span
        FROM sfx_grams JOIN sfx_rep USING (g, L)
        GROUP BY doc_id, p
    ),
    sfx_union AS (
        SELECT doc_id, p, span,
               MAX(p + span) OVER (
                   PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM sfx_spans
    ),
    sfx_cov AS (
        SELECT doc_id,
               SUM(GREATEST(0, p + span
                               - GREATEST(COALESCE(prev_end, 0), p))) AS covered
        FROM sfx_union GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.t), 0) AS INT) AS n_tokens,
           CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(CASE WHEN COALESCE(len(t.t), 0) > 0
                      THEN CAST(COALESCE(c.covered, 0) AS DOUBLE) / len(t.t)
                      ELSE 0.0 END, 6) AS dup_frac
    FROM sfx_toks t LEFT JOIN sfx_cov c USING (doc_id)
    """,
    doc="per-document fraction of tokens inside an exact substring of "
    f"length >= {_SUFFIX_MIN_LEN} repeated anywhere in the corpus — the "
    "arbitrary-length upgrade of the fixed-window dup-span coverage "
    "(suffix-adjacency witness, per-doc variable-span interval union)",
)
def suffix_exact_substring_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.suffix import exact_substring_coverage

    return exact_substring_coverage(
        load_table(spark, "documents", sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        max_span=_SUFFIX_SPAN,
        sa=_suffix_sa(spark, sf_dir),
        materialize=True,
    )


@register(
    "exact_substring_remove",
    f"""
    WITH {_SFX_TOKS},
    rm_grams AS (
        SELECT doc_id, p.p - 1 AS pos,
               md5(array_to_string(t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' '))
                   AS h
        FROM sfx_toks,
             unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
        WHERE len(t) >= {_SUFFIX_MIN_LEN}
    ),
    rm_cls AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM rm_grams
    ),
    rm_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM rm_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE cnt >= 2 AND rn > 1
    ),
    rm_tok AS (
        SELECT doc_id, j.j - 1 AS idx, t[j.j] AS tok
        FROM sfx_toks, unnest(range(1, len(t) + 1)) AS j(j)
    ),
    rm_clean AS (
        SELECT k.doc_id,
               COUNT(*) AS kept,
               string_agg(k.tok, ' ' ORDER BY k.idx) AS text_clean
        FROM rm_tok k
        LEFT JOIN rm_idx r ON k.doc_id = r.doc_id AND k.idx = r.idx
        WHERE r.idx IS NULL
        GROUP BY k.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.t), 0) AS INT) AS n_tokens,
           CAST(COALESCE(len(t.t), 0) - COALESCE(c.kept, 0) AS BIGINT)
               AS removed_tokens,
           COALESCE(c.text_clean, '') AS text_clean
    FROM sfx_toks t LEFT JOIN rm_clean c USING (doc_id)
    """,
    doc="the exact-substring dedup ACTION (Lee et al. ExactSubstr): every "
    f"duplicated span of >= {_SUFFIX_MIN_LEN} tokens excised from all but "
    "its canonical (min doc_id, pos) occurrence, documents rewritten — "
    "completes the family's mine -> measure -> remove pipeline; duplicated "
    "spans at threshold are exactly unions of duplicated "
    f"{_SUFFIX_MIN_LEN}-grams, so the removal set is one md5-gram-class "
    "shuffle and the rewrite is an in-row JVM interval fold",
)
def suffix_exact_substring_remove(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.suffix import remove_repeated_spans

    return remove_repeated_spans(
        load_table(spark, "documents", sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        keep_first=True,
        occ=_exactsubstr_dup_occ(spark, sf_dir),
    )


def _exactsubstr_dup_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized duplicated-gram occurrence set over ``documents`` at
    the tier's length — the shared prefix of the removal action and its
    quality audit (one gram explode + one class agg instead of one
    per entry; same job-server semantics as the kNN-edge / SimHash-pair
    / suffix-index prefixes)."""
    from irstats2_spark.pipeline.suffix import dup_gram_occurrences

    def build() -> DataFrame:
        return dup_gram_occurrences(
            load_table(spark, "documents", sf_dir), min_len=_SUFFIX_MIN_LEN
        )

    return _memoized_prefix(
        spark,
        sf_dir,
        f"exactsubstr_dup_occ_len{_SUFFIX_MIN_LEN}",
        "documents",
        build,
    )


@register(
    "exact_substring_remove_incremental",
    f"""
    WITH {_SFX_TOKS},
    ri_grams AS (
        SELECT doc_id, p.p - 1 AS pos, (doc_id % 5 = 0) AS is_new,
               md5(array_to_string(t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' '))
                   AS h
        FROM sfx_toks,
             unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
        WHERE len(t) >= {_SUFFIX_MIN_LEN}
    ),
    ri_cls AS (
        SELECT doc_id, pos, is_new,
               SUM(CASE WHEN is_new THEN 0 ELSE 1 END)
                   OVER (PARTITION BY h) AS n_old,
               SUM(CASE WHEN is_new THEN 1 ELSE 0 END)
                   OVER (PARTITION BY h) AS n_new,
               ROW_NUMBER() OVER (PARTITION BY h, is_new
                                  ORDER BY doc_id, pos) AS rn_new
        FROM ri_grams
    ),
    ri_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM ri_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE is_new AND (n_old >= 1 OR (n_new >= 2 AND rn_new > 1))
    ),
    ri_tok AS (
        SELECT doc_id, j.j - 1 AS idx, t[j.j] AS tok
        FROM sfx_toks, unnest(range(1, len(t) + 1)) AS j(j)
        WHERE doc_id % 5 = 0
    ),
    ri_clean AS (
        SELECT k.doc_id,
               COUNT(*) AS kept,
               string_agg(k.tok, ' ' ORDER BY k.idx) AS text_clean
        FROM ri_tok k
        LEFT JOIN ri_idx r ON k.doc_id = r.doc_id AND k.idx = r.idx
        WHERE r.idx IS NULL
        GROUP BY k.doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(len(t.t), 0) AS INT) AS n_tokens,
           CAST(COALESCE(len(t.t), 0) - COALESCE(c.kept, 0) AS BIGINT)
               AS removed_tokens,
           COALESCE(c.text_clean, '') AS text_clean
    FROM sfx_toks t LEFT JOIN ri_clean c USING (doc_id)
    WHERE t.doc_id % 5 = 0
    """,
    doc="nightly clean-the-new-batch form of the removal action: new docs "
    "(doc_id % 5 = 0) rewritten with spans excised where the gram appears "
    "in the accumulated corpus's snapshot (doc_id % 5 != 0; snapshot "
    "occurrences canonical by fiat) or repeats within the batch "
    "(keep-one); only the new batch is gram-exploded, the snapshot "
    "contributes one membership hash join; streaming twin "
    "remove_spans_stream cleans on arrival from the same store",
)
def suffix_exact_substring_remove_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.suffix import (
        gram_snapshot,
        remove_repeated_spans_incremental,
    )

    docs = load_table(spark, "documents", sf_dir)

    def build() -> DataFrame:
        # production stores this (write_gram_snapshot); the entry reads
        # a memoized materialization, not a per-run rebuild
        return gram_snapshot(
            docs.filter(F.col("doc_id") % 5 != 0), min_len=_SUFFIX_MIN_LEN
        )

    snap = _memoized_prefix(
        spark,
        sf_dir,
        f"gram_snapshot_len{_SUFFIX_MIN_LEN}",
        "documents",
        build,
    )
    return remove_repeated_spans_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        snap,
        min_len=_SUFFIX_MIN_LEN,
        keep_first=True,
    )


@register(
    "exactsubstr_removal_audit",
    f"""
    WITH {_SFX_TOKS},
    ra_grams AS (
        SELECT doc_id, p.p - 1 AS pos,
               md5(array_to_string(t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' '))
                   AS h
        FROM sfx_toks,
             unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
        WHERE len(t) >= {_SUFFIX_MIN_LEN}
    ),
    ra_cls AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM ra_grams
    ),
    ra_all_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM ra_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE cnt >= 2
    ),
    ra_rm_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM ra_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE cnt >= 2 AND rn > 1
    ),
    ra_tok AS (
        SELECT doc_id, j.j - 1 AS idx, t[j.j] AS tok
        FROM sfx_toks, unnest(range(1, len(t) + 1)) AS j(j)
    ),
    ra_clean AS (
        SELECT k.doc_id,
               string_agg(k.tok, ' ' ORDER BY k.idx) AS text_clean
        FROM ra_tok k
        LEFT JOIN ra_rm_idx r ON k.doc_id = r.doc_id AND k.idx = r.idx
        WHERE r.idx IS NULL
        GROUP BY k.doc_id
    ),
    rc_toks AS (
        SELECT doc_id,
               list_filter(string_split(text_clean, ' '),
                           x -> length(x) > 0) AS t
        FROM ra_clean
    ),
    rc_cls AS (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS cnt
        FROM (
            SELECT doc_id, p.p - 1 AS pos,
                   md5(array_to_string(
                       t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' ')) AS h
            FROM rc_toks,
                 unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
            WHERE len(t) >= {_SUFFIX_MIN_LEN}
        )
    ),
    rc_dup_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM rc_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE cnt >= 2
    ),
    ra_sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(COALESCE(len(t), 0)) AS BIGINT) AS tokens_before
        FROM sfx_toks
    )
    SELECT s.n_docs,
           s.tokens_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ra_rm_idx)
               AS tokens_removed,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ra_all_idx)
               AS dup_tokens_before,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM rc_dup_idx)
               AS dup_tokens_after,
           ROUND(CASE WHEN s.tokens_before > 0
                 THEN CAST((SELECT COUNT(*) FROM ra_all_idx) AS DOUBLE)
                      / s.tokens_before ELSE 0.0 END, 6)
               AS dup_frac_before,
           ROUND(CASE WHEN s.tokens_before
                           - (SELECT COUNT(*) FROM ra_rm_idx) > 0
                 THEN CAST((SELECT COUNT(*) FROM rc_dup_idx) AS DOUBLE)
                      / (s.tokens_before
                         - (SELECT COUNT(*) FROM ra_rm_idx))
                 ELSE 0.0 END, 6)
               AS dup_frac_after
    FROM ra_sums s
    """,
    doc="removal-quality audit (the family's lsh_recall_audit analog): "
    "duplicated-token mass before cleaning, what keep-one cleaning cut, "
    "and the duplicated mass REMEASURED on the cleaned corpus — ~0 unless "
    "excisions spliced surviving tokens into new duplicated runs, which "
    "is exactly the regression an audit exists to catch",
)
def suffix_removal_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.suffix import removal_quality_audit

    return removal_quality_audit(
        load_table(spark, "documents", sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        occ=_exactsubstr_dup_occ(spark, sf_dir),
        materialize=True,
    )


_SKYLINE_ORACLE = f"""
    WITH {_SFX_TOKS},
    sky_feats AS (
        SELECT doc_id,
               CAST(COALESCE(len(t), 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(list_distinct(t)), 0) AS BIGINT)
                   AS n_distinct
        FROM sfx_toks
    )
    SELECT f.doc_id, f.n_tokens, f.n_distinct
    FROM sky_feats f
    WHERE NOT EXISTS (
        SELECT 1 FROM sky_feats g
        WHERE g.n_tokens <= f.n_tokens AND g.n_distinct >= f.n_distinct
          AND (g.n_tokens < f.n_tokens OR g.n_distinct > f.n_distinct)
    )
    """


def _skyline_doc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.textstats import tokens

    t = tokens(F.col("text"))
    return load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.greatest(F.size(t), F.lit(0)).cast("bigint").alias("n_tokens"),
        F.greatest(F.size(F.array_distinct(t)), F.lit(0))
        .cast("bigint")
        .alias("n_distinct"),
    )


@register(
    "select_pareto_skyline",
    _SKYLINE_ORACLE,
    doc="Pareto-frontier document selection (skyline; Grasmann/Pichler/"
    "Selzer EDBT 2023 Spark integration): the documents no other "
    "document beats on every axis at once — here minimize n_tokens "
    "while maximizing distinct-token count, i.e. the densest-vocabulary-"
    "per-length frontier — computed as per-partition Arrow-vectorized "
    "BNL skylines merged over the frontier-sized candidate union "
    "(oracle: quadratic NOT EXISTS dominance)",
)
def pipeline_select_pareto_skyline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.skyline import skyline

    return skyline(
        _skyline_doc_feats(spark, sf_dir),
        ["n_tokens", "n_distinct"],
        {"n_distinct": "max"},
    )


@register(
    "select_pareto_skyline_incremental",
    _SKYLINE_ORACLE,
    doc="nightly frontier maintenance: skyline(stored frontier UNION new "
    "batch) — dominance is transitive, so points the old frontier's "
    "losers dominated are dominated by the frontier itself and batches "
    "fold in any order; the ORACLE is deliberately the same full-corpus "
    "skyline, so this row verifies incremental == batch end-to-end "
    "(even-doc frontier folded with the odd-doc batch)",
)
def pipeline_select_pareto_skyline_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.skyline import skyline, skyline_incremental

    feats = _skyline_doc_feats(spark, sf_dir)
    dims = ["n_tokens", "n_distinct"]
    dirs = {"n_distinct": "max"}
    stored = skyline(feats.filter(F.col("doc_id") % 2 == 0), dims, dirs)
    batch = feats.filter(F.col("doc_id") % 2 == 1)
    return skyline_incremental(stored, batch, dims, dirs)


@register(
    "select_pareto_skyline_3axis",
    f"""
    WITH {_SFX_TOKS},
    sky3_feats0 AS (
        SELECT doc_id,
               CAST(COALESCE(len(t), 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(list_distinct(t)), 0) AS BIGINT)
                   AS n_distinct
        FROM sfx_toks
    ),
    sky3_wins AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(t[i + 1 : i + 8], ' ')) AS h
        FROM sfx_toks,
             LATERAL (SELECT unnest(generate_series(0, len(t) - 8)) AS i) s
        WHERE len(t) >= 8
    ),
    sky3_freq AS (
        SELECT h FROM sky3_wins GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sky3_dup AS (
        SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM sky3_wins WHERE h IN (SELECT h FROM sky3_freq)
    ),
    sky3_cov AS (
        SELECT doc_id,
               SUM(CASE WHEN prev IS NULL THEN 8
                        ELSE LEAST(8, pos - prev) END) AS covered
        FROM sky3_dup GROUP BY 1
    ),
    sky3_feats AS (
        SELECT f.doc_id, f.n_tokens, f.n_distinct,
               CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_tokens
        FROM sky3_feats0 f LEFT JOIN sky3_cov c USING (doc_id)
    )
    SELECT f.doc_id, f.n_tokens, f.n_distinct, f.covered_tokens
    FROM sky3_feats f
    WHERE NOT EXISTS (
        SELECT 1 FROM sky3_feats g
        WHERE g.n_tokens <= f.n_tokens AND g.n_distinct >= f.n_distinct
          AND g.covered_tokens <= f.covered_tokens
          AND (g.n_tokens < f.n_tokens OR g.n_distinct > f.n_distinct
               OR g.covered_tokens < f.covered_tokens)
    )
    """,
    doc="3-axis skyline — the operator's risk surface is d >= 3 (the "
    "merge guard's own rationale, skyline.py): minimize n_tokens AND "
    "duplicated-span coverage (text_dup_span_coverage's covered_tokens, "
    "8-token stride-1 windows, interval-union) while maximizing "
    "distinct-token count — the short, vocabulary-dense, low-boilerplate "
    "frontier a curation pass would keep; oracle is the quadratic "
    "3-axis NOT EXISTS dominance over the same features",
)
def pipeline_select_pareto_skyline_3axis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.skyline import skyline
    from irstats2_spark.pipeline.textstats import duplicate_span_coverage

    cov = duplicate_span_coverage(
        load_table(spark, "documents", sf_dir),
        span_tokens=8,
        min_docs=2,
        materialize=True,
    ).select("doc_id", "covered_tokens")
    feats = _skyline_doc_feats(spark, sf_dir).join(cov, "doc_id")
    return skyline(
        feats.select("doc_id", "n_tokens", "n_distinct", "covered_tokens"),
        ["n_tokens", "n_distinct", "covered_tokens"],
        {"n_distinct": "max"},
    )


@register(
    "select_k_skyband",
    f"""
    WITH {_SFX_TOKS},
    skb_feats AS (
        SELECT doc_id,
               CAST(COALESCE(len(t), 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(list_distinct(t)), 0) AS BIGINT)
                   AS n_distinct
        FROM sfx_toks
    )
    SELECT f.doc_id, f.n_tokens, f.n_distinct
    FROM skb_feats f
    WHERE (
        SELECT COUNT(*) FROM skb_feats g
        WHERE g.n_tokens <= f.n_tokens AND g.n_distinct >= f.n_distinct
          AND (g.n_tokens < f.n_tokens OR g.n_distinct > f.n_distinct)
    ) < 2
    """,
    doc="k-skyband selection (Papadias et al. TODS 2005; skyline is the "
    "1-skyband): documents dominated by FEWER than k=2 others on "
    "(min n_tokens, max n_distinct) — the 'k frontier layers' worth of "
    "near-optimal documents' curation form, same two-phase local-fold + "
    "frontier-sized-merge plan as the skyline family with the local "
    "dominator count capped at k (oracle: correlated quadratic "
    "dominator-count subquery)",
)
def pipeline_select_k_skyband(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.skyline import skyband

    return skyband(
        _skyline_doc_feats(spark, sf_dir),
        ["n_tokens", "n_distinct"],
        k=2,
        directions={"n_distinct": "max"},
    )


@register(
    "select_k_skyband_incremental",
    f"""
    WITH {_SFX_TOKS},
    skbi_feats AS (
        SELECT doc_id,
               CAST(COALESCE(len(t), 0) AS BIGINT) AS n_tokens,
               CAST(COALESCE(len(list_distinct(t)), 0) AS BIGINT)
                   AS n_distinct
        FROM sfx_toks
    )
    SELECT f.doc_id, f.n_tokens, f.n_distinct
    FROM skbi_feats f
    WHERE (
        SELECT COUNT(*) FROM skbi_feats g
        WHERE g.n_tokens <= f.n_tokens AND g.n_distinct >= f.n_distinct
          AND (g.n_tokens < f.n_tokens OR g.n_distinct > f.n_distinct)
    ) < 2
    """,
    doc="nightly k-skyband store maintenance: skyband(stored UNION new "
    "batch) — discarded rows had k dominators that persist forever, so "
    "they can never re-enter, and survivor membership is decided "
    "exactly within stored-union-batch (proof on _skyband_fold); the "
    "oracle is deliberately the full-corpus 2-skyband, so this row "
    "verifies incremental == batch end-to-end (even-doc store folded "
    "with the odd-doc batch), the skyline-incremental precedent",
)
def pipeline_select_k_skyband_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from irstats2_spark.pipeline.skyline import skyband, skyband_incremental

    feats = _skyline_doc_feats(spark, sf_dir)
    dims = ["n_tokens", "n_distinct"]
    dirs = {"n_distinct": "max"}
    stored = skyband(feats.filter(F.col("doc_id") % 2 == 0), dims, 2, dirs)
    batch = feats.filter(F.col("doc_id") % 2 == 1)
    return skyband_incremental(stored, batch, dims, 2, dirs)


@register(
    "exactsubstr_span_log",
    f"""
    WITH {_SFX_TOKS},
    sl_grams AS (
        SELECT doc_id, p.p - 1 AS pos,
               md5(array_to_string(t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' '))
                   AS h
        FROM sfx_toks,
             unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
        WHERE len(t) >= {_SUFFIX_MIN_LEN}
    ),
    sl_cls AS (
        SELECT doc_id, pos,
               COUNT(*) OVER (PARTITION BY h) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM sl_grams
    ),
    sl_idx AS (
        SELECT DISTINCT doc_id, pos + d.d AS idx
        FROM sl_cls, unnest(range(0, {_SUFFIX_MIN_LEN})) AS d(d)
        WHERE cnt >= 2 AND rn > 1
    ),
    sl_isl AS (
        SELECT doc_id, idx,
               idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx)
                   AS g
        FROM sl_idx
    )
    SELECT doc_id,
           CAST(MIN(idx) AS BIGINT) AS s,
           CAST(MAX(idx) + 1 AS BIGINT) AS e,
           CAST(COUNT(*) AS BIGINT) AS n_removed
    FROM sl_isl
    GROUP BY doc_id, g
    """,
    doc="the removal action's provenance artifact: one row per merged "
    "excised [s, e) token interval under the same keep-first semantics "
    "as exact_substring_remove — ship it next to cleaned shards so "
    "consumers can audit or reconstruct what was cut without re-running "
    "the dedup; dup-interval-sized, no text-carrying join anywhere "
    "(oracle: covered-index islands via gaps-and-islands)",
)
def suffix_exactsubstr_span_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.suffix import removed_span_log

    return removed_span_log(
        load_table(spark, "documents", sf_dir),
        min_len=_SUFFIX_MIN_LEN,
        occ=_exactsubstr_dup_occ(spark, sf_dir),
    )


@register(
    "gram_snapshot_merge",
    f"""
    WITH {_SFX_TOKS}
    SELECT DISTINCT
           md5(array_to_string(t[p.p : p.p + {_SUFFIX_MIN_LEN} - 1], ' '))
               AS h
    FROM sfx_toks,
         unnest(range(1, len(t) - {_SUFFIX_MIN_LEN} + 2)) AS p(p)
    WHERE len(t) >= {_SUFFIX_MIN_LEN}
    """,
    doc="gram-snapshot maintenance (the clean-on-arrival loop's store "
    "update): folding the odd-doc batch's gram set into the even-doc "
    "snapshot must equal the WHOLE corpus's distinct "
    f"{_SUFFIX_MIN_LEN}-gram md5 set — exactly distinct across sides, "
    "one (h)-keyed shuffle, stamp preserved",
)
def suffix_gram_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.pipeline.suffix import (
        gram_snapshot,
        merge_gram_snapshot,
    )

    docs = load_table(spark, "documents", sf_dir)
    stored = gram_snapshot(
        docs.filter(F.col("doc_id") % 2 == 0), min_len=_SUFFIX_MIN_LEN
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return merge_gram_snapshot(stored, batch, min_len=_SUFFIX_MIN_LEN)
