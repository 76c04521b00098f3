"""Streaming twins of the corpus operators in ``pipeline/*``.

Each stream here applies a batch corpus operator (dedup, near-dup,
decontamination, quality gates, span removal, zone maps) to a live
document stream, mostly as stateless stream-static joins against a
snapshot the batch side maintains. ``start_corpus_stream`` folds a
document stream into a curated corpus under one checkpoint, the corpus
counterpart of ``streaming.ingest.start_fact_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_doc_stream(
    docs: DataFrame,
    seen_hashes: DataFrame | None = None,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of pipeline.dedup.exact_dedup_incremental: dedup a
    DOCUMENT stream by content hash, against both the historical corpus
    and itself, without ever rescanning history.

    Two layers, matching the batch operator's composition law:

    - ``seen_hashes`` (static snapshot, one ``text_hash`` column — the
      accumulated output of prior batch runs): a stream-static LEFT ANTI
      join. Stateless — Spark re-plans the static side per micro-batch,
      so the snapshot can be swapped under the checkpoint between runs.
    - within-stream: ``dropDuplicatesWithinWatermark`` on the content
      hash — state is one row per DISTINCT hash seen inside the
      watermark horizon, evicted as event time passes (vs plain
      streaming dropDuplicates, whose state never shrinks).

    Approximation contract (SURVEY §2.9, same family as the Repeat
    filter's streaming form): a duplicate arriving more than ``watermark``
    after its twin is re-admitted; fold the emitted batches through
    ``exact_dedup_incremental`` offline for exact global convergence.
    The hash is the same md5-of-raw-text as ``exact_dedup``, so emitted
    rows feed straight back into the snapshot.
    """
    hashed = docs.withColumn("text_hash", F.md5(F.col(text_col)))
    if seen_hashes is not None:
        hashed = hashed.join(
            seen_hashes.select("text_hash"), "text_hash", "left_anti"
        )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def neardup_doc_stream(
    docs: DataFrame,
    old_sigs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of pipeline.dedup.minhash_lsh_incremental: flag
    NEAR-duplicate documents in a stream against the accumulated MinHash
    SIGNATURE snapshot — the LSH counterpart of ``dedup_doc_stream``'s
    exact-hash dedup, and the variant production corpora actually run.

    Output mirrors the batch incremental operator: one row per flagged
    cross pair — (old_id, new_id, est_jaccard, ``ts_col``) for snapshot
    docs whose MinHash-estimated Jaccard with an arriving doc reaches
    ``threshold``.

    Why this streams where the batch formulation wouldn't: MinHash
    signatures are normally a groupBy-min over exploded shingles — a
    stateful streaming aggregation. Here each doc's signature is
    computed PER ROW (``dedup.minhash_row_cols``: array_min over the
    in-row shingle array — bit-identical values), so the whole chain is
    stateless map work plus:

    - a stream-static INNER join of the banded stream against the
      banded snapshot (stateless; the static side is re-planned every
      micro-batch, so the snapshot — typically persisted bucketed by
      (band, sig) — can grow under the checkpoint between runs);
    - the estimator filter (matching-slot fraction >= threshold), a
      row-local comparison of the two signatures riding the joined row;
    - ``dropDuplicatesWithinWatermark`` on (old_id, new_id), because a
      pair sharing b bands surfaces b times: state is one row per
      DISTINCT flagged pair inside the watermark horizon — ∝ near-dup
      hits, never corpus size.

    Same approximation contract as the batch twin (SURVEY §2.9): the
    estimator has 1/n_hashes granularity, and a pair re-arriving past
    the watermark re-emits; fold emitted pairs through the batch
    operator's clustering offline for exact convergence. New-vs-new
    pairs inside the stream are out of scope here (run the batch
    ``minhash_lsh_dedup`` over each day's accumulated batch), matching
    the batch incremental operator's contract.
    """
    from irstats2_spark.pipeline.dedup import minhash_row_cols, shingle_array

    assert n_hashes % bands == 0
    rows_per_band = n_hashes // bands

    # hoist the shingle array into a column first: minhash_row_cols
    # references its argument once per hash slot, and an inlined
    # shingle_array expression would rebuild the shingles n_hashes times
    # per row (a column reference is free)
    sig = docs.withColumn(
        "__shingles", shingle_array(F.col(text_col), k)
    ).select(
        F.col(id_col).alias("new_id"),
        F.col(ts_col),
        *minhash_row_cols(F.col("__shingles"), n_hashes),
    )

    def band_structs(prefix: str):
        out = []
        for b in range(bands):
            cols = [
                F.col(f"{prefix}{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ]
            out.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("sig"),
                )
            )
        return F.array(*out)

    new_banded = sig.select(
        "new_id",
        ts_col,
        *[F.col(f"mh_{i}").alias(f"__n{i}") for i in range(n_hashes)],
        F.explode(band_structs("mh_")).alias("bs"),
    ).select(
        "new_id",
        ts_col,
        *[f"__n{i}" for i in range(n_hashes)],
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )
    old_banded = old_sigs.select(
        F.col("doc_id").alias("old_id"),
        *[F.col(f"mh_{i}").alias(f"__o{i}") for i in range(n_hashes)],
        F.explode(band_structs("mh_")).alias("bs"),
    ).select(
        "old_id",
        *[f"__o{i}" for i in range(n_hashes)],
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )

    matches = sum(
        F.when(F.col(f"__o{i}") == F.col(f"__n{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    flagged = (
        new_banded.join(old_banded, ["band", "sig"])
        .withColumn("est_jaccard", F.round(matches / F.lit(n_hashes), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("old_id", "new_id", "est_jaccard", ts_col)
    )
    return flagged.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["old_id", "new_id"]
    )


def bloom_prefilter_stream(
    docs: DataFrame,
    bloom: DataFrame,
    text_col: str = "text",
    n_hashes: int = 3,
    m_bits: int = 1 << 27,
) -> DataFrame:
    """Streaming twin of ``pipeline.dedup.bloom_probe``: tag a document
    stream with ``maybe_seen`` against the corpus snapshot's Bloom
    bitmap, so ``maybe_seen=false`` rows (the vast majority on mostly
    -fresh streams) skip the exact anti-join entirely and only the
    candidate sliver reaches ``dedup_doc_stream``'s stream-static join.

    The bitmap folds to one map row exactly as in batch; the
    stream-static cross join broadcasts it per micro-batch, so the
    snapshot (rebuilt by the batch side as the corpus grows) can be
    swapped under the checkpoint between runs — and the probe itself is
    stateless map work, no streaming state at all."""
    from irstats2_spark.pipeline.dedup import _bloom_pos

    hashed = docs.withColumn("text_hash", F.md5(F.col(text_col)))
    bm = bloom.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_idx", "bits"))
        ).alias("__bloom")
    )
    out = hashed.crossJoin(bm)
    keep = None
    for i in range(n_hashes):
        p = _bloom_pos(i, F.col("text_hash"), m_bits)
        mask = F.pow(F.lit(2.0), p % 32).cast("long")
        word = F.element_at(F.col("__bloom"), F.floor(p / 32))
        hit = F.coalesce(word.bitwiseAND(mask) != 0, F.lit(False))
        keep = hit if keep is None else keep & hit
    return out.withColumn("maybe_seen", keep).drop("__bloom")


def decontaminate_stream(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    max_frac: float = 0.5,
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``pipeline.contamination``: score every arriving
    document's k-gram overlap against the STATIC benchmark set and tag
    it ``contaminated`` (frac > max_frac), so a live ingest can divert
    eval-tainted docs before they reach the training corpus.

    Why this streams statelessly where the batch formulation wouldn't:
    batch ``contamination_scores`` explodes shingles and groupBys per
    doc — a stateful streaming aggregation. Here the doc's DISTINCT
    shingle set stays an IN-ROW array (``dedup.shingle_array``) and the
    benchmark's shingle set folds to ONE static row (small by contract:
    eval sets are the broadcast side in batch too, and a set too big
    to broadcast should use the batch path's key-only join); the score
    is then a row-local ``array_intersect`` on the cross-joined row —
    counts bit-identical to the batch operator, no streaming state at
    all. The static side re-plans every micro-batch, so a re-built
    benchmark list swaps in under the checkpoint between runs."""
    from irstats2_spark.pipeline.dedup import shingle_array

    bench_arr = (
        benchmark.select(
            F.explode(shingle_array(F.col(bench_text_col), k)).alias("shingle")
        )
        .agg(F.array_distinct(F.collect_list("shingle")).alias("__bench"))
    )
    out = docs.withColumn("__sh", shingle_array(F.col(text_col), k)).crossJoin(
        bench_arr
    )
    n_sh = F.size("__sh")
    n_hit = F.size(F.array_intersect(F.col("__sh"), F.col("__bench")))
    frac = F.coalesce(
        F.round(F.try_divide(n_hit, n_sh), 6), F.lit(0.0)
    )
    return (
        out.withColumn("n_shingles", n_sh.cast("long"))
        .withColumn("n_contaminated", n_hit.cast("long"))
        .withColumn("contamination_frac", frac)
        .withColumn("contaminated", frac > max_frac)
        .drop("__sh", "__bench")
    )


def lm_quality_stream(
    docs: DataFrame,
    reference: DataFrame,
    max_avg_nll: float = 10.0,
    text_col: str = "text",
    ref_text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``textstats.lm_nll_scores``: score every
    arriving document's average bigram NLL against the STATIC reference
    model and tag quality_fail (avg_nll > max_avg_nll), so a live ingest
    can divert gibberish before it lands in the corpus.

    Statelessness the same way ``decontaminate_stream`` gets it: the
    batch scorer explodes bigrams and groupBys per doc (a stateful
    streaming aggregation); here the bigram/unigram model tables fold to
    ONE static map row each (reference models are small by contract —
    the batch path's broadcast side), and the score is a row-local fold
    over the doc's in-row bigram array on the cross-joined row. The
    per-bigram micro-nat quantization is identical to the batch scorer,
    so scores are bit-identical; a retrained reference swaps in under
    the checkpoint between runs."""
    from irstats2_spark.pipeline.textstats import tokens

    def bigram_arr(text_col_expr):
        t = tokens(text_col_expr)
        n = F.size(t)
        return F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))

    ref_big = (
        reference.select(F.explode(bigram_arr(F.col(ref_text_col))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.map_from_entries(F.collect_list(F.struct("bg", "c"))).alias("__big"))
    )
    ref_uni = (
        reference.select(F.explode(tokens(F.col(ref_text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "c"))).alias("__uni"),
            F.count(F.lit(1)).alias("__v"),
        )
    )
    out = (
        docs.withColumn("__bg", bigram_arr(F.col(text_col)))
        .crossJoin(ref_big)
        .crossJoin(ref_uni)
    )
    lq = F.aggregate(
        F.col("__bg"),
        F.lit(0).cast("long"),
        lambda acc, bg: acc
        + F.floor(
            F.lit(1e6)
            * F.log(
                (F.coalesce(F.element_at(F.col("__big"), bg), F.lit(0)) + 1).cast(
                    "double"
                )
                / (
                    F.coalesce(
                        F.element_at(
                            F.col("__uni"), F.split(bg, " ").getItem(0)
                        ),
                        F.lit(0),
                    )
                    + F.col("__v")
                ).cast("double")
            )
            + F.lit(0.5)
        ).cast("long"),
    )
    n_big = F.size("__bg")
    nll_micro = F.when(n_big > 0, -lq).otherwise(F.lit(0)).cast("long")
    avg_nll = F.coalesce(
        F.round(F.try_divide(nll_micro, n_big * F.lit(1e6)), 6), F.lit(0.0)
    )
    return (
        out.withColumn("n_bigrams", n_big.cast("long"))
        .withColumn("nll_micro", nll_micro)
        .withColumn("avg_nll", avg_nll)
        .withColumn("quality_fail", avg_nll > max_avg_nll)
        .drop("__bg", "__big", "__uni", "__v")
    )


def start_corpus_stream(
    docs: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    min_tokens: int = 5,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_once: bool = True,
):
    """Continuously fold a document stream into a curated corpus — the
    LLM-data analog of ``start_fact_stream``'s nightly-ETL twin:

        quality gate (token floor, pure map)
        -> within-batch exact dedup (first doc per content hash)
        -> anti-join against the ACCUMULATED hash snapshot on disk
        -> append survivors to ``corpus/``; append their hashes to
           ``seen_hashes/``

    foreachBatch reads the snapshot parquet fresh each micro-batch, so
    the corpus and its dedup index grow together under one streaming
    checkpoint, and a restart replays only unprocessed source files.

    Exactly-once mechanics: foreachBatch alone is AT-LEAST-once — a
    failure between the corpus write and the hash write would replay the
    whole micro-batch on restart. The sink therefore makes the replay
    IDEMPOTENT instead of trusting the contract: each micro-batch writes
    into its own ``batch_id=<N>`` directory with mode=overwrite, so a
    replayed batch (same source offsets => same rows, and the
    anti-join reads only batch_id < N of the snapshot => same survivors)
    overwrites its own previous partial output rather than appending a
    duplicate copy. Readers see plain partitioned parquet —
    ``spark.read.parquet(corpus/)`` works unchanged, with ``batch_id``
    surfaced as a provenance partition column.

    The hash is the same md5-of-raw-text as ``exact_dedup``, so the
    accumulated snapshot is interchangeable with the batch operators'
    (run ``exact_dedup_incremental`` offline to reconcile late
    duplicates past the within-batch horizon; at corpus scale store the
    snapshot via ``layout.write_corpus_snapshot_bucketed`` so this
    anti-join plans exchange-free on the snapshot side)."""
    import os

    from irstats2_spark.pipeline.textstats import token_count

    corpus_path = os.path.join(output_root, "corpus")
    hashes_path = os.path.join(output_root, "seen_hashes")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        gated = batch_df.filter(token_count(F.col(text_col)) >= min_tokens)
        hashed = gated.withColumn("text_hash", F.md5(F.col(text_col)))
        # within-batch: keep the min-id doc per hash (exact_dedup's rule)
        from pyspark.sql import Window

        w = Window.partitionBy("text_hash")
        firsts = (
            hashed.withColumn("__keep", F.min(id_col).over(w))
            .filter(F.col(id_col) == F.col("__keep"))
            .drop("__keep")
        )
        # missing snapshot == first batch; ANY OTHER read failure
        # (corrupt/partial parquet, transient IO) must propagate — a
        # swallowed error here would silently disable cross-batch dedup
        # for this micro-batch and admit duplicates.
        from irstats2_spark.sources.storage import read_parquet_if_exists

        seen = read_parquet_if_exists(spark, hashes_path)
        if seen is not None:
            # exclude this batch's own directory: a replayed batch must
            # not anti-join against its previous partial attempt (it
            # would drop every row, then overwrite its dir with nothing)
            seen = seen.filter(F.col("batch_id") < F.lit(batch_id)).select(
                "text_hash"
            )
            fresh = firsts.join(seen, "text_hash", "left_anti")
        else:
            fresh = firsts
        fresh = fresh.persist()  # written twice below
        if not fresh.isEmpty():
            # per-batch overwrite dirs => replay-idempotent (docstring)
            fresh.write.mode("overwrite").parquet(
                os.path.join(corpus_path, f"batch_id={batch_id}")
            )
            fresh.select("text_hash").write.mode("overwrite").parquet(
                os.path.join(hashes_path, f"batch_id={batch_id}")
            )
        fresh.unpersist()

    writer = docs.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def replicate_stream(
    docs: DataFrame,
    rates: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    rate_col: str = "rate",
) -> DataFrame:
    """Streaming twin of ``sampling.replicate_by_rates`` — fractional-
    epoch upsampling applied to a LIVE document stream: each arriving
    doc is emitted floor(rate) times plus a deterministic fractional
    copy, tagged ``copy_idx``, so a streaming ingest can apply a data
    recipe's repeat factors as documents arrive instead of in a nightly
    batch.

    Unlike the other twins (decontaminate/LM-scoring, whose batch forms
    aggregate and had to be refolded per-row), the batch operator is
    ALREADY stateless — a broadcast stream-static rates join plus a
    per-row sequence/explode — so the twin IS the batch code path; this
    wrapper pins that contract (and the pytest pins stream == batch
    bit-identically) so a future stateful change to the batch form
    can't silently break the streaming use."""
    from irstats2_spark.pipeline.sampling import replicate_by_rates

    assert docs.isStreaming, "replicate_stream expects a streaming DataFrame"
    return replicate_by_rates(docs, rates, strata_col, id_col, rate_col)


def quality_gate_stream(docs: DataFrame, **gate_kwargs) -> DataFrame:
    """Streaming twin of ``textstats.gopher_quality_gate``: the
    Gopher/MassiveText rule gate applied to documents AS THEY ARRIVE —
    the cheapest quality tier belongs at the FRONT of a streaming
    ingest (every operator downstream of it processes fewer rows).

    Like ``replicate_stream``, the batch operator is ALREADY stateless
    (one composite per-row column expression, zero shuffle), so the
    twin IS the batch code path; this wrapper pins that contract so a
    future stateful change to the batch form (e.g. a corpus-relative
    rule) can't silently break ingest pipelines. Stream == batch is
    pytest-pinned. ``gate_kwargs`` pass through (min_tokens,
    max_symbol_ratio, ...) unchanged."""
    from irstats2_spark.pipeline.textstats import gopher_quality_gate

    assert docs.isStreaming, "quality_gate_stream expects a streaming DataFrame"
    return gopher_quality_gate(docs, **gate_kwargs)


def _snapshot_fp_sets(
    old_fps: DataFrame, id_col: str, max_docs_per_fp: int | None
) -> DataFrame:
    """Static side of the snapshot-set match scaffold shared by the
    winnowing and edit-distance streaming twins: distinct (old_id, fp)
    rows, boilerplate-capped (a fingerprint in > ``max_docs_per_fp``
    historical docs fans every new occurrence out by its df — the
    skewed-key contract every incremental miner documents), with each
    old doc's full fp set alongside for the row-local shared count.
    Returns (old_id, fp, __old_set)."""
    old = old_fps.select(F.col(id_col).alias("old_id"), "fp").distinct()
    if max_docs_per_fp is not None:
        ok = (
            old.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_docs_per_fp)
            .select("fp")
        )
        old = old.join(ok, "fp", "left_semi")
    old_sets = old.groupBy("old_id").agg(
        F.collect_set("fp").alias("__old_set")
    )
    return old.join(old_sets, "old_id")


def _winnowed_new_rows(
    docs: DataFrame,
    ts_col: str,
    text_col: str,
    id_col: str,
    k: int,
    window: int,
    watermark: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """Stream side of the scaffold: watermarked arriving docs carrying
    their whole winnowing-fp set in one per-row array expression
    (map-side), exploded to (new_id, ts, [extra_cols,] __new_set, fp).
    ``extra_cols`` are (alias, Column) pairs carried through for
    downstream hydration (the edit twin keeps the raw text)."""
    from irstats2_spark.pipeline.textstats import tokens, winnow_key_array

    return (
        docs.withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("new_id"),
            F.col(ts_col),
            *[c.alias(a) for a, c in extra_cols],
            tokens(F.col(text_col)).alias("__t"),
        )
        .filter(F.size("__t") >= k)
        .withColumn(
            "__new_set",
            F.array_distinct(
                F.transform(
                    winnow_key_array(F.col("__t"), k, window),
                    lambda x: F.shiftright(x, 20),
                )
            ),
        )
        .select(
            "new_id",
            ts_col,
            *[a for a, _ in extra_cols],
            "__new_set",
            F.explode("__new_set").alias("fp"),
        )
    )


def winnow_doc_stream(
    docs: DataFrame,
    old_fps: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``dedup.winnow_incremental``: flag documents
    in a live stream that share >= ``min_shared`` winnowing
    fingerprints with the accumulated snapshot — MOSS matching at
    ingest time, with the winnowing guarantee (any shared run of
    window+k-1 tokens surfaces) that the SimHash twin's global
    signature can't give for LOCAL overlap.

    Output: (old_id, new_id, n_shared, ``ts_col``) per flagged cross
    pair.

    Why this streams stateless where the batch count would need a
    streaming aggregation: the batch form counts shared fps with a
    groupBy; here each arriving doc carries its whole fingerprint SET
    in-row (``winnow_key_array`` is a per-row expression), the
    snapshot side carries each old doc's set alongside its exploded
    fps, and the shared count is a row-local ``array_intersect`` on
    the candidate row — the same candidates+verify shape as
    ``simhash_doc_stream``. A pair sharing f fps surfaces f times, so
    ``dropDuplicatesWithinWatermark`` on (old_id, new_id) dedups with
    state ∝ flagged pairs inside the horizon, never corpus.
    Stream == batch is pytest-pinned (intersect-of-sets == the batch
    groupBy count by construction: both sides are distinct sets)."""
    assert docs.isStreaming, "winnow_doc_stream expects a streaming DataFrame"
    snapshot = _snapshot_fp_sets(old_fps, id_col, max_docs_per_fp)
    new_rows = _winnowed_new_rows(docs, ts_col, text_col, id_col, k, window, watermark)
    return (
        new_rows.join(snapshot, "fp")
        .withColumn(
            "n_shared",
            F.size(F.array_intersect("__new_set", "__old_set")).cast("long"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .select("old_id", "new_id", "n_shared", ts_col)
        .dropDuplicatesWithinWatermark(["old_id", "new_id"])
    )


def clean_chunks_stream(
    docs: DataFrame,
    chunk_hashes: "list[str]",
    chunk_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``textstats.remove_listed_chunks``: strip a
    known boilerplate-chunk set (mined offline by
    ``corpus_frequent_chunks``) from documents AS THEY ARRIVE — the
    ingest-time half of the mine-nightly/clean-on-arrival loop the
    cross-doc chunk family implies.

    Stateless by construction: the set is baked into the plan as a
    literal array and the rewrite is a per-row map (no explode, no
    rebuild groupBy — the batch form's corpus-wide shuffle exists only
    to MINE the set, which already happened offline). No watermark, no
    state store; stream == batch is pytest-pinned."""
    from irstats2_spark.pipeline.textstats import remove_listed_chunks

    assert docs.isStreaming, "clean_chunks_stream expects a streaming DataFrame"
    return remove_listed_chunks(docs, chunk_hashes, chunk_tokens, text_col, id_col)


def simhash_doc_stream(
    docs: DataFrame,
    old_sigs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``dedup.simhash_hamming_incremental``: flag
    near-duplicate documents in a stream against the accumulated
    SimHash SIGNATURE snapshot — the cheapest streaming dedup tier (two
    ints per historical doc, no shingle state at all), with EXACT
    Hamming verification where ``neardup_doc_stream``'s MinHash
    estimator is approximate.

    Output: (old_id, new_id, hamming, ``ts_col``) per flagged cross
    pair.

    Why this streams trivially: ``simhash64`` is a pure per-row array
    expression (no aggregation), so the chain is stateless map work
    plus a stream-static banded join against the snapshot and
    ``dropDuplicatesWithinWatermark`` on (old_id, new_id) — a pair
    sharing b band slices surfaces b times; state is one row per
    DISTINCT flagged pair inside the watermark, ∝ hits, never corpus.
    Same pigeonhole recall contract as the batch miner; new-vs-new
    pairs are out of scope (run the batch self-join over the day's
    accumulated batch), matching the batch incremental's contract."""
    from irstats2_spark.pipeline.dedup import _simhash_banded, simhash64

    new_banded = _simhash_banded(
        simhash64(docs, text_col, id_col, keep_cols=(ts_col,)),
        bands,
        keep_cols=(ts_col,),
    ).select(
        F.col("doc_id").alias("new_id"),
        F.col(ts_col),
        F.col("sim_lo").alias("__nlo"),
        F.col("sim_hi").alias("__nhi"),
        "band",
        "key",
    )
    old_banded = _simhash_banded(old_sigs, bands).select(
        F.col("doc_id").alias("old_id"),
        F.col("sim_lo").alias("__olo"),
        F.col("sim_hi").alias("__ohi"),
        "band",
        "key",
    )
    hamming = (
        F.bit_count(F.col("__olo").bitwiseXOR(F.col("__nlo")))
        + F.bit_count(F.col("__ohi").bitwiseXOR(F.col("__nhi")))
    ).cast("int")
    return (
        new_banded.join(old_banded, ["band", "key"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("old_id", "new_id", "hamming", ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["old_id", "new_id"])
    )


def edit_distance_doc_stream(
    docs: DataFrame,
    old_fps: DataFrame,
    old_docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_norm: float = 0.3,
    max_docs_per_fp: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``dedup.edit_distance_incremental``: flag
    stream documents whose text is a small EDIT of an accumulated-
    corpus doc — winnowing fingerprints against the snapshot propose
    candidates (SEQUENTIAL blocking, matching the sequence metric; see
    ``edit_distance_dups`` for why a set-based signature floods the
    verify with reorder pairs), a stream-static join hydrates the old
    TEXT for only those candidates, and JVM Levenshtein confirms under
    the batch miner's integer-exact normalized cut. The sketch
    streaming tiers (MinHash estimate / SimHash Hamming / winnowing
    overlap) measure token-set or span overlap; this is the tier that
    answers "how MUCH changed", at ingest time.

    Output: (old_id, new_id, n_shared, edit_distance, edit_norm,
    ``ts_col``) per flagged cross pair.

    Why this streams stateless: candidates use ``winnow_doc_stream``'s
    in-row fingerprint-set mechanics (per-row ``winnow_key_array``, the
    shared count a row-local array_intersect on the stream-static fp
    join), old-text hydration is a second stream-static join keyed by
    old_id with candidate-sized probe traffic, and the Levenshtein
    verify is a row-local expression — so the only state is
    ``dropDuplicatesWithinWatermark`` on (old_id, new_id), ∝ flagged
    pairs inside the horizon. A pair sharing f fingerprints verifies f
    times before the dedup; acceptable because verified pairs are
    output-sized. Stream == batch is pytest-pinned against
    ``edit_distance_incremental``."""
    assert docs.isStreaming, (
        "edit_distance_doc_stream expects a streaming DataFrame"
    )
    snapshot = _snapshot_fp_sets(old_fps, id_col, max_docs_per_fp)
    old_text = old_docs.select(
        F.col(id_col).alias("old_id"), F.col(text_col).alias("__to")
    )
    new_rows = _winnowed_new_rows(
        docs, ts_col, text_col, id_col, k, window, watermark,
        extra_cols=(("__tn", F.col(text_col)),),
    )
    glen = F.greatest(F.length("__to"), F.length("__tn"))
    max_norm_micros = int(max_norm * 1_000_000)
    return (
        new_rows.join(snapshot, "fp")
        .withColumn(
            "n_shared",
            F.size(F.array_intersect("__new_set", "__old_set")).cast("long"),
        )
        .filter(F.col("n_shared") >= min_shared)
        .join(old_text, "old_id")
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
            ts_col,
        )
        .dropDuplicatesWithinWatermark(["old_id", "new_id"])
    )


def zonemap_stats_stream(
    docs: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    n_shards: int = 32,
    salt: str = "zm:",
) -> DataFrame:
    """Streaming twin of pipeline.layout.zonemap_stats: the live
    per-shard zone-map manifest, maintained as a streaming aggregation.

    min/max/count are all MERGEABLE (the property corpus_zonemap_merge
    gates in batch), so the streaming state is exactly ``n_shards``
    scalar rows no matter how much data flows through — this is the rare
    unwatermarked streaming aggregation that is SAFE by construction:
    state is bounded by the shard-id domain, not by event count or key
    churn. Run with outputMode("complete"|"update"); the emitted table
    IS the manifest an incremental writer would store, and folds with
    stored batch stats through ``zonemap_merge`` unchanged.
    """
    from irstats2_spark.pipeline.layout import _md5_shard

    return (
        docs.withColumn("shard", _md5_shard(F.col(id_col), salt, n_shards))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
    )


def substring_match_stream(
    docs: DataFrame,
    snapshot_windows: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 8,
    snapshot_span: int | None = None,
    max_docs_per_key: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the suffix-array family
    (``pipeline.suffix``): flag stream documents sharing an EXACT run
    of >= ``min_len`` tokens with the accumulated corpus, probing the
    SAME stored ``suffix_windows`` snapshot the batch miner and the
    incremental twin maintain — the index is dual-purpose, no second
    fingerprint store to keep in sync.

    Exactness: two texts share a run of >= ``min_len`` tokens iff some
    suffix window of one has LCP >= ``min_len`` with a window of the
    other, iff their ``min_len``-token PREFIXES are equal — so an
    equi-join on xxhash64(first ``min_len`` tokens of the window) is a
    complete and sound detector (the arbitrary-length part of the SA
    miner needs the global sort and stays batch/incremental; at ingest
    time the question is membership, and membership at the threshold
    length is prefix equality). COLLISION BOUND, on purpose: the 64-bit
    key halves-or-better the width of every shuffle-carried row on both
    exploded sides (vs 32-byte md5 strings), and a collision here only
    ADDS a spurious flagged pair (birthday-bounded: ~n^2/2^65 expected
    across n distinct prefixes — <0.003 false pairs at n=1e8), which a
    human check of flagged pairs discards. Contrast
    ``remove_spans_stream``, where a collision would EXCISE clean text:
    that twin pays for full md5 keys — but in one broadcast row, not on
    a shuffle. PRECONDITION: ``min_len`` must be <=
    the span the snapshot was built with, or every stored window fails
    the size filter and the probe silently flags nothing — pass
    ``snapshot_span`` (store it next to the table) to turn that
    misconfiguration into an assertion.

    Output: (old_id, new_id, n_shared_windows, ``ts_col``) per flagged
    cross pair — ``n_shared_windows`` counts distinct shared
    ``min_len``-windows (a shared run of R tokens contributes up to
    R - min_len + 1), computed on the PAIR row after dedup so the
    result is deterministic.

    Why this streams stateless, and why nothing corpus-squared is ever
    materialized: the exploded sides carry (id, 8-byte key) rows only —
    never per-row key SETS (a T-token doc carrying its own T-element
    set on each of its T exploded rows is the O(T^2) serialization
    blowup this module's scale contracts pin against). The watermarked
    pair dedup runs FIRST on the bare (old_id, new_id, ts, text) join
    output; the per-old-doc key set then joins once per surviving PAIR,
    and the new side's key set is re-derived row-locally from the text
    it carried through. The only state is
    ``dropDuplicatesWithinWatermark`` on (old_id, new_id), ∝ flagged
    pairs inside the horizon. ``max_docs_per_key`` drops boilerplate
    keys on the snapshot side (same skew contract as the other
    incremental/streaming miners). Stream behavior is pytest-pinned."""
    from irstats2_spark.pipeline.textstats import tokens

    assert docs.isStreaming, "substring_match_stream expects a streaming DataFrame"
    assert snapshot_span is None or min_len <= snapshot_span, (
        f"min_len={min_len} exceeds the snapshot build span "
        f"{snapshot_span}: every stored window would be filtered out and "
        "the probe would silently flag nothing"
    )

    def key_set(tok_col):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tok_col) - min_len),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(tok_col, i + 1, min_len))
                ),
            )
        )

    # snapshot side: (old_id, key) long pairs — suffix_windows always
    # emits the id as 'doc_id' (the stored snapshot contract)
    old = (
        snapshot_windows.filter(F.size("w") >= min_len)
        .select(
            F.col("doc_id").alias("old_id"),
            F.xxhash64(F.concat_ws(" ", F.slice(F.col("w"), 1, min_len))).alias(
                "key"
            ),
        )
        .distinct()
    )
    if max_docs_per_key is not None:
        ok = (
            old.groupBy("key")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_docs_per_key)
            .select("key")
        )
        old = old.join(ok, "key", "left_semi")
    old_sets = old.groupBy("old_id").agg(F.collect_set("key").alias("__old_set"))

    new_rows = (
        docs.withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("new_id"),
            F.col(ts_col),
            F.col(text_col).alias("__text"),
            tokens(F.col(text_col)).alias("__t"),
        )
        .filter(F.size("__t") >= min_len)
        .select(
            "new_id", ts_col, "__text", F.explode(key_set(F.col("__t"))).alias("key")
        )
    )
    pairs = (
        new_rows.join(old, "key")
        .select("old_id", "new_id", ts_col, "__text")
        .dropDuplicatesWithinWatermark(["old_id", "new_id"])
    )
    return pairs.join(old_sets, "old_id").select(
        "old_id",
        "new_id",
        F.size(
            F.array_intersect(key_set(tokens(F.col("__text"))), F.col("__old_set"))
        )
        .cast("long")
        .alias("n_shared_windows"),
        ts_col,
    )


def remove_spans_stream(
    docs: DataFrame,
    gram_snapshot: DataFrame,
    min_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_snapshot_grams: int | None = 2_000_000,
) -> DataFrame:
    """Streaming twin of ``pipeline.suffix.remove_repeated_spans``:
    rewrite documents AS THEY ARRIVE with every span whose
    ``min_len``-grams appear in the accumulated corpus's gram snapshot
    (``write_gram_snapshot``) excised — the ingest-time half of the
    family's clean-on-arrival loop (``remove_repeated_spans_
    incremental`` is the nightly half and additionally catches
    WITHIN-batch duplicates, which this twin deliberately does not: at
    ingest time the question is membership against what the corpus
    already holds, the same scoping as ``substring_match_stream``).

    Why this streams statelessly: the snapshot's gram set folds to ONE
    static row of md5 keys cross-joined onto the stream, and the
    mark -> interval-union -> excision chain runs entirely IN-ROW (the
    batch operator's ``merged_intervals``/``excised_tokens`` folds over
    an in-row position filter) — no explode, no re-group, no watermark,
    no state store. Membership runs the ``decontaminate_stream`` idiom:
    the row's gram-key array is built ONCE, ``array_intersect``-ed with
    the snapshot (hash-set based, O(n_grams + |snapshot|) per row), and
    positions filter against that small per-row HIT set — never a
    linear scan of the snapshot per position. Keys are the FULL md5
    strings the batch/incremental paths compare (32 bytes per distinct
    duplicated gram, not a truncated 64-bit hash whose collision would
    silently excise non-duplicated text and break the pinned
    stream == batch equivalence). Same smallness contract as
    ``decontaminate_stream``: the folded key set must fit the broadcast
    budget (it is the DISTINCT duplicated-gram population,
    boilerplate-sized); past that, run the nightly incremental path,
    whose snapshot side is a hash JOIN, via ``foreachBatch``.

    The smallness contract is ENFORCED, not prose (the skyline-merge
    precedent: guarded, never silently over-budget): the snapshot is a
    STORED batch table, so one metadata-cheap ``count()`` at
    plan-build time checks it against ``max_snapshot_grams`` (default
    2M grams ~= 64 MB of md5 keys folded into the one static row) and
    raises past the cap instead of quietly building an over-budget
    cross-join row; lift with ``max_snapshot_grams=None`` to accept the
    memory cost explicitly.

    Output: input columns plus (n_tokens, removed_tokens, text_clean)."""
    from irstats2_spark.pipeline.suffix import (
        excised_tokens,
        gram_snapshot_len,
        merged_intervals,
    )
    from irstats2_spark.pipeline.textstats import tokens

    assert docs.isStreaming, "remove_spans_stream expects a streaming DataFrame"
    stamped = gram_snapshot_len(gram_snapshot)
    if stamped is not None and stamped != min_len:
        raise ValueError(
            f"gram_snapshot was built at min_len={stamped} but this call "
            f"asked for min_len={min_len}; membership at the wrong gram "
            "length silently mis-cleans — rebuild or pass the matching value"
        )
    if max_snapshot_grams is not None:
        n_grams = gram_snapshot.count()
        if n_grams > max_snapshot_grams:
            raise ValueError(
                f"gram snapshot holds {n_grams} distinct duplicated grams "
                f"(> max_snapshot_grams={max_snapshot_grams}): too large to "
                "fold into the stream's static broadcast row — clean via "
                "the nightly remove_repeated_spans_incremental path (its "
                "snapshot side is a hash JOIN) driven by foreachBatch, or "
                "pass max_snapshot_grams=None to accept the memory cost "
                "explicitly"
            )
    L = min_len
    snap = gram_snapshot.agg(
        F.array_sort(F.collect_set("h")).alias("__snap")
    )
    t = F.coalesce(
        tokens(F.col(text_col)), F.expr("CAST(array() AS array<string>)")
    )
    out = docs.withColumn("__t", t).crossJoin(snap)
    # guard: sequence(0, negative) counts DOWN — short docs get no grams
    positions = F.when(
        F.size("__t") >= L, F.sequence(F.lit(0), F.size("__t") - L)
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    # the row's (position, gram-md5) table, built once; transform
    # preserves order, so positions — and hence intervals — stay sorted
    gp = F.transform(
        positions,
        lambda i: F.struct(
            i.alias("p"),
            F.md5(F.concat_ws(" ", F.slice(F.col("__t"), i + 1, L))).alias("h"),
        ),
    )
    out = out.withColumn("__gp", gp)
    # one hash-based set intersection per ROW against the snapshot …
    out = out.withColumn(
        "__hits",
        F.array_intersect(
            F.transform(F.col("__gp"), lambda s: s["h"]), F.col("__snap")
        ),
    )
    # … then positions probe only the small per-row hit set
    rm = F.transform(
        F.filter(
            F.col("__gp"),
            lambda s: F.array_contains(F.col("__hits"), s["h"]),
        ),
        lambda s: s["p"],
    )
    merged = merged_intervals(
        F.transform(
            rm,
            lambda p: F.struct(
                p.cast("bigint").alias("s"), (p + L).cast("bigint").alias("e")
            ),
        )
    )
    kept = excised_tokens(F.col("__t"), merged)
    return (
        out.withColumn("n_tokens", F.size("__t").cast("int"))
        .withColumn(
            "removed_tokens",
            (F.size("__t") - F.size(kept)).cast("long"),
        )
        .withColumn("text_clean", F.concat_ws(" ", kept))
        .drop("__t", "__snap", "__gp", "__hits")
    )
