"""Data-layout operators: zone-map pruning audits and Z-order clustering.

At 100 TB the fastest scan is the one that never happens: lakehouse
formats (Delta/Iceberg/Hudi, parquet row groups) keep per-file min/max
"zone maps" and skip whole files whose range cannot match a predicate.
These operators make that layout decision measurable INSIDE the engine:

- ``zonemap_stats`` computes the per-shard min/max metadata a writer
  would persist (one map-side-combined groupBy; the shuffle carries
  n_shards rows of scalars, never document bodies);
- ``zonemap_prune_audit`` measures how selective those zone maps are
  for a concrete predicate — the go/no-go check before trusting a sort
  order for file skipping;
- ``zorder_values`` interleaves the bits of two fixed-width column bins
  into a Z-value (a space-filling curve), the standard multi-column
  clustering key (Delta OPTIMIZE ZORDER BY); given broadcast min/max
  bounds it is a PURE MAP — no shuffle until the writer range-partitions
  on it;
- ``zorder_prune_gain`` quantifies the payoff: files scanned for a 2-D
  predicate under the naive insertion-order layout vs the Z-ordered
  layout, over identical file counts;
- ``write_corpus_snapshot_bucketed`` and ``write_corpus_shards`` are the
  corpus writers: a dedup snapshot bucketed by content hash, and
  deterministic shards with their manifest.

No reference analog (IRStats2 stores facts in unclustered MySQL tables;
the closest relative is its datestamp partitioning, Data.pm's per-day
insert batches) — this tier is the 100-TB replacement for that habit.

Determinism/portability contract (the driver's DuckDB value-hash):
shard assignment uses the engine-portable md5-hex prefix (same idiom as
the deterministic shuffle in pipeline/sampling.py), and bin arithmetic
is integer floor division over integer column values — bit-identical in
any engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def _md5_shard(col_expr, salt: str, n_shards: int):
    """Engine-portable shard id: leading 32 md5-hex bits mod n_shards."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), col_expr.cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("long")
        % n_shards
    ).cast("int")


def zonemap_stats(
    df: DataFrame,
    value_col: str,
    id_col: str = "doc_id",
    n_shards: int = 32,
    salt: str = "zm:",
) -> DataFrame:
    """Per-shard zone-map metadata: row count + min/max of ``value_col``.

    Shards stand in for files: assignment is the md5 prefix of the id
    (hash layout — the worst case for pruning, the audit's baseline).
    ONE aggregation with map-side combine; the exchange carries
    ``n_shards`` scalar rows.
    """
    return (
        df.withColumn("shard", _md5_shard(F.col(id_col), salt, n_shards))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
    )


def zonemap_prune_audit(
    df: DataFrame,
    value_col: str,
    lo: int,
    hi: int,
    id_col: str = "doc_id",
    n_shards: int = 32,
    salt: str = "zm:",
) -> DataFrame:
    """Zone-map soundness + selectivity for ``value_col BETWEEN lo AND hi``.

    Per shard: the stored min/max, whether the zone map prunes it
    (``vmax < lo OR vmin > hi``), and the TRUE matching-row count — a
    pruned shard must show ``n_matching = 0`` (soundness is visible in
    the output, not asserted off to the side). Everything reduces in the
    same single map-side-combined aggregation as ``zonemap_stats``.
    """
    pred = (F.col(value_col) >= lo) & (F.col(value_col) <= hi)
    per_shard = (
        df.withColumn("shard", _md5_shard(F.col(id_col), salt, n_shards))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
            F.sum(pred.cast("bigint")).alias("n_matching"),
        )
    )
    return per_shard.select(
        "shard",
        "n_rows",
        "vmin",
        "vmax",
        ((F.col("vmax") < lo) | (F.col("vmin") > hi)).alias("pruned"),
        "n_matching",
    ).orderBy("shard")


def zorder_values(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 4,
    bounds: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Z-value (Morton code) over two integer columns.

    Each column is binned into ``2**bits`` fixed-width buckets over its
    [min, max] range, and the bin bits are interleaved (x in the odd
    positions, y in the even) so nearby Z-values are nearby in BOTH
    dimensions. With ``bounds`` supplied (or computed once and treated
    as a broadcast scalar pair, the same small-by-contract pattern as
    k-means centroids in pipeline/similarity.py) the Z-value is a pure
    projection — zero shuffles; a writer then clusters with ONE
    repartitionByRange on it.

    Integer arithmetic only (floor-div bins, add-shift interleave) so
    DuckDB reproduces it bit-for-bit.
    """
    if bounds is None:
        row = df.agg(
            F.min(col_x), F.max(col_x), F.min(col_y), F.max(col_y)
        ).first()
        bounds = {col_x: (row[0], row[1]), col_y: (row[2], row[3])}
    n_bins = 1 << bits

    def _bin(col: str):
        lo, hi = bounds[col]
        width = hi - lo + 1  # integer columns: +1 keeps max inside the top bin
        return F.least(
            ((F.col(col) - F.lit(lo)) * n_bins / F.lit(width)).cast("long"),
            F.lit(n_bins - 1),
        )

    bx, by = _bin(col_x), _bin(col_y)
    z = F.lit(0).cast("long")
    for b in range(bits):
        # (bx >> b & 1) << (2b+1)  |  (by >> b & 1) << (2b) — via div/mod so
        # the oracle SQL is the same arithmetic, no engine bit-op dialects.
        z = (
            z
            + ((bx / (1 << b)).cast("long") % 2) * (1 << (2 * b + 1))
            + ((by / (1 << b)).cast("long") % 2) * (1 << (2 * b))
        )
    return df.withColumn("zvalue", z.cast("long"))


def zorder_layout(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 4,
    n_files: int = 16,
) -> DataFrame:
    """Per-file clustering stats after Z-ordering into ``n_files`` files.

    File assignment is the Z-value's leading bits (``z // (4^bits /
    n_files)``) — equal-width Z-ranges, the deterministic stand-in for
    repartitionByRange's sampled splits so the oracle can reproduce the
    assignment exactly. Output: per file, row count and the min/max
    envelope of BOTH dimensions — tight envelopes are what make zone
    maps prune.
    """
    z_space = 1 << (2 * bits)
    # mirrors the dim % m asserts in pq.py: a non-dividing n_files would
    # silently spill the max zvalue into an (n_files+1)-th file, and
    # n_files > 4^bits would divide by zero.
    assert 0 < n_files <= z_space and z_space % n_files == 0, (
        f"n_files={n_files} must divide 4^bits={z_space}"
    )
    per_file = z_space // n_files
    zed = zorder_values(df, col_x, col_y, bits)
    return (
        zed.withColumn("file_id", (F.col("zvalue") / per_file).cast("int"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(col_x).alias("x_min"),
            F.max(col_x).alias("x_max"),
            F.min(col_y).alias("y_min"),
            F.max(col_y).alias("y_max"),
        )
        .orderBy("file_id")
    )


def zorder_prune_gain(
    df: DataFrame,
    col_x: str,
    col_y: str,
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    bits: int = 4,
    n_files: int = 16,
    order_col: str = "doc_id",
) -> DataFrame:
    """Files/rows scanned for a 2-D range predicate: insertion-order vs
    Z-order, same file count.

    Two layouts of the SAME rows into ``n_files`` files:
    - ``insertion``: files are equal-width ranges of ``order_col`` (the
      "just append in arrival order" layout);
    - ``zorder``: files are equal-width Z-value ranges.
    For each, a file is scanned iff its (x, y) zone-map envelope
    intersects the predicate box. Output one row per layout:
    files_scanned / rows_scanned / n_matching (n_matching is identical
    by construction — the layouts only move rows between files).

    The whole audit is two map-side-combined aggregations over one scan
    each; nothing wide.
    """
    zed = zorder_values(df, col_x, col_y, bits)
    z_space = 1 << (2 * bits)
    assert 0 < n_files <= z_space and z_space % n_files == 0, (
        f"n_files={n_files} must divide 4^bits={z_space}"
    )

    bounds = df.agg(F.min(order_col), F.max(order_col)).first()
    o_lo, o_hi = bounds[0], bounds[1]
    o_width = o_hi - o_lo + 1

    matching = (
        (F.col(col_x) >= x_lo)
        & (F.col(col_x) <= x_hi)
        & (F.col(col_y) >= y_lo)
        & (F.col(col_y) <= y_hi)
    ).cast("bigint")

    def _audit(file_col, layout: str) -> DataFrame:
        per_file = (
            zed.withColumn("file_id", file_col)
            .groupBy("file_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min(col_x).alias("x_min"),
                F.max(col_x).alias("x_max"),
                F.min(col_y).alias("y_min"),
                F.max(col_y).alias("y_max"),
                F.sum(matching).alias("n_matching"),
            )
        )
        scanned = (
            (F.col("x_max") >= x_lo)
            & (F.col("x_min") <= x_hi)
            & (F.col("y_max") >= y_lo)
            & (F.col("y_min") <= y_hi)
        )
        return per_file.agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(scanned.cast("bigint")).alias("files_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_matching").alias("n_matching"),
        ).select(F.lit(layout).alias("layout"), "*")

    insertion = _audit(
        F.least(
            ((F.col(order_col) - F.lit(o_lo)) * n_files / F.lit(o_width)).cast(
                "long"
            ),
            F.lit(n_files - 1),
        ).cast("int"),
        "insertion",
    )
    zordered = _audit(
        (F.col("zvalue") / (z_space // n_files)).cast("int"), "zorder"
    )
    return insertion.unionByName(zordered).orderBy("layout")


def zonemap_merge(*stats: DataFrame) -> DataFrame:
    """Merge per-shard zone-map stats tables (``zonemap_stats`` outputs)
    into one — min of mins, max of maxes, summed counts.

    This is the maintenance path at scale: zone maps are MERGEABLE
    metadata, so an incremental writer computes stats for NEW files only
    and folds them into the stored manifest — the old 100 TB is never
    rescanned (same incremental contract as dedup's snapshot hash
    tables). The merge itself runs over metadata-sized inputs.
    """
    assert stats, "need at least one stats table"
    merged = stats[0]
    for s in stats[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("shard").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def write_corpus_snapshot_bucketed(
    docs: DataFrame,
    root: str,
    table: str = "corpus_snapshot_bucketed",
    buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Scale path for the dedup snapshot: persist (doc_id, text_hash)
    BUCKETED BY text_hash — the join key of every incremental-dedup pass
    (`dedup.exact_dedup_incremental`, `streams.dedup_doc_stream`,
    `curate.snapshot_diff`).

    Incremental dedup at 100 TB is dominated by re-shuffling the
    accumulated snapshot on every nightly run: the snapshot is
    corpus-sized while the new batch is day-sized. Bucketing pre-hashes
    the key at write time, so a batch bucketed the same way joins
    bucket-to-bucket with ZERO exchange on the snapshot side (the
    day-batch can be repartitioned to match for pennies). Only the
    (id, hash) projection is stored — snapshot probes never need
    document bodies, and at corpus scale storing text twice would
    double the footprint for nothing."""
    path = os.path.join(root, table)
    (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.col(text_col)).alias("text_hash"),
        )
        .write.bucketBy(buckets, "text_hash")
        .sortBy("text_hash")
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    return table


def write_corpus_shards(
    docs: DataFrame,
    root: str,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Publish a corpus as deterministic shards + a manifest — the
    physical write behind ``curate.shard_manifest``'s dataset card:
    rows are assigned their manifest shard (hash_bucket of the id, the
    same 'shard:' salt), repartitioned so each shard is one task's
    output, written parquet partitioned by ``shard``, and the manifest
    (computed from the SAME tagged rows) is written beside them at
    ``<root>/manifest``. Returns the manifest DataFrame.

    A consumer verifies a download by recomputing ``shard_manifest``
    over the shard files and diffing checksums — any lost, duplicated,
    or bit-flipped document surfaces as its shard's digest mismatch.

    Scale shape: one repartition on the shard key sized so a shard is
    a task-friendly file set (pick n_shards ∝ corpus/target shard
    size); sortWithinPartitions(doc_id) makes file contents
    byte-reproducible across reruns, not just set-equal."""
    from irstats2_spark.pipeline.curate import shard_manifest
    from irstats2_spark.pipeline.sampling import hash_bucket

    tagged = docs.withColumn(
        "shard", hash_bucket(F.col(id_col), n_shards, "shard:").cast("int")
    )
    (
        tagged.repartition(n_shards, "shard")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(root, "shards"))
    )
    manifest = shard_manifest(docs, n_shards, text_col, id_col)
    manifest.write.mode("overwrite").parquet(os.path.join(root, "manifest"))
    return manifest
