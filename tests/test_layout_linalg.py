"""Unit tests for the data-layout tier (pipeline/layout.py), the
embedding linear-algebra tier (pipeline/linalg.py), and the
session-journey analytics (pipeline/sessions.py additions)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from irstats2_spark.pipeline import layout, linalg
from irstats2_spark.pipeline import sessions


# ---------------------------------------------------------------------------
# Zone maps
# ---------------------------------------------------------------------------
def test_zonemap_prune_soundness(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("n_chars")
    )
    audit = layout.zonemap_prune_audit(
        df, "n_chars", lo=200, hi=400, n_shards=8
    ).collect()
    assert len(audit) == 8
    # soundness: a pruned shard MUST contain zero matching rows
    for r in audit:
        if r["pruned"]:
            assert r["n_matching"] == 0
    # completeness: shard rows sum to the input, matches sum to the truth
    assert sum(r["n_rows"] for r in audit) == 1000
    assert sum(r["n_matching"] for r in audit) == 0  # n_chars < 97 always


def test_zonemap_prunes_when_layout_is_clustered(spark):
    # shard by a column correlated with the value -> pruning must happen
    df = spark.range(320).select(
        F.col("id").alias("doc_id"), F.col("id").alias("n_chars")
    )
    stats = layout.zonemap_stats(df, "n_chars", n_shards=32)
    assert stats.count() == 32


# ---------------------------------------------------------------------------
# Z-order
# ---------------------------------------------------------------------------
def _interleave(bx: int, by: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((bx >> b) & 1) << (2 * b + 1)
        z |= ((by >> b) & 1) << (2 * b)
    return z


def test_zorder_values_match_python_interleave(spark):
    rows = [(i, (i * 37) % 101, (i * 53) % 211) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, x long, y long")
    got = {
        r["doc_id"]: r["zvalue"]
        for r in layout.zorder_values(df, "x", "y", bits=4).collect()
    }
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    x_lo, x_hi = min(xs), max(xs)
    y_lo, y_hi = min(ys), max(ys)
    for doc_id, x, y in rows:
        bx = min(int((x - x_lo) * 16 / (x_hi - x_lo + 1)), 15)
        by = min(int((y - y_lo) * 16 / (y_hi - y_lo + 1)), 15)
        assert got[doc_id] == _interleave(bx, by, 4), (doc_id, x, y)


def test_zorder_prune_gain_beats_insertion_on_2d_predicate(spark):
    # x uncorrelated with insertion order -> insertion layout cannot
    # prune on x, Z-order prunes on both dimensions.
    df = spark.range(4096).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 2654435761) % 1000).alias("n_chars"),
    )
    rows = {
        r["layout"]: r
        for r in layout.zorder_prune_gain(
            df, "n_chars", "doc_id", 100, 200, 0, 511, bits=4, n_files=16
        ).collect()
    }
    ins, zo = rows["insertion"], rows["zorder"]
    assert ins["n_matching"] == zo["n_matching"]  # layout-invariant truth
    assert zo["rows_scanned"] < ins["rows_scanned"]
    assert zo["files_scanned"] <= ins["files_scanned"]


def test_zorder_layout_file_envelopes_cover_all_rows(spark):
    df = spark.range(500).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 7) % 300).alias("n_chars")
    )
    per_file = layout.zorder_layout(df, "n_chars", "doc_id").collect()
    assert sum(r["n_rows"] for r in per_file) == 500
    for r in per_file:
        assert r["x_min"] <= r["x_max"] and r["y_min"] <= r["y_max"]


# ---------------------------------------------------------------------------
# Covariance / PCA
# ---------------------------------------------------------------------------
def _toy_embeddings(spark, n=200, d=8, seed=7):
    rng = np.random.RandomState(seed)
    # low-rank structure so PCA has a clear spectrum
    base = rng.randn(n, 3) @ rng.randn(3, d) + 0.05 * rng.randn(n, d)
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, base.astype(np.float32)


def test_covariance_matches_numpy_on_quantized_values(spark):
    df, mat = _toy_embeddings(spark)
    q = np.floor(mat.astype(np.float64) * 1024 + 0.5)
    expected = np.cov(q, rowvar=False, bias=True) / (1024.0 * 1024.0)
    got = linalg.embedding_covariance(df, dim=8).collect()
    assert len(got) == 8 * 9 // 2
    for r in got:
        assert abs(r["cov"] - expected[r["i"], r["j"]]) < 1e-6, (r["i"], r["j"])


def test_covariance_matrix_driver_side_agrees(spark):
    df, mat = _toy_embeddings(spark)
    cov, mean, n = linalg.covariance_matrix(df)
    q = np.floor(mat.astype(np.float64) * 1024 + 0.5)
    assert n == len(mat)
    np.testing.assert_allclose(mean, q.mean(axis=0) / 1024.0, atol=1e-12)
    np.testing.assert_allclose(
        cov, np.cov(q, rowvar=False, bias=True) / 1024.0**2, atol=1e-12
    )


def test_covariance_finalization_survives_int64_overflow(spark):
    """Large-magnitude embeddings: the finalization products n*Sxy and
    Sx_i*Sx_j reach ~1.6e19 > 2^63 here, so an int64 multiply would wrap
    silently (non-ANSI Spark) and numpy's outer would too. Both paths
    must agree with the exact float64 covariance of the quantized
    values."""
    base = np.array(
        [
            [1.0e6, -9.7e5],
            [9.9e5, 9.6e5],
            [-1.0e6, 9.9e5],
            [-9.8e5, -1.0e6],
        ]
    )
    rows = [(i, [float(v) for v in base[i]]) for i in range(len(base))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = np.floor(base * 1024 + 0.5)
    expected = np.cov(q, rowvar=False, bias=True) / (1024.0 * 1024.0)

    got = {(r["i"], r["j"]): r["cov"]
           for r in linalg.embedding_covariance(df, dim=2).collect()}
    for (i, j), v in got.items():
        rel = abs(v - expected[i, j]) / max(abs(expected[i, j]), 1.0)
        assert rel < 1e-9, (i, j, v, expected[i, j])

    cov, mean, n = linalg.covariance_matrix(df)
    assert n == 4
    np.testing.assert_allclose(cov, expected, rtol=1e-9)
    np.testing.assert_allclose(mean, q.mean(axis=0) / 1024.0, rtol=1e-12)


def test_pca_projection_audit_closes_pythagoras(spark):
    """The gated audit shape: per k, projected energy + reconstruction
    error must close to the centered scatter at exactly 1_000_000 ppm,
    and the quantized energy must equal numpy's exact integer sum."""
    df, mat = _toy_embeddings(spark)
    out = {r["k"]: r for r in linalg.pca_projection_audit(df, ks=(1, 3, 8)).collect()}
    q = np.floor(mat.astype(np.float64) * 1024 + 0.5).astype(np.int64)
    want_ssq = int((q * q).sum())
    assert set(out) == {1, 3, 8}
    for k, r in out.items():
        assert r["n_vecs"] == len(mat)
        assert r["sum_sq_q"] == want_ssq
        assert r["pythagoras_ppm"] == 1_000_000, (k, r["pythagoras_ppm"])


def test_pca_projection_audit_degenerate_inputs_fail_loud(spark):
    """Empty table -> assertion naming the column (not TypeError on
    first()[0]); all-identical vectors -> raise_error naming the zero
    centered scatter (not a NULL/NaN ppm row)."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(AssertionError, match="non-empty"):
        linalg.pca_projection_audit(empty, ks=(1,))

    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="centered scatter is 0"):
        linalg.pca_projection_audit(same, ks=(1, 2)).collect()


def test_opq_distortion_audit_invariants(spark):
    """Energy conservation under the OPQ rotation (orthonormality) and
    distortion <= total quantized energy for BOTH real PQ fits."""
    df, mat = _toy_embeddings(spark, n=120, d=8)
    rows = {r["variant"]: r for r in
            linalg.opq_distortion_audit(df, dim=8, m=4, n_codes=4).collect()}
    assert set(rows) == {"pq_raw", "opq_rotated"}
    q = np.floor(mat.astype(np.float64) * 1024 + 0.5).astype(np.int64)
    want_ssq = int((q * q).sum())
    for r in rows.values():
        assert r["n_vecs"] == len(mat)
        assert r["sum_sq_q_raw"] == want_ssq
        assert r["energy_ppm"] == 1_000_000
        assert r["distortion_le_energy"] is True


def test_zorder_layout_rejects_non_dividing_n_files(spark):
    df = spark.range(16).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 3 % 16).alias("n_chars"),
    )
    with pytest.raises(AssertionError):
        layout.zorder_layout(df, "n_chars", "doc_id", bits=2, n_files=10)
    with pytest.raises(AssertionError):
        layout.zorder_prune_gain(
            df, "n_chars", "doc_id", 0, 5, 0, 5, bits=2, n_files=32
        )


def test_pca_components_match_numpy_eigh(spark):
    df, mat = _toy_embeddings(spark)
    comps, vals, mean = linalg.pca_components(df, k=3)
    # reference: same convention (quantized cov, sign fixed by pivot)
    q = np.floor(mat.astype(np.float64) * 1024 + 0.5)
    cov = np.cov(q, rowvar=False, bias=True) / 1024.0**2
    ev, evec = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:3]
    ref = evec[:, order].T.copy()
    for row in ref:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1
    np.testing.assert_allclose(vals, ev[order], atol=1e-9)
    np.testing.assert_allclose(comps, ref, atol=1e-7)
    # orthonormal, descending variance
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    assert vals[0] >= vals[1] >= vals[2] >= 0


def test_pca_project_matches_numpy_projection(spark):
    df, mat = _toy_embeddings(spark)
    comps, _, mean = linalg.pca_components(df, k=3)
    got = {r["vec_id"]: np.array(r["pc"]) for r in linalg.pca_project(df, k=3).collect()}
    expected = (mat.astype(np.float64) - mean) @ comps.T
    for i in range(len(mat)):
        np.testing.assert_allclose(got[i], np.round(expected[i], 6), atol=1e-9)


def test_pca_rerank_topk_matches_exact_on_lowrank_data(spark):
    # data is rank-3 + noise; a 3-dim PCA shortlist of 40 out of 200
    # must contain the true top-10, so the reranked result == exact.
    df, mat = _toy_embeddings(spark)
    query = mat[0].astype(np.float64)
    got = [
        r["vec_id"]
        for r in linalg.pca_rerank_topk(
            df, query, k=10, shortlist=40, pc_dims=3
        ).collect()
    ]
    d2 = ((mat.astype(np.float64) - query) ** 2).sum(axis=1)
    expected = list(np.lexsort((np.arange(len(mat)), np.round(d2, 9)))[:10])
    assert got == [int(i) for i in expected]


# ---------------------------------------------------------------------------
# Session journeys
# ---------------------------------------------------------------------------
def _toy_events(spark):
    # two users; user 1 has two sessions split by a >30min gap
    rows = [
        (1, 1, "2024-01-01 10:00:00", "view"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:10:00", "purchase"),
        (4, 1, "2024-01-01 12:00:00", "view"),
        (5, 1, "2024-01-01 12:01:00", "view"),
        (6, 2, "2024-01-01 09:00:00", "view"),
        (7, 2, "2024-01-01 09:02:00", "click"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, event_type string"
    ).select("event_id", "user_id", F.to_timestamp("ts_s").alias("ts"), "event_type")


def test_top_paths_counts_session_prefixes(spark):
    got = {
        r["path"]: r["n_sessions"]
        for r in sessions.top_paths(_toy_events(spark), prefix_len=3).collect()
    }
    assert got == {"view>click>purchase": 1, "view>view": 1, "view>click": 1}


def test_covisit_lift_exact_fractions(spark):
    rows = {
        (r["ta"], r["tb"]): r
        for r in sessions.covisit_lift(_toy_events(spark)).collect()
    }
    # 3 sessions total; view+click co-occur in 2; view in 3, click in 2
    r = rows[("click", "view")]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (2, 2, 3)
    assert r["lift"] == pytest.approx(2 * 3 / (2 * 3), abs=1e-9)
    r2 = rows[("purchase", "view")]
    assert (r2["n_ab"], r2["n_a"], r2["n_b"]) == (1, 1, 3)
    assert r2["lift"] == pytest.approx(1 * 3 / (1 * 3), abs=1e-9)


# ---------------------------------------------------------------------------
# Interval-overlap join
# ---------------------------------------------------------------------------
def _random_intervals(spark, n, seed, name):
    import numpy as np

    rng = np.random.RandomState(seed)
    starts = rng.randint(0, 10_000, n) * 1_000_000
    lengths = rng.randint(1, 2_000, n) * 1_000_000
    rows = [
        (int(i), int(s), int(s + l))
        for i, (s, l) in enumerate(zip(starts, lengths))
    ]
    return (
        spark.createDataFrame(rows, f"{name}_id long, start_us long, end_us long"),
        rows,
    )


def test_interval_overlap_join_matches_direct_predicate(spark):
    from irstats2_spark.pipeline.intervals import interval_overlap_join

    left, lrows = _random_intervals(spark, 80, 3, "a")
    right, rrows = _random_intervals(spark, 60, 4, "b")
    got = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(left, right, bucket_seconds=600).collect()
    }
    expected = {
        (a, b)
        for a, s1, e1 in lrows
        for b, s2, e2 in rrows
        if s1 <= e2 and e1 >= s2
    }
    assert got == expected


def test_interval_overlap_join_negative_timestamps(spark):
    """Pre-1970 (negative-microsecond) intervals: truncation toward zero
    would bucket [-90s, -30s] into bucket 0 alongside [30s, 90s] and MISS
    its true overlap with [-60s, -45s]; floor-division buckets must keep
    exact overlap semantics on both sides of zero."""
    from irstats2_spark.pipeline.intervals import interval_overlap_join

    lrows = [(1, -90_000_000, -30_000_000), (2, -10_000_000, 10_000_000)]
    rrows = [(1, -60_000_000, -45_000_000), (2, 5_000_000, 8_000_000),
             (3, -200_000_000, -95_000_000)]
    left = spark.createDataFrame(lrows, "a_id long, start_us long, end_us long")
    right = spark.createDataFrame(rrows, "b_id long, start_us long, end_us long")
    got = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(left, right, bucket_seconds=60).collect()
    }
    assert got == {(1, 1), (2, 2)}


def test_interval_overlap_join_bucket_size_invariant(spark):
    from irstats2_spark.pipeline.intervals import interval_overlap_join

    left, _ = _random_intervals(spark, 40, 5, "a")
    right, _ = _random_intervals(spark, 40, 6, "b")
    small = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(left, right, bucket_seconds=60).collect()
    }
    large = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(left, right, bucket_seconds=3600).collect()
    }
    assert small == large  # buckets only prune candidates, never results


def test_zonemap_merge_equals_full_scan(spark):
    from irstats2_spark.pipeline.layout import zonemap_merge, zonemap_stats

    df = spark.range(900).select(
        F.col("id").alias("doc_id"), ((F.col("id") * 13) % 500).alias("n_chars")
    )
    parts = [
        zonemap_stats(df.filter(F.col("doc_id") % 3 == i), "n_chars")
        for i in range(3)
    ]
    merged = {
        r["shard"]: (r["n_rows"], r["vmin"], r["vmax"])
        for r in zonemap_merge(*parts).collect()
    }
    full = {
        r["shard"]: (r["n_rows"], r["vmin"], r["vmax"])
        for r in zonemap_stats(df, "n_chars").collect()
    }
    assert merged == full


def test_zonemap_stats_stream_matches_batch(spark, tmp_path):
    import json

    from irstats2_spark.pipeline.layout import zonemap_stats
    from irstats2_spark.pipeline.streams import zonemap_stats_stream

    rows = [{"doc_id": i, "n_chars": (i * 13) % 500} for i in range(400)]
    src = tmp_path / "docs"
    src.mkdir()
    # two files -> at least two micro-batch-able splits
    (src / "a.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:250]) + "\n"
    )
    (src / "b.json").write_text(
        "\n".join(json.dumps(r) for r in rows[250:]) + "\n"
    )
    stream = spark.readStream.schema("doc_id long, n_chars long").json(str(src))
    q = (
        zonemap_stats_stream(stream, "n_chars")
        .writeStream.format("memory")
        .queryName("zm_stream_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.shard: (r.n_rows, r.vmin, r.vmax)
        for r in spark.sql("SELECT * FROM zm_stream_out").collect()
    }
    batch = spark.createDataFrame(
        [(r["doc_id"], r["n_chars"]) for r in rows], "doc_id long, n_chars long"
    )
    want = {
        r.shard: (r.n_rows, r.vmin, r.vmax)
        for r in zonemap_stats(batch, "n_chars").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# OPQ
# ---------------------------------------------------------------------------
def test_opq_eigen_allocation_balances_products(spark):
    vals = np.array([100.0, 50.0, 10.0, 5.0, 2.0, 1.0, 0.5, 0.1])
    perm = linalg.opq_eigen_allocation(vals, m=2)
    assert sorted(perm.tolist()) == list(range(8))
    halves = [perm[:4], perm[4:]]
    prods = [float(np.prod(vals[h])) for h in halves]
    # balanced: neither half hoards the energy (naive split-by-order
    # would give products 250000 vs 0.1 — six orders of magnitude apart)
    assert max(prods) / min(prods) < 100


def test_opq_rotation_is_orthogonal_and_beats_raw_pq(spark):
    # anisotropic, cross-subspace correlated data: OPQ's home turf
    rng = np.random.RandomState(11)
    n, d = 300, 16
    scales = np.geomspace(4.0, 0.05, d)
    base = rng.randn(n, d) * scales
    mix = np.linalg.qr(rng.randn(d, d))[0]  # rotate so raw axes mix energy
    mat = (base @ mix).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    rot = {r["vec_id"]: np.array(r["vec"]) for r in
           linalg.opq_rotate(df, dim=d, m=4).collect()}
    # orthogonality: rotation preserves centered L2 norms
    _, mean64, _ = linalg.covariance_matrix(df)
    for i in (0, 7, 123):
        orig = mat[i].astype(np.float64) - mean64
        assert abs(np.linalg.norm(rot[i]) - np.linalg.norm(orig)) < 1e-6
    out = {r["variant"]: r for r in
           linalg.opq_vs_pq_distortion(df, dim=d, m=4, n_codes=4).collect()}
    assert out["opq_rotated"]["n_vecs"] == out["pq_raw"]["n_vecs"] == n
    assert out["opq_rotated"]["total_sq_err"] < out["pq_raw"]["total_sq_err"]


def test_encoding_anomaly_counts_dirty_strings(spark):
    from irstats2_spark.pipeline.textstats import encoding_anomaly_scores

    rows = [
        (1, "clean ascii text"),
        (2, "bad \x01\x02 bytes"),
        (3, "mojibake �� here"),
        (4, "café naïve"),
        (5, ""),
    ]
    out = {
        r["doc_id"]: r
        for r in encoding_anomaly_scores(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["n_control"] == out[1]["n_replacement"] == out[1]["n_non_ascii"] == 0
    assert out[1]["is_clean"]
    assert out[2]["n_control"] == 2 and not out[2]["is_clean"]
    assert out[3]["n_replacement"] == 2 and not out[3]["is_clean"]
    assert out[4]["n_non_ascii"] == 2
    assert out[5]["anomaly_per_mille"] == 0  # empty text: no div-by-zero


def test_curriculum_order_is_bucket_major_then_shuffled(spark):
    import hashlib

    from irstats2_spark.pipeline.sampling import curriculum_order

    rows = [(i, 1 + (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, bucket int")
    got = curriculum_order(df, "bucket").collect()
    # reference: single global sort by (bucket, md5 key, id)
    def key(i):
        return hashlib.md5(f"curr:{i}".encode()).hexdigest()

    want = sorted(rows, key=lambda r: (r[1], key(r[0]), r[0]))
    by_pos = {r["global_pos"]: (r["doc_id"], r["bucket"]) for r in got}
    assert len(by_pos) == 300  # global_pos is a dense permutation
    for pos0, (doc_id, bucket) in enumerate(want):
        assert by_pos[pos0 + 1] == (doc_id, bucket)


def test_class_separation_zero_for_identical_classes(spark):
    from irstats2_spark.pipeline.linalg import class_centroid_separation

    # two labels with IDENTICAL vector sets: both class means equal the
    # global mean, so both distances must be exactly zero
    vecs = [[float(i % 5), float(i % 3)] for i in range(20)]
    rows = [(i, lbl, v) for lbl in (0, 1) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {r["label"]: r for r in class_centroid_separation(df).collect()}
    assert out[0]["centroid_dist_sq"] == 0.0 == out[1]["centroid_dist_sq"]
    assert out[0]["n_vecs"] == out[1]["n_vecs"] == 20


def test_class_separation_detects_shifted_class(spark):
    import numpy as np

    from irstats2_spark.pipeline.linalg import class_centroid_separation

    rng = np.random.RandomState(3)
    a = rng.randn(100, 4) * 0.1
    b = rng.randn(100, 4) * 0.1 + np.array([1.0, 0, 0, 0])
    rows = [(i, 0, [float(x) for x in a[i]]) for i in range(100)] + [
        (100 + i, 1, [float(x) for x in b[i]]) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {r["label"]: r["centroid_dist_sq"] for r in
           class_centroid_separation(df).collect()}
    # each class mean sits ~0.5 from the pooled mean along dim 0
    assert 0.15 < out[0] < 0.35 and 0.15 < out[1] < 0.35


# ---------------------------------------------------------------------------
# Property tests (hypothesis): the layout tier's engine-portability
# contracts over arbitrary integer distributions, not just the fixtures.
# Few examples (Spark jobs are slow per-example), deterministic seeds —
# the same trade documented at tests/test_pipeline.py's hypothesis block.
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None)
@given(
    xs=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=2, max_size=60),
    bits=st.sampled_from([2, 3, 4]),
)
def test_zorder_matches_python_model_on_arbitrary_ints(spark, xs, bits):
    from irstats2_spark.pipeline.layout import zorder_values

    rows = [(i, x, (x * 7 - 3)) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "doc_id long, x long, y long")
    got = {r["doc_id"]: r["zvalue"] for r in zorder_values(df, "x", "y", bits).collect()}
    n_bins = 1 << bits
    x_lo, x_hi = min(xs), max(xs)
    ys = [r[2] for r in rows]
    y_lo, y_hi = min(ys), max(ys)

    def binned(v, lo, hi):
        return min(int((v - lo) * n_bins / (hi - lo + 1)), n_bins - 1)

    for doc_id, x, y in rows:
        z = _interleave(binned(x, x_lo, x_hi), binned(y, y_lo, y_hi), bits)
        assert got[doc_id] == z


@settings(max_examples=5, deadline=None)
@given(
    data=st.data(),
    bucket=st.sampled_from([60, 600, 7200]),
)
def test_interval_overlap_property_vs_bruteforce(spark, data, bucket):
    from irstats2_spark.pipeline.intervals import interval_overlap_join

    # negative starts included: pre-1970 timestamps exercise the
    # floor-vs-truncate bucketing distinction (truncation toward zero
    # silently dropped overlapping pairs straddling bucket 0)
    iv = st.tuples(
        st.integers(min_value=-10_000, max_value=10_000),
        st.integers(min_value=0, max_value=5_000),
    )
    lrows = [
        (i, s * 1_000_000, (s + d) * 1_000_000)
        for i, (s, d) in enumerate(data.draw(st.lists(iv, min_size=1, max_size=25)))
    ]
    rrows = [
        (i, s * 1_000_000, (s + d) * 1_000_000)
        for i, (s, d) in enumerate(data.draw(st.lists(iv, min_size=1, max_size=25)))
    ]
    left = spark.createDataFrame(lrows, "a_id long, start_us long, end_us long")
    right = spark.createDataFrame(rrows, "b_id long, start_us long, end_us long")
    got = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_join(left, right, bucket_seconds=bucket).collect()
    }
    want = {
        (a, b)
        for a, s1, e1 in lrows
        for b, s2, e2 in rrows
        if s1 <= e2 and e1 >= s2
    }
    assert got == want
