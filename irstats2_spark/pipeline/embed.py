"""Batch text-embedding plumbing: the inference stage between text
curation and the similarity/ANN family, as Spark plumbing with the model
stubbed.

A production pipeline runs a sentence-encoder over every document in
Arrow batches (one model forward per batch, GPU-resident weights). The
container ships no model runtimes, so — exactly like
``multimodal.decode_image_stub`` — the MODEL is a deterministic fake
while everything Spark-level is real and tested: mapInPandas signature,
Arrow batch iteration, fixed output dimension, L2 normalization, and the
chain into ``similarity.ivf_assign``/``dedup.embedding_dups_ivf``.
Swap ``_fake_embed`` for ``model.encode(batch)`` in production; nothing
else changes.

The fake is engine-portable so a SQL oracle pins it end to end:
component i of a document's raw vector is
``int(md5(text || ':' || i)[:8], 16) % 2000 - 1000`` — an integer in
[-1000, 1000), so the squared-norm sum is exact integer math and the
normalized components round identically in any engine.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def embed_text_stub(
    docs: DataFrame,
    dim: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_batch_rows: int | None = None,
) -> DataFrame:
    """Embed documents into ``dim``-dimensional L2-normalized vectors.

    Output: one row per (doc, component) — (doc_id, dim, value), the
    same exploded layout ``kmeans_fit`` emits; ``embedded_as_vectors``
    folds it back to an array column for the ANN operators.

    Scale: mapInPandas streams Arrow batches; memory is bounded by the
    Arrow batch size regardless of partition size, and the input is
    spread across cores first (inference is the CPU/GPU-bound map stage
    par excellence).

    Batch-size control (the knob that makes the model-swap contract
    real on a GPU fleet):

    - ``model_batch_rows`` caps the rows handed to the model per
      forward pass, independent of how Arrow chunks the stream: each
      incoming Arrow batch is re-sliced to at most this many rows
      before the encode call. None = one forward per Arrow batch.
      Output is row-wise, so ANY slicing produces identical results —
      a pytest pins that batch boundaries never change output.
    - The Arrow chunking itself is session-level:
      ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default
      10000) bounds peak pandas memory per batch. Set it ALONGSIDE
      ``model_batch_rows`` when vectors are wide (batch bytes ~=
      rows x dim x 8).
    - GPU stages: attach a stage-level ResourceProfile so ONLY this
      map stage requests accelerators —
      ``ResourceProfileBuilder().require(
      TaskResourceRequests().resource("gpu", 1))`` and run the
      mapInPandas stage under it (Spark 3.4+ stage-level
      scheduling); the rest of the pipeline schedules on CPU-only
      executors unchanged."""
    import hashlib

    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.parallel import ensure_parallelism

    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    )

    def sliced(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Re-slice Arrow batches to the model's forward-batch size."""
        if model_batch_rows is None:
            yield from batches
            return
        for pdf in batches:
            for lo in range(0, len(pdf), model_batch_rows):
                yield pdf.iloc[lo : lo + model_batch_rows]

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in sliced(batches):
            ids, dims, vals = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = text if text is not None else ""
                xs = np.array(
                    [
                        int(hashlib.md5(f"{t}:{i}".encode()).hexdigest()[:8], 16)
                        % 2000
                        - 1000
                        for i in range(dim)
                    ],
                    dtype=np.float64,
                )
                nrm = float(np.sqrt((xs * xs).sum()))
                v = xs / nrm if nrm > 0 else xs
                ids.extend([doc_id] * dim)
                dims.extend(range(dim))
                # half-up like SQL ROUND (repo idiom — see ivf_assign_gemm,
                # cluster_pairs), not np.round's half-even
                vals.extend(np.floor(v * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame({"doc_id": ids, "dim": dims, "value": vals})

    return src.mapInPandas(work, schema="doc_id long, dim int, value double")


def embedded_as_vectors(embedded: DataFrame) -> DataFrame:
    """(doc_id, dim, value) rows -> (vec_id, embedding array) for the
    ANN/dedup operators: collect each doc's components ordered by dim
    (sort_array over (dim, value) structs — exact, no within-group
    ordering assumption on the shuffle)."""
    return (
        embedded.groupBy(F.col("doc_id").alias("vec_id"))
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("dim"), F.col("value")))
                ),
                lambda s: s["value"].cast("float"),
            ).alias("embedding")
        )
    )
