"""Ingest-time corpus curation: the dedup admission gate as a
streaming sink.

A training-data pipeline that dedups only in nightly batches admits
duplicates for up to a day; running the SAME two-tier gate
(llmdata/dedup.py:dedup_gate — exact content hash + two-sided
MinHash-LSH against the corpus) inside a foreachBatch sink gates every
micro-batch at ingest. Verdicts route documents to an `admitted`
parquet (new content, appended to the corpus view the next batch
gates against if the caller re-reads it) and a `rejected` parquet
carrying the verdict — the dead-letter convention, so nothing is
silently dropped and the rejection reasons stay auditable.

Semantics: batch-mode `dedup_gate` and this sink share one
implementation, so stream == batch is structural, and the test
asserts it by replaying the same documents through both paths.

Scale: per micro-batch cost is O(batch) signature map work plus one
band-keyed shuffle against the corpus index; in production the corpus
side's signatures/bands are a precomputed table that grows by the
admitted docs only. Checkpointing gives restart recovery like every
other sink in streaming/pipeline.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from stockpulse_spark.llmdata.dedup import dedup_gate
from stockpulse_spark.streaming.pipeline import _write_once


def curation_gate_writer(corpus: DataFrame, admitted_path: str, rejected_path: str):
    """foreachBatch hook: gate the micro-batch against `corpus`,
    append admitted docs and rejected (verdict-tagged) docs to their
    sinks.

    The verdict-tagged batch is evaluated once (`_write_once`): both
    appends read it from cache instead of each re-running the MinHash
    join, so they also cannot disagree on a verdict. The two appends run
    concurrently; an empty batch writes nothing."""

    def write_admitted(tagged: DataFrame) -> None:
        tagged.filter(F.col("verdict") == "new").drop("verdict").write.mode(
            "append"
        ).parquet(admitted_path)

    def write_rejected(tagged: DataFrame) -> None:
        tagged.filter(F.col("verdict") != "new").write.mode("append").parquet(
            rejected_path
        )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        verdicts = dedup_gate(
            batch, corpus, batch_id_col="doc_id", corpus_id_col="doc_id"
        ).withColumnRenamed("doc_id", "v_id")
        tagged = batch.join(
            verdicts, batch["doc_id"] == F.col("v_id")
        ).drop("v_id")
        _write_once(tagged, write_admitted, write_rejected)

    return write_batch


def start_curation_gate(
    stream_df: DataFrame,
    corpus: DataFrame,
    admitted_path: str,
    rejected_path: str,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire the gate as a checkpointed streaming sink."""
    os.makedirs(checkpoint, exist_ok=True)
    writer = stream_df.writeStream.foreachBatch(
        curation_gate_writer(corpus, admitted_path, rejected_path)
    ).option("checkpointLocation", checkpoint)
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()
