"""Structured Streaming surface (SURVEY.md §2.10).

The reference's "stream" is a Celery task queue, not a data stream, so there
is no watermark/window semantics to replicate — but the engine exposes the
same batch pipeline incrementally:

  * :func:`streaming_extraction` — ``readStream`` over the pages table,
    ``trigger(availableNow=True)``, ``foreachBatch`` handing each
    micro-batch to the batch job's own commit
    (:func:`ocr_model_spark.pipeline.run_versioned`): the same extraction
    plan, the same versioned-manifest snapshot and lineage. ``foreachBatch``
    delivers at least once; a replayed micro-batch is resume-filtered
    against the committed manifest, so it runs no kernel and commits no
    version — exactly-once per (url, content hash, params).
  * :func:`streaming_windowed_counts` — watermarked tumbling-window agg over
    the events table (the generic streaming-analytics pattern, verified
    against a DuckDB ``date_trunc`` oracle).

Both run synchronously to completion in tests via ``availableNow`` +
``processAllAvailable`` — the sandbox substitute for a long-lived stream.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_model_spark.operators.extract import extract_pages
from ocr_model_spark.sources.pages import PAGES_SCHEMA


def streaming_windowed_counts(
    spark: SparkSession, events_path: str, window: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts/sums per event_type over a stream of events.

    Returns the COMPLETE materialized result (the stream is drained with
    availableNow) as a static DataFrame: (window_start, event_type, n,
    sum_value)."""
    import os

    # window() computes over TIMESTAMP (ltz): pin the session TZ to UTC for
    # the duration so the NTZ→LTZ casts are value-preserving regardless of
    # the caller's session configuration (oracle comparisons depend on it)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    schema = spark.read.parquet(events_path).schema
    name = f"win_counts_{uuid.uuid4().hex[:8]}"  # sink name only, not data
    # the file stream source requires a directory: stream the parent dir
    # filtered to this table's file
    parent, base = os.path.split(events_path.rstrip("/"))
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", base)
        .parquet(parent)
        # watermarks need TIMESTAMP (ltz); session TZ is UTC so the cast is
        # value-preserving, and we cast back on output for the oracle
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value") + 1e-9, 4).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    try:
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def streaming_dedup_counts(spark: SparkSession, docs_path: str) -> DataFrame:
    """Stateful streaming exact-dedup (the training-pipeline pattern: drop
    re-crawled duplicate documents as they ARRIVE, not in a nightly batch):
    ``dropDuplicates`` on (source, content-hash) keeps first-seen rows in
    state, then per-source unique counts. Drained with availableNow; at
    real scale the state is bounded with ``dropDuplicatesWithinWatermark``
    once the source carries event time. Keyed per (source, hash) so the
    result is deterministic regardless of arrival order. Verified against
    the batch ``COUNT(DISTINCT text)`` oracle."""
    import os

    schema = spark.read.parquet(docs_path).schema
    name = f"dedup_counts_{uuid.uuid4().hex[:8]}"  # sink name only, not data
    parent, base = os.path.split(docs_path.rstrip("/"))
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", base)
        .parquet(parent)
        # NULL text is excluded (not hashed as ''): the batch
        # COUNT(DISTINCT text) oracle ignores NULLs, and '' must not
        # collide with missing
        .filter(F.col("text").isNotNull())
        .select("source", F.sha2(F.col("text"), 256).alias("h"))
        .dropDuplicates(["source", "h"])
        .groupBy("source")
        .agg(F.count("*").alias("n_unique_docs"))
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_extraction(
    spark: SparkSession, pages_path: str, out_dir: str, params: dict | None = None
) -> None:
    """Run the extraction pipeline as an incremental stream into the
    versioned snapshot base ``out_dir``: each micro-batch is committed by
    :func:`ocr_model_spark.pipeline.run_versioned` (resume against the
    manifest, one kernel pass, one version with its per-partition lineage;
    resume granularity = micro-batch). ``params`` is the extraction-params
    fingerprint input, as for the batch job — batch and streaming runs into
    one base resume each other."""
    from ocr_model_spark.pipeline import run_versioned

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        run_versioned(spark, pages_path, out_dir, params=params, pages=batch_df)

    import os

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if os.path.isfile(pages_path):
        # the file stream source requires a directory
        parent, base_name = os.path.split(pages_path.rstrip("/"))
        reader = reader.option("pathGlobFilter", base_name)
        pages_path = parent
    q = (
        reader.parquet(pages_path)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        # sibling dir: the snapshot base belongs to the manifest protocol
        .option("checkpointLocation", f"{out_dir.rstrip('/')}_checkpoint")
        .start()
    )
    q.awaitTermination()


def streaming_corpus(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    quality_threshold: float = 0.3,
    max_files_per_trigger: int | None = None,
    max_bucket: int | None = 1000,
) -> None:
    """Incremental corpus construction — the continuous-crawl shape of
    :func:`ocr_model_spark.pipeline.build_training_corpus`: each
    micro-batch extracts, runs the shared front gate
    (``pipeline.corpus_gate``), exact-dedups within the batch AND against
    the STANDING corpus (content hash), LSH-near-dedups WITHIN the batch
    (a boilerplate cluster arriving together must not enter wholesale)
    and against the standing corpus (``dedup.dedup_new_against`` —
    cross-side candidates only, the batch never re-signatures the
    corpus), and appends the genuinely-new documents. Resume granularity
    = micro-batch (the file stream checkpoint); within a batch every
    drop rule is a pure function of the data, so replays append the same
    rows. ``max_bucket`` caps pathological LSH buckets (see
    ``minhash_candidates``).

    At 10^12 docs the standing corpus read is the persisted dedup index
    (signatures computed per increment only over the batch — see
    ``cross_corpus_candidates``); parquet emulates it here, and the
    corpus-existence probe goes through the Hadoop FileSystem so URI
    outputs (hdfs://, s3a://) append instead of clobbering."""
    from ocr_model_spark.operators.dedup import (
        dedup_new_against,
        exact_dup_rank,
        minhash_candidates,
    )
    from ocr_model_spark.pipeline import corpus_gate
    from ocr_model_spark.sources.sinks import path_exists

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        docs = extract_pages(batch_df)
        gated = (
            corpus_gate(docs, quality_threshold)
            .filter(F.col("pre_reason").isNull())
            .select("doc_key", "url", "content_sha256", "text", "quality")
            .dropDuplicates(["doc_key"])
        )
        # within-batch exact dedup (shared deterministic keeper rule)
        fresh = (
            exact_dup_rank(gated, "doc_key")
            .filter(F.col("exact_rank") == 1)
            .drop("exact_rank")
        )
        # within-batch near-dedup: drop the higher-key side of each LSH
        # candidate pair so same-batch near-dup clusters keep one member
        batch_losers = (
            minhash_candidates(fresh, "doc_key", "text", max_bucket=max_bucket)
            .select(F.col("id_b").alias("doc_key"))
            .distinct()
        )
        fresh = fresh.join(batch_losers, "doc_key", "left_anti")
        exists = path_exists(spark, out_dir.rstrip("/") + "/_SUCCESS")
        if exists:
            corpus = spark.read.parquet(out_dir)
            # exact vs standing corpus, then LSH near-dup vs standing corpus
            fresh = fresh.join(
                corpus.select("content_sha256").distinct(),
                "content_sha256",
                "left_anti",
            )
            fresh = dedup_new_against(
                fresh, corpus, "doc_key", "text", max_bucket=max_bucket
            )
        fresh.write.mode("append" if exists else "overwrite").parquet(out_dir)

    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(pages_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir.rstrip('/')}_checkpoint")
        .start()
    )
    q.awaitTermination()
