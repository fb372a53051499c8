"""End-to-end extraction pipeline: pages table → extracted docs + region rows
+ per-partition lineage, with content-hash resume.

This is the Spark re-expression of the reference's whole processing path
(``worker/document_processor.py:101-377`` one-document loop + Celery queue)
as ONE lazy DataFrame program:

    read → salt-repartition(url_host) → [resume anti-join] → gated extract UDF
         → docs / region rows / summaries → snapshot commit (+ lineage)

Scale notes (north rule):
  * **Skew**: crawl corpora are host-skewed; we repartition on
    ``(url_host, salt)`` where the salt is DETERMINISTIC (derived from
    ``xxhash64(url)``, not rand()) so replays produce identical partition
    assignment — required for reproducible lineage.
  * **Resume**: one snapshot protocol, the versioned manifest
    (``sources/snapshots.py``), for the batch job and the streaming sink
    alike (:func:`run_versioned`). Exactly-once per (url, content_sha256,
    params fingerprint) via a left-anti join against the committed
    snapshot — the reference's content-hash cache
    (``worker/storage_manager.py:27-44``, ``document_processor.py:170-205``)
    turned into a relational operator. The hash is computed scan-side so
    only the (url, hash) projection of history shuffles, never payloads.
  * **Lineage**: per-partition metric rows (partition id, input file, doc
    counts, failure counters) are stored in the version's manifest and
    read the SAME extraction pass the docs write reads: the commit
    persists one flat frame (``regions`` replaced by its ``n_regions``
    count — a cache of the nested region structs costs more than
    recomputing them), writes the docs from it, then aggregates lineage
    from the cache. The kernel UDF runs once per committed delta, not
    once per action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_model_spark.operators.extract import doc_summary, extract_pages, region_rows
from ocr_model_spark.sources.pages import read_pages

DEFAULT_SALT_BUCKETS = 8


def salted_repartition(
    pages: DataFrame, num_partitions: int | None = None, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """Repartition on (url_host, deterministic salt) to defuse domain skew.

    The salt is ``pmod(xxhash64(url), B)`` — a pure function of the url, so
    the layout is stable across replays (unlike ``rand()``-salting).
    """
    from ocr_model_spark.operators.urls import url_host

    # the ONE host definition (operators/urls.py) — pure regex: never
    # throws on malformed crawl urls, never NULL-collapses underscore
    # hosts, and matches what every host-keyed oracle computes
    host = url_host("url")
    salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    if num_partitions:
        return pages.repartition(num_partitions, host, salt)
    return pages.repartition(host, salt)


LINEAGE_DOC_TYPES = (
    "html", "pdf", "docx", "pptx", "xlsx", "epub", "doc", "xls", "ppt",
    "ole", "text",
)


def partition_lineage(docs: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows committed with every snapshot
    (north rule): input file, partition id, row counts, failure counters,
    per-doc-type counts (deterministic — snapshot-pinned) and the summed
    kernel wall time (``extract_us`` — NONdeterministic, excluded from the
    pinned driver projection; bench/ops decompose regressions from it)."""
    return _lineage_agg(_flat_docs(docs))


def _flat_docs(docs: DataFrame) -> DataFrame:
    """Extraction output with the nested ``regions`` array replaced by its
    count: everything a snapshot commit writes or aggregates."""
    return docs.withColumn(
        "n_regions", F.coalesce(F.size("regions"), F.lit(0))
    ).drop("regions")


def _lineage_agg(flat: DataFrame) -> DataFrame:
    """The lineage aggregation over a :func:`_flat_docs` frame."""
    per_type = [
        F.sum(F.when(F.col("doc_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in LINEAGE_DOC_TYPES
    ]
    return flat.groupBy(
        F.col("provenance.partition_id").alias("partition_id"),
        F.col("provenance.input_file").alias("input_file"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_failed"),
        F.sum("n_regions").alias("n_regions"),
        *per_type,
        F.sum(F.coalesce(F.col("extract_us"), F.lit(0))).alias("extract_us"),
        F.max("warc_ts").alias("max_warc_ts"),
        F.min("warc_ts").alias("min_warc_ts"),
    )


def extraction_cost_by_type(docs: DataFrame) -> DataFrame:
    """Per-doc-type kernel cost profile (docs, total/mean wall micros) — the
    artifact that decomposes a throughput regression into payload classes
    (heavier PDFs? slower HTML?) without re-instrumenting anything."""
    return docs.groupBy("doc_type").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("extract_us"), F.lit(0))).alias("total_us"),
        F.round(
            F.sum(F.coalesce(F.col("extract_us"), F.lit(0))) / F.count("*"), 1
        ).alias("mean_us"),
    )


def run_extraction(
    spark: SparkSession,
    pages_path: str,
    num_partitions: int | None = None,
    salt: bool = False,
) -> dict[str, DataFrame]:
    """Build the full lazy plan. Returns {'docs','rows','summary','lineage'}.

    **Payloads never shuffle.** The extraction kernel runs on SCAN
    partitions: per-document cost is uniform, so scan splits are already
    balanced and shuffling the fat ``html`` bytes first would bottleneck on
    shuffle bandwidth, not CPU (measured: at 400k docs the pre-extraction
    shuffle capped 4→16-core scaling at 0.58; scan-partitioned extraction
    restores it). Downstream aggregations shuffle only map-side partials.

    ``salt=True`` applies the deterministic (url_host, salt) repartition to
    the PAGES when a consumer genuinely needs host-keyed row-level work
    colocated (per-host sessionization etc.); skewed hosts then spread over
    salt buckets. ``num_partitions`` forces a pre-UDF width only for
    pathological inputs (one giant unsplittable file)."""
    pages = read_pages(spark, pages_path)
    # capture scan-time lineage before anything else
    pages = pages.withColumn("input_file", F.input_file_name())
    if salt:
        pages = salted_repartition(pages, num_partitions)
    elif num_partitions is not None:
        pages = pages.repartition(num_partitions)
    docs = extract_pages(pages)
    return {
        "docs": docs,
        "rows": region_rows(docs),
        "summary": doc_summary(docs),
        "lineage": partition_lineage(docs),
    }


def run_versioned(
    spark: SparkSession,
    pages_path: str,
    base: str,
    params: dict | None = None,
    num_partitions: int | None = None,
    pages: DataFrame | None = None,
) -> int | None:
    """Extraction with the versioned-manifest snapshot protocol
    (sources/snapshots.py): resume keyed on (url, content hash, params
    fingerprint), atomic manifest commit, lineage embedded in the manifest.
    Returns the committed version, or None when nothing new to process.
    ``pages`` replaces the scan of ``pages_path`` (a WARC read, or a
    streaming micro-batch: a replayed batch resumes to an empty delta and
    commits nothing).

    The extraction UDF runs once per committed delta: the delta's docs are
    persisted as one flat frame, ``regions`` dropped before the persist
    (the snapshot never stores it, and a cache of nested structs costs
    more than recomputing them) and replaced by the ``n_regions`` count
    that lineage needs. The snapshot write fills the cache and the lineage
    collect reads it; without the cache each action re-runs every kernel.
    Default storage level (MEMORY_AND_DISK): a large partition spills
    instead of failing."""
    import hashlib
    import json as _json

    from ocr_model_spark.sources.snapshots import commit_version, resume_against_snapshot

    fp = hashlib.sha256(
        _json.dumps(params or {}, sort_keys=True).encode()
    ).hexdigest()[:16]
    if pages is None:
        pages = read_pages(spark, pages_path)
    if "input_file" not in pages.columns:
        # scan-time capture (sources like WARC pre-populate it — after a
        # mapInPandas the builtin would return "")
        pages = pages.withColumn("input_file", F.input_file_name())
    pages = resume_against_snapshot(pages, spark, base, fp)
    # extract_pages is 1:1, so an empty delta is visible on the pages (a
    # bare count() prunes the UDF) before any cache partition is built
    if pages.limit(1).count() == 0:
        return None
    if num_partitions is not None:
        pages = pages.repartition(num_partitions)
    # extraction runs on scan partitions — payloads never shuffle (see
    # run_extraction docstring)
    docs = extract_pages(pages).withColumn("params_fingerprint", F.lit(fp))
    flat = _flat_docs(docs).persist()
    try:
        # extract_us is a wall-clock reading: the COMMITTED artifacts stay a
        # pure function of the input (replays of identical input produce
        # identical snapshot bytes); timing lives on the live frame only
        return commit_version(
            flat.drop("n_regions", "extract_us"),
            _lineage_agg(flat).drop("extract_us"),
            base,
            fp,
        )
    finally:
        flat.unpersist()


def corpus_gate(docs: DataFrame, quality_threshold: float = 0.3) -> DataFrame:
    """The per-document front gate shared by the batch corpus builder and
    the streaming incremental builder: project extraction output to
    ``(url, content_sha256, text, extract_ok, url_keep, quality,
    fineweb_keep, pre_reason)`` where ``pre_reason`` tags the FIRST
    failing row-local stage (``extract_failed`` → ``url_blocked`` →
    ``low_quality``) and NULL means the document proceeds to the
    corpus-level stages (dedup, decontamination). Pure expressions —
    zero shuffle, evaluated on the extraction's scan partitions."""
    from ocr_model_spark.operators.textstats import (
        fineweb_quality_struct,
        quality_score,
    )
    from ocr_model_spark.operators.urls import url_filter_struct

    return docs.select(
        # the pipeline's unique doc key: url ALONE is not one (a re-crawl
        # carries the same url with changed bytes — the exact case the
        # content-hash resume models), and joining/minhashing on a non-unique id
        # multiplies rows and merges signatures
        F.sha2(F.concat_ws("\n", "url", "content_sha256"), 256).alias(
            "doc_key"
        ),
        "url",
        "content_sha256",
        F.col("text_extracted").alias("text"),
        (F.col("ok") & (F.length("text_extracted") > 0)).alias("extract_ok"),
        url_filter_struct(F.col("url"))["url_keep"].alias("url_keep"),
        quality_score(F.col("text_extracted")).alias("quality"),
        fineweb_quality_struct(F.col("text_extracted"))["fineweb_keep"].alias(
            "fineweb_keep"
        ),
    ).withColumn(
        "pre_reason",
        F.when(~F.col("extract_ok"), F.lit("extract_failed"))
        .when(~F.col("url_keep"), F.lit("url_blocked"))
        .when(
            (F.col("quality") < quality_threshold) | ~F.col("fineweb_keep"),
            F.lit("low_quality"),
        ),
    )


def build_training_corpus(
    spark: SparkSession,
    pages_path: str,
    out_dir: str | None = None,
    benchmark: DataFrame | None = None,
    quality_threshold: float = 0.3,
    n_shards: int = 16,
    max_bucket: int | None = 1000,
    num_partitions: int | None = None,
    token_budget: int | None = None,
) -> dict:
    """The end-to-end training-corpus pipeline — the composition a webtext
    user actually ships, wired from the engine's own operators:

        extract → URL front gate → quality battery → exact dedup →
        MinHash near-dedup → [benchmark decontamination] → shard export

    Funnel semantics: every document is tagged with its FIRST failing
    stage (``extract_failed`` → ``url_blocked`` → ``low_quality`` →
    ``exact_dup`` → ``near_dup`` → ``contaminated`` → ``kept``) and the
    report aggregates in ONE pass over the tagged frame — no per-stage
    recounting. Each stage computes only on the survivors of the previous
    one (the C4/RefinedWeb/FineWeb production ordering), so dedup cost
    scales with the filtered set, not the crawl.

    Stage materialization: the flagged base frame AND the final verdicts
    frame ``persist()`` for the duration — the single-job equivalent of
    the intermediate parquet a cluster pipeline writes between stages;
    without the verdicts persist the funnel collect and the shard export
    would each re-run the dominant dedup subtree. The returned ``kept``
    frame is lazy and recomputes if consumed after return; the funnel
    counts and shard manifest are materialized before unpersist.

    ``max_bucket`` caps pathological LSH buckets (boilerplate clusters
    that are NOT byte-identical survive exact dedup and pair
    quadratically — see ``minhash_candidates``); ``num_partitions``
    forces the extraction width for pathological inputs, as in
    :func:`run_extraction`.

    ``token_budget`` adds a final ``over_budget`` stage: when the
    surviving corpus exceeds the budget (``multilingual_token_count``
    sum), documents keep with probability budget/total via a
    DETERMINISTIC salted hash threshold (``pmod(xxhash64(doc_key,
    'budget'), 2^30)`` — never rand(); salted so it decorrelates from
    the shard-assignment hash), so the exported size is the budget in
    expectation with NO global sort or running total (a cumulative-sum
    window over the whole corpus is a single-partition scale-killer;
    hash-threshold selection is the 10^12 shape, and replays keep the
    same docs).

    Determinism: every gate is a pure function of the input (hash ranks,
    not rand()), so replays produce identical funnels, manifests, and
    shard bytes."""
    from ocr_model_spark.operators.dedup import (
        benchmark_contamination,
        exact_dup_rank,
        minhash_candidates,
    )
    from ocr_model_spark.sources.sinks import write_training_shards

    docs = run_extraction(spark, pages_path, num_partitions=num_partitions)["docs"]
    # dropDuplicates: a pages table can repeat a (url, bytes) row verbatim;
    # one survivor keeps doc_key a true key for every join below
    base = (
        corpus_gate(docs, quality_threshold)
        .dropDuplicates(["doc_key"])
        .persist()
    )
    persisted = [base]
    try:
        surv_q = base.filter(F.col("pre_reason").isNull())
        # exact dedup among quality survivors: deterministic keeper per
        # content hash (shared rule: operators/dedup.py::exact_dup_rank)
        ranked = exact_dup_rank(surv_q, "doc_key")
        surv_x = ranked.filter(F.col("exact_rank") == 1)
        losers = (
            minhash_candidates(surv_x, "doc_key", "text", max_bucket=max_bucket)
            .select(F.col("id_b").alias("doc_key"))
            .distinct()
            .withColumn("_near", F.lit(True))
        )
        tagged = ranked.join(losers, "doc_key", "left")
        if benchmark is not None:
            cont = benchmark_contamination(
                surv_x.join(losers, "doc_key", "left_anti"),
                benchmark,
                id_col="doc_key",
                text_col="text",
            ).select("doc_key", "contaminated")
            tagged = tagged.join(cont, "doc_key", "left")
        else:
            tagged = tagged.withColumn("contaminated", F.lit(False))
        full = base.join(
            tagged.select("doc_key", "exact_rank", "_near", "contaminated"),
            "doc_key",
            "left",
        )
        reason = F.coalesce(
            F.col("pre_reason"),
            F.when(F.col("exact_rank") > 1, F.lit("exact_dup"))
            .when(F.col("_near"), F.lit("near_dup"))
            .when(F.coalesce("contaminated", F.lit(False)), F.lit("contaminated")),
            F.lit("kept"),
        )
        verdicts = full.select(
            "doc_key",
            "url",
            "content_sha256",
            "text",
            "quality",
            reason.alias("drop_reason"),
        ).persist()
        persisted.append(verdicts)
        if token_budget is not None:
            from ocr_model_spark.operators.textstats import multilingual_token_count

            total = (
                verdicts.filter(F.col("drop_reason") == "kept")
                .agg(F.sum(multilingual_token_count(F.col("text"))).alias("t"))
                .collect()[0]["t"]
            ) or 0
            if total > token_budget:
                # 2^30 modulus + floor of 1: a 1e6 grid gives ±50% relative
                # error at single-digit thresholds and rounds to ZERO (empty
                # export!) below ratio 5e-7 — real at 10^12-token corpora.
                # The hash is SALTED so it decorrelates from the shard
                # assignment hash (same key, same function: with the bare
                # hash, budget survivors all land in the first
                # thresh-mod-n_shards shards).
                mod = 1 << 30
                thresh = max(1, int(round(token_budget / total * mod)))
                over = (F.col("drop_reason") == "kept") & (
                    F.pmod(
                        F.xxhash64(F.col("doc_key"), F.lit("budget")), F.lit(mod)
                    )
                    >= thresh
                )
                verdicts = verdicts.withColumn(
                    "drop_reason",
                    F.when(over, F.lit("over_budget")).otherwise(
                        F.col("drop_reason")
                    ),
                ).persist()
                persisted.append(verdicts)
        funnel = {
            r["drop_reason"]: int(r["count"])
            for r in verdicts.groupBy("drop_reason").count().collect()
        }
        kept = verdicts.filter(F.col("drop_reason") == "kept").drop("drop_reason")
        manifest = (
            write_training_shards(kept, out_dir, n_shards=n_shards, id_col="doc_key")
            if out_dir
            else None
        )
    finally:
        for frame in persisted:
            frame.unpersist()
    return {
        "funnel": funnel,
        "total": sum(funnel.values()),
        "manifest": manifest,
        "kept": kept,
    }
