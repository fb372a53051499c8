"""Versioned-manifest snapshot protocol: atomic commits, time travel,
params-fingerprint resume, stray-file invisibility."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from ocr_model_spark.operators.dispatch import doc_type_col
from ocr_model_spark.pipeline import run_extraction, run_versioned
from ocr_model_spark.sources.snapshots import latest_version, read_manifest, read_snapshot


def test_versioned_commit_resume_and_time_travel(spark, pages_path, tmp_path):
    base = str(tmp_path / "vsnap")

    v0 = run_versioned(spark, pages_path, base)
    assert v0 == 0
    assert read_snapshot(spark, base).count() == 300
    # manifest carries the lineage audit rows
    m = read_manifest(base)
    assert sum(r["n_docs"] for r in m["lineage"]) == 300

    # same input, same params → nothing to do, NO new version
    assert run_versioned(spark, pages_path, base) is None
    assert latest_version(base) == 0

    # one recrawled url with changed bytes → delta commit of exactly 1 doc
    pages = pd.read_parquet(pages_path)
    pages.loc[0, "html"] = b"<html><body><p>Recrawled content long enough to extract cleanly.</p></body></html>"
    changed = str(tmp_path / "changed.parquet")
    pages.to_parquet(changed, index=False)
    v1 = run_versioned(spark, changed, base)
    assert v1 == 1
    assert read_snapshot(spark, base).count() == 301
    assert len(read_manifest(base)["delta_files"]) >= 1
    # time travel: v0 still readable and unchanged
    assert read_snapshot(spark, base, version=0).count() == 300

    # stray data file from a crashed writer is invisible to readers
    stray_dir = os.path.join(base, "data", "deadbeef")
    pages.head(5)[["url"]].assign(junk=1).to_parquet(
        os.path.join(os.makedirs(stray_dir, exist_ok=True) or stray_dir, "junk.parquet")
    )
    assert read_snapshot(spark, base).count() == 301

    # changed extraction params → full reprocess (new fingerprint)
    v2 = run_versioned(spark, pages_path, base, params={"profile": "quality"})
    assert v2 == 2
    snap = read_snapshot(spark, base)
    assert snap.count() == 601  # 301 old + 300 reprocessed under new params
    assert snap.select("params_fingerprint").distinct().count() == 2


def _arrow_eval_rows_since(spark, after_execution_id: int) -> int:
    """Summed ``ArrowEvalPython`` output rows over the SQL executions with
    an id above ``after_execution_id`` (read from the SQL status store,
    which the UI-less session still keeps)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    rows = 0
    execs = store.executionsList().iterator()
    while execs.hasNext():
        eid = execs.next().executionId()
        if eid <= after_execution_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() != "ArrowEvalPython":
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows += int(v.get().replace(",", ""))
    return rows


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    last = -1
    while execs.hasNext():
        last = max(last, execs.next().executionId())
    return last


def test_versioned_commit_runs_the_kernel_once(spark, pages_path, tmp_path):
    """The batch job evaluates the extraction UDF once per hot document:
    the lineage collect reads the persisted pass the snapshot write built,
    the cache is released afterwards, and the manifest lineage still counts
    every region of a direct extraction of the same pages."""
    hot = doc_type_col(F.col("html")).isin(
        "pdf", "html", "text", "docx", "doc", "xls", "ppt"
    )
    n_hot = spark.read.parquet(pages_path).filter(hot).count()
    assert n_hot > 0

    def cached_rdds() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    cached_before = cached_rdds()
    before = _last_execution_id(spark)
    assert run_versioned(spark, pages_path, str(tmp_path / "vsnap")) == 0
    assert _arrow_eval_rows_since(spark, before) == n_hot
    assert cached_rdds() == cached_before

    lineage = read_manifest(str(tmp_path / "vsnap"))["lineage"]
    docs = run_extraction(spark, pages_path)["docs"]
    n_regions = docs.agg(F.sum(F.size("regions"))).first()[0]
    assert sum(r["n_regions"] for r in lineage) == n_regions


def test_streaming_sink_commits_through_the_manifest(spark, pages_path, tmp_path):
    """The streaming sink is the batch commit: one kernel pass per hot doc,
    a replayed micro-batch (the sink committed, then the driver died before
    Spark logged the batch) and a stream over batch-committed pages both
    resume to nothing, and the streamed rows equal the batch rows."""
    from ocr_model_spark.streaming.pipeline import streaming_extraction

    hot = doc_type_col(F.col("html")).isin(
        "pdf", "html", "text", "docx", "doc", "xls", "ppt"
    )
    n_hot = spark.read.parquet(pages_path).filter(hot).count()
    stream_base = str(tmp_path / "stream")

    before = _last_execution_id(spark)
    streaming_extraction(spark, pages_path, stream_base)
    assert _arrow_eval_rows_since(spark, before) == n_hot
    version = latest_version(stream_base)
    assert version is not None
    assert read_snapshot(spark, stream_base).count() == 300

    commits = os.path.join(f"{stream_base}_checkpoint", "commits")
    for name in ("0", ".0.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    before = _last_execution_id(spark)
    streaming_extraction(spark, pages_path, stream_base)
    assert _arrow_eval_rows_since(spark, before) == 0
    assert latest_version(stream_base) == version
    assert read_snapshot(spark, stream_base).count() == 300

    batch_base = str(tmp_path / "batch")
    assert run_versioned(spark, pages_path, batch_base) == 0
    streaming_extraction(spark, pages_path, batch_base)
    assert latest_version(batch_base) == 0

    def rows(base: str) -> list[tuple]:
        snap = read_snapshot(spark, base)
        return sorted(
            tuple(r)
            for r in snap.select("url", "content_sha256", "text_extracted").collect()
        )

    assert rows(stream_base) == rows(batch_base)
