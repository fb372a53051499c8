"""The jobs the benchmark runs: each prepares its inputs, runs one operation,
checks that operation's outputs, and (traced runs only) probes its layers by
calling their public functions and timing the resulting actions. ``extract``
and ``analytics`` are timed workloads; the corpus job runs once, inside the
traced ``extract`` run, for its per-layer metrics."""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.tracing import label

# the 16 headline queries of bench.py, then the candidate-pair generators it
# leaves out, so all five generators run
QUERIES = (
    "tpch_q1",
    "user_sessions",
    "token_layout_cells",
    "revenue_by_nation",
    "minhash_candidates",
    "near_dup_verified",
    "simhash",
    "cosine_topk",
    "embedding_near_dups",
    "quality_scores",
    "doc_fingerprints",
    "doc_chunks",
    "near_dup_clusters",
    "repetition_profile",
    "unigram_quality",
    "bm25_topk",
    "semantic_dedup",
    "simhash_candidates",
    "winnow_candidates",
    "incremental_dedup",
)
# the sniffed types extract_pages sends to the kernel UDF (its gate)
EXTRACTABLE = ("pdf", "html", "text", "docx", "doc", "xls", "ppt")
KERNEL_TYPES = ("html", "pdf", "docx", "pptx", "xlsx", "epub", "doc", "xls", "ppt", "text")
MAX_BUCKET = 1000
SAMPLE_MOD = 128  # text sample: urls whose sha256 is 0 mod this


def best_of(reps: int, fn) -> float:
    """Fastest of ``reps`` timed calls (steady state, as bench.py times its
    decomposition passes)."""
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Workload:
    name = ""
    min_ops = 3
    warmup_ops = 1  # operations run in set-up, before any is timed

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.scratch = os.path.join(work, "run", f"{self.name}_{os.getpid()}")

    def prepare(self) -> None:
        """Generate (or reuse) inputs and check references; untimed."""

    def op(self, spark, i: int, spans=None):
        raise NotImplementedError

    def check(self, spark, result) -> tuple[int, list[str]]:
        """(operations attempted, failure messages) for one op's result."""
        raise NotImplementedError

    def op_s(self, times: list[float], results: list) -> float:
        """Steady-state operation time: the best of the run's operations,
        as bench.py times its passes. On a shared host the slower samples
        carry other tenants' interference, not the program's cost."""
        return min(times)

    def item_ms(self, times: list[float], results: list) -> float:
        """op_s per input document (1000 / docs_per_s)."""
        return self.op_s(times, results) / self.meta["n_docs"] * 1000

    def probes(self, spark, spans, results: list, cores: int) -> dict[str, float]:
        return {}

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class Extract(Workload):
    """``main.py`` batch job: ``run_versioned`` into a fresh snapshot base."""

    name = "extract"
    # the job keeps speeding up over its first operations on a fresh JVM
    warmup_ops = 2

    def prepare(self) -> None:
        from ocr_model_spark.kernels.extract import extract_document

        self.meta = inputs.extract_input(self.work, self.seed)
        self.payloads = pq.read_table(self.meta["pages"], columns=["url", "html"]).to_pylist()
        self.sample_want = {
            r["url"]: extract_document(r["html"])["text"]
            for r in self.payloads
            if int(hashlib.sha256(r["url"].encode()).hexdigest(), 16) % SAMPLE_MOD == 0
        }

    def op(self, spark, i: int, spans=None):
        from ocr_model_spark.pipeline import run_versioned

        base = os.path.join(self.scratch, f"base{i}")
        shutil.rmtree(base, ignore_errors=True)
        return base, run_versioned(spark, self.meta["pages"], base)

    def check(self, spark, result) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        from ocr_model_spark.sources.snapshots import read_manifest, read_snapshot

        base, version = result
        if version is None:
            return 1, ["run_versioned committed nothing"]
        snap = read_snapshot(spark, base)
        counts = snap.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("ok").cast("int")).alias("ok")
        ).first()
        got = dict(
            snap.filter(F.col("url").isin(list(self.sample_want)))
            .select("url", "text_extracted")
            .collect()
        )
        bad = checks.extract_checks(
            self.meta["n_docs"],
            counts["n"],
            counts["ok"] or 0,
            read_manifest(base)["lineage"],
            got,
            self.sample_want,
        )
        return 1, bad

    def probes(self, spark, spans, results, cores) -> dict[str, float]:
        from pyspark.sql import functions as F

        from ocr_model_spark.operators.dispatch import doc_type_col
        from ocr_model_spark.pipeline import partition_lineage, run_extraction, run_versioned
        from ocr_model_spark.sources.snapshots import read_manifest

        sc = spark.sparkContext
        pages = self.meta["pages"]
        n = self.meta["n_docs"]
        m: dict[str, float] = {"sources.input_bytes": self.meta["input_bytes"]}

        def timed(metric: str, fn, reps: int = 2) -> float:
            with spans.span(label("probe", metric, 0), sc):
                return best_of(reps, fn)

        scan = spark.read.parquet(pages).agg(
            F.expr("bit_xor(xxhash64(url, warc_ts, html, text, lang))")
        )
        m["sources.scan_s"] = timed("sources.scan_s", scan.first)

        hot = doc_type_col(F.col("html")).isin(*EXTRACTABLE)
        gate = spark.read.parquet(pages).agg(
            F.sum(F.when(hot, 1).otherwise(0)).alias("hot"),
            F.sum(F.when(hot, 0).otherwise(1)).alias("cold"),
        )
        m["dispatch.gate_s"] = timed("dispatch.gate_s", gate.first)
        g = gate.first()
        m["dispatch.hot_docs"], m["dispatch.cold_docs"] = g["hot"], g["cold"]

        docs = run_extraction(spark, pages)["docs"]
        per_type = []
        for t in KERNEL_TYPES:
            is_t = F.col("doc_type") == t
            per_type += [
                F.sum(F.when(is_t, F.col("extract_us")).otherwise(0)).alias(f"us_{t}"),
                F.sum(F.when(is_t, 1).otherwise(0)).alias(f"n_{t}"),
            ]
        kern = docs.agg(
            F.sum("extract_us").alias("us"),
            F.sum(F.col("ok").cast("int")).alias("ok"),
            *per_type,
        )
        kern_row = {}

        def kern_pass():
            kern_row.update(kern.first().asDict())

        m["extract.kernel_pass_s"] = timed("extract.kernel_pass_s", kern_pass)
        m["kernels.cpu_s"] = (kern_row["us"] or 0) / 1e6
        m["kernels.ok_ratio"] = (kern_row["ok"] or 0) / max(1, g["hot"])
        for t in KERNEL_TYPES:
            nt = kern_row[f"n_{t}"] or 0
            m[f"kernels.us_per_doc.{t}"] = (kern_row[f"us_{t}"] or 0) / nt if nt else 0.0
        m["extract.arrow_overhead_s"] = max(
            0.0, m["extract.kernel_pass_s"] - m["sources.scan_s"] - m["kernels.cpu_s"] / cores
        )
        # bench.py's headline pass: every pipeline column, nested structs
        # not stringified
        full = docs.agg(
            F.count(F.lit(1)),
            F.sum(F.length("text_extracted")),
            F.sum(F.size(F.coalesce(F.col("regions"), F.array()))),
            F.min("content_sha256"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)),
        )
        full_s = timed("extract.full_pass_s", full.first)
        m["extract.downstream_s"] = max(0.0, full_s - m["extract.kernel_pass_s"])
        # a fresh frame per call: re-running one DataFrame reuses its shuffle
        # output and skips the map side
        m["pipeline.lineage_s"] = timed(
            "pipeline.lineage_s", lambda: partition_lineage(docs).drop("extract_us").collect()
        )

        base = results[-1][0]
        delta = read_manifest(base)["delta_files"]
        m["snapshots.commit_bytes_per_doc"] = sum(os.path.getsize(f) for f in delta) / n

        def resume():
            if run_versioned(spark, pages, base) is not None:
                raise RuntimeError("resume against a committed base reprocessed documents")

        m["snapshots.resume_noop_s"] = timed("snapshots.resume_noop_s", resume)
        m.update(self._direct_kernel(spans))
        return m

    def _direct_kernel(self, spans) -> dict[str, float]:
        """In-process ``extract_document`` calls on a fixed sample, no Spark."""
        from ocr_model_spark.kernels.extract import extract_document
        from ocr_model_spark.kernels.sniff import sniff_doc_type

        out = {}
        for t, k in (("html", 300), ("pdf", 100)):
            sample = [r["html"] for r in self.payloads if sniff_doc_type(r["html"]) == t][:k]
            gc.disable()  # as the extraction UDF runs it
            try:
                with spans.span(label("probe", f"kernels.direct_us_per_doc.{t}", 0)):
                    s = best_of(3, lambda: [extract_document(p) for p in sample])
            finally:
                gc.enable()
            out[f"kernels.direct_us_per_doc.{t}"] = s / max(1, len(sample)) * 1e6
        return out


class Corpus(Workload):
    """``main.py --corpus`` job: ``build_training_corpus`` with shard export
    over a duplicate-heavy crawl. Not a timed workload: the traced
    ``extract`` run runs it once, checks it and probes its layers."""

    name = "corpus"

    def prepare(self) -> None:
        self.meta = inputs.corpus_input(self.work, self.seed)

    def op(self, spark, i: int, spans=None):
        from ocr_model_spark.pipeline import build_training_corpus

        out = os.path.join(self.scratch, f"shards{i}")
        shutil.rmtree(out, ignore_errors=True)
        res = build_training_corpus(spark, self.meta["pages"], out_dir=out, max_bucket=MAX_BUCKET)
        return out, res

    def check(self, spark, result) -> tuple[int, list[str]]:
        out, res = result
        with open(os.path.join(out, "_manifest.json")) as f:
            committed = json.load(f)
        bad = checks.corpus_checks(self.meta["distinct_doc_keys"], res["funnel"], committed)
        if committed != res["manifest"]:
            bad.append("committed shard manifest differs from the returned one")
        return 1, bad

    def probes(self, spark, spans, results, cores) -> dict[str, float]:
        from pyspark.sql import functions as F

        from ocr_model_spark.operators.dedup import (
            N_BANDS,
            ROWS_PER_BAND,
            exact_dup_rank,
            minhash_candidates,
            minhash_signatures,
        )
        from ocr_model_spark.pipeline import corpus_gate, run_extraction
        from ocr_model_spark.sources.sinks import write_training_shards

        sc = spark.sparkContext
        res = results[-1][1]
        funnel = res["funnel"]
        m: dict[str, float] = {
            f"corpus.funnel.{k}": funnel.get(k, 0)
            for k in ("kept", "extract_failed", "url_blocked", "low_quality", "exact_dup", "near_dup")
        }

        def timed(metric: str, fn) -> float:
            with spans.span(label("probe", metric, 0), sc):
                t0 = time.perf_counter()
                fn()
                return time.perf_counter() - t0

        persisted = []

        def keep(df):
            persisted.append(df.persist())
            return df

        try:
            # each stage reads its predecessor's materialized output, so a
            # stage's time is its own
            docs = keep(
                run_extraction(spark, self.meta["pages"])["docs"].select(
                    "url", "content_sha256", "text_extracted", "ok"
                )
            )
            with spans.span(label("probe", "corpus.extract", 0), sc):
                docs.count()
            base = keep(corpus_gate(docs).dropDuplicates(["doc_key"]))
            m["corpus.gate_s"] = timed("corpus.gate_s", base.count)
            surv_x = keep(
                exact_dup_rank(base.filter(F.col("pre_reason").isNull()), "doc_key").filter(
                    F.col("exact_rank") == 1
                )
            )
            m["corpus.exact_s"] = timed("corpus.exact_s", surv_x.count)
            cands = minhash_candidates(surv_x, "doc_key", "text", max_bucket=MAX_BUCKET)
            box = {}
            m["corpus.near_s"] = timed("corpus.near_s", lambda: box.update(n=cands.count()))
            m["corpus.candidate_pairs"] = box["n"]
            m["corpus.near_pair_yield"] = funnel.get("near_dup", 0) / box["n"] if box["n"] else 0.0
            sig = minhash_signatures(surv_x, "doc_key", "text")
            bands = [
                F.concat_ws(
                    "_", *[F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
                )
                for b in range(N_BANDS)
            ]
            sizes = (
                sig.select(F.posexplode(F.array(*bands)).alias("band", "key"))
                .groupBy("band", "key")
                .count()
                .agg(
                    F.max("count").alias("mx"),
                    F.sum(F.when(F.col("count") > MAX_BUCKET, 1).otherwise(0)).alias("capped"),
                )
            )
            with spans.span(label("probe", "corpus.buckets", 0), sc):
                b = sizes.first()
            m["corpus.max_bucket_ids"] = b["mx"]
            m["corpus.capped_buckets"] = b["capped"]

            kept = keep(res["kept"])
            with spans.span(label("probe", "corpus.kept", 0), sc):
                n_kept = kept.count()
            export = os.path.join(self.scratch, "probe_export")
            shutil.rmtree(export, ignore_errors=True)
            m["sinks.export_s"] = timed(
                "sinks.export_s",
                lambda: write_training_shards(kept, export, n_shards=16, id_col="doc_key"),
            )
            m["sinks.bytes_per_kept_doc"] = _dir_bytes(export) / max(1, n_kept)
        finally:
            for df in persisted:
                df.unpersist()
        return m


class Analytics(Workload):
    """The 16 bench.py headline queries plus the other candidate-pair
    generators, each collected with ``toPandas()`` and compared with its DuckDB
    oracle. One operation is one pass over all queries."""

    name = "analytics"
    min_ops = 2

    def prepare(self) -> None:
        import duckdb

        from ocr_model_spark.queries import DEMOTED_SQL_QUERIES, SQL_QUERIES

        self.sf_dir = inputs.tables_dir(self.work, self.seed)
        registry = {**SQL_QUERIES, **DEMOTED_SQL_QUERIES}
        self.fns = {q: registry[q][0] for q in QUERIES}
        con = duckdb.connect()
        try:
            for t in inputs.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.oracle = {q: con.execute(registry[q][1]).df() for q in QUERIES}
        finally:
            con.close()

    def op(self, spark, i: int, spans=None):
        sc = spark.sparkContext
        out = {}
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                with spans.span(label("query", q, i), sc) if spans else nullcontext():
                    pdf = self.fns[q](spark, self.sf_dir).toPandas()
            except Exception:  # one failing query must not end the run
                _log(f"{q} raised:\n{traceback.format_exc()}")
                pdf = None
            out[q] = (time.perf_counter() - t0, pdf)
        return out

    def check(self, spark, result) -> tuple[int, list[str]]:
        bad = []
        for q, (t, pdf) in result.items():
            bad += [f"{q} raised"] if pdf is None else checks.oracle_check(q, pdf, self.oracle[q])
            result[q] = (t, None)  # only the timings are kept across passes
        return len(result), bad

    def query_best(self, results) -> dict[str, float]:
        return {q: min(r[q][0] for r in results) for q in QUERIES}

    def op_s(self, times, results) -> float:
        """Suite time: the sum of each query's best time over the passes."""
        return sum(self.query_best(results).values())

    def item_ms(self, times, results) -> float:
        """Geometric mean of each query's best time."""
        best = self.query_best(results)
        return math.exp(statistics.fmean(math.log(v) for v in best.values())) * 1000
