"""Operators not covered by the oracle-parity suite: ensemble merge,
multimodal decode plumbing, streaming extraction, driver contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ocr_model_spark.operators.urls import url_host


def test_ensemble_merge_keeps_max_confidence(spark):
    from ocr_model_spark.operators.tokens import ensemble_merge

    cols = ["url", "page_num", "text", "x1", "y1", "x2", "y2", "confidence", "engine"]
    eng1 = spark.createDataFrame(
        [("u", 1, "Hello", 0.0, 0.0, 10.0, 5.0, 0.8, "tesseract"),
         ("u", 1, "World", 12.0, 0.0, 20.0, 5.0, 0.9, "tesseract")],
        cols,
    )
    eng2 = spark.createDataFrame(
        [("u", 1, "Hello", 0.0, 0.0, 10.0, 5.0, 0.95, "paddle")],
        cols,
    )
    out = ensemble_merge([eng1, eng2]).orderBy("text").collect()
    assert len(out) == 2
    hello = [r for r in out if r["text"] == "Hello"][0]
    assert hello["confidence"] == 0.95 and hello["engine"] == "paddle"


def test_multimodal_media_meta_deterministic(spark, pages_path):
    from ocr_model_spark.operators.multimodal import media_metadata

    pages = spark.read.parquet(pages_path)
    images = pages.filter(F.substring("html", 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"))
    a = media_metadata(images).orderBy("url").toPandas()
    b = media_metadata(images).orderBy("url").toPandas()
    assert len(a) > 0
    assert (a["format"] == "png").all()
    assert a.equals(b)
    # v12 synth images carry valid IHDR chunks → the stdlib header parser
    # (not the content-hash fake) supplies the dims
    assert (a["decoder"] == "header").all()


def test_jaccard_verify_zero_shingle_pairs_yield_zero_not_vanish(spark):
    """Docstring contract (review finding): a candidate pair whose member
    has ZERO shingles (text shorter than n words... actually empty) must
    come back with jaccard 0.0, not silently drop through an inner join."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import jaccard_verify

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["the quick brown fox jumps", "the quick brown fox leaps", None],
            }
        )
    )
    pairs = spark.createDataFrame(pd.DataFrame({"id_a": [1, 1], "id_b": [2, 3]}))
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_verify(pairs, docs, "doc_id", "text").collect()}
    assert set(out) == {(1, 2), (1, 3)}  # no pair vanished
    assert out[(1, 3)] == 0.0
    assert out[(1, 2)] > 0.0


def test_resize_and_frame_sample_plumbing(spark, pages_path):
    """Multimodal transform stages: aspect-preserving resize targets from
    header dims (never upscaled), deterministic fake pixel step honestly
    labeled; frame sampling emits n evenly-spaced rows per video with
    stable hashes. Bytes never survive either stage."""
    from ocr_model_spark.operators.multimodal import resize_images, video_frame_sample

    pages = spark.read.parquet(pages_path)
    images = pages.filter(F.substring("html", 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"))
    r = resize_images(images, max_side=100).orderBy("url").toPandas()
    assert len(r) > 0 and "html" not in r.columns
    assert (r[["out_width", "out_height"]].max(axis=1) <= 100).all()
    assert (r["out_width"] > 0).all() and (r["out_height"] > 0).all()
    # aspect preserved within integer truncation; never upscaled
    assert (r["out_width"] <= r["src_width"]).all()
    r2 = resize_images(images, max_side=100).orderBy("url").toPandas()
    assert r.equals(r2)

    vids = images.limit(3)
    n_vids = vids.count()
    f = video_frame_sample(vids, n_frames=4).toPandas()
    assert n_vids > 0 and len(f) == n_vids * 4
    assert sorted(f["frame_idx"].unique()) == [0, 1, 2, 3]
    assert (f["decoder"] == "fake").all()
    assert f.groupby("url")["ts_ms"].apply(lambda s: s.is_monotonic_increasing).all()


def test_streaming_extraction_commits_snapshot(spark, pages_path, tmp_path):
    from ocr_model_spark.sources.snapshots import (
        latest_version,
        read_manifest,
        read_snapshot,
    )
    from ocr_model_spark.streaming.pipeline import streaming_extraction

    out = str(tmp_path / "stream_snap")
    # pages_path is a multi-file dataset directory — stream it directly
    streaming_extraction(spark, pages_path, out)
    assert read_snapshot(spark, out).count() == 300
    lineage = [
        r
        for v in range(latest_version(out) + 1)
        for r in read_manifest(out, version=v)["lineage"]
    ]
    assert sum(r["n_docs"] for r in lineage) == 300


def test_driver_contract(spark):
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(oracles) >= 20
    df = e.entry(spark)
    assert df.count() > 0
    # stable schema: re-invocation yields the same columns
    assert e.entry(spark).columns == df.columns


def test_image_quality_filter_reasons(spark):
    from ocr_model_spark.operators.multimodal import image_quality_filter

    rows = [
        ("a", 320, 240, 5000),
        ("b", 10, 240, 5000),     # too-small width
        ("c", 2000, 80, 5000),    # degenerate aspect (25:1)
        ("d", 100, 100, 8),       # too few bytes
    ]
    df = spark.createDataFrame(rows, "url STRING, width INT, height INT, n_bytes LONG")
    out = {r["url"]: (r["keep"], r["drop_reason"]) for r in image_quality_filter(df).collect()}
    assert out["a"] == (True, None)
    assert out["b"] == (False, "too-small")
    assert out["c"] == (False, "degenerate-aspect")
    assert out["d"] == (False, "too-few-bytes")


def test_ivf_kmeans_training_is_deterministic(spark):
    from ocr_model_spark.operators.similarity import ivf_train_kmeans

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").selectExpr(
        "vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS embedding"
    )
    a = ivf_train_kmeans(emb, n_centroids=16, iters=1)
    b = ivf_train_kmeans(emb, n_centroids=16, iters=1)
    assert a == b  # grouped-map means sum in sorted-id order: bitwise stable
    assert len(a) == 16 and all(len(c) == 64 for c in a)
    # refinement actually moves centroids off the seed vectors
    from ocr_model_spark.operators.similarity import _seed_centroids

    seeds = _seed_centroids(emb, 16, "vec_id", "embedding")
    assert a != seeds


def test_ivf_sampled_trainer_deterministic_and_recall_on_clustered_corpus(spark):
    """k-means-sampled trainer (VERDICT r2 #10): on a CLUSTERED corpus —
    where refinement actually helps — trained centroids must be bitwise
    deterministic and reach pinned recall@3 >= 0.9 with probe 1, at least
    as good as the raw reservoir seeds."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_model_spark.operators.similarity import (
        _seed_centroids,
        cosine_topk,
        ivf_cosine_topk,
        ivf_train_kmeans_sampled,
    )

    # 8 well-separated unit clusters in 32-dim, all offsets hash-derived
    dim, n_clusters, per_cluster = 32, 8, 64

    def hvec(tag: str) -> np.ndarray:
        b = hashlib.sha256(tag.encode()).digest() * 2
        return np.frombuffer(bytearray(b[: dim * 2]), dtype=np.uint8)[:dim].astype(
            float
        ) - 127.5

    centers = [hvec(f"center:{c}") for c in range(n_clusters)]
    centers = [c / np.linalg.norm(c) for c in centers]
    rows = []
    for c in range(n_clusters):
        for j in range(per_cluster):
            off = hvec(f"off:{c}:{j}")
            v = centers[c] + 0.15 * off / np.linalg.norm(off)
            rows.append({"vec_id": c * per_cluster + j, "embedding": v.tolist()})
    emb = spark.createDataFrame(pd.DataFrame(rows))

    t1 = ivf_train_kmeans_sampled(emb, n_centroids=8, sample_cap=256, iters=8)
    t2 = ivf_train_kmeans_sampled(emb, n_centroids=8, sample_cap=256, iters=8)
    assert t1 == t2  # bitwise deterministic

    queries = emb.filter(F.col("vec_id") % 64 == 0)
    exact = cosine_topk(queries, emb, k=3).select("query_id", "neighbor_id")
    n_exact = exact.count()

    def recall(centroids):
        approx = ivf_cosine_topk(
            queries, emb, k=3, n_centroids=8, n_probe=1, centroids=centroids
        ).select("query_id", "neighbor_id")
        return exact.join(approx, ["query_id", "neighbor_id"]).count() / n_exact

    r_trained = recall(t1)
    r_seed = recall(_seed_centroids(emb, 8, "vec_id", "embedding"))
    assert r_trained >= 0.9, (r_trained, r_seed)
    assert r_trained >= r_seed, (r_trained, r_seed)


def test_chunk_documents_edges(spark):
    import pandas as pd

    from ocr_model_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(130))},
                {"doc_id": 2, "text": "one two"},
                {"doc_id": 3, "text": "   "},
                {"doc_id": 4, "text": None},
                {"doc_id": 5, "text": " ".join(f"w{i}" for i in range(56))},
            ]
        )
    )
    out = chunk_documents(docs, chunk_tokens=64, overlap=8).orderBy("doc_id", "chunk_idx")
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 130 tokens, step 56: starts 0,56,112 -> 64,64,18 tokens
    assert [r["n_tokens"] for r in by_doc[1]] == [64, 64, 18]
    assert by_doc[1][1]["chunk_text"].split()[0] == "w56"  # overlap window
    assert by_doc[1][0]["chunk_text"].split()[-1] == "w63"
    assert [r["n_tokens"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc and 4 not in by_doc  # blank/NULL: no rows
    assert [r["n_tokens"] for r in by_doc[5]] == [56]  # exactly one chunk

    with __import__("pytest").raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_connected_components_known_graph(spark):
    """Two chains and a singleton-free isolated pair: labels converge to
    the component minimum; vertices only ever appear via edges."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"id_a": 1, "id_b": 2},
                {"id_a": 2, "id_b": 3},
                {"id_a": 3, "id_b": 4},  # chain 1-2-3-4
                {"id_a": 10, "id_b": 11},  # pair
                {"id_a": 20, "id_b": 21},
                {"id_a": 22, "id_b": 21},  # chain 20-21-22
            ]
        )
    )
    got = {
        r["id"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_pii_scrub_expressions(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from ocr_model_spark.operators.textstats import pii_counts, scrub_pii

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"t": "mail a.b+c@ex-ample.org and 192.168.0.1 plus 1.2 not ip"},
                {"t": "no pii here, just 3.14159 and version 1.2.3"},
            ]
        )
    )
    emails, ips = pii_counts(F.col("t"))
    out = df.select(scrub_pii(F.col("t")).alias("s"), emails.alias("ne"), ips.alias("ni")).collect()
    assert out[0]["s"] == "mail <EMAIL> and <IP> plus 1.2 not ip"
    assert (out[0]["ne"], out[0]["ni"]) == (1, 1)
    assert (out[1]["ne"], out[1]["ni"]) == (0, 0)
    assert out[1]["s"] == "no pii here, just 3.14159 and version 1.2.3"


def test_canonical_url_policy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_model_spark.operators.urls import canonical_url

    cases = [
        ("HTTP://Ex.COM:80/A/b?utm_source=x&q=1#f", "http://ex.com/A/b?q=1"),
        ("https://Ex.com:443/p", "https://ex.com/p"),
        ("https://ex.com:8443/p", "https://ex.com:8443/p"),  # non-default kept
        ("http://ex.com/p?gclid=z", "http://ex.com/p"),
        ("http://ex.com/p?a=1&utm_b=2&c=3", "http://ex.com/p?a=1&c=3"),
        ("http://ex.com/p?utm_a=1&utm_b=2", "http://ex.com/p"),
        ("http://ex.com/CaseKept/Path", "http://ex.com/CaseKept/Path"),
    ]
    df = spark.createDataFrame(pd.DataFrame({"u": [c[0] for c in cases]}))
    got = [r["c"] for r in df.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [c[1] for c in cases], got


def test_cap_per_host_deterministic_and_bounded(spark, pages_path):
    from pyspark.sql import functions as F

    from ocr_model_spark.operators.urls import cap_per_host

    pages = spark.read.parquet(pages_path).select("url")
    a = sorted(r["url"] for r in cap_per_host(pages, k=3).collect())
    b = sorted(r["url"] for r in cap_per_host(pages, k=3).collect())
    assert a == b  # replay-identical keep-set
    per_host = (
        cap_per_host(pages, k=3)
        .groupBy(url_host("url"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_host <= 3


def test_simhash_candidates_bucket_cap_bounds_template_corpus(spark):
    """Template-identical corpus: every doc shares most band keys, so
    uncapped blocking is quadratic. With max_bucket the pair count is
    bounded by n_buckets * max_bucket^2 / 2, and the uncapped set equals
    the capped set plus the dropped (exact-dup-territory) buckets —
    capped output is always a SUBSET of the exact pigeonhole set."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import simhash_candidates

    n = 200
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i:04d}" for i in range(n)],
                # identical boilerplate, one varying token
                "text": [
                    f"terms of service page copyright acme corp all rights reserved item{i}"
                    for i in range(n)
                ],
            }
        )
    )
    uncapped = simhash_candidates(docs, "doc_id", "text")
    capped = simhash_candidates(docs, "doc_id", "text", max_bucket=8)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    # quadratic blowup really happens on this corpus…
    assert n_uncapped > 1000, n_uncapped
    # …and the cap bounds it: 4 bands * C(8,2) pairs per surviving bucket
    assert n_capped <= 4 * 8 * 7 // 2, n_capped
    cap_rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    un_rows = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert cap_rows <= un_rows


def test_unigram_vocab_cap_floor_semantics_and_kinf_identity(spark):
    """vocab_top_k: (a) K >= |vocab| is bitwise-identical to the uncapped
    path, (b) at a binding K the OOV floor (count-1 probability) matches a
    DuckDB twin that caps the vocabulary the same way — web-scale bounded
    vocab, oracled."""
    import duckdb

    from ocr_model_spark.operators.textstats import unigram_logprob_quality

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    uncapped = unigram_logprob_quality(docs).orderBy("doc_id").toPandas()
    kinf = (
        unigram_logprob_quality(docs, vocab_top_k=10_000_000)
        .orderBy("doc_id")
        .toPandas()
    )
    assert uncapped.equals(kinf)

    k = 50
    capped = (
        unigram_logprob_quality(docs, vocab_top_k=k).orderBy("doc_id").toPandas()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    want = con.execute(rf"""
WITH wds AS (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), '\s+'),
                              x -> x <> '')) AS g
    FROM documents WHERE text IS NOT NULL
), pairs AS (
    SELECT doc_id, g, COUNT(*) AS c FROM wds GROUP BY doc_id, g
), vocab AS (
    SELECT g, CAST(SUM(c) AS BIGINT) AS cnt FROM pairs GROUP BY g
    QUALIFY ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, g ASC) <= {k}
), tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM pairs),
terms AS (
    SELECT doc_id, pairs.g, c, c * -ln(COALESCE(cnt, 1) / total) AS wnlp
    FROM pairs LEFT JOIN vocab ON pairs.g = vocab.g CROSS JOIN tot
), folded AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           list_sum(list(wnlp ORDER BY g)) AS sum_nlp
    FROM terms GROUP BY doc_id
)
SELECT doc_id, n_words,
       ROUND(sum_nlp / n_words + 1e-9, 4) AS avg_neg_logp
FROM folded ORDER BY doc_id
""").df()
    assert len(capped) == len(want)
    assert (capped["avg_neg_logp"].values == want["avg_neg_logp"].values).all()
    # capping only ever RAISES a doc's mean negative-logprob: OOV words get
    # the rarest-possible (count-1) probability
    assert (capped["avg_neg_logp"].values >= uncapped["avg_neg_logp"].values - 1e-9).all()


def test_connected_components_star_matches_minlabel_and_handles_long_paths(spark):
    """Large-star/small-star: (a) identical labels to min-label propagation
    on the known graph, (b) converges on a 60-node path (diameter 59) that
    min-label propagation's default max_iter cannot close — the documented
    high-diameter/10^12-edge swap, (c) shuffled edge order changes nothing."""
    import pandas as pd
    import pytest as _pytest

    from ocr_model_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        pd.DataFrame(
            [
                {"id_a": 1, "id_b": 2},
                {"id_a": 2, "id_b": 3},
                {"id_a": 3, "id_b": 4},
                {"id_a": 10, "id_b": 11},
                {"id_a": 20, "id_b": 21},
                {"id_a": 22, "id_b": 21},
            ]
        )
    )
    want = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    got = {r["id"]: r["label"] for r in connected_components_star(edges).collect()}
    assert got == want

    # path 100..159 in scrambled edge order: one component rooted at 100
    path = [{"id_a": i + 1, "id_b": i} for i in range(100, 159)]
    path = [path[i] for i in (list(range(1, 59, 2)) + list(range(0, 59, 2)))]
    pdf = spark.createDataFrame(pd.DataFrame(path))
    labels = {r["id"]: r["label"] for r in connected_components_star(pdf).collect()}
    assert labels == {i: 100 for i in range(100, 160)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pdf, max_iter=20)

    # the real near-dup pipeline input: both variants agree edge-for-edge
    # on the LSH candidate pairs (the frame the oracled near_dup_clusters
    # query clusters)
    from ocr_model_spark.operators.dedup import minhash_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cands = minhash_candidates(docs, "doc_id", "text").localCheckpoint(eager=True)
    a = {(r["id"], r["label"]) for r in connected_components(cands).collect()}
    b = {(r["id"], r["label"]) for r in connected_components_star(cands).collect()}
    assert a == b and len(a) > 0


def test_duplicate_ngram_coverage_semantics(spark):
    """Hand-built corpus: a doc that copies another's sentence shares its
    3-grams; a fully unique doc shares none; identical docs share all."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import duplicate_ngram_coverage

    boiler = "all rights reserved contact us for more information today"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["a", "b", "c", "d"],
                "text": [
                    f"unique alpha sentence one {boiler}",
                    f"different beta content here {boiler}",
                    "totally distinct gamma words nothing shared here at all",
                    "totally distinct gamma words nothing shared here at all",
                ],
            }
        )
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_shared_ngrams"], r["shared_ngram_frac"])
        for r in duplicate_ngram_coverage(docs).collect()
    }
    # identical docs: every n-gram shared
    assert got["c"][0] == got["c"][1] and got["c"][2] == 1.0
    assert got["d"] == got["c"]
    # boilerplate-sharing docs: some but not all 3-grams shared
    assert 0 < got["a"][1] < got["a"][0]
    # the shared count equals the boilerplate window count (8 3-grams) is
    # NOT asserted (bridge 3-grams across the unique prefix differ) — only
    # the sane range above


def test_winnowing_fingerprints_and_candidates(spark):
    """Winnow selection matches a pure-Python reference on every document
    (incl. sub-k and empty degenerate cases), the Schleimer guarantee holds
    (a shared k+w-1-word run => >=1 shared fingerprint), and the candidate
    generator returns exactly the sharing pair."""
    import hashlib
    import re as _re

    import pandas as pd

    from ocr_model_spark.operators.dedup import (
        gram_hashes,
        normalized_words,
        winnow_candidates,
        winnow_select,
    )

    def py_winnow(text, k=3, w=4):
        words = [x for x in _re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if x]
        grams = (
            [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
            if len(words) >= k
            else [" ".join(words)]
        )
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        return sorted({min(hs[i : i + w]) for i in range(max(len(hs) - w, 0) + 1)})

    shared = "the quick brown fox jumps over"  # 6 words = k + w - 1
    texts = {
        1: f"alpha bravo charlie delta {shared} echo foxtrot golf",
        2: f"hotel india juliet {shared} kilo lima mike november oscar",
        3: "papa quebec romeo sierra tango uniform victor whiskey xray",
        4: "yz",  # < k words: single whole-doc gram
        5: "",  # degenerate: one '' gram (totality)
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    fps = (
        docs.select("doc_id", normalized_words(F.col("text")).alias("w"))
        .select("doc_id", gram_hashes(F.col("w"), 3).alias("h"))
        .select("doc_id", winnow_select(F.col("h"), 4).alias("fps"))
    )
    got = {r["doc_id"]: list(r["fps"]) for r in fps.collect()}
    for i, t in texts.items():
        assert got[i] == py_winnow(t), f"doc {i}"
    assert set(got[1]) & set(got[2])  # the winnowing guarantee
    assert not (set(got[3]) & set(got[1]))

    pairs = {
        (r["id_a"], r["id_b"]): r["n_common"]
        for r in winnow_candidates(docs, "doc_id", "text", min_common=1).collect()
    }
    assert set(pairs) == {(1, 2)} and pairs[(1, 2)] >= 1


def test_gopher_repetition_matches_python_reference(spark):
    """Every repetition signal matches a Counter-based reference on docs
    covering duplicated lines, duplicated paragraphs, an n-gram-repeating
    spam slice, a no-repetition doc, and sub-n/empty degenerates."""
    import re as _re
    from collections import Counter

    import pandas as pd

    from ocr_model_spark.operators.textstats import (
        GOPHER_REP_THRESHOLDS,
        gopher_repetition_struct,
    )

    def mass(items):
        c = Counter(items)
        n = sum(c.values())
        nd = sum(v - 1 for v in c.values())
        tm = sum(v * len(k) for k, v in c.items())
        dm = sum((v - 1) * len(k) for k, v in c.items())
        top = max(((v, len(k)) for k, v in c.items()), default=(0, 0))
        return n, nd, tm, dm, top[0] * top[1]

    def frac(num, den):
        return num / den if den else 0.0

    def py_rep(text):
        lines = [x.strip() for x in text.split("\n") if x.strip()]
        paras = [x.strip() for x in _re.split(r"\n{2,}", text) if x.strip()]
        words = [x for x in _re.sub(r"[^a-z0-9 ]", " ", text.lower()).split() if x]
        out = {}
        ln, lnd, ltm, ldm, _ = mass(lines)
        pn, pnd, ptm, pdm, _ = mass(paras)
        out["dup_line_frac"] = frac(lnd, ln)
        out["dup_line_char_frac"] = frac(ldm, ltm)
        out["dup_para_frac"] = frac(pnd, pn)
        out["dup_para_char_frac"] = frac(pdm, ptm)
        for n in range(2, 11):
            grams = (
                [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
                if len(words) >= n
                else []
            )
            _, _, tm, dm, topm = mass(grams)
            if n <= 4:
                out[f"top_{n}gram_char_frac"] = frac(topm, tm)
            else:
                out[f"dup_{n}gram_char_frac"] = frac(dm, tm)
        out["rep_keep"] = all(
            round(out[k] + 1e-9, 4) <= thr for k, thr in GOPHER_REP_THRESHOLDS.items()
        )
        return out

    texts = {
        1: "alpha line\nalpha line\nbeta line\n\nsame para\n\nsame para",
        2: "buy now buy now buy now buy now buy now buy now",
        3: "completely normal text with several distinct words and zero repeats",
        4: "one two",  # sub-n for every gram size >= 3
        5: "",  # degenerate
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in docs.select(
            "doc_id", F.inline(F.array(gopher_repetition_struct(F.col("text"))))
        ).collect()
    }
    for i, t in texts.items():
        want = py_rep(t)
        for k, v in want.items():
            if k == "rep_keep":
                assert got[i][k] == v, (i, k)
            else:
                assert abs(got[i][k] - v) < 5e-5, (i, k, got[i][k], v)
    assert got[3]["rep_keep"] and not got[2]["rep_keep"]


def test_winnow_matches_python_reference_on_seeded_random_batch(spark):
    """winnow_select == the pure-Python reference on 150 seeded-random
    texts (tiny vocab forces gram collisions and min-hash ties) in ONE
    Spark job, across two (k, w) configurations."""
    import hashlib
    import random

    import pandas as pd

    from ocr_model_spark.operators.dedup import (
        gram_hashes,
        normalized_words,
        winnow_select,
    )

    rng = random.Random(17)
    vocab = ["ab", "cd", "ef", "gh", "ij"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for _ in range(150)
    ]

    def py_winnow(text, k, w):
        words = text.split()
        grams = (
            [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
            if len(words) >= k
            else [" ".join(words)]
        )
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        return sorted({min(hs[i : i + w]) for i in range(max(len(hs) - w, 0) + 1)})

    docs = spark.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts})
    )
    for k, w in ((3, 4), (2, 5)):
        fps = (
            docs.select("i", normalized_words(F.col("text")).alias("wd"))
            .select("i", gram_hashes(F.col("wd"), k).alias("h"))
            .select("i", winnow_select(F.col("h"), w).alias("fps"))
        )
        got = {r["i"]: list(r["fps"]) for r in fps.collect()}
        for i, t in enumerate(texts):
            assert got[i] == py_winnow(t, k, w), (k, w, i, t)


def test_fineweb_quality_rule_isolation(spark):
    """Each FineWeb rule fires alone: a clean doc keeps; a short-line doc
    fails only short_line_frac; a duplicated-line doc fails only
    dup_line_char_frac; an unpunctuated doc fails only the terminal floor;
    an empty doc scores zeros and fails the punctuation floor."""
    import pandas as pd

    from ocr_model_spark.operators.textstats import fineweb_quality_struct

    long_p = "This is a perfectly reasonable long sentence here."
    texts = {
        1: "\n".join(
            [
                long_p,
                "Another distinct sentence of respectable length follows.",
                "The third and final line also ends with a period.",
            ]
        ),
        2: "\n".join(["nav", "ok", "hi", long_p]),  # 3/4 short
        3: "\n".join([long_p, long_p, "A different long closing line appears now."]),
        4: "\n".join(
            [
                "A long line with no closing punctuation at all",
                "Another long line that also just trails away",
            ]
        ),
        5: "",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    got = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", F.inline(F.array(fineweb_quality_struct(F.col("text"))))
        ).collect()
    }
    assert got[1]["fineweb_keep"] and got[1]["dup_line_char_frac"] == 0.0
    assert got[2]["short_line_frac"] == 0.75 and not got[2]["fineweb_keep"]
    assert got[3]["dup_line_char_frac"] > 0.01 and not got[3]["fineweb_keep"]
    assert got[4]["terminal_punct_line_frac"] == 0.0 and not got[4]["fineweb_keep"]
    assert got[5]["n_lines"] == 0 and not got[5]["fineweb_keep"]


def test_multilingual_token_count_cjk(spark):
    """CJK codepoints count one token each (normalized_words strips them
    entirely — a zh doc previously counted ~0 tokens and a per-language
    token budget admitted unbounded docs); mixed text adds both terms;
    Latin-only counts are unchanged."""
    import pandas as pd

    from ocr_model_spark.operators.textstats import multilingual_token_count

    rows = {
        1: ("hello brave new world", 4),
        2: ("这是一个中文句子", 8),  # 8 Han chars
        3: ("日本語のテキストです", 10),  # kanji + kana, 10 CJK codepoints
        4: ("한국어 문장 입니다", 8),  # 8 Hangul syllables (spaces excluded)
        5: ("mixed 中文 and english", 5),  # 3 latin words + 2 Han... and 'mixed'
        6: ("", 0),
    }
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(rows), "text": [t for t, _ in rows.values()]}
        )
    )
    got = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", multilingual_token_count(F.col("text")).alias("n")
        ).collect()
    }
    want = {i: n for i, (_, n) in rows.items()}
    assert got == want, (got, want)


def test_dup_mass_fold_matches_counter_on_seeded_random_batch(spark):
    """The in-row sorted fold (textstats.dup_mass_stats) equals a
    Counter-based reference on 200 seeded-random string arrays in ONE
    Spark job — skewed small alphabets force long equal runs, singleton
    and empty arrays hit the init/finish edges, and mixed lengths break
    count-only tie handling."""
    import random
    from collections import Counter

    import pandas as pd

    from ocr_model_spark.operators.textstats import dup_mass_stats

    rng = random.Random(20260817)
    vocab = ["a", "bb", "ccc", "dddd", "e", "ffffff", "gg", "hhh"]
    rows = []
    for i in range(200):
        k = rng.randint(0, 30)
        alphabet = rng.randint(1, len(vocab))
        rows.append([rng.choice(vocab[:alphabet]) for _ in range(k)])
    rows += [[], ["solo"], ["x"] * 25]  # forced edges

    def ref(items):
        c = Counter(items)
        top = max(((v, len(g)) for g, v in c.items()), default=(0, 0))
        return (
            len(items),
            sum(v - 1 for v in c.values()),
            sum(v * len(g) for g, v in c.items()),
            sum((v - 1) * len(g) for g, v in c.items()),
            top[0] * top[1],
        )

    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(rows)), "items": rows})
    )
    got = {
        r["i"]: r["s"]
        for r in df.select("i", dup_mass_stats(F.col("items")).alias("s")).collect()
    }
    for i, items in enumerate(rows):
        s = got[i]
        assert (
            s["n"], s["n_dup"], s["total_mass"], s["dup_mass"], s["top_mass"]
        ) == ref(items), (i, items, s)


def test_incremental_dedup_cross_side_only(spark):
    """A batch doc copying a corpus doc is caught, a unique batch doc
    survives, and two near-identical BATCH docs never pair with each
    other (cross-side candidates only — the incremental-crawl contract)."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import (
        cross_corpus_candidates,
        dedup_new_against,
    )

    body = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew quartz elixirs behind the old stone bridge near town square"
    )
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [101, 102],
                "text": [body, "an entirely different corpus document about sailing ships"],
            }
        )
    )
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    body,  # exact copy of corpus 101 -> caught
                    body + " extra",  # near-copy of 101 AND of batch doc 1
                    "totally fresh content on underwater basket weaving today",
                ],
            }
        )
    )
    cands = {
        (r["batch_id"], r["corpus_id"])
        for r in cross_corpus_candidates(batch, corpus, "doc_id", "text").collect()
    }
    assert (1, 101) in cands
    assert all(b in (1, 2) and c in (101, 102) for b, c in cands)  # no batch×batch
    survivors = {
        r["doc_id"] for r in dedup_new_against(batch, corpus, "doc_id", "text").collect()
    }
    assert 3 in survivors and 1 not in survivors

    # the verified variant: at a threshold the exact copy genuinely clears,
    # it still drops; at an unreachable threshold every LSH candidate is
    # treated as a false positive and RE-ADMITTED (the recovery pass)
    from ocr_model_spark.operators.dedup import dedup_new_against_verified

    v_strict = {
        r["doc_id"]
        for r in dedup_new_against_verified(
            batch, corpus, "doc_id", "text", threshold=0.9
        ).collect()
    }
    assert 1 not in v_strict and 3 in v_strict
    v_all_fp = {
        r["doc_id"]
        for r in dedup_new_against_verified(
            batch, corpus, "doc_id", "text", threshold=1.01
        ).collect()
    }
    assert v_all_fp == {1, 2, 3}
    assert survivors <= v_strict  # recovery only ever ADDS batch docs back


def test_boilerplate_line_removal_byte_identity(spark):
    """Hand-built two-source corpus: the footer (3/3 of src-a docs) and the
    nav line (2/3, >= 0.5) are removed for src-a; the same nav line in
    src-b (1/2 = 0.5 but only 1 doc < min_docs=2) survives; casing /
    spacing variants of a boilerplate line are removed via the normalized
    key while NON-boiler lines keep their original bytes, order, and
    blank lines."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import boilerplate_line_removal

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "source": ["a", "a", "a", "b", "b"],
                "text": [
                    "Footer Inc.\nHome | About\nunique alpha body",
                    "FOOTER   inc.\n\nsecond Body Text",  # variant casing+spacing; blank line kept
                    "footer inc.\nHome | About\nthird body here",
                    "Home | About\nbeta content",  # src b: 1 of 2 docs < min_docs
                    "totally different page",
                ],
            }
        )
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_line_removal(docs, "doc_id", "text", "source").collect()
    }
    assert got[1]["cleaned_text"] == "unique alpha body"
    assert got[1]["n_lines"] == 3 and got[1]["n_removed"] == 2
    assert got[2]["cleaned_text"] == "\nsecond Body Text"  # blank line survives
    assert got[2]["n_removed"] == 1
    assert got[3]["cleaned_text"] == "third body here"
    # src b: nav line appears in only 1 doc -> below min_docs, kept verbatim
    assert got[4]["cleaned_text"] == "Home | About\nbeta content"
    assert got[4]["n_removed"] == 0
    assert got[5]["cleaned_text"] == "totally different page"


def test_remove_duplicate_spans_byte_identity(spark):
    """Constructed duplicate pair: the cleaned strings are asserted EXACTLY
    (byte identity) against the hand-derived spec output — every token
    covered by a cross-doc duplicated 3-gram drops; untouched docs and
    sub-n docs survive whole."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import remove_duplicate_spans

    span = "the quick brown fox jumps"  # 5 shared tokens = 3 shared 3-grams
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"alpha one {span} beta two",
                    f"{span} gamma three four five",
                    "entirely unique content with no overlap anywhere",
                    "tiny doc",  # < n tokens: no grams, survives whole
                ],
            }
        )
    )
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(docs, "doc_id", "text", 3).collect()
    }
    # doc 1: positions 2..6 covered ("alpha one" prefix + "beta two" kept;
    # bridge grams like "one the quick" are unique to doc 1 -> not removed)
    assert got[1]["cleaned_text"] == "alpha one beta two"
    assert (got[1]["n_tokens"], got[1]["n_removed"]) == (9, 5)
    # doc 2: positions 0..4 covered
    assert got[2]["cleaned_text"] == "gamma three four five"
    assert (got[2]["n_tokens"], got[2]["n_removed"]) == (9, 5)
    # untouched docs: byte-identical pass-through of the tokenization
    assert got[3]["cleaned_text"] == "entirely unique content with no overlap anywhere"
    assert got[3]["n_removed"] == 0
    assert got[4]["cleaned_text"] == "tiny doc" and got[4]["n_removed"] == 0
    assert got[4]["removed_frac"] == 0.0
    # a shared span of length L >= n is covered WALL-TO-WALL (L tokens
    # removed, not just the first window)
    assert got[1]["removed_frac"] == round(5 / 9 + 1e-9, 4)


def test_remove_duplicate_spans_total_on_null_text(spark):
    """Review finding r6: null-text docs used to be FILTERED from the
    cleaned frame — they vanished from the corpus instead of surviving
    whole. The operator's output must be total over its input ids."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2], "text": ["plain words here", None]}
        ).astype({"text": "object"})
    )
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(docs, "doc_id", "text", 3).collect()
    }
    assert set(got) == {1, 2}
    assert got[2]["n_tokens"] == 0 and got[2]["n_removed"] == 0
    assert got[2]["cleaned_text"] == "" and got[2]["removed_frac"] == 0.0


def test_benchmark_contamination_broadcast_and_semantics(spark):
    """Decontamination: a doc sharing >= min_hits 3-grams with the
    benchmark flags contaminated, clean docs report 0 hits, and the plan
    BROADCASTS the benchmark shingle set (no corpus-side shuffle to probe)."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["q1"],
                "text": ["what is the capital of france answer in one word"],
            }
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["train1", "train2"],
                "text": [
                    "quiz page what is the capital of france please respond",
                    "completely unrelated cooking recipe with fresh basil leaves",
                ],
            }
        )
    )
    out = benchmark_contamination(docs, bench)
    got = {r["doc_id"]: (r["n_bench_hits"], r["contaminated"]) for r in out.collect()}
    assert got["train1"][0] >= 2 and got["train1"][1] is True
    assert got["train2"] == (0, False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_lang_id_nine_languages_tie_priority_and_confidence(spark):
    """Marker-based language ID covers en/de/fr/es/it/pt/nl/sv/pl with the
    fixed priority tie-break; no-marker text is 'und'. lang_confidence is
    the winner's vote share: 1.0 unambiguous, 0.5 split two ways, 0.0 und."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_model_spark.operators.textstats import lang_confidence, lang_id

    samples = {
        "the cat and the dog in the house": "en",
        "der hund und die katze ist nicht da": "de",
        "le chat et la maison dans les rues": "fr",
        "los gatos el perro por la casa para como pero esta bien": "es",
        "il gatto che corre nel giardino della casa sono anche alla festa": "it",
        "os gatos e uma casa dos animais quando ele quer mais isso": "pt",
        "het is een huis maar niet voor ons en ook niet zijn huis": "nl",
        "det har och att vara som den inte ett hus": "sv",
        "to jest dom oraz nie tylko jako przez jednak czy tak": "pl",
        "zzz qqq xxx": "und",
        # equal en/de hit counts: priority order keeps 'en'
        "the der": "en",
    }
    df = spark.createDataFrame(pd.DataFrame({"text": list(samples)}))
    got = {
        r["text"]: (r["g"], r["conf"])
        for r in df.select(
            "text",
            lang_id(F.col("text")).alias("g"),
            lang_confidence(F.col("text")).alias("conf"),
        ).collect()
    }
    for t, want in samples.items():
        assert got[t][0] == want, (t, got[t], want)
    # confidence semantics: und → 0.0; 50/50 tie → 0.5; clean match → high
    assert got["zzz qqq xxx"][1] == 0.0
    assert got["the der"][1] == 0.5
    assert got["the cat and the dog in the house"][1] == 1.0


def test_lang_id_cjk_script_chain(spark):
    """Round 6: CJK script-range counting decides AHEAD of the Latin vote.
    Priority kana > hangul > han; each needs >= CJK_MIN_CHARS codepoints
    of its deciding block; a single stray han char stays with Latin.
    Confidence = winning script credit over all evidence (ja credits
    kana AND han)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_model_spark.operators.textstats import lang_confidence, lang_id

    samples = {
        # kana present → ja, even with many kanji
        "これはテストです。日本語の文章。": "ja",
        # kanji-only → zh (han block, no kana)
        "这是中文测试文档分析": "zh",
        # hangul → ko
        "한국어 텍스트 예제입니다": "ko",
        # exactly one stray han char in English → below CJK_MIN_CHARS,
        # Latin vote keeps it
        "the cat and the dog saw 火 once": "en",
        # two kana outrank two hangul AND many han (priority chain)
        "일본 한국 こそ 漢字漢字漢字": "ja",
        # hangul outranks han when no kana
        "한국 漢字漢字": "ko",
    }
    df = spark.createDataFrame(pd.DataFrame({"text": list(samples)}))
    got = {
        r["text"]: (r["g"], r["conf"])
        for r in df.select(
            "text",
            lang_id(F.col("text")).alias("g"),
            lang_confidence(F.col("text")).alias("conf"),
        ).collect()
    }
    for t, want in samples.items():
        assert got[t][0] == want, (t, got[t], want)
    # pure-script docs: full confidence (no competing evidence)
    assert got["这是中文测试文档分析"][1] == 1.0
    assert got["한국어 텍스트 예제입니다"][1] == 1.0
    # ja credits kana + han over all evidence → 1.0 on pure ja text
    assert got["これはテストです。日本語の文章。"][1] == 1.0
    # mixed doc: ja wins but confidence reflects the split evidence
    mixed = got["일본 한국 こそ 漢字漢字漢字"][1]
    assert 0.0 < mixed < 1.0
    # stray-han English text keeps the Latin vote-share semantics
    assert got["the cat and the dog saw 火 once"][1] == 1.0


def test_keep_best_per_cluster_tiebreak_and_singletons(spark):
    """Retention semantics: argmax score per cluster, min-id tiebreak,
    docs absent from the cluster frame keep themselves as singletons."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import keep_best_per_cluster

    scored = spark.createDataFrame(
        pd.DataFrame(
            {"id": [1, 2, 3, 4, 5, 6], "score": [10, 30, 30, 7, 99, 5]}
        )
    )
    # cluster A = {1,2,3} (2 and 3 tie on score -> 2 wins by id);
    # cluster B = {4}; 5 and 6 never paired -> singletons
    clusters = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3, 4], "label": [1, 1, 1, 4]})
    )
    rows = {
        r["id"]: (r["cluster_id"], r["kept"])
        for r in keep_best_per_cluster(scored, clusters).collect()
    }
    assert rows == {
        1: (1, False),
        2: (1, True),
        3: (1, False),
        4: (4, True),
        5: (5, True),
        6: (6, True),
    }


def test_token_budget_sample_boundary_and_order(spark):
    """Quota rule: docs taken per lang in (md5-priority, id) order while
    cum_before < budget — the boundary doc is KEPT (overshoot ≤ 1 doc),
    the next one is not. Single-language corpus makes the order exact."""
    import pandas as pd

    from ocr_model_spark.operators.dedup import stable_hash
    from ocr_model_spark.operators.textstats import token_budget_sample

    # 6 docs x 4 tokens of plain English
    docs = pd.DataFrame(
        {
            "doc_id": list(range(6)),
            "text": ["the cat sat down"] * 6,
        }
    )
    df = spark.createDataFrame(docs)
    out = token_budget_sample(df, 10, id_col="doc_id", text_col="text")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(r["lang"] == "en" and r["n_tokens"] == 4 for r in rows.values())
    # replicate the priority order and the cumulative rule exactly
    prio = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", stable_hash(F.col("doc_id").cast("string")).alias("p")
        ).collect()
    }
    order = sorted(rows, key=lambda i: (prio[i], i))
    cum = 0
    for i in order:
        assert rows[i]["cum_before"] == cum
        assert rows[i]["kept"] == (cum < 10)
        cum += 4
    # budget 10 with 4-token docs: doc at cum_before=8 is the kept
    # boundary overshoot; exactly 3 kept
    assert sum(1 for r in rows.values() if r["kept"]) == 3


def test_gopher_quality_rule_semantics(spark):
    """Each Gopher rule (Rae et al. 2021 A1.1) fails in isolation on a
    crafted doc while the good doc passes all seven."""
    import pandas as pd

    from pyspark.sql import functions as F

    from ocr_model_spark.operators.textstats import gopher_quality_stats

    good = "the quick brown fox jumps over with that lazy dog and it is " * 5
    bullets = "\n".join("• item %d the with more words here" % i for i in range(10))
    symbols = good + " " + "# " * 20
    ellipsis = "\n".join(
        ("the line with words trails off..." if i < 4 else "a solid line of the words with it")
        for i in range(10)
    ) + " " + good
    numbers = "the with " + "12345 67890 " * 30
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5, 6],
                "text": [good, "tiny doc", bullets, symbols, ellipsis, numbers],
            }
        )
    )
    stats = gopher_quality_stats(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", *[c.alias(n) for n, c in stats.items()]
        ).collect()
    }
    assert got[1]["gopher_keep"] is True and got[1]["n_words"] >= 50
    assert got[2]["gopher_keep"] is False  # < 50 words
    assert got[3]["gopher_keep"] is False and got[3]["bullet_line_frac"] == 1.0
    assert got[4]["gopher_keep"] is False and got[4]["symbol_word_ratio"] > 0.1
    assert got[5]["gopher_keep"] is False and got[5]["ellipsis_line_frac"] == 0.4
    assert got[6]["gopher_keep"] is False and got[6]["alpha_word_frac"] < 0.8
    # stopword rule: the good doc hits >= 2 distinct Gopher stop words
    assert got[1]["n_stop_hits"] >= 2


def test_psl_struct_branches(spark):
    """Public-suffix decomposition hits every branch: generic TLD,
    second-level registry (longest match beats the bare ccTLD), FQDN
    trailing dot + case folding, host-is-a-suffix (NULL reg_domain),
    IPv4 bypass, the PSL default rule for an unknown TLD, and the empty
    host."""
    import pandas as pd

    from ocr_model_spark.operators.urls import psl_struct

    hosts = [
        "www.example.com",
        "blog.x.co.uk",
        "Example.COM.",
        "co.uk",
        "192.0.2.7",
        "localhost",
        "",
        "foo.unknowntld",
        "a.b.site.de",
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"i": range(len(hosts)), "host": hosts})
    )
    got = {
        r["i"]: r
        for r in docs.select(
            "i", F.inline(F.array(psl_struct(F.col("host"))))
        ).collect()
    }
    expect = {
        0: ("www.example.com", "com", "example.com"),
        1: ("blog.x.co.uk", "co.uk", "x.co.uk"),
        2: ("example.com", "com", "example.com"),
        3: ("co.uk", "co.uk", None),
        4: ("192.0.2.7", None, "192.0.2.7"),
        5: ("localhost", "localhost", None),
        6: (None, None, None),
        7: ("foo.unknowntld", "unknowntld", "foo.unknowntld"),
        8: ("a.b.site.de", "de", "site.de"),
    }
    for i, (hn, sfx, reg) in expect.items():
        assert got[i]["host_norm"] == hn, (i, got[i])
        assert got[i]["public_suffix"] == sfx, (i, got[i])
        assert got[i]["reg_domain"] == reg, (i, got[i])


def test_estimate_jaccard_matches_python_signatures(spark):
    """The signature-agreement estimate equals the pure-Python kernel's
    component-wise agreement count: identical docs estimate 1.0, near
    docs a high fraction, unrelated docs a low one."""
    import pandas as pd

    from ocr_model_spark.kernels.minhash import minhash_signature
    from ocr_model_spark.operators.dedup import estimate_jaccard, minhash_signatures

    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy cat again and again",
        3: "completely different content about spark query engines at scale",
        4: "the quick brown fox jumps over the lazy dog again and again",
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    sigs = minhash_signatures(docs, "doc_id", "text")
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 1, 1], "id_b": [2, 3, 4]})
    )
    got = {
        (r["id_a"], r["id_b"]): r for r in estimate_jaccard(pairs, sigs).collect()
    }
    assert len(got) == 3
    for (a, b), r in got.items():
        exp = sum(
            x == y
            for x, y in zip(minhash_signature(texts[a]), minhash_signature(texts[b]))
        )
        assert r["n_agree"] == exp, (a, b, r)
        assert abs(r["est_jaccard"] - round(exp / 16 + 1e-9, 4)) < 1e-12
    assert got[(1, 4)]["n_agree"] == 16 and got[(1, 4)]["est_jaccard"] == 1.0
    assert got[(1, 3)]["n_agree"] < got[(1, 2)]["n_agree"]


def test_hashed_linear_score_hand_computed(spark):
    """The classifier pools exactly: a doc whose only weighted bucket is
    'spark' (weight 2.0, twice in 4 tokens) scores 1.0 → prob 0.7311;
    an all-zero-weight doc scores 0.0 and keeps (>= 0); a negatively
    weighted doc drops; a punctuation-only doc yields no row."""
    import math

    import pandas as pd

    from ocr_model_spark.kernels.minhash import stable_hash32
    from ocr_model_spark.operators.textstats import hashed_linear_score

    n_buckets = 64
    texts = {
        1: "spark spark is great",
        2: "neutral words only here",
        3: "bad bad bad mild",
        4: "?!...",
    }
    wmap = {
        stable_hash32("spark") % n_buckets: 2.0,
        stable_hash32("bad") % n_buckets: -1.0,
    }
    # the weighted buckets must not collide with any other token's bucket
    others = {
        stable_hash32(t) % n_buckets
        for t in "is great neutral words only here mild".split()
    }
    assert not (set(wmap) & others)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    w = spark.createDataFrame(
        pd.DataFrame({"b": list(wmap), "weight": list(wmap.values())})
    )
    got = {
        r["doc_id"]: r
        for r in hashed_linear_score(docs, w, n_buckets=n_buckets).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1]["n_tokens"] == 4 and got[1]["score"] == 1.0
    assert got[1]["prob"] == round(1.0 / (1.0 + math.exp(-1.0)) + 1e-9, 4)
    assert got[1]["clf_keep"] is True
    assert got[2]["score"] == 0.0 and got[2]["clf_keep"] is True
    assert got[3]["score"] == -0.75 and got[3]["clf_keep"] is False


def test_url_filter_struct_branches(spark):
    """URL front gate: clean keeps; blocklisted domain AND its subdomains
    drop regardless of score; word weights sum in fixed order (1.0+0.5
    over threshold drops, lone 0.5 keeps); matching is case-insensitive."""
    import pandas as pd

    from ocr_model_spark.operators.urls import url_filter_struct

    urls = [
        "https://news.ok.com/articles/1",
        "https://fun.x.com/casino/poker-night",
        "https://shop.y.com/health/pills-review",
        "https://cdn.badsite.example/assets/2",
        "https://Sub.Tracker.CO.UK/pixel",
        "https://tracker.co.uk.evil.com/",  # NOT blocked: prefix, not suffix
    ]
    docs = spark.createDataFrame(pd.DataFrame({"i": range(len(urls)), "url": urls}))
    got = {
        r["i"]: r
        for r in docs.select(
            "i", F.inline(F.array(url_filter_struct(F.col("url"))))
        ).collect()
    }
    assert got[0]["url_keep"] and got[0]["url_word_score"] == 0.0
    assert got[1]["url_word_score"] == 1.5 and not got[1]["url_keep"]
    assert got[2]["url_word_score"] == 0.5 and got[2]["url_keep"]
    assert got[3]["domain_blocked"] and not got[3]["url_keep"]
    assert got[4]["domain_blocked"] and got[4]["host"] == "sub.tracker.co.uk"
    assert not got[5]["domain_blocked"] and got[5]["url_keep"]


def _py_fold_l2sq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _py_cos(a, b):
    import math

    d = 0.0
    for x, y in zip(a, b):
        d += x * y
    na = 0.0
    nb = 0.0
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    return d / (math.sqrt(na) * math.sqrt(nb))


def test_ivf_pq_matches_python_twin_and_recall(spark):
    """IVF-PQ end to end against a pure-Python twin that mirrors every
    fold order (left-fold l2sq/dot, rounded tie rules), so the comparison
    is EXACT — assignment, encoding, ADC shortlist, fetch-on-refine
    re-rank all verified; plus the recall@3 >= 0.9 pin vs exact cosine on
    the isotropic sf0.001 corpus (the PQ worst case, see docstring)."""
    import math

    from ocr_model_spark.operators.similarity import (
        _seed_centroids,
        cosine_topk,
        ivf_pq_topk,
        pq_train_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_pq_topk(queries, emb, k=3).orderBy("query_id", "rank").collect()

    # ---- pure-Python twin (same trained tables, same tie rules) ----
    cents = _seed_centroids(emb, 16, "vec_id", "embedding")
    cbs = pq_train_codebooks(emb)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def unit(v):
        n2 = 0.0
        for x in v:
            n2 += x * x
        n = math.sqrt(n2)
        return [x / n for x in v] if n > 0 else list(v)

    def cell_order(v):
        scored = [(round(_py_cos(v, c), 8), i) for i, c in enumerate(cents)]
        return sorted(scored, key=lambda t: (-t[0], t[1]))

    def encode(vn):
        sub = len(cbs[0][0])
        code = []
        for m, cb in enumerate(cbs):
            sv = vn[m * sub : (m + 1) * sub]
            ds = [(round(_py_fold_l2sq(sv, c), 8), ki) for ki, c in enumerate(cb)]
            code.append(min(ds)[1])
        return code

    cells = {i: cell_order(v)[0][1] for i, v in vecs.items()}
    codes = {i: encode(unit(v)) for i, v in vecs.items()}
    sub = len(cbs[0][0])
    expect = []
    for q in sorted(i for i in vecs if i < 10):
        probed = {c for _, c in cell_order(vecs[q])[:14]}
        qn = unit(vecs[q])
        cand = []
        for nid, v in vecs.items():
            if nid == q or cells[nid] not in probed:
                continue
            adc = 0.0
            for m in range(len(cbs)):
                adc += _py_fold_l2sq(
                    qn[m * sub : (m + 1) * sub], cbs[m][codes[nid][m]]
                )
            cand.append((round(1.0 - adc / 2, 8), nid))
        short = sorted(cand, key=lambda t: (-t[0], t[1]))[: 3 * 16]
        ranked = sorted(
            ((round(_py_cos(vecs[q], vecs[n]), 4), n) for _, n in short),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        for rk, (sim, n) in enumerate(ranked, 1):
            expect.append((q, n, sim, rk))

    assert [(r["query_id"], r["neighbor_id"], r["sim"], r["rank"]) for r in got] == expect

    # recall pin vs exact cosine
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, emb, k=3).select("query_id", "neighbor_id").collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(exact & approx) / len(exact) >= 0.9


def test_pq_codebooks_deterministic(spark):
    """Training is a pure function of the parquet: two runs produce
    bitwise-identical codebooks (seedless reservoir + farthest-first +
    fixed-order Lloyd)."""
    from ocr_model_spark.operators.similarity import pq_train_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    assert pq_train_codebooks(emb) == pq_train_codebooks(emb)


def test_ivf_pq_recall_sf01_pinned(spark):
    """The sf0.01 recall claim is a GATE, not a measurement: recall@3 vs
    exact cosine must stay >= 0.9 at the larger driver scale too
    (measured 0.9667 with the default M=16 / K=32 / refine 16)."""
    from ocr_model_spark.operators.similarity import cosine_topk, ivf_pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, emb, k=3)
        .select("query_id", "neighbor_id")
        .collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(queries, emb, k=3)
        .select("query_id", "neighbor_id")
        .collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_psl_struct_properties_on_arbitrary_hosts(spark):
    """Property sweep over adversarial host strings (hypothesis-generated
    charset): psl_struct is TOTAL (never throws), host_norm is the
    lowercased dot-stripped input, a non-null reg_domain is a dotted tail
    of host_norm and extends public_suffix by exactly one label, and a
    null reg_domain means the host IS the suffix, a single label, an IP,
    or empty."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    from ocr_model_spark.operators.urls import psl_struct

    host_chars = st.sampled_from(list("abcXYZ019._-é中 "))
    hosts_strategy = st.lists(
        st.text(host_chars, min_size=0, max_size=12), min_size=1, max_size=24
    )

    @settings(max_examples=6, deadline=None)
    @given(hosts_strategy)
    def check(hosts):
        docs = spark.createDataFrame(
            pd.DataFrame({"i": range(len(hosts)), "host": hosts})
        )
        rows = docs.select(
            "i", "host", F.inline(F.array(psl_struct(F.col("host"))))
        ).collect()
        for r in rows:
            raw = hosts[r["i"]]
            norm = raw.lower().rstrip(".")
            if norm == "":
                assert r["host_norm"] is None and r["reg_domain"] is None
                continue
            assert r["host_norm"] == norm
            reg, sfx = r["reg_domain"], r["public_suffix"]
            if reg is not None and sfx is not None:
                assert norm == reg or norm.endswith("." + reg)
                assert reg == sfx or reg.endswith("." + sfx)
                assert reg.count(".") == sfx.count(".") + 1

    check()
