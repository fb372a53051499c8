"""JVM-side sniff agrees with the Python kernel; lineage roll-up and
doc-type dispatch over the extraction output."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_model_spark.kernels.sniff import sniff_doc_type
from ocr_model_spark.operators.dispatch import doc_type_col
from ocr_model_spark.pipeline import run_extraction


def test_doc_type_col_matches_python_sniff(spark, pages_path):
    df = spark.read.parquet(pages_path).select(
        "url", "html", doc_type_col(F.col("html")).alias("jvm_type")
    )
    pdf = df.toPandas()
    for _, row in pdf.iterrows():
        assert row["jvm_type"] == sniff_doc_type(bytes(row["html"])), row["url"]


def test_doc_type_col_agrees_on_edge_payloads(spark):
    """Whitespace-prefixed markup, >256-byte junk prefixes, bare tags: the
    JVM expression and the Python kernel must classify identically."""
    payloads = [
        b"\n<div>whitespace-newline prefix</div>",
        b"\t\r\n  <html><body>tab/cr prefix</body></html>",
        b" " * 300 + b"<html>html beyond a 256-space prefix</html>",
        b"\n\n<HTML><BODY>uppercase</BODY></HTML>",
        b"plain text, no markup at all",
        b"x < y and y > z",  # math-y text: '<' not at start
        b"<not-a-known-tag>custom</not-a-known-tag>",
        b"",
        b"\xff\xfeBOM-ish binary junk",
        # CFB family: marker-carrying → 'doc', junk container → 'ole'
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
        + b"\x00" * 63  # odd offset: contains is byte-level, not aligned
        + "WordDocument".encode("utf-16-le"),
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + bytes(range(200)),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i INT, html BINARY"
    ).select("i", doc_type_col(F.col("html")).alias("jvm_type"))
    got = {r["i"]: r["jvm_type"] for r in df.collect()}
    for i, p in enumerate(payloads):
        assert got[i] == sniff_doc_type(p), p[:40]


def test_lineage_counts_roll_up(spark, pages_path):
    res = run_extraction(spark, pages_path, num_partitions=6)
    lin = res["lineage"].toPandas()
    assert lin["n_docs"].sum() == 300
    assert (lin["n_ok"] + lin["n_failed"]).equals(lin["n_docs"])
    assert lin["n_failed"].sum() > 0  # image payloads exercise the failure path
    assert (lin["input_file"].str.len() > 0).all()  # scan-time capture worked


def test_docx_payloads_extract_with_zero_failures(spark):
    """S9: docx routes through the kernel — lineage failure counters see no
    docx rows, and the docx region-rows query yields typed regions."""
    from ocr_model_spark.entry import q_docx_region_rows
    from ocr_model_spark.pipeline import run_extraction
    from ocr_model_spark.sources.synth import materialize_pages

    path = materialize_pages("/root/testdata/sf0.001", "/tmp/docx_t", n_pages=600)
    docs = run_extraction(spark, path)["docs"]
    docx = docs.filter(F.col("doc_type") == "docx").toPandas()
    assert len(docx) > 0
    assert docx["ok"].all(), docx.loc[~docx["ok"], "error"].tolist()
    rows = q_docx_region_rows(spark, "/root/testdata/sf0.001").toPandas()
    assert len(rows) > 0
    assert set(rows["region_type"]) <= {"heading", "paragraph", "list_item", "table_row"}
    assert {"heading", "table_row"} <= set(rows["region_type"])


def test_pdf_images_meta_query_distributed(spark):
    from ocr_model_spark.entry import q_pdf_images_meta

    rows = q_pdf_images_meta(spark, "/root/testdata/sf0.001").toPandas()
    assert len(rows) > 0
    assert (rows["format"] == "jpeg").all()
    assert (rows["width"] >= 32).all() and (rows["n_bytes"] > 0).all()
    assert rows["content_sha256"].str.len().eq(64).all()
