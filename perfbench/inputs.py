"""Seeded input generation for the benchmark's jobs, cached by key.

Every input is a pure function of its cache key, so a cached file is reused
as is and the program under test only ever sees the generated files:

* ``tables``: the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``, with the column types and value distributions of the
  sf0.1 test tables the query suite is written against. Content comes from
  a fixed seed; the workload seed only rewrites the row order
  (``analytics``).
* ``extract``: ``synth.materialize_pages`` over the generated documents.
* ``corpus`` (the corpus job of the traced ``extract`` run): synth pages
  plus exact re-crawls, near copies and one near-copy
  cluster larger than the corpus job's ``max_bucket``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator below changes its output
TABLES_VERSION = 1
TABLES_SEED = 42

# row counts: the relational tables and events at sf0.1; documents and
# embeddings smaller, because simhash_candidates emits pairs quadratic in the
# document count and semantic_dedup's cell self-join grows the same way (at
# 5000 docs / 2000 vectors those two alone take longer than the other 18)
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 1_000,
    "embeddings": 500,
}
TABLES = tuple(SIZES)

EXTRACT_PAGES = 10_000
CORPUS_BASE_PAGES = 4_000
RECRAWL_FRAC = 0.20
NEAR_COPY_FRAC = 0.10
# one cluster of near copies larger than build_training_corpus's default
# max_bucket=1000, so its LSH buckets are capped
HOT_CLUSTER = 1_100

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_VOCAB, k)) for k in lengths]
    # 5% are another document's text plus " dup": the near duplicates the
    # dedup queries exist to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def generate_tables() -> dict[str, pa.Table]:
    """The base tables in canonical row order (a pure function of
    ``TABLES_SEED`` and ``SIZES``)."""
    rng = np.random.default_rng(TABLES_SEED)
    n = SIZES
    keys = {t: np.arange(n[t]) for t in n}
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(keys["region"], pa.int32()),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(keys["nation"], pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in keys["nation"]], pa.string()),
                "n_regionkey": pa.array(keys["nation"] % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(keys["customer"], pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in keys["customer"]]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(keys["supplier"], pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in keys["supplier"]]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(keys["part"], pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(_PART_ADJ, n["part"]),
                            rng.choice(_PART_NOUN, n["part"]),
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
                "p_type": pa.array(rng.choice(_PART_TYPES, n["part"])),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": np.round(900.0 + (keys["part"] % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(keys["orders"], pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
                "o_orderdate": _ts(
                    "1995-01-01", rng.integers(0, 2405, n["orders"]) * 86_400_000_000
                ),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n["orders"])),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"])),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"])),
                "l_shipdate": _ts(
                    "1995-01-02", rng.integers(0, 2499, n["lineitem"]) * 86_400_000_000
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(keys["events"], pa.int64()),
                "ts": _ts(
                    "2024-01-01",
                    np.sort(rng.integers(0, 30 * 86_400_000_000, n["events"])),
                ),
                "user_id": pa.array(rng.integers(0, 1500, n["events"]), pa.int64()),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, n["events"])),
                "value": np.round(rng.exponential(50.0, n["events"]), 2),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]
                ),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def _publish(tmp: str, final: str) -> str:
    """Atomic directory publish: a crashed generator leaves only ``tmp``."""
    if os.path.isdir(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return final
    os.replace(tmp, final)
    return final


def _fresh_tmp(final: str) -> str:
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def tables_dir(work: str, seed: int | None) -> str:
    """Directory of the ten tables. ``seed=None``: canonical row order;
    otherwise each table's rows permuted by a ``seed``-determined shuffle."""
    tag = "base" if seed is None else f"s{seed}"
    final = os.path.join(work, "inputs", f"tables_{tag}_v{TABLES_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = _fresh_tmp(final)
    if seed is None:
        tables = generate_tables()
    else:
        base = tables_dir(work, None)
        rng = np.random.default_rng(seed)
        tables = {}
        for name in TABLES:
            t = pq.read_table(os.path.join(base, f"{name}.parquet"))
            tables[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    for name, t in tables.items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, final)


def _write_pages(rows: list[dict], path: str) -> None:
    """Multi-file pages dataset, laid out like ``synth.materialize_pages``
    (one file per 625 rows, at most 64) so the scan spreads over cores."""
    n_files = max(1, min(64, len(rows) // 625))
    chunk = (len(rows) + n_files - 1) // n_files
    os.makedirs(path)
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        table = pa.Table.from_pylist(part, schema=_PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _meta(rows: list[dict], pages_path: str) -> dict:
    keys = {(r["url"], hashlib.sha256(r["html"]).hexdigest()) for r in rows}
    return {
        "pages": pages_path,
        "n_docs": len(rows),
        "distinct_doc_keys": len(keys),
        "input_bytes": _dir_bytes(pages_path),
    }


def _read_meta(final: str) -> dict:
    with open(os.path.join(final, "meta.json")) as f:
        meta = json.load(f)
    meta["pages"] = os.path.join(final, "pages.parquet")
    return meta


def _write_meta(tmp: str, meta: dict) -> None:
    meta = dict(meta, pages="pages.parquet")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)


def extract_input(work: str, seed: int, n_pages: int = EXTRACT_PAGES) -> dict:
    """Pages for the batch job: ``synth`` pages over the generated documents."""
    from ocr_model_spark.sources import synth

    final = os.path.join(
        work, "inputs", f"extract_s{seed}_n{n_pages}_g{synth.GEN_VERSION}_v{TABLES_VERSION}"
    )
    if not os.path.isdir(final):
        tmp = _fresh_tmp(final)
        docs = pq.read_table(os.path.join(tables_dir(work, None), "documents.parquet"))
        pdf = synth.build_pages_pandas(docs.to_pandas(), n_pages, seed)
        rows = pdf.to_dict("records")
        _write_pages(rows, os.path.join(tmp, "pages.parquet"))
        _write_meta(tmp, _meta(rows, os.path.join(tmp, "pages.parquet")))
        _publish(tmp, final)
    return _read_meta(final)


def _near_copy(html: bytes, word: str) -> bytes:
    """A small edit that keeps the extracted text a near duplicate: one word
    added to the last paragraph (or appended when there is none)."""
    at = html.rfind(b"</p>")
    add = b" " + word.encode()
    return html[:at] + add + html[at:] if at >= 0 else html + add


def corpus_input(work: str, seed: int, n_base: int = CORPUS_BASE_PAGES) -> dict:
    """Duplicate-heavy crawl for the corpus job: ``n_base`` synth pages, then
    ~20% exact re-crawls (same bytes, new url), ~10% near copies of earlier
    HTML pages, and one ``HOT_CLUSTER``-member near-copy cluster, shuffled."""
    from ocr_model_spark.sources import synth

    final = os.path.join(
        work,
        "inputs",
        f"corpus_s{seed}_n{n_base}_h{HOT_CLUSTER}_g{synth.GEN_VERSION}_v{TABLES_VERSION}",
    )
    if not os.path.isdir(final):
        tmp = _fresh_tmp(final)
        docs = pq.read_table(os.path.join(tables_dir(work, None), "documents.parquet"))
        rows = synth.build_pages_pandas(docs.to_pandas(), n_base, seed).to_dict("records")
        rng = random.Random(f"corpus:{seed}")
        html_rows = [r for r in rows if r["html"].lstrip()[:1] == b"<"]
        extra = []
        for k in range(int(n_base * RECRAWL_FRAC)):
            src = rows[rng.randrange(n_base)]
            extra.append(dict(src, url=f"{src['url']}?recrawl={k}"))
        for k in range(int(n_base * NEAR_COPY_FRAC)):
            src = html_rows[rng.randrange(len(html_rows))]
            extra.append(
                dict(src, url=f"{src['url']}?near={k}", html=_near_copy(src["html"], rng.choice(_VOCAB)))
            )
        hub = max(html_rows[:200], key=lambda r: len(r["html"]))
        for k in range(HOT_CLUSTER):
            extra.append(
                dict(hub, url=f"{hub['url']}?mirror={k}", html=_near_copy(hub["html"], f"m{k}"))
            )
        rows += extra
        rng.shuffle(rows)
        _write_pages(rows, os.path.join(tmp, "pages.parquet"))
        _write_meta(tmp, _meta(rows, os.path.join(tmp, "pages.parquet")))
        _publish(tmp, final)
    return _read_meta(final)


def head_pages(pages_path: str, n: int) -> str:
    """The first ``n`` rows of a pages dataset, as its own multi-file dataset
    (the slice the scaling probe runs on)."""
    final = f"{pages_path.rstrip('/')}_head{n}"
    if not os.path.isdir(final):
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_pages(pq.read_table(pages_path).slice(0, n).to_pylist(), tmp)
        _publish(tmp, final)
    return final
