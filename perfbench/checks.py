"""Output checks. Each takes plain values read back from a job's outputs
(counts, manifests, frames) and returns a list of failure messages, empty
when the output is correct. They never run inside a timed section.
``selftest.py`` feeds each one a wrong output to show that it fails."""

from __future__ import annotations

import pandas as pd


def extract_checks(
    n_input: int,
    snapshot_rows: int,
    snapshot_ok: int,
    lineage: list[dict],
    sample_got: dict[str, str],
    sample_want: dict[str, str],
) -> list[str]:
    """Batch job: every input row is committed; the manifest lineage totals
    equal the snapshot's counts; sampled text is byte-identical to direct
    kernel calls."""
    bad = []
    if snapshot_rows != n_input:
        bad.append(f"snapshot rows {snapshot_rows} != input rows {n_input}")
    lin_docs = sum(r["n_docs"] for r in lineage)
    lin_ok = sum(r["n_ok"] for r in lineage)
    lin_failed = sum(r["n_failed"] for r in lineage)
    if (lin_docs, lin_ok, lin_failed) != (
        snapshot_rows,
        snapshot_ok,
        snapshot_rows - snapshot_ok,
    ):
        bad.append(
            f"lineage docs/ok/failed {lin_docs}/{lin_ok}/{lin_failed} != snapshot "
            f"{snapshot_rows}/{snapshot_ok}/{snapshot_rows - snapshot_ok}"
        )
    if set(sample_got) != set(sample_want):
        bad.append(f"text sample urls differ: {len(sample_got)} vs {len(sample_want)}")
    diff = [u for u in sample_want if sample_got.get(u) != sample_want[u]]
    if diff:
        bad.append(f"{len(diff)} sampled texts differ from direct kernel calls")
    return bad


def corpus_checks(distinct_doc_keys: int, funnel: dict[str, int], manifest: dict) -> list[str]:
    """Corpus job: the funnel accounts for every distinct doc_key exactly
    once, and the shard manifest holds exactly the kept documents."""
    bad = []
    if sum(funnel.values()) != distinct_doc_keys:
        bad.append(f"funnel sums to {sum(funnel.values())} != {distinct_doc_keys} doc keys")
    kept = funnel.get("kept", 0)
    if manifest.get("total_docs") != kept:
        bad.append(f"shard manifest total {manifest.get('total_docs')} != kept {kept}")
    if sum(s["n_docs"] for s in manifest.get("shards", {}).values()) != kept:
        bad.append("per-shard counts do not sum to kept")
    return bad


def _normalize(df: pd.DataFrame) -> tuple[pd.DataFrame, dict[str, str]]:
    """Order-insensitive canonical form plus a per-column type kind, the
    rule the repository's oracle-parity tests apply."""
    df = df[sorted(df.columns)].copy()
    kinds = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
            kinds[c] = "bool"
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
            kinds[c] = "int"
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
            kinds[c] = "float"
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None)
            kinds[c] = "datetime"
        elif s.dtype == object and len(s) and not isinstance(s.iloc[0], str):
            try:
                df[c] = pd.to_datetime(s)
                kinds[c] = "datetime"
            except (ValueError, TypeError):
                kinds[c] = "object"
        else:
            kinds[c] = "object"
    return df.sort_values(by=list(df.columns)).reset_index(drop=True), kinds


def oracle_check(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Analytics: the Spark result equals the DuckDB oracle exactly, up to
    row order."""
    g, gk = _normalize(got)
    w, wk = _normalize(want)
    if list(g.columns) != list(w.columns):
        return [f"{name}: columns {list(g.columns)} != {list(w.columns)}"]
    if gk != wk:
        return [f"{name}: column kinds {gk} != {wk}"]
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows != oracle {len(w)}"]
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return [f"{name}: values differ from oracle: {str(e).splitlines()[0]}"]
    return []
