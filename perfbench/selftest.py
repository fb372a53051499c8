#!/usr/bin/env python3
"""Shows that every output check accepts a right output and rejects a wrong
one. No Spark needed: ``python3 perfbench/selftest.py`` exits 0 when each
check behaves, 1 otherwise."""

from __future__ import annotations

import copy
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402

LINEAGE = [
    {"n_docs": 6, "n_ok": 5, "n_failed": 1},
    {"n_docs": 4, "n_ok": 4, "n_failed": 0},
]
SAMPLE = {"https://a/1": "alpha", "https://b/2": "betaß"}
FUNNEL = {"kept": 7, "exact_dup": 2, "near_dup": 1, "low_quality": 1}
MANIFEST = {
    "n_shards": 2,
    "total_docs": 7,
    "shards": {"0": {"n_docs": 3, "fingerprint": 1}, "1": {"n_docs": 4, "fingerprint": 2}},
}
ORACLE = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 1.0], "tag": ["a", "b", "c"]})


def _extract(**over) -> list[str]:
    args = dict(
        n_input=10,
        snapshot_rows=10,
        snapshot_ok=9,
        lineage=LINEAGE,
        sample_got=dict(SAMPLE),
        sample_want=SAMPLE,
    )
    args.update(over)
    return checks.extract_checks(**args)


def _corpus(funnel=FUNNEL, manifest=MANIFEST, keys=11) -> list[str]:
    return checks.corpus_checks(keys, funnel, manifest)


def _lineage_off_by_one():
    lin = copy.deepcopy(LINEAGE)
    lin[1]["n_ok"] -= 1
    lin[1]["n_failed"] += 1
    return lin


def _shard_count_off():
    m = copy.deepcopy(MANIFEST)
    m["shards"]["1"]["n_docs"] = 5
    return m


CASES = {
    "extract: right output": (lambda: _extract(), True),
    "extract: a row missing from the snapshot": (lambda: _extract(snapshot_rows=9), False),
    "extract: lineage disagrees with the snapshot": (
        lambda: _extract(lineage=_lineage_off_by_one()),
        False,
    ),
    "extract: one sampled text differs by a byte": (
        lambda: _extract(sample_got={**SAMPLE, "https://b/2": "betaà"}),
        False,
    ),
    "extract: a sampled document is missing": (
        lambda: _extract(sample_got={"https://a/1": "alpha"}),
        False,
    ),
    "corpus: right output": (lambda: _corpus(), True),
    "corpus: funnel loses a document": (lambda: _corpus(funnel={**FUNNEL, "near_dup": 0}), False),
    "corpus: manifest total differs from kept": (
        lambda: _corpus(manifest={**MANIFEST, "total_docs": 6}),
        False,
    ),
    "corpus: shard counts do not sum to kept": (lambda: _corpus(manifest=_shard_count_off()), False),
    "analytics: right output in another row order": (
        lambda: checks.oracle_check("q", ORACLE.iloc[::-1], ORACLE),
        True,
    ),
    "analytics: one value off in the last digit": (
        lambda: checks.oracle_check("q", ORACLE.assign(score=[0.5, 0.25, 1.0000000000000002]), ORACLE),
        False,
    ),
    "analytics: a row missing": (lambda: checks.oracle_check("q", ORACLE.head(2), ORACLE), False),
    "analytics: a column renamed": (
        lambda: checks.oracle_check("q", ORACLE.rename(columns={"tag": "label"}), ORACLE),
        False,
    ),
    "analytics: an integer column returned as float": (
        lambda: checks.oracle_check("q", ORACLE.assign(id=[1.0, 2.0, 3.0]), ORACLE),
        False,
    ),
}


def main() -> int:
    wrong = 0
    for name, (run, should_pass) in CASES.items():
        msgs = run()
        ok = (not msgs) == should_pass
        wrong += not ok
        verdict = "passes" if not msgs else f"fails: {msgs[0]}"
        print(f"{'ok ' if ok else 'BAD'} {name}: {verdict}")
    return 1 if wrong else 0


if __name__ == "__main__":
    sys.exit(main())
