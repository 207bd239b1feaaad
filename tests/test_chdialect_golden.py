"""Byte-for-byte golden corpus of the ClickHouse-dialect translator.

``tests/data/chdialect_golden.json`` pins ``translate_ch_sql``'s output —
``(sql, notes)``, or the refusal's class and message — for every
``CH_DIALECT_*`` registry string (with the catalog arguments ``ch_sql``
passes, recorded in the corpus), every input ``tests/test_chdialect.py``
translates, and literal edge cases.  Any translator change that alters a
single byte of any of them fails here.  Regenerate, after an intended
output change only, with ``python tools/gen_chdialect_golden.py``."""

from __future__ import annotations

import json

import pytest

from tools.gen_chdialect_golden import CORPUS, translate_entry


@pytest.fixture(scope="module")
def corpus():
    with open(CORPUS) as f:
        return json.load(f)


def test_corpus_covers_every_dialect_string(corpus):
    from clickhouse_sinker_spark.plans import queries

    names = {k for k, v in vars(queries).items()
             if k.startswith("CH_DIALECT_") and isinstance(v, str)}
    assert names <= {e["id"] for e in corpus["entries"]}
    assert len(corpus["entries"]) > len(names)


def test_translations_match_corpus(corpus):
    mismatches = []
    for entry in corpus["entries"]:
        got = translate_entry(corpus, entry)
        want = {k: entry[k] for k in ("out", "notes", "error") if k in entry}
        if got != want:
            mismatches.append((entry["id"], entry["sql"][:200], want, got))
    assert not mismatches, (
        f"{len(mismatches)} of {len(corpus['entries'])} translations "
        f"changed; first: {mismatches[0]}")
