"""Regenerate the ClickHouse-dialect golden corpus
(``tests/data/chdialect_golden.json``, checked by
``tests/test_chdialect_golden.py``).

Inputs:
  * every ``CH_DIALECT_*`` string of ``plans/queries.py``, translated with
    the catalog arguments ``ch_sql`` passes (``spark_catalog_info`` over
    the ten sf tables, recorded in the corpus so the test needs no Spark
    session); ``CH_DIALECT_FINAL`` also with the ``table_keys`` of its
    registry query;
  * every call ``tests/test_chdialect.py`` makes to ``translate_ch_sql``
    (directly or through ``ch_sql``), captured by running that test file
    under a recording wrapper;
  * the literal edge cases in ``EDGE_CASES`` below.

Outputs are ``{"sql", "notes"}`` or ``{"error": [class, message]}``.  They
are computed in two subprocesses under different ``PYTHONHASHSEED`` values;
an entry whose output differs between them is reported and left out of the
corpus (a golden file cannot pin a hash-order-dependent answer).

Run from the repo root (takes a few minutes — the capture runs the whole
test file):

    python tools/gen_chdialect_golden.py
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(ROOT, "tests", "data", "chdialect_golden.json")
SEEDS = ("0", "1")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# refused and UDF-backed names inside string literals ahead of a real call
# to the same name, and queries with two refused calls
EDGE_CASES = (
    "SELECT 'neighbor(x, 1)' AS s, neighbor(value, 1) FROM events",
    "SELECT 'neighbor(' AS s, value FROM events",
    "SELECT 'h3ToParent(x)' AS s, h3ToParent(value, 1) FROM events",
    "SELECT 'sumState(x)' AS s, sumState(value) FROM events",
    "SELECT 'sipHash64(x)' AS s, sipHash64(event_type) FROM events",
    "SELECT 'sipHash64(x)' AS s FROM events",
    "SELECT 'round(x)' AS s, round(value, 1) FROM events",
    "SELECT 'round(x)' AS s, value FROM events",
    "SELECT 'ch_base58_encode(x)' AS s, ch_base58_encode(event_type)"
    " FROM events",
    "SELECT 'ch_base58_encode(x)' AS s, base58Encode(event_type) FROM events",
    "SELECT 'ch_base58_encode(x)' AS s FROM events",
    "SELECT neighbor(value, 1), runningDifference(value) FROM events",
    "SELECT runningDifference(value), neighbor(value, 1) FROM events",
    "SELECT dictGet('d', 'a', id), rowNumberInBlock() FROM events",
    "SELECT 'runningDifference(' AS s, neighbor(value, 1),"
    " runningDifference(value) FROM events",
)


def _jsonable(v):
    if isinstance(v, (set, frozenset)):
        return sorted(v)
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


def _capture_test_inputs() -> list[dict]:
    """Every (sql, kwargs) the chdialect test file hands the translator."""
    import pytest

    from clickhouse_sinker_spark.functions import chdialect

    seen: list[dict] = []
    real = chdialect.translate_ch_sql

    def recording(sql, table_keys=None, array_columns=None,
                  table_columns=None, string_columns=None):
        kwargs = {
            "table_keys": table_keys, "array_columns": array_columns,
            "table_columns": table_columns, "string_columns": string_columns,
        }
        seen.append({"sql": sql, "kwargs": _jsonable(
            {k: v for k, v in kwargs.items() if v is not None})})
        return real(sql, **kwargs)

    chdialect.translate_ch_sql = recording
    try:
        # a fixed hypothesis seed keeps the captured property-test inputs
        # the same from one regeneration to the next
        pytest.main([os.path.join(ROOT, "tests", "test_chdialect.py"), "-q",
                     "-p", "no:cacheprovider", "--hypothesis-seed=0"])
    finally:
        chdialect.translate_ch_sql = real
    return seen


def _catalog() -> dict:
    from pyspark.sql import SparkSession

    from clickhouse_sinker_spark.functions.chdialect import spark_catalog_info
    from clickhouse_sinker_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    for t in TABLES:
        load_table(spark, SF_DIR, t).createOrReplaceTempView(t)
    arr, tbl, strs = spark_catalog_info(spark, TABLES)
    spark.stop()
    return {"array_columns": sorted(arr), "table_columns": tbl,
            "string_columns": sorted(strs)}


def _inputs() -> dict:
    from clickhouse_sinker_spark.plans import queries

    entries = []
    for name, v in vars(queries).items():
        if name.startswith("CH_DIALECT_") and isinstance(v, str):
            entries.append({"id": name, "sql": v, "catalog": True})
    entries.append({
        "id": "CH_DIALECT_FINAL+table_keys", "sql": queries.CH_DIALECT_FINAL,
        "catalog": True, "kwargs": {"table_keys": {
            "events": [["user_id", "event_type"], ["ts", "event_id"]]}},
    })
    for i, sql in enumerate(EDGE_CASES):
        entries.append({"id": f"edge_{i}", "sql": sql})
    keys = set()
    for rec in _capture_test_inputs():
        key = json.dumps(rec, sort_keys=True)
        if key not in keys:
            keys.add(key)
            entries.append({"id": f"test_{len(keys) - 1}", **rec})
    return {"catalog": _catalog(), "entries": entries}


def call_kwargs(corpus: dict, entry: dict) -> dict:
    """The keyword arguments an entry is translated with."""
    kw = dict(corpus["catalog"]) if entry.get("catalog") else {}
    kw.update(entry.get("kwargs", {}))
    return kw


def translate_entry(corpus: dict, entry: dict) -> dict:
    from clickhouse_sinker_spark.functions.chdialect import translate_ch_sql

    try:
        sql, notes = translate_ch_sql(entry["sql"], **call_kwargs(corpus, entry))
    except Exception as e:  # noqa: BLE001 — the corpus records every outcome
        return {"error": [type(e).__name__, str(e)]}
    return {"out": sql, "notes": notes}


def _translate_all(path_in: str, path_out: str) -> None:
    with open(path_in) as f:
        corpus = json.load(f)
    outs = [translate_entry(corpus, e) for e in corpus["entries"]]
    with open(path_out, "w") as f:
        json.dump(outs, f)


def main() -> None:
    if sys.argv[1:2] == ["--translate"]:
        _translate_all(sys.argv[2], sys.argv[3])
        return
    corpus = _inputs()
    with tempfile.TemporaryDirectory() as tmp:
        path_in = os.path.join(tmp, "inputs.json")
        with open(path_in, "w") as f:
            json.dump(corpus, f)
        runs = []
        for seed in SEEDS:
            path_out = os.path.join(tmp, f"out-{seed}.json")
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--translate",
                 path_in, path_out],
                check=True, cwd=ROOT,
                env={**os.environ, "PYTHONHASHSEED": seed},
            )
            with open(path_out) as f:
                runs.append(json.load(f))
    kept = []
    for entry, *outs in zip(corpus["entries"], *runs):
        if any(o != outs[0] for o in outs[1:]):
            print(f"hash-seed dependent, left out: {entry['id']}: "
                  f"{[o.get('error', o.get('out')) for o in outs]}")
            continue
        kept.append({**entry, **outs[0]})
    corpus["entries"] = kept
    os.makedirs(os.path.dirname(CORPUS), exist_ok=True)
    with open(CORPUS, "w") as f:
        json.dump(corpus, f, indent=1, ensure_ascii=False)
        f.write("\n")
    print(f"{len(kept)} entries → {os.path.relpath(CORPUS, ROOT)}")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    main()
