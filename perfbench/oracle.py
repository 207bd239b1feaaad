"""Engine-independent result fingerprints for the query checks.

A fingerprint is a SHA-256 over the canonical form of a result: columns
sorted by name, each value normalised (numbers to 9 significant digits,
timestamps and dates to naive UTC ISO strings, NaN spelled out), rows sorted.  The
same function fingerprints the DuckDB oracle's rows and the engine's
collected rows, so the check does not depend on either engine's own
hashing.  Oracle fingerprints are cached per dataset in a JSON file.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from datetime import date, datetime, timezone
from decimal import Decimal

from tables import TABLES


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isinf(f):
            return "inf" if f > 0 else "-inf"
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):  # a DATE equals its midnight, as in the oracle compare
        return datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((repr(_canon(k)), _canon(x)) for k, x in v.items()))
    return repr(v)


def fingerprint(columns: list[str], rows, null_when: tuple[str, str] | None = None) -> str:
    """Fingerprint of a result.  ``null_when=(a, b)`` first sets column b
    to NULL in every row where column a is NULL (for matching a known
    defect)."""
    if null_when is not None:
        a, b = columns.index(null_when[0]), columns.index(null_when[1])
        rows = [tuple(None if i == b and r[a] is None else v for i, v in enumerate(r))
                for r in rows]
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(canon)}:{h.hexdigest()[:16]}"


class OracleCache:
    """DuckDB oracle fingerprints for one dataset directory."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.path = os.path.join(data_dir, "oracle_fingerprints.json")
        self._fps: dict[str, str] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._fps = json.load(f)
        self._con = None

    def get(self, name: str, sql: str, null_when: tuple[str, str] | None = None) -> str:
        key = name if null_when is None else f"{name}|{null_when[0]}|{null_when[1]}"
        if key not in self._fps:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                self._con.execute("SET TimeZone='UTC'")
                self._con.execute("SET threads=1")
                for t in TABLES:
                    self._con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                    )
            rel = self._con.sql(sql)
            self._fps[key] = fingerprint(list(rel.columns), rel.fetchall(), null_when)
        return self._fps[key]

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._fps, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)
        if self._con is not None:
            self._con.close()
            self._con = None
