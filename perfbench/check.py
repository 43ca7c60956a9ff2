"""Correctness check of batch-job outputs against their DuckDB oracles.

A job's output passes when it has the oracle's column names, no numeric
type drift, the oracle's row count and the same order-insensitive value
hash. Canonicalisation (`canon`) and the type rule (`type_problems`)
are imported from ``tools/check_oracle.py``, so this is the repository's
own gate applied to the benchmark's inputs.

Oracle answers are cached on disk by (oracle SQL, input bytes): the
inputs are regenerated byte-identically on every run, so the DuckDB side
runs once per checkout and every run still compares its own Spark
output.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys
from types import SimpleNamespace

import pyarrow as pa


def _load_check_oracle(root: str):
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import check_oracle
    finally:
        sys.path.pop(0)
    return check_oracle


def _digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


def data_digest(data_dir: str, tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def arrow_rows(table: pa.Table) -> list[tuple]:
    """Arrow result → row tuples valued like ``DataFrame.collect()``
    (timestamps as naive UTC datetimes)."""
    cols = []
    for col in table.columns:
        vals = col.to_pylist()
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            vals = [v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
                    if v is not None else None for v in vals]
        cols.append(vals)
    return list(zip(*cols)) if cols else []


class Oracle:
    """Expected answers for one input directory."""

    def __init__(self, root: str, data_dir: str, cache_dir: str):
        self.co = _load_check_oracle(root)
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.key = data_digest(data_dir, self.co.TABLES)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _duck(self):
        if self._con is None:
            self._con = self.co.duckdb.connect()
            self._con.sql("SET threads TO 2")
            for t in self.co.TABLES:
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"'{self.data_dir}/{t}.parquet'")
        return self._con

    def expected(self, sql: str) -> dict:
        """{"cols", "types", "rows", "digest"} for one oracle query."""
        name = hashlib.sha256((self.key + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        d = self._duck().sql(sql)
        cols = [c[0] for c in d.description]
        types = [str(t) for t in d.types]
        rows = d.fetchall()
        exp = {"cols": cols, "types": types, "rows": len(rows),
               "digest": _digest(self.co.canon(rows, cols))}
        with open(path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.replace(path + ".tmp", path)
        return exp

    def problems(self, sql: str, dtypes: list[tuple[str, str]],
                 table: pa.Table, expected: dict | None = None) -> list[str]:
        """Differences between a Spark output and the oracle; [] = pass.
        ``expected`` overrides the oracle answer (used by the self-test
        to plant a wrong expectation)."""
        exp = expected or self.expected(sql)
        cols = [c for c, _t in dtypes]
        probs = []
        if sorted(cols) != sorted(exp["cols"]):
            probs.append(f"cols spark={sorted(cols)} oracle={sorted(exp['cols'])}")
        probs += ["type " + p for p in self.co.type_problems(
            SimpleNamespace(dtypes=dtypes), exp["cols"], exp["types"])]
        if table.num_rows != exp["rows"]:
            probs.append(f"rowcount spark={table.num_rows} oracle={exp['rows']}")
        if not probs:
            got = _digest(self.co.canon(arrow_rows(table), cols))
            if got != exp["digest"]:
                probs.append("value hash differs")
        return probs

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
