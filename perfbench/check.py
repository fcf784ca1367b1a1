"""Output checks: oracle hashes computed once per data set, and the
deterministic-result check for queries without an oracle.

A result is reduced to an order-insensitive fingerprint: columns sorted by
name, each value rendered canonically (floats rounded to 9 places, NULL and
NaN spelled out), rows sorted, then md5. Oracle fingerprints come from
DuckDB over the same parquet tables and are cached in a JSON file keyed by
the generator's source, the data seed, the scale factor and the oracle SQL
text, so DuckDB runs once per data set and never inside a timed pass.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

#: Scale factor of the generated tables (part of every oracle cache key).
SF = "0.01"


def canon(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def gen_digest() -> str:
    with open(os.path.join(os.path.dirname(__file__), "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def oracle_key(seed: int, sql: str) -> str:
    text = f"{gen_digest()}|{seed}|{SF}|{sql}"
    return hashlib.sha256(text.encode()).hexdigest()


def oracle_expectations(
    cache_path: str, data_dir: str, seed: int, oracles: dict[str, str], tables: tuple[str, ...]
) -> tuple[dict[str, dict], float]:
    """``{query: {"cols", "rows", "hash"}}`` for every oracle, plus the
    seconds spent in DuckDB (0 when every key was cached)."""
    cache: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    keys = {name: oracle_key(seed, sql) for name, sql in oracles.items()}
    missing = [name for name, key in keys.items() if key not in cache]
    spent = 0.0
    if missing:
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
                )
            for name in missing:
                rel = con.execute(oracles[name])
                cols = [d[0] for d in rel.description]
                rows = rel.fetchall()
                cache[keys[name]] = {
                    "cols": sorted(cols),
                    "rows": len(rows),
                    "hash": fingerprint(cols, rows),
                }
        finally:
            con.close()
        spent = time.perf_counter() - t0
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_path)
    return {name: cache[key] for name, key in keys.items()}, spent


def _finite(rows: list[tuple]) -> bool:
    return all(not (isinstance(v, float) and not math.isfinite(v)) for r in rows for v in r)


class Checker:
    """Checks every result of one run.

    Oracle-paired queries must match their oracle's columns, row count and
    fingerprint. A query without an oracle must return rows with finite
    values, and every later result must repeat the schema and fingerprint
    of its first one (seeded determinism).
    """

    def __init__(self, expected: dict[str, dict]):
        self.expected = expected
        self.first: dict[str, tuple[str, str]] = {}

    def check(self, name: str, schema: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result is correct, else the reason it is not."""
        digest = fingerprint(cols, rows)
        exp = self.expected.get(name)
        if exp is not None:
            if sorted(cols) != exp["cols"]:
                return f"columns {sorted(cols)} != oracle {exp['cols']}"
            if len(rows) != exp["rows"]:
                return f"{len(rows)} rows != oracle {exp['rows']}"
            if digest != exp["hash"]:
                return "value hash differs from oracle"
            return None
        if not rows:
            return "no rows"
        if not _finite(rows):
            return "non-finite value"
        seen = self.first.setdefault(name, (schema, digest))
        if seen != (schema, digest):
            return "result differs from the first run of this query"
        return None
