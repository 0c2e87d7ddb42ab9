"""Expected results from the DuckDB oracles, and the result check.

The oracle of each key runs once per checkout, outside every timed
region, and its result is kept in a pickle under the benchmark's work
directory. The pickle is keyed by the DuckDB version, the bytes of the
fixture and the oracle SQL of every key, so a changed oracle or fixture
recomputes it. Results are compared with the exact comparator of
``tests/parity.py``: same column set, same row count, same multiset of
values, no float tolerance. Keys with no oracle (the approximate
sketches and ``limit_n``) are checked on rows only: the row count must
be positive and the same on every run of the key.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from collections import Counter

from parity import _multiset

from mapreduce_server_spark import REGISTRY
from mapreduce_server_spark.sources.loader import TABLE_NAMES

#: per key: (sorted column names, value multiset), or None for rows-only
Expected = dict[str, "tuple[list[str], Counter] | None"]


def _cache_path(work: str, sf_dir: str, keys: list[str]) -> str:
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    for t in TABLE_NAMES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for k in sorted(keys):
        h.update(f"\0{k}\0{REGISTRY[k].oracle}".encode())
    return os.path.join(work, f"oracle-{h.hexdigest()[:20]}.pkl")


def _compute(sf_dir: str, keys: list[str], work: str) -> Expected:
    import duckdb

    con = duckdb.connect()
    try:
        spill = os.path.join(work, "duckdb-spill")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET temp_directory='{spill}'")
        con.execute("SET memory_limit='4GB'")
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        out: Expected = {}
        for k in keys:
            sql = REGISTRY[k].oracle
            if sql is None:
                out[k] = None
                continue
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[k] = (sorted(cols), _multiset(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def load_expected(sf_dir: str, keys: list[str], work: str) -> Expected:
    """Oracle results for ``keys`` over ``sf_dir``, from the cache when
    it matches, else computed with DuckDB and cached."""
    path = _cache_path(work, sf_dir, keys)
    if os.path.exists(path):
        # written by _compute in this same work directory
        with open(path, "rb") as f:
            return pickle.load(f)
    exp = _compute(sf_dir, keys, work)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(exp, f)
    os.replace(tmp, path)
    return exp


class Checker:
    """Checks each result of a run against the oracle; counts failures."""

    def __init__(self, expected: Expected):
        self.expected = expected
        self.rows_only_counts: dict[str, int] = {}
        self.wrong: list[str] = []

    def check(self, key: str, cols: list[str] | None, rows: list) -> bool:
        """``cols`` is None when an empty result carries no column names."""
        exp = self.expected[key]
        if exp is None:
            n = self.rows_only_counts.setdefault(key, len(rows))
            ok = len(rows) > 0 and len(rows) == n
        else:
            exp_cols, exp_values = exp
            if cols is None:
                ok = not rows and not exp_values
            else:
                ok = (
                    sorted(cols) == exp_cols
                    and sum(exp_values.values()) == len(rows)
                    and _multiset(cols, [tuple(r) for r in rows]) == exp_values
                )
        if not ok:
            self.wrong.append(key)
        return ok
