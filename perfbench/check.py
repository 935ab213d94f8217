"""Output checks, run outside the timed region.

- ``OracleCheck`` compares one operation's Spark output with the DuckDB
  oracle registered for it (``oracle.compare_frames``). Oracle results are
  cached on disk per input digest, oracle SQL and ``oracle.py`` source, so
  a repeated seed pays DuckDB once and a changed oracle is never served
  from the cache.
- ``replay_upserts`` is the pandas model of ``plans.upsert``: rows of a
  later batch replace same-key rows, other rows survive.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd


def input_digest(input_dir: str) -> str:
    """Digest of the generated parquet files (names and bytes)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(input_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(input_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:12]


class OracleCheck:
    def __init__(self, input_dir: str, cache_dir: str) -> None:
        from ast_data_pipeline_spark import oracle

        self.input_dir = input_dir
        with open(oracle.__file__, "rb") as f:
            runner = _sha(f.read())
        self.cache_dir = os.path.join(cache_dir, f"{input_digest(input_dir)}-{runner}")
        os.makedirs(self.cache_dir, exist_ok=True)

    def cache_path(self, name: str, sql: str) -> str:
        return os.path.join(self.cache_dir, f"{name}-{_sha(sql.encode())}.pkl")

    def expected(self, name: str, sql: str) -> pd.DataFrame:
        path = self.cache_path(name, sql)
        if os.path.exists(path):
            return pd.read_pickle(path)
        from ast_data_pipeline_spark.oracle import run_oracle_sql

        exp = run_oracle_sql(sql, self.input_dir)
        exp.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return exp

    def problems(self, name: str, sql: str, got: pd.DataFrame) -> list[str]:
        from ast_data_pipeline_spark.oracle import compare_frames

        return compare_frames(got, self.expected(name, sql))


def replay_upserts(initial: pd.DataFrame, batches: list[pd.DataFrame], key: str) -> pd.DataFrame:
    """Final keyed-table state after applying ``batches`` in order."""
    state = initial
    for b in batches:
        state = pd.concat([state[~state[key].isin(b[key])], b], ignore_index=True)
    return state.sort_values(key).reset_index(drop=True)


def state_problems(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    """Mismatches between the tracking table read back and its replay."""
    g = got.sort_values(key).reset_index(drop=True)[list(want.columns)]
    if len(g) != len(want):
        return [f"tracking rows: got {len(g)}, replay {len(want)}"]
    diff = (g.astype(str) != want.astype(str)).any(axis=1)
    if diff.any():
        return [f"tracking table differs from replay on {int(diff.sum())} rows, "
                f"first key {g.loc[diff.idxmax(), key]}"]
    return []
