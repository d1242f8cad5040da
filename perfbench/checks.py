"""Output checks, run outside the timed intervals.

Registry ops and ETL artifacts are compared with DuckDB running the
program's own oracle SQL over the same parquet, through the engine's
order-insensitive frame fingerprint (``tests/oracle.py``): row count,
sorted column names and a hash of the stringified cells.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import duckdb
import pandas as pd

from tests.oracle import frame_fingerprint


def fingerprint(df: pd.DataFrame) -> list:
    n, cols, digest = frame_fingerprint(df)
    return [n, list(cols), digest]


class Oracle:
    """Expected fingerprints from DuckDB, cached per input set.

    The workload seed only permutes row order, so a query's expected
    result is the same for every seed at one scale; the cache key is the
    table set and the oracle SQL text."""

    def __init__(self, cache: Path, tables_dir: Path, corrupt: bool):
        self.tables_dir = tables_dir
        self.tables = sorted(p.stem for p in tables_dir.glob("*.parquet"))
        self.path = cache / f"oracle-{tables_dir.name.rsplit('-seed', 1)[0]}.json"
        self.known = json.loads(self.path.read_text()) if self.path.exists() else {}
        self.corrupt = corrupt  # self-test: make the first expectation wrong
        self._con = None
        self.frames: dict[str, pd.DataFrame] = {}

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET autoinstall_known_extensions=false")
            self._con.execute("SET autoload_known_extensions=false")
            self._con.execute("SET TimeZone='UTC'")
            for t in self.tables:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables_dir / f'{t}.parquet'}')"
                )
        return self._con

    def frame(self, sql: str) -> pd.DataFrame:
        if sql not in self.frames:
            self.frames[sql] = self._connect().execute(sql).df()
        return self.frames[sql]

    def expected(self, name: str, sql: str) -> list:
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:12]}"
        if key not in self.known:
            self.known[key] = fingerprint(self.frame(sql))
            self.path.write_text(json.dumps(self.known, indent=1, sort_keys=True))
        exp = self.known[key]
        if self.corrupt:
            self.corrupt = False
            exp = [exp[0], exp[1], "0" * 64]
        return exp

    def check(self, name: str, sql: str, actual: pd.DataFrame) -> str:
        """'' when ``actual`` matches the oracle, else a one-line reason."""
        exp, got = self.expected(name, sql), fingerprint(actual)
        if got == exp:
            return ""
        what = "rows" if got[0] != exp[0] else "columns" if got[1] != exp[1] else "values"
        return f"{name}: {what} differ from the DuckDB oracle (spark {got[:2]}, oracle {exp[:2]})"


def _typed_like(strings: pd.DataFrame, like: pd.DataFrame) -> pd.DataFrame:
    """Parse an all-string artifact back into the oracle frame's column
    types, so both sides hash through the same cell normalisation."""
    out = pd.DataFrame(index=strings.index)
    for col in strings.columns:
        if col in like.columns and pd.api.types.is_numeric_dtype(like[col].dtype):
            out[col] = pd.to_numeric(strings[col])
        else:
            out[col] = strings[col]
    return out


def read_csv_artifact(path: Path, like: pd.DataFrame) -> pd.DataFrame:
    parts = sorted(path.glob("part-*.csv"))
    if not (path / "_SUCCESS").exists() or not parts:
        raise FileNotFoundError(f"incomplete CSV artifact {path}")
    frames = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in parts]
    return _typed_like(pd.concat(frames, ignore_index=True), like)


def read_json_artifact(path: Path, like: pd.DataFrame) -> pd.DataFrame:
    records = json.loads(path.read_text())
    frame = pd.DataFrame.from_records(records) if records else pd.DataFrame(columns=like.columns)
    return _typed_like(frame, like)
