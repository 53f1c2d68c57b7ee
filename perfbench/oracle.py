"""Expected outputs from DuckDB, and the exact-match check.

Each checked output is compared to DuckDB's replay of the row's
`SparkEntry.oracleSql` entry over the same input tables, by the rule of
`tools/check.py`: columns sorted by name, rows sorted, dtype families
equal, values equal. Expected results are computed before the engine
runs and cached per seed.
"""
import importlib.util
import json
import os
from pathlib import Path

import duckdb
import pandas as pd

from data import TABLES


def _check_module(root: Path):
    spec = importlib.util.spec_from_file_location(
        "graft_tools_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, root: Path, sql_file: Path, cache: Path,
                 data_dir: Path):
        self.norm = _check_module(root).norm
        self.sql = json.loads(sql_file.read_text())
        self.cache = cache
        self.data_dir = data_dir
        self.con = None

    def expected(self, key: str) -> pd.DataFrame:
        path = self.cache / f"{key}.pkl"
        if path.exists():
            return pd.read_pickle(path)
        if self.con is None:
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')")
        df = self.norm(self.con.execute(self.sql[key]).fetchdf())
        self.cache.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".tmp{os.getpid()}")
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def check(self, key: str, got: pd.DataFrame):
        """None when `got` matches the oracle, else the reason."""
        try:
            got = self.norm(got)
        except TypeError as e:
            return f"output: {e}"
        exp = self.expected(key)
        if list(got.columns) != list(exp.columns):
            return f"columns {list(got.columns)} vs {list(exp.columns)}"
        if len(got) != len(exp):
            return f"rows {len(got)} vs {len(exp)}"
        fam = {'i': 'int', 'u': 'int', 'f': 'float', 'b': 'bool'}
        for c in got.columns:
            a, b = got[c], exp[c]
            if fam.get(a.dtype.kind, a.dtype.kind) != \
                    fam.get(b.dtype.kind, b.dtype.kind):
                return f"column {c} dtype {a.dtype} vs {b.dtype}"
            same = (a.astype(object).where(pd.notnull(a), None).tolist() ==
                    b.astype(object).where(pd.notnull(b), None).tolist())
            if not same:
                return f"column {c} values differ"
        return None


def read_output(path: str, fmt: str) -> pd.DataFrame:
    """A row's output as written by the engine: a directory of parquet
    part-files, or (`jsonl`) the [word, count] pairs the MrStep word
    count read back through JsonPairProtocol."""
    if fmt == "jsonl":
        with open(path) as f:
            pairs = [json.loads(line) for line in f if line.strip()]
        return pd.DataFrame({"word": pd.Series([p[0] for p in pairs],
                                               dtype=object),
                             "n": pd.Series([p[1] for p in pairs],
                                            dtype="int64")})
    files = sorted(Path(path).glob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet part-files in {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
