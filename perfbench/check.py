"""Datasets and output checks for the benchmark.

Datasets: `sf0.01` is committed under perfbench/data; `x10` is made
from it with tools/synth_scale.py into .bench_build. Before each run
every table's row count and order-insensitive content digest is
compared with workloads.json; a generated dataset that does not match
is made again once, and a second mismatch fails the run.

Output check: each query's dump is compared with its DuckDB oracle by
the steps of tools/check_oracle.py's main loop (schema guard, canonical
form, exact compare). Its `main` is not called because it pins DuckDB's
spill directory under /tmp, outside the checkout; this copy spills
under .bench_build. DuckDB's answers are cached by SQL text and data
digest.
"""
import glob
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import TABLES, canon  # noqa: E402  the gate's canonical form


class DataError(RuntimeError):
    pass


def _connect(tmp: Path):
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads TO 4")
    return con


def digest(con, data_dir: Path):
    out = {}
    for t in TABLES:
        n, h = con.execute(
            f"SELECT count(*), sum(hash(t)) FROM read_parquet('{data_dir}/{t}.parquet') t").fetchone()
        out[t] = {"rows": n, "digest": str(h)}
    return out


def ensure_dataset(name, spec, work: Path, log=sys.stderr):
    """Directory of dataset `name`, made and verified."""
    con = _connect(work / "duckdb-tmp")
    if spec.get("path"):
        data_dir = HERE / spec["path"]
    else:
        data_dir = work / "data" / name
    for attempt in (0, 1):
        try:
            if data_dir.is_dir() and digest(con, data_dir) == spec["tables"]:
                return data_dir
        except duckdb.Error:
            pass
        if spec.get("path") or attempt == 1:
            raise DataError(f"dataset {name} at {data_dir} does not match its recorded digests")
        base = HERE / spec["from"]
        print(f"perfbench: generating dataset {name} from {base}", file=log, flush=True)
        shutil.rmtree(data_dir, ignore_errors=True)
        data_dir.parent.mkdir(parents=True, exist_ok=True)
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "synth_scale.py"), str(base),
                            str(data_dir), str(spec["copies"])],
                           cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise DataError(f"synth_scale.py failed:\n{r.stdout[-2000:]}")
    return data_dir


def _spark_df(dump: Path, name):
    files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files])


def verdict(spark_df, duck_df):
    """check_oracle.py's verdict on one query: None if it passes, else why.

    The same steps as its main loop: the schema guard against columns
    the gate cannot sort, then the canonical form and an exact compare.
    """
    bad = [c for c in spark_df.columns
           if any(isinstance(v, (list, dict, set, tuple, bytes, bytearray, np.ndarray))
                  for v in spark_df[c].dropna().head(5))]
    if bad:
        return f"non-scalar output columns {bad}"
    s, d = canon(spark_df), canon(duck_df)
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    if s != d:
        i = next(i for i, (a, b) in enumerate(zip(s, d)) if a != b)
        return f"first diff row {i}: spark={s[i]} duck={d[i]}"
    return None


def _oracle_df(con, sql, data_key, cache: Path):
    """DuckDB's answer to `sql`, cached by SQL text and data digest.

    The batch workload's LSH oracle takes about 11 s, a quarter of a
    batch run; a cached answer reads back in milliseconds.
    """
    path = cache / (hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest() + ".pkl")
    if path.is_file():
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    df.to_pickle(tmp)
    tmp.replace(path)
    return df


def check_outputs(dump: Path, data_dir: Path, data_key, queries, work: Path):
    """(failures {query: reason}, self-test passed) for one run's dump.

    Every query needs an oracle. The self-test drops one row from the
    first passing non-empty dump and requires `verdict` to reject it;
    it fails when no query passed.
    """
    con = _connect(work / "duckdb-tmp")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    failures = {}
    sample = None
    for name in queries:
        df = _spark_df(dump, name)
        if df is None:
            failures[name] = "no spark output"
            continue
        if name not in oracle:
            failures[name] = "no oracle"
            continue
        try:
            duck = _oracle_df(con, oracle[name], data_key, work / "oracle-cache")
        except duckdb.Error as e:
            failures[name] = f"oracle error {e}"
            continue
        bad = verdict(df, duck)
        if bad:
            failures[name] = bad
        elif sample is None and len(df):
            sample = (df, duck)
    selftest = sample is not None and verdict(sample[0].iloc[1:], sample[1]) is not None
    return failures, selftest
