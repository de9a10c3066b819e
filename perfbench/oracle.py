"""Reference answers from DuckDB over the same generated files.

- :func:`fleet_expectations` -- for every (database, table) of a fleet,
  the counters CHECKTABLE must report (the kernel's own DuckDB
  rendering, ``checktable_oracle_sql``) and the orphan count of every
  foreign key whose parents live in the same database.
- :func:`compare_frames` -- the registry gate: same columns, same row
  count and the same values in any row order.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from integritychecksforvldbs_spark.expectations import expectations_for
from integritychecksforvldbs_spark.operators.kernels import checktable_oracle_sql


def _view(con, name: str, files: list[str]) -> None:
    paths = ", ".join(f"'{p}'" for p in files)
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{paths}])")


def fleet_expectations(manifest: dict) -> dict[str, dict[str, dict[str, int]]]:
    """``{db: {table: {metric: value}}}`` for a fleet manifest."""
    con = duckdb.connect()
    out: dict[str, dict[str, dict[str, int]]] = {}
    for db, tables in manifest["databases"].items():
        for name, entry in tables.items():
            _view(con, name, [f["path"] for f in entry["files"]])
        out[db] = {}
        for name in tables:
            exp = expectations_for(name)
            df = con.execute(checktable_oracle_sql(name, exp)).df()
            want = {k: int(v) for k, v in df.iloc[0].items()}
            fks = exp.foreign_keys
            if fks and all(fk.parent_table in tables for fk in fks):
                for fk in fks:
                    nn = " AND ".join(f"c.{c} IS NOT NULL" for c in fk.columns)
                    on = " AND ".join(
                        f"p.{pc} = c.{cc}" for cc, pc in zip(fk.columns, fk.parent_columns)
                    )
                    (orphans,) = con.execute(
                        f"SELECT COUNT(*) FROM {name} c WHERE {nn} AND NOT EXISTS "
                        f"(SELECT 1 FROM {fk.parent_table} p WHERE {on})"
                    ).fetchone()
                    want[f"orphans_{'_'.join(fk.columns)}"] = int(orphans)
                want["n_fks"] = len(fks)
            out[db][name] = want
        for name in tables:
            con.execute(f"DROP VIEW {name}")
    con.close()
    return out


def sweep_oracle(sweep_dir: str, tables: tuple[str, ...], sql: dict[str, str], names: list[str]):
    """DuckDB answers of the registry's oracle SQL for ``names``."""
    con = duckdb.connect()
    for t in tables:
        _view(con, t, [f"{sweep_dir}/{t}.parquet"])
    out = {n: con.execute(sql[n]).df() for n in names}
    con.close()
    return out


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; otherwise a one-line reason."""
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9
        )
    except AssertionError as exc:
        return "values differ: " + " ".join(str(exc).split())[:300]
    return None
