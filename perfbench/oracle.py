"""Reference results and the comparison every run makes.

Registry queries are checked against their DuckDB oracle
(``__spark_entry__.oracle_sql()``) over the fixed registry data, with the
canonicalisation of ``tools/selfcheck.py`` (sorted column names, sorted
canonical rows, bitwise floats). The oracle results are stored as row
counts and digests of the canonical form in ``oracle_digests.json``;
regenerate them, after changing the registry rows or their data, with

    python3 -m perfbench.oracle
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import re
import shutil

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGESTS = os.path.join(_ROOT, "perfbench", "oracle_digests.json")


def _load_selfcheck():
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(_ROOT, "tools", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


selfcheck = _load_selfcheck()


def canonical(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    cols = [c.lower() for c in cols]
    return tuple(sorted(cols)), selfcheck.rows_to_set(cols, [tuple(r) for r in rows])


def digest(canon: tuple) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def summary(canon: tuple) -> dict:
    return {"rows": len(canon[1]), "digest": digest(canon)}


def stored() -> dict[str, dict]:
    """The stored oracle summary per registry query name."""
    with open(DIGESTS) as fh:
        return json.load(fh)


def check(got: tuple, want: dict) -> str | None:
    """None when the canonical result ``got`` matches the stored oracle
    summary ``want``, else a one-line description of the difference."""
    have = summary(got)
    if have["rows"] != want["rows"]:
        return f"rows {have['rows']} != {want['rows']}"
    if have["digest"] != want["digest"]:
        return f"digest {have['digest']} != {want['digest']}"
    return None


def tables_read(names: list[str]) -> tuple[str, ...]:
    """The tables the queries read: those their oracle SQL names."""
    from pinterest_data_pipeline218_spark.data import TABLES

    import __spark_entry__ as entry

    sql = " ".join(entry.oracle_sql()[n] for n in names)
    return tuple(t for t in TABLES if re.search(rf"\b{t}\b", sql))


def duckdb_results(data_dir: str, names: list[str]) -> dict[str, tuple]:
    """Canonical DuckDB oracle result per query name."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables_read(names):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for n in names:
            rel = con.sql(oracles[n])
            out[n] = canonical(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def mismatch(got: tuple, want: tuple) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if got[0] != want[0]:
        return f"columns {list(got[0])} != {list(want[0])}"
    if len(got[1]) != len(want[1]):
        return f"rows {len(got[1])} != {len(want[1])}"
    if got[1] != want[1]:
        extra = [r for r in got[1] if r not in set(want[1])][:2]
        return f"values differ, e.g. {extra}"
    return None


def main() -> None:
    """Rewrite ``oracle_digests.json`` from the DuckDB oracle of every
    registry query the benchmark runs, over the fixed registry data."""
    import sys

    sys.path.insert(0, _ROOT)
    from perfbench import inputs, workloads

    names = list(workloads.OLAP_ROWS + workloads.ITER_ROWS)
    data_dir = os.path.join(_ROOT, ".perfbench", "oracle-data")
    try:
        inputs.write_tables(data_dir, workloads.REGISTRY_SF,
                            workloads.REGISTRY_DATA_SEED, tables_read(names))
        got = duckdb_results(data_dir, names)
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    with open(DIGESTS, "w") as fh:
        json.dump({n: summary(got[n]) for n in sorted(names)}, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
