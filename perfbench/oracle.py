"""Correctness check of a run's results against the program's DuckDB
oracle SQL (`graft.SparkEntry.oracleSql`).

Comparison rules are those of tools/check_oracle.py: columns sorted by
name, rows sorted by value, every column's declared type inside the
hasher's canonical classes and equal between the two sides (its
`canon_type`, `declared_types` and `type_fail`, imported). Floats compare with a relative tolerance,
because the seeded inputs change summation order on both engines.
Oracle results are cached per seed and SQL text."""
import gzip
import hashlib
import math
import os
import pickle
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon_type, declared_types, type_fail  # noqa: E402

REL_TOL = 1e-9
ABS_TOL = 1e-12


def sort_key(v):
    """Order-stable form of a cell: floats rounded so tolerance-equal
    values sort alike; None sorts first."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "nan" if math.isnan(v) else format(v + 0.0, ".9g"))
    if isinstance(v, (list, tuple)):
        return (2, tuple(sort_key(x) for x in v))
    if isinstance(v, dict):
        return (3, tuple((k, sort_key(x)) for k, x in sorted(v.items())))
    return (4, repr(v))


def cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(cells_equal(a[k], b[k]) for k in a)
    return a == b


def load(con, sql: str):
    """(sorted column names, {name: declared type}, rows sorted by value)."""
    types = dict(declared_types(con, sql))
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    rows.sort(key=lambda r: tuple(sort_key(v) for v in r))
    return sorted(cols), types, rows


def passed(status: str) -> bool:
    return status.startswith(("OK", "rows-only"))


def compare(spark, oracle) -> str:
    """'OK (n rows)' or the first difference."""
    (scols, stypes, srows), (ocols, otypes, orows) = spark, oracle
    for side, types in (("SPARK", stypes), ("ORACLE", otypes)):
        bad = type_fail(side, sorted(types.items()))
        if bad:
            return bad
    if scols != ocols:
        return f"SCHEMA MISMATCH spark={scols} oracle={ocols}"
    tdiff = [c for c in scols if canon_type(stypes[c]) != canon_type(otypes[c])]
    if tdiff:
        return "TYPE MISMATCH " + "; ".join(
            f"{c}: spark {stypes[c]} vs oracle {otypes[c]}" for c in tdiff)
    if len(srows) != len(orows):
        return f"ROWCOUNT MISMATCH spark={len(srows)} oracle={len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if not cells_equal(a, b):
            return f"VALUE MISMATCH at sorted row {i}: spark {a!r} vs oracle {b!r} cols {scols}"
    return f"OK ({len(srows)} rows)"


def check(data_dir: Path, results_dir: Path, oracle_sql: dict, cache: Path) -> dict:
    """{query: status} for every query with oracle SQL."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")  # the JVM has exited
    for p in sorted(data_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    cache.mkdir(parents=True, exist_ok=True)
    os.utime(cache)  # most recently used, for pruning
    status = {}
    for q, sql in sorted(oracle_sql.items()):
        out = results_dir / q
        if not out.is_dir():
            status[q] = "MISSING spark result"
            continue
        if sql is None:
            status[q] = "rows-only"
            continue
        try:
            spark = load(con, f"SELECT * FROM '{out}/*.parquet'")
        except Exception as e:  # noqa: BLE001 - reported per query
            status[q] = f"SPARK READ ERROR: {e}"
            continue
        cached = cache / f"{q}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl.gz"
        try:
            if cached.is_file():
                oracle = pickle.loads(gzip.decompress(cached.read_bytes()))
            else:
                oracle = load(con, sql)
                cached.write_bytes(gzip.compress(pickle.dumps(oracle)))
        except Exception as e:  # noqa: BLE001 - reported per query
            status[q] = f"ORACLE SQL ERROR: {str(e)[:300]}"
            continue
        status[q] = compare(spark, oracle)
    return status
