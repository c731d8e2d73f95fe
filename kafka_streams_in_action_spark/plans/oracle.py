"""The oracle gate: how a registered query's Spark output is compared with
its DuckDB oracle. Used by tests/test_oracle.py (sf0.001, every pytest
run), tests/test_streaming.py and scripts/driver_sim.py (the sf0.01
gate), so every caller enforces one contract:

1. Type audit. Each oracle column's DuckDB type must map to the Spark
   dtype of the same column, and HUGEINT / UHUGEINT / DECIMAL are banned
   outright: a type-sensitive result hash once failed exactly the two
   oracles that emitted HUGEINT (an un-cast integer ``sum()``), while
   ``str()``-based comparison hid the difference. The convention is to
   CAST to BIGINT / DOUBLE in the oracle SELECT.
2. The 6-decimal check (the driver's contract). Same column names, same
   row count, and the same rows as a multiset, compared column-by-name
   in ``canonical`` form: doubles rounded to 6 decimals, bytes as hex,
   None as a sentinel.
3. Bit drift. The rows must also agree in every double's IEEE-754 bit
   pattern. Oracles follow the engine-exact float recipes
   (integer-quantized sums, correctly rounded div/sqrt), so a double
   that matches at 6 decimals but not bit for bit is a recipe violation.

NaN equals NaN and -0.0 equals 0.0 in both comparisons.
"""

from __future__ import annotations

import math
import struct

#: The testdata tables every oracle may read, one parquet file each.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Spark simpleString dtype -> acceptable DuckDB base type names.
_SPARK_TO_DUCK = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "tinyint": {"TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT", "REAL"},
    "boolean": {"BOOLEAN"},
    "string": {"VARCHAR"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "binary": {"BLOB"},
}

# DuckDB types that hash differently from any Spark output representation.
_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "DECIMAL")


def connect(sf_dir: str):
    """A DuckDB connection with one view per testdata table of `sf_dir`."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def type_mismatches(spark_dtypes, duck_cols, duck_types) -> list[str]:
    """Human-readable type-audit problems (empty = clean).

    spark_dtypes: (name, simpleString) pairs from DataFrame.dtypes;
    duck_cols / duck_types: a DuckDB relation's .columns / .types."""
    problems = []
    dmap = {c: str(t).upper() for c, t in zip(duck_cols, duck_types)}
    for col, dtyp in dmap.items():
        if dtyp.split("(")[0].strip() in _BANNED_DUCK:
            problems.append(
                f"column {col!r}: DuckDB {dtyp} is banned (CAST it in the "
                f"oracle SELECT — BIGINT for integer sums, DOUBLE for "
                f"decimal literals)")
    for col, styp in spark_dtypes:
        allowed = _SPARK_TO_DUCK.get(styp)
        if col not in dmap or allowed is None:
            # a name mismatch fails the value compare; arrays and
            # structs never appear in oracle outputs
            continue
        dtyp = dmap[col]
        if dtyp not in allowed and dtyp.split("(")[0] not in allowed:
            problems.append(
                f"column {col!r}: spark={styp} but oracle emits "
                f"DuckDB {dtyp} (want one of {sorted(allowed)})")
    return problems


def _round6(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 6) + 0.0:.6f}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _bits(v) -> str:
    """A double's IEEE-754 bit pattern (NaN collapsed, -0.0 folded into
    0.0); any other value's exact `_round6` text."""
    if isinstance(v, float) and not math.isnan(v):
        return struct.pack(">d", v + 0.0).hex()
    return _round6(v)


def _sorted_rows(rows, cols, form) -> list[tuple[str, ...]]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(form(r[i]) for i in idx) for r in rows)


def canonical(rows, colnames) -> list[tuple[str, ...]]:
    """Order-insensitive canonical form: columns sorted by name, values
    in 6-decimal text, rows sorted."""
    return _sorted_rows(rows, colnames, _round6)


def compare_rows(s_cols, s_rows, d_cols, d_rows):
    """(failure, drift) of Spark rows against oracle rows: `failure`
    names the first broken 6-decimal contract (column names, row count,
    values) and `drift` the first bit-level double differences; None
    where the contract holds. Drift is only looked for once the
    6-decimal check passes."""
    if sorted(s_cols) != sorted(d_cols):
        return f"column names differ: spark={s_cols} duckdb={d_cols}", None
    if len(s_rows) != len(d_rows):
        return (f"row counts differ: spark={len(s_rows)} "
                f"duckdb={len(d_rows)}"), None
    cs, cd = canonical(s_rows, s_cols), canonical(d_rows, d_cols)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        return f"value mismatch, first diffs: {diffs}", None
    bs = _sorted_rows(s_rows, s_cols, _bits)
    bd = _sorted_rows(d_rows, d_cols, _bits)
    if bs != bd:
        diffs = [(a, b) for a, b in zip(bs, bd) if a != b][:3]
        return None, (f"floats match at 6 decimals but not bit for bit, "
                      f"first bit diffs: {diffs}")
    return None, None


def compare(sdf, con, sql):
    """(failure, drift) of DataFrame `sdf` against oracle `sql` on the
    DuckDB connection `con`: the type audit, then compare_rows."""
    rel = con.sql(sql)
    problems = type_mismatches(sdf.dtypes, rel.columns, rel.types)
    if problems:
        return f"oracle type audit: {problems}", None
    return compare_rows(sdf.columns, [tuple(r) for r in sdf.collect()],
                        rel.columns, rel.fetchall())
