"""Local replica of the driver's correctness gate: run every queries()
entry at a given SF dir, run the matching oracle_sql() in DuckDB over the
same parquet views, compare row count + column names + order-insensitive
value hash.  Usage: python tools/check_contract.py [sf_dir] [name ...]
``check_query`` is the one per-query compare; tests/test_contract.py runs
it too.
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, ".")

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from emailcdc.session import get_spark  # noqa: E402

# the oracle scale's tables (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# oracle output types that DuckDB's pandas conversion renders as float64
# (so `3` hashes as "3.0" driver-side while Spark emits "3") — the r1-r4
# user_sessions/json_props/rolling_hour red class.  Any oracle column with
# one of these dtypes is a guaranteed driver hash-red even when fetchall()
# compares equal; fail it loudly here.
_FORBIDDEN_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def norm_cell(v, float_fmt="%.9g"):
    if hasattr(v, "ndim") and getattr(v, "ndim", 0) > 0:  # numpy array
        v = v.tolist()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v) if float_fmt == "repr" else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x, float_fmt) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{k}:{norm_cell(v[k], float_fmt)}" for k in sorted(v)) + "}"
    return str(v)


def frame_hash(cols, rows, float_fmt="%.9g"):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i], float_fmt) for i in order) for r in rows
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _has_float(rows):
    """True if any cell (recursively) is a float — i.e. the hash surface
    carries IEEE doubles whose cross-engine equality is at the mercy of
    last-ulp arithmetic + the driver's normalization choice."""
    def scan(v):
        if isinstance(v, float):
            return True
        if isinstance(v, (list, tuple)):
            return any(scan(x) for x in v)
        if isinstance(v, dict):
            return any(scan(x) for x in v.values())
        return False
    return any(scan(c) for r in rows for c in r)


def open_oracle(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(spark, con, sf_dir: str, name: str,
                canary: bool = False) -> tuple[bool, str]:
    """Run ``queries()[name]`` at ``sf_dir`` and ``oracle_sql()[name]`` on
    ``con``; compare row count, column names and order-insensitive value
    hash.  Returns (passed, report)."""
    t0 = time.time()
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        # canonicalize through pandas like the driver does (a NULL in
        # an integer column becomes NaN on BOTH engines' frames, and
        # dtype coercions surface symmetrically)
        spdf = sdf.toPandas()
        scols = list(spdf.columns)
        srows = [tuple(r) for r in spdf.itertuples(index=False,
                                                   name=None)]
    except Exception as exc:  # noqa: BLE001
        return False, f"FAIL {name}: spark error: {exc}"
    dt = time.time() - t0
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        report = f"ROWS-ONLY {name}: {len(srows)} rows in {dt:.1f}s"
        if len(srows) == 0 and name not in ("embedding_near_dups",):
            report += "\n  WARNING: zero rows"
        return True, report
    try:
        # dtype guard: the driver canonicalizes through pandas, where
        # HUGEINT/DECIMAL render as float64 ("3" -> "3.0") — a class
        # invisible to fetchall() (exact Python ints).  DESCRIBE the
        # oracle and fail on any forbidden output dtype.
        desc = con.execute("DESCRIBE " + oracles[name]).fetchall()
        bad = [(c, t) for c, t, *_ in desc
               if any(f in t.upper() for f in _FORBIDDEN_ORACLE_TYPES)]
        if bad:
            return False, (f"FAIL {name}: oracle dtype would hash as float64 "
                           f"driver-side: {bad} — CAST(... AS BIGINT) it")
        # fetch via .df() (pandas) — the driver's canonicalization
        # path — NOT fetchall(), which converts HUGEINT to exact
        # Python int and hid the r1-r4 red class from this gate.
        odf = con.execute(oracles[name]).df()
        ocols = list(odf.columns)
        orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
    except Exception as exc:  # noqa: BLE001
        return False, f"FAIL {name}: duckdb error: {exc}"
    ok_count = len(srows) == len(orows)
    ok_cols = sorted(scols) == sorted(ocols)
    s_cells = [list(r) for r in srows]
    ok_hash = frame_hash(scols, s_cells) == frame_hash(ocols, orows)
    passed = ok_count and ok_cols and ok_hash
    status = "OK" if passed else "FAIL"
    note = ""
    if canary and passed:
        # re-hash under a SECOND float canonicalization (full repr vs
        # the default %.9g): a query that only matches because %.9g
        # hides a last-ulp divergence is float-luck — it can flip under
        # a different driver normalization or engine build (the
        # user_sessions r1-r3 class).  Integer-pure surfaces are immune.
        strict_ok = (frame_hash(scols, s_cells, "repr")
                     == frame_hash(ocols, orows, "repr"))
        has_f = _has_float(s_cells) or _has_float(orows)
        if not strict_ok:
            passed = False
            note = "  CANARY-FLAKY: %.9g hides a last-ulp float divergence"
        elif has_f:
            note = "  canary: floats on hash surface (repr-stable today)"
    report = (f"{status} {name}: rows {len(srows)}/{len(orows)} cols={ok_cols} "
              f"hash={ok_hash} ({dt:.1f}s){note}")
    if status == "FAIL" and ok_cols and ok_count:
        # show first differing row for debugging
        order = sorted(scols)
        s_map = {c: i for i, c in enumerate(scols)}
        s_lines = sorted(tuple(norm_cell(r[s_map[c]]) for c in order) for r in srows)
        o_map = {c: i for i, c in enumerate(ocols)}
        o_lines = sorted(tuple(norm_cell(r[o_map[c]]) for c in order) for r in orows)
        for a, b in zip(s_lines, o_lines):
            if a != b:
                report += f"\n  spark : {a}\n  duckdb: {b}"
                break
    elif status == "FAIL" and not ok_cols:
        report += f"\n  spark cols: {sorted(scols)}\n  duck  cols: {sorted(ocols)}"
    return passed, report


def main():
    argv = [a for a in sys.argv[1:] if a != "--canary"]
    canary = "--canary" in sys.argv[1:]
    sf_dir = argv[0] if argv else SF_DIR
    only = set(argv[1:])
    spark = get_spark(app="contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = open_oracle(sf_dir)
    failures = 0
    for name in entrymod.queries():
        if only and name not in only:
            continue
        passed, report = check_query(spark, con, sf_dir, name, canary)
        print(report)
        failures += not passed
    con.close()
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
