"""Correctness checks, all run outside the timed region.

* Final state: the sink's ``snapshot`` table against an oracle built
  without Spark — DuckDB over the generated parquet, the arg-max offset
  per ``(repo, path)``, deletes dropped.
* Extraction: a seeded sample of winners re-extracted with
  ``extract_event`` and compared with the sink's message, attachment and
  calendar rows for those keys.
* Queries: each query's collected rows hashed with
  ``tools.check_contract.frame_hash`` and compared with the hash of its
  ``oracle_sql()`` run by DuckDB over the same tables.

Every check returns ``(attempted, failed)``; ``failed / attempted`` is the
run's failed share.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb

PAYLOAD_TABLES = ("messages", "attachments", "calendar_entries")


def winners(log_dir: str) -> dict[tuple[str, str], dict]:
    """Live keys of the log at ``log_dir`` → the winning event (offset,
    commit, lang, content and its sha256), read by DuckDB alone."""
    rows = duckdb.sql(f"""
        SELECT repo, path, max("offset") AS last_offset,
               arg_max(op, "offset") AS op, arg_max("commit", "offset") AS "commit",
               arg_max(lang, "offset") AS lang,
               arg_max(content, "offset") AS content,
               sha256(arg_max(content, "offset")) AS sha
        FROM read_parquet('{log_dir}/*.parquet')
        GROUP BY repo, path
    """).fetchall()
    out = {}
    for repo, path, last_offset, op, commit, lang, content, sha in rows:
        if op == "D":
            continue
        out[(repo, path)] = {
            "repo": repo, "path": path, "offset": last_offset, "commit": commit,
            "lang": lang, "content": content, "sha": sha,
        }
    return out


def compare_state(expected: dict, snapshot_rows: list) -> int:
    """Keys whose final state differs: missing, extra, or holding another
    ``(last_offset, content_sha256)`` than the oracle's winner."""
    actual = {(r["repo"], r["path"]): (r["last_offset"], r["content_sha256"])
              for r in snapshot_rows}
    bad = set(expected) ^ set(actual)
    for key, win in expected.items():
        if key in actual and actual[key] != (win["offset"], win["sha"]):
            bad.add(key)
    return len(bad)


def check_state(engine, expected: dict) -> tuple[int, int]:
    rows = engine.table("snapshot").select(
        "repo", "path", "last_offset", "content_sha256").collect()
    failures = engine.table("failures").count()
    return len(expected), compare_state(expected, rows) + failures


def sample_winners(expected: dict, seed: int, k: int) -> list[dict]:
    keys = sorted(expected)
    return [expected[key] for key in random.Random(seed).sample(keys, min(k, len(keys)))]


def _canon(v):
    """A comparable form of a cell from either side: Spark ``Row``s and
    the extractor's dicts, naive and aware datetimes, bytes and
    bytearrays.  Null struct fields are dropped, as the extractor omits
    them."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items() if x is not None))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dt.datetime):
        return round(v.timestamp(), 6)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def check_extraction(engine, sample: list[dict]) -> tuple[int, int]:
    """Re-extract each sampled winner and compare its payload rows, per
    table, with the sink's rows for that key (``_seq`` ignored)."""
    from pyspark.sql import functions as F

    from emailcdc.extract import extract_event

    keys = ["\x1f".join((w["repo"], w["path"])) for w in sample]
    actual: dict[tuple, dict[str, list]] = {}
    for table in PAYLOAD_TABLES:
        df = engine.table(table)
        cols = [c for c in df.columns if c != "_seq"]
        for row in df.filter(F.concat_ws("\x1f", "repo", "path").isin(keys)) \
                .select(*cols).collect():
            actual.setdefault((row["repo"], row["path"]), {}) \
                .setdefault(table, []).append(_canon(row))
    failed = 0
    for w in sample:
        out = extract_event(w["repo"], w["path"], w["offset"], w["commit"],
                            w["lang"], w["content"])
        got = actual.get((w["repo"], w["path"]), {})
        for table in PAYLOAD_TABLES:
            want = sorted((_canon(r) for r in out[table]), key=repr)
            if want != sorted(got.get(table, []), key=repr):
                failed += 1
                break
    return len(sample), failed


def oracle_hashes(sf_dir: str, tables: list[str], names: list[str]) -> dict:
    """Row count, columns and ``frame_hash`` of each query's DuckDB oracle
    over the tables at ``sf_dir``."""
    import __spark_entry__ as entry
    from tools.check_contract import frame_hash

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    out = {}
    for name in names:
        odf = con.execute(oracles[name]).df()
        cols = list(odf.columns)
        rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        out[name] = {"rows": len(rows), "cols": sorted(cols),
                     "hash": frame_hash(cols, rows)}
    return out


def check_queries(expected: dict, results: dict[str, tuple]) -> tuple[int, int]:
    """``results``: query name → (column names, collected rows), compared
    with the oracle's row count, columns and hash."""
    from tools.check_contract import frame_hash

    failed = 0
    for name, (cols, rows) in results.items():
        want = expected[name]
        failed += not (len(rows) == want["rows"] and sorted(cols) == want["cols"]
                       and frame_hash(cols, [list(r) for r in rows]) == want["hash"])
    return len(results), failed


if __name__ == "__main__":
    # The vendored tables are fixed, so their oracle hashes are too.  Some
    # oracles (minhash_near_dups) run for minutes in DuckDB, so the hashes
    # are computed once, here, and stored beside the tables:
    #     python3 -m perfbench.oracle
    import json

    from perfbench.workloads import ORACLE_HASHES, QUERIES, SF_DIR, SF_TABLES

    with open(ORACLE_HASHES, "w") as fh:
        json.dump(oracle_hashes(SF_DIR, SF_TABLES, QUERIES), fh, indent=1, sort_keys=True)
        fh.write("\n")
