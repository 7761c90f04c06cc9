"""Spark-side vectorized extraction stage.

One ``mapInArrow`` pass over a change-event micro-batch produces an
*envelope* DataFrame carrying every output table (``ENVELOPE_TABLES``:
messages / attachments / calendar_entries / failures / snapshot) as
nullable structs — the Spark analog of the reference's multi-relationship
fan-out (AbstractExtractEmailProcessor.java:16-32, SURVEY.md §2.1 R1)
without parsing the content once per table.
The engine writes it flat and the sink filters it by ``record_type``;
``split_envelope`` serves only the contract queries and tests.

Scale notes (100 TB design):
- Only ``offset, repo, path, commit, lang, content`` (and ``op`` when the
  input has one) cross the Arrow boundary — project before calling
  (keeps the Python worker payload minimal; Catalyst prunes the parquet
  scan to those columns).
- The pass is embarrassingly parallel: no shuffle is introduced here; the
  caller controls partitioning (salted repartition for hot repos happens
  upstream in engine.py).
- Output rows are assembled COLUMNARLY and handed to Arrow directly
  (``pa.array`` on per-type record lists → one RecordBatch), skipping the
  pandas object-column round trip entirely — pandas→Arrow struct
  conversion was ~35% of the parse stage's wall time (VERDICT r2 #6).
- Attachment bytes are emitted as BinaryType (the reference's
  FlowFile-content model, AbstractJavaMailProcessor.java:266-288);
  ``attachments_b64_view`` provides the base64 string projection for
  DuckDB-oracle-facing contract queries.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType

from . import schemas
from .extract import extract_event, sha256_hex

# The envelope's table vocabulary: each output table and its row schema,
# in envelope order.  ENVELOPE holds ``record_type`` (the row's table name)
# plus one nullable struct column per table, named after that table.
ENVELOPE_TABLES = {
    "messages": schemas.MESSAGES,
    "attachments": schemas.ATTACHMENTS,
    "calendar_entries": schemas.CALENDAR_ENTRIES,
    "failures": schemas.FAILURES,
    # one snapshot row per upsert event (the MERGE target), so the
    # commit registers the snapshot delta zero-copy too — sha256 runs
    # here (hashlib, C-speed) instead of a second JVM pass over the
    # cached winners at commit time (VERDICT r2 #9)
    "snapshot": schemas.SNAPSHOT,
}
# Record type of a delete winner's tombstone: its ``snapshot`` struct holds
# only repo, path and last_offset (the sink's key-visibility journal).
TOMBSTONE = "_delete"
ENVELOPE = StructType(
    [StructField("record_type", StringType(), False)]
    + [StructField(t, s, True) for t, s in ENVELOPE_TABLES.items()]
)

_EXTRACT_COLS = ["offset", "repo", "path", "commit", "lang", "content"]


def _arrow_envelope_schema() -> "pa.Schema":
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(ENVELOPE)


def _extract_partition(
    batches: Iterator["pa.RecordBatch"], error_strategy: str,
    missing_field_strategy: str = "empty",
    missing_field_substitution: str | None = None,
    has_folder: bool = False,
) -> Iterator["pa.RecordBatch"]:
    arrow_schema = _arrow_envelope_schema()
    types = {f.name: f.type for f in arrow_schema}
    for batch in batches:
        col = {n: batch.column(n).to_pylist()
               for n in ("offset", "repo", "path", "commit", "lang", "content")}
        folders = (batch.column("_folder").to_pylist() if has_folder
                   else [None] * batch.num_rows)
        ops = (batch.column("op").to_pylist() if "op" in batch.schema.names
               else [None] * batch.num_rows)
        # columnar assembly: one list per envelope column, dicts straight
        # into pa.array (C++-side struct building — no pandas objects)
        rts: list[str] = []
        cols: dict[str, list] = {t: [] for t in ENVELOPE_TABLES}
        for offset, repo, path, commit, lang, content, folder, op in zip(
            col["offset"], col["repo"], col["path"], col["commit"],
            col["lang"], col["content"], folders, ops
        ):
            if op == "D":  # no content, no parse: one tombstone
                rts.append(TOMBSTONE)
                for c in cols:
                    cols[c].append({"repo": repo, "path": path,
                                    "last_offset": int(offset)}
                                   if c == "snapshot" else None)
                continue
            sha = sha256_hex(content) if content is not None else None
            result = extract_event(
                repo, path, int(offset), commit, lang, content,
                error_strategy=error_strategy,
                missing_field_strategy=missing_field_strategy,
                missing_field_substitution=missing_field_substitution,
                folder_override=folder,
                content_sha256=sha,
            )
            result["snapshot"] = [{
                "repo": repo, "path": path, "commit": commit, "lang": lang,
                "content_sha256": sha, "last_offset": int(offset),
            }]
            for table in ENVELOPE_TABLES:
                for rec in result[table]:
                    rts.append(table)
                    for c in cols:
                        cols[c].append(rec if c == table else None)
        arrays = [pa.array(rts, type=pa.string())]
        arrays += [pa.array(cols[t], type=types[t]) for t in ENVELOPE_TABLES]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def extract_envelope(events: DataFrame, error_strategy: str = "continue",
                     missing_field_strategy: str = "empty",
                     missing_field_substitution: str | None = None,
                     folder_expression: str | None = None) -> DataFrame:
    """events(offset,repo,path,commit,lang,content,...) → envelope frame.

    When ``events`` has an ``op`` column, each ``D`` event becomes one
    ``TOMBSTONE`` record instead of being parsed.

    ``folder_expression`` — FOLDER_IDENTIFIER as a Spark SQL expression
    over the event columns (e.g. ``concat(repo, '/', path)``), evaluated
    JVM-side BEFORE the Arrow boundary so the Python worker receives the
    finished string (AbstractJavaMailProcessor.java:58-67 EL analog)."""
    cols = _EXTRACT_COLS + (["op"] if "op" in events.columns else [])
    if folder_expression is not None:
        projected = events.select(
            *cols, F.expr(folder_expression).cast("string").alias("_folder"))
    else:
        projected = events.select(*cols)
    return projected.mapInArrow(
        lambda it: _extract_partition(
            it, error_strategy, missing_field_strategy,
            missing_field_substitution, folder_expression is not None),
        schema=ENVELOPE,
    )


def split_envelope(envelope: DataFrame) -> dict[str, DataFrame]:
    """Envelope → one typed frame per table (reference relationships)."""
    return {t: envelope.filter(F.col("record_type") == t).select(f"{t}.*")
            for t in ENVELOPE_TABLES}


def attachments_b64_view(attachments: DataFrame) -> DataFrame:
    """Oracle-facing contract view of the attachments table: the raw
    BinaryType ``content`` column projected as base64 text
    (``content_b64``) so string-only comparison surfaces (DuckDB oracles,
    JSON exports) can consume it.  The base table keeps raw bytes — the
    +33% base64 tax is paid only where a string is actually required,
    never on the table's own scans/shuffles."""
    return attachments.withColumn(
        "content_b64", F.base64("content")).drop("content")
