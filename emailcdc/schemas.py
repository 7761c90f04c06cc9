"""Spark StructTypes for the engine's tables.

Mirrors the reference's Avro data model (SURVEY.md §1.2):
- ``EmailMessage``  ← nifi-email-extraction-model/src/main/avro/EmailMessage.avsc
- ``CalendarEntryRecord`` ← .../CalendarEntryRecord.avsc
plus the engine-side tables the north rule adds: change events, sink rows,
attachments, failures, control (manifests / lineage / metrics).

Avro enum ``BodyType[HTML, PLAIN, RTF]`` has no Spark equivalent; we use
StringType and enforce the domain in tests.  NOTE the reference itself
violates its enum for inline parts (writes literal ``text/plain`` /
``text/html`` — AbstractJavaMailProcessor.java:236-262); we reproduce that
quirk bit-for-bit (see extract.py).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- payload schemas (reference parity) ------------------------------------

SENDER_RECEIVER = StructType(
    [
        StructField("name", StringType(), True),
        StructField("email_address", StringType(), True),
    ]
)

BODY = StructType(
    [
        StructField("body", StringType(), True),
        StructField("body_type", StringType(), True),  # PLAIN|HTML|RTF|text/plain|text/html
    ]
)

# attachments embedded back-reference: the reference uses map<string,string>
# with keys filename, mime.type, messageId, folder
# (AbstractJavaMailProcessor.java:192-203).
ATTACHMENT_REF = MapType(StringType(), StringType(), True)

EMAIL_MESSAGE = StructType(
    [
        StructField("bodies", ArrayType(BODY), True),
        StructField("folder", StringType(), True),
        StructField("message_id", StringType(), True),  # nullable union in Avro
        StructField("recipients", ArrayType(SENDER_RECEIVER), True),
        StructField("sender_details", SENDER_RECEIVER, True),
        StructField("subject", StringType(), True),
        StructField("in_reply_to", StringType(), True),
        StructField("headers", MapType(StringType(), StringType()), True),
        StructField("attachments", ArrayType(ATTACHMENT_REF), True),
    ]
)

CALENDAR_ENTRY = StructType(
    [
        StructField("name", StringType(), True),
        StructField("description", StringType(), True),
        StructField("summary", StringType(), True),
        StructField("date_created", TimestampType(), True),
        StructField("start_date", TimestampType(), True),
        StructField("end_date", TimestampType(), True),
        StructField("url", StringType(), True),
        StructField("attendees", ArrayType(StringType()), True),
    ]
)

# --- engine tables ----------------------------------------------------------

# Source snapshot table (BASELINE.json input_hint shape).
REPOS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)

# Change-event stream (binlog/WAL analog of the NiFi FlowFile queue).
CHANGE_EVENTS = StructType(
    [
        StructField("offset", LongType(), False),
        StructField("op", StringType(), False),  # I | U | D
        StructField("ts", TimestampType(), True),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),  # null for D
    ]
)

# Flat extraction output: one row per change event processed.  The
# EmailMessage payload is embedded as a struct; status/error implement the
# reference's error-strategy routing (R2) as columns instead of NiFi
# relationships (SURVEY.md §2.1 R1/R2).
_MSG_FIELDS = [
    StructField("repo", StringType(), False),
    StructField("path", StringType(), False),
    StructField("event_offset", LongType(), True),
    StructField("commit", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("folder", StringType(), True),
    StructField("message_seq", IntegerType(), True),  # position within mbox; 0 for eml
    StructField("message_id", StringType(), True),
    StructField("subject", StringType(), True),
    StructField("sender_details", SENDER_RECEIVER, True),
    StructField("recipients", ArrayType(SENDER_RECEIVER), True),
    StructField("in_reply_to", StringType(), True),
    StructField("headers", MapType(StringType(), StringType()), True),
    StructField("bodies", ArrayType(BODY), True),
    StructField("attachments", ArrayType(ATTACHMENT_REF), True),
    StructField("content_sha256", StringType(), True),
]

MESSAGES = StructType(_MSG_FIELDS)

# Attachment blobs — the reference emits these as separate FlowFiles with
# attributes {filename, mime.type, parent.folder, message.id}
# (AbstractJavaMailProcessor.java:266-288); here a second output DataFrame.
ATTACHMENTS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("event_offset", LongType(), True),
        StructField("message_seq", IntegerType(), True),
        StructField("message_id", StringType(), True),
        StructField("folder", StringType(), True),
        StructField("filename", StringType(), True),
        StructField("mime_type", StringType(), True),
        StructField("size", LongType(), True),
        StructField("sha256", StringType(), True),
        # raw attachment bytes — the reference ships attachment FlowFile
        # CONTENT as bytes (AbstractJavaMailProcessor.java:266-288);
        # base64-in-string (the pre-r5 encoding) cost +33% on every scan
        # and shuffle of this table.  Oracle-facing queries project
        # base64(content) via attachments_b64_view (udfs.py).
        StructField("content", BinaryType(), True),
    ]
)

# Live-state MERGE target (one row per key): carried in the extraction
# envelope (its `snapshot` table) so the commit registers it zero-copy
# like the payload tables — content never leaves the extract stage.
SNAPSHOT = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content_sha256", StringType(), True),
        StructField("last_offset", LongType(), True),
    ]
)

# Dead-letter table (the `failure` relationship, R1).
FAILURES = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("event_offset", LongType(), True),
        StructField("lang", StringType(), True),
        StructField("error", StringType(), True),
        StructField("content_sha256", StringType(), True),
    ]
)

CALENDAR_ENTRIES = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("event_offset", LongType(), True),
    ]
    + list(CALENDAR_ENTRY.fields)
    + [StructField("content_sha256", StringType(), True)]
)

# Per-partition lineage/metrics rows (north rule requirement).
LINEAGE = StructType(
    [
        StructField("batch_id", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows", LongType(), True),
        StructField("min_offset", LongType(), True),
        StructField("max_offset", LongType(), True),
    ]
)
