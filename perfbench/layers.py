"""Single-thread timings of the parse layers on the workload's own winners.

``extract`` is timed per content kind with ``extract_event``; ``udfs`` is
timed with ``_extract_partition`` over the same events as one Arrow batch,
and the difference per event is the Arrow boundary (``to_pylist``,
sha256, envelope assembly) around the extractor.
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa

from emailcdc.extract import extract_event
from emailcdc.udfs import _extract_partition

KINDS = ("eml", "mbox", "ics", "code")
MIN_TIMED_S = 0.1


def kind_of(lang: str) -> str:
    return lang if lang in ("eml", "mbox", "ics") else "code"


def _us_per_event(fn, n: int) -> float:
    """Median over three rounds of µs per event; each round repeats ``fn``
    (which handles ``n`` events) until ``MIN_TIMED_S`` has passed."""
    rounds = []
    for _ in range(3):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= MIN_TIMED_S:
                break
        rounds.append(elapsed / (reps * n) * 1e6)
    return statistics.median(rounds)


def parse_layers(sample: list[dict]) -> dict:
    """``sample``: winning events (dicts with offset, repo, path, commit,
    lang, content).  Kinds absent from the sample report 0."""
    out = {f"extract.{k}_us": 0.0 for k in KINDS}
    if not sample:
        return out | {"udfs.partition_us": 0.0, "udfs.boundary_us": 0.0,
                      "udfs.rows_per_event": 0.0}

    def extract_all(events):
        for w in events:
            extract_event(w["repo"], w["path"], w["offset"], w["commit"],
                          w["lang"], w["content"])

    by_kind: dict[str, list] = {}
    for w in sample:
        by_kind.setdefault(kind_of(w["lang"]), []).append(w)
    for kind, events in by_kind.items():
        out[f"extract.{kind}_us"] = _us_per_event(lambda: extract_all(events),
                                                  len(events))
    batch = pa.RecordBatch.from_pydict({
        "offset": pa.array([w["offset"] for w in sample], pa.int64()),
        **{c: pa.array([w[c] for w in sample], pa.string())
           for c in ("repo", "path", "commit", "lang", "content")}})
    n_rows = sum(b.num_rows for b in _extract_partition(iter([batch]), "continue"))
    partition_us = _us_per_event(
        lambda: list(_extract_partition(iter([batch]), "continue")), len(sample))
    extract_us = _us_per_event(lambda: extract_all(sample), len(sample))
    return out | {"udfs.partition_us": partition_us,
                  "udfs.boundary_us": partition_us - extract_us,
                  "udfs.rows_per_event": n_rows / len(sample)}
