"""The workloads and their measured loops.

Each loop repeats its unit of work — a full stream drain, a pass over the
queries — on fresh state until the run's seconds are used, and always
finishes at least one unit.  Medians are taken over every epoch or query
of every unit.  The returned ``Measured`` carries the end-to-end numbers,
the per-layer numbers (only filled in when tracing) and the correctness
tally.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F

from . import layers, load, oracle
from .hostenv import RssSampler
from .trace import TimedEngine, TimedSink, Tracer, tree_size

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ORACLE_HASHES = os.path.join(SF_DIR, "oracle_hashes.json")
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_nation_revenue",
    "topk_orders_per_customer", "lww_last_event_per_user",
    "dedup_exact_documents", "token_stats_documents", "quality_documents",
    "minhash_near_dups", "simhash_documents", "embedding_norms",
    "ann_cosine_topk", "q17_small_quantity", "q22_idle_balances",
]
EXTRACT_SAMPLE = 240
CHECK_SAMPLE = 30


@dataclass(frozen=True)
class Spec:
    kind: str                     # "stream" | "queries"
    langs: tuple = ()
    n_events: int = 0
    n_keys: int = 0
    n_files: int = 0              # offset-ordered source files
    files_per_trigger: int = 0
    compact_every: int = 8        # the sink's default


WORKLOADS = {
    # 5 epochs of 6k events: enough parse work per epoch to show extract
    # and udfs changes next to the per-epoch fixed cost; with
    # compact_every=3 the drain folds once and ends on two deltas
    "stream_tail": Spec("stream", load.EMAIL_MIX, 30_000, 15_000,
                        n_files=10, files_per_trigger=2, compact_every=3),
    "contract_queries": Spec("queries"),
}
# The sink's 64-bucket default is sized for clusters; 16 buckets suit
# the ~10k keys a run holds on a few cores.
N_BUCKETS = 16


def smoke(spec: Spec) -> Spec:
    """A tenth of the events, same number of files and epochs."""
    if spec.kind == "queries":
        return spec
    return replace(spec, n_events=spec.n_events // 10,
                   n_keys=max(spec.n_keys // 10, 7))


@dataclass
class Measured:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)   # phase seconds, for the run info
    attempted: int = 0
    failed: int = 0

    def tally(self, check: tuple[int, int]) -> None:
        self.attempted += check[0]
        self.failed += check[1]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _read_state(engine, tracer: Tracer) -> tuple[float, float]:
    """The user-visible reads: the snapshot and the messages, each reduced
    to a count and an order-free hash.  Returns their wall seconds."""
    def reduce(df, cols):
        return df.select(F.count(F.lit(1)),
                         F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")).collect()
    t0 = time.perf_counter()
    with tracer.span("sink.read_snapshot"):
        reduce(engine.table("snapshot"), ["repo", "path", "last_offset", "content_sha256"])
    t1 = time.perf_counter()
    with tracer.span("sink.read_messages"):
        reduce(engine.table("messages"), ["repo", "path", "event_offset", "message_seq"])
    return t1 - t0, time.perf_counter() - t1


def _engine(spark, spec: Spec, root: str, tracer: Tracer) -> TimedEngine:
    shutil.rmtree(root, ignore_errors=True)
    return TimedEngine(spark, TimedSink(spark, root, tracer, n_buckets=N_BUCKETS,
                                        compact_every=spec.compact_every))


def _cdc_layers(tracer: Tracer, engine: TimedEngine, read_snap, read_msgs) -> dict:
    applies = tracer.named("engine.apply_batch")
    commits = tracer.named("sink.commit")
    commit_s = [c["end"] - c["start"] for c in commits]
    # apply − commit per batch: commits nest inside their apply span
    by_parent = {c["parent"]: c["end"] - c["start"] for c in commits}
    precommit = [a["end"] - a["start"] - by_parent.get(a["id"], 0.0) for a in applies]
    compaction = [c["end"] - c["start"] for c in commits if c.get("compacted")]
    return {
        "engine.apply_batch_s_p50": _median([a["end"] - a["start"] for a in applies]),
        "engine.precommit_s_p50": _median(precommit),
        "sink.commit_s_p50": _median(commit_s),
        "sink.compaction_commit_s": _median(compaction),
        "sink.read_snapshot_s": _median(read_snap),
        "sink.read_messages_s": _median(read_msgs),
        "sink.files_per_batch": statistics.fmean(a["files"] for a in applies),
        "sink.mb_per_batch": statistics.fmean(a["bytes"] for a in applies) / 1e6,
        "sink.mb_total": tree_size(engine.sink.root)[1] / 1e6,
    }


def _check_cdc(m: Measured, engine, log_dir: str, seed: int, traced: bool,
               first_batch) -> None:
    expected = oracle.winners(log_dir)
    m.tally(oracle.check_state(engine, expected))
    m.tally(oracle.check_extraction(engine, oracle.sample_winners(expected, seed, CHECK_SAMPLE)))
    if traced:
        m.layers |= layers.parse_layers(
            oracle.sample_winners(expected, seed + 1, EXTRACT_SAMPLE))
        from emailcdc.udfs import extract_envelope
        t0 = time.perf_counter()
        extract_envelope(first_batch).write.format("noop").mode("overwrite").save()
        m.layers["udfs.envelope_noop_s"] = time.perf_counter() - t0


def run_stream(spark, spec: Spec, seed: int, seconds: float, work: str,
               tracer: Tracer) -> Measured:
    from emailcdc.streaming import run_stream as start_stream
    from emailcdc.streaming import stream_events

    gen_dir, log_dir = os.path.join(work, "gen"), os.path.join(work, "log")
    t_gen = time.perf_counter()
    load.generate_log(spark, gen_dir, spec.n_events, spec.n_keys, spec.langs, seed)
    load.write_offset_ordered(gen_dir, log_dir, spec.n_files)
    m = Measured(info={"generate_s": time.perf_counter() - t_gen})
    drain_s, epochs, read_snap, read_msgs = [], [], [], []
    with RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while True:
            engine = _engine(spark, spec, os.path.join(work, "sink"), tracer)
            ckpt = os.path.join(work, "checkpoint")
            shutil.rmtree(ckpt, ignore_errors=True)
            t0 = time.perf_counter()
            with tracer.span("streaming.drain"):
                query = start_stream(engine, stream_events(
                    spark, log_dir, max_files_per_trigger=spec.files_per_trigger),
                    ckpt, available_now=True)
                query.awaitTermination()
            drain_s.append(time.perf_counter() - t0)
            epochs += [p["durationMs"] for p in query.recentProgress
                       if p["numInputRows"] > 0]
            if tracer.enabled:  # read latency is a per-layer number only
                s, msg = _read_state(engine, tracer)
                read_snap.append(s)
                read_msgs.append(msg)
            if time.perf_counter() >= t_end:
                break
    trigger = [d.get("triggerExecution", 0) / 1000 for d in epochs]
    add_batch = [d.get("addBatch", 0) / 1000 for d in epochs]
    m.e2e = {"work_per_s": spec.n_events * len(drain_s) / sum(drain_s),
             "step_s_p50": _median(trigger)}
    if tracer.enabled:
        m.layers = _cdc_layers(tracer, engine, read_snap, read_msgs) | {
            "streaming.trigger_s_p50": _median(trigger),
            "streaming.add_batch_s_p50": _median(add_batch),
            "streaming.overhead_s_p50": _median([t - a for t, a in zip(trigger, add_batch)]),
            "streaming.epochs": len(epochs) / len(drain_s),
            "process.peak_rss_mb": rss.peak_mb,
        }
    m.info["measure_s"] = sum(drain_s) + sum(read_snap) + sum(read_msgs)
    per_epoch = -(-spec.n_events // spec.n_files) * spec.files_per_trigger
    _check_cdc(m, engine, log_dir, seed, tracer.enabled,
               spark.read.parquet(log_dir).filter(F.col("offset") < per_epoch))
    return m


def run_queries(spark, spec: Spec, seed: int, seconds: float, work: str,
                tracer: Tracer) -> Measured:
    import __spark_entry__ as entry

    qs = entry.queries()
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    results: dict[str, tuple] = {}
    m = Measured()
    pass_s = []
    with RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while True:
            t_pass = time.perf_counter()
            for name in QUERIES:
                t0 = time.perf_counter()
                with tracer.span("query", query=name):
                    df = qs[name](spark, SF_DIR)
                    rows = df.collect()
                times[name].append(time.perf_counter() - t0)
                results[name] = (df.columns, rows)
            pass_s.append(time.perf_counter() - t_pass)
            if time.perf_counter() >= t_end:
                break
    m.e2e = {"work_per_s": len(QUERIES) * len(pass_s) / sum(pass_s),
             "step_s_p50": _median([t for ts in times.values() for t in ts])}
    m.info["measure_s"] = sum(pass_s)
    if tracer.enabled:
        m.layers = {f"query.{n}_s": _median(times[n]) for n in QUERIES} | {
            "process.peak_rss_mb": rss.peak_mb}
    with open(ORACLE_HASHES) as fh:
        m.tally(oracle.check_queries(json.load(fh), results))
    return m


RUNNERS = {"stream": run_stream, "queries": run_queries}
