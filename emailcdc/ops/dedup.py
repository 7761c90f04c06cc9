"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design:
- Exact dedup is a hash-groupBy (one shuffle on a 64-bit digest — the
  minimum possible; AQE coalesces post-shuffle partitions).
- MinHash signatures are pure Catalyst higher-order functions +
  ``xxhash64`` (seeded per permutation) — no Python, no shuffle.  SimHash
  is an Arrow-batched numpy pandas UDF (bit-majority over a token×bit
  matrix; vectorized C beats interpreted HOF lambdas ~10×).  LSH banding
  explodes b bands per doc and groups on (band, band_hash): candidate
  generation shuffles O(b·N) small rows instead of O(N²) comparisons;
  verification runs only inside buckets.
- Pairwise verification (Jaccard / cosine) happens on the candidate set,
  which is orders of magnitude smaller than the cross product.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the LSH bucket cap when a caller passes max_bucket=None, so one
# degenerate bucket's quadratic pair count stays bounded
MAX_BUCKET_CAP = 10_000


# --- exact -------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Duplicate clusters: content hash → count + keeper id (SQL-oracle
    friendly aggregation form)."""
    digest = F.sha2(F.concat_ws("\x1f", *cols), 256).alias("content_hash")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keeper_id"),
        )
    )


# --- MinHash + LSH ------------------------------------------------------------

def _minhash_batch(texts, n_hashes: int, shingle_n: int, seed: int = 42):
    """numpy MinHash over one Arrow batch.

    Base shingle hash = crc32 pair (64-bit, deterministic, C-speed);
    permutation i = (a_i · h + b_i) mod 2^64 with seeded odd multipliers —
    the standard affine family.  O(shingles × n_hashes) vectorized ops per
    doc; an earlier Catalyst HOF formulation (transform/aggregate with
    xxhash64 per (perm, shingle)) ran interpreted per element and was two
    orders of magnitude slower at 5k docs."""
    import zlib

    import numpy as np

    rs = np.random.RandomState(seed)
    A = (rs.randint(1, 2**62, size=n_hashes, dtype=np.uint64) * 2 + 1)  # odd
    B = rs.randint(0, 2**62, size=n_hashes, dtype=np.uint64)
    empty = [int(np.iinfo(np.int64).max)] * n_hashes
    out = []
    from .textstats import ascii_ws_tokens
    with np.errstate(over="ignore"):
        for text in texts:
            toks = ascii_ws_tokens(text)
            if not toks:
                out.append(empty)
                continue
            if len(toks) < shingle_n:
                shingle_strs = [" ".join(toks)]
            else:
                shingle_strs = [" ".join(toks[i:i + shingle_n])
                                for i in range(len(toks) - shingle_n + 1)]
            base = np.fromiter(
                (
                    (zlib.crc32(s.encode("utf-8", "ignore")) << 32)
                    | zlib.crc32(s[::-1].encode("utf-8", "ignore") + b"\x01")
                    for s in shingle_strs
                ),
                dtype=np.uint64, count=len(shingle_strs),
            )
            sig = (base[:, None] * A[None, :] + B[None, :]).min(axis=0)
            out.append(sig.astype(np.int64).tolist())
    return out


def minhash_band_buckets(col, n_hashes: int = 64, bands: int = 16,
                         shingle_n: int = 5) -> Column:
    """``bands``-long array of band-bucket hashes, computed INSIDE the
    signature UDF (numpy row-fold of each band's r signature values).

    The previous formulation banded with Catalyst HOFs
    (explode(transform(sequence, slice+concat_ws+xxhash))) — those
    lambdas evaluate INTERPRETED per element, and banding a 128-long
    signature into 64 buckets measured ~4.5 s for 5k docs, 35× the
    signature computation itself.  Folding the buckets in the same
    Arrow batch is a handful of vectorized ops; the driver-side plan
    then only posexplodes a ready array.  Bucket equality is implied by
    band-tuple equality (a deterministic 64-bit polynomial fold);
    collisions can only ADD candidates, which verification removes."""
    from pyspark.sql.types import ArrayType, LongType

    assert n_hashes % bands == 0
    r = n_hashes // bands

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        import numpy as np
        sigs = _minhash_batch(texts, n_hashes, shingle_n)
        out = []
        with np.errstate(over="ignore"):
            for sig in sigs:
                m = np.asarray(sig, dtype=np.uint64).reshape(bands, r)
                acc = np.full(bands, np.uint64(1469598103934665603))  # FNV
                for j in range(r):
                    acc = (acc ^ m[:, j]) * np.uint64(1099511628211)
                out.append(acc.astype(np.int64).tolist())
        return pd.Series(out)

    return _udf(F.col(col) if isinstance(col, str) else col)


def minhash_lsh_candidates(
    df: DataFrame, text_col: str, id_col: str,
    n_hashes: int = 64, bands: int = 16, shingle_n: int = 5,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows_per_band = n_hashes / bands; docs sharing any band bucket become a
    candidate pair (id_a < id_b).  Output: (id_a, id_b) distinct.
    ``max_bucket`` caps degenerate buckets (see _bucket_pairs)."""
    assert n_hashes % bands == 0
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            minhash_band_buckets(text_col, n_hashes, bands, shingle_n)
        ).alias("band", "bucket"),
    )
    return _bucket_pairs(banded, ["band", "bucket"], max_bucket)


def _bucket_pairs(banded: DataFrame, keys: list[str],
                  max_bucket: int | None) -> DataFrame:
    """(_id, *keys) bucket rows → distinct candidate (id_a < id_b) pairs.

    ONE hash-aggregate shuffle: groupBy(bucket key) → sorted member array,
    buckets of 1 member and degenerate buckets (> max_bucket) filtered
    out BEFORE any pair is emitted, pairs generated by posexplode + slice
    of the member array.  The degenerate-bucket cap bounds the quadratic
    within-bucket pair count: at 10^9 docs one bucket holding every
    empty-text doc is a job-killer, and members of a bucket that large
    are overwhelmingly mutual near-dups discoverable through their OTHER
    bands, so dropping the bucket (not the docs) costs negligible recall.
    The previous shape — window count over the bucket key, then a
    sort-merge SELF-join of the banded rows, behind an eager
    localCheckpoint so the signature UDF would not run once per join
    alias — cost three passes over O(bands·N) rows (checkpoint write,
    window sort, SMJ sort×2); the aggregate form reads them once, sorts
    nothing (hash agg), needs no checkpoint (single consumer), and emits
    exactly the same pair set (measured 7.4 s → 2.6 s for the candidate
    stage at 50k docs × 64 bands).  ``max_bucket=None`` is the module's
    hard cap ``MAX_BUCKET_CAP``, never unbounded."""
    if max_bucket is None:
        max_bucket = MAX_BUCKET_CAP
    grouped = (
        banded.groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids").between(2, max_bucket))
    )
    exploded = grouped.select(
        "_ids", F.posexplode("_ids").alias("_i", "id_a"))
    return (
        exploded.select(
            "id_a",
            F.explode(F.slice(F.col("_ids"), F.col("_i") + 2,
                              F.size("_ids"))).alias("id_b"))
        .distinct()
    )


def ngram_jaccard(df: DataFrame, text_col: str, id_col: str,
                  pairs: DataFrame, shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate (id_a, id_b) pairs.

    Verification stage after LSH: shingle sets are computed ONLY for
    documents that appear in a candidate pair (left-semi join before the
    HOF shingling) — at LSH-selectivity the candidate id set is orders of
    magnitude smaller than the corpus, and the shingle HOF is the
    expensive expression here, so verification cost scales with the
    candidates, not the corpus."""
    from .textstats import shingle_array
    cand_ids = (pairs.select(F.col("id_a").alias("_id"))
                .unionByName(pairs.select(F.col("id_b").alias("_id")))
                .distinct())
    sets = (
        # shingle_array (Arrow-batched) is value-identical to
        # array_distinct(shingles(...)) but the HOF form evaluates its
        # lambda interpreted per shingle — the r4 lesson, applied here too
        df.join(cand_ids, F.col(id_col) == F.col("_id"), "left_semi")
        .select(
            F.col(id_col).alias("_id"),
            shingle_array(text_col, shingle_n).alias("_set"),
        )
    )
    return (
        pairs.join(sets.withColumnRenamed("_id", "id_a").withColumnRenamed("_set", "set_a"), "id_a")
        .join(sets.withColumnRenamed("_id", "id_b").withColumnRenamed("_set", "set_b"), "id_b")
        .select(
            "id_a", "id_b",
            (
                F.size(F.array_intersect("set_a", "set_b"))
                / F.greatest(F.size(F.array_union("set_a", "set_b")), F.lit(1))
            ).alias("jaccard"),
        )
    )


def minhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  threshold: float = 0.8, n_hashes: int = 64,
                  bands: int = 16, shingle_n: int = 5) -> DataFrame:
    """Near-duplicate pairs with verified Jaccard ≥ threshold.

    The candidate frame is EAGERLY materialized (localCheckpoint):
    verification references it three times (id_a semi side, id_b semi
    side, the final pair join), and a lazy persist() races — the three
    references can fan out as concurrent stages inside ONE job and each
    recompute the whole signature → banding → self-join pipeline before
    any partition lands in the cache (observed: the r4 driver bench ran
    this query 16% SLOWER after the lazy persist landed).  An eager
    localCheckpoint runs the pipeline exactly once, truncates the
    lineage, and its blocks are reference-tracked by the ContextCleaner
    (no unpersist leak across long-lived sessions — ADVICE r4).
    Candidates are (id, id) pairs only — O(LSH selectivity), orders of
    magnitude below the corpus — so materialization cost is negligible
    at any scale."""
    cands = minhash_lsh_candidates(df, text_col, id_col, n_hashes, bands,
                                   shingle_n).localCheckpoint(eager=True)
    verified = ngram_jaccard(df, text_col, id_col, cands, shingle_n)
    return verified.filter(F.col("jaccard") >= threshold)


# --- SimHash --------------------------------------------------------------------

def _simhash_chunks_batch(texts, n_chunks: int = 4, bits: int = 60):
    """numpy SimHash over one Arrow batch.

    Token hash = first 15 hex chars of sha256 (60 bits) — the shared
    Spark/DuckDB hash primitive (see textstats.hash60), so the whole
    signature is reproducible by a pure-SQL oracle; bit-majority runs
    vectorized via a (tokens × bits) matrix."""
    import hashlib

    import numpy as np

    chunk_bits = bits // n_chunks
    bit_idx = np.arange(bits, dtype=np.uint64)
    out = []
    # token→hash memo across the whole Arrow batch: corpus token reuse is
    # high (stopwords dominate), so most sha256 calls repeat — hash each
    # DISTINCT token once and weight its bit votes by the occurrence
    # count (mathematically identical majority)
    from .textstats import ascii_ws_tokens
    memo: dict[str, int] = {}
    for text in texts:
        toks = ascii_ws_tokens(text)
        if not toks:
            out.append([0] * n_chunks)
            continue
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        hs_list = []
        for t in counts:
            h = memo.get(t)
            if h is None:
                h = int(hashlib.sha256(
                    t.encode("utf-8", "ignore")).hexdigest()[:15], 16)
                memo[t] = h
            hs_list.append(h)
        hs = np.fromiter(hs_list, dtype=np.uint64, count=len(hs_list))
        w = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
        bit_matrix = ((hs[:, None] >> bit_idx[None, :]) & 1).astype(np.int64)
        majority = (((2 * bit_matrix - 1) * w[:, None]).sum(axis=0)
                    > 0).astype(np.uint64)
        chunks = []
        for c in range(n_chunks):
            seg = majority[c * chunk_bits:(c + 1) * chunk_bits]
            chunks.append(int((seg << np.arange(chunk_bits, dtype=np.uint64)).sum()))
        out.append(chunks)
    return out


def simhash_chunks(col, n_chunks: int = 4, bits: int = 60) -> Column:
    """SimHash as an array of ``n_chunks`` (bits/n_chunks)-bit longs.

    Classic SimHash: bit b of the signature is the majority of bit b over
    the per-token hashes.  Computed as an Arrow-batched pandas UDF over
    numpy (the per-token × per-bit matrix is exactly a vectorized popcount
    workload; a pure-Catalyst HOF formulation was ~60× slower because each
    of the bit-aggregations runs interpreted per token).  60-bit signatures
    (15 sha256 hex chars per token) keep every intermediate inside a signed
    long in both Spark and the DuckDB oracle.  The chunked representation
    doubles as the hamming-LSH banding key: two docs within hamming
    distance < n_chunks share at least one chunk (pigeonhole)."""
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        return pd.Series(_simhash_chunks_batch(texts, n_chunks, bits))

    return _udf(F.col(col) if isinstance(col, str) else col)


# --- embedding near-dup -----------------------------------------------------------

def cosine_sim(a, b) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / F.greatest(na * nb, F.lit(1e-12))


def hyperplane_weights(seed: int, n_tables: int, n_bits: int,
                       dim: int) -> list[list[list[float]]]:
    """Deterministic ±1 hyperplane weights, w[t][b][d] from the low bit of
    sha256(f"{seed}:{t}:{b}:{d}").  sha256 is the shared Spark/DuckDB/
    Python primitive, so the identical planes can be re-derived by the SQL
    oracle and by independent reimplementations."""
    import hashlib

    return [
        [
            [
                1.0 if int(hashlib.sha256(
                    f"{seed}:{t}:{b}:{d}".encode()).hexdigest()[:2], 16) & 1
                else -1.0
                for d in range(dim)
            ]
            for b in range(n_bits)
        ]
        for t in range(n_tables)
    ]


def embedding_near_dup(df: DataFrame, vec_col: str, id_col: str,
                       threshold: float = 0.95, dim: int = 64,
                       n_tables: int = 6, n_bits: int = 8, seed: int = 42,
                       max_bucket: int | None = 1024) -> DataFrame:
    """Embedding cosine near-dup via BANDED random-hyperplane LSH + exact
    cosine verification inside buckets.

    Scale shape (mirrors the MinHash banding): ``n_tables`` independent
    hash tables of ``n_bits`` planes each.  A pair is a candidate if it
    collides in ANY table — recall ≈ 1-(1-(1-θ/π)^n_bits)^n_tables grows
    with tables while each table's buckets stay small (2^n_bits cells per
    table, and the corpus spreads over n_tables × 2^n_bits cells overall
    instead of one global 2^n table whose per-bucket self-join goes
    quadratic).  Degenerate buckets (an all-zeros embedding cluster) are
    additionally capped by ``max_bucket``.

    The ±1 plane weights come from sha256 (``hyperplane_weights``), the
    projection is a sequential JVM fold — both exactly reproducible by the
    DuckDB oracle (list_dot_product against the same literal planes)."""
    ws = hyperplane_weights(seed, n_tables, n_bits, dim)

    # Projections as a numpy pandas_udf that REPLICATES the sequential
    # fold bit-for-bit: the accumulation loops over dimensions in order
    # (acc += v_d * w_d), vectorized across rows × planes, so each
    # (row, plane) sum performs the identical IEEE multiply-add sequence
    # the previous Catalyst aggregate(zip_with(...)) fold did — and the
    # DuckDB oracle's list fold still matches.  The HOF form evaluated
    # its lambdas interpreted: 48 planes × 64 dims per row measured ~4 s
    # for 4k rows; the numpy form is dim fused-multiply-add passes.
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np
        planes = np.asarray(ws, dtype=np.float64).reshape(
            n_tables * n_bits, dim).T          # (dim, planes)
        bit_w = 2 ** np.arange(n_bits - 1, -1, -1, dtype=np.int64)
        out = []
        clean, idx = [], []
        for i, v in enumerate(vecs):
            out.append([0] * n_tables)          # null/ragged → bucket 0
            if v is not None and len(v) == dim:
                clean.append(np.asarray(v, dtype=np.float64))
                idx.append(i)
        if clean:
            V = np.stack(clean)                  # (n, dim)
            acc = np.zeros((len(V), n_tables * n_bits))
            for d in range(dim):                 # sequential over dims
                acc += V[:, d:d + 1] * planes[d:d + 1, :]
            bits = (acc > 0).reshape(len(V), n_tables, n_bits)
            buckets = (bits * bit_w).sum(axis=2)
            for row, i in zip(buckets, idx):
                out[i] = row.tolist()
        return pd.Series(out)

    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    # candidate pairs carry only ids — the (wide) vectors never ride the
    # banding shuffle; they join back onto the (small) verified-candidate
    # set.  _bucket_pairs consumes the projection UDF exactly once (one
    # groupBy), so no banded-row checkpoint is needed; the PAIRS are
    # eagerly materialized (localCheckpoint) because the verification
    # joins reference the frame twice — a lazy persist can recompute the
    # whole pipeline per reference before the cache fills, and never
    # unpersists (see minhash_dedup).  Ids-only, negligible cost.
    pairs = (
        _bucket_pairs(banded, ["tbl", "bucket"], max_bucket)
        .localCheckpoint(eager=True)
    )
    vecs = df.select(F.col(id_col).alias("_id"),
                     F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"))
    return (
        pairs.join(vecs.withColumnRenamed("_id", "id_a").withColumnRenamed("_v", "_va"), "id_a")
        .join(vecs.withColumnRenamed("_id", "id_b").withColumnRenamed("_v", "_vb"), "id_b")
        .select("id_a", "id_b", cosine_sim(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --- benchmark decontamination ------------------------------------------------

def decontaminate_exact(df: DataFrame, bench: DataFrame, text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """Drop corpus docs whose text exactly matches a benchmark document
    (training-data hygiene: held-out eval sets must not leak into the
    corpus).  Hash anti-join on sha256 — the benchmark side is small and
    broadcastable; the corpus never shuffles."""
    bh = bench.select(F.sha2(F.col(bench_text_col), 256).alias("_bh")).distinct()
    return (
        df.withColumn("_h", F.sha2(F.col(text_col), 256))
        .join(F.broadcast(bh), F.col("_h") == F.col("_bh"), "left_anti")
        .drop("_h")
    )


def decontaminate_ngram(df: DataFrame, bench: DataFrame, id_col: str,
                        text_col: str = "text", bench_text_col: str = "text",
                        shingle_n: int = 8,
                        max_overlap: int = 0) -> DataFrame:
    """Drop corpus docs sharing more than ``max_overlap`` word n-grams with
    ANY benchmark doc — catches paraphrase-adjacent leaks exact matching
    misses.  Benchmark shingles explode to a (small) broadcastable set;
    the corpus explodes its shingles, semi-joins, and docs whose distinct
    hit count exceeds the cap are dropped.  One corpus shuffle on doc id
    for the hit count; at 10^9 docs the benchmark side stays tiny so the
    probe is map-side."""
    from .textstats import shingle_array
    bsh = (
        bench.select(F.explode(
            shingle_array(bench_text_col, shingle_n)).alias("_s"))
        .distinct()
    )
    hits = (
        df.select(F.col(id_col).alias("_id"),
                  F.explode(
                      shingle_array(text_col, shingle_n)).alias("_s"))
        .join(F.broadcast(bsh), "_s", "left_semi")
        .groupBy("_id").agg(F.count(F.lit(1)).alias("_hits"))
        .filter(F.col("_hits") > max_overlap)
        .select("_id")
    )
    return df.join(hits.withColumnRenamed("_id", id_col), id_col, "left_anti")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", *,
                         max_iter: int = 25) -> DataFrame:
    """Dedup-cluster assignment: connected components over a near-dup pair
    list → ``(doc_id, component)`` with component = min doc id reachable.

    The step after candidate generation in a real dedup pipeline: LSH
    emits PAIRS, but keep-one-per-cluster needs the transitive closure
    (a~b, b~c ⇒ keep one of {a,b,c}).

    Min-label propagation with pointer jumping: each round takes the min
    over direct neighbours' labels AND the label of the current label
    (path halving) — O(log n) rounds on arbitrary graphs, 1-2 rounds on
    the clique-ish components LSH buckets produce.  Each round is two
    shuffle joins over (id, label) pairs only — no payloads ever move —
    and convergence costs one scalar count per round (the only driver
    value).  100 TB shape: the pair list is orders of magnitude smaller
    than the corpus, and rounds scale with component diameter, not corpus
    size.  (Large-star/small-star [Kiveris et al., "Connected Components
    in MapReduce and Beyond"] is the alternative; pointer jumping needs
    fewer joins per round at near-dup shapes.)
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint per round truncates the logical plan — without it the
    # lineage references the previous labels 4× per round and the plan
    # grows as 4^rounds (OOMs the planner by round ~6).  The standard
    # iterative-algorithm pattern; on a cluster with lineage-resilience
    # requirements use checkpoint() with a reliable dir instead.
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(labels.select(F.col("id").alias("dst"), "comp"),
                           "dst")
                .groupBy("src").agg(F.min("comp").alias("_nmin"))
                .withColumnRenamed("src", "id")
            )
            stepped = (
                labels.join(nbr, "id", "left")
                .select("id", F.least(
                    "comp", F.coalesce("_nmin", F.col("comp"))).alias("comp"))
            )
            # pointer jumping: also adopt the label of the current label
            lut = labels.select(F.col("id").alias("comp"),
                                F.col("comp").alias("_ccomp"))
            new = (
                stepped.join(lut, "comp", "left")
                .select("id", F.least(
                    "comp", F.coalesce("_ccomp", F.col("comp"))).alias("comp"))
                .localCheckpoint()
            )
            changed = (
                labels.select("id", F.col("comp").alias("_old"))
                .join(new, "id")
                .filter(F.col("_old") != F.col("comp"))
                .count()
            )
            labels = new
            if changed == 0:
                break
        else:
            # an unconverged labeling is WRONG component assignments, not a
            # degraded-quality answer — refuse to return it (ADVICE r3).
            # max_iter rounds of min-label + pointer jumping converge for
            # any graph of diameter < ~2^max_iter, so hitting this means
            # either a pathological chain or a far-too-small max_iter.
            raise RuntimeError(
                f"connected_components did not converge within {max_iter} "
                f"rounds ({changed} labels still changing); raise max_iter")
        return labels.select(F.col("id").alias("doc_id"), "comp")
    finally:
        edges.unpersist()
