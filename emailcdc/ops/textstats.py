"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Everything here is pure Catalyst expressions (no Python UDFs): at 100 TB
these run inside whole-stage codegen directly over the parquet scan, shuffle
nothing, and push projections down to the reader.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ASCII \s+ tokenizer — the EXACT semantics of the Catalyst/DuckDB forms
# these UDFs mirror (`split(trim(col), '\\s+')`): Java and RE2 \s match
# only [ \t\n\x0b\f\r], while Python str.split() also splits on \xa0,
#   etc., so a document containing Unicode whitespace would tokenize
# differently engine-side vs oracle-side (ADVICE r4 #2).  findall of
# non-whitespace runs drops every empty token, where `split(trim(col))`
# keeps one for a leading or trailing tab/newline run (`_ws_shingles`
# keeps it too).
_NON_WS_RUN = re.compile(r"[^ \t\n\r\f\x0b]+")
_WS_RUN = re.compile(r"[ \t\n\r\f\x0b]+")


def ascii_ws_tokens(text: str | None) -> list[str]:
    return _NON_WS_RUN.findall(text) if text else []

TOKEN_SPLIT = r"\s+"
# BPE-ish word/punct segmentation: words-with-apostrophes | numbers | punct runs
BPE_ISH = r"[A-Za-z]+(?:'[a-z]+)?|[0-9]+|[^\sA-Za-z0-9]+"

# tiny per-language stopword inventories for the n-gram/stopword heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "in", "von", "mit", "ist", "den", "für"],
    "fr": ["le", "la", "de", "et", "un", "en", "du", "des", "est", "pour"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def tokens(col) -> Column:
    return F.split(F.trim(F.col(col) if isinstance(col, str) else col), TOKEN_SPLIT)


def token_count(col) -> Column:
    """Whitespace token count; empty string → 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(tokens(c)))


def bpe_ish_token_count(col) -> Column:
    """Token count under a BPE-ish regex segmentation (words/numbers/punct)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH), 0))


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    total = F.greatest(F.length(c), F.lit(1))
    return F.length(F.regexp_replace(c, r"[^\.\!\?\,\;\:]", "")) / total


def stopword_ratio(col, lang: str = "en") -> Column:
    toks = tokens(col)
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in _STOPWORDS[lang]])))
    return hits / F.greatest(F.size(toks), F.lit(1))


def quality_score(col) -> Column:
    """Composite document-quality heuristic in [0,1]: favors mid-length
    docs, low punctuation density, healthy mean word length (3-8 chars).
    Deterministic arithmetic only — SQL-oracle expressible."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    mean_word = F.length(F.trim(c)) / F.greatest(n_tok, F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 8), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(punct_ratio(c) * 5, F.lit(1.0))
    return F.round((len_score + word_score + punct_score) / F.lit(3.0), 6)


def langid(col) -> Column:
    """Stopword-hit language ID over {en,es,de,fr,zh}; ties broken by fixed
    language order; no hits → 'und'.  Pure array expressions — distributes
    with zero shuffle."""
    toks = tokens(col)
    scores = [
        (lang, F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in _STOPWORDS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, score in reversed(scores):
        expr = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(expr)
    return expr


def shingles(col, n: int = 5) -> Column:
    """Word n-gram shingles via higher-order functions (JVM-side)."""
    toks = tokens(col)
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def _ws_shingles(text: str, n: int) -> list[str]:
    """Word n-gram shingles of ``text`` exactly as ``shingles`` builds them:
    tokens follow Java ``split`` after Spark's space-only ``trim`` (a
    leading or trailing tab/newline run leaves an empty token), and a text
    of fewer than ``n`` tokens collapses to one joined shingle."""
    toks = _WS_RUN.split(text.strip(" "))
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def shingle_array(col, n: int = 5) -> Column:
    """DISTINCT word n-gram shingles as an Arrow-batched UDF —
    value-identical to ``array_distinct(shingles(col, n))`` (first-
    occurrence order, ``_ws_shingles`` tokens), but the HOF form
    evaluates its lambda interpreted per shingle, which dominates wall
    time on corpus-wide shingling (the r4 lesson across
    minhash/fingerprint/hyperplane)."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(texts: pd.Series) -> pd.Series:
        # NULL in → NULL out, like the Catalyst form
        return pd.Series([None if text is None
                          else list(dict.fromkeys(_ws_shingles(text, n)))
                          for text in texts])

    return _udf(F.col(col) if isinstance(col, str) else col)


def hash60(col) -> Column:
    """60-bit integer hash of a string: first 15 hex chars of sha256.

    sha256 is the one hash primitive Spark and DuckDB share bit-for-bit
    (``sha2(s, 256)`` == ``sha256(s)``), so every operator built on it is
    oracle-checkable: DuckDB computes the same value with
    ``CAST('0x' || substr(sha256(s), 1, 15) AS BIGINT)``.  15 hex chars =
    60 bits, safely inside a signed 64-bit long in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c, 256), 1, 15), 16, 10).cast("long")


def fingerprint(col, n: int = 5) -> Column:
    """Rolling-hash document fingerprint: min 60-bit shingle hash over word
    shingles (a 1-permutation MinHash — stable under small edits).

    Arrow-batched hashlib — VALUE-identical to the previous Catalyst
    ``array_min(transform(shingles, sha2+conv))`` form (hashlib sha256 ==
    Spark ``sha2(s,256)`` == DuckDB ``sha256``; first 15 hex chars = the
    same 60-bit int), but the HOF lambdas evaluated INTERPRETED per
    shingle (~1M sha2+conv expression evaluations for 5k docs measured
    ~6 s); one Python pass with hashlib is a fraction of that and the
    DuckDB oracle still re-derives every value."""
    import hashlib

    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        # NULL in → NULL out, like the Catalyst form; object dtype, since
        # a float64 Series (ints beside None) rounds 60-bit hashes
        return pd.Series([None if text is None else min(
            int(hashlib.sha256(s.encode("utf-8", "ignore")).hexdigest()[:15], 16)
            for s in _ws_shingles(text, n)) for text in texts], dtype=object)

    return _udf(F.col(col) if isinstance(col, str) else col)


def normalize_text(col) -> Column:
    """Canonical text normalization for dedup keys: lowercase, collapse
    whitespace runs to single spaces, trim.  Pure Catalyst — and exactly
    mirrored by lower/regexp_replace/trim in the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def filter_documents(df: DataFrame, text_col: str = "text", *,
                     min_tokens: int = 0, max_tokens: int | None = None,
                     max_punct_ratio: float | None = None,
                     min_quality: float | None = None,
                     langs: list[str] | None = None) -> DataFrame:
    """Composable corpus filter — the standard pre-training hygiene pass
    (length window, punctuation cap, quality floor, language allowlist)
    as ONE Catalyst predicate: every condition lands in the same scan
    filter, so at 100 TB this is a single pushdown-friendly pass with no
    shuffle and no UDF."""
    cond = token_count(text_col) >= F.lit(min_tokens)
    if max_tokens is not None:
        cond = cond & (token_count(text_col) <= F.lit(max_tokens))
    if max_punct_ratio is not None:
        cond = cond & (punct_ratio(text_col) <= F.lit(max_punct_ratio))
    if min_quality is not None:
        cond = cond & (quality_score(text_col) >= F.lit(min_quality))
    if langs is not None:
        cond = cond & langid(text_col).isin(list(langs))
    return df.filter(cond)


def top_terms(df, text_col: str = "text", id_col: str = "doc_id",
              k: int = 3):
    """Per-document top-k salient terms, TF-IDF-shaped but with a fully
    INTEGER ordering — (term frequency desc, document frequency asc, term
    asc) — so the result is bit-identical across engines (a real tf·idf
    score needs ln(), whose last ulp is libm-specific and would sit on the
    hash surface).

    100 TB shape: tokens explode inside the scan stage; tf is one shuffle
    on (doc, term); df is one shuffle on term.  The df side is the
    VOCABULARY (not the corpus) but still grows past broadcast size on a
    web-scale corpus, so the tf⋈df join is left to AQE rather than
    force-broadcast."""
    from pyspark.sql import Window

    toks = (
        df.select(F.col(id_col),
                  F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                                    r"\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count_distinct(F.col(id_col)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "rnk", "term", "tf", "df")
    )


def chunk_tokens(text_col, window: int = 32, stride: int = 16):
    """Overlapping token-window chunks — the unit a pretraining pipeline
    actually feeds the tokenizer.  Returns an array of
    ``struct<chunk_idx:long, n_tokens:long, chunk_hash:long>``: one entry
    per chunk start (0, stride, 2·stride, … while < n_tokens), each
    hashing its ``window``-token slice (short at the tail) via the
    sha256-derived 60-bit hash60 so DuckDB re-derives every value.

    Pure Catalyst (split → sequence → transform/slice): chunking runs
    inside whole-stage codegen over the scan, shuffles nothing, and emits
    integers only — at 100 TB the chunk TEXT never leaves the executor
    unless the caller asks for it."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("long").alias("chunk_idx"),
            F.size(F.slice(toks, s + 1, window)).cast("long").alias("n_tokens"),
            hash60(F.concat_ws(" ", F.slice(toks, s + 1, window)))
            .alias("chunk_hash"),
        ),
    )
    # empty/whitespace-only text: split(trim(''), '\s+') yields [''] so the
    # transform would emit one phantom 1-token chunk hashing the empty
    # token — mirror token_count's empty-string handling instead
    # (ADVICE r5): no tokens → no chunks.
    empty = F.expr("array()").cast(
        "array<struct<chunk_idx:bigint,n_tokens:bigint,chunk_hash:bigint>>")
    return F.when(F.length(F.trim(c)) == 0, empty).otherwise(chunks)
