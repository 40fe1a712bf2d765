"""Training-data text operators over the `documents` table.

Large-scale pipeline ops (dedup, fingerprinting, language-ID, quality
scoring, token stats) expressed as pure JVM-side DataFrame plans —
whole-stage codegen, no Python in the hot path.  Every operator has a
DuckDB SQL mirror (generated here from the same parameters) used as
the driver's correctness oracle; the shared hash primitive is md5
(identical hex output in Spark and DuckDB).

Scale notes: all operators are single-pass scans + one hash-key
aggregation/join; minhash banding converts O(n^2) near-dup search into
an equi-join on band keys (the standard shingle->minhash->band->bucket
pipeline); skewed bucket keys (boilerplate docs) are bounded by the
hot-bucket salting of banded_join.banded_self_join, which adaptive
execution drops at run time when no bucket is hot.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.read import spread_scan
from .banded_join import banded_self_join

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

# marker vocabularies for the n-gram-free language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "fast", "slow", "value"),
    "de": ("und", "der", "das", "nicht"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "des", "est"),
    "zh": ("shi", "de2", "le2", "zai"),
}

SHINGLE_K = 8
MINHASH_N = 12
LSH_BANDS = 4
LSH_ROWS = 3  # bands * rows == MINHASH_N


def _stop_list_sql() -> str:
    return ", ".join(f"'{w}'" for w in STOPWORDS)


# ---------------------------------------------------------------------
# Token stats + quality
# ---------------------------------------------------------------------

# BPE-ish pre-tokenizer classes (letter runs, digit runs, single
# punctuation marks) — the dialect-portable core of the GPT-2 pattern,
# identical under Java regex (Spark) and RE2 (DuckDB)
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _token_stats_cols() -> list[Column]:
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    # sum of token lengths without the interpreted F.aggregate lambda:
    # split(text, ' ') consumes exactly one space per separator, so
    # total token chars == length(text) - (n_tokens - 1) — exact for
    # every input including empty strings and runs of spaces (each
    # extra space becomes a zero-length token, still one separator)
    total_len = F.length(F.col("text")) - (n_tokens - F.lit(1))
    return [
        n_tokens.cast("long").alias("n_tokens"),
        F.expr(
            f"regexp_count(text, '{BPE_TOKEN_RE}')"
        ).cast("long").alias("n_bpe_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        (n_distinct.cast("double") / n_tokens.cast("double")).alias("distinct_ratio"),
        n_stop.cast("long").alias("n_stop"),
        (n_stop.cast("double") / n_tokens.cast("double")).alias("stop_ratio"),
        (total_len.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    ]


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens, n_distinct, distinct_ratio,
    n_stop, stop_ratio, avg_token_len) — single-pass JVM expressions;
    n_bpe_tokens counts BPE-ish pre-tokenizer matches (letter/digit
    runs + punctuation), the whitespace-free token estimate an LLM
    data pipeline budgets by."""
    return docs.select("doc_id", *_token_stats_cols())


def token_stats_sql(table: str = "documents") -> str:
    stops = _stop_list_sql()
    return f"""
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
  CAST(len(list_filter(toks, t -> t IN ({stops}))) AS BIGINT) AS n_stop,
  CAST(len(list_filter(toks, t -> t IN ({stops}))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
  CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len
FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM {table})"""


# ---------------------------------------------------------------------
# Language ID (marker-vocabulary heuristic)
# ---------------------------------------------------------------------

def _lang_id_col() -> Column:
    """Marker-count argmax with lexicographic tie-break, as ONE
    expression over text (Catalyst's common-subexpression elimination
    shares the repeated score terms inside a single projection)."""
    toks = F.split(F.col("text"), " ")

    def marker_score(ws):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {
        lang: marker_score(ws)
        for lang, ws in sorted(LANG_MARKERS.items())
    }
    # argmax via greatest + chained when (first lang in sorted order wins ties)
    best = F.greatest(*scores.values())
    pred = None
    for lang in sorted(LANG_MARKERS):
        cond = scores[lang] == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return pred.alias("pred_lang")


def lang_id(docs: DataFrame) -> DataFrame:
    """Deterministic marker-count argmax with lexicographic tie-break."""
    return docs.select("doc_id", _lang_id_col())


def lang_id_sql(table: str = "documents") -> str:
    score_exprs = []
    for lang, ws in sorted(LANG_MARKERS.items()):
        inlist = ", ".join(f"'{w}'" for w in ws)
        score_exprs.append(
            f"len(list_filter(toks, t -> t IN ({inlist}))) AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
SELECT doc_id, {case} AS pred_lang FROM (
  SELECT doc_id, {', '.join(score_exprs)}
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {table}))"""


# ---------------------------------------------------------------------
# Fingerprinting + exact dedup
# ---------------------------------------------------------------------

def _fingerprint_cols() -> list[Column]:
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    sh = _shingles_expr("text")
    fp_min = F.array_min(F.transform(sh, lambda s: F.md5(s)))
    return [F.md5(norm).alias("fp_exact"), fp_min.alias("fp_min")]


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp_exact md5, fp_min minhash-of-shingles) — document
    fingerprints for exact and fuzzy identity."""
    return docs.select("doc_id", *_fingerprint_cols())


def fingerprints_sql(table: str = "documents") -> str:
    sh = _shingles_sql("text")
    return f"""
SELECT doc_id,
  md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp_exact,
  list_min(list_transform({sh}, s -> md5(s))) AS fp_min
FROM {table}"""


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup groups: (fp, n_docs, keep_id=min doc_id)."""
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def dedup_exact_sql(table: str = "documents") -> str:
    return (
        f"SELECT md5(text) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id "
        f"FROM {table} GROUP BY 1"
    )


# ---------------------------------------------------------------------
# Shingles + MinHash + LSH near-dup
# ---------------------------------------------------------------------

def _shingles_expr(text_col: str = "text") -> Column:
    """Array of distinct k-char shingles, JVM-side (SQL expr: Spark's
    substring is 1-based like DuckDB's substr)."""
    k = SHINGLE_K
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {k - 1}, 1)), "
        f"i -> substring({text_col}, i, {k})))"
    )


def _shingles_sql(text_expr: str) -> str:
    k = SHINGLE_K
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(length({text_expr}) - {k - 1}, 1)), "
        f"i -> substr({text_expr}, i, {k})))"
    )


MINHASH_P = 4294967291  # largest prime < 2^32


def _shingle_words(df: DataFrame) -> DataFrame:
    """One md5 per shingle, split into two 32-bit words (w1, w2); the
    N signature hashes derive affinely: h_i = (w1 + w2*i) mod P —
    the standard one-hash minhash family (12x fewer md5 calls than
    hashing (i || shingle) per signature row)."""
    return df.withColumns(
        {
            "w1": F.expr(
                "transform(shingles, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
            ),
            "w2": F.expr(
                "transform(shingles, s -> CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT))"
            ),
        }
    )


def _minhash_sig_udf():
    """pUDF: all MINHASH_N affine minima in one Arrow pass — one
    numpy broadcast per doc instead of N Catalyst zip_with projections
    over the same word arrays (identical int64 arithmetic:
    h_i = min((w1 + w2*i) mod P), mirrored by the SQL oracle)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n, p = MINHASH_N, MINHASH_P

    @pandas_udf(ArrayType(LongType()))
    def _sigs(w1: pd.Series, w2: pd.Series) -> pd.Series:
        import numpy as np

        n_rows = len(w1)
        if n_rows == 0:
            return pd.Series([], dtype=object)
        # flatten the ragged per-doc word arrays once per Arrow batch:
        # zero Python work per row (shingle arrays are never empty —
        # _shingles_expr floors the sequence length at 1).
        lens = np.fromiter((len(x) for x in w1), dtype=np.int64, count=n_rows)
        a = np.concatenate([np.asarray(x, dtype=np.int64) for x in w1])
        b = np.concatenate([np.asarray(x, dtype=np.int64) for x in w2])
        offs = np.zeros(n_rows, dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        # one (total_shingles,) pass per hash keeps peak memory O(total)
        # instead of O(n_hash * total); b*k < 2^36 so int64 is exact.
        mins = np.empty((n, n_rows), dtype=np.int64)
        for k in range(n):
            mins[k] = np.minimum.reduceat((a + b * k) % p, offs)
        return pd.Series(mins.T.tolist())

    return _sigs


def _minhash_sig_agg(docs: DataFrame) -> DataFrame:
    """Batch form of the minhash signature: explode shingle POSITIONS
    -> scalar substring/md5/conv (all whole-stage codegen) -> the
    MINHASH_N affine minima as map-side-combined ``min`` aggs, one
    slim (doc_id, h0..h{N-1}) row per doc after the shuffle.

    Three equivalences make this bit-identical to the projection form
    (`_shingle_words` + `_minhash_sig_udf`):

    - min over positions == min over DISTINCT shingles (duplicates
      cannot change a minimum), so ``array_distinct`` drops out;
    - ``pmod(w1 + w2*k, P)`` on non-negative int64 == the pUDF's
      ``(a + b*k) % p`` (w2*k < 2^36, no overflow);
    - the per-position substring/md5 words are the same scalar
      arithmetic the HOF lambdas evaluate — but compiled, not
      interpreted (higher-order functions never enter codegen; the
      same finding moved simhash off HOFs this round, ~11x CPU).

    Batch-only: the groupBy is an aggregation, which a stateless
    append stream cannot run — streaming consumers keep the
    projection form, and the stream-vs-batch replay parity tests pin
    the two forms together.

    Precondition (both forms, now load-bearing): ``doc_id`` is the
    table's unique key (input_hint schema).  The projection form emits
    one row per INPUT ROW, this groupBy one row per doc_id — on a
    corpus violating uniqueness the agg would blend two texts'
    shingles into a signature of neither, so the contract is unique
    ids, not dedup-on-the-fly.  The same groupBy enforces it: it also
    counts each doc_id's input rows (every row has exactly one
    position 1) and fails the query with ``raise_error`` naming a
    duplicated doc_id — no extra Spark job."""
    k = SHINGLE_K
    pos = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text") - F.lit(k - 1), F.lit(1)),
            )
        ).alias("__mh_i"),
    )
    words = pos.select(
        "doc_id",
        (F.col("__mh_i") == 1).alias("__mh_first"),
        F.md5(F.expr(f"substring(text, __mh_i, {k})")).alias("__mh_h"),
    ).select(
        "doc_id",
        "__mh_first",
        F.conv(F.substring("__mh_h", 1, 8), 16, 10)
        .cast("long")
        .alias("w1"),
        F.conv(F.substring("__mh_h", 9, 8), 16, 10)
        .cast("long")
        .alias("w2"),
    )
    p = F.lit(MINHASH_P)
    sigs = words.groupBy("doc_id").agg(
        F.count(F.when(F.col("__mh_first"), 1)).alias("__mh_rows"),
        *[
            F.min(F.pmod(F.col("w1") + F.col("w2") * F.lit(i), p)).alias(
                f"h{i}"
            )
            for i in range(MINHASH_N)
        ],
    )
    unique = F.when(
        F.col("__mh_rows") > 1,
        F.raise_error(F.concat(
            F.lit("minhash signature: duplicated doc_id "),
            F.col("doc_id").cast("string"),
            F.lit(" (doc_id must be unique)"),
        )),
    ).otherwise(F.lit(True))
    return sigs.where(unique).drop("__mh_rows")


def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N-1}): minhash signature over k-char shingles,
    one-hash affine family h_i = min((w1 + w2*i) mod P).  Batch inputs
    take the codegen explode-agg path; streams keep the pure-projection
    Arrow form (aggs are not streamable in a stateless append plan)."""
    if not docs.isStreaming:
        # only a NARROW scan (fewer partitions than the session's
        # parallelism, i.e. a small or single-row-group local file)
        # needs the wide-text repartition to parallelize the codegen
        # md5 stage; a production-scale scan is already wide, and
        # forcing the repartition there would move the full text corpus
        # through a shuffle whose only downstream exchange is otherwise
        # the agg's slim partial-min rows
        return _minhash_sig_agg(spread_scan(docs, key="doc_id"))
    shingled = _shingle_words(doc_shingles(_spread(docs)))
    sig = shingled.select(
        "doc_id",
        _minhash_sig_udf()(F.col("w1"), F.col("w2")).alias("sig"),
    )
    return sig.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"h{i}") for i in range(MINHASH_N)],
    )


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles): distinct k-char shingles per document.
    NULL-text rows are dropped (their shingle array would be [NULL],
    whose md5 words arrive as None in the Arrow batch and crash the
    signature pUDF — and a NULL document has no meaningful near-dups
    anyway); the SQL oracles filter identically."""
    return docs.where(F.col("text").isNotNull()).select(
        "doc_id", _shingles_expr("text").alias("shingles")
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition ahead of the Arrow signature stage: a small parquet
    scan yields 1-2 splits, which would run the minhash pUDF nearly
    single-threaded; hashing on doc_id spreads it across the session's
    shuffle partitions.  Skipped for streaming inputs (micro-batches
    arrive pre-split and repartition would force a stateful shuffle).
    (The Arrow-pUDF path keeps this UNCONDITIONAL form: its CPU cost
    is per-doc in an interpreted lambda chain, so it wants the spread
    even on moderately wide scans; the explode-agg path uses the
    conditional `sources.read.spread_scan`.)"""
    if docs.isStreaming:
        return docs
    n = docs.sparkSession.sparkContext.defaultParallelism
    # explicit numPartitions: AQE would coalesce a plain hash
    # repartition of a few MB of text back to one partition, keeping
    # the pUDF single-threaded (the CPU cost is per-doc, not per-byte)
    return docs.repartition(n, "doc_id")


def _banded(docs: DataFrame, keep_shingles: bool = False) -> DataFrame:
    """(doc_id, band0..band{B-1}): shingles -> minhash signature ->
    banded md5 keys — the ONE plan fragment every LSH consumer
    (doc_band_rows, near_dup_pairs, the streaming dedup) builds on, so
    shingling/banding rules cannot drift between them.

    ``keep_shingles`` carries the shingle array through (one
    projection chain — a streaming consumer CANNOT re-derive shingles
    and join them back, because joining two derivations of the same
    stream is a stateful stream-stream join).

    Two physically different plans, one semantics (pinned by the
    stream-vs-batch replay tests and the shared band expression):
    without shingles the band keys read ``minhash_signature``, which
    picks the codegen explode-agg for batch and the projection chain
    for streams; keep-shingles consumers stay on the single projection
    chain a stateless stream requires."""
    if not keep_shingles:
        return minhash_signature(docs).select(
            "doc_id", *_band_key_cols(lambda i: F.col(f"h{i}"))
        )
    shingled = _shingle_words(doc_shingles(_spread(docs)))
    sigs = shingled.select(
        "doc_id", "shingles",
        _minhash_sig_udf()(F.col("w1"), F.col("w2")).alias("sig"),
    )
    return sigs.select(
        "doc_id",
        "shingles",
        *_band_key_cols(lambda i: F.col("sig")[i]),
    )


def _band_key_cols(sig_at) -> list[Column]:
    """The ONE band-key expression (md5 over '|'-joined signature
    rows), shared by the agg and projection forms of `_banded` so the
    two plans cannot drift; ``sig_at(i)`` fetches signature element i
    as a Column in whichever layout the caller has (h{i} columns or a
    sig array)."""
    cols = []
    for b in range(LSH_BANDS):
        parts = [sig_at(b * LSH_ROWS + r) for r in range(LSH_ROWS)]
        cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    return cols


def _with_allb(banded: DataFrame) -> DataFrame:
    """All band keys as one fixed-width string (32 hex chars per
    band): lets a candidate join keep a multi-band collision only at
    its FIRST matching band instead of paying a pair-volume
    dropDuplicates shuffle (same pigeonhole trick as
    image_dedup.first_band_filter)."""
    return banded.withColumn(
        "allb", F.concat(*[F.col(f"band{b}") for b in range(LSH_BANDS)])
    )


def _stack_bands(banded: DataFrame, *extra: str) -> DataFrame:
    """One-pass band emission (stack) instead of a B-way self-union —
    the union form recomputes the minhash signatures once per band."""
    stack_args = ", ".join(f"{b}, band{b}" for b in range(LSH_BANDS))
    return banded.select(
        "doc_id", *extra,
        F.expr(f"stack({LSH_BANDS}, {stack_args}) AS (b, bk)"),
    )


def doc_band_rows(
    docs: DataFrame,
    with_allb: bool = False,
    with_shingles: bool = False,
) -> DataFrame:
    """Slim (doc_id [, allb] [, shingles], b, bk) LSH band rows,
    stacked one row per band.  Works on batch AND streaming DataFrames
    (pure projections + the Arrow signature pUDF), so the stream-static
    dedup join shares this exact plan fragment with near_dup_pairs.
    ``with_allb`` carries the concatenated band keys for the
    first-matching-band pigeonhole dedup; ``with_shingles`` carries the
    shingle array for a downstream Jaccard refine without a second
    derivation of the input (which on a stream would be a stateful
    stream-stream join)."""
    banded = _banded(docs, keep_shingles=with_shingles)
    if with_allb:
        banded = _with_allb(banded)
    extra = (["allb"] if with_allb else []) + (
        ["shingles"] if with_shingles else []
    )
    return _stack_bands(banded, *extra)


def near_dup_pairs(docs: DataFrame, with_mutants: bool = True) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs, verified by exact
    shingle Jaccard >= 0.5.

    Scale shape: candidate generation self-joins only slim
    (doc_id, band, band_key [, salt]) rows — the shingle arrays never
    ride through the shuffle; each pair emits exactly once (first-band
    pigeonhole filter — no pair-volume dedup shuffle) and the two
    shingle sets attach once for the verification step.  Salting is
    skew-AWARE (``banded_join.banded_self_join``): only rows in hot
    buckets (> ``banded_join.HOT_BUCKET`` members — boilerplate corpora
    where thousands of docs share every band) pay the partner-group
    replication, so a hot bucket's n^2 candidate pairs land on
    ``banded_join.SALT_G`` partitions instead of one; cold buckets (the
    common case) join unsalted.

    ``with_mutants`` unions a deterministic mutated copy of each doc
    (id -> -id - 1, text + marker suffix) so the pipeline provably
    finds near-dups on corpora without natural ones; the negated id
    can never collide with a real non-negative doc_id (a fixed
    additive offset silently collided with corpora whose ids reached
    it)."""
    base = docs.select("doc_id", "text")
    if with_mutants:
        mut = docs.select(
            (-F.col("doc_id") - F.lit(1)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        )
        base = base.unionByName(mut)

    # materialized once: the hot-bucket count and both join sides read it
    bands = doc_band_rows(base, with_allb=True).localCheckpoint()
    cand = banded_self_join(bands, "doc_id", False, 32, LSH_BANDS)
    return _jaccard_verified(cand, base)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two shingle sets (distinct-element arrays) as a
    double: the ONE expression behind the batch verification and the
    streaming dedup refine, so the two cannot drift."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _jaccard_verified(cand: DataFrame, base: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs: re-attach the
    two shingle sets once, post-candidate-dedup, and keep pairs at
    Jaccard >= 0.5."""
    sh = doc_shingles(base)
    cand = cand.join(
        sh.select(
            F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
        ),
        on="id_a",
    ).join(
        sh.select(
            F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
        ),
        on="id_b",
    )
    return (
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_pairs_sql(table: str = "documents", with_mutants: bool = True) -> str:
    k = SHINGLE_K
    # NULL-text rows dropped and mutant ids negated, mirroring
    # near_dup_pairs / doc_shingles exactly
    base = f"SELECT doc_id, text FROM {table} WHERE text IS NOT NULL"
    if with_mutants:
        base += (
            f" UNION ALL SELECT -doc_id - 1 AS doc_id, "
            f"text || ' zz' AS text FROM {table} WHERE text IS NOT NULL"
        )
    sh = _shingles_sql("text")
    sig_cols = ", ".join(
        f"list_min(list_transform(generate_series(1, len(w1)), "
        f"j -> (w1[j] + w2[j] * {i}) % {MINHASH_P})) AS h{i}"
        for i in range(MINHASH_N)
    )
    band_cols = ", ".join(
        "md5("
        + " || '|' || ".join(f"h{b * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS band{b}"
        for b in range(LSH_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, shingles, band{b} AS bk, {b} AS b FROM banded"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH base AS ({base}),
shingled AS (SELECT doc_id, {sh} AS shingles FROM base),
words AS (SELECT doc_id, shingles,
  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)) AS w1,
  list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT)) AS w2
  FROM shingled),
sigs AS (SELECT doc_id, shingles, {sig_cols} FROM words),
banded AS (SELECT doc_id, shingles, {band_cols} FROM sigs),
bands AS ({band_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         a.shingles AS sh_a, c.shingles AS sh_b
  FROM bands a JOIN bands c
    ON a.bk = c.bk AND a.b = c.b AND a.doc_id < c.doc_id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
    CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) AS jaccard
  FROM cand
) WHERE jaccard >= 0.5"""


# ---------------------------------------------------------------------
# End-to-end curation composition (the jobs/curate_corpus.py stages as
# one gated query)
# ---------------------------------------------------------------------

CURATE_MIN_TOKENS = 5
CURATE_MAX_TOKENS = 100_000
CURATE_MIN_STOP_RATIO = 0.0
CURATE_MIN_DISTINCT_RATIO = 0.05


def curate_survivors(docs: DataFrame) -> DataFrame:
    """The curate_corpus pipeline's per-stage survivor sets as one
    DataFrame (stage, doc_id, fp): stage 'filter' = docs passing the
    quality thresholds, 'exact' = after exact dedup (keep min doc_id
    per md5 group), 'near' = after MinHash-LSH near-dedup (drop the
    larger id of each >=0.5-Jaccard pair).  ``fp`` is the md5 survivor
    fingerprint, so the gate pins WHICH docs survive, not just counts.
    Same thresholds and drop rules as jobs/curate_corpus.py."""
    stats = token_stats(docs)
    filt = (
        stats.where(
            (F.col("n_tokens") >= CURATE_MIN_TOKENS)
            & (F.col("n_tokens") <= CURATE_MAX_TOKENS)
            & (F.col("stop_ratio") >= CURATE_MIN_STOP_RATIO)
            & (F.col("distinct_ratio") >= CURATE_MIN_DISTINCT_RATIO)
        ).select("doc_id")
    )
    # these survivor frames are corpus-proportional (O(n_docs) rows):
    # let AQE pick the join strategy instead of force-broadcasting
    # past the 8GB broadcast limit / driver memory at scale
    fdocs = docs.join(filt, "doc_id")
    keep = dedup_exact(fdocs).select(F.col("keep_id").alias("doc_id"))
    edocs = fdocs.join(keep, "doc_id")
    drops = (
        near_dup_pairs(edocs, with_mutants=False)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    ndocs = edocs.join(drops, "doc_id", "left_anti")

    def arm(tag: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(tag).alias("stage"),
            "doc_id",
            F.md5(F.col("text")).alias("fp"),
        )

    return (
        arm("filter", fdocs)
        .unionByName(arm("exact", edocs))
        .unionByName(arm("near", ndocs))
    )


def curate_survivors_sql(table: str = "documents") -> str:
    """DuckDB mirror of curate_survivors: the same thresholds over
    token_stats_sql, min-id-per-md5 exact dedup, and the near-dup drop
    list from near_dup_pairs_sql run over the exact-surviving docs."""
    stats = token_stats_sql(table)
    near = near_dup_pairs_sql("edocs", with_mutants=False)
    return f"""
WITH stats AS ({stats}),
filt AS (
  SELECT doc_id FROM stats
  WHERE n_tokens >= {CURATE_MIN_TOKENS}
    AND n_tokens <= {CURATE_MAX_TOKENS}
    AND stop_ratio >= {CURATE_MIN_STOP_RATIO!r}
    AND distinct_ratio >= {CURATE_MIN_DISTINCT_RATIO!r}
),
fdocs AS (SELECT t.doc_id, t.text FROM {table} t JOIN filt USING (doc_id)),
keep AS (SELECT MIN(doc_id) AS doc_id FROM
         (SELECT doc_id, md5(text) AS fp FROM fdocs) GROUP BY fp),
edocs AS (SELECT f.doc_id, f.text FROM fdocs f JOIN keep USING (doc_id)),
drops AS (SELECT DISTINCT id_b AS doc_id FROM ({near})),
ndocs AS (SELECT e.doc_id, e.text FROM edocs e
          WHERE e.doc_id NOT IN (SELECT doc_id FROM drops))
SELECT 'filter' AS stage, doc_id, md5(text) AS fp FROM fdocs
UNION ALL SELECT 'exact' AS stage, doc_id, md5(text) AS fp FROM edocs
UNION ALL SELECT 'near' AS stage, doc_id, md5(text) AS fp FROM ndocs"""


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

SIMHASH_BITS = 32  # 8 md5 hex nibbles


def _simhash_bit_aggs() -> list[Column]:
    """Partial-agg state for the simhash vote: per-bit set counts over
    the doc's distinct-token hashes, plus the token count.  sum and
    count are map-side combinable, so the explode multiplicity
    collapses to one slim row per doc BEFORE the shuffle."""
    return [F.count("__sh_h").alias("__sh_n")] + [
        F.sum(F.shiftright("__sh_h", b).bitwiseAND(F.lit(1))).alias(f"__sh_s{b}")
        for b in range(SIMHASH_BITS)
    ]


def _simhash_from_votes() -> Column:
    """Recombine the bit-count aggregates into the simhash long.
    Vote rule: bit b is set iff set_b - unset_b > 0, i.e. 2*set_b > n
    (bit-identical to the reference +-1 vote); a doc with no tokens
    (NULL text) has n = 0, so every vote fails and simhash is 0 —
    matching the projection form's NULL-fold behavior."""
    bit_cols = [
        F.when(F.col(f"__sh_s{b}") * 2 > F.col("__sh_n"), F.lit(1 << b))
        .otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    ]
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return total.cast("long").alias("simhash")


def _with_token_hash(docs: DataFrame, *carry: Column) -> DataFrame:
    """Explode distinct whitespace tokens and hash each once (md5 ->
    first 8 hex nibbles -> long) as ``__sh_h``, carrying *carry*
    columns computed ONCE per doc (the projection feeding the
    generator runs per input row, not per exploded row).
    ``explode_outer`` keeps token-less (NULL-text) docs."""
    return docs.select(
        "doc_id",
        *carry,
        F.explode_outer(F.expr("array_distinct(split(text, ' '))")).alias(
            "__sh_t"
        ),
    ).withColumn(
        "__sh_h",
        F.conv(F.substring(F.md5("__sh_t"), 1, 8), 16, 10).cast("long"),
    )


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash long): per-token md5 -> first 8 hex nibbles ->
    bitwise +-1 vote -> sign bits.

    Shape: explode distinct tokens -> scalar md5 + bit ops (all
    whole-stage codegen) -> map-side-combined bit-count agg -> one
    slim shuffle.  The previous spelling — 32 ``F.aggregate`` folds in
    one projection — was shuffle-free but ran interpreted (higher-order
    functions don't codegen), measuring ~11x the CPU per doc of this
    form at sf1; one slim (doc_id, 33 longs) shuffle buys back an
    order of magnitude of compute at any scale."""
    votes = _with_token_hash(docs).groupBy("doc_id").agg(*_simhash_bit_aggs())
    return votes.select("doc_id", _simhash_from_votes())


def doc_profile(docs: DataFrame) -> DataFrame:
    """One wide row per doc — token/quality stats, language id,
    exact+min fingerprints, simhash — as a single-projection scalar
    pass joined (on doc_id) with the explode-agg simhash pass.

    Why not one pass?  Two measured dead ends at sf1:

    - folding simhash into the projection (32 ``F.aggregate`` HOF
      folds, the pre-round-5 form) is shuffle-free but interpreted —
      ~11x the CPU per doc of the explode-agg form;
    - carrying the scalar columns through the token generator into
      the agg (``first`` per group) makes the optimizer re-evaluate
      the expensive fingerprint/lang HOF expressions per EXPLODED row
      (measured 22 s vs 5 s for the fp_min column alone at sf1).

    The join costs one slim-row shuffle per side (the simhash side is
    already hash-partitioned on doc_id by its agg) and reads the text
    column twice — both linear, both far below the 11x interpreted-CPU
    tax at any scale."""
    base = docs.select(
        "doc_id",
        *_token_stats_cols(),
        _lang_id_col(),
        *_fingerprint_cols(),
    )
    return base.join(simhash(docs), "doc_id")


def simhash_sql(table: str = "documents") -> str:
    bit_terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"list_sum(list_transform(hashes, h -> "
            f"CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END))"
        )
        bit_terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << b} ELSE 0 END)")
    total = " + ".join(bit_terms)
    return f"""
SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM (
  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
         t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hashes
  FROM {table})"""
