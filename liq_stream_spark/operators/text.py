"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.8).

All pure Column expressions (JVM-side, no UDFs), so they run identically in
batch and streaming and push through whole-stage codegen. Everything here is
designed to be *oracle-checkable*: the hash primitives are simple integer
polynomials that DuckDB SQL reproduces exactly (unlike Spark's murmur3
``hash()`` or DuckDB's internal ``hash()``), so dedup/fingerprint queries
can hash-match the DuckDB oracle bit-for-bit.

Scale notes (100 TB): every operator is a narrow per-row projection — no
shuffle, no Python. Token arrays stay inside codegen via higher-order
functions (transform/filter/aggregate). SimHash folds 32 bit-sums per doc
without exploding tokens into rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from liq_stream_spark.functions.core import qfloor_long, qround
from liq_stream_spark.pins import pin

try:  # Arrow fast path for char_ngram_hashes_fast; expression fallback
    import numpy as np
    import pandas as pd
except ImportError:  # pragma: no cover
    np = None
    pd = None

# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------

MASK32 = 4294967296  # 2^32; polynomial hashes are taken mod this
_WS = r"\s+"          # for the F.split() Python API (no SQL parsing)
_WS_SQL = r"\\s+"  # for patterns embedded in F.expr strings (SQL unescapes once)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text (empty text -> empty array).

    Spec (identical in Spark and the DuckDB oracle, property-pinned in
    tests/test_properties.py): ``trim`` removes SPACES only — text whose
    edges are tabs/newlines keeps empty edge tokens from the regex split.
    Python's ``str.split()`` is NOT the spec."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


# GPT-2-style pretokenizer, lookahead-free: contractions, space-prefixed
# letter runs, space-prefixed digit runs, space-prefixed punctuation runs,
# whitespace runs. The original's trailing-space lookahead (\s+(?!\S)) is
# dropped because RE2 (DuckDB's engine) has no lookahead — this keeps the
# EXACT same regex runnable in both engines, so the count is oracle-exact.
# \p{L}/\p{N} are Unicode classes in both Java regex and RE2; \s is ASCII
# whitespace in both.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pretokens — the standard proxy for "how many BPE
    tokens will the tokenizer emit" used to budget training data, without
    shipping a vocab. Non-overlapping left-to-right matches, identical
    semantics to ``len(regexp_extract_all(...))`` in the DuckDB oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.regexp_count(c, F.lit(BPE_PRETOKEN_RE)), F.lit(0)
    ).cast("long")


def poly_hash_expr(s: str) -> str:
    """SQL-expression string: polynomial rolling hash of string ``s``:
    fold chars: acc = (acc*131 + ascii(char)) mod 2^32.

    Equivalent DuckDB SQL:
      list_reduce(list_prepend(0, [ascii(c) for c in string_split(s,'')]),
                  (a, x) -> (a*131 + x) % 4294967296)
    """
    return (
        f"aggregate(split({s}, ''), 0L, "
        f"(acc, ch) -> (acc * 131 + ascii(ch)) % {MASK32})"
    )


def char_ngram_hash_sql(name: str, n: int = 3) -> str:
    """SQL-expression string for the array of n-gram shingle hashes.

    Shingle hash is the same base-131 polynomial; for fixed small n this is
    a handful of ascii() calls per shingle — no inner fold needed. Shingles
    are positions 1..len-n+1 (empty array if text shorter than n).
    """
    # BIGINT arithmetic: ascii() of astral codepoints (emoji ~128k) times
    # the 131^2 weight overflows int32 — ANSI mode makes that a hard error
    terms = " + ".join(
        f"CAST(ascii(substring({name}, i + {j}, 1)) AS BIGINT) * {131 ** (n - 1 - j)}"
        for j in range(n)
    )
    # explicit empty-array guard: sequence(1, 0) is DESCENDING [1, 0] in
    # Spark, which would fabricate two bogus shingles for short/null text
    return (
        f"CASE WHEN {name} IS NULL OR length({name}) < {n} "
        f"THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE transform(sequence(1, length({name}) - {n - 1}), "
        f"i -> ({terms}) % {MASK32}) END"
    )


def char_ngram_hashes(col: str, n: int = 3) -> Column:
    return F.expr(char_ngram_hash_sql(col, n)).cast("array<long>")


def char_ngram_hashes_fast(col: str, n: int = 3) -> Column:
    """Arrow-vectorized shingle hashing — numerically IDENTICAL to
    char_ngram_hashes (verified value-for-value), ~4.5x faster on long
    text: numpy decodes codepoints via utf-32 and evaluates the shingle
    polynomial in one vector op per document. Higher-order-function
    lambdas are interpreted per element; this is the one place where the
    Arrow batch crossing beats staying JVM-side. Falls back to the
    expression form if Arrow/pandas are unavailable."""
    if pd is None or np is None:
        return char_ngram_hashes(col, n)

    weights = [131 ** (n - 1 - j) for j in range(n)]

    @F.pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None or len(s) < n:
                out.append([])
                continue
            c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            h = sum(
                c[j : len(c) - (n - 1) + j] * w for j, w in enumerate(weights)
            ) % MASK32
            out.append(h)
        return pd.Series(out)

    return _sh(col)


_POW_CACHE: dict[int, "np.ndarray"] = {}


def _pows(base: int, n: int) -> "np.ndarray":
    """base^0..base^(n-1) mod 2^32 as uint64 (exact: computed in Python
    ints, so no float rounding)."""
    cached = _POW_CACHE.get(base)
    if cached is None or len(cached) < n:
        size = max(n, 4096)
        vals, acc = [], 1
        for _ in range(size):
            vals.append(acc)
            acc = (acc * base) % MASK32
        cached = np.array(vals, dtype=np.uint64)
        _POW_CACHE[base] = cached
    return cached


def _tokens64_expr(col: str) -> Column:
    """Expression fallback for token_hashes64_fast: pack the two 32-bit
    families into one signed 64-bit token hash per token."""
    return F.zip_with(
        token_hashes(col, 131),
        token_hashes(col, 137),
        lambda lo, hi: (
            F.when(hi >= F.lit(2147483648), hi - F.lit(4294967296)).otherwise(hi)
            * F.lit(4294967296)
            + lo
        ).cast("long"),
    )


def token_hashes64_fast(col: str) -> Column:
    """Arrow-vectorized 64-bit token hashes: hash64 = (h137 << 32) | h131
    as a signed BIGINT array — value-identical to packing
    ``token_hashes(col, 131/137)`` (equality tested, tests/test_llm_ops.py)
    but one vectorized pass instead of two interpreted HOF folds: tokens
    are concatenated per doc, the polynomial is one codepoint·base^k dot
    product in uint64 (wraparound mod 2^64 is harmless — the result is
    reduced mod 2^32, which divides 2^64), per-token sums come from one
    reduceat, and the output cell is a numpy int64 array, the cheapest
    shape to cross Arrow with.

    Split semantics replicate Spark's ``split(trim(s), '\\s+')`` exactly:
    trim strips ' ' only, Java split keeps leading/trailing empty tokens
    (Python ``re.split`` with re.ASCII matches Java's ASCII ``\\s``), and
    the empty token hashes to 0."""
    if pd is None or np is None:
        return _tokens64_expr(col)

    @F.pandas_udf("array<long>")
    def _th(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if s is None else _doc_hashes64(s).view(np.int64)
                for s in texts
            ]
        )

    return _th(col)


_WS_ASCII = None  # compiled lazily (re import kept out of the hot loop)


def _doc_hashes64(s: str) -> "np.ndarray":
    """uint64 array of packed (h137 << 32 | h131) token hashes for one doc;
    see token_hashes64_fast for the exact-equivalence contract."""
    global _WS_ASCII
    if _WS_ASCII is None:
        import re

        _WS_ASCII = re.compile(r"\s+", re.ASCII)
    toks = _WS_ASCII.split(s.strip(" "))
    lens = np.array([len(w) for w in toks], dtype=np.int64)
    total = int(lens.sum())
    h_lo = np.zeros(len(toks), dtype=np.uint64)
    h_hi = np.zeros(len(toks), dtype=np.uint64)
    if total:
        c = np.frombuffer(
            "".join(toks).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        ends = np.cumsum(lens)
        exp = np.repeat(ends, lens) - 1 - np.arange(total)
        nz = lens > 0
        starts_nz = (ends - lens)[nz]
        p131 = _pows(131, int(lens.max()))
        p137 = _pows(137, int(lens.max()))
        h_lo[nz] = np.add.reduceat(c * p131[exp], starts_nz) % MASK32
        h_hi[nz] = np.add.reduceat(c * p137[exp], starts_nz) % MASK32
    return (h_hi << np.uint64(32)) | h_lo


def _doc_shingles(s: str, n: int) -> "np.ndarray":
    """uint64 array of base-131 n-gram shingle hashes for one doc — the
    per-doc core of char_ngram_hashes_fast (value-identical)."""
    if s is None or len(s) < n:
        return np.empty(0, dtype=np.uint64)
    c = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    weights = [131 ** (n - 1 - j) for j in range(n)]
    h = sum(
        c[j : len(c) - (n - 1) + j] * w for j, w in enumerate(weights)
    ) % MASK32
    return h.astype(np.uint64)


def simhash64_fast(col: str) -> Column:
    """Arrow-vectorized 64-bit SimHash: the ENTIRE signature is computed
    per document inside one Pandas UDF — token hashing, the 64 bit-sums
    and the sign fold are all numpy over the batch, so the operator is a
    narrow per-row projection with NO explode, NO 64-wide aggregate and NO
    join (the explode+codegen-aggregate shape is the fallback in
    operators/dedup.simhash_table). Value-identical to text.simhash64 /
    the DuckDB oracle (t04 hash-matches; equality tested).

    At 100 TB this is the ideal shape: zero shuffle, parallelism = input
    splits, one Arrow crossing per batch."""
    if pd is None or np is None:
        return simhash64(col)

    exps = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("long")
    def _sh(texts: pd.Series) -> pd.Series:
        res = np.zeros(len(texts), dtype=np.int64)
        arrs, starts, idxs = [], [], []
        pos = 0
        for i, s in enumerate(texts):
            if s is None:
                continue  # NULL text -> signature 0, as in the table form
            h = _doc_hashes64(s)
            arrs.append(h)
            starts.append(pos)
            idxs.append(i)
            pos += len(h)
        if arrs:
            allh = np.concatenate(arrs)
            # (tokens x 64) sign contributions, summed per doc in one
            # reduceat; bit set iff the sum is positive
            bits = ((allh[:, None] >> exps) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(
                2 * bits - 1, np.asarray(starts, dtype=np.int64), axis=0
            )
            packed = ((sums > 0).astype(np.uint64) << exps).sum(
                axis=1, dtype=np.uint64
            )
            res[np.asarray(idxs, dtype=np.int64)] = packed.view(np.int64)
        return pd.Series(res)

    return _sh(col)


def token_hashes(col: Column | str, base: int = 131) -> Column:
    """Array of polynomial hashes of whitespace tokens.

    ``base`` selects the hash family: 131 is the default used everywhere;
    137 provides the independent second family for the 64-bit SimHash
    (two 32-bit hashes ≙ one 64-bit token hash, bit-compatible with the
    DuckDB oracle where 64-bit modular arithmetic would overflow)."""
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("token_hashes needs a column name")
    return F.expr(
        f"transform(split(trim({name}), '{_WS_SQL}'), "
        f"w -> aggregate(split(w, ''), 0L, "
        f"(acc, ch) -> (acc * {base} + ascii(ch)) % {MASK32}))"
    ).cast("array<long>")


# ---------------------------------------------------------------------------
# document statistics / quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
_PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_PUNCT_CLASS)).cast("long")


def stopword_count(col: Column | str) -> Column:
    name = col if isinstance(col, str) else None
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter(split(trim({name}), '{_WS_SQL}'), w -> lower(w) IN ({sw})))"
    ).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword quality features + a composite score — the
    classic cheap pre-filter stage of a training-data pipeline.

    The regexp extraction behind the token/punct/stopword counters is
    the per-row hot spot of this stage, so an input arriving in fewer
    splits than the session has cores is round-robined first
    (skew.spread_for_compute — the simhash_table guard; no-op whenever
    splits >= cores, i.e. always at 100 TB. r13: 0.43 -> 0.29 s warm
    on t01 at sf0.1)."""
    from liq_stream_spark.operators.skew import spread_for_compute

    df = spread_for_compute(df)
    n_tok = token_count(text_col)
    n_chr = F.length(text_col).cast("long")
    n_punct = punct_count(text_col)
    n_stop = stopword_count(text_col)
    avg_tok = F.when(n_tok > 0, n_chr.cast("double") / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chr > 0, n_punct.cast("double") / n_chr).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    score = (
        F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(1)).otherwise(F.lit(0))
        + F.when((avg_tok >= 3) & (avg_tok <= 12), F.lit(1)).otherwise(F.lit(0))
        + F.when(punct_ratio <= 0.2, F.lit(1)).otherwise(F.lit(0))
        + F.when(stop_ratio >= 0.05, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chr.alias("n_chars_measured"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# language ID (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2"),  # romanized placeholder
}


def lang_scores(text_col: str) -> list[Column]:
    cols = []
    for lang, markers in LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        cols.append(
            F.expr(
                f"size(filter(split(trim({text_col}), '{_WS_SQL}'), "
                f"w -> lower(w) IN ({mk})))"
            )
            .cast("long")
            .alias(f"score_{lang}")
        )
    return cols


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: argmax score, 'und' when all zero,
    lexicographically-first language as the deterministic tiebreak."""
    scored = df.select("doc_id", *lang_scores(text_col))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.when(best == 0, F.lit("und"))
    for l in langs:
        pred = pred.when(F.col(f"score_{l}") == best, F.lit(l))
    return scored.select(
        "doc_id", *[F.col(f"score_{l}") for l in langs], pred.alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# fingerprint + simhash
# ---------------------------------------------------------------------------


def fingerprint(col_name: str, n: int = 3) -> Column:
    """Position-weighted document fingerprint: (sum_i i * h(shingle_i))
    mod 2^32. Captures content AND order (an anagram document fingerprints
    differently); the integer sum is order-of-evaluation-independent, so
    the DuckDB oracle reproduces it exactly."""
    h = char_ngram_hash_sql(col_name, n)
    # explicit NULL arm: a bare length() < n guard is NULL (not true) on
    # NULL text and would fall into the ELSE, where zip_with against the
    # descending sequence(1, 0) yields a NULL fingerprint — and NULL
    # fingerprints silently drop from downstream equality joins instead
    # of grouping with the documented 0-for-degenerate-docs sentinel
    return F.expr(
        f"CASE WHEN {col_name} IS NULL OR length({col_name}) < {n} "
        f"THEN 0L ELSE "
        f"aggregate(zip_with({h}, sequence(1, size({h})), "
        f"(x, i) -> x * i), 0L, (acc, v) -> acc + v) % {MASK32} END"
    ).cast("long")


def _simhash32_expr(col_name: str, base: int) -> str:
    """SQL-expression string: 32-bit SimHash half over the ``base``-family
    token hashes. bit_i(sig) = 1 iff sum over tokens of
    (2*bit_i(h_tok) - 1) > 0. Pure higher-order functions: one hash array
    per doc, 32 folds, no row explosion, no shuffle."""
    hs = (
        f"transform(split(trim({col_name}), '{_WS_SQL}'), "
        f"w -> aggregate(split(w, ''), 0L, "
        f"(acc, ch) -> (acc * {base} + ascii(ch)) % {MASK32}))"
    )
    return (
        f"aggregate(transform(sequence(0, 31), "
        f"i -> CASE WHEN aggregate({hs}, 0L, "
        f"(acc, h) -> acc + (CASE WHEN (h div shiftleft(1L, i)) % 2 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 "
        f"THEN shiftleft(1L, i) ELSE 0L END), 0L, (acc, b) -> acc + b)"
    )


def simhash32(col_name: str) -> Column:
    """32-bit SimHash (base-131 family) — streaming-friendly single-row
    form; the batch table variant is operators/dedup.simhash_table."""
    return F.expr(_simhash32_expr(col_name, 131)).cast("long")


def combine_simhash64(lo: Column, hi: Column) -> Column:
    """Pack two non-negative 32-bit SimHash halves into one signed 64-bit
    signature without any shift-by-63 (which overflows in DuckDB and is
    the one place Spark/DuckDB bit semantics diverge):

        simhash = (hi - 2^32 * [hi >= 2^31]) * 2^32 + lo

    Every intermediate stays within signed-64 range under ANSI-checked
    arithmetic, and the identical formula runs in the DuckDB oracle."""
    hi_signed = F.when(hi >= F.lit(2147483648), hi - F.lit(4294967296)).otherwise(hi)
    return (hi_signed * F.lit(4294967296) + lo).cast("long")


def simhash64(col_name: str) -> Column:
    """64-bit SimHash: bits 0-31 from the base-131 token-hash family, bits
    32-63 from the independent base-137 family (equivalent to SimHash over
    the 64-bit token hash h137*2^32 + h131). Single-row HOF form; use
    operators/dedup.simhash_table for the batch explode+codegen shape."""
    lo = F.expr(_simhash32_expr(col_name, 131)).cast("long")
    hi = F.expr(_simhash32_expr(col_name, 137)).cast("long")
    return combine_simhash64(lo, hi)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF — the classic keyword/
    distinctiveness extractor for corpus triage. Returns
    (id, rank, term, tf, df): rank orders by tf * ln(N/df) descending with
    the term string as tiebreak.

    Output discipline for the engine oracle: the raw ln-based score stays
    OUT of the result (Java Math.log and C libm can differ in the last
    ulp; ties within a (tf, df) class are bitwise-equal inside each engine
    and classes are well-separated, so the ORDER is engine-stable even
    though the score bits are not).

    Plan shape at scale: explode -> two hash aggregations (per-doc term
    counts, then corpus document frequency — both map-side combinable), a
    broadcast of the tiny (term, df) table back onto per-doc counts, and a
    per-doc top-k window. The corpus size N enters via a broadcast
    single-row aggregate, not a driver-side collect."""
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # materialize the per-doc term counts once: both the document
    # frequency and the scoring join consume tf, and recomputing it
    # means two explode+groupBy passes over the corpus
    tf = pin(toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(id_col),
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    k: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary coverage — the tokenizer-training planning
    number: the top-``k`` words by corpus frequency and, per rank, the
    cumulative fraction of ALL token occurrences a vocabulary truncated
    at that rank would cover.

    Output: (rank, word, n_occurrences, coverage), rank by occurrence
    count descending with the word string as tiebreak; coverage is a
    ratio of exact longs, so it is engine-exact.

    Plan shape at scale: explode -> one map-side-combinable word-count
    hash agg; the global top-k plans as TakeOrderedAndProject (never a
    full sort of the vocabulary) and the running-coverage window runs
    over k rows, not the corpus. The corpus-total denominator is a
    broadcast single-row aggregate."""
    from pyspark.sql.window import Window

    words = df.select(F.explode(tokens(text_col)).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.desc("n"), F.asc("word")).limit(k)
    w = (
        Window.orderBy(F.desc("n"), F.asc("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.join(F.broadcast(total))
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("n"), F.asc("word"))
        ))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "word",
            F.col("n").cast("long").alias("n_occurrences"),
            (F.sum("n").over(w) / F.col("total")).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic corpus splitting
# ---------------------------------------------------------------------------

SPLIT_MOD = 10_000



def md5_bucket(id_col: str, salt: str, mod: int = SPLIT_MOD) -> Column:
    """Deterministic bucket in [0, mod): int(md5('<salt>:<id>')[:8
    hex]) % mod (default SPLIT_MOD). THE membership primitive for
    splits, sampling, mixing and hashed features — one definition so
    the rule mirrored in every DuckDB oracle cannot drift between call
    sites (``id_col`` may be any SQL expression string). Pure function
    of (salt, id): stable under repartition and corpus growth. md5
    (not a polynomial fold) because sequential/zero-padded ids must
    still spread uniformly."""
    key = f"concat('{salt}', ':', CAST({id_col} AS STRING))"
    return F.expr(
        f"CAST(conv(substring(md5({key}), 1, 8), 16, 10) AS BIGINT) "
        f"% {mod}"
    ).cast("long")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent id
    hash: bucket = int(md5('<salt>:<id>')[:8 hex]) % 10,000; the first
    ``train_pct`` percent of bucket space is train, the next ``val_pct``
    val, the rest test. Changing the salt re-rolls the split; changing
    corpus size does NOT move existing rows between splits (the property
    a growing training corpus needs). md5 (not a polynomial fold) because
    the common id shapes — sequential integers, zero-padded keys — must
    still spread uniformly over bucket space; a rolling hash maps
    consecutive ids to consecutive buckets and can starve a whole split.
    Narrow projection, zero shuffle."""
    bucket = md5_bucket(id_col, salt)
    train_hi = SPLIT_MOD * train_pct // 100
    val_hi = train_hi + SPLIT_MOD * val_pct // 100
    return df.withColumn("bucket", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < train_hi, F.lit("train"))
        .when(F.col("bucket") < val_hi, F.lit("val"))
        .otherwise(F.lit("test")),
    )


# ---------------------------------------------------------------------------
# repetition / contamination / stratified sampling — corpus hygiene at scale
# ---------------------------------------------------------------------------


def token_ngrams(toks_col: str, n: int) -> Column:
    """Token n-grams as space-joined strings (Gopher-style repetition and
    benchmark-contamination checks both key on these). Stays inside codegen:
    ``transform`` over an index sequence + 1-based ``slice``. Empty/short
    docs yield an empty array, never NULL (guarded: Spark's
    ``sequence(1, 0)`` is DESCENDING [1, 0], not empty)."""
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {n} THEN "
        f"transform(sequence(1, size({toks_col}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({toks_col}, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``n_tokens`` / ``n_distinct_tokens`` and their ratio
    - ``top_token_frac`` — occurrence share of the most frequent token
    - ``dup_2gram_frac`` — share of 2-gram occurrences whose 2-gram appears
      more than once in the doc (Rae et al. 2021, "duplicate n-gram
      fraction"; a high value flags boilerplate/spam for the quality gate)

    Plan shape: explode -> two hash aggregations keyed by (doc_id, gram).
    Both aggs are map-side combinable and shuffle only (id, gram, count)
    triples — the standard shape that survives 100 TB. Docs whose text is
    empty keep a row (left join back) with zero counts.
    """
    base = df.select("doc_id", tokens(text_col).alias("toks"))
    tok = base.select("doc_id", F.explode("toks").alias("g"))
    tok_counts = tok.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    tok_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"),
        F.max("c").cast("long").alias("top_c"),
    )
    gram = base.select(
        "doc_id", F.explode(token_ngrams("toks", 2)).alias("g")
    )
    gram_counts = gram.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    gram_stats = gram_counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_2grams"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_2gram_occurrences"),
    )
    out = (
        df.select("doc_id")
        .join(tok_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
        .na.fill(
            0,
            [
                "n_tokens",
                "n_distinct_tokens",
                "top_c",
                "n_2grams",
                "n_dup_2gram_occurrences",
            ],
        )
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.when(F.col("n_tokens") > 0, F.col("top_c") / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("top_token_frac"),
        F.when(
            F.col("n_2grams") > 0,
            F.col("n_dup_2gram_occurrences") / F.col("n_2grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
    )


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for every corpus doc, how many of its
    distinct token ``n``-grams also occur in the benchmark set (the
    standard n-gram-overlap decontamination test run before training).

    Scale shape: the benchmark gram set is tiny relative to the corpus, so
    the join is an explicit ``broadcast`` equi-join on the gram string —
    the corpus side streams through map-side, no shuffle of corpus grams.
    Output keeps every corpus doc (zero matches included) so the
    downstream filter is a plain predicate.
    """
    corpus_grams = corpus.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(token_ngrams_of_text(text_col, n))
        ).alias("g"),
    )
    bench_grams = (
        benchmark.select(
            F.explode(
                F.array_distinct(token_ngrams_of_text(text_col, n))
            ).alias("g")
        )
        .distinct()
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_ngrams"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .na.fill(0, ["n_shared_ngrams"])
        .select(
            "doc_id",
            "n_shared_ngrams",
            (F.col("n_shared_ngrams") > 0).alias("contaminated"),
        )
    )


def token_ngrams_of_text(text_col: str, n: int) -> Column:
    """``token_ngrams`` applied directly to a text column (tokenize inline,
    single expression — no intermediate column needed)."""
    t = f"trim({text_col})"
    toks = (
        f"CASE WHEN {t} = '' THEN CAST(array() AS array<string>) "
        f"ELSE split({t}, '{_WS_SQL}') END"
    )
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_bp: dict[str, int],
    default_bp: int,
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its md5
    bucket (same construction as :func:`hash_split`, different salt)
    falls below the stratum's rate in basis points of ``SPLIT_MOD``.
    The standard corpus-mixing move — e.g. keep 80% of English but 20%
    of everything else — with membership a pure function of (salt, id),
    so re-runs, repartitions, and corpus growth never change a kept set
    retroactively. Narrow projection + filter, zero shuffle."""
    bucket = md5_bucket(id_col, salt)
    threshold = F.lit(default_bp)
    for stratum, bp in sorted(rates_bp.items()):
        threshold = F.when(
            F.col(strata_col) == stratum, F.lit(bp)
        ).otherwise(threshold)
    return (
        df.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold)
    )


def bpe_merge_pair_stats(
    docs: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Adjacent-symbol-pair frequencies — the inner loop of BPE tokenizer
    TRAINING (round 0: every merge candidate is an adjacent character
    pair inside a pretoken, weighted by how often the pretoken occurs in
    the corpus). Output: the top-``k`` pairs as (rank, pair,
    n_occurrences), ordered by count desc with the pair string as the
    deterministic tiebreak — i.e. the order in which a BPE trainer would
    consider merges.

    Scale shape (the word-count trick real trainers use): the corpus
    collapses to DISTINCT pretokens with counts first (one map-side-
    combinable agg over ~vocabulary-sized keys), so the quadratic-ish
    character-pair explode runs over the distinct-pretoken table —
    bounded by vocabulary size — not over 100 TB of text. The pair agg
    is another map-side-combinable integer sum, and the global top-k
    plans as TakeOrderedAndProject, never a full sort."""
    pre = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(BPE_PRETOKEN_RE), F.lit(0)
            )
        ).alias("tok")
    )
    cnt = pre.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    pairs = (
        cnt.filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1), "
                    "i -> substring(tok, i, 2))"
                )
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n_occurrences"))
    )
    from pyspark.sql.window import Window

    top = pairs.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(k)
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "pair",
        "n_occurrences",
    )


def winnow_fingerprints(
    docs: DataFrame,
    ngram: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm): slide a ``window`` over the positional
    character-``ngram`` hash sequence and keep each window's minimum; the
    distinct selected hashes are the document's fingerprint set.

    The winnowing guarantee: any substring match of length >=
    ``window + ngram - 1`` characters between two documents produces at
    least one SHARED fingerprint — so an inverted index over (fp ->
    doc) finds every sufficiently long clone while storing only ~2/(w+1)
    of the grams. This is the standard selection layer between raw
    shingling (t03's rolling hash) and the index; docs shorter than one
    window keep the minimum of what they have, empty docs emit nothing.

    Scale shape: entirely in-row (one slice+min per window position,
    O(len·w) inside the projection) followed by one explode — zero
    shuffles; the output IS the (doc, fp) posting table you'd write
    bucketed-by-fp (store.write_band_index's layout applies verbatim)."""
    # materialize the Arrow-hashed gram array into a column FIRST: Spark
    # rejects a Python UDF inside a higher-order-function lambda subtree,
    # so the transform below must reference an attribute, not _sh(text)
    base = docs.select(
        F.col(id_col), char_ngram_hashes_fast(text_col, ngram).alias("__h")
    )
    h = F.col("__h")
    m = F.size(h)
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(m - F.lit(window), F.lit(0))),
        lambda i: F.array_min(F.slice(h, i + 1, window)),
    )
    # explode_OUTER, then drop the NULL fp an empty doc yields (its mins
    # list is [array_min([])] = [NULL]): an inner explode makes Catalyst
    # infer a size(__fps) > 0 filter BELOW the Generate, which re-splits
    # the Arrow gram hashing into a filter evaluation plus a project
    # evaluation — the whole UDF pass would run TWICE (r7 audit; outer
    # generates skip that inference). Output is identical: non-empty
    # docs never produce a NULL fingerprint (every window slice of a
    # non-empty hash list is non-empty).
    return (
        base.select(
            F.col(id_col), F.array_distinct(mins).alias("__fps")
        )
        .select(id_col, F.explode_outer("__fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


# ---------------------------------------------------------------------------
# statistical quality models — n-gram LM perplexity + hashed linear scorer
# ---------------------------------------------------------------------------


def bigram_lm_scores(
    docs: DataFrame,
    train: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train a
    word-bigram language model with add-one smoothing on ``train``
    (default: the corpus itself) and score every document by average
    negative log-likelihood per bigram — the filter real pipelines
    threshold on to keep fluent text (CCNet buckets the corpus by
    KenLM perplexity; a bigram model is the same decision function
    with a model that SQL can reproduce exactly).

    Model: P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), where c(w1·)
    counts bigrams starting at w1 and V is the unigram vocabulary size
    of the training corpus. Unseen bigrams still score (the +1 floor),
    so scoring any corpus against any model is total.

    Determinism: each bigram's log-probability quantizes to integer
    MICRO-nats via the portable half-up form floor(x*1e6 + 0.5)
    (functions/core.qfloor_long — engine-native round() disagrees at
    half boundaries) and accumulates as an exact BIGINT sum, so the
    per-doc total is task-order-free; one IEEE division per doc yields
    avg_nll un-rounded. The 1e-6 quantum (not 1e-9) is deliberate:
    ln() is a transcendental whose last ulp may differ between JVM
    Math.log and libm, and the coarser grid makes a cross-engine
    boundary flip ~1e-10-improbable per distinct (cb, cu) pair instead
    of ~1e-7 — the one place quantization FOLLOWS a transcendental
    rather than exact arithmetic.

    Scale shape: docs explode to per-doc DISTINCT bigrams with
    multiplicity first (map-side-combinable agg), so the model join
    ships each (doc, bigram) once however often it repeats — Zipf-heavy
    bigrams cost one row per doc, not one per occurrence. Two equi-joins
    (bigram model on (w1,w2), start-counts on w1) + one per-doc agg; V
    is a broadcast single-row cross join. Docs with < 2 tokens return
    NULL scores (no bigrams to judge).

    Output: (doc_id, n_bigrams, avg_nll, ppl)."""
    train = docs if train is None else train

    def _bigrams(df: DataFrame) -> DataFrame:
        t = tokens(text_col)
        # NB: Spark's sequence(1, 0) yields DESCENDING [1, 0], not an
        # empty array — docs with < 2 tokens must short-circuit
        pairs = F.expr(
            "CASE WHEN size(trim_toks) < 2 "
            "THEN CAST(array() AS array<struct<w1:string,w2:string>>) "
            "ELSE transform(sequence(1, size(trim_toks) - 1), "
            "i -> struct(element_at(trim_toks, i) AS w1, "
            "element_at(trim_toks, i + 1) AS w2)) END"
        )
        return (
            df.select(F.col(id_col), t.alias("trim_toks"))
            .select(F.col(id_col), F.explode(pairs).alias("bg"))
            .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        )

    # the model chain is a strict aggregation hierarchy — occ (per-doc
    # distinct bigrams with multiplicity) sums over docs to the bigram
    # model c(w1,w2), which sums over w2 to the start counts c(w1.) —
    # so each level derives from the one below with exact-integer sums
    # instead of re-scanning the corpus-sized bigram frame (r13: the
    # old shape ran THREE groupBys over the exploded bigrams; this one
    # runs ONE, and the two model levels aggregate already-compressed
    # frames). Each level feeds two consumers, so each is pinned once
    # (the pagerank/winnow convention).
    tb = _bigrams(train)
    if train is docs:
        # scoring occurrences double as the model's per-doc partials
        occ = pin(
            tb.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
        )
        model = occ.groupBy("w1", "w2").agg(F.sum("k").alias("cb"))
    else:
        model = tb.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
        occ = _bigrams(docs).groupBy(id_col, "w1", "w2").agg(
            F.count(F.lit(1)).alias("k")
        )
    model = pin(model)
    starts = model.groupBy("w1").agg(F.sum("cb").alias("cu"))
    vocab = (
        train.select(F.explode(tokens(text_col)).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    scored = (
        occ.join(model, ["w1", "w2"], "left")
        .join(starts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.col("k"),
            qfloor_long(
                F.log(F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1))
                - F.log(F.coalesce(F.col("cu"), F.lit(0)) + F.col("v")),
                6,
            ).alias("logp_micro"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.sum(F.col("logp_micro") * F.col("k")).alias("ll_micro"),
        )
    )
    out = docs.select(id_col).join(scored, id_col, "left")
    # exact-integer numerator / exact double denominator: IEEE-identical
    # in any engine, no display rounding needed
    avg_nll = -F.col("ll_micro") / (F.col("n_bigrams") * F.lit(1e6))
    return out.select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        avg_nll.alias("avg_nll"),
        qround(F.exp(avg_nll), 6).alias("ppl"),
    )


# hashed linear scorer: bucket space and weight derivation salts
QW_BUCKETS = 1024
QW_SALT = "qw-v1"


def hashed_linear_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality classifier INFERENCE at corpus
    scale (Joulin et al. 2017 architecture; the quality-classifier
    pattern of GPT-3/LLaMA data pipelines): each token hashes into one
    of ``QW_BUCKETS`` feature buckets, the doc's feature vector is the
    normalized bag of buckets, and the score is a sigmoid over the dot
    product with a weight vector.

    Weights here are a deterministic pseudo-model — integer weights in
    [-1000, 1000] derived from md5(bucket id) — because no trained
    artifact ships with the repo; swapping in a real model is replacing
    the generated dim with a table read. What this operator demonstrates
    is the SCALE pattern: MODEL-AS-LITERAL inference. A hashed linear
    model is bounded by its bucket count regardless of corpus size
    (1024 ints here; even a 10M-bucket production model is ~40 MB), so
    the whole classifier evaluates IN-ROW — the weight vector rides the
    plan as one constant-folded array literal and the dot product is a
    higher-order aggregate over the token array. ZERO shuffles, zero
    joins: the pre-r13 shape (explode -> (doc, bucket) agg -> broadcast
    weight join -> per-doc agg -> doc-spine stitch join) paid two
    corpus-keyed exchanges plus a doc-spine join for work every row can
    finish locally. (A model too big for plan literals drops back to
    the broadcast-join form — that threshold, not corpus size, is what
    forces the join.)

    Determinism: weights and the dot product are exact BIGINT sums
    (integer addition is order-free, so in-row accumulation over the
    token array equals the old per-bucket k*w regrouping exactly);
    the margin is ONE IEEE division of exact integers (deterministic
    with no quantization at all), and only the sigmoid — the lone
    transcendental — is quantized, at the coarse 1e-6 grid so a
    cross-engine exp() ulp difference cannot flip the floor (see
    bigram_lm_scores). Docs with no tokens score NULL.

    Output: (doc_id, n_tokens, margin, prob)."""
    arr = "array(" + ",".join(str(x) for x in _qw_weights()) + ")"
    # per-token bucket: md5_bucket('lower(tok)', QW_SALT, QW_BUCKETS)
    # inlined as SQL so it runs inside the lambda — ONE rule with the
    # md5_bucket expression. The end-to-end pin is
    # tests/test_properties.py::test_hashed_linear_score_matches_python_spec
    # (independent Python spec over the same inputs);
    # tests/test_quality_models.py pins the weight-derivation rule.
    # NB: the in-row aggregate assumes tokens() never emits NULL array
    # elements (it doesn't — split+filter); a NULL element would NULL
    # the whole doc's dot/margin/prob where the old explode+join form
    # silently dropped the token. If tokenization ever changes, wrap
    # the lambda bucket lookup in coalesce(..., 0L) to keep the old
    # drop semantics.
    bkt = (
        f"CAST(conv(substring(md5(concat('{QW_SALT}', ':', lower(tok))), "
        f"1, 8), 16, 10) AS BIGINT) % {QW_BUCKETS}"
    )
    dot = F.expr(
        f"aggregate(__t, 0L, (a, tok) -> "
        f"a + element_at(__w, CAST(({bkt}) AS INT) + 1))"
    )
    n_tokens = F.when(F.col("__t").isNull(), F.lit(0)).otherwise(
        F.size("__t")
    ).cast("long")
    margin = dot / (F.lit(1000.0) * F.nullif(n_tokens, F.lit(0)))
    return docs.select(
        F.col(id_col),
        tokens(text_col).alias("__t"),
        F.expr(arr).alias("__w"),
    ).select(
        id_col,
        n_tokens.alias("n_tokens"),
        margin.alias("margin"),
        qround(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6).alias("prob"),
    )


def _qw_weights() -> list[int]:
    """The t14 pseudo-model as a Python list: w_j = int(md5('qw-v1:<j>')
    [:8 hex], 16) % 2001 - 1000 — the same rule ``md5_bucket(j, QW_SALT,
    2001) - 1000`` evaluates in-engine (and the DuckDB oracle's weights
    CTE mirrors). Equality of all three derivations is pinned in
    tests/test_quality_models.py so the literal cannot drift."""
    import hashlib

    return [
        int(hashlib.md5(f"{QW_SALT}:{j}".encode()).hexdigest()[:8], 16)
        % 2001
        - 1000
        for j in range(QW_BUCKETS)
    ]


def gopher_quality_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021, Appendix A —
    the heuristic gate MassiveWeb applies before any model-based
    scoring; C4/RefinedWeb use close variants). Per document:

    - ``n_words``, ``mean_word_len`` — length gates (50..100k words,
      mean word length 3..10)
    - ``frac_alpha_words`` — words containing at least one ASCII letter
      (> 0.8 required; ALL-symbol text is markup/tables)
    - ``frac_bullet_lines`` / ``frac_ellipsis_lines`` — lines starting
      with a bullet (< 0.9) / ending with an ellipsis (< 0.3)
    - ``n_stop_hits`` — at least 2 of a tiny stopword list must appear
      (the paper's "contains 2 of {the, be, to, of, and, that, have,
      with}" natural-language check, over our STOPWORDS)

    ``keep`` ANDs the gates. Every signal is exact integer counting in
    one narrow projection (no shuffle, no UDF); the two ratios are
    BIGINT/BIGINT IEEE divisions, so the whole frame is oracle-exact
    with no quantization. Empty docs: ratios NULL, keep false."""
    t = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        t.alias("__t"),
        F.split(F.col(text_col), "\n").alias("__lines"),
    )
    n_words = F.size("__t").cast("long")
    sum_len = F.expr(
        "aggregate(__t, 0L, (a, w) -> a + length(w))"
    )
    n_alpha = F.expr(
        "size(filter(__t, w -> w rlike '[A-Za-z]'))"
    ).cast("long")
    n_lines = F.size("__lines").cast("long")
    n_bullet = F.expr(
        "size(filter(__lines, l -> startswith(ltrim(l), '-') "
        "OR startswith(ltrim(l), '*') OR startswith(ltrim(l), '•')))"
    ).cast("long")
    n_ellipsis = F.expr(
        "size(filter(__lines, l -> endswith(rtrim(l), '...')))"
    ).cast("long")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop_hits = F.expr(
        f"size(array_intersect(transform(__t, w -> lower(w)), array({sw})))"
    ).cast("long")

    mean_word_len = sum_len / F.nullif(n_words, F.lit(0))
    frac_alpha = n_alpha / F.nullif(n_words, F.lit(0))
    frac_bullet = n_bullet / F.nullif(n_lines, F.lit(0))
    frac_ellipsis = n_ellipsis / F.nullif(n_lines, F.lit(0))
    keep = (
        (n_words >= 50)
        & (n_words <= 100_000)
        & mean_word_len.between(3.0, 10.0)
        & (frac_alpha > 0.8)
        & (frac_bullet < 0.9)
        & (frac_ellipsis < 0.3)
        & (n_stop_hits >= 2)
    )
    return base.select(
        id_col,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        frac_bullet.alias("frac_bullet_lines"),
        frac_ellipsis.alias("frac_ellipsis_lines"),
        n_stop_hits.alias("n_stop_hits"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def winnow_clone_pairs(
    docs: DataFrame,
    window: int = 4,
    ngram: int = 3,
    threshold: float = 0.85,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Clone-pair detection over winnowing fingerprints — the MOSS
    pipeline's second half (Schleimer et al. 2003 §4): join the
    (doc, fingerprint) posting table to itself on the fingerprint,
    then keep pairs whose fingerprint-set JACCARD reaches
    ``threshold``. Winnowing guarantees any clone of >= window+ngram-1
    characters shares a fingerprint, so the join finds every candidate
    at ~2/(window+1) of d04's full-shingle index volume; the Jaccard
    gate (not a raw shared count — boilerplate-heavy corpora share
    dozens of fingerprints between unrelated docs) is what ranks real
    clones, estimating d04's shingle Jaccard from the winnowed sample.

    ``max_doc_freq`` is the same 100 TB skew valve as d04/d08: a
    fingerprint present in more than that many docs (boilerplate) would
    contribute a quadratic posting-list blowup for ~no clone signal;
    capping keeps every bucket's pair expansion bounded. Default None =
    exact over all fingerprints (the oracle setting).

    The Jaccard is a quotient of exact BIGINTs — one IEEE division,
    no quantization needed. Output: (id_a, id_b, n_shared, fp_jaccard),
    id_a < id_b.

    The posting table is MATERIALIZED once (localCheckpoint, the d12/
    d14 convention): FOUR subtrees consume it (both join sides plus the
    size table behind both per-doc denominators), so without it the
    whole winnowing UDF pass re-runs per consumer — the r7 audit
    measured EIGHT full evaluations of the gram-hashing UDF in this one
    plan. (doc, fp) rows are two longs, ~16 bytes per SELECTED window —
    winnowing keeps ~2/(window+1) of positions, so the block is a
    fraction of the corpus text (unlike the raw shingle tables in
    operators/dedup.py, which can exceed it — see that module's
    materialization caveat for the localCheckpoint executor-loss
    tradeoff, which applies here identically)."""
    fps = pin(winnow_fingerprints(docs, window=window, ngram=ngram))
    if max_doc_freq is not None:
        keep = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("fp")
        )
        fps = pin(fps.join(keep, "fp", "left_semi"))
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    inter = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_b"))
    jac = F.col("n_shared") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_shared", jac.alias("fp_jaccard")
        )
        .filter(F.col("fp_jaccard") >= threshold)
    )


def unigram_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram (token-distribution) Shannon entropy in
    nats — the lexical-diversity signal that separates natural prose
    (high entropy) from boilerplate/template/keyword-stuffed text (low
    entropy); the continuous generalization of t07's distinct-token
    ratio, and a standard pre-training quality feature.

    H = -sum_w (k_w/n) ln(k_w/n) = ln(n) - (1/n) sum_w k_w ln(k_w):
    the second form needs ln only of exact integer counts, so each
    ln(k_w) quantizes once to micro-nats (transcendental-safe 1e-6
    grid, see bigram_lm_scores) and the weighted sum is an exact
    BIGINT; ln(n) rides un-quantized through the final IEEE
    expression. Entirely explode + one map-side-combinable
    (doc, word) agg + one per-doc agg. Empty docs: NULL entropy.

    Output: (doc_id, n_tokens, n_types, entropy)."""
    counts = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("k").alias("n"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.col("k") * qfloor_long(F.log(F.col("k").cast("double")), 6)
        ).alias("klnk_micro"),
    )
    out = docs.select(id_col).join(per_doc, id_col, "left")
    entropy = F.log(F.col("n").cast("double")) - (
        F.col("klnk_micro") / (F.col("n") * F.lit(1e6))
    )
    return out.select(
        id_col,
        F.coalesce("n", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
        qround(entropy, 6).alias("entropy"),
    )
