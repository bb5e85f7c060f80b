"""Text-analysis columns over a documents/pages table, built-ins first.

Everything here that feeds an oracle-checked query is expressed with
JVM-side built-ins (split/regexp/length arithmetic) so it stays inside
whole-stage codegen AND can be mirrored in DuckDB SQL. The winnowing
fingerprint (inherently procedural) is the one Arrow row UDF member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Marker words per language — shared verbatim with the DuckDB oracle
# (kernels/textstats.py LANG_MARKERS is the kernel-side equivalent for
# non-SQL callers).
LANG_MARKER_SQL = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans"],
    "es": ["el", "los", "las", "es", "una", "que", "por"],
}

STOPWORDS = sorted({w for ms in LANG_MARKER_SQL.values() for w in ms})


def token_count_col(text_col) -> "F.Column":
    """Whitespace token count, identical semantics to the DuckDB oracle's
    length(regexp_split_to_array(trim(text), '\\s+'))."""
    # NULL text (failed extractions) must count 0, not size(NULL) = -1
    # under Spark's legacy sizeOfNull — a -1 leaking into
    # concat_chunk_map's cumsum shifts every later document's chunk
    # range in the shard (r5 whole-repo review)
    t = F.trim(F.coalesce(text_col if not isinstance(text_col, str)
                          else F.col(text_col), F.lit("")))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count_col(text_col) -> "F.Column":
    """BPE-ish token count: letter runs + digit runs + single punctuation."""
    return F.size(F.regexp_extract_all(text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def _marker_hits(text_col, words: list[str]) -> "F.Column":
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(pat), 0))


def lang_id_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds score_<lang> columns + lang_pred (argmax, alphabetical tiebreak,
    'und' when all zero)."""
    c = F.col(text_col)
    out = df
    for lang, words in LANG_MARKER_SQL.items():
        out = out.withColumn(f"score_{lang}", _marker_hits(c, words))
    scores = [F.col(f"score_{l}") for l in LANG_MARKER_SQL]
    best = F.greatest(*scores)
    pred = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKER_SQL):  # alphabetical tiebreak
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.withColumn("lang_pred", pred)


def quality_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features +
    composite score — pure arithmetic, oracle-mirrorable."""
    c = F.col(text_col)
    n_chars = F.length(c)
    n_words = token_count_col(c)
    n_punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    stop_pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(c), F.lit(stop_pat), 0))
    mean_wlen = F.when(n_words > 0,
                       F.length(F.regexp_replace(c, r"\s+", "")) / n_words).otherwise(F.lit(0.0))
    len_score = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    wlen_score = F.greatest(F.lit(0.0), F.lit(1.0) - F.abs(mean_wlen - 5.0) / 5.0)
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - (n_punct / F.greatest(n_chars, F.lit(1))) * 5.0)
    stop_score = F.least(F.lit(1.0), (n_stop / F.greatest(n_words, F.lit(1))) * 4.0)
    return (
        df.withColumn("n_chars_t", n_chars.cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_ratio", F.round(n_stop / F.greatest(n_words, F.lit(1)), 6))
        .withColumn(
            "quality_score",
            F.round(0.3 * len_score + 0.2 * wlen_score + 0.25 * punct_score + 0.25 * stop_score, 6),
        )
    )


def fingerprint_md5_col(text_col) -> "F.Column":
    """Cheap content fingerprint with a SQL-portable definition."""
    return F.substring(F.md5(text_col), 1, 16)


def winnowing_fingerprints(df: DataFrame, text_col: str = "text",
                           key_col: str = "doc_id") -> DataFrame:
    """(key, fingerprints array<bigint>) via the winnowing kernel."""
    from pyspark.sql.types import ArrayType, LongType

    def fn(t: str | None) -> list[int]:
        from ..kernels.textstats import winnowing_fingerprint

        # uint64 -> int64 bit-reinterp, one-to-one (as minhash_signatures)
        return [h - (1 << 64) if h >= (1 << 63) else h
                for h in winnowing_fingerprint(t or "")]

    udf = F.udf(fn, ArrayType(LongType()), useArrow=True)
    return df.select(F.col(key_col).alias("key"), udf(F.col(text_col)).alias("fingerprints"))


# --- PII scrubbing ------------------------------------------------------------
# Training-data pipelines redact contact PII before the corpus ships. Patterns
# are deliberately restricted to the Java-regex ∩ RE2 common subset so the
# Spark plan and the DuckDB oracle match byte-for-byte.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
PII_IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds `{text_col}_scrubbed` plus per-kind match counts. Pure built-in
    regexp columns: whole-stage codegen, trivially distributable, no UDF."""
    col = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL_RE, "[EMAIL]"),
            PII_IPV4_RE, "[IP]"),
        PII_PHONE_RE, "[PHONE]")
    return (df
            .withColumn("n_emails", F.regexp_count(col, F.lit(PII_EMAIL_RE)))
            .withColumn("n_phones", F.regexp_count(col, F.lit(PII_PHONE_RE)))
            .withColumn("n_ips", F.regexp_count(col, F.lit(PII_IPV4_RE)))
            .withColumn(f"{text_col}_scrubbed", scrubbed))


def line_repetition_stats(df: DataFrame, text_col: str = "text",
                          key_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-line fraction
    and duplicate-line character fraction. A document's stats depend only on
    its own lines, so this is a ZERO-SHUFFLE per-row computation — split +
    array_distinct + aggregate higher-order functions, all JVM-side. (The
    explode/groupBy formulation shuffles twice for no reason at 100 TB.)"""
    # r9: project the split and array_distinct ONCE — referenced inline
    # they re-evaluate per top-level expression (size/aggregate run
    # interpreted, outside codegen CSE), i.e. ~5 splits per row
    base = df.select(
        F.col(key_col).alias("key"),
        F.split(F.col(text_col), "\n").alias("__arr"))
    base = base.withColumn("__dist", F.array_distinct(F.col("__arr")))
    arr, distinct = F.col("__arr"), F.col("__dist")

    def chars(a):
        return F.aggregate(a, F.lit(0).cast("long"),
                           lambda acc, x: acc + F.length(x))

    total_chars = chars(arr)
    distinct_chars = chars(distinct)
    return base.select(
        "key",
        F.size(arr).cast("bigint").alias("n_lines"),
        F.round(1.0 - F.size(distinct) / F.size(arr), 6).alias("dup_line_frac"),
        F.round((total_chars - distinct_chars) / total_chars.cast("double"), 6)
         .alias("dup_char_frac"))


def chunk_text(df: DataFrame, text_col: str = "text", key_col: str = "doc_id",
               chunk_chars: int = 200, overlap: int = 40) -> DataFrame:
    """LLM-training chunking: fixed-size character windows with overlap,
    as pure built-ins (sequence + explode + substring — codegen, and the
    only shuffle is whatever the caller does downstream). Emits
    (key, chunk_id, chunk, n_chunk_chars); documents shorter than one
    window yield a single chunk."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    step = chunk_chars - overlap
    # NULL text (failed/oversize extraction rows) behaves like empty text —
    # one empty chunk — so keys never silently vanish from the chunk table
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    # number of windows: 1 + ceil(max(0, n - chunk_chars) / step)
    n_chunks = (F.lit(1) + F.ceil(
        F.greatest(n - chunk_chars, F.lit(0)) / F.lit(step))).cast("int")
    out = (df
           .select(F.col(key_col).alias("key"), c.alias("__t"),
                   F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"))
           .select(
               "key",
               F.col("chunk_id").cast("bigint").alias("chunk_id"),
               F.substring(F.col("__t"), F.col("chunk_id") * step + 1,
                           chunk_chars).alias("chunk")))
    return out.withColumn("n_chunk_chars",
                          F.length("chunk").cast("bigint"))


def oov_rate(df: DataFrame, text_col: str = "text", key_col: str = "doc_id",
             vocab_size: int = 1000) -> DataFrame:
    """Corpus-derived vocabulary OOV scoring — a perplexity-proxy quality
    signal for training-data filtering: build the top-`vocab_size` token
    vocabulary from the corpus itself (count desc, token asc — fully
    deterministic tie-break), then score each document by its
    out-of-vocabulary token fraction.

    Two-phase distributed shape: token counts are one map-side-combined
    groupBy; the vocabulary is a top-K (tiny) that BROADCASTS back, so
    the scoring join never shuffles the corpus. The rate is returned as
    integer parts-per-million (floor division) — zero float arithmetic,
    so the DuckDB oracle matches bit-for-bit with no rounding-tie risk
    (CLAUDE.md invariant 10)."""
    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.split(F.trim(F.regexp_replace(F.col(text_col),
                                                  r"\s+", " ")), " ")
                  ).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (toks.groupBy("tok").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("tok").asc())
             .limit(vocab_size)
             .select("tok", F.lit(1).alias("in_vocab")))
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return (scored.groupBy("key")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                  .alias("n_oov"))
            .select(F.col("key").alias(key_col), "n_tokens", "n_oov",
                    F.expr("(n_oov * 1000000) div n_tokens").alias("oov_ppm")))


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    forbidden: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """C4-style page quality filter (the published cleaning rules of
    Raffel et al. 2020, "Exploring the Limits of Transfer Learning",
    §2.2): keep only lines that end in terminal punctuation AND carry at
    least `min_words_per_line` words; drop whole pages with fewer than
    `min_kept_lines` surviving lines or containing any `forbidden`
    substring (case-insensitive).

    Pure JVM-side column algebra — split + higher-order filter + size —
    no UDF, so at 100 TB this is a single scan inside whole-stage
    codegen with zero shuffle. The terminal-punctuation regex stays in
    the Java-regex/RE2 common subset (oracle lockstep, invariant 9)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
        & l.rlike('[.!?"]\\s*$'),
    )
    low = F.lower(F.col(text_col))
    has_forbidden = F.lit(False)
    for needle in forbidden:
        has_forbidden = has_forbidden | low.contains(needle.lower())
    return df.select(
        F.col(key_col).alias("key"),
        F.size(kept).alias("n_lines_kept"),
        F.array_join(kept, "\n").alias("kept_text"),
        ((F.size(kept) >= min_kept_lines) & ~has_forbidden).alias("keep"),
    )


def deterministic_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """REPRODUCIBLE stratified sampling for training-data mixes: per-
    stratum keep rates applied by a content-independent hash of the key
    (first 8 hex chars of md5 mod 10000), so the same corpus always
    yields the same sample — across runs, engines, and cluster sizes —
    unlike Spark's sample(), whose output depends on partitioning.
    Rates are permyriad-exact (0.xxxx); pure column algebra, no shuffle."""
    bucket = (F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
                     16, 10).cast("long") % 10000)
    rate_expr = F.lit(int(round(default_rate * 10000)))
    for stratum, rate in rates.items():
        rate_expr = F.when(F.col(stratum_col) == stratum,
                           F.lit(int(round(rate * 10000)))).otherwise(rate_expr)
    return (df.withColumn("__bucket", bucket)
            .filter(F.col("__bucket") < rate_expr)
            .drop("__bucket"))


def concat_chunk_map(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    context_len: int = 2048,
    n_shards: int = 32,
    shard_expr: "F.Column | None" = None,
    token_counts: "F.Column | None" = None,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing MAP: documents are
    (logically) concatenated in key order within a deterministic shard
    and split into fixed ``context_len``-token windows; each document
    reports which chunk its first and last token land in. This is the
    padding-free packing step of LLM training pipelines (documents cross
    chunk boundaries; nothing is dropped).

    Plan: one window (cumsum of token counts per shard, ordered by key)
    — a single Exchange on the shard id, no UDF, no iteration. At 100 TB
    the shard count bounds window-partition size; shards are
    independent, so skew is the hash's problem, not the operator's."""
    # token accounting is pluggable: default whitespace counting (pure
    # JVM); pass `token_counts` (e.g. the exact-BPE pandas_udf from
    # pipeline/tokenize.py) to pack in real tokenizer tokens
    toks = (token_counts if token_counts is not None
            else token_count_col(F.col(text_col)))
    # default shard = xxhash64 (uniform at scale); callers needing a
    # cross-engine-reproducible layout pass their own expression
    shard = (shard_expr if shard_expr is not None
             else F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)))
    w = (Window.partitionBy("shard").orderBy(key_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (df.select(key_col, toks.alias("n_tokens"), shard.alias("shard"))
           .withColumn("cum", F.sum("n_tokens").over(w))
           .withColumn("start_chunk",
                       ((F.col("cum") - F.col("n_tokens"))
                        / context_len).cast("long"))
           .withColumn("end_chunk",
                       (F.when(F.col("n_tokens") > 0, F.col("cum") - 1)
                         .otherwise(F.col("cum") - F.col("n_tokens"))
                        / context_len).cast("long")))
    return out.select(key_col, "shard", "n_tokens", "start_chunk",
                      "end_chunk",
                      (F.col("end_chunk") - F.col("start_chunk") + 1)
                      .cast("long").alias("n_chunks"))
