"""Deduplication operators for a training-data pipeline, Spark-first.

Five families (each surfaced as a driver-contract query):
- exact:        sha256(text) groupBy — one shuffle, map-side combinable
- normalized:   exact over lower+whitespace-collapsed text
- minhash LSH:  Arrow row signature UDF -> band explode -> bucket
                self-join -> signature-agreement verify. No text ever
                shuffles: the band self-join moves 24B per (doc, band)
                and signatures rejoin candidates by key (~1KB/doc), so
                shuffle volume at 100TB is independent of document size.
- simhash:      64-bit signature, banded into 4x16-bit chunks (any pair
                within Hamming distance 3 shares >=1 exact chunk by
                pigeonhole) -> candidate join -> exact Hamming via
                bit_count(xor) JVM-side.
- embedding:    cosine near-dup over `embeddings` (see similarity.py).

All signatures come from kernels/textstats.py (deterministic, seeded).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Flag duplicates by content hash; keeper = lowest key per hash.
    NULL text (failed extractions) never marks a duplicate — the window
    treats NULL hashes as one partition, which would flag every failed
    row but one as a dup of unrelated documents (r5 whole-repo
    review)."""
    w = Window.partitionBy("text_sha").orderBy(F.col(key_col).asc())
    return (
        df.withColumn("text_sha", F.sha2(F.col(text_col), 256))
        .withColumn("dup_rank", F.row_number().over(w))
        .withColumn("is_duplicate",
                    F.col("text_sha").isNotNull() & (F.col("dup_rank") > 1))
    )


def normalize_text_col(c) -> "F.Column":
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


# ---------------------------------------------------------------- minhash LSH

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 3,
) -> DataFrame:
    """(key, sig array<bigint>) — Arrow row UDF, numpy inside."""
    from pyspark.sql.types import ArrayType, LongType

    def fn(t: str | None) -> list[int]:
        from ..kernels.textstats import minhash_signature

        # uint64 -> int64 bit-reinterp for Spark
        return (minhash_signature(t or "", num_perm=num_perm, k=shingle_k)
                .astype("int64").tolist())

    sig_udf = F.udf(fn, ArrayType(LongType()), useArrow=True)
    return df.select(F.col(key_col).alias("key"), sig_udf(F.col(text_col)).alias("sig"))


def minhash_lsh_pairs(
    sigs: DataFrame,
    bands: int = 32,
    threshold: float = 0.8,
) -> DataFrame:
    """Candidate pairs via LSH banding, verified by signature agreement.

    Returns (key_a, key_b, est_jaccard) with key_a < key_b and
    est_jaccard >= threshold. The band self-join shuffles only
    (band_id, band_hash, key); signatures join back by key afterwards —
    at cluster scale both joins hash-partition on small fixed-width keys.

    Side effect: calling this runs a Spark job. The signature table
    is eagerly `localCheckpoint`ed at construction, before any action
    on the result (even `explain()` comes after it). Its blocks stay in
    the executors' BlockManagers until the driver garbage-collects the
    result, and losing an executor that holds them fails the job
    instead of recomputing them (the checkpoint truncates lineage).
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    # The signature table is referenced FOUR times below (banding + both
    # rejoin sides) and Catalyst re-evaluates the signature UDF for every
    # reference — the r9 plan audit counted 4 full corpus re-reads + sig
    # passes (12 ArrowEvalPython nodes). One eager localCheckpoint
    # computes signatures exactly once (~1KB/doc materialized — far
    # cheaper than three more text scans + UDF passes at any scale) and
    # leaves no CacheManager entry (the r5 semantic-dedup precedent).
    sigs = sigs.localCheckpoint(eager=True)

    def band_fn(sig: pd.Series) -> pd.Series:
        import numpy as np

        from ..kernels.textstats import minhash_bands

        out = []
        for s in sig:
            arr = np.asarray(s, dtype=np.int64).view(np.uint64)
            out.append([b - (1 << 63) for b in minhash_bands(arr, bands)])
        return pd.Series(out)

    band_udf = pandas_udf(band_fn, ArrayType(LongType()))
    # band rows carry ONLY (band_id, band_hash, key) — 24B/band — so the
    # candidate self-join never shuffles signatures (32KB/doc saved at
    # bands=32); signatures come back via two slim key-joins afterwards
    banded = sigs.select(
        "key", F.posexplode(band_udf("sig")).alias("band_id", "band_hash"))
    left = banded.select(F.col("key").alias("key_a"), "band_id", "band_hash")
    right = banded.select(F.col("key").alias("key_b"), "band_id", "band_hash")
    cand = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    cand = (
        cand.join(sigs.select(F.col("key").alias("key_a"),
                              F.col("sig").alias("sig_a")), "key_a")
        .join(sigs.select(F.col("key").alias("key_b"),
                          F.col("sig").alias("sig_b")), "key_b")
    )
    n_perm = F.size("sig_a")
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("est_jaccard", agree / n_perm)
        .filter(F.col("est_jaccard") >= threshold)
        .select("key_a", "key_b", F.round("est_jaccard", 4).alias("est_jaccard"))
    )


# ---------------------------------------------------------------- simhash

def simhash_keys(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    from pyspark.sql.types import LongType

    def fn(t: str | None) -> int:
        from ..kernels.textstats import simhash64

        return simhash64(t or "") - (1 << 63)

    udf = F.udf(fn, LongType(), useArrow=True)
    return df.select(F.col(key_col).alias("key"), udf(F.col(text_col)).alias("simhash"))


def _simhash_chunks(sh: DataFrame) -> DataFrame:
    return sh.select(
        "key", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"),
            )
            for i in range(4)
        ])).alias("c"),
    ).select("key", "simhash", "c.chunk_id", "c.chunk_val")


def simhash_bucket_stats(sh: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Buckets whose size exceeds max_bucket (the ones simhash_near_pairs
    degrades to sorted-neighborhood search). A pipeline that cares about
    recall should log/alert on this DataFrame — silent truncation is worse
    than a visible cap."""
    return (
        _simhash_chunks(sh)
        .groupBy("chunk_id", "chunk_val")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
    )


def simhash_near_pairs(
    sh: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 1000,
    neighborhood: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash. Banding: 4 chunks of 16 bits; Hamming<=3
    guarantees at least one identical chunk (pigeonhole), so the candidate
    join is exact-equality on (chunk_id, chunk_val) — shuffle-friendly.

    100-TB scale guard: each 16-bit chunk has at most 65,536 distinct
    values, so at 10^12 docs every bucket holds ~10^7 members and an
    unguarded equality self-join explodes quadratically per bucket.
    Buckets larger than `max_bucket` therefore switch to SORTED
    NEIGHBORHOOD: members are ordered by (simhash, key) inside the bucket
    and each is paired only with its next `neighborhood` neighbors — an
    equi-join on (bucket, row_number), linear in bucket size. A true
    near-dup pair has 4 chunks = 4 chances to meet in a cold bucket, so
    recall loss is confined to pairs ONLY co-bucketed in hot chunks;
    `simhash_bucket_stats` exposes the capped buckets for logging.

    Side effect: calling this runs a Spark job. The simhash table
    is eagerly `localCheckpoint`ed at construction, before any action
    on the result (even `explain()` comes after it). Its blocks stay in
    the executors' BlockManagers until the driver garbage-collects the
    result, and losing an executor that holds them fails the job
    instead of recomputing them (the checkpoint truncates lineage)."""
    # r9: sh is referenced by the size aggregation plus both sides of the
    # cold and hot candidate joins — without a checkpoint Catalyst
    # re-evaluates the simhash UDF (a full text pass) for every
    # reference. 16 bytes/doc materialized vs five corpus re-reads.
    sh = sh.localCheckpoint(eager=True)
    chunks = _simhash_chunks(sh)
    sizes = chunks.groupBy("chunk_id", "chunk_val").agg(
        F.count("*").alias("bucket_n"))
    chunks = chunks.join(sizes, ["chunk_id", "chunk_val"])
    cold = chunks.filter(F.col("bucket_n") <= max_bucket)
    hot = chunks.filter(F.col("bucket_n") > max_bucket)

    cold_pairs = (
        cold.select(F.col("key").alias("key_a"), F.col("simhash").alias("sh_a"),
                    "chunk_id", "chunk_val")
        .join(cold.select(F.col("key").alias("key_b"), F.col("simhash").alias("sh_b"),
                          "chunk_id", "chunk_val"),
              ["chunk_id", "chunk_val"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "sh_a", "sh_b")
    )

    w = Window.partitionBy("chunk_id", "chunk_val").orderBy("simhash", "key")
    hm = hot.withColumn("rn", F.row_number().over(w))
    # pair rn with rn+1..rn+neighborhood via explode -> pure equi-join
    # (a range-join here would re-expand the bucket quadratically)
    hot_left = hm.select(
        F.col("key").alias("key_x"), F.col("simhash").alias("sh_x"),
        "chunk_id", "chunk_val", "rn",
        F.explode(F.sequence(F.lit(1), F.lit(neighborhood))).alias("__k"),
    ).select(
        "key_x", "sh_x", "chunk_id", "chunk_val",
        (F.col("rn") + F.col("__k")).alias("rn_b"),
    )
    hot_pairs = (
        hot_left.join(
            hm.select(F.col("key").alias("key_y"), F.col("simhash").alias("sh_y"),
                      "chunk_id", "chunk_val", F.col("rn").alias("rn_b")),
            ["chunk_id", "chunk_val", "rn_b"])
        .select(
            F.least("key_x", "key_y").alias("key_a"),
            F.greatest("key_x", "key_y").alias("key_b"),
            F.when(F.col("key_x") < F.col("key_y"), F.col("sh_x")).otherwise(F.col("sh_y")).alias("sh_a"),
            F.when(F.col("key_x") < F.col("key_y"), F.col("sh_y")).otherwise(F.col("sh_x")).alias("sh_b"),
        )
        .filter(F.col("key_a") != F.col("key_b"))
    )

    return (
        cold_pairs.unionByName(hot_pairs)
        .dropDuplicates(["key_a", "key_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


# ---------------------------------------------------------------- n-gram jaccard

def token_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_jaccard: float = 0.5,
    max_df: int = 1000,
) -> DataFrame:
    """EXACT distinct-token Jaccard via token explode + equi-join — fully
    JVM-side (no UDFs), expressible in ANSI SQL for the oracle.

    100-TB scale guard: the tok equi-join is quadratic in docs-per-shared-
    token — one stopword shared by every doc would make it all-pairs. The
    `max_df` document-frequency cut drops tokens appearing in more than
    max_df documents BEFORE the join (the universe shrinks consistently:
    intersection counts AND per-doc sizes both exclude cut tokens), which
    bounds the join fan-out at max_df^2 per token. High-df tokens carry
    near-zero Jaccard signal, so the cut sharpens rather than degrades the
    measure. For open-ended corpora prefer minhash_lsh_pairs for candidate
    generation and reserve this as the verify stage.

    Side effect: calling this runs a Spark job. The surviving (key,
    token) table is eagerly `localCheckpoint`ed at construction, before
    any action on the result (even `explain()` comes after it). Its
    blocks stay in the executors' BlockManagers until the driver
    garbage-collects the result, and losing an executor that holds them
    fails the job instead of recomputing them (the checkpoint truncates
    lineage)."""
    toks = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))).alias("tok"),
    ).filter(F.col("tok") != "")
    if max_df > 0:
        doc_freq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
        toks = (toks.join(doc_freq, "tok")
                .filter(F.col("__df") <= max_df)
                .drop("__df"))
    # r9: the surviving token table is referenced three times below
    # (sizes + both self-join sides); checkpointing it stops Catalyst
    # re-running the tokenize/explode (and the df-cut join) per
    # reference. The materialized table is the same (key, tok) stream
    # the self-join shuffles anyway.
    toks = toks.localCheckpoint(eager=True)
    sizes = toks.groupBy("key").agg(F.count("*").alias("n_tok"))
    inter = (
        toks.alias("a")
        .join(toks.alias("b"), "tok")
        .filter(F.col("a.key") < F.col("b.key"))
        .groupBy(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("key").alias("key_a"), F.col("n_tok").alias("n_a")), "key_a")
        .join(sizes.select(F.col("key").alias("key_b"), F.col("n_tok").alias("n_b")), "key_b")
        .withColumn("jaccard", F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("key_a", "key_b", "jaccard")
    )


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    max_docs: int = 10_000,
) -> DataFrame:
    """Cross-document EXACT repeated n-grams — the signal behind exact-
    substring training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any n-token window
    appearing verbatim in >= min_docs distinct documents.

    Fully JVM-side: tokenize (split), rolling windows via
    transform(sequence)+slice, md5 per window, explode, per-doc distinct,
    then ONE groupBy on the 32-hex hash. The shuffle moves only
    (hash, key) pairs — text never shuffles — so the plan is the same
    shape as exact dedup and holds at 100 TB. `max_docs` caps the output
    fan-out for boilerplate n-grams present in a large fraction of the
    corpus (at web scale a copyright footer can hit ~every doc; such
    n-grams are filtered, not enumerated)."""
    per_doc = _doc_shingles(df, text_col, key_col, n)
    return (per_doc.groupBy("shingle").agg(F.count("*").alias("n_docs"))
            .filter((F.col("n_docs") >= min_docs) & (F.col("n_docs") <= max_docs))
            .select("shingle", "n_docs"))


def _doc_shingles(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n: int,
    distinct: bool = True,
) -> DataFrame:
    """(key, md5-of-n-token-window) rows — the ONE tokenize/window/hash
    definition shared by repeated_ngram_spans, benchmark_contamination
    and duplicate_clusters, kept in lockstep with their DuckDB oracles
    (invariant 1): whitespace-collapse, split on single space, md5 of
    the space-joined n-token slice.

    r9 evaluation-strategy note (guide §1.2 "per-task work"): the
    original shape computed md5(concat_ws(slice(toks,...))) inside a
    transform(sequence(...)) lambda with `toks` INLINE — higher-order
    functions run interpreted and the lambda re-evaluated the
    regexp_replace+split per WINDOW, ~11 µs/window. Projecting the token
    array once and hashing in a flat post-Generate projection (window
    positions explode bare, md5 runs under codegen) is 12x faster with
    bit-identical output (verified by sorted-collect equality and the
    oracle suite)."""
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    base = df.select(F.col(key_col).alias("key"), toks.alias("__toks"))
    n_windows = F.size("__toks") - (n - 1)
    out = (base.select(
               "key", "__toks",
               F.explode(F.when(n_windows >= 1,
                                F.sequence(F.lit(1), n_windows))).alias("__pos"))
           .select("key",
                   F.md5(F.concat_ws(
                       " ", F.slice(F.col("__toks"), F.col("__pos"), n)))
                    .alias("shingle")))
    return out.dropDuplicates(["key", "shingle"]) if distinct else out


def benchmark_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document count of distinct n-grams shared with a BENCHMARK
    set — the decontamination pass an LLM training pipeline runs before
    training (the n-gram-overlap methodology published with GPT-3's
    appendix C and the C4/Dodge et al. analyses).

    100-TB shape: both sides reduce to (key, md5-shingle) pairs exactly
    like repeated_ngram_spans (text never shuffles); the benchmark side
    dedups to bare 16-byte hashes and BROADCASTS (real benchmark suites
    are tiny next to a crawl), so the corpus side joins map-side. The
    corpus shingle stream is NOT pre-deduplicated — count_distinct in
    the final agg subsumes it, and the only Exchange in the plan is the
    post-join groupBy over the (tiny) matched pairs."""
    bench_grams = F.broadcast(
        _doc_shingles(bench, text_col, key_col, n, distinct=False)
        .select("shingle").distinct())
    return (_doc_shingles(corpus, text_col, key_col, n, distinct=False)
            .join(bench_grams, "shingle")
            .groupBy("key")
            .agg(F.count_distinct("shingle").alias("n_shared_grams")))


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    max_docs: int = 10_000,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over the shared-n-gram graph: documents that
    transitively share any n-token window land in one cluster (the
    grouping step of exact-substring dedup — pick one representative per
    cluster instead of per pair).

    100-TB shape: edges are STAR edges, (doc, min-doc-of-shingle) — one
    edge per (doc, shingle) instead of the quadratic all-pairs-per-
    shingle expansion, which still connects every component. Components
    then resolve by iterative min-label propagation (the standard
    distributed-CC loop): each round is one shuffle-join + min-agg, and
    lineage is cut per round with localCheckpoint (bounded by max_iter;
    near-dup clusters are clique-ish, so 2-3 rounds converge).
    Each round combines one hop of neighbor-min propagation with a
    POINTER-JUMPING shortcut (label <- label-of-label), so convergence
    needs O(log diameter) rounds, not O(diameter) — a 2^20-hop chain
    resolves inside the default max_iter. Convergence is detected with
    an aggregated count, not per-row driver inspection; exhausting
    max_iter without converging RAISES (silently-unconverged clusters
    would diverge from the recursive-CTE oracle and split real
    duplicate groups). Returns (key, cluster) with cluster = min doc_id
    reachable; only documents that share at least one n-gram appear."""
    per_doc = _doc_shingles(df, text_col, key_col, n)
    rep = (per_doc.groupBy("shingle")
           .agg(F.min("key").alias("root"), F.count("*").alias("n_docs"))
           .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= max_docs)))
    star = (per_doc.join(rep, "shingle")
            .select("key", "root").filter(F.col("key") != F.col("root"))
            .distinct())
    return components_from_edges(star, max_iter=max_iter)


def components_from_edges(star: DataFrame, max_iter: int = 20) -> DataFrame:
    """(key, cluster) connected components over an edge list (key, root)
    by iterative min-label propagation with pointer jumping — the CC
    core shared by the n-gram duplicate clusters and semantic dedup
    (r4 review: pairwise drop policies over-prune on similarity chains;
    keep-one-per-GROUP needs the transitive closure). Same guarantees
    as documented on duplicate_clusters: one shuffle-join + min-agg per
    round, localCheckpoint lineage cuts, O(log diameter) rounds,
    RAISES on non-convergence."""
    # undirected edge list (both directions) for label propagation
    edges = star.unionByName(
        star.select(F.col("root").alias("key"), F.col("key").alias("root"))
    ).select(F.col("key").alias("src"), F.col("root").alias("dst"))
    edges = edges.localCheckpoint()
    # r9: the identity-label init (distinct + a first full propagation
    # round) is FUSED into one aggregation: label(key) = min(key,
    # min neighbor) — exactly what round 1's hop used to compute, for the
    # price of the distinct's shuffle alone. Every key appears as src
    # because the edge list is symmetrized above, so the key set is
    # unchanged.
    labels = (edges.groupBy(F.col("src").alias("key"))
              .agg(F.min("dst").alias("nmin"))
              .select("key", F.least("key", "nmin").alias("label")))
    labels = labels.localCheckpoint()

    def _label_sum(ls) -> object:
        # labels are non-increasing per key each round (every update is a
        # least(...) of the old label), so sum equality <=> fixpoint —
        # one map-side-combined agg replaces the old per-round
        # new-vs-old self-join change count. decimal(38,0) keeps the sum
        # exact at any corpus size (10^12 keys x 2^63 < 10^38).
        return ls.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iter):
        neighbor_min = (edges.join(labels, edges.src == labels.key)
                        .groupBy(F.col("dst").alias("key"))
                        .agg(F.min("label").alias("nlabel")))
        hop = (labels.join(neighbor_min, "key", "left")
               .select("key", F.least("label", F.coalesce("nlabel", "label"))
                        .alias("label")))
        # pointer jumping: label <- min(label, label(label)) — halves the
        # remaining path length every round (log-diameter convergence)
        lol = hop.select(F.col("key").alias("label"),
                         F.col("label").alias("jump"))
        new_labels = (hop.join(lol, "label", "left")
                      .select("key",
                              F.least("label", F.coalesce("jump", "label"))
                               .alias("label")))
        new_labels = new_labels.localCheckpoint()  # cut iterative lineage
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"components_from_edges did not converge in {max_iter} rounds "
            "(raise max_iter; silent partial clusters are worse than an "
            "error)")
    return labels.select("key", F.col("label").alias("cluster"))


def repeated_ngram_span_ranges(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    max_docs: int = 10_000,
) -> DataFrame:
    """The REMOVAL step of exact-substring dedup (Lee et al. 2022):
    per-document merged token ranges covered by any n-gram that repeats
    across >= min_docs documents — the spans a training pipeline cuts
    out, not just the fact that duplication exists.

    Shape: windows carry their 1-based token index; repeated shingles
    resolve with one count-distinct agg; matched positions then merge
    into maximal intervals with the islands pattern (running-max window
    over i, one Exchange per doc key). Token indices, not char offsets —
    reconstruction is split+slice on the same whitespace-collapsed
    tokenization (_doc_shingles lockstep).

    Precondition: `df` holds one row per `key_col` value. Nothing
    deduplicates the matched (key, i) positions, so a key that appears
    on two rows yields each of its spans twice, or overlapping spans if
    the two rows' texts differ."""
    # same flat post-Generate hashing shape as _doc_shingles (12x over
    # the inline transform-lambda evaluation — see its r9 docstring),
    # with the 1-based window position kept alongside the hash
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    base = df.select(F.col(key_col).alias("key"), toks.alias("__toks"))
    n_windows = F.size("__toks") - (n - 1)
    win = (base.select(
               "key", "__toks",
               F.explode(F.when(n_windows >= 1,
                                F.sequence(F.lit(1), n_windows))).alias("i"))
           .select("key", "i",
                   F.md5(F.concat_ws(
                       " ", F.slice(F.col("__toks"), F.col("i"), n)))
                    .alias("shingle")))
    rep = (win.groupBy("shingle")
           .agg(F.count_distinct("key").alias("n_docs"))
           .filter((F.col("n_docs") >= min_docs)
                   & (F.col("n_docs") <= max_docs))
           .select("shingle"))
    # No distinct needed: `win` carries exactly one row per (key, i)
    # (i indexes the explode of per-position windows) and `rep` is unique
    # per shingle (groupBy output), so the join emits each (key, i) at
    # most once — the former .distinct() added a full Exchange + two
    # HashAggregates over every matched position for nothing (r9 plan
    # audit: 3 Exchanges -> 2).
    hits = win.join(rep, "shingle").select("key", "i")
    w_ord = Window.partitionBy("key").orderBy("i")
    prev_max_end = F.max(F.col("i") + (n - 1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    # "+ 1": token ranges that ABUT ([1,8],[9,16]) merge into one
    # maximal interval, matching the docstring's contract
    new_island = F.when(
        F.col("i") > F.coalesce(prev_max_end, F.lit(-1)) + 1, 1).otherwise(0)
    islands = hits.withColumn(
        "island", F.sum(new_island).over(w_ord))
    return (islands.groupBy("key", "island")
            .agg(F.min("i").cast("long").alias("span_start"),
                 F.max(F.col("i") + (n - 1)).cast("long").alias("span_end"))
            .select("key", "span_start", "span_end"))


def drop_frequent_lines(
    pages: DataFrame,
    max_doc_freq: int = 2,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al. 2020,
    arXiv:1911.00359 §3.1): lines that occur in more than
    ``max_doc_freq`` distinct documents are corpus boilerplate (nav
    menus, cookie banners, copyright footers) and are dropped; the
    remaining lines reassemble in original order.

    Scale shape: the document-frequency aggregation shuffles only
    (line-hash, key) pairs — never the text — with map-side combine;
    the verdict join then rides the 64-bit hash, and the final
    reassembly shuffle carries each KEPT line exactly once (that
    shuffle is the semantic floor: output text must co-locate by doc).
    Collision note: xxhash64 groups lines for counting, but the join
    returns the line text itself, so a hash collision can only
    over-count a line's frequency (conservative toward dropping),
    never splice wrong text.

    Returns (key_col, text_clean, n_lines, n_removed).
    """
    lines = pages.select(
        F.col(key_col).alias("key"),
        F.posexplode(F.split(F.col(text_col), "\n"))
         .alias("pos", "line"),
    ).withColumn("lh", F.xxhash64("line"))
    df_counts = (lines.groupBy("lh")
                 .agg(F.count_distinct("key").alias("n_docs")))
    kept = (lines.join(df_counts, "lh")
            .withColumn("keep", F.col("n_docs") <= max_doc_freq))
    return (kept.groupBy("key")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(F.col("keep"),
                                   F.struct("pos", "line")))),
                        lambda s: s["line"]),
                    "\n").alias("text_clean"),
                F.count("*").cast("long").alias("n_lines"),
                F.sum(F.when(~F.col("keep"), 1).otherwise(0))
                 .cast("long").alias("n_removed"))
            .withColumnRenamed("key", key_col))


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    val_per_2_20: int = 104_857,   # ~10% of 2^20
    n: int = 8,
) -> DataFrame:
    """Train/validation split that near-dup clusters can never straddle
    — the eval-leakage guard of a training pipeline (Lee et al. 2022
    showed dedup-unaware splits leak eval answers into training). Every
    document resolves to a GROUP REPRESENTATIVE: its connected
    component over the shared-n-gram graph (duplicate_clusters), or
    itself when it shares no shingle. The split is then a deterministic
    md5 ramp over the representative — floor(2^20 * share) hex
    threshold, the corpus_temperature_sample idiom — so (a) all
    near-dups land on the SAME side, (b) the split replays bit-for-bit
    across engines and partitionings.

    100-TB shape: the cluster table is the CC output (only docs that
    share shingles; bounded by the dedup graph, not the corpus); the
    rejoin is one key-partitioned join and the ramp is pure column
    expressions — no driver state, no RNG."""
    if not (0 <= val_per_2_20 <= 0xFFFFF):
        # a 6-hex-digit threshold compares lexicographically against a
        # 5-char md5 substring and silently inverts the split fraction
        raise ValueError(
            f"val_per_2_20 must be in [0, 2^20-1], got {val_per_2_20}")
    cl = duplicate_clusters(df, text_col, key_col, n=n)
    thresh = F.format_string("%05x", F.lit(val_per_2_20))
    rep = F.coalesce(F.col("cluster"), F.col(key_col)).cast("long")
    out = (df.select(F.col(key_col))
           .join(cl.withColumnRenamed("key", key_col), key_col, "left")
           .withColumn("group_rep", rep)
           .withColumn(
               "split",
               F.when(
                   F.substring(
                       F.md5(F.concat(F.col("group_rep").cast("string"),
                                      F.lit(":split"))), 1, 5) < thresh,
                   F.lit("val")).otherwise(F.lit("train"))))
    return out.select(key_col, "group_rep", "split")
