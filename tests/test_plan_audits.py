"""Physical-plan pins for the scale-design claims: these assertions are
the machine-checked version of the '100-TB shape' notes in docstrings —
column pruning reaches the scan, small sides broadcast, hot paths stay
shuffle-free. A refactor that silently regresses a plan fails here, not
in a cluster."""

from __future__ import annotations

import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from sparktika.pipeline.session import build_session

    s = build_session(master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_map_only(spark, query_name: str) -> None:
    """A per-format kernel query is one scan, a payload UDF, a map stage
    and projections; a refactor that adds a shuffle to it fails here."""
    from sparktika import queries as Q

    plan = _plan(getattr(Q, query_name)(spark, SF))
    assert "Exchange" not in plan, plan


def test_extract_pages_scan_is_column_pruned(spark, tmp_path):
    """Reading a MATERIALIZED pages table, the scan must read only
    (url, html, content_type-ish) — never text/lang — and the extraction
    hot path must contain no Exchange (map-only plan)."""
    from sparktika.pipeline.extract import extract_pages
    from sparktika.synth import SYNTH_CONFIG, synth_pages

    path = str(tmp_path / "pages.parquet")
    synth_pages(spark, SF).write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    plan = _plan(extract_pages(pages, SYNTH_CONFIG))
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines, "no parquet scan with ReadSchema in plan"
    for line in scan_lines:
        schema = line.split("ReadSchema:")[1]
        assert "text" not in schema and "lang" not in schema, line
        assert "url" in schema and "html" in schema, line
    assert "Exchange" not in plan  # map-only: scan -> project -> mapInArrow


def test_brute_force_topk_broadcasts_queries(spark):
    from pyspark.sql import functions as F

    from sparktika.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(similarity.brute_force_topk(emb, q, k=3))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_minhash_band_join_shuffles_no_signatures(spark):
    """The LSH candidate self-join must exchange only band rows
    (band_id, band_hash, key) — signatures (~1KB/doc) rejoin by key
    afterwards, so no Exchange may carry the sig array column."""
    from pyspark.sql import functions as F

    from sparktika.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    # disable broadcast so the band join actually shuffles (at sf0.001
    # AQE broadcasts the tiny side and no band Exchange exists to audit)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(dedup.minhash_lsh_pairs(sigs, threshold=0.8))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    lines = plan.splitlines()
    band_exchanges = [i for i, l in enumerate(lines)
                      if "Exchange hashpartitioning(band_id" in l]
    assert band_exchanges, "band-join Exchange missing from plan"
    for i in band_exchanges:
        # the Exchange's INPUT is its child operator on the next line(s);
        # its output list must not carry the signature array
        child = lines[i + 1] if i + 1 < len(lines) else ""
        assert "sig#" not in child, f"signatures ride the band shuffle: {child}"


def test_exact_dedup_single_exchange(spark):
    from sparktika.pipeline import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dedup.exact_dedup(docs))
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle on the hash


def test_cap_per_host_two_phase_salted(spark):
    """Both window phases must appear: the salted (host, __salt) rank
    and the bounded per-host rank — the head host never lands whole in
    one task."""
    from sparktika.pipeline import resume
    from sparktika.synth import synth_pages

    pages = synth_pages(spark, SF)
    plan = _plan(resume.cap_per_host(pages, n_per_host=3))
    assert "__salt" in plan
    assert plan.count("Window") >= 2


def test_concat_chunk_map_single_exchange_and_tiling(spark):
    """Sequence packing: exactly one Exchange (the shard window), zero
    Python; and within every shard the docs tile the concatenated token
    stream with no gaps or overlaps."""
    from sparktika.pipeline.textstats import concat_chunk_map

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = concat_chunk_map(docs, "text", "doc_id", context_len=512)
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
    assert "Python" not in plan and "ArrowEval" not in plan

    rows = sorted(out.collect(), key=lambda r: (r["shard"], r["doc_id"]))
    pos = {}
    for r in rows:
        cur = pos.get(r["shard"], 0)
        assert r["start_chunk"] == cur // 512
        if r["n_tokens"] > 0:
            assert r["end_chunk"] == (cur + r["n_tokens"] - 1) // 512
            assert r["n_chunks"] == r["end_chunk"] - r["start_chunk"] + 1
        pos[r["shard"]] = cur + r["n_tokens"]


def test_semantic_dedup_reuses_materialized_assignment(spark):
    """r4 verdict item 7: the k-means assignment pass is materialized
    ONCE (eager localCheckpoint) and every downstream consumer reads the
    checkpointed RDD — no plan may re-run the corpus-wide Arrow matmul
    (which would appear as extra ArrowEvalPython/FlatMapsInPandas
    stages), and no CacheManager entry may linger."""
    from pyspark.sql import Row

    from sparktika.pipeline.similarity import semantic_dedup

    spark.catalog.clearCache()  # isolate from any prior audit's state
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 3 + j) % 7) for j in range(8)])
         for i in range(60)])
    out = semantic_dedup(emb, n_clusters=2, threshold=0.999, iters=1)
    plan = _plan(out)
    # every corpus touch goes through the checkpointed assignment RDD
    assert "Scan ExistingRDD" in plan
    # the assignment matmul ran at checkpoint time; the verdict plan
    # itself must not contain another python-eval over raw embeddings
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan
    out.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pdf_image_stats_is_map_only(spark):
    """r4 verdict item 7: PDF image payload decoding must stay a pure
    map (scan -> project -> mapInArrow), no Exchange."""
    from pyspark.sql import functions as F

    from sparktika.pipeline.multimodal import pdf_image_stats

    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter("doc_id < 20"))  # limit() would inject its own Exchange
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from sparktika.synth import build_pdf_images

    def payload_fn(ids):
        return pd.Series([build_pdf_images(int(i)) for i in ids])

    payload = pandas_udf(payload_fn, BinaryType())
    pdfs = docs.select("doc_id", payload(F.col("doc_id")).alias("payload"))
    plan = _plan(pdf_image_stats(pdfs))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_contamination_broadcasts_benchmark_side(spark):
    """r4 verdict item 7: decontamination joins the corpus map-side
    against a BROADCAST benchmark n-gram set — the corpus must never
    shuffle on n-gram."""
    from sparktika.pipeline.dedup import benchmark_contamination

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.limit(5).select("doc_id", "text")
    plan = _plan(benchmark_contamination(docs, bench))
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning(ngram" not in plan


def test_quality_model_score_is_map_only(spark):
    """r5 verdict item 9: learned quality scoring must be one scan ->
    project -> pandas_udf score, zero Exchange, and the weight vector
    must ride a broadcast variable (not the task closure)."""
    from sparktika.queries import corpus_quality_model

    plan = _plan(corpus_quality_model(spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan.lower()


@pytest.mark.parametrize("query_name", ["extract_pst_text",
                                        "extract_sqlite_text"])
def test_r5_kernel_queries_stay_map_only(spark, query_name):
    """r5 verdict item 10: the PST and SQLite extraction queries must
    stay in the shared map-only extract_pages shape — a refactor that
    introduces a shuffle on the per-doc kernel path fails here."""
    _assert_map_only(spark, query_name)


def test_stratified_sample_is_single_scan(spark):
    """corpus_stratified_sample must stay a map-side filter on a
    3-column pruned scan: zero Exchange, no Python, deterministic by
    construction (md5 bucket vs per-stratum threshold)."""
    from sparktika.queries import corpus_stratified_sample

    plan = _plan(corpus_stratified_sample(spark, SF))
    assert "Exchange" not in plan, plan
    assert "pythonUDF" not in plan.lower()
    assert "ReadSchema: struct<doc_id:bigint,lang:string,source:string>" \
        in plan


def test_stratified_sample_reproducible(spark):
    from sparktika.queries import corpus_stratified_sample

    a = sorted(r.doc_id for r in
               corpus_stratified_sample(spark, SF).collect())
    b = sorted(r.doc_id for r in
               corpus_stratified_sample(spark, SF)
               .repartition(7).collect())
    assert a == b and len(a) > 0


@pytest.mark.parametrize("query_name", ["extract_legacy_codec_text",
                                        "extract_feed_text",
                                        "extract_iwork_text",
                                        "media_container_meta"])
def test_r6_kernel_queries_stay_map_only(spark, query_name):
    """r6 additions must stay in the map-only per-doc kernel shape —
    a refactor that introduces a shuffle on these paths fails here."""
    _assert_map_only(spark, query_name)


def test_dsir_sample_is_map_only(spark):
    """corpus_dsir_sample: one pruned scan, broadcast ratio table,
    zero Exchange — the selection must never shuffle the corpus."""
    from sparktika.queries import corpus_dsir_sample

    plan = _plan(corpus_dsir_sample(spark, SF))
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("query_name", ["extract_netcdf_meta",
                                        "extract_vsd_meta",
                                        "extract_ppt95_meta",
                                        "extract_wpd_meta",
                                        "extract_hdf5_meta",
                                        "extract_cab_text",
                                        "extract_flv_meta",
                                        "extract_oldxls_text",
                                        "extract_metafile_text",
                                        "extract_class_meta",
                                        "extract_xps_text",
                                        "extract_bplist_text",
                                        "extract_applefile_text",
                                        "extract_avro_meta",
                                        "extract_parquet_meta",
                                        "extract_orc_meta",
                                        "extract_torrent_meta",
                                        "extract_woff_meta"])
def test_r7_kernel_queries_stay_map_only(spark, query_name):
    """r7 additions must stay in the map-only per-doc kernel shape."""
    _assert_map_only(spark, query_name)


def test_frontier_filter_zero_url_shuffle(spark):
    """web_frontier_filter: the rules side must BROADCAST and the URL
    table must NEVER shuffle — precedence resolves row-locally via the
    per-host sorted rules array (r8 review replaced the per-row-id
    Window, whose Exchange round-tripped every URL). The only
    hashpartitioning Exchange allowed is the tiny rules-side per-host
    aggregation feeding the broadcast."""
    from sparktika.queries import web_frontier_filter

    plan = _plan(web_frontier_filter(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Exchange hashpartitioning" in l:
            # must sit under the BroadcastExchange (rules side), i.e.
            # after it in the tree print
            assert any("BroadcastExchange" in x for x in lines[:i]), plan


def test_temperature_sample_broadcasts_thresholds(spark):
    """corpus_temperature_sample: the per-domain threshold table must
    BROADCAST back onto the corpus (the corpus itself never shuffles);
    the only shuffle Exchanges belong to the tiny counts aggregation."""
    from sparktika.queries import corpus_temperature_sample

    plan = _plan(corpus_temperature_sample(spark, SF))
    assert "BroadcastExchange" in plan, plan
    # shuffle exchanges only on the counts side (agg + its min):
    n_shuffles = plan.count("Exchange hashpartitioning") \
        + plan.count("Exchange SinglePartition")
    assert n_shuffles <= 3, plan


def test_temperature_sample_reproducible(spark):
    from sparktika.queries import corpus_temperature_sample

    a = sorted(r.doc_id for r in
               corpus_temperature_sample(spark, SF).collect())
    b = sorted(r.doc_id for r in
               corpus_temperature_sample(spark, SF)
               .repartition(7).collect())
    assert a == b and 0 < len(a) < 500


def test_dedup_lines_df_shuffle_is_text_free(spark):
    """drop_frequent_lines: the document-frequency aggregation must
    shuffle only (line-hash, key) — the line TEXT may ride only the
    reassembly side. The partial aggregate feeding the df count must
    therefore project xxhash64, not the line column."""
    from sparktika.queries import dedup_lines

    plan = _plan(dedup_lines(spark, SF))
    assert "xxhash64" in plan, plan
    # the count-distinct agg groups by the 64-bit hash:
    assert "count(distinct key" in plan or "count(key" in plan, plan


def test_mixture_plan_single_agg_and_pruned_scan(spark):
    """corpus_mixture_plan: one map-side-combined aggregation over a
    2-column pruned scan; the totals side broadcasts back."""
    from sparktika.queries import corpus_mixture_plan

    plan = _plan(corpus_mixture_plan(spark, SF))
    assert "BroadcastExchange" in plan, plan
    assert "ReadSchema: struct<lang:string,n_chars:bigint>" in plan, plan
    assert "pythonUDF" not in plan.lower()


def test_token_budget_single_corpus_pass_and_map_only_counting(spark):
    """corpus_token_budget: (a) the final plan derives entirely from the
    eagerly-checkpointed ~|langs|-row aggregate — NO ArrowEvalPython and
    NO FileScan, so the corpus is scanned and the BPE UDF runs exactly
    once regardless of how many branches consume the totals; (b) the
    counting stage itself is an ArrowEvalPython directly over a 2-column
    pruned scan with map-side partial aggregation before its one
    Exchange."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from sparktika.pipeline.tokenize import text_token_counts
    from sparktika.queries import corpus_token_budget

    plan = _plan(corpus_token_budget(spark, SF))
    assert "ArrowEvalPython" not in plan, plan
    assert "FileScan" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan

    # (b) the pre-checkpoint counting stage, rebuilt as the query builds it
    def fn(s: pd.Series) -> pd.Series:
        return pd.Series(text_token_counts(s), dtype="int64")

    toks = pandas_udf(fn, "long")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "lang", "text")
    counting = (docs.select("lang", toks(F.col("text")).alias("t"))
                .groupBy("lang")
                .agg(F.sum("t").cast("long").alias("bpe_tokens")))
    cplan = _plan(counting)
    assert "ArrowEvalPython" in cplan, cplan
    assert "ReadSchema: struct<text:string,lang:string>" in cplan, cplan
    assert "partial_sum" in cplan, cplan
    lines = cplan.splitlines()
    udf_i = next(i for i, l in enumerate(lines) if "ArrowEvalPython" in l)
    # nothing below the UDF but the scan — counting is map-only
    assert not any("Exchange" in l for l in lines[udf_i:]), cplan


def test_ivfpq_zero_corpus_shuffle_single_encode(spark):
    """sim_topk_ivfpq: the corpus never shuffles — its two touches (PQ
    encode, re-rank vector fetch) are FileScans feeding broadcast joins;
    the only hashpartitioning Exchanges are the two per-query top-k
    windows (codes/ids only, no vectors at corpus scale); and the encode
    UDF runs exactly ONCE (without asNondeterministic Catalyst duplicates
    the Arrow eval to push a join filter below the struct expansion,
    doubling the hottest 100-TB pass)."""
    from pyspark.sql import functions as F

    from sparktika.pipeline import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    plan = _plan(similarity.ann_topk_ivfpq(emb, q, k=3, n_centroids=8,
                                           nprobe=2))
    assert plan.count("ArrowEvalPython") == 1, plan
    on_query = plan.count("Exchange hashpartitioning(query_id")
    assert on_query == 2, plan
    assert plan.count("Exchange hashpartitioning") == on_query, plan
    assert plan.count("BroadcastExchange") >= 3, plan


@pytest.mark.parametrize("query_name", ["extract_dwg_meta",
                                        "extract_audio_meta",
                                        "extract_mhtml_text",
                                        "extract_deb_meta",
                                        "extract_rpm_meta",
                                        "extract_lnk_meta",
                                        "extract_swf_meta",
                                        "extract_pnm_pcx_dims",
                                        "extract_fb2_text",
                                        "extract_fodt_text",
                                        "extract_ps_meta",
                                        "extract_tensor_meta",
                                        "extract_djvu_tga_meta",
                                        "extract_iso_text",
                                        "extract_lha_text",
                                        "extract_abw_gpx",
                                        "extract_msg_text",
                                        "extract_html_meta_tags",
                                        "extract_image_meta"])
def test_r8_kernel_queries_stay_map_only(spark, query_name):
    """r8 additions, plus one query per remaining _synth_extract call
    shape (non-default url prefix, ExtractConfig override, lambda
    builder), must stay in the map-only per-doc kernel shape."""
    _assert_map_only(spark, query_name)


def test_bpe_packing_map_only_counting_one_exchange(spark):
    """corpus_concat_chunks_bpe: Arrow token counting is map-only; the
    only Exchange is the shard window (same shape as the whitespace
    variant, plus exactly one ArrowEvalPython)."""
    from sparktika.queries import corpus_concat_chunks_bpe

    plan = _plan(corpus_concat_chunks_bpe(spark, SF))
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan, plan
