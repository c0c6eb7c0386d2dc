"""Physical-plan quality gates: at 100 TB these properties are the
difference between a working job and a dead one, so they are asserted,
not hoped for. Each test pins a plan property the corresponding query
relies on (filter pushdown into parquet, column pruning, map-side
partial aggregation, broadcast of small dims, exactly-one-Python-stage
in the munge pipeline, no Exchange in per-row scoring ops)."""

from __future__ import annotations

import pytest

from datamunging_spark.generator import corpus_to_rows, generate_corpus
from datamunging_spark.ml_ops import (
    _minhash_signatures,
    ann_cosine_topk,
    text_quality,
)
from datamunging_spark.operators.munge import INPUT_SCHEMA, munge
from datamunging_spark.queries import (
    RELATIONAL_QUERIES,
    q1_pricing_summary,
    q5_region_revenue,
    t,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_pruning_partial_agg(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unneeded columns are absent from the scan schema
    assert "l_orderkey" not in plan.split("ReadSchema")[1]
    # map-side combine before the shuffle
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_q5_broadcasts_small_dims(spark, sf_dir):
    plan = plan_of(q5_region_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    # region filter pushed to its scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = plan_of(RELATIONAL_QUERIES["semi_customers_with_urgent"][0](spark, sf_dir))
    anti = plan_of(
        RELATIONAL_QUERIES["anti_customers_without_orders"][0](spark, sf_dir)
    )
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(RELATIONAL_QUERIES["topk_parts"][0](spark, sf_dir))
    # ORDER BY + LIMIT must compile to TakeOrdered, not global sort
    assert "TakeOrderedAndProject" in plan


def test_scoring_ops_have_no_exchange(spark, sf_dir):
    """Per-row scoring (text quality, cosine top-k before the final
    take) must be shuffle-free scans."""
    tq = plan_of(text_quality(spark, sf_dir))
    # sort for deterministic output is fine; no hash/range exchange
    # before the projection happens — the scan feeds the project directly
    assert "FileScan parquet" in tq
    ann = plan_of(ann_cosine_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in ann  # top-k, not global sort


def test_minhash_signature_stage_is_projection(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_of(_minhash_signatures(docs))
    # exactly the one deliberate repartition exchange; no aggregate
    assert plan.count("Exchange") == 1
    assert "HashAggregate" not in plan


def test_embedding_dedup_is_bucket_equijoin(spark, sf_dir):
    """dedup_embedding_cosine must probe via an equi-join on the LSH
    bucket id — never a cross join of probes × corpus (the flop bomb at
    10^9 vectors)."""
    from datamunging_spark.ml_ops import dedup_embedding_cosine

    plan = plan_of(dedup_embedding_cosine(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan and "Join" in plan


def test_minhash_verify_scans_only_candidates(spark, sf_dir):
    """dedup_minhash_lsh's exact-Jaccard verify stage must be fed by a
    (broadcast) semi join of the corpus against candidate ids — i.e. the
    shingle rebuild touches candidate docs only, not a second full-corpus
    pass. Guards the verify-side pruning against regression."""
    from datamunging_spark.ml_ops import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, sf_dir))
    assert "LeftSemi" in plan


def test_curate_corpus_broadcasts_drop_list(spark, sf_dir):
    """curate_corpus prunes dropped near-dup members with a broadcast
    anti join — the drop list is cluster-members-minus-representatives
    (small vs the corpus by construction), so the corpus scan must not
    shuffle for it."""
    from datamunging_spark.ml_ops import curate_corpus

    plan = plan_of(curate_corpus(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_lm_bigram_model_join_is_bounded(spark, sf_dir):
    """The LM scoring join must never ship an unbounded model: below
    the row cap the count tables broadcast (sandbox scale — the default
    path), above it (forced with cap=0) they flow through explicit
    shuffle-hash joins with NO broadcast anywhere, so a web-scale
    bigram table can't OOM the driver."""
    from datamunging_spark.ml_ops import lm_bigram_score

    plan = plan_of(lm_bigram_score(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    plan0 = plan_of(lm_bigram_score(spark, sf_dir, max_model_rows=0))
    assert "ShuffledHashJoin" in plan0
    assert "BroadcastHashJoin" not in plan0
    assert "Broadcast" not in plan0  # no exchange ships the model


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """Decontamination must broadcast the (small-by-definition) eval
    n-gram set and scan the corpus once — no sort-merge join, no
    corpus-side shuffle before the aggregation."""
    from datamunging_spark.ml_ops import decontaminate_ngrams

    plan = plan_of(decontaminate_ngrams(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_sequences_is_shuffle_free_projection(spark, sf_dir):
    """Sequence chunking is a projection + generate: the only Exchange
    allowed is the final presentation sort."""
    from datamunging_spark.ml_ops import chunk_sequences

    plan = plan_of(chunk_sequences(spark, sf_dir))
    # exactly one Exchange allowed: the rangepartitioning for the orderBy
    assert plan.count("Exchange") <= 1, plan
    assert "Generate" in plan  # posexplode, not a join/shuffle expansion


def test_kmeans_round_fused_single_python_stage(spark, sf_dir):
    """Each Lloyd round is ONE Arrow pass (assignment + numpy partials
    fused in a single MapInPandas) followed by a tiny k-group rollup:
    the shuffle moves k × n_partitions partial rows, never the vectors."""
    from datamunging_spark.ml_ops import (
        KMEANS_DIM,
        IVF_CENTROIDS,
        _kmeans_round,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = emb.select(F.col("embedding").cast("array<double>").alias("v"))
    centroids = [list(c) for c in IVF_CENTROIDS]
    plan = plan_of(_kmeans_round(vecs, centroids, KMEANS_DIM))
    assert plan.count("MapInPandas") == 1, plan
    # map-side partial agg over the k-row partials, one shuffle only
    assert plan.count("HashAggregate") >= 2, plan
    assert plan.count("Exchange") == 1, plan
    # the shuffle is on the partials (hashpartitioning by cluster),
    # and it sits ABOVE the Python stage in the top-down tree — the
    # vectors themselves never cross an Exchange
    assert "Exchange hashpartitioning(cluster" in plan, plan
    assert plan.index("Exchange") < plan.index("MapInPandas"), plan


def test_munge_pipeline_single_python_stage(spark):
    rows = corpus_to_rows(generate_corpus(seed=5, n_docs=5, body_lines=(4, 6)))
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    plan = plan_of(munge(df.repartition(4, "doc_id"), spark))
    # ONE JVM<->Python crossing for the whole cascade
    assert plan.count("MapInArrow") == 1
    assert "EvalPython" not in plan  # no row-at-a-time Python


def _run_pipeline_write_plan(spark, tmp_path) -> str:
    """Physical plan of a fresh ``run_pipeline``'s output write, over five
    docs of which the ones above 8 spans are chunked."""
    from datamunging_spark.catalog import ParquetTableIO
    from datamunging_spark.pipeline import run_pipeline

    class RecordingIO(ParquetTableIO):
        def __init__(self):
            self.appended = []

        def append(self, df, path):
            self.appended.append(df)
            super().append(df, path)

    rows = corpus_to_rows(generate_corpus(seed=5, n_docs=5, body_lines=(4, 6)))
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    io = RecordingIO()
    run_pipeline(spark, df, str(tmp_path / "out"), "r1", io=io, monster_threshold=8)
    return plan_of(io.appended[0])  # the output write; the second is lineage


def test_run_pipeline_munges_every_doc_in_one_python_stage(spark, tmp_path):
    """Monsters are split into chunk rows before the salted repartition, so
    the munge plan has one Python node and two Exchanges: the salted
    repartition and the reassembly by doc_id."""
    plan = _run_pipeline_write_plan(spark, tmp_path)
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan and "EvalPython" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 2, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_munge_runs_one_python_task_per_core(spark, tmp_path):
    """Each Python task pays a fixed worker start-up whatever its data, and
    chunk rows already balance monsters, so the repartition that feeds the
    munge pass has defaultParallelism partitions, in run_pipeline (salted)
    and in munge_auto."""
    import re

    from datamunging_spark.operators.chunked import munge_auto

    def repartition_counts(plan: str) -> list[int]:
        return [int(n) for n in re.findall(r", (\d+)\), REPARTITION_BY_NUM", plan)]

    cores = spark.sparkContext.defaultParallelism
    assert repartition_counts(_run_pipeline_write_plan(spark, tmp_path)) == [cores]
    rows = corpus_to_rows(generate_corpus(seed=5, n_docs=5, body_lines=(4, 6)))
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    assert repartition_counts(plan_of(munge_auto(df, spark, monster_threshold=8))) == [cores]


def test_catalog_extraction_runs_one_python_task_per_core(spark, sf_dir):
    """The catalog operators whose repartition feeds one Python munge or
    extraction stage run one task per core, like run_pipeline."""
    import re

    from datamunging_spark.ml_ops import (
        extract_main_content,
        extract_munge,
        extract_munge_metrics,
    )

    cores = spark.sparkContext.defaultParallelism
    for op in (extract_main_content, extract_munge, extract_munge_metrics):
        plan = plan_of(op(spark, sf_dir))
        counts = re.findall(r"RoundRobinPartitioning\((\d+)\), REPARTITION_BY_NUM", plan)
        assert [int(n) for n in counts] == [cores], (op.__name__, plan[:600])


def test_split_scales_to_a_16k_span_doc(spark):
    """One ~16k-span volume becomes ceil(pages / chunk_pages) chunk rows
    whose owned spans add up to the input; no inferred filter re-derives
    the chunk array below the generator."""
    import math

    from pyspark.sql import functions as F

    from datamunging_spark.operators.chunked import HALO, split_chunks

    n, chunk_pages = 16_000, 64
    doc = spark.range(1).select(
        F.lit("big").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.struct(
                F.when(i % 4 == 3, "image").otherwise("page").alias("kind"),
                F.lit("text").alias("text"),
                F.lit("").alias("media_ref"),
                i.alias("offset"),
            ),
        ).alias("spans"),
    )
    chunks = split_chunks(doc, 256, chunk_pages)
    optimized = chunks._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in optimized, optimized
    rows = chunks.select("chunk", "lo", "hi", F.size("spans").alias("n")).collect()
    pages = n - n // 4
    assert len(rows) == math.ceil(pages / chunk_pages)
    assert sum(r.n - r.lo - r.hi for r in rows) == n
    last = len(rows) - 1
    assert all(
        (r.lo, r.hi) == (0 if r.chunk == 0 else HALO, 0 if r.chunk == last else HALO)
        for r in rows
    )


def test_json_and_window_plans(spark, sf_dir):
    js = plan_of(RELATIONAL_QUERIES["json_extract"][0](spark, sf_dir))
    assert "partial_" in js  # partial agg before shuffle
    win = plan_of(RELATIONAL_QUERIES["window_topk_orders"][0](spark, sf_dir))
    assert "Window" in win
    # rank filter evaluated right after the window, no extra shuffle after
    assert win.count("Exchange") <= 2


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key at write time pre-shuffles the
    data once; every later join on that key is exchange-free. At 100 TB
    this converts the nightly fact-fact join from a full-cluster shuffle
    into a local merge per bucket."""
    from pyspark.sql import functions as F

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_cust")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        (
            t(spark, sf_dir, "orders")
            .write.bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .option("path", str(tmp_path / "b_orders"))
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            t(spark, sf_dir, "customer")
            .write.bucketBy(8, "c_custkey")
            .sortBy("c_custkey")
            .option("path", str(tmp_path / "b_cust"))
            .mode("overwrite")
            .saveAsTable("b_cust")
        )
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_cust"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        # the join itself needs no exchange: both sides arrive bucketed.
        # (the groupBy after it still shuffles — count exchanges and
        # confirm the only one is for the aggregation, not the join)
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning" not in join_part
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_aqe_coalesces_shuffle_partitions(spark, sf_dir):
    """AQE must be live: after execution the final adaptive plan reads
    the shuffle through AQEShuffleRead with runtime-coalesced partitions
    (at 100 TB this is what keeps 32k-partition shuffles from emitting
    32k tiny tasks on the small stages)."""
    df = q1_pricing_summary(spark, sf_dir)
    df.collect()
    final = plan_of(df)
    assert "AQEShuffleRead" in final
    assert "coalesced" in final


def test_salted_agg_is_two_exchanges(spark, sf_dir):
    """The skew-safe two-phase aggregation must cost exactly its two
    intended shuffles (salted partial + final merge) and compile the
    top-k to TakeOrdered, not a global sort."""
    plan = plan_of(RELATIONAL_QUERIES["salted_heavy_hitters"][0](spark, sf_dir))
    assert plan.count("Exchange") == 2
    assert "TakeOrderedAndProject" in plan


def test_unpivot_is_expand_single_scan(spark, sf_dir):
    """unpivot must compile to one Expand over one scan — not the
    UNION-ALL formulation that scans the table once per metric."""
    from datamunging_spark.queries import q_unpivot_part_metrics

    plan = plan_of(q_unpivot_part_metrics(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def test_aqe_splits_skewed_join_partition(spark):
    """A 50%-of-rows hot key must trigger AQE's runtime skew-join split
    (SortMergeJoin(skew=true) + AQEShuffleRead ... skewed) — the runtime
    half of the engine's skew story (the static half is salting,
    test_salted_agg_is_two_exchanges). Thresholds are lowered to make a
    ~6 MB hot partition qualify at test scale."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        big = spark.range(200000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = big.join(small, "k").select(F.length("payload").alias("lp"))
        assert len(j.collect()) == 100500
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sampling_ops_plan_quality(spark, sf_dir):
    """hash_split is scan → project → two-phase agg (no join, no window:
    membership is pure hash math); stratified_sample's rank filter plans
    as WindowGroupLimit (partial per-group top-k before the shuffle)."""
    from datamunging_spark.ml_ops import hash_split, stratified_sample

    p1 = plan_of(hash_split(spark, sf_dir))
    assert "partial_count" in p1 and "Join" not in p1 and "Window" not in p1
    assert p1.count("FileScan parquet") == 1

    p2 = plan_of(stratified_sample(spark, sf_dir))
    assert "WindowGroupLimit" in p2
    assert p2.count("FileScan parquet") == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective dimension filter must inject a runtime Bloom filter
    (bloom_filter_agg on the build side, might_contain on the fact
    side's scan filter) — at 100 TB this prunes fact rows before the
    shuffle instead of after the join. Thresholds lowered to trigger at
    test scale; broadcast disabled so the join actually shuffles."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10MB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
            F.col("o_totalprice") > 550000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("s"))
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_round3_ops_plan_shapes(spark, sf_dir):
    """Plan properties each round-3 op's SCALE.md claim rests on."""
    from datamunging_spark.ml_ops import (
        bm25_search,
        quality_classifier,
        semantic_dedup,
        span_corruption,
        url_domain_stats,
    )

    # quality classifier: pure HOF projection — the ONLY exchange is the
    # output ordering (no aggregation/join shuffles)
    qc = plan_of(quality_classifier(spark, sf_dir))
    assert qc.count("Exchange") == 1 and "rangepartitioning" in qc
    assert "HashAggregate" not in qc and "EvalPython" not in qc

    # URL/domain stats: blocklist is a BROADCAST anti join; the domain
    # aggregation partial-aggregates map-side
    url = plan_of(url_domain_stats(spark, sf_dir))
    assert "BroadcastHashJoin" in url and "LeftAnti" in url
    assert "partial_count" in url

    # BM25: the global top-k is TakeOrderedAndProject over the scored
    # set, not a single-partition window over the corpus
    bm = plan_of(bm25_search(spark, sf_dir))
    assert "TakeOrderedAndProject" in bm
    # ... and the term filter runs INSIDE the Generate's explode input
    # (HOF filter before explode) — a post-explode Filter cannot push
    # above the Generate and would emit |all tokens| rows at corpus
    # scale (r4 fix, verdict r3 item 2)
    assert "explode(filter(" in bm.replace(" ", "")

    # span corruption: join-free projection — no joins at all, and the
    # only exchange is the output ordering
    sc = plan_of(span_corruption(spark, sf_dir))
    assert "Join" not in sc
    assert sc.count("Exchange") == 1

    # semantic dedup numpy path: the pair stage is exactly one
    # Arrow-grouped Python stage (no HOF self-join)
    sd = plan_of(semantic_dedup(spark, sf_dir, pair_backend="numpy"))
    assert sd.count("FlatMapGroupsInPandas") == 1


def test_round4_ops_plan_shapes(spark, sf_dir):
    """Plan properties each round-4 op's scale claim rests on."""
    from datamunging_spark.ml_ops import (
        _bpe_vocab,
        gopher_quality,
        substring_dedup,
    )

    # composite quality filter: ONE corpus scan, no joins, no Python —
    # all five signals in a single codegen projection, map-side partial
    # aggregation before the 7-long shuffle
    gq = plan_of(gopher_quality(spark, sf_dir))
    assert "Join" not in gq and "EvalPython" not in gq
    assert gq.count("FileScan parquet") == 1
    assert "partial_count" in gq

    # substring dedup: the anchor window shuffles on the md5 hash (not
    # raw text), coverage removal is a LeftAnti join, no Python anywhere
    sd = plan_of(substring_dedup(spark, sf_dir))
    assert "hashpartitioning(gh" in sd
    assert "LeftAnti" in sd
    assert "EvalPython" not in sd and "FlatMapGroupsInPandas" not in sd

    # BPE vocabulary build (the only corpus-sized stage of bpe_learn):
    # map-side combined word count, no Python
    bv = plan_of(_bpe_vocab(spark, sf_dir))
    assert "partial_count" in bv and "EvalPython" not in bv


def test_bpe_tokenize_docs_broadcast_join(spark, sf_dir):
    """The word->pieces re-attachment must be a broadcast hash join —
    the corpus-sized token stream never shuffles for it (the only
    Exchanges are the per-doc aggregate + output sort)."""
    from datamunging_spark.ml_ops import bpe_tokenize_docs

    plan = plan_of(bpe_tokenize_docs(spark, sf_dir, n_merges=2))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gopher_repetition_pruned_scan_no_python(spark, sf_dir):
    """The repetition metrics are pure codegen over a 2-column pruned
    scan: no Python stage anywhere, and the occurrence-table window's
    key starts with doc_id so the work is per-document parallel."""
    from datamunging_spark.ml_ops import gopher_repetition

    plan = plan_of(gopher_repetition(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    # column pruning: only doc_id + text leave the parquet scan
    for seg in plan.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "embedding" not in head and "lang" not in head, head
    # the dominant window is keyed (doc_id, n, gram) — hash-spreads a
    # monster doc's grams instead of pinning the doc to one task (the
    # full key is asserted: a doc_id-only window would pass a prefix
    # check while reintroducing exactly that skew mode)
    import re as _re

    assert _re.search(
        r"windowspecdefinition\(doc_id#\d+L?, n#\d+L?, gram#\d+", plan
    ), plan


def test_round5_final_ops_plan_shapes(spark, sf_dir):
    """Plan properties the final round-5 ops' scale claims rest on."""
    from datamunging_spark.ml_ops import url_normalize_dedup, zorder_layout

    # z-order: quantize + Morton interleave is pure codegen (no Python),
    # the 1-row bounds frame arrives by broadcast, the bucket agg is
    # map-side partial, and the scan reads ONLY the two clustered
    # columns (at 100 TB the bounds agg is replaced by table stats;
    # locally it is the second, equally-pruned scan)
    zp = plan_of(zorder_layout(spark, sf_dir))
    assert "EvalPython" not in zp, zp
    assert "BroadcastExchange" in zp, zp
    assert "SortMergeJoin" not in zp, zp
    assert "partial_count" in zp, zp
    for seg in zp.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "o_custkey" in head and "o_orderdate" in head, head
        assert "o_comment" not in head and "o_totalprice" not in head, head

    # URL dedup: structural string codegen end-to-end — no Python, no
    # join at all, one documents scan that reads ONLY (doc_id, source)
    # (never text/embedding: the shuffle payload is canonical-URL keys)
    up = plan_of(url_normalize_dedup(spark, sf_dir))
    assert "EvalPython" not in up, up
    assert "Join" not in up, up
    assert up.count("FileScan parquet") == 1, up
    for seg in up.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head and "embedding" not in head, head


def test_pagerank_plan_no_python_pruned_scan(spark, sf_dir):
    """The iterative-graph op is codegen end-to-end: no Python stage,
    the documents scan reads ONLY doc_id (never text/embedding — the
    graph is id-derived), the per-iteration in-mass aggregation is
    map-side partial, and the 1-row dangling-mass frame arrives by
    broadcast."""
    from datamunging_spark.ml_ops import pagerank_links

    plan = plan_of(pagerank_links(spark, sf_dir))
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "BroadcastExchange" in plan, plan
    for seg in plan.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head and "embedding" not in head, head


def test_round5_extra_ops_plan_shapes(spark, sf_dir):
    """Plan properties behind the late-round-5 ops' scale claims."""
    from datamunging_spark.ml_ops import boilerplate_relational, embedding_quantize

    # boilerplate classifier: codegen end-to-end (no Python), no join;
    # ONE hash shuffle on doc_id serves both the context window and the
    # per-doc aggregate (partial agg runs before nothing — the window
    # needs the co-location first — but the groupBy REUSES the window's
    # partitioning, so no second hash exchange); the scan reads ONLY
    # (doc_id, text)
    bp = plan_of(boilerplate_relational(spark, sf_dir))
    assert "EvalPython" not in bp, bp
    assert "Join" not in bp, bp
    assert bp.count("Exchange hashpartitioning") == 1, bp
    assert bp.count("FileScan parquet") == 1, bp
    for seg in bp.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "lang" not in head and "source" not in head, head
        assert "n_chars" not in head, head

    # SQ8 quantization: zero shuffles (top-k is TakeOrderedAndProject,
    # a per-partition reduce), zero Python, the NULL-vector drop is
    # PUSHED into the parquet scan, and the scan never reads `label`
    qp = plan_of(embedding_quantize(spark, sf_dir))
    assert "TakeOrderedAndProject" in qp, qp
    assert "Exchange" not in qp, qp
    assert "EvalPython" not in qp, qp
    assert "PushedFilters: [IsNotNull(embedding)]" in qp, qp
    for seg in qp.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "label" not in head, head


def test_ann_ivf_sq8_plan_shape(spark, sf_dir):
    """Composed IVF+SQ8 serving path: codegen end-to-end (no Python),
    both top-k stages are TakeOrderedAndProject (per-partition reduce,
    no sort shuffle), the NULL-vector drop is pushed into the scan,
    and `label` is never read."""
    from datamunging_spark.ml_ops import ann_ivf_sq8

    p = plan_of(ann_ivf_sq8(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("TakeOrderedAndProject") == 2, p
    assert "Exchange" not in p, p
    assert "PushedFilters: [IsNotNull(embedding)]" in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "label" not in head, head


def test_span_interval_merge_plan_shape(spark, sf_dir):
    """Gaps-and-islands span union: codegen end-to-end (no Python),
    exactly ONE hash exchange — window #2 over (doc_id, island) and the
    per-doc groupBy both reuse HashPartitioning(doc_id) (Catalyst adds
    Sorts, never a second hash shuffle); the only other exchange is the
    presentation ORDER BY's range partitioning over per-doc aggregates.
    The scan reads ONLY doc_id."""
    from datamunging_spark.ml_ops import span_interval_merge

    p = plan_of(span_interval_merge(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange") == 2, p  # + the final ORDER BY range part.
    assert "Join" not in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head and "lang" not in head, head


def test_anchor_text_agg_plan_shape(spark, sf_dir):
    """Anchor aggregation: codegen end-to-end (no Python); the modal-
    anchor tree is a two-level partial+final aggregate (the shuffle
    carries (dst, anchor) partials, not edges — the power-law skew
    armor); the scan reads ONLY doc_id."""
    from datamunging_spark.ml_ops import anchor_text_agg

    p = plan_of(anchor_text_agg(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "partial_count" in p and "partial_sum" in p, p
    assert "Exchange hashpartitioning(dst" in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "struct<doc_id:bigint>" in head, head


def test_funnel_events_plan_shape(spark, sf_dir):
    """Windowed funnel: codegen end-to-end (no Python), exactly ONE hash
    exchange — the three chained stage windows share one
    HashPartitioning(user_id) + one sort, and the per-user groupBy
    reuses it (Catalyst adds no second hash shuffle); the remaining
    exchanges are the single-row global total and the 3-row
    presentation sort. The scan reads only the four needed columns
    (never value/props)."""
    from datamunging_spark.queries import q_funnel_events

    p = plan_of(q_funnel_events(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "value" not in head and "props" not in head, head


def test_rrf_fusion_plan_shape(spark, sf_dir):
    """RRF hybrid fusion: each leg AND the fused result end in a
    TakeOrderedAndProject (partial top-k map-side — no global sort over
    the corpus; the rank windows then run over <= RRF_TOP rows); the
    fusion join runs over two <= RRF_TOP-row frames (full-outer SMJ over
    10 rows — never a cartesian product); no Python anywhere."""
    from datamunging_spark.ml_ops import rrf_fusion

    p = plan_of(rrf_fusion(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("TakeOrderedAndProject") == 3, p
    assert "CartesianProduct" not in p, p


def test_scd2_history_plan_shape(spark, sf_dir):
    """SCD2 reconstruction: codegen end-to-end (no Python), exactly ONE
    hash exchange — the lag window, the post-filter re-sort, and the
    combined row_number+lead window all reuse
    HashPartitioning(c_custkey); no join anywhere; the scan reads ONLY
    c_custkey."""
    from datamunging_spark.queries import q_scd2_history

    p = plan_of(q_scd2_history(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "struct<c_custkey:bigint>" in head, head


def test_retention_cohorts_plan_shape(spark, sf_dir):
    """Cohort retention: join-free (the per-user signup timestamp is a
    full-partition window, never a self-join of events against firsts);
    the corpus-sized shuffle is the single
    HashPartitioning(user_id); no Python; the scan reads only
    (user_id, ts, event_type)."""
    from datamunging_spark.queries import q_retention_cohorts

    p = plan_of(q_retention_cohorts(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert "Exchange hashpartitioning(user_id" in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "value" not in head and "props" not in head, head


def test_hard_negative_mining_plan_shape(spark, sf_dir):
    """Hard-negative mining must probe via a broadcast equi-join on the
    IVF cell — never a cartesian product of anchors x corpus (the flop
    bomb at 10^12 vectors); the per-anchor top-K window is partitioned
    by anchor_id, never a global single-partition window; no Python."""
    from datamunging_spark.ml_ops import hard_negative_mining

    p = plan_of(hard_negative_mining(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "windowspecdefinition(anchor_id" in p, p


def test_quantile_buckets_plan_shape(spark, sf_dir):
    """Equi-depth bucketing's assignment pass: the bucket expression is
    a literal-array filter (codegen) — no join, no Python; the only
    hash exchanges are the score histogram and the 10-row bucket
    rollup, never a global row sort of the corpus."""
    from datamunging_spark.ml_ops import quantile_buckets

    p = plan_of(quantile_buckets(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head and "lang" not in head, head


def test_cdc_apply_plan_shape(spark, sf_dir):
    """CDC apply: latest-wins reduction + audit counts all ride ONE
    HashPartitioning(c_custkey) (row_number and the two full-partition
    windows share it; Catalyst adds sorts, never a second hash
    shuffle); no join, no Python, c_custkey-only scan."""
    from datamunging_spark.queries import q_cdc_apply

    p = plan_of(q_cdc_apply(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "struct<c_custkey:bigint>" in head, head


def test_dedup_levenshtein_plan_shape(spark, sf_dir):
    """Character-level near-dup: the candidate self-join is an
    equi-join on the length key — never a cartesian product of the
    corpus against itself; verification is the thresholded JVM
    levenshtein (no Python)."""
    from datamunging_spark.ml_ops import dedup_levenshtein

    p = plan_of(dedup_levenshtein(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_triangle_count_plan_shape(spark, sf_dir):
    """Degree-oriented triangle listing: every join is an equi-join on
    node ids (wedge build + closure probe) — never a cartesian or a
    nested-loop of the edge list against itself; no Python anywhere."""
    from datamunging_spark.ml_ops import triangle_count

    p = plan_of(triangle_count(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_domain_cap_sample_plan_shape(spark, sf_dir):
    """Salted two-phase per-domain top-K: two window passes (the salted
    pre-rank and the final per-domain rank), all codegen — no Python,
    no joins, no cartesian."""
    from datamunging_spark.ml_ops import domain_cap_sample

    p = plan_of(domain_cap_sample(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert p.count("Window") >= 2, p


def test_weighted_sample_plan_shape(spark, sf_dir):
    """Priority sampling is a partial top-K: TakeOrderedAndProject
    (per-partition K-best, merged on the driver) — never a global
    sort-shuffle of the corpus; no Python."""
    from datamunging_spark.ml_ops import weighted_sample

    p = plan_of(weighted_sample(spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "EvalPython" not in p, p
    assert "Exchange hashpartitioning" not in p, p


def test_pmi_collocations_plan_shape(spark, sf_dir):
    """Collocation scoring: one corpus scan feeding vocabulary-sized
    aggregations; the total is a broadcast 1-row frame (never a
    cartesian of data-sized sides); final top-K is TakeOrdered; no
    Python anywhere."""
    from datamunging_spark.ml_ops import pmi_collocations

    p = plan_of(pmi_collocations(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_phrase_search_plan_shape(spark, sf_dir):
    """Inverted-index phrase match: the postings scan is pruned to the
    query vocabulary BEFORE any join (the IN filter is the index seek),
    the phrase table is broadcast, and the adjacency probe is a pure
    equi-join — no cartesian, no Python."""
    from datamunging_spark.ml_ops import phrase_search

    p = plan_of(phrase_search(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert " IN (" in p or "isin" in p.lower(), p


def test_sliding_window_events_plan_shape(spark, sf_dir):
    """Hopping windows: the x3 multi-assignment explode happens BEFORE
    a partial (map-side) aggregation, so the shuffle carries aggregated
    (window, type) rows; one hash exchange, no Python, no join."""
    from datamunging_spark.queries import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["sliding_window_events"]
    p = plan_of(fn(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert "partial" in p.lower(), p


def test_table_profile_plan_shape(spark, sf_dir):
    """Melt-based ANALYZE: exactly two hash exchanges for K profiled
    columns (the (col,val) combine and the per-column rollup) — never
    K countDistinct expansions each reshuffling the table; no Python,
    no join, and the scan reads only the profiled columns."""
    from datamunging_spark.ml_ops import PROFILE_COLS, table_profile

    p = plan_of(table_profile(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 2, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        for c in PROFILE_COLS:
            assert c in head, head
        assert "l_extendedprice" not in head, head


def test_fuzzy_join_shingles_plan_shape(spark, sf_dir):
    """Prefix-filter similarity join: candidate generation is an
    equi-join on the token key (prefix tokens only); the verify-side
    token rebuild is pruned by a broadcast semi-join on candidate ids;
    no cartesian, no Python."""
    from datamunging_spark.ml_ops import fuzzy_join_shingles

    p = plan_of(fuzzy_join_shingles(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "LeftSemi" in p, p


def test_snapshot_diff_plan_shape(spark, sf_dir):
    """Table diff: both snapshots reduce to (key, md5 fingerprint)
    BEFORE the full-outer shuffle join — the md5 projection must sit
    under the join, so the shuffle carries 16-byte hashes, not text
    payloads; no Python."""
    from datamunging_spark.ml_ops import snapshot_diff

    p = plan_of(snapshot_diff(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "FullOuter" in p, p
    # the shuffle key lists doc_id only — text/lang/source never cross
    # an exchange (they are consumed by the md5 projection below it)
    for seg in p.split("Exchange hashpartitioning")[1:]:
        head = seg.split("\n")[0]
        assert "text" not in head, head


def test_q9_product_profit_plan_shape(spark, sf_dir):
    """Q9 star join: the selective p_name predicate reaches the part
    scan (pushed), part/supplier/nation broadcast, lineitem never
    builds a hash table; no Python."""
    from datamunging_spark.queries import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["q9_product_profit"]
    p = plan_of(fn(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "Contains(p_name" in p, p


def test_q21_waiting_suppliers_plan_shape(spark, sf_dir):
    """Q21 double correlation compiles to set-operation joins — one
    LeftSemi and one LeftAnti on l_orderkey with the non-equi supplier
    guard — never a per-row subquery, never a cartesian."""
    from datamunging_spark.queries import RELATIONAL_QUERIES

    fn, _ = RELATIONAL_QUERIES["q21_waiting_suppliers"]
    p = plan_of(fn(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p


def test_interval_overlap_join_plan_shape(spark, sf_dir):
    """Two-sided span-overlap join: the join key is (doc_id, bucket) —
    an EQUI hash/sort-merge join with the overlap predicate as a
    residual filter, never a cartesian or broadcast-nested-loop plan;
    no distinct-driven second aggregation (the overlap-start bucket
    trick dedupes inside the join); codegen end-to-end (no Python);
    the scan reads ONLY doc_id."""
    from datamunging_spark.ml_ops import interval_overlap_join

    p = plan_of(interval_overlap_join(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p
    # one aggregate tree only (partial+final per-doc agg) — the dedup
    # trick never adds a HashAggregate(distinct) pass
    assert "partial_count" in p, p
    for seg in p.split("ReadSchema")[1:]:
        head = seg.split("\n")[0]
        assert "struct<doc_id:bigint>" in head, head


def test_multimodal_phash_dedup_plan_shape(spark, sf_dir):
    """pHash media near-dup: exactly ONE Arrow-batched Python stage (the
    decode->hash mapInPandas); banding/join/verify all codegen; the
    candidate join is an EQUI join on (band_idx, band_val) — never a
    cartesian all-pairs plan; the scan reads only doc_id + text."""
    from datamunging_spark.ml_ops import multimodal_phash_dedup

    p = plan_of(multimodal_phash_dedup(spark, sf_dir))
    assert p.count("MapInPandas") == 2, p  # one per self-join branch
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    ), p


def test_sketch_ops_plan_shapes(spark, sf_dir):
    """Mergeable sketches must stay sketch-shaped in the plan: all
    codegen (no Python stage), the HLL scan pruned to exactly its two
    columns with map-side partial max, and CMS scoring joining the
    2048-cell grid via BROADCAST (the corpus-sized side never
    shuffles for the lookup)."""
    from datamunging_spark.ml_ops import cms_heavy_hitters, hll_distinct

    hll = plan_of(hll_distinct(spark, sf_dir))
    assert "EvalPython" not in hll
    read = hll.split("ReadSchema")[1].split("\n")[0]
    assert "l_returnflag" in read and "l_orderkey" in read
    assert "l_extendedprice" not in read and "l_partkey" not in read
    assert "partial_max" in hll  # register max combines map-side

    cms = plan_of(cms_heavy_hitters(spark, sf_dir))
    assert "EvalPython" not in cms
    assert "BroadcastHashJoin" in cms


def test_gapfill_locf_plan_shape(spark, sf_dir):
    """Gap-fill must stay codegen (no Python stage) and its LOCF
    window must be PARTITIONED by key — a global (unpartitioned)
    running window would serialize the whole dense spine through one
    task at 100 TB."""
    from datamunging_spark.ml_ops import gapfill_locf

    plan = plan_of(gapfill_locf(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Window" in plan
    import re

    wins = re.findall(r"Window \[.*?\], \[(.*?)\]", plan)
    assert wins and all("user_id" in w for w in wins), wins


def test_quantile_sketch_plan_shape(spark, sf_dir):
    """The rank sketch must stay sketch-shaped: all codegen (no
    Python stage), the scan pruned to its two columns, COUNT cells
    combining map-side (partial_count), the tiny [lo,hi] stats frame
    joined BROADCAST, and both windows PARTITIONED by group (they run
    over <=256 cells per group, never the corpus)."""
    from datamunging_spark.ml_ops import quantile_sketch

    plan = plan_of(quantile_sketch(spark, sf_dir))
    assert "EvalPython" not in plan
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_returnflag" in read and "l_extendedprice" in read
    assert "l_quantity" not in read and "l_orderkey" not in read
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    import re

    wins = re.findall(r"Window \[.*?\], \[(.*?)\]", plan)
    assert wins and all("l_returnflag" in w for w in wins), wins


def test_kmv_set_similarity_plan_shape(spark, sf_dir):
    """KMV must keep every corpus-sized step codegen and keyed: no
    Python stage, the K-min window PARTITIONED by lang, and the only
    nested-loop join (lang_a < lang_b pairing) running over the
    groups-sized sketch frames, never a corpus side (the exact-inter
    self-join is hash-keyed on h)."""
    from datamunging_spark.ml_ops import kmv_set_similarity

    plan = plan_of(kmv_set_similarity(spark, sf_dir))
    assert "EvalPython" not in plan
    import re

    wins = re.findall(r"Window \[.*?\], \[(.*?)\]", plan)
    assert wins and all("lang" in w for w in wins), wins
    # the h-keyed exact-intersection join must be a hash join, not a
    # nested loop; nested loop appears only for the tiny pair cross
    assert "hashpartitioning(h#" in plan or "SortMergeJoin [h#" in plan \
        or re.search(r"BroadcastHashJoin \[h#", plan), plan[:400]


def test_second_resume_batch_plan_shapes(spark, sf_dir):
    """Plan properties behind the second-resume batch's scale claims."""
    from datamunging_spark.ml_ops import (
        decontaminate_semantic,
        graph_components_lss,
        random_walks,
    )

    # semantic decon: the corpus-side dot products are ONE Arrow stage
    # (the int64 matmul mapInPandas) — no row-wise Python anywhere; the
    # benchmark-norm join is a BROADCAST (never shuffles the pair
    # table on the tiny side); no cartesian product
    p = plan_of(decontaminate_semantic(spark, sf_dir))
    assert p.count("ArrowEvalPython") == 0, p  # mapInPandas, not UDF eval
    assert "MapInPandas" in p, p
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p

    # random walks: codegen end-to-end (md5 pick is a JVM expression),
    # every join an equi-join on the node key
    p = plan_of(random_walks(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "MapInPandas" not in p, p
    assert "CartesianProduct" not in p, p

    # LSS components: label read-off join on the node key + a size
    # window on comp — no Python, no cartesian
    p = plan_of(graph_components_lss(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p


def test_skipgram_and_pca_plan_shapes(spark, sf_dir):
    from datamunging_spark.ml_ops import pca_power_projection, skipgram_pairs

    # skip-gram build: equi-join on walk_id (bounded per-group fanout),
    # codegen end-to-end, map-side combine before the pair-count shuffle
    p = plan_of(skipgram_pairs(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "partial_count" in p, p

    # PCA projection: the returned frame is a join-free codegen scan
    # against the literal eigenvector (the Gram/power stages already ran
    # as model state — one MapInPandas pass, audited in the op)
    p = plan_of(pca_power_projection(spark, sf_dir))
    assert "EvalPython" not in p, p
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p


def test_pq_adc_plan_shape(spark, sf_dir):
    """PQ/ADC serving path: assignments are vectorized Arrow UDFs (no
    row-wise Python), ADC scoring is a codegen projection over literal
    LUT arrays, and the shortlist cut is TakeOrderedAndProject — no
    sort shuffle, no cartesian."""
    from datamunging_spark.ml_ops import pq_adc_topk

    p = plan_of(pq_adc_topk(spark, sf_dir))
    assert "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_cusum_windows_are_partitioned_no_python(spark, sf_dir):
    """CUSUM must run as partitioned windows over pre-aggregated daily
    rows: no global single-partition sort, no Python stage, and the
    events scan prunes to the two columns it needs."""
    from datamunging_spark.ml_ops import cusum_changepoint

    plan = plan_of(cusum_changepoint(spark, sf_dir))
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    # the sequential windows partition by event_type, never globally
    assert "windowspecdefinition(event_type#" in plan
    assert "ReadSchema: struct<ts:timestamp_ntz,event_type:string>" in plan


def test_chi2_terms_is_take_ordered_with_broadcast_totals(spark, sf_dir):
    """Top-k cut must be TakeOrdered (not a global sort) and the label
    totals must re-attach as a broadcast, not a shuffle join."""
    from datamunging_spark.ml_ops import chi2_terms

    plan = plan_of(chi2_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_record_linkage_scorer_is_codegen_case(spark, sf_dir):
    """After the pattern-literal fold the scorer must be pure codegen:
    no decimal arithmetic, no Python, and no per-row join against the
    u vector (it was collected as a model scalar)."""
    from datamunging_spark.ml_ops import record_linkage_fs

    plan = plan_of(record_linkage_fs(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CASE WHEN" in plan
    # the only join in the final plan is the blocking equi-join over
    # the checkpointed pairs; the u crossJoin is gone
    assert "decimal(38,0)" not in plan


def test_bootstrap_ci_partial_aggregates_replicates(spark, sf_dir):
    """The 64x replicate explode must collapse map-side (partial_sum
    before the exchange) so the shuffle carries group x replicate
    partials, not 64x the data; one md5 per row, not per replicate."""
    from datamunging_spark.ml_ops import bootstrap_ci

    plan = plan_of(bootstrap_ci(spark, sf_dir))
    assert "partial_sum" in plan
    assert plan.count("md5(") <= 2  # once per scan branch, not per b
    assert "EvalPython" not in plan


def test_text_tiling_intersection_is_equijoin(spark, sf_dir):
    """The adjacent-block intersection must be a hash equi-join keyed
    on (doc_id, word) — never a nested-loop block cross join."""
    from datamunging_spark.ml_ops import text_tiling

    plan = plan_of(text_tiling(spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
