"""ML/training-data ops: SQL-checked ones run through the same oracle
mirror; rows-only ops get dedicated invariants."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from datamunging_spark.ml_ops import (
    ML_QUERIES,
    dedup_minhash_lsh,
    lsh_candidate_pairs,
    multimodal_features,
    simhash_docs,
    extract_munge,
)
from datamunging_spark.queries import t
from tests.test_queries_oracle import SF_DIR, TABLES, _rows

SQL_CHECKED = sorted(n for n, (_, sql) in ML_QUERIES.items() if sql is not None)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for tbl in TABLES:
        # replay the engine's ingestion canonicalization (queries.t /
        # SPEC.md §0): documents NULL text/lang/source ≡ '', NULL
        # embedding rows dropped
        sel = (
            "* REPLACE (coalesce(text, '') AS text, "
            "coalesce(lang, '') AS lang, coalesce(source, '') AS source)"
            if tbl == "documents" else "*"
        )
        where = " WHERE embedding IS NOT NULL" if tbl == "embeddings" else ""
        c.sql(
            f"CREATE VIEW {tbl} AS SELECT {sel} "
            f"FROM read_parquet('{SF_DIR}/{tbl}.parquet'){where}"
        )
    return c


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_ml_query_matches_oracle(spark, con, name):
    fn, sql = ML_QUERIES[name]
    got = fn(spark, SF_DIR).toPandas()
    want = con.sql(sql).df()
    assert len(got) == len(want), f"{name}: rows {len(got)} vs {len(want)}"
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    assert gc == wc, f"{name}: columns {gc} vs {wc}"
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    assert not bad, f"{name}: first mismatch {gr[bad[0]]} vs {wr[bad[0]]}"


def test_minhash_lsh_recall_and_precision(spark):
    """LSH+verify output must equal brute-force shingle-Jaccard >= 0.6
    pairs restricted to candidate recall: verified pairs are exactly the
    high-similarity subset of candidates, and candidates must catch every
    pair with very high true similarity (banding guarantee at j~0.9+)."""
    verified = {
        (r.d1, r.d2): r.jaccard
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert all(j >= 0.6 for j in verified.values())
    # every verified pair is a true high-jaccard pair by construction;
    # check candidates catch the near-identical ones: build brute-force
    # truth on a small slice
    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    words = F.split(F.lower("text"), " ")
    n = F.size(words)
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            F.when(
                n >= 3,
                F.transform(
                    F.sequence(F.lit(0), n - 3),
                    lambda i: F.concat_ws(
                        " ", words[i], words[i + 1], words[i + 2]
                    ),
                ),
            ).otherwise(F.array(F.col("text")))
        ).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")) / F.size(
        F.array_union("a.sh", "b.sh")
    )
    truth = {
        (r.d1, r.d2): r.j
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.round(jac, 4).alias("j"),
        )
        .where(F.col("j") >= 0.6)
        .collect()
    }
    # verified ⊆ truth with equal jaccard values
    for pair, j in verified.items():
        assert pair in truth and abs(truth[pair] - j) < 1e-9
    # banding recall on the near-identical stratum
    very_high = {p for p, j in truth.items() if j >= 0.9}
    missed = very_high - set(verified)
    assert not missed, f"LSH missed near-identical pairs: {missed}"


def test_simhash_similar_docs_close(spark):
    sig = {r.doc_id: r.simhash for r in simhash_docs(spark, SF_DIR).collect()}
    assert len(sig) > 0
    assert all(0 <= s < 2**16 for s in sig.values())
    # identical text => identical simhash: doc joined with itself
    docs = t(spark, SF_DIR, "documents").limit(1).collect()[0]
    assert sig[docs.doc_id] == sig[docs.doc_id]


def test_multimodal_plumbing(spark):
    out = multimodal_features(spark, SF_DIR).collect()
    assert len(out) > 0
    kinds = {r.media_kind for r in out}
    assert kinds <= {"image", "audio", "video"}
    for r in out[:20]:
        assert r.n_bytes > 0
        assert 0 <= r.checksum < 65536
        assert r.width >= 1 and r.height >= 1
    # deterministic: same input -> same features
    again = multimodal_features(spark, SF_DIR).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]


def test_extract_munge_matches_oracle_per_doc(spark):
    """The flagship extraction path agrees with the pure-Python oracle."""
    from datamunging_spark.oracle.munge import Span, munge_document
    from datamunging_spark.rulesets.loader import load_rulesets

    rs = load_rulesets()
    rows = extract_munge(spark, SF_DIR).collect()
    assert len(rows) == t(spark, SF_DIR, "documents").count()
    # reconstruct a few docs' spans the same deterministic way and compare
    import math

    docs = {r.doc_id: r.text for r in t(spark, SF_DIR, "documents").limit(5).collect()}
    got = {r.doc_id: r for r in rows}
    for doc_id, text in docs.items():
        words = text.split(" ")
        third = len(words) // 3 + 1

        def page(i):
            seg = words[i * third : (i + 1) * third]
            lines = [" ".join(seg[j : j + 8]) for j in range(0, max(len(seg), 1), 8)]
            return "\n".join(lines)

        spans = [
            Span("page", page(0), "", 0),
            Span("image", "", f"media/{doc_id}", 1),
            Span("page", page(1), "", 2),
            Span("page", page(2), "", 3),
        ]
        _, m = munge_document(str(doc_id), spans, rs)
        r = got[str(doc_id)]
        assert (r.pages, r.tokens_total, r.tokens_in_dict, r.tokens_corrected) == (
            m.pages,
            m.tokens_total,
            m.tokens_in_dict,
            m.tokens_corrected,
        ), doc_id


def test_embedding_dedup_bucketed_equals_bruteforce(spark):
    """The hyperplane-bucketed (multi-probe) near-dup join must find
    exactly the pairs the brute-force cross join finds on the test
    corpus — bucketing prunes compute, not recall, here."""
    from datamunging_spark.functions import dot, l2_norm
    from datamunging_spark.ml_ops import dedup_embedding_cosine
    from pyspark.sql import types as T

    got = {
        (r.orig_id, r.probe_id)
        for r in dedup_embedding_cosine(spark, SF_DIR).collect()
    }
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    orig = emb.select(F.col("vec_id").alias("orig_id"), vec.alias("o_vec"))
    probes = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("probe_id"),
        F.transform(vec, lambda x: x * 1.01 + 0.001).alias("p_vec"),
    )
    cos = dot(F.col("o_vec"), F.col("p_vec")) / (
        l2_norm(F.col("o_vec")) * l2_norm(F.col("p_vec"))
    )
    brute = {
        (r.orig_id, r.probe_id)
        for r in orig.join(F.broadcast(probes))
        .where(F.round(cos, 4) >= 0.99)
        .select("orig_id", "probe_id")
        .collect()
    }
    assert got == brute
    assert brute, "corpus must contain synthesized near-dup pairs"


def test_lsh_edges_equal_allpairs_edges(spark):
    """The clustering chain's default LSH-fed edge set must equal the
    exact all-pairs triangle-join edge set (16 bands × 2 rows over
    unigram shingles gives per-pair miss probability ~8e-8 at j=0.8, so
    on the test corpus equality is exact) — this is the guarantee that
    lets curate_corpus run on the O(candidates) path with an unchanged
    oracle."""
    from datamunging_spark.ml_ops import _jaccard_edges

    lsh = {
        (r.d1, r.d2)
        for r in _jaccard_edges(spark, SF_DIR, use_lsh=True).collect()
    }
    exact = {
        (r.d1, r.d2)
        for r in _jaccard_edges(spark, SF_DIR, use_lsh=False).collect()
    }
    assert lsh == exact, (
        f"missing={sorted(exact - lsh)[:5]} spurious={sorted(lsh - exact)[:5]}"
    )
    assert exact, "test corpus must contain at least one near-dup edge"


def test_lsh_selectivity_probe(spark):
    """The auto strategy must pick all-pairs on the tiny-vocabulary
    synthetic tables (everything collides — LSH can't prune) and LSH on
    realistic sparse-vocabulary text."""
    from datamunging_spark.ml_ops import _lsh_worthwhile

    bench = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    assert _lsh_worthwhile(bench) is False
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(20000)]
    rows = [
        (str(i), " ".join(rng.choice(vocab) for _ in range(120)))
        for i in range(256)
    ]
    wide = spark.createDataFrame(rows, "doc_id string, text string")
    assert _lsh_worthwhile(wide) is True


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iters must raise, not silently split."""
    from datamunging_spark.ml_ops import connected_components

    chain = [(i, i + 1) for i in range(1, 8)]  # diameter 7
    edges = spark.createDataFrame(chain, ["d1", "d2"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=3)


def test_connected_components_exact_clusters(spark):
    """Hand-built graph: an 8-node chain (forces multiple propagation
    rounds — diameter 7), a triangle, and a 2-clique; labels must be the
    min doc_id of each component."""
    from datamunging_spark.ml_ops import connected_components

    chain = [(i, i + 1) for i in range(1, 8)]          # 1..8 linked
    tri = [(20, 21), (21, 22), (20, 22)]               # triangle
    pair = [(30, 31)]
    edges = spark.createDataFrame(chain + tri + pair, ["d1", "d2"])
    got = {
        r.doc_id: r.cluster for r in connected_components(edges).collect()
    }
    want = {**{i: 1 for i in range(1, 9)}, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    assert got == want


def test_approx_stats_error_bounds(spark, sf_dir):
    """HLL++ distinct counts within 3*rsd of exact; approx median within
    1% of the exact interpolated median (10k-bucket summary on ~6k rows
    per group is near-exact)."""
    from datamunging_spark.ml_ops import approx_stats

    got = {r.l_returnflag: r for r in approx_stats(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("nd"),
            F.median("l_extendedprice").alias("med"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for flag, e in exact.items():
        g = got[flag]
        assert abs(g.approx_parts - e.nd) / e.nd <= 0.06
        assert abs(g.approx_med_price - e.med) / e.med <= 0.01


def test_connected_components_empty_and_single_edge(spark):
    """CC must not loop forever or crash on an empty edge set (corpus
    with no near-dups) and must handle a single edge."""
    from datamunging_spark.ml_ops import connected_components

    schema = "d1 long, d2 long"
    empty = spark.createDataFrame([], schema)
    assert connected_components(empty).count() == 0
    one = spark.createDataFrame([(7, 3)], schema)
    got = {r.doc_id: r.cluster for r in connected_components(one).collect()}
    assert got == {3: 3, 7: 3}


def test_kmeans_inertia_monotone_and_deterministic(spark):
    """Lloyd invariants: per-iteration inertia is non-increasing, and
    two fits on the same input produce identical centroids (no RNG
    anywhere — deterministic init + lowest-cluster tie-break)."""
    from datamunging_spark.ml_ops import kmeans_fit

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1, inertia = kmeans_fit(emb)
    assert all(b <= a * (1 + 1e-12) for a, b in zip(inertia, inertia[1:])), inertia
    c2, _ = kmeans_fit(emb)
    assert c1 == c2


def test_lsh_probe_routes_by_vocabulary_sparsity(spark):
    """The adaptive selectivity probe must pick the exact triangle join
    on the dense-vocabulary synthetic bench corpus (LSH can't prune
    there) and MinHash-LSH on a realistic sparse-vocabulary corpus
    (sample vocab ≫ tokens per doc) — the routing decision itself, not
    just the already-asserted equality of both paths' outputs."""
    import numpy as np

    from datamunging_spark.ml_ops import _lsh_worthwhile

    dense = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    assert _lsh_worthwhile(dense) is False
    rng = np.random.default_rng(5)
    rows = [
        (i, " ".join(f"w{x}" for x in rng.integers(0, 20000, 60)))
        for i in range(300)
    ]
    sparse = spark.createDataFrame(rows, "doc_id long, text string")
    assert _lsh_worthwhile(sparse) is True


def test_kmeans_parallel_init_beats_first_k_on_clustered_ids(spark):
    """k-means‖ init must rescue exactly the case first-k seeding is
    known to fail: ids sorted by true cluster, so the first k vectors
    all sit in ONE cluster. With the same Lloyd budget the parallel
    init's final inertia must be no worse — and materially better on
    this well-separated synthetic — and byte-identical across runs
    (the md5-derived sampling has no RNG state)."""
    import numpy as np

    from datamunging_spark.ml_ops import kmeans_fit

    rng = np.random.default_rng(11)
    k = dim = 4
    centers = np.eye(k) * 10.0
    rows = [
        (c * 60 + i, [float(x) for x in centers[c] + rng.normal(0, 0.05, dim)])
        for c in range(k)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, in_first = kmeans_fit(df, k=k, iters=3, dim=dim)
    c1, in_par = kmeans_fit(df, k=k, iters=3, dim=dim, init="parallel")
    c2, _ = kmeans_fit(df, k=k, iters=3, dim=dim, init="parallel")
    assert c1 == c2
    assert in_par[-1] <= in_first[-1] * (1 + 1e-9)
    assert in_par[-1] < 0.5 * in_first[-1]


@pytest.mark.parametrize("n_groups", [None, 64])
def test_pack_shards_conserves_docs_and_tokens(spark, n_groups):
    """Packing must be a partition of the corpus (every doc in exactly
    one shard, token totals conserved) AND must actually pack: every
    shard except each group's last must reach the budget, and no shard
    may exceed budget + the largest single document (the greedy
    overflow bound). Parametrized over the group count — None exercises
    the API default (defaultParallelism-wide packing) and 64 pins a
    width no driver query uses, proving the invariants are
    group-count-independent."""
    from datamunging_spark.ml_ops import PACK_BUDGET, pack_shards

    shards = pack_shards(spark, SF_DIR, n_groups=n_groups).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.col("text"), " ")))
    ).collect()[0][0]
    max_doc = docs.select(
        F.max(F.size(F.split(F.col("text"), " ")))
    ).collect()[0][0]
    assert sum(r.n_docs for r in shards) == total_docs
    assert sum(r.tokens for r in shards) == total_tokens
    by_group: dict = {}
    for r in shards:
        by_group.setdefault(r.shard >> 40, []).append(r)
    assert len(by_group) > 1  # groups actually spread
    assert max_doc < PACK_BUDGET  # precondition for the bounds below
    for g, rows in by_group.items():
        rows.sort(key=lambda r: r.shard)
        # contiguous local shard ids from 0 (no doc spans a whole budget)
        assert [r.shard & ((1 << 40) - 1) for r in rows] == list(
            range(len(rows))
        )
        # greedy bounds: every non-final shard holds at least
        # budget - max_doc tokens (a predecessor may overflow into its
        # range) and no shard exceeds budget + max_doc
        for r in rows[:-1]:
            assert r.tokens > PACK_BUDGET - max_doc
        for r in rows:
            assert r.tokens < PACK_BUDGET + max_doc


def test_lm_bigram_join_strategies_agree(spark):
    """The broadcast-vs-shuffle gate in lm_bigram_score is a physical
    choice only: forcing the over-cap shuffle path (cap=0) must produce
    byte-identical scores to the broadcast default."""
    from datamunging_spark.ml_ops import lm_bigram_score

    a = lm_bigram_score(spark, SF_DIR).collect()
    b = lm_bigram_score(spark, SF_DIR, max_model_rows=0).collect()
    assert a == b and len(a) > 0


def test_chunk_sequences_covers_every_token(spark):
    """Stride < chunk length ⇒ chunks tile each doc with overlap: the
    first chunk starts at 1, consecutive starts differ by the stride,
    and the last chunk reaches the end of the document."""
    from datamunging_spark.ml_ops import (
        CHUNK_LEN,
        CHUNK_STRIDE,
        chunk_sequences,
    )

    rows = chunk_sequences(spark, SF_DIR).collect()
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where(F.col("doc_id") < 200)
        .collect()
    }
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = docs[doc_id]
        assert chunks[0].chunk_idx == 0
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        last_start = 1 + (len(chunks) - 1) * CHUNK_STRIDE
        assert last_start + chunks[-1].n_tokens - 1 == min(
            n, last_start + CHUNK_LEN - 1
        )
        # NO token dropped: the last chunk must reach the doc end
        assert last_start + chunks[-1].n_tokens - 1 == n


def test_freq_items_superset_guarantee(spark, sf_dir):
    """freqItems must return a superset of the true heavy hitters at the
    requested support (KSP guarantee: no false negatives)."""
    from datamunging_spark.ml_ops import freq_items

    row = freq_items(spark, SF_DIR, support=0.05).collect()[0]
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n = li.count()
    for col, got in (("l_suppkey", row.hot_suppkeys), ("l_returnflag", row.hot_flags)):
        truth = {
            r[col]
            for r in li.groupBy(col).count().where(F.col("count") > 0.05 * n).collect()
        }
        assert truth <= set(got), f"{col}: missing {truth - set(got)}"


def test_freq_items_superset_guarantee_sf01(spark):
    """Same KSP no-false-negative guarantee at sf0.1 (600k lineitem
    rows, many distinct suppkeys): the sketch's error bound must hold as
    the data scales, not just on the 6k-row fixture."""
    from datamunging_spark.ml_ops import freq_items

    sf_dir = "/root/testdata/sf0.1"
    row = freq_items(spark, sf_dir, support=0.02).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    assert n >= 100_000  # this test is about scale
    for col, got in (("l_suppkey", row.hot_suppkeys), ("l_returnflag", row.hot_flags)):
        truth = {
            r[col]
            for r in li.groupBy(col).count().where(F.col("count") > 0.02 * n).collect()
        }
        assert truth <= set(got), f"{col}: missing {truth - set(got)}"


def test_paragraph_dedup_strips_injected_boilerplate(spark):
    """Every doc_id % 4 == 0 doc except the first gains a boilerplate
    paragraph that the global first-occurrence rule must strip; the
    first occurrence (lowest (doc_id, para_idx)) must keep it."""
    from datamunging_spark.ml_ops import paragraph_dedup

    out = {r["doc_id"]: r for r in paragraph_dedup(spark, SF_DIR).collect()}
    fours = sorted(d for d in out if d % 4 == 0)
    first_four = fours[0]
    assert out[first_four]["n_kept"] == out[first_four]["n_paras"]
    for d in fours[1:]:
        # later copies lose the newsletter paragraph (and the rights
        # paragraph too when doc_id % 7 == 0 and a lower doc held it)
        assert out[d]["n_kept"] < out[d]["n_paras"], d
    # docs with neither injection keep everything (unique main text)
    for d, r in out.items():
        if d % 4 and d % 7:
            assert r["n_kept"] == r["n_paras"] == 1, d


def test_global_shuffle_digest_partitioning_invariant(spark):
    """The permutation is data-determined: repartitioning the input must
    not change any shard's membership, order digest, or first doc."""
    from datamunging_spark.ml_ops import SHUFFLE_SHARDS, global_shuffle

    base = global_shuffle(spark, SF_DIR).collect()
    assert len(base) == SHUFFLE_SHARDS
    again = global_shuffle(spark, SF_DIR).collect()
    assert base == again
    total = sum(r["n_docs"] for r in base)
    n_docs = t(spark, SF_DIR, "documents").count()
    assert total == n_docs


def test_quality_classifier_bounds_and_keep_consistency(spark):
    from datamunging_spark.ml_ops import quality_classifier

    rows = quality_classifier(spark, SF_DIR).collect()
    assert rows, "non-empty"
    for r in rows:
        assert 0.0 <= r["score"] <= 1.0
        assert r["keep"] == (r["score"] >= 0.5)
        assert r["n_tokens"] > 0


def test_url_domain_stats_excludes_blocklisted_sources(spark):
    from datamunging_spark.ml_ops import URL_BLOCKLIST, url_domain_stats

    rows = url_domain_stats(spark, SF_DIR).collect()
    domains = {r["domain"] for r in rows}
    for s in URL_BLOCKLIST:
        assert not any(d.startswith(s + ".") for d in domains), s
    # every surviving source appears exactly once (domain key = source.tld)
    n_sources = (
        t(spark, SF_DIR, "documents")
        .where(~F.col("source").isin(URL_BLOCKLIST))
        .select("source").distinct().count()
    )
    assert len(rows) == n_sources


def test_semantic_dedup_drops_injected_near_dups(spark):
    """Each injected near-duplicate (vec_id >= 200000) is cosine ~1 to
    its original; whenever the pair lands in one cluster, at most one
    of the two survives — and on this corpus every pair does co-cluster
    (also asserted, so the invariant can't pass vacuously)."""
    from datamunging_spark.ml_ops import semantic_dedup

    rows = {r["vec_id"]: r for r in semantic_dedup(spark, SF_DIR).collect()}
    pairs = [(i, i + 200000) for i in rows if i < 200000 and i % 11 == 0]
    assert pairs
    co_clustered = 0
    for orig, dup in pairs:
        if rows[orig]["cluster"] == rows[dup]["cluster"]:
            co_clustered += 1
            assert not (rows[orig]["keep"] and rows[dup]["keep"]), (orig, dup)
    assert co_clustered == len(pairs)


def test_bm25_ranks_monotone_and_positive(spark):
    from datamunging_spark.ml_ops import BM25_TOP, bm25_search

    rows = bm25_search(spark, SF_DIR).collect()
    assert 0 < len(rows) <= BM25_TOP
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_span_corruption_mask_rate_and_determinism(spark):
    """Masked-token fraction concentrates near CORRUPT_MASK_RATE over
    the corpus, and the md5-keyed layout replays identically."""
    from datamunging_spark.ml_ops import CORRUPT_MASK_RATE, span_corruption

    rows = span_corruption(spark, SF_DIR).collect()
    total = sum(r["n_tokens"] for r in rows)
    masked = sum(r["n_masked"] for r in rows)
    assert abs(masked / total - CORRUPT_MASK_RATE) < 0.05
    assert all(0 <= r["n_masked"] <= r["n_tokens"] for r in rows)
    assert rows == span_corruption(spark, SF_DIR).collect()


def test_importance_resample_favors_target_language(spark):
    """The target distribution is fit on lang='en' docs, so en docs must
    score higher importance on average than the rest."""
    from datamunging_spark.ml_ops import importance_resample
    from pyspark.sql import functions as F_

    imp = importance_resample(spark, SF_DIR)
    langs = t(spark, SF_DIR, "documents").select("doc_id", "lang")
    by_lang = {
        r["is_en"]: r["mi"]
        for r in imp.join(langs, "doc_id")
        .groupBy((F_.col("lang") == "en").alias("is_en"))
        .agg(F_.avg("importance").alias("mi"))
        .collect()
    }
    assert by_lang[True] > by_lang[False]


def test_semantic_dedup_numpy_backend_matches_hof(spark):
    """The batched-matmul pair backend (scale path) must produce the
    identical keep set as the oracle-replayable HOF self-join."""
    from datamunging_spark.ml_ops import semantic_dedup

    hof = semantic_dedup(spark, SF_DIR).collect()
    np_ = semantic_dedup(spark, SF_DIR, pair_backend="numpy").collect()
    assert hof == np_


# ---- round-4 ops: independent pure-Python invariants on top of the
# ---- DuckDB oracle equality the parametrized test above already runs


def _py_tokens(sf_dir):
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    return {r["doc_id"]: r["text"].lower().split(" ") for r in tbl}


def test_substring_dedup_drop_span_invariant(spark):
    """Every dropped token index lies inside some non-first duplicated
    K-gram window, and nothing else is dropped — checked against a
    from-scratch pure-Python implementation (no SQL, no Spark exprs)."""
    from datamunging_spark.ml_ops import (
        SUBSTR_K,
        SUBSTR_PASSAGE,
        substring_dedup,
    )

    docs = _py_tokens(SF_DIR)
    for d in list(docs):
        if d % 6 == 0:
            docs[d] = docs[d] + SUBSTR_PASSAGE.split(" ")
    seen: dict[str, tuple] = {}
    occs: list[tuple] = []
    for d in sorted(docs):
        w = docs[d]
        for p in range(len(w) - SUBSTR_K + 1):
            g = " ".join(w[p : p + SUBSTR_K])
            if g in seen:
                occs.append((d, p))
            else:
                seen[g] = (d, p)
    covered: dict[int, set] = {}
    for d, p in occs:
        covered.setdefault(d, set()).update(range(p, p + SUBSTR_K))
    import hashlib

    expect = {}
    for d in sorted(docs):
        if d >= 150:
            continue
        kept = [
            tok for i, tok in enumerate(docs[d])
            if i not in covered.get(d, set())
        ]
        expect[d] = (
            len(docs[d]),
            len(docs[d]) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dropped"], r["kept_md5"])
        for r in substring_dedup(spark, SF_DIR).collect()
    }
    assert got == expect
    # the injected passage is dropped from every copy but the first
    owners = sorted(d for d in expect if d % 6 == 0)
    assert expect[owners[0]][1] == 0 or owners[0] not in covered
    assert all(expect[d][1] >= len(SUBSTR_PASSAGE.split(" ")) - SUBSTR_K + 1
               for d in owners[1:])


def test_bpe_learn_matches_reference_loop(spark):
    """Learned merge table equals the classic Sennrich et al. reference
    loop (dict-of-tuples, greedy left-to-right merge) run in plain
    Python on the same vocabulary."""
    from collections import Counter

    from datamunging_spark.ml_ops import BPE_MERGES, bpe_learn

    vocab = Counter()
    for toks in _py_tokens(SF_DIR).values():
        for w in toks:
            vocab[tuple(w) + ("</w>",)] += 1

    expect = []
    for step in range(1, BPE_MERGES + 1):
        counts = Counter()
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] += freq
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((step, l, r, cnt))
        nv = Counter()
        for sym, freq in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] += freq
        vocab = nv

    got = [
        (r["step"], r["lft"], r["rgt"], r["pair_count"])
        for r in bpe_learn(spark, SF_DIR).collect()
    ]
    assert got == expect


def test_bpe_encode_matches_reference_loop(spark):
    """Corpus piece-frequency table equals the classic reference loop:
    learn the merges in plain Python, apply them to every word, count
    pieces weighted by word frequency."""
    from collections import Counter

    from datamunging_spark.ml_ops import BPE_MERGES, bpe_encode

    vocab = Counter()
    for toks in _py_tokens(SF_DIR).values():
        for w in toks:
            vocab[tuple(w) + ("</w>",)] += 1

    for _ in range(BPE_MERGES):
        counts = Counter()
        for sym, freq in vocab.items():
            for i in range(len(sym) - 1):
                counts[(sym[i], sym[i + 1])] += freq
        if not counts:
            break
        (l, r), _cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        nv = Counter()
        for sym, freq in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == l and sym[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nv[tuple(out)] += freq
        vocab = nv

    expect = Counter()
    for sym, freq in vocab.items():
        for piece in sym:
            expect[piece] += freq

    rows = bpe_encode(spark, SF_DIR).collect()
    got = {r["piece"]: r["n_occurrences"] for r in rows}
    assert got == dict(expect)
    # ordering contract: count desc, piece asc
    keys = [(-r["n_occurrences"], r["piece"]) for r in rows]
    assert keys == sorted(keys)


def test_bpe_learn_no_phantom_pairs_after_full_merge(spark, tmp_path):
    """Once a word fully merges to a single symbol, it must stop
    contributing pairs: Spark's sequence(0, size-2) turns DESCENDING
    for size-1 syms and would emit (sym, null)/(null, sym) phantom
    pairs carrying the word's full frequency (regression guard)."""
    from datamunging_spark.ml_ops import bpe_encode, bpe_learn

    # 'ab' fully merges in 2 rounds (a+b, ab+</w>); rounds 3-4 must
    # come from 'cd', not from phantom (ab</w>, null) pairs
    rows = [(str(i), "ab ab ab cd") for i in range(20)]
    spark.createDataFrame(rows, "doc_id string, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")

    got = [
        (r["step"], r["lft"], r["rgt"], r["pair_count"])
        for r in bpe_learn(spark, str(tmp_path), n_merges=4).collect()
    ]
    assert got == [
        (1, "a", "b", 60),
        (2, "ab", "</w>", 60),
        (3, "c", "d", 20),
        (4, "cd", "</w>", 20),
    ]
    pieces = {
        r["piece"]: r["n_occurrences"]
        for r in bpe_encode(spark, str(tmp_path), n_merges=4).collect()
    }
    assert pieces == {"ab</w>": 60, "cd</w>": 20}


def test_gopher_quality_counts_recompute(spark):
    """Per-rule hit counts equal an independent pandas recompute."""
    from datamunging_spark.ml_ops import STOPWORDS_EN, gopher_quality

    docs = _py_tokens(SF_DIR)
    stop = set(STOPWORDS_EN)
    hits = dict.fromkeys(
        ["word_count", "mean_word_len", "stopword_frac",
         "distinct_ratio", "symbol_ratio", "all_rules_kept"], 0)
    for w in docs.values():
        text = " ".join(w)
        n = len(w)
        f = {
            "word_count": n < 25 or n > 90,
            "mean_word_len": not (4.0 <= sum(map(len, w)) / n <= 5.0),
            "stopword_frac": sum(x in stop for x in w) / n < 0.05,
            "distinct_ratio": len(set(w)) / n < 0.35,
            "symbol_ratio": bool(text)
            and sum(not (c.islower() or c.isdigit() or c == " ")
                    for c in text) / len(text) > 0.10,
        }
        for k, v in f.items():
            hits[k] += v
        hits["all_rules_kept"] += not any(f.values())

    got = {
        r["rule"]: r["n_docs_hit"]
        for r in gopher_quality(spark, SF_DIR).collect()
    }
    assert got == hits


def test_decontaminate_bloom_equals_exact_and_bounds_fp(spark):
    """The Bloom variant's OUTPUT must equal the exact operator's (the
    verify join removes every false positive), with bloom_hits >= hits
    per row; a deliberately tiny bitmap (m=256 bits for hundreds of
    eval-gram insertions => near-saturated filter) must STILL produce
    the exact flagged set, and the default bitmap's empirical
    false-positive mass must sit under 3x the theoretical
    (1 - e^{-Kn/M})^K rate."""
    import math

    from datamunging_spark.ml_ops import (
        BLOOM_K,
        BLOOM_M_BITS,
        DECON_NGRAM,
        decontaminate_bloom,
        decontaminate_ngrams,
        word_shingles,
    )

    exact = {
        r.doc_id: (r.hits, r.n_grams)
        for r in decontaminate_ngrams(spark, SF_DIR).collect()
    }
    for m_bits in (BLOOM_M_BITS, 256):
        rows = decontaminate_bloom(spark, SF_DIR, m_bits=m_bits).collect()
        got = {r.doc_id: (r.hits, r.n_grams) for r in rows}
        assert got == exact, f"m_bits={m_bits}"
        for r in rows:
            assert r.bloom_hits >= r.hits, f"m_bits={m_bits}: {r}"

    # FP mass at the default size: theoretical per-probe FP rate from
    # the real insertion count n (distinct eval grams)
    docs = t(spark, SF_DIR, "documents").select("doc_id", "text")
    n_ins = (
        docs.where(F.col("doc_id") % 50 == 0)
        .select(F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("g"))
        .distinct()
        .count()
    )
    p_fp = (1.0 - math.exp(-BLOOM_K * n_ins / BLOOM_M_BITS)) ** BLOOM_K
    rows = decontaminate_bloom(spark, SF_DIR).collect()
    fp_grams = sum(r.bloom_hits - r.hits for r in rows)
    probes = sum(r.n_grams for r in rows)
    assert fp_grams <= 3 * p_fp * probes + 2, (
        f"fp_grams={fp_grams} probes={probes} p_theory={p_fp:.6f}"
    )


def test_pack_shards_bfd_invariants_and_quality(spark):
    """BFD packing must partition the corpus exactly (doc/token
    conservation), NEVER exceed the budget (max_doc < budget holds on
    this corpus), honor the per-group 11/9*OPT + 1 bin guarantee, and
    beat-or-match the cumsum packer's mean fill — the quality metric
    the variant exists for."""
    from datamunging_spark.ml_ops import (
        PACK_BUDGET,
        PACK_GROUPS,
        pack_shards,
        pack_shards_bfd,
    )

    bfd = pack_shards_bfd(spark, SF_DIR, n_groups=PACK_GROUPS).collect()
    cum = pack_shards(spark, SF_DIR, n_groups=PACK_GROUPS).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.col("text"), " ")))
    ).collect()[0][0]
    max_doc = docs.select(
        F.max(F.size(F.split(F.col("text"), " ")))
    ).collect()[0][0]
    assert max_doc < PACK_BUDGET  # precondition for the hard cap below
    assert sum(r.n_docs for r in bfd) == total_docs
    assert sum(r.tokens for r in bfd) == total_tokens
    for r in bfd:
        assert 0 < r.tokens <= PACK_BUDGET  # BFD bins never overflow

    by_group: dict = {}
    for r in bfd:
        by_group.setdefault(r.shard >> 40, []).append(r)
    for g, rows in by_group.items():
        # creation-order bin ids, contiguous from 0
        assert sorted(r.shard & ((1 << 40) - 1) for r in rows) == list(
            range(len(rows))
        )
        # EXACT any-fit invariant (corpus-independent, unlike the
        # 11/9*OPT guarantee whose OPT the test can't compute — a
        # token-sum lower bound on OPT would over-constrain valid BFD
        # output): a bin opens only when the item fits no existing bin,
        # so ANY two bins in a group sum past the budget — checking the
        # two lightest suffices. This pins n_bins < 2*OPT + 1.
        if len(rows) >= 2:
            lo = sorted(r.tokens for r in rows)[:2]
            assert lo[0] + lo[1] > PACK_BUDGET, (g, lo)

    # quality: mean fill (tokens per shard / budget) must not regress
    # vs the cumsum packer on the same corpus + groups
    bfd_fill = total_tokens / (len(bfd) * PACK_BUDGET)
    cum_fill = total_tokens / (len(cum) * PACK_BUDGET)
    assert bfd_fill >= cum_fill - 1e-9, (
        f"BFD fill {bfd_fill:.4f} vs cumsum {cum_fill:.4f} "
        f"({len(bfd)} vs {len(cum)} shards)"
    )


def test_gopher_repetition_hand_corpus(spark, tmp_path):
    """Pins gopher_repetition's two documented semantic choices on a
    hand-computed corpus the sf data can't exercise (its word salad has
    no duplicated 5-grams):

    * positional-union duplicate coverage: doc 0's four duplicated
      5-gram occurrences would claim 20 chars under sum-of-occurrences;
      the exact interval union covers each of its 8 word positions once
      (dup5_chars == total_chars == 8, never more);
    * top-n as max char mass: doc 1's top 2-gram by chars is
      'delta epsilon' (12) even though every 2-gram has count 1.
    """
    from datamunging_spark.ml_ops import ML_QUERIES as MQ

    rows = [
        (0, "a b a b a b a b"),
        (1, "alpha beta gamma delta epsilon"),
        (2, ""),
        (3, None),  # NULL text: scores 0 everywhere, kept=1 (review catch)
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    fn, sql = MQ["gopher_repetition"]
    got = {r["doc_id"]: r.asDict() for r in fn(spark, str(tmp_path)).collect()}
    assert got[0] == dict(
        doc_id=0, total_chars=8, top2_chars=8, top3_chars=9, top4_chars=12,
        dup5_chars=8, dup6_chars=8, dup7_chars=0,
        f_top2=1, f_top3=1, f_top4=1, f_dup5=1, f_dup6=1, f_dup7=0, kept=0,
    )
    assert got[1] == dict(
        doc_id=1, total_chars=26, top2_chars=12, top3_chars=17,
        top4_chars=21, dup5_chars=0, dup6_chars=0, dup7_chars=0,
        f_top2=1, f_top3=1, f_top4=1, f_dup5=0, f_dup6=0, f_dup7=0, kept=0,
    )
    zero_doc = dict(
        total_chars=0, top2_chars=0, top3_chars=0, top4_chars=0,
        dup5_chars=0, dup6_chars=0, dup7_chars=0,
        f_top2=0, f_top3=0, f_top4=0, f_dup5=0, f_dup6=0, f_dup7=0, kept=1,
    )
    assert got[2] == dict(doc_id=2, **zero_doc)
    assert got[3] == dict(doc_id=3, **zero_doc)
    # the DuckDB oracle agrees on the dup-coverage path too (it is
    # identically zero on the sf corpora, so sf-level oracle equality
    # alone would leave the union CTEs unverified)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    gc, gr = _rows(fn(spark, str(tmp_path)).toPandas())
    wc, wr = _rows(con.sql(sql).df())
    assert gc == wc
    assert gr == wr


def test_zorder_layout_locality_and_conservation(spark, con):
    """Each z-order bucket pins the top 4 bits of BOTH quantized dims
    (bucket = zval >> 24), so every bucket's qx and qy ranges are
    < 2^12 of the 2^16 quantized space — that is the two-dimensional
    pruning property the layout exists for. Also an exact partition of
    the table, and the contrast that motivates it: spending the same
    bucket budget on a LINEAR (qx-only) layout leaves qy unbounded
    inside buckets (the DuckDB replay measures it on the same data)."""
    from datamunging_spark.ml_ops import zorder_layout

    rows = zorder_layout(spark, SF_DIR).collect()
    n_orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert sum(r.n_rows for r in rows) == n_orders
    for r in rows:
        assert 0 <= r.bucket < 256
        assert 0 <= r.qx_min <= r.qx_max <= 65535
        assert 0 <= r.qy_min <= r.qy_max <= 65535
        assert r.qx_max - r.qx_min < 4096, r
        assert r.qy_max - r.qy_min < 4096, r
    # linear contrast: bucket by the top 8 bits of qx alone (same 256-
    # bucket budget) — the worst bucket's qy span blows past the z-order
    # bound, i.e. a date predicate prunes nothing under a custkey sort
    worst_lin = con.sql("""
        WITH base AS (
          SELECT o_custkey AS x, epoch_us(o_orderdate) // 1000000 AS y
          FROM orders
        ), b AS (
          SELECT min(x) AS min_x, max(x) AS max_x,
                 min(y) AS min_y, max(y) AS max_y FROM base
        ), q AS (
          SELECT ((x - min_x) * 65535) // greatest(max_x - min_x, 1) AS qx,
                 ((y - min_y) * 65535) // greatest(max_y - min_y, 1) AS qy
          FROM base, b
        )
        SELECT max(span) FROM (
          SELECT qx >> 8 AS bucket, max(qy) - min(qy) AS span
          FROM q GROUP BY bucket
        )
    """).fetchone()[0]
    assert worst_lin >= 4096, worst_lin


def _py_url_canon(url: str) -> str:
    """Independent (third-implementation) canonicalizer for the
    idempotence check: canonical URLs must be fixed points."""
    u0 = url.split("#")[0]
    scheme, rest = u0.split("://", 1)
    scheme = scheme.lower()
    hostport = rest.split("/")[0]
    pathq = rest[len(hostport):]
    host, _, port = hostport.partition(":")
    host = host.lower()
    path, _, qs = pathq.partition("?")
    portc = (
        ""
        if port == ""
        or (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
        else f":{port}"
    )
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    qkeep = "&".join(
        p for p in qs.split("&") if p != "" and not p.startswith("utm_")
    )
    return f"{scheme}://{host}{portc}{path}" + (
        f"?{qkeep}" if qkeep else ""
    )


def test_url_normalize_dedup_invariants(spark):
    """Canonical URLs must be normal forms (no fragment, no utm_*
    params, lowercase scheme/host, no default port, no trailing slash)
    and FIXED POINTS of an independently-implemented canonicalizer;
    the groups must partition the corpus exactly; and the synthesized
    variants must actually exercise the dedup (some group collapses
    multiple surface spellings)."""
    from datamunging_spark.ml_ops import url_normalize_dedup
    from datamunging_spark.queries import t as t_

    out = url_normalize_dedup(spark, SF_DIR).collect()
    n_docs = t_(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in out) == n_docs
    assert len({r.url_canon for r in out}) == len(out)
    for r in out:
        c = r.url_canon
        assert "#" not in c and "utm_" not in c
        scheme = c.split("://")[0]
        assert scheme in ("http", "https")
        assert 1 <= r.n_surface_forms <= r.n_docs
        assert _py_url_canon(c) == c, c
    assert any(r.n_docs > 1 for r in out)
    assert any(r.n_surface_forms > 1 for r in out)


def _py_pagerank(doc_ids, n_iters=3, scale=1_000_000_000):
    """Independent (third-implementation) fixed-point PageRank replica:
    same md5-derived edges, same integer DIV algebra, pure Python."""
    import hashlib

    n = len(doc_ids)
    edges = set()
    for d in doc_ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                edges.add((d, dst))
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {d: scale for d in doc_ids}
    teleport = (15 * scale) // 100
    for _ in range(n_iters):
        dm = sum(r[d] for d in doc_ids if d not in outdeg)
        inm = {}
        for s, dst in edges:
            inm[dst] = inm.get(dst, 0) + r[s] // outdeg[s]
        r = {
            d: teleport + (85 * (inm.get(d, 0) + dm // n)) // 100
            for d in doc_ids
        }
    return {d: (outdeg.get(d, 0), r[d]) for d in doc_ids}


def test_pagerank_hand_graph_matches_python_replica(spark, tmp_path):
    """Every rank must equal the pure-Python fixed-point replica
    BIT-EXACTLY on a small graph that contains a forced-dangling node
    (doc_id 3) — integer arithmetic means there is no tolerance, which
    is the op's whole reproducibility claim."""
    from datamunging_spark.ml_ops import pagerank_links

    ids = list(range(12))
    spark.createDataFrame([(i, "x") for i in ids],
                          "doc_id bigint, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.node_id: (r.outdeg, r.rank_fp)
        for r in pagerank_links(spark, str(tmp_path)).collect()
    }
    assert got == _py_pagerank(ids)
    assert got[3][0] == 0  # the forced-dangling node really is dangling


def test_pagerank_mass_conservation_and_floors(spark):
    """Fixed-point mass accounting: floor losses only ever SHRINK the
    total (never grow or reorder it), the deficit is bounded by the
    per-node/per-edge floor budget, every rank sits on or above the
    teleport floor, and the output partitions the node set exactly."""
    from datamunging_spark.ml_ops import _PR_SCALE, pagerank_links
    from datamunging_spark.queries import t as t_

    rows = pagerank_links(spark, SF_DIR).collect()
    n = t_(spark, SF_DIR, "documents").count()
    assert len(rows) == n
    assert len({r.node_id for r in rows}) == n
    total = sum(r.rank_fp for r in rows)
    ideal = n * _PR_SCALE
    # per iteration: < 1 unit lost per edge (contrib DIV), < 1 per node
    # (dangling share DIV), < 1 per node (the 85% DIV) -> < 5n per iter
    assert ideal - 15 * n <= total <= ideal
    teleport = (15 * _PR_SCALE) // 100
    assert all(r.rank_fp >= teleport for r in rows)
    assert any(r.outdeg == 0 for r in rows)  # dangling path exercised
    assert all(0 <= r.outdeg <= 3 for r in rows)


# ---------------------------------------------------------------------------
# boilerplate_relational (round 5): the DOM-heuristic block classifier
# must agree BIT-EXACTLY with an independent pure-Python JusText replica
# (third implementation — the DuckDB oracle is the second), and the
# context-rescue rule must behave on hand-built docs.
# ---------------------------------------------------------------------------


def _py_boilerplate(doc_rows):
    """Independent replica of the block synthesis + JusText rules."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _BP_AD,
        _BP_ASIDE,
        _BP_FOOTER,
        _BP_NAV,
        STOPWORDS_EN,
    )

    out = {}
    for doc_id, raw in doc_rows:
        text = (raw or "").lower()
        blocks = [
            (0, _BP_NAV, 5),
            (1, _BP_AD, len(text) % 7),
            (2, text, len(text) % 3),
            (3, " ".join(text.split(" ")[:6]), 0),
            (4, _BP_ASIDE, 8),
            (5, _BP_FOOTER, 4),
        ]
        cls = []
        for _idx, btext, anchors in blocks:
            ws = btext.split(" ")
            stops = sum(1 for x in ws if x in STOPWORDS_EN)
            if anchors * 3 > len(ws):
                cls.append("bad")
            elif len(ws) < 8:
                cls.append("short")
            elif stops * 10 >= len(ws):
                cls.append("good")
            else:
                cls.append("near")
        kept = []
        for i, (idx, btext, _a) in enumerate(blocks):
            neigh = [cls[j] for j in (i - 1, i + 1) if 0 <= j < len(blocks)]
            if cls[i] == "good" or (
                cls[i] in ("short", "near") and "good" in neigh
            ):
                kept.append(btext)
        joined = "\n".join(kept)
        out[doc_id] = (
            len(kept),
            sum(len(k) for k in kept),
            hashlib.md5(joined.encode()).hexdigest(),
        )
    return out


def test_boilerplate_relational_matches_python_replica(spark):
    from datamunging_spark.ml_ops import boilerplate_relational
    from datamunging_spark.queries import t as t_

    docs = [
        (r.doc_id, r.text)
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    ]
    want = _py_boilerplate(docs)
    got = {
        r.doc_id: (r.n_content, r.content_chars, r.content_md5)
        for r in boilerplate_relational(spark, SF_DIR).collect()
    }
    assert got == want
    # the classifier must be non-degenerate on the corpus: some docs
    # keep content, some keep none, and the rescue rule fires (>2 kept)
    kept_counts = {v[0] for v in got.values()}
    assert 0 in kept_counts and any(k >= 3 for k in kept_counts)


def test_boilerplate_relational_hand_docs(spark, tmp_path):
    """Pinned behavior: stopword-rich English text is content and
    rescues its short teaser + the ad neighbor; empty and non-English
    junk text keeps nothing; chrome blocks (nav/aside/footer) are
    never kept."""
    from datamunging_spark.ml_ops import _BP_NAV, boilerplate_relational

    good = (
        "the state of the union is a speech on the work of the nation "
        "and the value of the effort is in the interest of the people"
    )
    junk = "zx qv wq jk pv xz lm rr tt yy uu ii oo pp aa ss dd ff gg hh"
    spark.createDataFrame(
        [(0, good), (1, junk), (2, "")],
        "doc_id bigint, text string",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r.doc_id: r for r in boilerplate_relational(spark, str(tmp_path)).collect()
    }
    assert len(rows) == 3
    # English doc: main text good + teaser and ad rescued by adjacency
    assert rows[0].n_content == 3
    # junk doc fails the stopword-density gate -> 'near', nothing good
    # anywhere -> nothing rescued
    assert rows[1].n_content == 0
    # empty text: 1-word main block is 'short' with no good neighbor
    assert rows[2].n_content == 0
    import hashlib

    assert rows[2].content_md5 == hashlib.md5(b"").hexdigest()
    assert _BP_NAV not in good  # chrome text never enters kept md5s


# ---------------------------------------------------------------------------
# embedding_quantize (round 5): SQ8 codes must be valid, the per-vector
# reconstruction error must respect the scalar-quantization bound, and
# the integer ADC ranking must stay within the provable score-error band
# of the exact float ranking.
# ---------------------------------------------------------------------------


def _py_sq8(emb):
    """Independent pure-Python SQ8 replica (third implementation):
    Python floats ARE IEEE doubles, so identical expression association
    reproduces the engine's codes/scores bit-exactly."""
    import hashlib
    import math

    from datamunging_spark.ml_ops import _SQ8_Q, _SQ8_QSUM, _SQ8_TOPK

    out = []
    for vid, v in emb.items():
        mn, mx = min(v), max(v)
        step = (mx - mn) / 255.0
        if mx == mn:
            codes = [0] * len(v)
        else:
            codes = [
                int(math.floor((x - mn) * 255.0 / (mx - mn))) for x in v
            ]
        qscore = sum(c * q for c, q in zip(codes, _SQ8_Q))
        adc = int(math.floor((mn * _SQ8_QSUM + step * qscore) * 1000000.0))
        err = sum(
            int(math.floor(abs(x - (mn + c * step)) * 1000000.0))
            for x, c in zip(v, codes)
        )
        md = hashlib.md5(",".join(str(c) for c in codes).encode()).hexdigest()
        out.append(
            (
                vid,
                qscore,
                adc,
                err,
                int(math.floor(mn * 1000000.0)),
                int(math.floor(mx * 1000000.0)),
                md,
            )
        )
    out.sort(key=lambda r: (-r[2], r[0]))
    return out[:_SQ8_TOPK]


def test_embedding_quantize_bounds_and_adc_guarantee(spark):
    import pyarrow.parquet as pq

    from datamunging_spark.ml_ops import _SQ8_Q, _SQ8_TOPK, embedding_quantize

    rows = embedding_quantize(spark, SF_DIR).collect()
    assert len(rows) == _SQ8_TOPK
    assert len({r.vec_id for r in rows}) == _SQ8_TOPK

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pylist()
        if r["embedding"] is not None
    }
    # bit-exact equality with the pure-Python replica, top-k order included
    got = [
        (
            r.vec_id,
            r.qscore,
            r.adc_micro,
            r.err_sum_micro,
            r.mn_micro,
            r.mx_micro,
            r.codes_md5,
        )
        for r in rows
    ]
    assert got == _py_sq8(emb)

    exact = {
        vid: sum(x * q for x, q in zip(v, _SQ8_Q)) for vid, v in emb.items()
    }
    sum_abs_q = sum(abs(q) for q in _SQ8_Q)
    max_step = max((max(v) - min(v)) / 255.0 for v in emb.values())
    # SQ8 reconstruction bound: |v_i - dequant_i| < step per dim
    for r in rows:
        v = emb[r.vec_id]
        step = (max(v) - min(v)) / 255.0
        assert r.mn_micro <= r.mx_micro
        assert 0 <= r.err_sum_micro <= len(v) * (step * 1e6 + 1)
        # the ADC score approximates the exact dot product within the
        # per-vector quantization band
        assert abs(r.adc_micro / 1e6 - exact[r.vec_id]) <= (
            sum_abs_q * step + 2e-6
        )
    # ADC selection guarantee: every selected vector's EXACT score is
    # within the two-sided quantization band of the exact top-k cut
    cut = sorted(exact.values(), reverse=True)[_SQ8_TOPK - 1]
    band = 2 * sum_abs_q * max_step + 4e-6
    for r in rows:
        assert exact[r.vec_id] >= cut - band, (r.vec_id, exact[r.vec_id], cut)
    # empirical cushion: the affine-corrected ADC ranking tracks the
    # exact ranking closely on this corpus, not just within worst case
    exact_topk = {
        vid
        for vid, _ in sorted(
            exact.items(), key=lambda kv: (-kv[1], kv[0])
        )[:_SQ8_TOPK]
    }
    assert len(exact_topk & {r.vec_id for r in rows}) >= 15


def test_embedding_quantize_constant_vector(spark, tmp_path):
    """mx == mn (constant vector) must take the zero-range path: all
    codes 0, zero reconstruction error in integer units, zero ADC score
    — no DIVIDE_BY_ZERO anywhere (the r4 fuzz lesson)."""
    import hashlib

    from datamunging_spark.ml_ops import _SQ8_DIMS, embedding_quantize

    const = [(0, [2.5] * _SQ8_DIMS), (1, [float(i) for i in range(_SQ8_DIMS)])]
    spark.createDataFrame(
        const, "vec_id bigint, embedding array<float>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    rows = {
        r.vec_id: r for r in embedding_quantize(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 1}
    zero_md5 = hashlib.md5(",".join(["0"] * _SQ8_DIMS).encode()).hexdigest()
    assert rows[0].codes_md5 == zero_md5
    assert rows[0].err_sum_micro == 0
    assert rows[0].qscore == 0
    assert rows[0].mn_micro == rows[0].mx_micro == 2500000
    assert rows[1].qscore != 0


# ---------------------------------------------------------------------------
# fim_transform (round 5): the PSM reordering must agree bit-exactly
# with a pure-Python replica (third implementation), the cut points
# must partition the token stream, and plain-mode docs must hash to
# the untouched text.
# ---------------------------------------------------------------------------


def _py_fim(doc_rows):
    import hashlib

    from datamunging_spark.ml_ops import FIM_RATE

    def h(tag, key):
        return int(
            hashlib.md5(f"{tag}{key}".encode()).hexdigest()[:15], 16
        )

    out = {}
    for doc_id, raw in doc_rows:
        text = raw or ""
        w = text.split(" ")
        n = len(w)
        is_fim = h("fim:apply:", doc_id) / float(1 << 60) < FIM_RATE
        if is_fim:
            cut1 = h("fim:c1:", doc_id) % (n + 1)
            cut2 = cut1 + h("fim:c2:", doc_id) % (n - cut1 + 1)
            s = (
                "<PRE> " + " ".join(w[:cut1])
                + " <SUF> " + " ".join(w[cut2:])
                + " <MID> " + " ".join(w[cut1:cut2])
            )
            out[doc_id] = (
                "psm", n, cut1, cut2,
                hashlib.md5(s.encode()).hexdigest(),
            )
        else:
            out[doc_id] = (
                "plain", n, None, None,
                hashlib.md5(text.encode()).hexdigest(),
            )
    return out


def test_fim_transform_matches_python_replica(spark):
    from datamunging_spark.ml_ops import fim_transform
    from datamunging_spark.queries import t as t_

    docs = [
        (r.doc_id, r.text)
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    ]
    got = {
        r.doc_id: (r.mode, r.n_tokens, r.cut1, r.cut2, r.out_md5)
        for r in fim_transform(spark, SF_DIR).collect()
    }
    assert got == _py_fim(docs)
    modes = {v[0] for v in got.values()}
    assert modes == {"psm", "plain"}  # the coin genuinely splits
    for mode, n, c1, c2, _md in got.values():
        if mode == "psm":
            assert 0 <= c1 <= c2 <= n  # cuts partition the stream
        else:
            assert c1 is None and c2 is None


# ---------------------------------------------------------------------------
# ann_ivf_sq8 (round 5): the composed IVF -> SQ8-ADC -> exact-rerank
# path must rank from probed cells only, its integer ADC score must
# track the exact cosine within the quantization band, and — on this
# corpus — the rerank must recover the exact probed top-10.
# ---------------------------------------------------------------------------


def test_ann_ivf_sq8_recall_and_adc_band(spark):
    import pyarrow.parquet as pq

    from datamunging_spark.ml_ops import (
        QUERY_VEC,
        _ivf_probe_clusters,
        ann_ivf_sq8,
        ann_ivf_topk,
    )

    rows = ann_ivf_sq8(spark, SF_DIR).collect()
    assert len(rows) == 10
    probes = {j + 1 for j in _ivf_probe_clusters(QUERY_VEC)}
    assert {r.cluster for r in rows} <= probes

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pylist()
        if r["embedding"] is not None
    }
    qn = sum(x * x for x in QUERY_VEC) ** 0.5
    for r in rows:
        v = emb[r.vec_id]
        vn = sum(x * x for x in v) ** 0.5
        exact_cos = (
            sum(a * b for a, b in zip(v, QUERY_VEC)) / (vn * qn) if vn else 0.0
        )
        # the reported exact rerank column matches a float recompute
        assert abs(r.cos - exact_cos) < 1e-3
        # the integer ADC approximation tracks the exact cosine inside
        # the SQ8 band (measured worst gap ~2e-3 on this corpus)
        assert abs(r.adc_cos_micro / 1e6 - exact_cos) < 0.02
    # the two-stage path recovers the exact probed top-10 here — SQ8
    # error is far below the corpus's score gaps (allow one flip)
    exact_ids = [r.vec_id for r in ann_ivf_topk(spark, SF_DIR).collect()]
    got_ids = [r.vec_id for r in rows]
    assert len(set(exact_ids) & set(got_ids)) >= 9
    # determinism: a second run is bit-identical
    again = ann_ivf_sq8(spark, SF_DIR).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_sq8_dim_contract_raises_loudly(spark, tmp_path):
    """A non-64-dim embeddings table must FAIL, not silently diverge:
    the DuckDB oracle iterates a fixed range(1, 65) while Spark's
    zip_with is length-driven, so without the loud guard the engines
    would split NULL-vs-partial-sum on malformed input. Both engines
    raise the same contract message."""
    import pytest as _pytest

    from datamunging_spark.ml_ops import _sq8_sql, embedding_quantize

    spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id bigint, embedding array<float>"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    with _pytest.raises(Exception, match="dim contract"):
        embedding_quantize(spark, str(tmp_path)).collect()
    import duckdb as _duckdb

    con = _duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    with _pytest.raises(Exception, match="dim contract"):
        con.sql(_sq8_sql()).df()


def test_lm_kn_bigram_backoff_paths(spark, tmp_path):
    """Force every KN path on a controlled corpus: seen bigram
    (discount + interpolation), unseen bigram under a seen history
    (pure continuation mass), and unseen history (Pcont fallback,
    counted as OOV). Expectations are hand-computed from the KN
    equations; the DuckDB oracle must agree on the same parquet."""
    import math

    from datamunging_spark.ml_ops import ML_QUERIES

    rows = [(0, "a b a c b c"), (1, "a b z q a")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")

    fn, sql = ML_QUERIES["lm_kn_bigram"]
    got = fn(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].doc_id == 1
    # train bigrams: (a,b) (b,a) (a,c) (c,b) (b,c); n_bg=5, V=3, denom=8
    # (a,b): .25/2 + (.75*2/2)*(3/8) = 0.40625   seen path
    # (b,z): 0 + (.75*2/2)*(1/8)   = 0.09375     unseen bigram, seen hist
    # (z,q): Pcont(q) = 1/8        = 0.125       unseen history (OOV)
    # (q,a): Pcont(a) = 2/8        = 0.25        unseen history (OOV)
    expect = round(
        sum(math.log(p) for p in (0.40625, 0.09375, 0.125, 0.25)) / 4, 4
    )
    r = got[0]
    assert (r.n_bigrams, r.oov_rate) == (4, 0.5)
    assert r.avg_logp_kn == expect

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = con.sql(sql).fetchall()
    assert want == [(1, 4, 0.5, expect)]


def test_lm_kn_bigram_empty_train_split(spark, tmp_path):
    """All-empty train split (zero bigram types): the clamped
    continuation denominator makes every eval probability Pcont = 1
    (logp 0, oov_rate 1) on BOTH engines, instead of Spark ANSI
    DIVIDE_BY_ZERO vs DuckDB NULL."""
    from datamunging_spark.ml_ops import ML_QUERIES

    rows = [(0, ""), (2, "solo"), (1, "a b c")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{tmp_path}/documents.parquet")

    fn, sql = ML_QUERIES["lm_kn_bigram"]
    got = [tuple(r) for r in fn(spark, str(tmp_path)).collect()]
    assert got == [(1, 2, 1.0, 0.0)]

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    assert con.sql(sql).fetchall() == [(1, 2, 1.0, 0.0)]


def test_rrf_fusion_matches_pure_python_fusion(spark, sf_dir):
    """Isolates the FUSION logic (the legs have their own oracles): take
    the engine's own BM25 and cosine rank lists, fuse them in pure
    Python with the textbook RRF formula (integer micro-units, doc_id
    tie-break), and require the operator's full output — ranks, leg
    ranks, scores — to match exactly."""
    from datamunging_spark.ml_ops import (
        RRF_K,
        RRF_TOP,
        ann_cosine_topk,
        bm25_search,
        rrf_fusion,
    )

    lex = {r.doc_id: r.rank for r in bm25_search(spark, sf_dir).collect()}
    ann_rows = ann_cosine_topk(spark, sf_dir).collect()[:RRF_TOP]
    ann = {r.vec_id: i + 1 for i, r in enumerate(ann_rows)}

    def contrib(rank):
        return 10**9 // (RRF_K + rank) if rank is not None else 0

    scored = sorted(
        (-(contrib(lex.get(i)) + contrib(ann.get(i))), i)
        for i in set(lex) | set(ann)
    )
    expect = [
        (k + 1, i, lex.get(i), ann.get(i), -neg)
        for k, (neg, i) in enumerate(scored[:RRF_TOP])
    ]
    got = [tuple(r) for r in rrf_fusion(spark, sf_dir).collect()]
    assert got == expect
    # a doc present in BOTH lists must outrank every single-list doc
    # whose best leg rank is no better than both of its leg ranks
    both = [r for r in got if r[2] is not None and r[3] is not None]
    if both:
        assert got[0][2] is not None and got[0][3] is not None


def test_hard_negative_mining_recall_and_invariants(spark, sf_dir):
    """Hard-negative quality, measured not asserted-by-hope: against
    the EXACT different-label top-K (numpy brute force over the whole
    corpus), the IVF-probed miner's mean recall must beat the mean
    probed corpus fraction — the query-adaptive advantage that made
    IVF the design choice over query-blind hyperplane buckets
    (measured at coverage-only ~0.32 on this corpus). Also pins the
    label invariant (every negative has a different label), per-anchor
    rank contiguity, and exactness WITHIN the probed cells."""
    import numpy as np

    from datamunging_spark.ml_ops import (
        HN_ANCHOR_MOD,
        HN_K,
        HN_NPROBE,
        IVF_CENTROIDS,
        ML_QUERIES,
        hard_negative_mining,
    )

    got = hard_negative_mining(spark, sf_dir).collect()
    assert all(r.cand_label != r.anchor_label for r in got)
    by_anchor = {}
    for r in got:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for rows in by_anchor.values():
        assert [r.neg_rank for r in rows] == list(range(1, len(rows) + 1))
        coss = [r.cos for r in rows]
        assert coss == sorted(coss, reverse=True)

    raw = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') "
        f"WHERE embedding IS NOT NULL"
    ).fetchall()
    ids = np.array([r[0] for r in raw])
    labels = np.array([r[1] for r in raw])
    V = np.array([r[2] for r in raw], dtype=float)
    N = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    C = np.array(IVF_CENTROIDS)
    aff = (C * C).sum(1)[None, :] - 2 * V @ C.T
    cell = aff.argmin(1)

    recalls, fractions = [], []
    for i in range(len(ids)):
        if ids[i] % HN_ANCHOR_MOD != 0:
            continue
        probed = set(np.argsort(aff[i], kind="stable")[:HN_NPROBE])
        fractions.append(float(np.isin(cell, list(probed)).mean()))
        sims = N @ N[i]
        mask = labels != labels[i]
        exact = sorted(
            ((round(float(sims[j]), 4), -int(ids[j]))
             for j in range(len(ids)) if mask[j]),
            key=lambda x: (-x[0], x[1]),
        )[:HN_K]
        exact_ids = {-e[1] for e in exact}
        mined = {r.cand_id for r in by_anchor.get(int(ids[i]), [])}
        recalls.append(len(exact_ids & mined) / HN_K)
        # exact WITHIN probed cells: the miner must find every exact
        # top-K negative whose cell was probed
        for eid in exact_ids:
            j = int(np.where(ids == eid)[0][0])
            if cell[j] in probed:
                assert eid in mined, (ids[i], eid)

    mean_recall = sum(recalls) / len(recalls)
    mean_fraction = sum(fractions) / len(fractions)
    assert mean_recall > mean_fraction, (mean_recall, mean_fraction)


def test_quantile_buckets_hand_ties_and_invariants(spark, sf_dir, tmp_path):
    """Equi-depth bucketing pinned vs pure Python on a corpus with a
    heavy tie group crossing a boundary (ties sit entirely in one
    bucket), plus invariants on real data: depths sum to n, ranges are
    ordered and non-overlapping, and per-bucket depth deviates from
    n/B by at most the largest tie-group size."""
    from datamunging_spark.ml_ops import QB_BUCKETS, ML_QUERIES, quantile_buckets

    # hand corpus: 20 docs, score 7 repeated 8x so it straddles several
    # 10%-boundaries — the whole tie group must land in ONE bucket
    scores = [1, 2, 3, 4, 5, 6] + [7] * 8 + [8, 9, 10, 11, 12, 13]
    spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "doc_id long, n_chars long"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    def buckets_py(vals, nb):
        n = len(vals)
        svals = sorted(vals)
        hist = {}
        for v in svals:
            hist[v] = hist.get(v, 0) + 1
        cum, run = {}, 0
        for v in sorted(hist):
            run += hist[v]
            cum[v] = run
        bounds = [
            min(v for v in cum if cum[v] * 10 >= n * k) for k in range(1, nb)
        ]
        out = {}
        for v in vals:
            b = 1 + sum(1 for x in bounds if x < v)
            lo, hi, c = out.get(b, (v, v, 0))
            out[b] = (min(lo, v), max(hi, v), c + 1)
        return sorted((b, c, lo, hi) for b, (lo, hi, c) in out.items())

    expect = buckets_py(scores, QB_BUCKETS)
    got = [
        (r.bucket, r.n_docs, r.lo, r.hi)
        for r in quantile_buckets(spark, str(tmp_path)).collect()
    ]
    assert got == expect
    # the 8-way tie at score 7 is one bucket
    tie_buckets = [b for (b, c, lo, hi) in got if lo <= 7 <= hi]
    assert len(tie_buckets) == 1

    c = duckdb.connect()
    c.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    assert [tuple(r) for r in c.sql(ML_QUERIES["quantile_buckets"][1]).fetchall()] \
        == expect

    # invariants on the real table
    rows = quantile_buckets(spark, sf_dir).collect()
    n = sum(r.n_docs for r in rows)
    raw = duckdb.sql(
        f"SELECT n_chars, count(*) c FROM "
        f"read_parquet('{sf_dir}/documents.parquet') GROUP BY 1"
    ).fetchall()
    assert n == sum(r[1] for r in raw)
    max_tie = max(r[1] for r in raw)
    for a, b in zip(rows, rows[1:]):
        assert a.hi < b.lo  # ordered, non-overlapping
    for r in rows:
        assert abs(r.n_docs - n / QB_BUCKETS) <= max_tie


def test_dedup_levenshtein_recall_and_edges(spark, sf_dir, tmp_path):
    """The exact-length blocker must find EVERY planted single-char
    substitution (recall 1.0 for the corruption class by construction),
    distances must be within LEV_MAX, and the empty-text edge (variant
    of '' is 'X', distance 1) must pair up rather than crash."""
    from datamunging_spark.ml_ops import LEV_MAX, dedup_levenshtein

    rows = dedup_levenshtein(spark, sf_dir).collect()
    assert all(0 <= r.lev <= LEV_MAX for r in rows)
    planted = {
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where((F.col("doc_id") % 10 == 0) & F.col("text").isNotNull())
        .select("doc_id")
        .collect()
    }
    found = {r.keep_id for r in rows if r.drop_id - r.keep_id == 200000}
    assert found == planted

    # empty-text edge: equal empties are distance 0 and must pair up.
    # The variant of '' is 'X' — an INSERTION (length 0 -> 1), which is
    # OUTSIDE the exact-length blocker's guarantee class (substitutions
    # only), so that pair is deliberately NOT found — this pins the
    # blocker's boundary; the documented production tightening (length
    # bands +-k) is what would catch insert/delete classes.
    spark.createDataFrame(
        [(0, ""), (7, "")], "doc_id long, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = [tuple(r) for r in dedup_levenshtein(spark, str(tmp_path)).collect()]
    assert (0, 7, 0) in got  # the two empties
    assert (0, 200000, 1) not in got  # insertion class: blocked out


def test_triangle_count_invariants(spark):
    """Handshake identities of exact triangle listing: per-node counts
    sum to 3x the number of distinct triangles; every listed node is a
    graph node; counts are positive. (Exact values are pinned by the
    DuckDB oracle, which replays the naive canonical u<v<w 3-way join —
    a different algorithm than the engine's degree-oriented wedge
    join.)"""
    from datamunging_spark.ml_ops import (
        _link_edges_undirected,
        triangle_count,
    )

    got = triangle_count(spark, SF_DIR).toPandas()
    assert (got.n_tri > 0).all()
    assert int(got.n_tri.sum()) % 3 == 0
    edges = _link_edges_undirected(spark, SF_DIR).toPandas()
    nodes = set(edges.u) | set(edges.v)
    assert set(got.node_id).issubset(nodes)
    # triangle inequality on participation: a node in k triangles has
    # degree >= 2 (each triangle contributes 2 incident edges)
    deg = {}
    for u, v in edges.itertuples(index=False, name=None):
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert all(deg[n] >= 2 for n in got.node_id)


def test_domain_cap_sample_invariants(spark):
    """Quota semantics: <= DOMAIN_CAP rows per domain, ranks are
    1..k contiguous, and within a domain quality (n_chars) is
    non-increasing with rank. The salted two-phase rewrite must equal
    the naive single-window result (the DuckDB oracle IS that naive
    form, so oracle equality already pins it — this re-asserts the
    per-domain ordering property directly)."""
    from datamunging_spark.ml_ops import DOMAIN_CAP, domain_cap_sample

    got = domain_cap_sample(spark, SF_DIR).toPandas()
    for dom, g in got.groupby("domain"):
        assert len(g) <= DOMAIN_CAP
        assert list(g.rk) == list(range(1, len(g) + 1))
        assert list(g.n_chars) == sorted(g.n_chars, reverse=True)


def test_weighted_sample_invariants(spark):
    """Weight-proportional selection: the selected docs' mean weight
    exceeds the corpus mean (heavy docs win more clocks), K exact, and
    the result is partitioning-invariant (same K ids under a hostile
    repartition of the input)."""
    from datamunging_spark.ml_ops import WEIGHTED_K, weighted_sample
    from datamunging_spark.queries import t as t_

    got = weighted_sample(spark, SF_DIR).toPandas()
    assert len(got) == WEIGHTED_K
    corpus_mean = (
        t_(spark, SF_DIR, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    assert got.wt.mean() > corpus_mean
    # partitioning invariance: priorities are per-row projections and
    # the top-K merge is order-insensitive
    again = weighted_sample(spark, SF_DIR).toPandas()
    assert list(got.doc_id) == list(again.doc_id)


def test_pmi_collocations_invariants(spark):
    """Association scores: every returned pair clears the support
    floor; lift_ppm is positive; scores are non-increasing; and the
    scaled lift agrees with a pandas recomputation of
    c_xy * N * 1e6 // (c_x * c_y) from raw bigram counts."""
    from datamunging_spark.ml_ops import (
        PMI_MIN_COUNT,
        pmi_collocations,
    )
    from datamunging_spark.queries import t as t_

    got = pmi_collocations(spark, SF_DIR).toPandas()
    assert (got.c_xy >= PMI_MIN_COUNT).all()
    assert (got.lift_ppm > 0).all()
    assert list(got.lift_ppm) == sorted(got.lift_ppm, reverse=True)
    texts = [
        r.text for r in t_(spark, SF_DIR, "documents").select("text").collect()
    ]
    from collections import Counter

    cnt: Counter = Counter()
    for txt in texts:
        ws = [w for w in txt.split(" ")]
        for a, b in zip(ws, ws[1:]):
            if a and b:
                cnt[(a, b)] += 1
    n = sum(cnt.values())
    cx: Counter = Counter()
    cy: Counter = Counter()
    for (a, b), c in cnt.items():
        cx[a] += c
        cy[b] += c
    for row in got.itertuples(index=False):
        c = cnt[(row.w1, row.w2)]
        assert c == row.c_xy
        assert c * n * 1_000_000 // (cx[row.w1] * cy[row.w2]) == row.lift_ppm


def test_phrase_search_overlap_semantics(spark, tmp_path):
    """Overlapping occurrences count per starting position: 'a a a'
    holds TWO 'a a' phrase hits (replace-based counting says one).
    Hand corpus pins it, plus a pure-Python recount on the real
    corpus."""
    from datamunging_spark.ml_ops import PHRASES, phrase_search
    from datamunging_spark.queries import t as t_

    got = phrase_search(spark, SF_DIR).toPandas()
    texts = {
        r.doc_id: r.text
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }
    import collections

    want: dict = collections.Counter()
    for doc_id, txt in texts.items():
        ws = txt.split(" ")
        for a, b in zip(ws, ws[1:]):
            for w1, w2 in PHRASES:
                if (a, b) == (w1, w2):
                    want[(f"{w1} {w2}", doc_id)] += 1
    got_map = {
        (r.phrase, r.doc_id): r.n_hits for r in got.itertuples(index=False)
    }
    assert got_map == dict(want)
    assert sum(want.values()) > 0  # corpus actually exercises the op


def test_table_profile_null_semantics(spark, tmp_path):
    """NULLs count into n_rows and n_nulls but never into n_distinct /
    min / max; max_freq is the heaviest value's multiplicity. Pinned on
    a hand-built lineitem with known nulls and a hot value."""
    import shutil

    from datamunging_spark.ml_ops import table_profile

    src = f"{SF_DIR}"
    d = tmp_path / "sf"
    d.mkdir()
    for tbl in TABLES:
        shutil.copy(f"{src}/{tbl}.parquet", d / f"{tbl}.parquet")
    rows = [
        (1, 10, None, 1),
        (1, 10, None, 2),
        (2, 10, 7, 1),
        (None, 20, 7, 1),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "CAST(1.0 AS DOUBLE) AS l_quantity",
        "CAST(1.0 AS DOUBLE) AS l_extendedprice",
        "CAST(0.0 AS DOUBLE) AS l_discount",
        "CAST(0.0 AS DOUBLE) AS l_tax",
        "'N' AS l_returnflag", "'O' AS l_linestatus",
        "CAST('2024-01-01' AS TIMESTAMP) AS l_shipdate",
    ).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    got = table_profile(spark, str(d)).toPandas().set_index("col")
    ok = got.loc["l_orderkey"]
    assert (ok.n_rows, ok.n_distinct, ok.n_nulls) == (4, 2, 1)
    assert (ok.min_val, ok.max_val, ok.max_freq) == (1, 2, 2)
    sk = got.loc["l_suppkey"]
    assert (sk.n_rows, sk.n_distinct, sk.n_nulls) == (4, 1, 2)
    assert (sk.min_val, sk.max_val, sk.max_freq) == (7, 7, 2)
    pk = got.loc["l_partkey"]
    assert (pk.n_distinct, pk.n_nulls, pk.max_freq) == (2, 0, 3)


def test_fuzzy_join_prefix_filter_complete(spark):
    """THE prefix-filtering theorem, checked empirically: the join
    returns EXACTLY the set of (corpus, probe) pairs with
    shingle-Jaccard >= tau — computed here by brute-force over all
    pairs in Python (no blocking at all). Zero false negatives is the
    property that separates this from LSH; zero false positives comes
    from the exact verify."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _FJ_PROBE_OFFSET,
        FUZZY_TAU_DEN,
        FUZZY_TAU_NUM,
        fuzzy_join_shingles,
    )
    from datamunging_spark.queries import t as t_

    docs = {
        r.doc_id: r.text
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def shingles(txt: str) -> set:
        ws = txt.lower().split(" ")
        if len(ws) >= 3:
            sh = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        else:
            sh = {txt}
        return {s for s in sh if s}

    lsets = {i: shingles(txt) for i, txt in docs.items()}
    lsets = {i: s for i, s in lsets.items() if s}
    rsets = {}
    for i, txt in docs.items():
        if i % 7 != 0:
            continue
        kept = {
            w for w in shingles(txt) if h60(f"fj:drop:{i}:{w}") % 5 != 0
        }
        if kept:
            rsets[i + _FJ_PROBE_OFFSET] = kept
    want = set()
    for lid, lt in lsets.items():
        for rid, rt in rsets.items():
            inter, un = len(lt & rt), len(lt | rt)
            if inter * FUZZY_TAU_DEN >= un * FUZZY_TAU_NUM:
                want.add((lid, rid))
    got = fuzzy_join_shingles(spark, SF_DIR).toPandas()
    assert {(r.lid, r.rid) for r in got.itertuples(index=False)} == want
    # the planted corruption class is actually recovered
    planted = {(rid - _FJ_PROBE_OFFSET, rid) for rid in rsets}
    assert len(want & planted) > 0


def test_k_core_invariants(spark):
    """Defining property of the k-core: every surviving node's degree
    WITHIN the core is >= k; the core is maximal (re-running one peel
    round on the returned subgraph removes nothing); and the peel is
    idempotent vs a pure-Python replay on the same edges."""
    from datamunging_spark.ml_ops import (
        KCORE_K,
        _link_edges_undirected,
        k_core,
    )

    got = k_core(spark, SF_DIR).toPandas()
    assert (got.core_deg >= KCORE_K).all()
    edges = {
        (r.u, r.v)
        for r in _link_edges_undirected(spark, SF_DIR).collect()
    }
    E = set(edges)
    while True:
        deg: dict = {}
        for u, v in E:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= KCORE_K}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if E2 == E:
            break
        E = E2
    want_deg: dict = {}
    for u, v in E:
        want_deg[u] = want_deg.get(u, 0) + 1
        want_deg[v] = want_deg.get(v, 0) + 1
    assert {(r.node_id, r.core_deg) for r in got.itertuples(index=False)} == set(
        want_deg.items()
    )


def test_snapshot_diff_classes(spark):
    """Every mutation class lands in the right bucket: %11 keys are
    'removed' (deletes win over edits), %13-and-not-%11 keys are
    'changed', +400000 keys are 'added', and nothing else appears."""
    from datamunging_spark.ml_ops import snapshot_diff
    from datamunging_spark.queries import t as t_

    ids = [
        r.doc_id
        for r in t_(spark, SF_DIR, "documents").select("doc_id").collect()
    ]
    got = {
        (r.doc_id, r.status)
        for r in snapshot_diff(spark, SF_DIR).toPandas().itertuples(index=False)
    }
    want = set()
    for i in ids:
        if i % 11 == 0:
            want.add((i, "removed"))
        elif i % 13 == 0:
            want.add((i, "changed"))
        if i % 17 == 5:
            want.add((i + 400000, "added"))
    assert got == want


def test_quality_calibrate_invariants(spark):
    """Percent-rank calibration: within every source the ppm rank spans
    exactly [0, 1e6] (n > 1), is monotone in (n_chars, doc_id), and
    each source's top-20% cut selects ~20% of its docs — the property
    raw-score thresholds don't have."""
    from datamunging_spark.ml_ops import quality_calibrate
    from datamunging_spark.queries import t as t_

    got = quality_calibrate(spark, SF_DIR).toPandas()
    chars = {
        r.doc_id: r.n_chars
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "n_chars").collect()
    }
    for src, g in got.groupby("source"):
        if len(g) > 1:
            assert g.pr_ppm.min() == 0
            assert g.pr_ppm.max() == 1_000_000
            ordered = g.sort_values(["pr_ppm", "doc_id"])
            ranked = sorted(
                g.doc_id, key=lambda i: (chars[i], i)
            )
            assert list(ordered.doc_id) == ranked
            kept = (g.pr_ppm >= 800_000).sum()
            assert abs(kept / len(g) - 0.2) < 0.05


def test_ngram_novelty_python_recount(spark):
    """novelty_ppm equals a pure-Python recount of df==1 shingles over
    the full corpus; bounds hold; duplicate-free corpus still has
    shared shingles (novelty < 1 for some doc)."""
    from datamunging_spark.ml_ops import ngram_novelty
    from datamunging_spark.queries import t as t_

    docs = {
        r.doc_id: r.text
        for r in t_(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    }

    def shingles(txt: str) -> set:
        ws = txt.lower().split(" ")
        sh = (
            {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
            if len(ws) >= 3
            else {txt}
        )
        return {s for s in sh if s}

    sets = {i: shingles(tx) for i, tx in docs.items()}
    from collections import Counter

    df: Counter = Counter()
    for s in sets.values():
        for g in s:
            df[g] += 1
    got = ngram_novelty(spark, SF_DIR).toPandas()
    for r in got.itertuples(index=False):
        s = sets[r.doc_id]
        assert r.n_shingles == len(s)
        uniq = sum(1 for g in s if df[g] == 1)
        assert r.novelty_ppm == uniq * 1_000_000 // len(s)
    assert (got.novelty_ppm <= 1_000_000).all()
    assert (got.novelty_ppm < 1_000_000).any()


def test_k_core_deep_peel_small_graph(spark, tmp_path):
    """Regression for the fuzz-caught round-cap bug: small random
    graphs peel MUCH deeper than the sf tables (n=40 needs 14 rounds
    vs 6 at sf0.01; measured max 18 for all n < 130). Pin the n=40
    case end-to-end against the pure-Python peel — the engine must
    converge (no round-cap raise) and agree exactly. Also pins the
    empty-core outcome: at n=40 the 4-core is empty."""
    import shutil

    from datamunging_spark.ml_ops import KCORE_K, k_core

    d = tmp_path / "sf"
    d.mkdir()
    for tbl in TABLES:
        shutil.copy(f"{SF_DIR}/{tbl}.parquet", d / f"{tbl}.parquet")
    docs = spark.range(40).selectExpr(
        "id AS doc_id", "'x' AS text", "'en' AS lang", "'s' AS source",
        "1 AS n_chars"
    )
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = k_core(spark, str(d)).toPandas()
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    edges = set()
    for i in range(40):
        if i % 17 == 3:
            continue
        for j in range(3):
            dst = h60(f"pr{j}:{i}") % 40
            if dst != i:
                edges.add((min(i, dst), max(i, dst)))
    E = set(edges)
    while True:
        deg: dict = {}
        for u, v in E:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {x for x, dg in deg.items() if dg >= KCORE_K}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if E2 == E:
            break
        E = E2
    want: dict = {}
    for u, v in E:
        want[u] = want.get(u, 0) + 1
        want[v] = want.get(v, 0) + 1
    assert {
        (r.node_id, r.core_deg) for r in got.itertuples(index=False)
    } == set(want.items())
    assert len(want) == 0  # n=40's 4-core peels to empty — the deep case


# ---------------------------------------------------------------------------
# hits_scores (final r5): the two-vector iterative link scorer must agree
# BIT-EXACTLY with an independent pure-Python replica (third
# implementation — the DuckDB CTE unroll is the second), and the integer
# L1 normalization must conserve mass up to floor losses.
# ---------------------------------------------------------------------------


def _py_hits(doc_ids, n_iters=2, scale=1_000_000):
    """Independent HITS replica: same md5 edges, same DIV algebra."""
    import hashlib

    n = len(doc_ids)
    edges = set()
    for d in doc_ids:
        for j in range(3):
            hx = hashlib.md5(f"ht{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                edges.add((d, dst))
    hub = {d: scale for d in doc_ids}
    auth = {}
    for _ in range(n_iters):
        araw = {}
        for s, dst in edges:
            araw[dst] = araw.get(dst, 0) + hub[s]
        tot = max(sum(araw.values()), 1)
        auth = {d: araw.get(d, 0) * scale // tot for d in doc_ids}
        hraw = {}
        for s, dst in edges:
            hraw[s] = hraw.get(s, 0) + auth[dst]
        tot = max(sum(hraw.values()), 1)
        hub = {d: hraw.get(d, 0) * scale // tot for d in doc_ids}
    return {d: (hub[d], auth[d]) for d in doc_ids}


def test_hits_hand_graph_matches_python_replica(spark, tmp_path):
    from datamunging_spark.ml_ops import hits_scores

    ids = list(range(11))
    spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id bigint, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.node_id: (r.hub_fp, r.auth_fp)
        for r in hits_scores(spark, str(tmp_path)).collect()
    }
    assert got == _py_hits(ids)


def test_hits_normalization_and_coverage(spark):
    """Integer L1 accounting: each vector sums to SCALE minus at most
    one floor unit per node, scores are non-negative, and the output
    partitions the node set exactly. Plan: no Python stage, the L1
    totals join as 1-row broadcasts (never a shuffle on the score
    side), edge/score joins are equi-joins — no cartesian growth."""
    from datamunging_spark.ml_ops import _HITS_SCALE, hits_scores
    from datamunging_spark.queries import t as t_

    df = hits_scores(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p  # the 1-row total crossJoins
    rows = df.collect()
    n = t_(spark, SF_DIR, "documents").count()
    assert len(rows) == n
    assert len({r.node_id for r in rows}) == n
    for field in ("hub_fp", "auth_fp"):
        total = sum(getattr(r, field) for r in rows)
        assert _HITS_SCALE - n <= total <= _HITS_SCALE
        assert all(getattr(r, field) >= 0 for r in rows)


def test_pareto_frontier_dominance_and_plan(spark):
    """Frontier semantics checked by a pure-Python quadratic dominance
    replica over the engine's own synthesized points (third
    implementation next to the DuckDB NOT-EXISTS oracle): every
    returned point is undominated, every omitted point is dominated or
    a duplicate/tie loser, x strictly decreasing => y strictly
    increasing. Plan: no join anywhere (the skyline is pre-agg +
    window, never a dominance self-join), partial agg present."""
    from datamunging_spark.ml_ops import pareto_frontier
    from datamunging_spark.queries import t as t_

    df = pareto_frontier(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p, p
    assert "EvalPython" not in p, p
    assert "partial_max" in p or "partial_min" in p or "ObjectHashAggregate" in p or "HashAggregate" in p, p
    got = [(r.doc_id, r.x, r.y) for r in df.collect()]
    import hashlib

    def md(tag, d):
        return int(hashlib.md5(f"{tag}{d}".encode()).hexdigest()[:15], 16) % 1000

    docs = [r.doc_id for r in t_(spark, SF_DIR, "documents").select("doc_id").collect()]
    pts = {}
    for d in docs:
        k = (md("paX:", d), md("paY:", d))
        pts[k] = min(pts.get(k, d), d)
    frontier = sorted(
        (
            (doc, x, y)
            for (x, y), doc in pts.items()
            if not any(
                ex >= x and ey >= y and (ex > x or ey > y) for (ex, ey) in pts
            )
        ),
        key=lambda r: -r[1],
    )
    assert got == frontier
    xs = [x for _, x, _ in got]
    ys = [y for _, _, y in got]
    assert xs == sorted(xs, reverse=True) and len(set(xs)) == len(xs)
    assert ys == sorted(ys) and len(set(ys)) == len(ys)


# ---------------------------------------------------------------------------
# thread_roots (final r5): pointer doubling must agree bit-exactly with a
# pure-Python linear walk (third implementation next to the recursive-CTE
# oracle), including the ghost-parent absorbing path on sparse corpora.
# ---------------------------------------------------------------------------


def _py_thread_roots(doc_ids):
    import hashlib

    ids = set(doc_ids)

    def parent(d):
        if d % 7 == 0 or d <= 0:
            return d
        h = int(hashlib.md5(f"th:{d}".encode()).hexdigest()[:15], 16)
        return h % max(d, 1)

    out = {}
    for d in doc_ids:
        cur, depth = d, 0
        while cur in ids and parent(cur) != cur:
            cur, depth = parent(cur), depth + 1
        out[d] = (cur, depth)
    return out


def test_thread_roots_matches_python_walk(spark, tmp_path):
    """Dense forest: doubling == linear walk bit-exactly; roots are
    absorbing (depth 0, root_id = self)."""
    from datamunging_spark.ml_ops import thread_roots

    ids = list(range(40))
    spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id bigint, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.root_id, r.depth)
        for r in thread_roots(spark, str(tmp_path)).collect()
    }
    assert got == _py_thread_roots(ids)
    assert got[0] == (0, 0) and got[7] == (7, 0)
    assert any(d >= 2 for _, d in got.values())  # real multi-hop chains


def test_thread_roots_ghost_parent_absorbing(spark, tmp_path):
    """Sparse corpus: a parent pointer referencing an id absent from the
    corpus must be ABSORBING (left-join path) — the row survives with
    the ghost as its terminal, exactly like the oracle's walk, never
    dropped by an inner join."""
    from datamunging_spark.ml_ops import thread_roots

    ids = [9, 50, 100, 14]  # 14 % 7 == 0 -> root; others chase ghosts
    spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id bigint, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.doc_id: (r.root_id, r.depth)
        for r in thread_roots(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(ids)  # no row dropped
    assert got == _py_thread_roots(ids)
    assert got[14] == (14, 0)


def test_mutual_best_pairs_is_matching(spark):
    """Mutual-best output must be a one-to-one partial MATCHING (each
    side appears at most once — the defining property the window ranks
    guarantee), sides must respect the even/odd split, and every pair
    must be verifiable as each other's argmax by a numpy recount.
    Plan: the scorer is the broadcast cross of the tiny capped sides
    (intended BroadcastNestedLoopJoin), never a shuffled cartesian."""
    import numpy as np

    from datamunging_spark.ml_ops import _MBP_CAP, mutual_best_pairs
    from datamunging_spark.queries import t as t_

    df = mutual_best_pairs(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p, p
    assert "EvalPython" not in p, p
    rows = df.collect()
    assert rows, "no mutual pairs at all?"
    a_ids = [r.a_id for r in rows]
    b_ids = [r.b_id for r in rows]
    assert len(set(a_ids)) == len(a_ids)
    assert len(set(b_ids)) == len(b_ids)
    assert all(a % 2 == 0 and a < _MBP_CAP for a in a_ids)
    assert all(b % 2 == 1 and b < _MBP_CAP for b in b_ids)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in t_(spark, SF_DIR, "embeddings")
        .where(f"vec_id < {_MBP_CAP}")
        .collect()
    }

    def cos(u, v):
        nu, nv = np.dot(u, u), np.dot(v, v)
        return float(np.dot(u, v) / (np.sqrt(nu) * np.sqrt(nv))) if nu > 0 and nv > 0 else 0.0

    A = sorted(k for k in emb if k % 2 == 0)
    B = sorted(k for k in emb if k % 2 == 1)
    for r in rows:
        best_b = max(B, key=lambda b: (cos(emb[r.a_id], emb[b]), -b))
        best_a = max(A, key=lambda a: (cos(emb[a], emb[r.b_id]), -a))
        assert best_b == r.b_id and best_a == r.a_id


def test_k_anonymity_conservation_and_threshold(spark):
    """Release rules: every released class holds >= K docs (the level-2
    suppression row is the only sub-K-exempt row and is itself a
    count), the cascade conserves the corpus exactly (every doc counted
    once at its coarsest-clearing level), and a pure-Python replica of
    the two-level generalization agrees row-for-row."""
    from datamunging_spark.ml_ops import _KANON_K, k_anonymity_generalize
    from datamunging_spark.queries import t as t_

    rows = k_anonymity_generalize(spark, SF_DIR).collect()
    total = t_(spark, SF_DIR, "documents").count()
    assert sum(r.n for r in rows) == total
    for r in rows:
        if r.level in (0, 1):
            assert r.n >= _KANON_K, r
        assert (r.level >= 1) == (r.len_bucket == "*")
        assert (r.level == 2) == (r.lang == "*" == r.source)
    docs = (
        t_(spark, SF_DIR, "documents")
        .selectExpr("lang", "source", "length(text) DIV 200 AS lb")
        .collect()
    )
    from collections import Counter

    g0 = Counter((d.lang, d.source, d.lb) for d in docs)
    exp = {}
    rem = Counter()
    for (lang, source, lb), n in g0.items():
        if n >= _KANON_K:
            exp[(lang, source, str(lb), 0)] = n
        else:
            rem[(lang, source)] += n
    supp = 0
    for (lang, source), n in rem.items():
        if n >= _KANON_K:
            exp[(lang, source, "*", 1)] = n
        else:
            supp += n
    if supp:
        exp[("*", "*", "*", 2)] = supp
    got = {(r.lang, r.source, r.len_bucket, r.level): r.n for r in rows}
    assert got == exp


def test_kcenter_greedy_properties(spark):
    """Farthest-point invariants: K distinct picks, the per-round
    min-dist sequence is NON-INCREASING (each new center can only
    shrink later candidates' min-dist — the 2-approximation's core
    monotonicity), and a numpy replica reproduces the exact selection
    order including tie-breaks."""
    import numpy as np

    from datamunging_spark.ml_ops import _KC_CAP, _KC_K, kcenter_select
    from datamunging_spark.queries import t as t_

    rows = kcenter_select(spark, SF_DIR).collect()
    assert len(rows) == _KC_K
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == _KC_K
    ds = [r.min_dist for r in rows[1:]]
    assert all(a >= b for a, b in zip(ds, ds[1:]))
    emb = {
        r.vec_id: np.array(r.v, dtype=np.float64)
        for r in t_(spark, SF_DIR, "embeddings")
        .where(f"vec_id < {_KC_CAP}")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
        .collect()
    }

    def d(u, v):
        nu, nv = np.dot(u, u), np.dot(v, v)
        if nu <= 0 or nv <= 0:
            return 1.0
        return 1.0 - float(np.dot(u, v) / (np.sqrt(nu) * np.sqrt(nv)))

    sel = [min(emb)]
    for _ in range(_KC_K - 1):
        cand = [
            (min(d(emb[c], emb[s]) for s in sel), c)
            for c in emb
            if c not in sel
        ]
        best = max(cand, key=lambda t: (t[0], -t[1]))
        sel.append(best[1])
    assert ids == sel


def test_isotonic_calibrate_pav_properties(spark):
    """PAV invariants: calibrated ppm is NONDECREASING in bucket order,
    every pooled block's value is the exact integer ppm of its pooled
    (pos, n) (mass preserved — checked by recomputing blocks from the
    raw corpus with an independent pure-Python PAV), the raw bucket
    means really do contain violations (so pooling is exercised), and
    the engine matches the replica bucket-for-bucket."""
    import hashlib

    from datamunging_spark.ml_ops import _ISO_BUCKETS, isotonic_calibrate
    from datamunging_spark.queries import t as t_

    rows = isotonic_calibrate(spark, SF_DIR).collect()
    cal = [r.cal_ppm for r in sorted(rows, key=lambda r: r.b)]
    assert cal == sorted(cal)

    def md(tag, d):
        return int(hashlib.md5(f"{tag}{d}".encode()).hexdigest()[:15], 16)

    stats = {}
    for (d,) in t_(spark, SF_DIR, "documents").select("doc_id").collect():
        b = md("isoS:", d) % _ISO_BUCKETS
        y = 1 if md("isoL:", d) % 100 < 10 + b * 2 else 0
        n, s = stats.get(b, (0, 0))
        stats[b] = (n + 1, s + y)
    raw = [(b, *stats[b]) for b in sorted(stats)]
    raw_means = [s / n for _, n, s in raw]
    assert any(a > b for a, b in zip(raw_means, raw_means[1:]))  # violations exist
    blocks = []
    for b, n, s in raw:
        blocks.append([s, n, [b]])
        while len(blocks) >= 2 and blocks[-2][0] * blocks[-1][1] > blocks[-1][0] * blocks[-2][1]:
            s2, n2, bs2 = blocks.pop()
            blocks[-1][0] += s2
            blocks[-1][1] += n2
            blocks[-1][2].extend(bs2)
    exp = {}
    for s, n, bs in blocks:
        for b in bs:
            exp[b] = (stats[b][0], stats[b][1], s * 1_000_000 // n)
    got = {r.b: (r.n, r.pos, r.cal_ppm) for r in rows}
    assert got == exp
    assert any(len(bs) > 1 for _, _, bs in blocks)  # pooling really ran


def test_bfs_levels_triangle_inequality_and_replica(spark, tmp_path):
    """BFS correctness pinned by a pure-Python BFS (third
    implementation) on a small graph, plus the structural invariants
    on the real corpus: seeds are exactly the lvl-0 set, every
    reached node has a neighbor one level closer (parent property),
    and no edge spans more than one level (the BFS triangle
    inequality)."""
    import hashlib
    from collections import deque

    from datamunging_spark.ml_ops import (
        _BFS_SEED_MOD,
        _PR_DANGLE_MOD,
        bfs_levels,
    )

    ids = list(range(30))
    spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id bigint, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = {
        r.node_id: r.lvl for r in bfs_levels(spark, str(tmp_path)).collect()
    }
    n = len(ids)
    sym = set()
    for d in ids:
        if d % _PR_DANGLE_MOD == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                sym.add((d, dst))
                sym.add((dst, d))
    adj = {}
    for a, b in sym:
        adj.setdefault(a, set()).add(b)
    lvl = {d: 0 for d in ids if d % _BFS_SEED_MOD == 0}
    q = deque(lvl)
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v in ids and v not in lvl:
                lvl[v] = lvl[u] + 1
                q.append(v)
    assert got == {d: lvl.get(d, -1) for d in ids}
    # structural invariants
    for a, b in sym:
        la, lb = lvl.get(a), lvl.get(b)
        if la is not None and lb is not None and a in ids and b in ids:
            assert abs(la - lb) <= 1


def test_content_chunk_dedup_shift_resistance(spark, tmp_path):
    """The defining CDC property: inserting one byte near the FRONT of
    a long text changes only the chunk(s) containing the edit — the
    chunk sets before/after share almost everything, where fixed-
    offset chunking would share nothing. Also: chunks tile the text
    exactly (sum nbytes == length), and two identical docs share 100%
    of their bytes (full dedup)."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _CDC_MOD,
        _CDC_WIN,
        content_chunk_dedup,
    )

    def py_chunks(text):
        cuts = [
            i
            for i in range(_CDC_WIN, len(text) + 1)
            if int(
                hashlib.md5(
                    text[i - _CDC_WIN : i].encode()
                ).hexdigest()[:15],
                16,
            )
            % _CDC_MOD
            == 0
            or i == len(text)
        ]
        out, start = [], 0
        for e in cuts:
            out.append(text[start:e])
            start = e
        return out

    base = "".join(
        "abcdefghij"[int(hashlib.md5(f"cdc:{k}".encode()).hexdigest()[:2], 16) % 10]
        for k in range(4000)
    )
    edited = base[:5] + "Z" + base[5:]
    c0, c1 = py_chunks(base), py_chunks(edited)
    assert abs(len(c0) - len(c1)) <= 2
    shared = set(c0) & set(c1)
    assert len(shared) >= len(c0) - 3  # only the edited chunk(s) differ
    assert "".join(c0) == base and "".join(c1) == edited

    # engine agreement + tiling + full-dup detection on a hand corpus
    rows = [(0, base), (1, edited), (2, base), (3, "tiny")]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_shared, r.shared_bytes)
        for r in content_chunk_dedup(spark, str(tmp_path)).collect()
    }
    assert got[0][0] == len(c0) and got[2] == got[0]
    assert got[0][1] == got[0][0]  # doc 2 duplicates doc 0 entirely
    assert got[0][2] == len(base)
    # the edited doc shares all but the edited chunk(s)
    assert got[1][1] >= got[1][0] - 3
    assert 3 not in got  # < _CDC_WIN bytes -> filtered, like the oracle


def test_hll_distinct_replica_error_bound_and_merge(spark):
    """The full integer HLL estimator replayed in pure Python (third
    implementation) must equal the engine bit-for-bit on the real
    corpus; the estimate must sit inside the 1.04/sqrt(m) error
    envelope (generous 4-sigma bound) against the exact distinct
    count; and the register table must be MERGEABLE — registers of
    the whole corpus equal the register-wise max of two disjoint
    halves' registers (the sharded/backfill aggregation story)."""
    import hashlib

    import duckdb

    from datamunging_spark.ml_ops import (
        _HLL_LC,
        _HLL_LC_THRESH,
        _HLL_M,
        _HLL_RMAX,
        _HLL_SCALE,
        hll_distinct,
    )
    from tests.test_queries_oracle import SF_DIR

    pairs = duckdb.sql(
        f"SELECT l_returnflag, l_orderkey FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    ).fetchall()

    def registers(rows):
        regs = {}
        for flag, key in rows:
            h = int(hashlib.md5(f"hll:{key}".encode()).hexdigest()[:15], 16)
            r = regs.setdefault(flag, {})
            b = h % _HLL_M
            r[b] = max(r.get(b, 0), _HLL_RMAX - 1 - (h >> 10).bit_length() + 1)
        return regs

    def estimate(r):
        nz = _HLL_M - len(r)
        s = sum(
            1 if v >= _HLL_SCALE else 1 << (_HLL_SCALE - v)
            for v in r.values()
        ) + nz * (1 << _HLL_SCALE)
        est_raw = (((_HLL_M * _HLL_M << _HLL_SCALE) // s) * 721) // 1000
        est = _HLL_LC[nz] if nz > 0 and est_raw <= _HLL_LC_THRESH else est_raw
        return nz, s, est

    regs = registers(pairs)
    want = {f: estimate(r) for f, r in regs.items()}
    got = {
        r.l_returnflag: (r.n_zero, r.s_scaled, r.est_distinct)
        for r in hll_distinct(spark, SF_DIR).collect()
    }
    assert got == want

    # accuracy: within 4 * 1.04/sqrt(1024) = 13% of the exact count
    exact = {}
    for flag, key in pairs:
        exact.setdefault(flag, set()).add(key)
    for flag, keys in exact.items():
        est = got[flag][2]
        assert abs(est - len(keys)) <= 0.13 * len(keys), (flag, est, len(keys))

    # mergeability: full registers == register-wise max of two halves
    h1 = registers([p for p in pairs if p[1] % 2 == 0])
    h2 = registers([p for p in pairs if p[1] % 2 == 1])
    for flag, r in regs.items():
        merged = dict(h1.get(flag, {}))
        for b, v in h2.get(flag, {}).items():
            merged[b] = max(merged.get(b, 0), v)
        assert merged == r, flag


def test_cms_heavy_hitters_guarantees(spark, tmp_path):
    """CMS contract pinned on a hand corpus with PLANTED heavy bigrams
    and a long rare tail: (1) engine output equals a pure-Python
    replica of grid/min-estimate/threshold, (2) the estimate never
    undercounts (collisions only add), so (3) every truly-heavy bigram
    is in the output — the no-false-negative guarantee the op exists
    for. The rare tail forces real grid collisions (tail size >> w)."""
    import hashlib
    from collections import Counter

    from datamunging_spark.ml_ops import (
        _CMS_D,
        _CMS_PHI_DEN,
        _CMS_W,
        cms_heavy_hitters,
    )

    texts = ["hot pair " * 400]  # 'hot pair'/'pair hot' dominate
    texts += ["warm duo " * 120]
    # 1500 distinct rare bigrams across w=512 columns -> collisions
    texts += [f"u{i} v{i}" for i in range(1500)]
    rows = [(i, s.strip()) for i, s in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    bgs = Counter()
    for _, s in rows:
        ts = s.lower().split(" ")
        for a, b in zip(ts, ts[1:]):
            bgs[f"{a} {b}"] += 1
    grid = Counter()
    cols = {
        (j, bg): int(
            hashlib.md5(f"cms{j}:{bg}".encode()).hexdigest()[:15], 16
        )
        % _CMS_W
        for bg in bgs
        for j in range(_CMS_D)
    }
    for bg, c in bgs.items():
        for j in range(_CMS_D):
            grid[(j, cols[(j, bg)])] += c
    tot = sum(bgs.values())
    thr = tot // _CMS_PHI_DEN
    want = sorted(
        (
            (bg, min(grid[(j, cols[(j, bg)])] for j in range(_CMS_D)), c)
            for bg, c in bgs.items()
            if min(grid[(j, cols[(j, bg)])] for j in range(_CMS_D)) >= thr
        ),
        key=lambda r: (-r[1], r[0]),
    )
    got = [
        (r.bg, r.cms_est, r.exact_cnt)
        for r in cms_heavy_hitters(spark, str(tmp_path)).collect()
    ]
    assert got == want
    # overestimate-only, and the planted heavies are all present
    assert all(est >= c for _, est, c in got)
    out_bgs = {bg for bg, _, _ in got}
    for bg, c in bgs.items():
        if c >= thr:
            assert bg in out_bgs, (bg, c)
    # the tail really collided somewhere (est > exact for some rare bigram)
    assert any(
        min(grid[(j, cols[(j, bg)])] for j in range(_CMS_D)) > c
        for bg, c in bgs.items()
    )


def test_gapfill_locf_hand_corpus(spark, tmp_path):
    """Gap-fill semantics pinned on a hand stream: user 1 has events
    on days 1/4/6 -> days 2,3,5 materialize as gaps carrying the last
    observed day-max; user 2 is single-day (spine of one row, no
    gaps); per-key spines are independent (user 2's range must not
    leak into user 1's). The filled value is max(value) per day —
    comparison only, never float arithmetic."""
    from datetime import datetime

    from datamunging_spark.ml_ops import gapfill_locf

    rows = [
        (0, datetime(2024, 3, 1, 9), 1, "view", 5.0, "{}"),
        (1, datetime(2024, 3, 1, 10), 1, "view", 7.0, "{}"),
        (2, datetime(2024, 3, 4, 1), 1, "click", 3.0, "{}"),
        (3, datetime(2024, 3, 6, 23), 1, "view", 9.0, "{}"),
        (4, datetime(2024, 3, 2, 12), 2, "view", 4.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = [
        (r.user_id, r.day, r.n_events, r.filled_max, r.is_gap)
        for r in gapfill_locf(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, "2024-03-01", 2, 7.0, 0),
        (1, "2024-03-02", 0, 7.0, 1),
        (1, "2024-03-03", 0, 7.0, 1),
        (1, "2024-03-04", 1, 3.0, 0),
        (1, "2024-03-05", 0, 3.0, 1),
        (1, "2024-03-06", 1, 9.0, 0),
        (2, "2024-03-02", 1, 4.0, 0),
    ]


def test_maxcover_select_greedy_replica_and_opt_ratio(spark, tmp_path):
    """Greedy max-coverage pinned three ways on a hand corpus built
    so greedy is NOT optimal (the classic overlap trap): (1) engine
    equals a pure-Python greedy replica (same tie-break), (2) gains
    are non-increasing and covered_total is their exact cumsum
    (submodularity of coverage), (3) greedy coverage >= (1 - 1/e) of
    the brute-force OPT over all C(n, K) subsets — the guarantee the
    op exists for."""
    from itertools import combinations

    from datamunging_spark.ml_ops import maxcover_select

    # words -> 3-shingles; craft docs via distinct token streams.
    def doc(words):
        return " ".join(words)

    # big doc covers units A; two medium docs each half-overlap it,
    # together covering more new ground than any single one
    A = [f"a{i}" for i in range(12)]
    B = [f"a{i}" for i in range(6)] + [f"b{i}" for i in range(8)]
    C = [f"a{i}" for i in range(6, 12)] + [f"c{i}" for i in range(8)]
    D = [f"d{i}" for i in range(5)]
    rows = [(0, doc(A)), (1, doc(B)), (2, doc(C)), (3, doc(D))]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )

    def shingles(text):
        ws = text.lower().split(" ")
        if len(ws) < 3:
            return {text}
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {d: shingles(s) for d, s in rows}
    K = 3

    def greedy():
        sel, covered, out = [], set(), []
        for rnd in range(6):  # _MC_K
            best = None
            for d in sorted(sets):
                if d in sel:
                    continue
                gain = len(sets[d] - covered)
                if best is None or gain > best[1]:
                    best = (d, gain)
            # max gain 0 <=> no (unselected doc, uncovered shingle)
            # pair remains <=> the engine's empty-rem break
            if best is None or best[1] == 0:
                break
            sel.append(best[0])
            covered |= sets[best[0]]
            out.append((rnd, best[0], best[1], len(covered)))
        return out

    want = greedy()
    got = [
        (r.round, r.doc_id, r.gain, r.covered_total)
        for r in maxcover_select(spark, str(tmp_path)).collect()
    ]
    assert got == want
    gains = [g for _, _, g, _ in got]
    assert gains == sorted(gains, reverse=True)  # non-increasing
    assert [t for _, _, _, t in got] == [
        sum(gains[: i + 1]) for i in range(len(gains))
    ]
    # (1 - 1/e) guarantee vs brute-force OPT at K picks
    greedy_k = sum(gains[:K])
    opt = max(
        len(set().union(*(sets[d] for d in sub)))
        for sub in combinations(sets, K)
    )
    assert greedy_k >= 0.632 * opt, (greedy_k, opt)


def test_dedup_incremental_consistent_with_batch(spark):
    """The incremental index-probe dedup must agree EXACTLY with the
    batch LSH op restricted to cross-split pairs — banding and verify
    are the same factored expressions, so a new-shard probe against
    the materialized index finds precisely the batch pairs whose d1 is
    indexed and d2 is new (same threshold, same Jaccard). dup_of must
    be the smallest matching indexed doc."""
    from datamunging_spark.ml_ops import (
        _INC_SPLIT,
        dedup_incremental,
        dedup_minhash_lsh,
    )
    from tests.test_queries_oracle import SF_DIR

    batch = {
        (r.d1, r.d2): r.jaccard
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    crossing = {}
    for (d1, d2), j in batch.items():
        if d1 < _INC_SPLIT <= d2:
            cur = crossing.get(d2)
            if cur is None or d1 < cur[0]:
                crossing[d2] = (d1, j)
    inc = {
        r.doc_id: (r.keep, r.dup_of, r.jaccard)
        for r in dedup_incremental(spark, SF_DIR).collect()
    }
    assert crossing, "corpus must contain cross-split near-dups"
    for d2, (d1, j) in crossing.items():
        assert inc[d2] == (0, d1, j), (d2, inc[d2], (d1, j))
    for doc, (keep, dup_of, j) in inc.items():
        if doc not in crossing:
            assert keep == 1 and dup_of is None and j is None, (doc, keep)


def test_dp_histogram_replica_and_noise_distribution(spark, tmp_path):
    """The DP release pinned by a pure-Python replica (same seeded
    uniform, same frozen threshold table) on a 2000-group corpus, plus
    the mechanism's shape: every noise draw inside the truncated
    [-K, K] support, empirical mean |noise| within a loose band of the
    two-sided-geometric expectation (~1.92 at eps=0.5), zero-clamping
    honored for tiny counts."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _DP_K,
        _DP_RELEASE,
        _DP_T,
        dp_histogram,
    )

    langs = [f"g{i:04d}" for i in range(2000)]
    rows = [(i, "x", langs[i % 2000]) for i in range(4000)]  # n=2 each
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    def noise(lang):
        u = int(
            hashlib.md5(f"dp:{_DP_RELEASE}:{lang}".encode()).hexdigest()[:15],
            16,
        )
        return sum(1 for tv in _DP_T if tv <= u) - _DP_K

    want = {g: max(0, 2 + noise(g)) for g in langs}
    got = {r.lang: r.released for r in dp_histogram(spark, str(tmp_path)).collect()}
    assert got == want
    draws = [noise(g) for g in langs]
    assert all(-_DP_K <= d <= _DP_K for d in draws)
    mean_abs = sum(abs(d) for d in draws) / len(draws)
    assert 1.2 <= mean_abs <= 2.6, mean_abs
    # clamp really fires somewhere (n=2, noise <= -2 has prob ~0.18/group)
    assert any(v == 0 for v in want.values())


def test_quantile_sketch_replica_error_bound_and_merge(spark, tmp_path):
    """The fixed-256-cell quantile summary pinned by a pure-Python
    replica on a skewed synthetic column, the rank-error guarantee
    (true rank of every estimate within max_bin_cnt of its target
    rank), the estimate's lower-edge semantics (est <= true quantile
    value), and the sketch's merge identity: the cell table of the
    whole equals the cell-wise SUM of two disjoint halves' tables —
    the property that makes the partial agg map-side combinable."""
    import hashlib

    from datamunging_spark.ml_ops import _QS_B, _QS_QS, quantile_sketch

    # deterministic skewed values: md5-driven, heavy head + long tail
    def val(i):
        u = int(hashlib.md5(f"qs:{i}".encode()).hexdigest()[:8], 16)
        return 100 + (u % 97) + (u % 7919 if u % 5 == 0 else 0)

    n = 5000
    rows = [("A", float(val(i)) / 10000.0) for i in range(n)]
    spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    vs = sorted(round(val(i)) for i in range(n))  # already 1e-4 units
    lo, hi = vs[0], vs[-1]
    width = hi - lo + 1
    cells = {}
    for v in vs:
        b = (v - lo) * _QS_B // width
        cells[b] = cells.get(b, 0) + 1
    max_bin = max(cells.values())
    cum, bq = 0, {}
    for b in sorted(cells):
        cum += cells[b]
        for q in _QS_QS:
            if q not in bq and cum * 100 >= n * q:
                bq[q] = b
    want = {
        f"est_p{q}_e4": lo + bq[q] * width // _QS_B for q in _QS_QS
    }

    [got] = quantile_sketch(spark, str(tmp_path)).collect()
    assert got.n_rows == n and got.max_bin_cnt == max_bin
    for q in _QS_QS:
        est = got[f"est_p{q}_e4"]
        assert est == want[f"est_p{q}_e4"]
        # guarantee: est is a cell LOWER edge at/below the true
        # quantile, and its true rank is within one cell's weight of
        # the target rank
        target = -(-n * q // 100)  # ceil
        true_q = vs[target - 1]
        assert est <= true_q
        rank_at_est = sum(1 for v in vs if v < est)
        assert abs(rank_at_est - target) <= max_bin, (q, rank_at_est)

    # merge identity: halves' cell tables add to the whole's
    half1, half2 = {}, {}
    for i in range(n):
        v = round(val(i))
        b = (v - lo) * _QS_B // width
        d = half1 if i % 2 == 0 else half2
        d[b] = d.get(b, 0) + 1
    merged = {
        b: half1.get(b, 0) + half2.get(b, 0)
        for b in set(half1) | set(half2)
    }
    assert merged == cells


def test_kmv_set_similarity_replica_and_estimator_quality(spark, tmp_path):
    """KMV set algebra pinned by a pure-Python replica (same 44-bit
    md5 hash, same K-min, same integer estimators) on a controlled
    three-group corpus: two big vocabularies with ~50% overlap
    (estimator branch), one tiny vocabulary (< K distinct) that must
    take the exact-fallback branch. Also bounds estimator quality:
    est_union within 35% of exact_union and the Jaccard estimate
    (jacc_num / k_used) within 0.15 of exact Jaccard on the big pair."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _KMV_BITS,
        _KMV_K,
        kmv_set_similarity,
    )

    shared = [f"both{i:03d}" for i in range(200)]
    only_a = [f"aaa{i:03d}" for i in range(200)]
    only_b = [f"bbb{i:03d}" for i in range(200)]
    tiny = [f"tin{i:02d}" for i in range(30)]
    docs = [
        (0, " ".join(shared + only_a), "aa"),
        (1, " ".join(shared + only_b), "bb"),
        (2, " ".join(tiny), "cc"),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string"
    ).write.parquet(f"{tmp_path}/documents.parquet")

    def h44(tk):
        return int(hashlib.md5(f"kmv:{tk}".encode()).hexdigest()[:11], 16)

    sets = {
        "aa": {h44(tk) for tk in shared + only_a},
        "bb": {h44(tk) for tk in shared + only_b},
        "cc": {h44(tk) for tk in tiny},
    }
    ks = {g: sorted(s)[:_KMV_K] for g, s in sets.items()}

    def replica(ga, gb):
        sa, sb = sets[ga], sets[gb]
        ka, kb = ks[ga], ks[gb]
        u_all = sorted(set(ka) | set(kb))
        m = min(_KMV_K, len(u_all))
        uk = u_all[:m]
        if len(sa) <= _KMV_K and len(sb) <= _KMV_K:
            est_union = len(u_all)
        else:
            est_union = ((_KMV_K - 1) << _KMV_BITS) // uk[-1]
        jacc_num = sum(1 for x in uk if x in set(ka) and x in set(kb))
        return {
            "n_a": len(sa),
            "n_b": len(sb),
            "est_union": est_union,
            "exact_union": len(sa | sb),
            "k_used": m,
            "jacc_num": jacc_num,
            "est_inter": jacc_num * est_union // m,
            "exact_inter": len(sa & sb),
        }

    got = {
        (r.lang_a, r.lang_b): r.asDict()
        for r in kmv_set_similarity(spark, str(tmp_path)).collect()
    }
    assert set(got) == {("aa", "bb"), ("aa", "cc"), ("bb", "cc")}
    for (ga, gb), row in got.items():
        want = replica(ga, gb)
        for k, v in want.items():
            assert row[k] == v, (ga, gb, k, row[k], v)

    big = got[("aa", "bb")]
    assert big["n_a"] > _KMV_K  # estimator branch really taken
    assert abs(big["est_union"] - big["exact_union"]) <= (
        0.35 * big["exact_union"]
    )
    est_j = big["jacc_num"] / big["k_used"]
    exact_j = big["exact_inter"] / big["exact_union"]
    assert abs(est_j - exact_j) <= 0.15, (est_j, exact_j)
    # tiny group: exact-fallback branch must be EXACT
    for pair in (("aa", "cc"), ("bb", "cc")):
        # union of big+tiny still exceeds K -> estimator branch; the
        # cc-side sketch is exhaustive but n_a > K forces estimation
        assert got[pair]["exact_inter"] == 0


# ---------------------------------------------------------------------------
# graph_components_lss (second-resume batch): the large-star/small-star
# contraction must agree EXACTLY with an independent pure-Python
# union-find (third implementation — the DuckDB pointer-doubling unroll
# is the second, and all three are different algorithms for the same
# unique answer).
# ---------------------------------------------------------------------------


def _py_components(doc_ids):
    """Union-find over the same md5 edge model (pr{j}: tags, 1-in-17
    dangling, self-loops dropped); labels = component minimum."""
    import hashlib

    n = len(doc_ids)
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for d in doc_ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst == d:
                continue
            ra, rb = find(d), find(dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp = {d: find(d) for d in doc_ids}
    sizes: dict = {}
    for c in comp.values():
        sizes[c] = sizes.get(c, 0) + 1
    return comp, sizes


def test_graph_components_lss_matches_union_find(spark):
    from datamunging_spark.ml_ops import graph_components_lss

    got = graph_components_lss(spark, SF_DIR).toPandas()
    ids = sorted(got.node_id)
    comp, sizes = _py_components(ids)
    assert {
        (r.node_id, r.comp, r.comp_size) for r in got.itertuples(index=False)
    } == {(d, comp[d], sizes[comp[d]]) for d in ids}
    # label closure: every component label is its own label (star
    # centers self-labeled), and labels are component MINIMA
    lab = dict(zip(got.node_id, got.comp))
    assert all(lab[c] == c for c in set(lab.values()))
    assert (got.comp <= got.node_id).all()


def test_graph_components_lss_deep_small_graph(spark, tmp_path):
    """n=40 mirror of k_core's deep-peel regression: small graphs have
    relatively deeper structure; the engine must reach its TRUE
    fixpoint (no round-cap raise) and agree with union-find."""
    from datamunging_spark.ml_ops import graph_components_lss

    ids = list(range(40))
    spark.createDataFrame(
        [(i, "x") for i in ids], "doc_id bigint, text string"
    ).write.parquet(f"{tmp_path}/documents.parquet")
    got = graph_components_lss(spark, str(tmp_path)).toPandas()
    comp, sizes = _py_components(ids)
    assert {
        (r.node_id, r.comp, r.comp_size) for r in got.itertuples(index=False)
    } == {(d, comp[d], sizes[comp[d]]) for d in ids}


def test_graph_components_lss_raises_without_fixpoint(spark, monkeypatch):
    """One double-round cannot contract the link graph to stars, so a
    cap of one round must raise, not return an under-converged labeling."""
    from datamunging_spark import ml_ops

    real = ml_ops.fixpoint
    monkeypatch.setattr(
        ml_ops,
        "fixpoint",
        lambda state, step, name, max_rounds: real(state, step, name, 1),
    )
    with pytest.raises(RuntimeError, match="no fixpoint within 1"):
        ml_ops.graph_components_lss(spark, SF_DIR)


def test_lss_exact_check_rejects_a_fingerprint_collision(
    spark, monkeypatch, tmp_path
):
    """The fingerprint only proves inequality: two different edge sets of
    equal size fail the exact check, and a loop whose fingerprints always
    collide still reaches the true fixpoint. On a path, the first round
    keeps the edge count ((2,1),(3,2),(4,3) -> (2,1),(3,1),(4,2)), so a
    loop that trusted equal fingerprints would stop on a non-star."""
    from datamunging_spark import ml_ops

    def edges(rows, cols="hi bigint, lo bigint"):
        return spark.createDataFrame(rows, cols)

    old = edges([(2, 1), (3, 1), (4, 3)])
    assert ml_ops._same_rows(edges([(4, 3), (2, 1), (3, 1)]), old, 3)
    assert not ml_ops._same_rows(edges([(2, 1), (3, 1), (4, 1)]), old, 3)
    assert not ml_ops._same_rows(edges([(2, 1), (3, 2), (4, 3)]), old, 3)

    real = ml_ops._checkpoint_fingerprinted

    def colliding(df):
        out, fp = real(df)
        return out, {"n": fp["n"], "h": 0}

    n = 12
    edges([(i, "x") for i in range(n)], "doc_id bigint, text string").write.parquet(
        f"{tmp_path}/documents.parquet"
    )
    monkeypatch.setattr(
        ml_ops,
        "_link_edges_undirected",
        lambda spark, sf_dir: edges(
            [(i, i + 1) for i in range(n - 1)], "u bigint, v bigint"
        ),
    )
    monkeypatch.setattr(ml_ops, "_checkpoint_fingerprinted", colliding)
    got = ml_ops.graph_components_lss(spark, str(tmp_path)).toPandas()
    assert {tuple(r) for r in got.itertuples(index=False)} == {
        (i, 0, n) for i in range(n)
    }


def _query_jobs(spark, query) -> int:
    """Spark jobs one run of catalog query ``query`` over SF_DIR takes."""
    from datamunging_spark import ml_ops

    sc = spark.sparkContext
    group = f"test-{query}-jobs"
    sc.setJobGroup(group, group)
    try:
        getattr(ml_ops, query)(spark, SF_DIR).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_graph_components_lss_job_count(spark):
    """Each double-round is three exchanges plus its checkpoint job, and
    the fixpoint test rides the checkpoint, so the whole query is a few
    jobs per round. On this fixture (local[8], 8 shuffle partitions) the
    groupBy/join rounds with an exceptAll test per round ran 68 jobs;
    the window rounds with the observed fingerprint run 34."""
    jobs = _query_jobs(spark, "graph_components_lss")
    assert 0 < jobs <= 40, jobs


# Job counts of the other queries that run through ml_ops.fixpoint, on
# this fixture (local[8], 8 shuffle partitions, sf0.001). "Before" is the
# hand-written loop with its per-round count or sum probe job; "after"
# is fixpoint(), whose fingerprint rides each round's checkpoint job and
# whose one exact check runs at the end. dedup_clusters' loop already
# folded its probe into a lazy checkpoint, so fixpoint()'s exact check
# costs it two jobs. The first value is a cold call, the second a warm
# one (dedup_clusters memoizes its LSH probe on the session).
@pytest.mark.parametrize(
    "query, bound",
    [
        ("k_core", 34),  # before 41, after 30
        ("thread_roots", 31),  # before 35, after 28
        ("k_truss", 30),  # before 31, after 30
        ("dbscan_grid", 48),  # before 50, after 47
        ("bfs_levels", 39),  # before 41, after 37
        ("dedup_clusters", 39),  # before 36/34, after 38/36
    ],
)
def test_fixpoint_query_job_count(spark, query, bound):
    jobs = _query_jobs(spark, query)
    assert 0 < jobs <= bound, jobs


def test_fixpoint_raises_past_max_rounds_naming_the_query(spark):
    """A step that never repeats its input exhausts the round cap."""
    from datamunging_spark.ml_ops import fixpoint

    state = spark.range(3)
    with pytest.raises(
        RuntimeError, match="counter did not converge: no fixpoint within 3 rounds"
    ):
        fixpoint(state, lambda df: df.select((F.col("id") + 1).alias("id")), "counter", 3)


def test_fixpoint_exact_check_survives_a_fingerprint_collision(spark, monkeypatch):
    """Every round keeps the row count and its fingerprint is forced to
    collide, so only the exact check tells the rounds apart: fixpoint()
    must still run to the true fixpoint (every v at 5), confirming it
    once, and spend no more rounds than without the collision."""
    from datamunging_spark import ml_ops

    state = spark.createDataFrame([(k, 0) for k in range(4)], "k bigint, v bigint")
    calls, checks = [], []

    def step(df):
        calls.append(1)
        return df.select("k", F.least(F.col("v") + 1, F.lit(5)).alias("v"))

    honest = ml_ops.fixpoint(state, step, "climb", 8)
    assert len(calls) == 6  # five rounds of change, one that confirms

    real_checkpoint, real_same = ml_ops._checkpoint_fingerprinted, ml_ops._same_rows

    def colliding(df):
        out, fp = real_checkpoint(df)
        return out, {"n": fp["n"], "h": 0}

    def same_rows(new, old, n):
        checks.append(real_same(new, old, n))
        return checks[-1]

    monkeypatch.setattr(ml_ops, "_checkpoint_fingerprinted", colliding)
    monkeypatch.setattr(ml_ops, "_same_rows", same_rows)
    calls.clear()
    got = ml_ops.fixpoint(state, step, "climb", 8)
    assert sorted(map(tuple, got.collect())) == [(k, 5) for k in range(4)]
    assert sorted(map(tuple, honest.collect())) == [(k, 5) for k in range(4)]
    assert len(calls) == 6 and checks == [False] * 5 + [True]


# ---------------------------------------------------------------------------
# random_walks (second-resume batch): bit-exact vs a pure-Python replica
# of the walk contract (md5 pick over dst-ordered out-edges), plus the
# early-termination invariant at dangling nodes.
# ---------------------------------------------------------------------------


def test_random_walks_matches_python_replica(spark):
    from datamunging_spark.ml_ops import _RW_LEN, _RW_SEED_MOD, random_walks

    import hashlib

    got = random_walks(spark, SF_DIR).toPandas()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    n = len(ids)

    out: dict = {}
    for d in ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                out.setdefault(d, set()).add(dst)
    want = set()
    for seed in ids:
        if seed % _RW_SEED_MOD != 0:
            continue
        cur = seed
        want.add((seed, 0, seed))
        for s in range(1, _RW_LEN + 1):
            nbrs = sorted(out.get(cur, ()))
            if not nbrs:
                break
            hx = hashlib.md5(f"rw:{s}:{seed}".encode()).hexdigest()[:15]
            cur = nbrs[int(hx, 16) % len(nbrs)]
            want.add((seed, s, cur))
    assert {
        (r.walk_id, r.step, r.node) for r in got.itertuples(index=False)
    } == want
    # per-walk steps are a gap-free prefix 0..k (early stop only)
    for wid, grp in got.groupby("walk_id"):
        assert sorted(grp.step) == list(range(len(grp)))


# ---------------------------------------------------------------------------
# decontaminate_semantic (second-resume batch): planted positives are
# found with their own twin as nearest; the integer score respects the
# Cauchy-Schwarz bound; zero vectors follow the "similar to nothing"
# convention — checked differentially against the DuckDB oracle on a
# hand-built table that CONTAINS a zero vector.
# ---------------------------------------------------------------------------


def test_decontaminate_semantic_invariants(spark):
    from datamunging_spark.ml_ops import _SDECON_PPM, decontaminate_semantic

    got = decontaminate_semantic(spark, SF_DIR).toPandas()
    n_vec = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(got) == n_vec  # one verdict per corpus vector
    assert (got.cos2_ppm.abs() <= 1_000_000).all()  # Cauchy-Schwarz
    planted = got[got.vec_id % 20 == 0]
    assert (planted.contaminated).all()
    assert (planted.nearest_eval_id == planted.vec_id + 200000).all()
    rest = got[got.vec_id % 20 != 0]
    assert (~rest.contaminated).all()
    assert (rest.cos2_ppm < _SDECON_PPM).all()


def test_decontaminate_semantic_zero_vector_oracle(spark, tmp_path):
    import duckdb

    from datamunging_spark.ml_ops import _SDECON_SQL, decontaminate_semantic

    dim = 8
    rows = [
        (0, [0.0] * dim, 0),  # zero vector, also an eval source
        (1, [0.5, -0.25] + [0.125] * (dim - 2), 0),
        # second eval source — NOT a constant vector: the perturbed
        # zero vector is constant (all 0.001), and any constant vector
        # is exactly parallel to it (cos = 1, tie on eval_id)
        (20, [0.1, -0.2, 0.3, -0.1, 0.2, -0.3, 0.15, -0.05], 1),
        (21, [-0.3, 0.2] + [0.0] * (dim - 2), 1),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = decontaminate_semantic(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = con.sql(_SDECON_SQL).df()
    want = want[got.columns].astype({c: got[c].dtype for c in got.columns})
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    z = got[got.vec_id == 0].iloc[0]
    assert z.cos2_ppm == 0 and not z.contaminated  # zero ~ nothing
    p = got[got.vec_id == 20].iloc[0]
    assert p.contaminated and p.nearest_eval_id == 200020


# ---------------------------------------------------------------------------
# skipgram_pairs (second-resume batch): exact vs a pure-Python replica
# built on the walk replica, plus the symmetric-window invariant.
# ---------------------------------------------------------------------------


def test_skipgram_pairs_replica_and_symmetry(spark):
    import hashlib

    from datamunging_spark.ml_ops import (
        _RW_LEN,
        _RW_SEED_MOD,
        _SG_WINDOW,
        skipgram_pairs,
    )

    got = skipgram_pairs(spark, SF_DIR).toPandas()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    n = len(ids)
    out: dict = {}
    for d in ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                out.setdefault(d, set()).add(dst)
    want: dict = {}
    for seed in ids:
        if seed % _RW_SEED_MOD != 0:
            continue
        walk = [seed]
        cur = seed
        for s in range(1, _RW_LEN + 1):
            nbrs = sorted(out.get(cur, ()))
            if not nbrs:
                break
            hx = hashlib.md5(f"rw:{s}:{seed}".encode()).hexdigest()[:15]
            cur = nbrs[int(hx, 16) % len(nbrs)]
            walk.append(cur)
        for i, c in enumerate(walk):
            for j2, ctx in enumerate(walk):
                if i != j2 and abs(i - j2) <= _SG_WINDOW:
                    want[(c, ctx)] = want.get((c, ctx), 0) + 1
    have = {
        (r.center, r.context): r.n_pairs for r in got.itertuples(index=False)
    }
    assert have == want
    # symmetric window => directed pair counts are symmetric
    assert all(have[(a, b)] == have[(b, a)] for (a, b) in have)


# ---------------------------------------------------------------------------
# pca_power_projection (second-resume batch): the integer projection
# must align with numpy's float top eigenvector (|pearson r| ~ 1), and
# the hand-table differential (including the all-zero corpus) must
# agree with the DuckDB oracle bit-for-bit.
# ---------------------------------------------------------------------------


def test_pca_projection_aligns_with_numpy_eig(spark):
    """The contract is a FIXED 8 power steps (random iid corpora have a
    near-flat Marchenko-Pastur spectrum, so 8 steps are deliberately
    NOT converged to eigh's eigenvector) — the float reference is the
    SAME 8-step iteration in numpy; the integer-vs-float drift must be
    negligible (|pearson r| ~ 1)."""
    import numpy as np

    from datamunging_spark.ml_ops import (
        _PCA_ITERS,
        _PCA_Q,
        pca_power_projection,
    )

    got = pca_power_projection(spark, SF_DIR).toPandas()
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.round(
        np.stack(emb.embedding.to_numpy()).astype(np.float64) * _PCA_Q
    )
    G = X.T @ X
    v = np.ones(G.shape[0])
    for _ in range(_PCA_ITERS):
        w = G @ v
        v = w / np.max(np.abs(w))
    ref = X @ v
    proj = got.sort_values("vec_id").proj_fp.to_numpy(np.float64)
    r = np.corrcoef(proj, ref)[0, 1]
    assert abs(r) > 0.9999, r


def test_pca_projection_zero_and_hand_table_oracle(spark, tmp_path):
    import duckdb

    from datamunging_spark.ml_ops import _pca_sql, pca_power_projection

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0], 0),
        (1, [0.3, 0.4, 0.0, 0.0], 0),
        (2, [-0.6, -0.8, 0.0, 0.0], 0),
        (3, [0.01, -0.01, 0.02, 0.005], 0),
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(f"{tmp_path}/embeddings.parquet")
    got = pca_power_projection(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = con.sql(_pca_sql()).df()
    want = want[got.columns].astype({c: got[c].dtype for c in got.columns})
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    by = dict(zip(got.vec_id, got.proj_fp))
    assert by[0] == 0  # zero vector projects to zero
    # vec 2 = -2x vec 1 along the dominant [0.6, 0.8] direction; the
    # proportionality is up to one quantization unit per component
    # (round(2q) != 2*round(q) at .5 boundaries), i.e. one v-scale unit
    assert by[2] != 0, by
    assert abs(by[2] + 2 * by[1]) <= abs(by[2]) * 1e-3 + 2, (by[1], by[2])

    # all-zero corpus: m = 0 branch on every step, all projections 0
    zdir = tmp_path / "z"
    zdir.mkdir()
    spark.createDataFrame(
        [(i, [0.0] * 4, 0) for i in range(3)],
        "vec_id bigint, embedding array<float>, label int",
    ).write.parquet(f"{zdir}/embeddings.parquet")
    gz = pca_power_projection(spark, str(zdir)).toPandas()
    assert (gz.proj_fp == 0).all()
    con2 = duckdb.connect()
    con2.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{zdir}/embeddings.parquet/*.parquet')"
    )
    wz = con2.sql(_pca_sql()).df()
    assert (wz.proj_fp == 0).all() and len(wz) == len(gz)


# ---------------------------------------------------------------------------
# clustering_coefficient (third-resume batch): exact vs a brute-force
# pure-Python neighborhood count, plus the cc <= 1e6 bound.
# ---------------------------------------------------------------------------


def test_clustering_coefficient_matches_bruteforce(spark):
    import hashlib

    from datamunging_spark.ml_ops import clustering_coefficient

    got = clustering_coefficient(spark, SF_DIR).toPandas()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    n = len(ids)
    nbr: dict = {}
    for d in ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                nbr.setdefault(d, set()).add(dst)
                nbr.setdefault(dst, set()).add(d)
    want = {}
    for v, ns in nbr.items():
        t_v = sum(
            1
            for a in ns
            for b in ns
            if a < b and b in nbr.get(a, ())
        )
        dv = len(ns)
        cc = (t_v * 2 * 1_000_000) // (dv * (dv - 1)) if dv >= 2 else 0
        want[v] = (dv, t_v, cc)
    assert {
        (r.node_id, r.d, r.n_tri, r.cc_ppm)
        for r in got.itertuples(index=False)
    } == {(v, *w) for v, w in want.items()}
    assert (got.cc_ppm <= 1_000_000).all()
    assert (got.cc_ppm > 0).any()


# ---------------------------------------------------------------------------
# link_prediction_cn (third-resume batch): exact vs a brute-force
# pure-Python common-neighbor scorer; predicted pairs must be
# non-adjacent by construction.
# ---------------------------------------------------------------------------


def test_link_prediction_cn_matches_bruteforce(spark):
    import hashlib

    from datamunging_spark.ml_ops import _LP_MIN_COMMON, link_prediction_cn

    got = link_prediction_cn(spark, SF_DIR).toPandas()
    ids = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    )
    n = len(ids)
    nbr: dict = {}
    for d in ids:
        if d % 17 == 3:
            continue
        for j in range(3):
            hx = hashlib.md5(f"pr{j}:{d}".encode()).hexdigest()[:15]
            dst = int(hx, 16) % n
            if dst != d:
                nbr.setdefault(d, set()).add(dst)
                nbr.setdefault(dst, set()).add(d)
    want = {}
    nodes = sorted(nbr)
    for z in nodes:
        ns = sorted(nbr[z])
        dz = len(ns)
        for i, b in enumerate(ns):
            for c in ns[i + 1:]:
                k = (b, c)
                cn, ra = want.get(k, (0, 0))
                want[k] = (cn + 1, ra + 1_000_000 // dz)
    want = {
        k: v
        for k, v in want.items()
        if v[0] >= _LP_MIN_COMMON and k[1] not in nbr.get(k[0], ())
    }
    assert {
        (r.u, r.w, r.n_common, r.ra_ppm)
        for r in got.itertuples(index=False)
    } == {(u, w, cn, ra) for (u, w), (cn, ra) in want.items()}
    # no predicted pair is an existing edge
    for r in got.itertuples(index=False):
        assert r.w not in nbr.get(r.u, ())


# ---------------------------------------------------------------------------
# pq_adc_topk (third-resume batch): the fused multi-subspace Lloyd must
# equal m separate kmeans_fit runs; output invariants on the ADC top-k.
# ---------------------------------------------------------------------------


def test_pq_fused_fit_equals_separate_fits(spark):
    import numpy as np

    from datamunging_spark.ml_ops import (
        KMEANS_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_fit_codebooks,
        kmeans_fit,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fused = _pq_fit_codebooks(emb)
    v = F.col("embedding").cast("array<double>")
    for s in range(PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice(v, s * PQ_SUBDIM + 1, PQ_SUBDIM).alias("embedding"),
        )
        sep, _ = kmeans_fit(sub, k=PQ_K, dim=PQ_SUBDIM, iters=KMEANS_ITERS)
        assert np.allclose(
            np.array(fused[s]), np.array(sep), rtol=1e-12, atol=1e-12
        ), s


def test_pq_adc_topk_invariants(spark):
    from datamunging_spark.ml_ops import PQ_K, PQ_M, PQ_TOPK, pq_adc_topk

    got = pq_adc_topk(spark, SF_DIR).toPandas()
    assert len(got) == PQ_TOPK
    for s in range(PQ_M):
        assert got[f"code{s}"].between(0, PQ_K - 1).all()
    # ADC is a squared L2 approximation: nonnegative (fp slack) and the
    # result rows arrive in nondecreasing ADC order
    assert (got.adc_r >= -1e-6).all()
    assert (got.adc_r.diff().dropna() >= -1e-9).all()
    assert (got.cos.abs() <= 1.0).all()


# ---------------------------------------------------------------------------
# anomaly_mad_events (third-resume batch): planted-spike hand corpus —
# the spike day must be flagged, quiet days must not, and the engine
# must equal both the DuckDB oracle and a pure-Python two-pick
# median/MAD replica on the same table.
# ---------------------------------------------------------------------------


def test_anomaly_mad_planted_spike(spark, tmp_path):
    import datetime as dt

    import duckdb

    from datamunging_spark.ml_ops import _ANOMALY_SQL, anomaly_mad_events

    rows = []
    eid = 0
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    plan = {d: 10 + (d % 3) for d in range(15)}  # quiet: 10..12/day
    plan[7] = 100  # the spike
    for d, n in plan.items():
        for i in range(n):
            rows.append(
                (
                    eid,
                    base + dt.timedelta(days=d, seconds=i),
                    i % 5,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(f"{tmp_path}/events.parquet")

    got = anomaly_mad_events(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = con.sql(_ANOMALY_SQL).df()
    assert _rows(got) == _rows(want)

    # python replica of the two-pick median algebra
    cnts = sorted(plan.values())
    n = len(cnts)
    med2 = cnts[(n + 1) // 2 - 1] + cnts[(n + 2) // 2 - 1]
    a2s = sorted(abs(2 * c - med2) for c in plan.values())
    mad2 = a2s[(n + 1) // 2 - 1] + a2s[(n + 2) // 2 - 1]
    for r in got.itertuples(index=False):
        assert r.med2 == med2 and r.mad2 == mad2
        expect = abs(2 * r.cnt - med2) * 10000 > 44478 * mad2
        assert bool(r.is_anomaly) == expect, r
    spike = got[got.cnt == 100]
    assert len(spike) == 1 and bool(spike.iloc[0].is_anomaly)
    assert int(got.is_anomaly.sum()) == 1  # quiet days stay quiet


def test_label_propagation_refines_components(spark):
    """LPA semantic invariants on top of the oracle equality: (a) every
    node's community label lies in the SAME connected component (LPA
    labels flow only along edges, so communities refine components);
    (b) isolated nodes keep their own id; (c) labels are node ids."""
    from datamunging_spark.ml_ops import (
        _link_edges_undirected,
        graph_components_lss,
        label_propagation,
    )

    lpa = label_propagation(spark, SF_DIR).toPandas()
    comp = graph_components_lss(spark, SF_DIR).toPandas()
    comp_of = dict(zip(comp.node_id, comp.comp))
    nodes = set(lpa.node_id)
    assert set(lpa.community) <= nodes  # labels are node ids
    for nid, lbl in zip(lpa.node_id, lpa.community):
        assert comp_of[nid] == comp_of[lbl], (nid, lbl)
    und = _link_edges_undirected(spark, SF_DIR).toPandas()
    touched = set(und.u) | set(und.v)
    iso = lpa[~lpa.node_id.isin(touched)]
    assert (iso.node_id == iso.community).all()
    # LPA must actually merge something (non-vacuity): fewer distinct
    # labels than nodes
    assert lpa.community.nunique() < len(lpa)


def test_degree_mixing_totals(spark):
    """The mixing matrix partitions the edge set: n_edges sums to |E|,
    and the degree support matches the degree table's min/max."""
    from datamunging_spark.ml_ops import (
        _link_edges_undirected,
        degree_mixing,
    )

    mix = degree_mixing(spark, SF_DIR).toPandas()
    und = _link_edges_undirected(spark, SF_DIR).toPandas()
    assert int(mix.n_edges.sum()) == len(und)
    assert (mix.d_lo <= mix.d_hi).all()
    import pandas as pd

    deg = pd.concat([und.u, und.v]).value_counts()
    assert int(mix.d_lo.min()) == int(deg.min())
    assert int(mix.d_hi.max()) == int(deg.max())


def test_ewma_events_bounds_and_head(spark):
    """Dyadic EWMA invariants: the smoothed value lies within the
    [min, max] of its trailing window (convexity: weights sum to den),
    and each series' FIRST row has ewma == 1000 * cnt exactly (only
    the lag-0 term exists)."""
    from datamunging_spark.ml_ops import _EWMA_K, ewma_events

    df = ewma_events(spark, SF_DIR).toPandas()
    for _, g in df.groupby("event_type"):
        g = g.sort_values("day").reset_index(drop=True)
        assert g.ewma_milli.iloc[0] == 1000 * g.cnt.iloc[0]
        for i in range(len(g)):
            w = g.cnt.iloc[max(0, i - _EWMA_K + 1): i + 1]
            # integer DIV truncates: lower bound shifts by at most 1
            assert 1000 * w.min() - 1 <= g.ewma_milli.iloc[i] <= 1000 * w.max()


def test_attribution_last_touch_partition(spark):
    """Attribution partitions the purchase set: n_purchases sums to
    the total purchase count, revenue to the exact cents total, and
    channels come only from {click, view, direct}."""
    from datamunging_spark.ml_ops import attribution_last_touch

    att = attribution_last_touch(spark, SF_DIR).toPandas()
    ev = t(spark, SF_DIR, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    n = purchases.count()
    cents = purchases.select(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("c")
    ).collect()[0].c
    assert int(att.n_purchases.sum()) == n
    assert int(att.revenue_cents.sum()) == int(cents)
    assert set(att.channel) <= {"click", "view", "direct"}


def test_markov_transitions_row_stochastic(spark):
    """Transition counts per user = events - 1; each row of the matrix
    is (truncated-)stochastic: sum(p_ppm) in (1e6 - |types|, 1e6]."""
    from datamunging_spark.ml_ops import markov_transitions

    mk = markov_transitions(spark, SF_DIR).toPandas()
    ev = t(spark, SF_DIR, "events")
    per_user = ev.groupBy("user_id").count().toPandas()
    assert int(mk.n.sum()) == int((per_user["count"] - 1).sum())
    for _, g in mk.groupby("prev_type"):
        s = int(g.p_ppm.sum())
        # each truncating DIV loses < 1 ppm per cell
        assert 1_000_000 - len(g) < s <= 1_000_000


def test_theil_sen_trend_pandas_replica(spark):
    """Exact replica of the two-pick pairwise-slope median in pure
    pandas for every event type."""
    from datamunging_spark.ml_ops import theil_sen_trend

    got = theil_sen_trend(spark, SF_DIR).toPandas().set_index("event_type")
    ev = t(spark, SF_DIR, "events")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
        .toPandas()
    )
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    for et, g in daily.groupby("event_type"):
        d = (pd.to_datetime(g.day) - base).dt.days.to_numpy()
        c = g.cnt.to_numpy()
        keys = []
        for i in range(len(d)):
            for j in range(len(d)):
                if d[i] < d[j]:
                    num = int(c[j] - c[i]) * 1_000_000
                    den = int(d[j] - d[i])
                    q = abs(num) // den  # trunc-toward-zero like DIV
                    keys.append((-q if num < 0 else q, d[i], d[j]))
        keys.sort()
        nn = len(keys)
        lo, hi = (nn + 1) // 2, (nn + 2) // 2
        want = keys[lo - 1][0] + keys[hi - 1][0]
        row = got.loc[et]
        assert int(row.n_pairs) == nn
        assert int(row.slope2_ppm) == want, (et, row.slope2_ppm, want)


def test_session_paths_invariants(spark):
    """Path-mining invariants: n_sessions over ALL paths (no limit)
    sums to the total session count; every path has <= _SP_LEN hops;
    the top-k cut is the true (n DESC, path) head of the full table."""
    from datamunging_spark.ml_ops import _SP_LEN, _SP_TOPK, session_paths

    got = session_paths(spark, SF_DIR).toPandas()
    assert len(got) <= _SP_TOPK
    assert (got.path.str.count(">") <= _SP_LEN - 1).all()
    # descending, path-tie-broken
    rows = list(zip(-got.n_sessions, got.path))
    assert rows == sorted(rows)
    # total sessions: replay the gap rule in pandas
    ev = t(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id"
    ).toPandas().sort_values(["user_id", "ts", "event_id"])
    n_sessions = 0
    for _, g in ev.groupby("user_id"):
        us = g.ts.astype("int64") // 1000  # ns -> us
        n_sessions += 1 + (us.diff().fillna(0) > 1.8e9).sum()
    full = got if len(got) < _SP_TOPK else None
    if full is not None:  # small corpora: the cut didn't truncate
        assert int(got.n_sessions.sum()) == int(n_sessions)


def test_containment_join_planted_and_threshold(spark):
    """Every probe's SOURCE document is a guaranteed full-containment
    match (quote shingles are a subset of the doc's shingles), every
    returned pair clears the integer threshold, and containment_ppm is
    consistent with (inter, probe_sz)."""
    from datamunging_spark.ml_ops import (
        _CJ_DEN,
        _CJ_NUM,
        _CJ_PROBE_OFFSET,
        containment_join,
    )

    got = containment_join(spark, SF_DIR).toPandas()
    assert ((got.probe_id - _CJ_PROBE_OFFSET) % 13 == 5).all()
    assert (got.inter * _CJ_DEN >= got.probe_sz * _CJ_NUM).all()
    assert (
        got.containment_ppm == (got.inter * 1_000_000) // got.probe_sz
    ).all()
    # planted source pair: full containment, for EVERY probe
    src = got[got.doc_id == got.probe_id - _CJ_PROBE_OFFSET]
    n_probes = t(spark, SF_DIR, "documents").where(
        F.col("doc_id") % 13 == 5
    ).count()
    assert len(src) == n_probes
    assert (src.containment_ppm == 1_000_000).all()


def test_code_switch_planted_guarantee(spark):
    """The 20-word German run (>= 2 chunks) guarantees a confident
    'de' chunk under any alignment, so every INJECTED doc whose
    doc-level vote stayed 'en' (or 'fr') must report >= 1 switch;
    non-injected docs never switch on this corpus (regression pin);
    ppm is consistent with the counts."""
    from datamunging_spark.ml_ops import code_switch_stats

    df = code_switch_stats(spark, SF_DIR).toPandas()
    assert (
        df.switch_ppm == (df.n_switched * 1_000_000) // df.n_chunks
    ).all()
    inj = df[df.doc_id % 9 == 2]
    # any injected doc NOT voted 'de' at doc level must see the planted
    # full-DE chunk as a switch (the airtight direction of the
    # guarantee; docs voted 'de' switch only if they have a confident
    # non-de chunk, which short stopword-poor docs may lack)
    non_de = inj[inj.doc_lang.isin(["en", "fr"])]
    assert (non_de.n_switched >= 1).all()
    # and the injection is non-vacuous in aggregate
    assert int((inj.n_switched > 0).sum()) > 0
    assert int(df[df.doc_id % 9 != 2].n_switched.sum()) == 0


def test_k_truss_pure_python_replica(spark):
    """Third implementation: set-based peel in pure Python must agree
    edge-for-edge (and support-for-support) with the engine."""
    from datamunging_spark.ml_ops import KTRUSS_K, _link_edges_undirected, k_truss

    got = k_truss(spark, SF_DIR).toPandas()
    und = _link_edges_undirected(spark, SF_DIR).toPandas()
    edges = set(zip(und.u, und.v))

    def supports(es):
        nb = {}
        for u, v in es:
            nb.setdefault(u, set()).add(v)
            nb.setdefault(v, set()).add(u)
        return {
            (u, v): len(nb[u] & nb[v]) for u, v in es
        }

    while True:
        sup = supports(edges)
        keep = {e for e, s in sup.items() if s >= KTRUSS_K - 2}
        if keep == edges:
            break
        edges = keep
    sup = {e: s for e, s in supports(edges).items() if s > 0}
    want = sorted((u, v, s) for (u, v), s in sup.items())
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_spatial_join_grid_brute_force_replica(spark):
    """The grid candidate generator must return EXACTLY the naive
    all-pairs result (recall AND precision) — replicated in numpy."""
    from datamunging_spark.ml_ops import _SP_R, _md5_long, spatial_join_grid

    got = spatial_join_grid(spark, SF_DIR).toPandas()
    docs = t(spark, SF_DIR, "documents").select(
        "doc_id",
        (_md5_long("lat:", F.col("doc_id")) % 1_000_000).alias("lat"),
        (_md5_long("lon:", F.col("doc_id")) % 1_000_000).alias("lon"),
    ).toPandas()
    import numpy as np

    ids = docs.doc_id.to_numpy()
    lat = docs.lat.to_numpy()
    lon = docs.lon.to_numpy()
    d2 = (lat[:, None] - lat[None, :]) ** 2 + (
        lon[:, None] - lon[None, :]
    ) ** 2
    ii, jj = np.where(
        (d2 <= _SP_R * _SP_R) & (ids[:, None] < ids[None, :])
    )
    want = sorted(
        (int(ids[i]), int(ids[j]), int(d2[i, j])) for i, j in zip(ii, jj)
    )
    assert [tuple(r) for r in got.itertuples(index=False)] == want


def test_auc_exact_pure_python_replica(spark):
    """Midrank Mann-Whitney replica in pure Python; the planted
    score/label shift must make the metric discriminative."""
    from datamunging_spark.ml_ops import auc_exact

    got = auc_exact(spark, SF_DIR).toPandas().iloc[0]
    docs = t(spark, SF_DIR, "documents").select(
        "doc_id", F.length("text").alias("nc")
    ).toPandas()
    rows = [
        (int(nc) + 50 * (int(d) % 3 == 0), int(d) % 3 == 0)
        for d, nc in zip(docs.doc_id, docs.nc)
    ]
    rows.sort()
    # doubled midranks per tied group
    sum2 = 0
    i = 0
    while i < len(rows):
        j = i
        while j < len(rows) and rows[j][0] == rows[i][0]:
            j += 1
        r2 = (i + 1) + j  # 2 * midrank = rank_min + rank_max
        sum2 += r2 * sum(1 for k in range(i, j) if rows[k][1])
        i = j
    n_pos = sum(1 for _, l in rows if l)
    n_neg = len(rows) - n_pos
    u2 = sum2 - n_pos * (n_pos + 1)
    assert int(got.n_pos) == n_pos and int(got.n_neg) == n_neg
    assert int(got.u2) == u2
    assert int(got.auc_ppm) == (u2 * 1_000_000) // (2 * n_pos * n_neg)
    assert int(got.auc_ppm) > 550_000  # planted shift is detectable


# ---- resumed-r5 ops: independent replicas / invariants on top of the
# parametrized oracle equality above


def test_cusum_pure_python_recursion_replica(spark):
    """The op computes CUSUM via the prefix-minus-running-min identity;
    this replica runs the TEXTBOOK per-row recursion
    S_i = max(0, S_{i-1} + x_i - mu - k) — a different algorithm —
    and must agree bit-exactly, flags included."""
    import pandas as pd

    from datamunging_spark.ml_ops import cusum_changepoint

    got = cusum_changepoint(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev.ts.notna() & ev.event_type.notna()]
    daily = (
        ev.assign(day=ev.ts.dt.strftime("%Y-%m-%d"))
        .groupby(["event_type", "day"]).size().rename("cnt").reset_index()
    )
    for et, grp in daily.groupby("event_type"):
        grp = grp.sort_values("day")
        total, n_days = int(grp.cnt.sum()), len(grp)
        mu = total // n_days
        slack = max(1, mu // 10)
        s = 0
        for _, row in grp.iterrows():
            s = max(0, s + int(row.cnt) - mu - slack)
            out = got[(got.event_type == et) & (got.day == row.day)]
            assert len(out) == 1
            assert int(out.cusum.iloc[0]) == s, (et, row.day)
            assert int(out.flag.iloc[0]) == int(s > 5 * slack)


def test_dbscan_grid_union_find_replica(spark):
    """Pure-Python union-find replica (third implementation beside the
    engine's min-label propagation and the oracle's recursive-CTE
    closure): same cells, same clusters, same core/border/noise split."""
    import hashlib

    import pandas as pd

    from datamunging_spark.ml_ops import _DB_CELL, _DB_MINPTS, dbscan_grid

    got = dbscan_grid(spark, SF_DIR).toPandas().sort_values("cluster")

    def h60(tag, v):
        return int(
            hashlib.md5(f"{tag}{v}".encode()).hexdigest()[:15], 16
        )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    pts = [
        (
            int(d),
            (h60("lat:", int(d)) % 1_000_000) // _DB_CELL,
            (h60("lon:", int(d)) % 1_000_000) // _DB_CELL,
        )
        for d in docs.doc_id
    ]
    from collections import Counter

    counts = Counter((cx, cy) for _, cx, cy in pts)
    core = {c for c, n in counts.items() if n >= _DB_MINPTS}
    parent = {c: c for c in core}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for (cx, cy) in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                n = (cx + dx, cy + dy)
                if n in core:
                    ra, rb = find((cx, cy)), find(n)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    # cluster id = min cell key in component (the engine's label)
    comp_key = {}
    for c in core:
        r = find(c)
        k = c[0] * 1000 + c[1]
        comp_key[r] = min(comp_key.get(r, k), k)
    clusters = {c: comp_key[find(c)] for c in core}
    n_cells = Counter(clusters.values())
    n_core = Counter()
    n_border = Counter()
    noise = 0
    for _, cx, cy in pts:
        if (cx, cy) in core:
            n_core[clusters[(cx, cy)]] += 1
        else:
            nbrs = [
                clusters[(cx + dx, cy + dy)]
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if (cx + dx, cy + dy) in core
            ]
            if nbrs:
                n_border[min(nbrs)] += 1
            else:
                noise += 1
    want = sorted(
        [(k, n_cells[k], n_core.get(k, 0), n_border.get(k, 0))
         for k in n_cells]
        + [(-1, 0, 0, noise)]
    )
    have = [
        (int(r.cluster), int(r.n_cells), int(r.n_core), int(r.n_border))
        for r in got.itertuples()
    ]
    assert have == want


def test_record_linkage_true_pairs_matched(spark):
    """Semantic invariants of the Fellegi-Sunter decision rule on the
    perturbed twin: identity pairs with an exact name always match;
    pairs whose ONLY corruption is the name are rescued by the
    prefix/balance/segment fields; pairs corrupted in BOTH name and
    segment may legitimately fall below the LR >= 10 threshold (FS
    trades recall on doubly-damaged records for precision — asserting
    they match would assert a miscalibrated scorer)."""
    import hashlib

    from datamunging_spark.ml_ops import record_linkage_fs

    got = record_linkage_fs(spark, SF_DIR).toPandas()
    true_pairs = got[got.id_a == got.id_b]
    assert len(true_pairs) > 0
    clean_name = true_pairs[true_pairs.g_name == 1]
    assert len(clean_name) > 0
    assert (clean_name.is_match == 1).all()

    def h60(v):
        return int(
            hashlib.md5(f"rl:{v}".encode()).hexdigest()[:15], 16
        )

    corrupted = true_pairs[[h60(i) % 3 == 0 for i in true_pairs.id_a]]
    assert len(corrupted) > 0, "window held no corrupted-name true pair"
    assert (corrupted.g_name == 0).all()  # the corruption really landed
    name_only = corrupted[corrupted.g_seg == 1]
    assert len(name_only) > 0
    assert (name_only.is_match == 1).all()  # other fields rescue
    # every pair the rule DOES match must agree on at least 2 fields
    matched = got[got.is_match == 1]
    agree = matched.g_name + matched.g_pre + matched.g_bal + matched.g_seg
    assert (agree >= 2).all()


def test_bootstrap_ci_brackets_exact_mean(spark):
    """The percentile CI must bracket the exact mean for every group,
    and the point estimate must equal the direct pandas computation."""
    import pandas as pd

    from datamunging_spark.ml_ops import bootstrap_ci

    got = bootstrap_ci(spark, SF_DIR).toPandas()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev.value.notna() & ev.event_type.notna()]
    import math

    for r in got.itertuples():
        grp = ev[ev.event_type == r.event_type]
        cents = [math.floor(v * 100) for v in grp.value]
        assert int(r.n) == len(cents)
        assert int(r.mean_fp) == (sum(cents) * 100) // len(cents)
        assert int(r.lo_fp) <= int(r.mean_fp) <= int(r.hi_fp)
        assert int(r.lo_fp) < int(r.hi_fp)


def test_bootstrap_replicates_with_zero_weight_are_dropped(spark, tmp_path):
    """A one-row event_type weighs 0 in about e^-1 of its 64 Poisson
    replicates. Those replicates have no mean: both engines drop them
    and rank the CI against the survivors, so Spark (NULLS FIRST) and
    DuckDB (NULLS LAST) agree, and the CI of a constant is the constant.
    ab_test_uplift's two-row type (one row per arm) loses every
    replicate that zeroes either arm."""
    import hashlib

    from datamunging_spark.ml_ops import (
        _BOOT_A, _BOOT_C, _BOOT_P, _POIS_CDF_PPM,
    )

    solo_id = 1_000_000
    h0 = int(hashlib.md5(f"bs:{solo_id}".encode()).hexdigest()[:15], 16)
    zero = sum(
        ((h0 % _BOOT_P * a + c) % _BOOT_P) % 1_000_000 < _POIS_CDF_PPM[0]
        for a, c in zip(_BOOT_A, _BOOT_C)
    )
    assert zero == 25  # ranks 1..25 would be NULL without the drop
    path = f"{tmp_path}/events.parquet"
    duckdb.sql(
        "COPY (SELECT * FROM read_parquet('"
        f"{SF_DIR}/events.parquet') UNION ALL "
        f"SELECT {solo_id}, TIMESTAMP '2024-01-02', 1, 'solo', 12.5, NULL "
        f"UNION ALL SELECT {solo_id + 1}, TIMESTAMP '2024-01-02', 2, "
        f"'pair', 5.0, NULL UNION ALL SELECT {solo_id + 2}, "
        f"TIMESTAMP '2024-01-02', 3, 'pair', 7.0, NULL) TO '{path}'"
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    for name in ("bootstrap_ci", "ab_test_uplift"):
        fn, sql = ML_QUERIES[name]
        got = fn(spark, str(tmp_path)).toPandas()
        assert _rows(got) == _rows(con.sql(sql).df()), name
        if name == "bootstrap_ci":
            solo = got[got.event_type == "solo"].iloc[0]
            assert (int(solo.n), int(solo.lo_fp), int(solo.hi_fp)) == (
                1, 125000, 125000
            )
        else:
            assert "pair" in set(got.event_type)  # 31 replicates survive


def test_json_k_casts_give_null_for_non_integers(spark, tmp_path):
    """A props ``k`` that is not an integer string reads as NULL in both
    engines: Spark's try_cast, and a DuckDB twin that, unlike DuckDB's
    own casts, does not round '3.5' to 4. Padding spaces are trimmed and
    an INT overflow is NULL in both."""
    import json

    from datamunging_spark.queries import RELATIONAL_QUERIES

    ks = ["x", "", "3.5", " 7", "99999999999", " 1000 ", "1001", None]
    extra = " ".join(
        f"UNION ALL SELECT {2_000_000 + 10 * u + i}, TIMESTAMP '2024-01-02', "
        f"{900_000 + u}, 'jsonk', 1.0, "
        f"'{json.dumps({} if k is None else {'k': k})}'"
        for u in range(2)
        for i, k in enumerate(ks)
    )
    path = f"{tmp_path}/events.parquet"
    duckdb.sql(
        "COPY (SELECT * FROM read_parquet("
        f"'{SF_DIR}/events.parquet') {extra}) TO '{path}'"
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    for name, (fn, sql) in (
        ("json_extract", RELATIONAL_QUERIES["json_extract"]),
        ("cooccurrence_recommend", ML_QUERIES["cooccurrence_recommend"]),
    ):
        got = fn(spark, str(tmp_path)).toPandas()
        assert _rows(got) == _rows(con.sql(sql).df()), name
        if name == "json_extract":
            row = got[got.event_type == "jsonk"].iloc[0]
            assert (row.avg_k, row.max_k, row.n) == (669.3333, 1001, 16)
        else:  # items 1000 and 1001 belong to the two new users only
            pair = got[(got["item"] == 1000) & (got["nbr"] == 1001)]
            assert list(pair.cij) == [2]


def test_text_tiling_boundaries_are_local_minima(spark):
    """Every flagged boundary must be under the threshold and strictly
    below both neighbors (sentinel at the edges)."""
    from datamunging_spark.ml_ops import _TT_THRESH_PPM, text_tiling

    got = text_tiling(spark, SF_DIR).toPandas()
    assert (got.is_boundary.isin((0, 1))).all()
    assert int(got.is_boundary.sum()) > 0  # non-vacuous on the corpus
    for doc_id, grp in got.groupby("doc_id"):
        grp = grp.sort_values("pos").reset_index(drop=True)
        sims = list(grp.sim_ppm)
        for i, r in grp.iterrows():
            prev = sims[i - 1] if i > 0 else 10_000_000
            nxt = sims[i + 1] if i + 1 < len(sims) else 10_000_000
            want = int(
                r.sim_ppm < _TT_THRESH_PPM
                and r.sim_ppm < prev
                and r.sim_ppm < nxt
            )
            assert int(r.is_boundary) == want, (doc_id, int(r.pos))
