"""Training-data pipeline operators: deduplication, similarity search,
text analytics, multimodal plumbing.

These are the operations a 100 TB pretraining-data pipeline needs beyond
the reference's OCR cascade (task brief). Everything SQL-expressible has
a DuckDB oracle — including MinHash+LSH and SimHash, whose hashes are
md5-derived int64s computed identically in both engines (xxhash64 is the
documented drop-in for production clusters); pytest adds
recall/precision invariants on top.

Scale notes (the point of each design):
- exact dedup: one hash-shuffle on the text hash — never on raw text.
- MinHash LSH: banding turns O(n²) similarity into an equi-join on
  (band_id, band_hash); candidate verification happens only inside
  buckets. All built-in exprs — no Python in the hot path.
- brute-force ANN is the correctness baseline (broadcast the query set);
  the LSH-bucketed variant is the scale path (prune to matching buckets).
- multimodal: media stay opaque binary columns + typed metadata; decode
  is an Arrow-batched mapInPandas whose real codec is stubbed (container
  has no image libs) behind ``DECODE_AVAILABLE``.
"""

from __future__ import annotations

import itertools
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.window import Window as W

from .functions import (
    cosine,
    cosine_to_literal,
    dot,
    hyperplane_bucket,
    l2_norm,
    md5_long,
    normalized_fingerprint,
    regex_tokens,
    stopword_hits,
    tokens_distinct,
    word_shingles,
)
from .queries import t

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "value"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu"]
STOPWORDS_FR = ["le", "la", "les", "et", "de", "un", "une", "est", "pour"]


def _md5_long(tag, key_col):
    """Tagged md5 int64 — composes the module's core md5_long idiom."""
    return md5_long(F.concat(F.lit(tag), key_col.cast("string")))


def _md5_u01(tag, key_col):
    """md5-uniform in [0,1) keyed on (tag, key) — engine-replayable."""
    return _md5_long(tag, key_col) / F.lit(float(1 << 60))


# --------------------------------------------------------------------------
# fixpoint(): one loop for every query that iterates to a fixpoint. Seven
# catalog queries iterate a DataFrame until a round no longer changes
# it: connected_components (min-label propagation), k_core and k_truss
# (peeling), thread_roots (pointer doubling), bfs_levels (frontier
# waves), graph_components_lss (star contraction) and dbscan_grid
# (min-label propagation over cells). Each
# supplies its round as a DataFrame -> DataFrame step; fixpoint() owns the
# loop and the stopping rule:
#   - every state, the initial one included, is localCheckpoint-ed, which
#     cuts the per-round lineage so plans stay O(1) deep (at cluster
#     scale: a checkpoint to the job's storage);
#   - each checkpoint is .observe()d with count(*) and
#     bit_xor(xxhash64(*columns)), so the fingerprint comes out of the
#     checkpoint job and comparing a round with the previous one costs no
#     job. (Not sum(xxhash64): ANSI mode raises ARITHMETIC_OVERFLOW on it;
#     xor cannot overflow.) Different fingerprints prove the states
#     differ;
#   - equal fingerprints are confirmed exactly: equal counts and
#     count(new LEFT SEMI old on every column) == count(new). A collision
#     the check rejects just runs another round; barring one, a run pays
#     one exact check, at its end;
#   - past max_rounds it raises, so a query returns its true fixpoint or
#     fails loudly, never an under-converged answer.
# Round r compares state r with state r - 1 (state 0 is the initial one).
# --------------------------------------------------------------------------


def _checkpoint_fingerprinted(df: DataFrame) -> tuple[DataFrame, dict]:
    """localCheckpoint ``df``; returns (frame, fingerprint), the
    fingerprint {"n": count(*), "h": bit_xor(xxhash64(*columns))} taken
    by the checkpoint job itself."""
    obs = Observation()
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).localCheckpoint()
    return df, obs.get


def _same_rows(new: DataFrame, old: DataFrame, n: int) -> bool:
    """Exact test that ``new`` equals ``old`` when both hold ``n`` rows and
    both are distinct: new ⊆ old then leaves no room for an old row
    outside new."""
    return new.join(old, new.columns, "left_semi").count() == n


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    name: str,
    max_rounds: int,
) -> DataFrame:
    """Apply ``step`` to ``state`` until a round returns the rows it was
    given, and return that (checkpointed) state.

    Precondition: ``state`` and every ``step`` output are distinct sets of
    rows (each caller keys its state or ends its step with a distinct).
    The exact check compares rows with ``=`` on every column, which is
    set equality only for distinct sets; a NULL never compares equal, so
    a state holding one fails the check and the loop raises rather than
    stopping early.

    Raises ``RuntimeError`` naming ``name`` when ``max_rounds`` rounds
    reach no fixpoint.
    """
    state, fp = _checkpoint_fingerprinted(state)
    for _ in range(max_rounds):
        new, new_fp = _checkpoint_fingerprinted(step(state))
        done = new_fp == fp and _same_rows(new, state, new_fp["n"])
        state, fp = new, new_fp
        if done:
            return state
    raise RuntimeError(
        f"{name} did not converge: no fixpoint within {max_rounds} rounds"
    )


# --------------------------------------------------------------------------
# Exact deduplication. Input synthesizes duplicates (the testdata has
# none): every doc with doc_id % 10 == 0 reappears under doc_id+100000.
# Group on the text itself (Catalyst hashes it for the shuffle — at scale
# substitute sha2(text, 256) to shrink shuffle payload; semantics equal).
# --------------------------------------------------------------------------


def dedup_exact(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return (
        docs.unionByName(dupes)
        .groupBy("text")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.count("*").alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .select("keeper", "n_copies")
        .orderBy("keeper")
    )


DEDUP_EXACT_SQL = """
SELECT keeper, n_copies FROM (
  SELECT min(doc_id) AS keeper, count(*) AS n_copies
  FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  )
  GROUP BY text
) WHERE n_copies > 1 ORDER BY keeper
"""


# --------------------------------------------------------------------------
# Near-dup: token-set Jaccard over same-source candidate pairs.
# The blocking key (source) stands in for LSH bands in the SQL-checkable
# variant; dedup_minhash_lsh below is the real scale path.
# --------------------------------------------------------------------------


def dedup_token_jaccard(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens_distinct(F.col("text")).alias("tk")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    jac = F.size(F.array_intersect("a.tk", "b.tk")) / F.size(
        F.array_union("a.tk", "b.tk")
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.round(jac, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.8)
        .orderBy("d1", "d2")
    )


DEDUP_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents
)
SELECT d1, d2, jaccard FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         round(len(list_intersect(a.tk, b.tk))::DOUBLE
               / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
  FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
) WHERE jaccard >= 0.8 ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
# MinHash + LSH banding — fully DuckDB-oracle-checked. The base shingle
# hash is the md5→int64 trick (first 15 md5 hex chars, < 2^60) proven by
# winnow_fingerprint, so BOTH engines compute bit-identical signatures:
# Spark hashes each shingle once JVM-side and takes the 32-way
# multiply-shift min in a vectorized numpy UDF; DuckDB replays the same
# (a_k * h + b_k) mod 2^64 arithmetic in HUGEINT (h < 2^60 so the
# product fits 128 bits — no wrap emulation needed). xxhash64 is the
# drop-in base-hash swap on a production cluster where no cross-engine
# oracle runs (one seeded 64-bit hash either way; banding unchanged).
# Plan shape at scale: shuffle thin rows → ONE projection computing all
# 32 min-hashes → explode bands → groupBy band bucket → pairs inside
# buckets only → exact verify on the candidates.
# --------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = N_HASHES // N_BANDS

_MASK64 = 2**64
# Multiply-shift coefficients: odd multipliers (bijections of the base
# hash mod 2^64), identical literals in the numpy UDF and the oracle SQL.
_MINHASH_A = [((2 * k + 1) * 0x9E3779B97F4A7C15) % _MASK64 for k in range(N_HASHES)]
_MINHASH_B = [(k * 0xBF58476D1CE4E5B9) % _MASK64 for k in range(N_HASHES)]


def _with_shingles(
    docs: DataFrame, k: int = 3, extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, *extra_cols, sh). Repartition the RAW docs BEFORE
    projecting the shingles: ``select(...).repartition(n)`` puts the
    projection under the exchange, i.e. the whole shingle build runs
    inside the scan stage — one task for a single small parquet file.
    Shuffling thin (doc_id, text) rows first costs almost nothing and
    lets the heavy expression run at full parallelism."""
    par = docs.sparkSession.sparkContext.defaultParallelism * 2
    return docs.repartition(par).select(
        "doc_id", *extra_cols, word_shingles(F.col("text"), k).alias("sh")
    )


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_from_base(base: pd.Series) -> pd.Series:
    """32 minhashes per row from the row's base shingle hashes, computed
    as one numpy pass over the whole Arrow batch (flatten + outer
    multiply-shift + ``minimum.reduceat``): h_k(s) = a_k * base(s)
    + b_k over uint64 (wrapping ≡ mod 2^64). Odd multipliers keep each
    h_k a bijection of the base hash, so min-wise behavior tracks the
    base hash's uniformity."""
    import numpy as np

    if base.empty:
        return pd.Series([], dtype=object)
    a = np.array(_MINHASH_A, dtype=np.uint64)
    b = np.array(_MINHASH_B, dtype=np.uint64)
    rows = [np.asarray(r, dtype=np.int64) for r in base]
    lens = np.array([len(r) for r in rows])
    flat = np.concatenate(rows).view(np.uint64)
    with np.errstate(over="ignore"):
        # (N_HASHES, total_shingles) — wrapping uint64 arithmetic
        vals = a[:, None] * flat[None, :] + b[:, None]
    offsets = np.zeros(len(rows), dtype=np.intp)
    np.cumsum(lens[:-1], out=offsets[1:])
    mins = np.minimum.reduceat(vals, offsets, axis=1)  # (N_HASHES, n_rows)
    out = np.ascontiguousarray(mins.T).view(np.int64)
    return pd.Series(list(out))


def _minhash_signatures(
    docs: DataFrame, shingle_k: int = 3, extra_cols: tuple = ()
) -> DataFrame:
    """(doc_id, *extra_cols, sig: array<long>[32]) over k-word shingles.

    Shuffle-free by construction: a pure projection, embarrassingly
    parallel at 10^12 docs (vs. the naive explode → groupBy formulation,
    which shuffles |docs|·|shingles| rows). Each shingle string is
    md5-hashed ONCE JVM-side; the 32-way min runs in a vectorized Arrow
    UDF. The all-JVM alternative (nested ``transform``/``array_min``
    lambdas) evaluates 32 interpreted lambda calls per shingle — measured
    ~40 µs per eval, ~10 s for 5k docs — because higher-order functions
    never enter codegen; the numpy batch pass does the same work in
    milliseconds and is the scale path.
    """
    with_sh = _with_shingles(docs, shingle_k, extra_cols)
    base = F.transform(F.col("sh"), lambda s: md5_long(s))
    return with_sh.select(
        "doc_id", *extra_cols, _minhash_from_base(base).alias("sig")
    )


def _band_array(n_bands: int = N_BANDS):
    """(band_id, band_hash) structs over a `sig` column — the ONE band
    expression shared by `lsh_candidate_pairs` and `dedup_incremental`
    (factored so in-set pairing and index-probe banding can't drift)."""
    rows_per_band = N_HASHES // n_bands
    s = F.col("sig")
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                md5_long(
                    F.concat_ws(
                        "|",
                        *[
                            s[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def lsh_candidate_pairs(docs: DataFrame, n_bands: int = N_BANDS,
                        shingle_k: int = 3,
                        block_cols: tuple = ()) -> DataFrame:
    """Candidate near-dup pairs via LSH banding on minhash signatures.

    ``n_bands`` trades precision for recall at fixed signature width:
    8 bands × 4 rows targets j≥0.8 dedup; 16 bands × 2 rows pushes
    per-pair miss probability at j=0.8 to (1-0.8²)^16 ≈ 8e-8, which is
    what the clustering chain uses so its LSH-fed edges equal the exact
    all-pairs edge set (pytest-asserted). ``block_cols`` (e.g. source)
    join the bucket key so cross-block candidates never shuffle at all."""
    sig = _minhash_signatures(docs, shingle_k, block_cols)
    bands = _band_array(n_bands)
    exploded = sig.select(
        "doc_id", *block_cols, F.explode(bands).alias("b")
    ).select("doc_id", *block_cols, "b.band_id", "b.band_hash")
    # One shuffle: group each LSH bucket, expand pairs inside the row
    # (array expr, no self-join — the naive self-join computes the whole
    # signature scan twice and O(n²) join probes; this is the standard
    # bucket-local expansion).
    buckets = exploded.groupBy("band_id", "band_hash", *block_cols).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    pairs = buckets.where(F.size("ids") > 1).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("d1"), y.alias("d2")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.d1", "p.d2").distinct()


MINHASH_THRESHOLD = 0.6


def _verify_candidate_pairs(cands, docs, token_expr_fn, threshold: float):
    """Exact-Jaccard verification of candidate (d1, d2) pairs — the ONE
    verify join shared by ``dedup_minhash_lsh`` and the clustering edge
    feed. Token/shingle sets are built ONLY for candidate documents: at
    10^12 docs the candidate set is orders of magnitude smaller than
    the corpus, so the broadcast-semi-join prunes the rebuild to that
    subset instead of a second full-corpus pass (plan-asserted by
    test_minhash_verify_scans_only_candidates).

    The broadcast hint stays ONLY on the id semi-join (ids are a few
    bytes per candidate — broadcastable far past 10^9 candidates). The
    verify joins against the token ARRAYS carry no hint: at 10^12 docs
    the candidate-doc shingle sets, while orders of magnitude smaller
    than the corpus, can still exceed broadcast limits, and a hard hint
    would OOM the driver instead of degrading; un-hinted, AQE picks
    broadcast when the rebuilt side is actually small (it is at sandbox
    scale) and shuffle joins otherwise."""
    cand_ids = (
        cands.select(F.explode(F.array("d1", "d2")).alias("doc_id")).distinct()
    )
    cand_docs = (
        docs.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        .select("doc_id", token_expr_fn(F.col("text")).alias("tk"))
    )
    jac = F.size(F.array_intersect("a.tk", "b.tk")) / F.size(
        F.array_union("a.tk", "b.tk")
    )
    return (
        cands.join(cand_docs.alias("a"), cands.d1 == F.col("a.doc_id"))
        .join(cand_docs.alias("b"), cands.d2 == F.col("b.doc_id"))
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def dedup_minhash_lsh(spark, sf_dir, threshold: float = MINHASH_THRESHOLD):
    """LSH candidates verified by exact shingle Jaccard >= threshold."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # Candidates are consumed three times (pairs join + two id sides);
    # localCheckpoint materializes the (small) pair set exactly once
    # instead of re-running the full LSH per consumer.
    cands = lsh_candidate_pairs(docs).localCheckpoint()
    return _verify_candidate_pairs(
        cands, docs, lambda c: word_shingles(c, 3), threshold
    ).orderBy("d1", "d2")


def _shingle_sql(k: int, src: str = "documents") -> str:
    """DuckDB mirror of word_shingles(text, k) — the ONE shingle
    formulation shared by the MinHash and decontamination oracles."""
    w = "string_split(lower(text), ' ')"
    grams = ", ".join(f"{w}[i + {j}]" for j in range(k))
    return (
        f"SELECT doc_id, CASE WHEN len({w}) >= {k} THEN "
        f"list_distinct(list_transform(range(1, len({w}) - {k} + 2), "
        f"i -> concat_ws(' ', {grams}))) ELSE [text] END AS sh FROM {src}"
    )


_SH3_SQL = f"""
sh AS ({_shingle_sql(3)})
"""


def _minhash_replay_ctes() -> str:
    """The shingle→hash→signature→band CTE chain of the MinHash replay,
    shared by `_minhash_lsh_sql` and `_inc_sql` (factored so the two
    oracles can never drift): same md5→int64 base hash, same
    (a_k·h + b_k) mod 2^64 multiply-shift minima (HUGEINT arithmetic —
    h < 2^60 so products fit 128 bits), same md5 band hashes over the
    signed-int64 signature strings."""
    sig_cols = ",\n         ".join(
        f"min((CAST({a} AS HUGEINT) * h + {b}) % 18446744073709551616) AS s{k}"
        for k, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )

    def signed(c: str) -> str:  # uint64 bit pattern -> int64 (numpy view)
        return (
            f"CAST(CASE WHEN {c} >= 9223372036854775808 "
            f"THEN {c} - 18446744073709551616 ELSE {c} END AS BIGINT)"
        )

    band_selects = []
    for b in range(N_BANDS):
        parts = ", ".join(
            f"CAST({signed(f's{b * ROWS_PER_BAND + r}')} AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id,\n"
            f"  CAST(concat('0x', substr(md5(concat_ws('|', {parts})), 1, 15))"
            f" AS BIGINT) AS band_hash FROM sigs"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_selects)
    return f"""{_SH3_SQL.strip()},
hashes AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(unnest(sh)), 1, 15)) AS BIGINT) AS h
  FROM sh
),
sigs AS (
  SELECT doc_id, {sig_cols}
  FROM hashes GROUP BY doc_id
),
bands AS (
  {bands_sql}
)"""


def _minhash_lsh_sql(threshold: float = MINHASH_THRESHOLD) -> str:
    """DuckDB replay of the full MinHash+LSH pipeline: the shared
    signature/banding CTEs plus same bucket pairing and exact-Jaccard
    verification."""
    return f"""
WITH {_minhash_replay_ctes()},
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT d1, d2, jaccard FROM (
  SELECT c.d1, c.d2,
         round(len(list_intersect(x.sh, y.sh))::DOUBLE
               / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
  FROM cands c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2
) WHERE jaccard >= {threshold} ORDER BY d1, d2
"""


# --------------------------------------------------------------------------
# SimHash: 16-bit signature from signed bit-votes of token hashes — all
# built-in exprs via explode + conditional sums. Token hash is the same
# md5→int64 trick, so the whole query is DuckDB-oracle-checked.
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_docs(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism * 2)
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).withColumn("h", md5_long(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v_{b}")
        for b in range(SIMHASH_BITS)
    ]
    sig = toks.groupBy("doc_id").agg(*votes)
    bits = sum(
        (F.when(F.col(f"v_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0)))
        for b in range(SIMHASH_BITS)
    )
    return sig.select("doc_id", bits.cast("int").alias("simhash")).orderBy("doc_id")


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
votes AS (
  SELECT doc_id, {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS INTEGER) AS simhash
FROM votes ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Language ID: stopword-hit scoring (deterministic heuristic; the point is
# the distributed shape — broadcast literal lists, one scan, no shuffle
# until the final count).
# --------------------------------------------------------------------------


def lang_id_stopword(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    s_en = stopword_hits(F.col("text"), STOPWORDS_EN)
    s_de = stopword_hits(F.col("text"), STOPWORDS_DE)
    s_fr = stopword_hits(F.col("text"), STOPWORDS_FR)
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_fr) & (s_en > 0), "en")
        .when((s_de >= s_fr) & (s_de > 0), "de")
        .when(s_fr > 0, "fr")
        .otherwise("unknown")
    )
    return (
        docs.select(pred.alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_pred")
    )


LANG_ID_SQL = f"""
WITH scored AS (
  SELECT len(list_intersect(tk, {STOPWORDS_EN!r})) AS s_en,
         len(list_intersect(tk, {STOPWORDS_DE!r})) AS s_de,
         len(list_intersect(tk, {STOPWORDS_FR!r})) AS s_fr
  FROM (SELECT list_distinct(string_split(lower(text), ' ')) AS tk FROM documents)
)
SELECT lang_pred, count(*) AS n FROM (
  SELECT CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
              WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
              WHEN s_fr > 0 THEN 'fr'
              ELSE 'unknown' END AS lang_pred
  FROM scored
) GROUP BY lang_pred ORDER BY lang_pred
"""


# --------------------------------------------------------------------------
# Text quality scoring: pure column arithmetic, SQL-mirrored.
# --------------------------------------------------------------------------


def text_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    stop_hits = stopword_hits(F.col("text"), STOPWORDS_EN)
    n_distinct = F.size(tokens_distinct(F.col("text")))
    return (
        docs.where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            n_toks.alias("n_tokens"),
            # empty-text guard: 0/0 raises under ANSI; define 0.0 (no
            # alpha chars in no text), same CASE in the oracle
            F.round(
                F.when(n_chars > 0, alpha_chars / n_chars).otherwise(0.0), 4
            ).alias("alpha_ratio"),
            F.round(n_distinct / n_toks, 4).alias("distinct_ratio"),
            F.round(stop_hits / n_distinct, 4).alias("stop_ratio"),
        )
        .orderBy("doc_id")
    )


TEXT_QUALITY_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       round(CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                       / length(text)
                  ELSE 0.0 END, 4) AS alpha_ratio,
       round(len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             / len(string_split(text, ' ')), 4) AS distinct_ratio,
       round(len(list_intersect(list_distinct(string_split(lower(text), ' ')),
                                {STOPWORDS_EN!r}))::DOUBLE
             / len(list_distinct(string_split(lower(text), ' '))), 4) AS stop_ratio
FROM documents WHERE doc_id < 200 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Token counting (BPE-ish regex) + corpus stats.
# --------------------------------------------------------------------------


def token_stats(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    toks = regex_tokens(F.col("text"))
    per_doc = docs.select("lang", toks.alias("tk"))
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum(F.size("tk")).alias("total_tokens"),
            F.round(F.avg(F.size("tk")), 4).alias("avg_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


TOKEN_STATS_SQL = """
SELECT lang,
       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
       round(avg(len(tk)), 4) AS avg_tokens,
       count(*) AS n_docs
FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z]+') AS tk FROM documents)
GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# Document fingerprinting: md5 over whitespace-normalized lowercase text.
# --------------------------------------------------------------------------


def doc_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.where(F.col("doc_id") < 100)
        .select(
            "doc_id", normalized_fingerprint(F.col("text")).alias("fingerprint")
        )
        .orderBy("doc_id")
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint
FROM documents WHERE doc_id < 100 ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD 2003): rolling k-gram
# hashes, keep the minimum of each w-window — the standard
# containment/plagiarism fingerprint, robust to insertions unlike the
# whole-doc md5 above. Hash = first 15 hex chars of md5(k-gram) as int64,
# computed identically in Spark (conv base16) and DuckDB (0x cast) so the
# query is fully oracle-checked. This relational form (posexplode +
# running window min) is the executable spec; at 100 TB the same math
# runs per-doc inside the extraction cascade's Arrow pass instead of
# exploding one row per character offset.
# --------------------------------------------------------------------------

WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 4  # winnow window (hashes)


def winnow_fingerprint(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(
        (F.col("doc_id") < 200) & (F.length("text") >= WINNOW_K)
    )
    txt = F.lower(F.col("text"))
    m = F.length("text") - WINNOW_K + 1  # number of k-grams
    gram_hash = lambda i: md5_long(txt.substr(i, F.lit(WINNOW_K)))  # noqa: E731
    grams = docs.select(
        "doc_id",
        m.alias("m"),
        F.posexplode(
            F.transform(F.sequence(F.lit(1), m), gram_hash)
        ).alias("pos0", "h"),
    )
    win = W.partitionBy("doc_id").orderBy("pos0").rowsBetween(0, WINNOW_W - 1)
    fps = grams.select(
        "doc_id",
        "pos0",
        "m",
        F.min("h").over(win).alias("fp"),
    ).where(F.col("pos0") <= F.col("m") - WINNOW_W)  # full windows only
    return (
        fps.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fp"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


WINNOW_SQL = f"""
WITH base AS (
  SELECT doc_id, lower(text) AS txt, length(text) - {WINNOW_K} + 1 AS m
  FROM documents WHERE doc_id < 200 AND length(text) >= {WINNOW_K}
),
g AS (
  SELECT doc_id, m, unnest(generate_series(1, m)) AS pos FROM base
),
h AS (
  SELECT g.doc_id, g.m, g.pos,
         CAST(concat('0x', substr(md5(substr(b.txt, g.pos, {WINNOW_K})), 1, 15))
              AS BIGINT) AS h
  FROM g JOIN base b USING (doc_id)
),
w AS (
  SELECT doc_id, m, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM h
)
SELECT doc_id, count(DISTINCT fp) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
FROM w WHERE pos <= m - {WINNOW_W} + 1
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Similarity search. Deterministic 64-dim query vector (exact decimal
# literals so Spark and DuckDB parse identical doubles).
# --------------------------------------------------------------------------

QUERY_VEC = [((i % 13) - 6) / 10.0 for i in range(64)]


def ann_cosine_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            "label",
            F.round(cosine_to_literal(F.col("embedding"), QUERY_VEC), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(20)
    )


ANN_TOPK_SQL = f"""
SELECT vec_id, label,
       CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
            THEN round(list_dot_product(embedding::DOUBLE[], {QUERY_VEC!r})
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt({sum(x * x for x in QUERY_VEC)!r})), 4)
            ELSE 0.0 END AS cos
FROM embeddings
ORDER BY cos DESC, vec_id LIMIT 20
"""

# 4 deterministic hyperplanes for the LSH-bucketed scale path.
HYPERPLANES = [[(((i * (j + 2) + 3) % 7) - 3) / 5.0 for i in range(64)] for j in range(4)]


def ann_lsh_buckets(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    bucket = hyperplane_bucket(F.col("embedding"), HYPERPLANES)
    return (
        emb.select(bucket.alias("bucket"), "label")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.round(F.avg("label"), 4).alias("avg_label"))
        .orderBy("bucket")
    )


ANN_LSH_SQL = f"""
SELECT bucket, count(*) AS n, round(avg(label), 4) AS avg_label
FROM (
  SELECT CAST(
      (CASE WHEN list_dot_product(embedding::DOUBLE[], {HYPERPLANES[0]!r}) > 0 THEN 1 ELSE 0 END)
    + (CASE WHEN list_dot_product(embedding::DOUBLE[], {HYPERPLANES[1]!r}) > 0 THEN 2 ELSE 0 END)
    + (CASE WHEN list_dot_product(embedding::DOUBLE[], {HYPERPLANES[2]!r}) > 0 THEN 4 ELSE 0 END)
    + (CASE WHEN list_dot_product(embedding::DOUBLE[], {HYPERPLANES[3]!r}) > 0 THEN 8 ELSE 0 END)
    AS INT) AS bucket, label
  FROM embeddings
) GROUP BY bucket ORDER BY bucket
"""


def knn_join_topk(spark, sf_dir):
    """For each query vector (vec_id < 5), its 3 nearest others by cosine.

    Broadcast the tiny query side; at scale this is the standard
    brute-force kNN join shape (block the big side, broadcast queries).
    """
    emb = t(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("q_vec"),
    )
    # Repartition the candidate side: a small single-row-group parquet
    # scans as ONE task, and the per-pair HOF cosine (interpreted lambda,
    # never codegen) is the expensive part — spread it first.
    cand = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("c_vec"),
    )
    cos = cosine(F.col("q_vec"), F.col("c_vec"))
    scored = cand.join(F.broadcast(qs), F.col("q_id") != F.col("c_id")).select(
        "q_id", "c_id", cos.alias("cos_raw")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos_raw"), "c_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "q_id",
            "c_id",
            F.round("cos_raw", 4).alias("cos"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("q_id", "rk")
    )


KNN_JOIN_SQL = """
SELECT q_id, c_id, round(cos_raw, 4) AS cos, CAST(rk AS INT) AS rk
FROM (
  SELECT q_id, c_id, cos_raw,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_raw DESC, c_id) AS rk
  FROM (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           CASE WHEN list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) > 0
                 AND list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]) > 0
                THEN list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
                ELSE 0.0 END AS cos_raw
    FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id != q.vec_id
  )
)
WHERE rk <= 3 ORDER BY q_id, rk
"""


# --------------------------------------------------------------------------
# Multimodal plumbing (rows-only): opaque binary media + typed metadata;
# decode/feature-extract as an Arrow-batched mapInPandas. The real codec
# is unavailable in this container — DECODE_AVAILABLE gates it and the
# deterministic fallback keeps schema/partitioning/batch shape real.
# --------------------------------------------------------------------------

try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    DECODE_AVAILABLE = True
except Exception:
    DECODE_AVAILABLE = False

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)


def _decode_real(payload: bytes):  # pragma: no cover
    raise NotImplementedError(
        "real image decode needs PIL/cv2 (absent in this container); "
        "the deterministic fake below keeps the Spark plumbing honest"
    )


def _media_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        checksum = payloads.map(lambda b: sum(b[:64]) % 65536)
        if DECODE_AVAILABLE:  # pragma: no cover
            decoded = payloads.map(_decode_real)
            width = decoded.map(lambda d: d[0])
            height = decoded.map(lambda d: d[1])
        else:
            # deterministic fake dims derived from content
            width = (checksum % 640 + 1).astype("int32")
            height = (n_bytes % 480 + 1).astype("int32")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_kind": pdf["media_kind"],
                "n_bytes": n_bytes.astype("int64"),
                "checksum": checksum.astype("int64"),
                "width": width.astype("int32"),
                "height": height.astype("int32"),
            }
        )


def multimodal_features(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    media = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_kind"),
        F.encode("text", "utf-8").alias("payload"),  # opaque binary stand-in
    )
    return (
        media.repartition(8, "doc_id")
        .mapInPandas(_media_features, schema=MEDIA_FEATURES_SCHEMA)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Flagship extraction query: documents → interleaved spans table → the
# full munge cascade. rows-only for the driver (the cascade is not SQL);
# correctness is pytest's oracle equality.
# --------------------------------------------------------------------------


def extract_munge(spark, sf_dir):
    from .operators.munge import munge

    # Repartition the RAW docs (thin rows: just text) so the span
    # construction and the Python munge fuse into one parallel stage;
    # repartitioning after construction would ship the fat span arrays
    # through the shuffle and leave construction single-core (a small
    # parquet file scans as one partition).
    # One partition per core: each Python task pays a fixed worker
    # start-up whatever its data (as in pipeline._run_stage).
    docs = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # deterministic pagination: 3 pages of ~n/3 words, newline every 8 words
    third = (n / 3).cast("int") + 1

    def page(i):
        seg = F.slice(words, i * third + 1, third)
        lines = F.transform(
            F.sequence(F.lit(0), ((F.size(seg) - 1) / 8).cast("int")),
            lambda j: F.concat_ws(" ", F.slice(seg, j * 8 + 1, 8)),
        )
        return F.concat_ws("\n", lines)

    spans = F.array(
        F.struct(
            F.lit("page").alias("kind"),
            page(0).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("media/"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            F.lit(1).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("page").alias("kind"),
            page(1).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(2).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("page").alias("kind"),
            page(2).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(3).cast("int").alias("offset"),
        ),
    )
    vols = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    out = munge(vols, spark)
    return out.select(
        "doc_id", "pages", "tokens_total", "tokens_in_dict", "tokens_corrected"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Main-content extraction flagship (north rule: HTML boilerplate strip,
# PDF/layout parse, DOM heuristics over the interleaved spans table).
# rows-only for the driver (DuckDB cannot parse HTML); correctness is
# pytest's oracle equality in tests/test_extract.py.
# --------------------------------------------------------------------------

_WEB_HTML_TPL = (
    "<html><head><title>doc %s</title><script>x=1</script></head><body>"
    '<header><h1>Site</h1><nav><ul><li><a href="/a">Home</a></li>'
    '<li><a href="/b">World</a></li></ul></nav></header>'
    '<div class="ad-banner">Buy one get one free today only</div>'
    "<main><article><h2>Entry %s</h2><p>%s</p></article></main>"
    '<aside class="sidebar"><a href="/r">Related one</a></aside>'
    "<footer><p>All rights reserved</p></footer></body></html>"
)
_WEB_PDF_TPL = (
    "400,30,600,45|Site Header\n"
    "60,100,940,140|%s\n"
    "60,160,940,200|%s\n"
    "480,960,520,975|17"
)


def extract_main_content(spark, sf_dir):
    """documents → interleaved (html, media, pdf) spans → the extraction
    operator. Span construction is JVM-side (format_string); the ONE
    Python stage is the mapInArrow extractor."""
    from .operators.extract import extract

    docs = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    did = F.col("doc_id").cast("string")
    html = F.format_string(_WEB_HTML_TPL, did, did, F.col("text"))
    pdf = F.format_string(
        _WEB_PDF_TPL, F.substring("text", 1, 80), F.substring("text", 81, 80)
    )
    spans = F.array(
        F.struct(
            F.lit("html").alias("kind"),
            html.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("media/"), did).alias("media_ref"),
            F.lit(1).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("pdf").alias("kind"),
            pdf.alias("text"),
            F.concat(F.lit("pdf/"), did).alias("media_ref"),
            F.lit(2).cast("int").alias("offset"),
        ),
    )
    vols = docs.select(did.alias("doc_id"), spans.alias("spans"))
    out = extract(vols, spark)
    return out.select(
        "doc_id",
        "html_blocks_kept",
        "html_blocks_dropped",
        "pdf_lines_kept",
        "pdf_lines_dropped",
        "chars_out",
    ).orderBy("doc_id")


def extract_munge_metrics(spark, sf_dir):
    """Driver-hash-checkable munge run: the REAL extraction cascade (one
    Arrow-batched Python stage, same ``munge`` operator as
    ``extract_munge``) over single-page spans synthesized from
    ``documents``.

    Single-page volumes make the cascade's metric arithmetic exactly
    SQL-derivable: running-header detection needs neighboring pages (so
    removes nothing), the corpus vocabulary triggers no corrections or
    hyphen rejoins, and page-number lines cannot occur — leaving
    pages = 1 and tokens_total = the whitespace word count, which DuckDB
    computes independently from ``documents``. This closes the gap where
    the flagship cascade only had a rows-only driver check: a value-hash
    mismatch here means the Python stage miscounted or mutated clean
    text. (extract_munge keeps exercising the multi-page + media path
    under pytest golden equality.)
    """
    from .operators.munge import munge

    docs = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    words = F.split(F.col("text"), " ")
    lines = F.transform(
        F.sequence(F.lit(0), ((F.size(words) - 1) / 8).cast("int")),
        lambda j: F.concat_ws(" ", F.slice(words, j * 8 + 1, 8)),
    )
    spans = F.array(
        F.struct(
            F.lit("page").alias("kind"),
            F.concat_ws("\n", lines).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        ),
        F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("media/"), F.col("doc_id").cast("string")).alias(
                "media_ref"
            ),
            F.lit(1).cast("int").alias("offset"),
        ),
    )
    vols = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans")
    )
    return (
        munge(vols, spark)
        .select("doc_id", "pages", "tokens_total", "tokens_corrected")
        .orderBy("doc_id")
    )


def _extract_munge_metrics_sql() -> str:
    from .rulesets.loader import PUNCT, load_rulesets

    punct = PUNCT.replace("'", "''")
    # the cascade counts a token iff its PUNCT-stripped core is
    # non-empty (operators/munge.py correct_line: `if not core: ...
    # continue` skips pure-punctuation tokens), and tokenizes with
    # Python str.split() — whitespace RUNS, empties dropped (0 tokens
    # for empty/whitespace-only text). Both edges fuzz-caught; plain
    # string_split(' ') counted phantom empty and punct tokens.
    #
    # Two engine-side pre-steps the oracle must replicate (ADVICE r4):
    # (1) the R5 char_map translate runs BEFORE tokenization — e.g.
    #     en-dash→'-' turns a lone '–' token into pure punctuation
    #     (skipped), while raw '–' is not in PUNCT (counted). Replayed
    #     here as a replace() chain from the real char_map; safe to
    #     chain sequentially because no map OUTPUT contains a map input.
    # (2) Python str.split() splits on UNICODE whitespace (NBSP, thin
    #     space, U+2028...), but RE2's \s is ASCII-only — the split
    #     class below is the exact str.isspace() codepoint set.
    tr = "text"
    for src, dst in load_rulesets().char_map:
        s, d = src.replace("'", "''"), dst.replace("'", "''")
        tr = f"replace({tr}, '{s}', '{d}')"
    pyws = (
        r"[\t-\r\x1c-\x1f "
        r"\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
        r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
    )
    return rf"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(1 AS BIGINT) AS pages,
       CAST(len(list_filter(regexp_split_to_array({tr}, '{pyws}'),
                 x -> trim(x, '{punct}') != '')) AS BIGINT) AS tokens_total,
       CAST(0 AS BIGINT) AS tokens_corrected
FROM documents ORDER BY doc_id
"""


EXTRACT_MUNGE_METRICS_SQL = _extract_munge_metrics_sql()


# --------------------------------------------------------------------------
# Catalog
# --------------------------------------------------------------------------

ML_QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_token_jaccard": (dedup_token_jaccard, DEDUP_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _minhash_lsh_sql()),
    "dedup_simhash": (simhash_docs, _simhash_sql()),
    "extract_munge_metrics": (extract_munge_metrics, EXTRACT_MUNGE_METRICS_SQL),
    "lang_id_stopword": (lang_id_stopword, LANG_ID_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "winnow_fingerprint": (winnow_fingerprint, WINNOW_SQL),
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_SQL),
    "ann_lsh_buckets": (ann_lsh_buckets, ANN_LSH_SQL),
    "knn_join_topk": (knn_join_topk, KNN_JOIN_SQL),
    "multimodal_features": (multimodal_features, None),
    "extract_munge": (extract_munge, None),
    "extract_main_content": (extract_main_content, None),
}


# --------------------------------------------------------------------------
# Embedding-cosine near-dup detection (task brief). The testdata's random
# vectors have no near-dups (max pairwise cosine ~0.6), so the query
# synthesizes them: every 20th vector reappears (id+100000) deterministically
# perturbed (x*1.01 + 0.001), then the detector finds each copy's source by
# cosine >= 0.99 against the original corpus.
#
# Scale shape: BOTH sides are hyperplane-bucketed (random-hyperplane LSH,
# shared with ann_lsh_buckets) and the cosine runs only inside matching
# buckets — an equi-join on bucket id, not a cross join, so at 10^9
# vectors the corpus scan emits each row into exactly one bucket and
# probes touch ~1/2^H of it. Probes multi-probe their Hamming-1 neighbor
# buckets (standard multi-probe LSH), which recovers any pair whose
# perturbation flips exactly ONE hyperplane sign; a perturbation that
# flips two or more signs would be missed, so recall is probabilistic by
# design (raise probe radius / add tables to trade cost for recall).
# On this corpus recall is VERIFIED, not assumed: pytest asserts the
# bucketed output equals the brute-force cross join exactly. The DuckDB
# oracle replicates the bucketing (like ann_ivf_topk's cluster
# assignment), so it checks the bucketed semantics, not recall.
# --------------------------------------------------------------------------


def dedup_embedding_cosine(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    orig = emb.select(
        F.col("vec_id").alias("orig_id"),
        vec.alias("o_vec"),
        hyperplane_bucket(F.col("embedding"), HYPERPLANES).alias("bucket"),
    )
    p_vec = F.transform(vec, lambda x: x * 1.01 + 0.001)
    pb = hyperplane_bucket(p_vec, HYPERPLANES)
    probes = (
        emb.where(F.col("vec_id") % 20 == 0)
        .select(
            (F.col("vec_id") + 100000).alias("probe_id"),
            p_vec.alias("p_vec"),
            F.explode(
                F.array(pb, *[pb.bitwiseXOR(F.lit(1 << j)) for j in range(len(HYPERPLANES))])
            ).alias("bucket"),
        )
    )
    cos = cosine(F.col("o_vec"), F.col("p_vec"))
    return (
        orig.join(F.broadcast(probes), "bucket")
        .select("orig_id", "probe_id", F.round(cos, 4).alias("cos"))
        .where(F.col("cos") >= 0.99)
        .orderBy("orig_id", "probe_id")
    )


def _hp_bucket_sql(vec_expr: str) -> str:
    """DuckDB mirror of hyperplane_bucket over a DOUBLE[] expression."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec_expr}, {h!r}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, h in enumerate(HYPERPLANES)
    )


def _dedup_embedding_sql() -> str:
    probe_flips = ", ".join(f"xor(pb, {1 << j})" for j in range(len(HYPERPLANES)))
    return f"""
WITH orig AS (
  SELECT vec_id AS orig_id, embedding::DOUBLE[] AS o_vec,
         {_hp_bucket_sql("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
),
probes0 AS (
  SELECT vec_id + 100000 AS probe_id,
         list_transform(embedding::DOUBLE[], x -> x * 1.01 + 0.001) AS p_vec
  FROM embeddings WHERE vec_id % 20 = 0
),
probes1 AS (
  SELECT probe_id, p_vec, {_hp_bucket_sql("p_vec")} AS pb FROM probes0
),
probes AS (
  SELECT probe_id, p_vec, unnest([pb, {probe_flips}]) AS bucket FROM probes1
)
SELECT orig_id, probe_id, cos FROM (
  SELECT o.orig_id, p.probe_id,
         CASE WHEN list_dot_product(o.o_vec, o.o_vec) > 0
               AND list_dot_product(p.p_vec, p.p_vec) > 0
              THEN round(list_dot_product(o.o_vec, p.p_vec)
                   / (sqrt(list_dot_product(o.o_vec, o.o_vec))
                      * sqrt(list_dot_product(p.p_vec, p.p_vec))), 4)
              ELSE 0.0 END AS cos
  FROM orig o JOIN probes p USING (bucket)
) WHERE cos >= 0.99 ORDER BY orig_id, probe_id
"""


DEDUP_EMBEDDING_SQL = _dedup_embedding_sql()

ML_QUERIES["dedup_embedding_cosine"] = (dedup_embedding_cosine, DEDUP_EMBEDDING_SQL)


# --------------------------------------------------------------------------
# IVF-partitioned ANN (task brief: "an IVF or LSH-bucketed variant as the
# scale path"; this is the IVF one, complementing ann_lsh_buckets).
# Coarse quantizer = 8 deterministic literal centroids; every vector is
# assigned to its nearest centroid by squared L2 (argmin over
# |c|^2 - 2<x,c>, the |x|^2 term cancels), the query probes its nprobe=2
# nearest cells, and exact cosine runs only inside those cells. At 10^9
# vectors the cluster id becomes the table's partition column, so a probe
# is partition pruning + a scan of ~nprobe/C of the corpus. Fully
# DuckDB-oracle-checked, including the cluster assignment.
# --------------------------------------------------------------------------

IVF_N_CENTROIDS = 8
IVF_NPROBE = 2
IVF_CENTROIDS = [
    [(((i * (j + 3) + j * j) % 11) - 5) / 7.0 for i in range(64)]
    for j in range(IVF_N_CENTROIDS)
]


def _ivf_affinities_py(vec: list[float]) -> list[float]:
    out = []
    for c in IVF_CENTROIDS:
        norm2 = sum(x * x for x in c)
        d = sum(x * y for x, y in zip(vec, c))
        out.append(norm2 - 2.0 * d)
    return out


def _ivf_probe_clusters(vec: list[float], nprobe: int = IVF_NPROBE) -> list[int]:
    aff = _ivf_affinities_py(vec)
    return sorted(sorted(range(len(aff)), key=lambda j: aff[j])[:nprobe])


def _ivf_aff_col():
    """Centroid-affinity array expression (norm2 - 2*dot per cell) —
    shared by the cluster assignment and hard_negative_mining's
    per-anchor probe ranking so the two can never drift apart."""
    from .functions import dot as _dot

    v = F.col("embedding").cast("array<double>")
    return F.array(
        *[
            F.lit(float(sum(x * x for x in c)))
            - 2.0 * _dot(v, F.array(*[F.lit(float(x)) for x in c]))
            for c in IVF_CENTROIDS
        ]
    )


def _ivf_cluster_col():
    """1-based cluster id column (argmin of the affinity array)."""
    aff = _ivf_aff_col()
    return F.array_position(aff, F.array_min(aff)).cast("int")


def ann_ivf_topk(spark, sf_dir):
    probes = [j + 1 for j in _ivf_probe_clusters(QUERY_VEC)]  # 1-based
    emb = t(spark, sf_dir, "embeddings").withColumn("cluster", _ivf_cluster_col())
    return (
        emb.where(F.col("cluster").isin(probes))
        .select(
            "vec_id",
            "cluster",
            F.round(cosine_to_literal(F.col("embedding"), QUERY_VEC), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


def _ivf_assigned_cte() -> str:
    """Shared DuckDB CTE assigning each vector to its IVF cell (argmin
    of the centroid-affinity array) — used by BOTH _ivf_sql and
    _ivf_sq8_sql so the two replays can never drift apart."""
    aff_exprs = ", ".join(
        f"({sum(x * x for x in c)!r} - 2.0 * "
        f"list_dot_product(embedding::DOUBLE[], {c!r}))"
        for c in IVF_CENTROIDS
    )
    return (
        "assigned AS (\n"
        "  SELECT vec_id, embedding,\n"
        f"         list_indexof([{aff_exprs}], list_min([{aff_exprs}]))"
        " AS cluster\n"
        "  FROM embeddings\n)"
    )


def _ivf_probe_list() -> str:
    return ", ".join(str(j + 1) for j in _ivf_probe_clusters(QUERY_VEC))


def _ivf_cos_sql() -> str:
    """Shared exact-cosine expression (the round(cos, 4) contract),
    zero-vector-guarded — used by _ivf_sql and _ivf_sq8_sql's rerank."""
    qnorm = (sum(x * x for x in QUERY_VEC)) ** 0.5
    return (
        "CASE WHEN list_dot_product(embedding::DOUBLE[],"
        " embedding::DOUBLE[]) > 0\n"
        f"            THEN round(list_dot_product(embedding::DOUBLE[],"
        f" {QUERY_VEC!r})\n"
        "                 / (sqrt(list_dot_product(embedding::DOUBLE[],"
        " embedding::DOUBLE[]))\n"
        f"                    * {qnorm!r}), 4)\n"
        "            ELSE 0.0 END"
    )


def _ivf_sql() -> str:
    return f"""
WITH {_ivf_assigned_cte()}
SELECT vec_id, CAST(cluster AS INT) AS cluster,
       {_ivf_cos_sql()} AS cos
FROM assigned WHERE cluster IN ({_ivf_probe_list()})
ORDER BY cos DESC, vec_id LIMIT 10
"""


ML_QUERIES["ann_ivf_topk"] = (ann_ivf_topk, _ivf_sql())


# --------------------------------------------------------------------------
# K-means (Lloyd) over the embedding table — the learned coarse
# quantizer that replaces IVF's fixed literal centroids on a real
# corpus. DataFrame-native in the standard Spark shape (MLlib's):
# centroids live on the driver (k × dim floats — bytes, not data),
# each iteration is ONE distributed job — assignment and the partial
# aggregation are FUSED inside one Arrow pass (_kmeans_round): each
# partition emits at most k rows of (count, SSE, per-dim sums) numpy
# partials, and the only shuffle per round is k × n_partitions tiny
# rows into an 8-group rollup. The vector column is persisted across
# rounds (the standard Spark iterative-ML pattern — MLlib's KMeans
# does the same), so at 10^9 vectors the cost is iters × one cached
# scan + a shuffle of k × (dim + 2) doubles per partition.
# Deterministic by construction: init = the k lowest-id vectors,
# argmin ties break to the lowest cluster id, no RNG anywhere.
#
# Oracle: the full Lloyd unroll (3 iterations of assign + recompute,
# empty-cluster fallback included) replayed in DuckDB CTEs — avg order
# differs between engines only at ~1e-13, far inside the rounding.
# --------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_DIM = 64


def _kmeans_assign(v, centroids):
    """(cluster, dist2) struct: 0-based argmin cluster + squared L2,
    computed as ONE numpy matmul per Arrow batch.

    Expression-level alternatives were measured and rejected: the HOF
    form (``aggregate``/``zip_with`` dot per centroid) interprets 2·k
    lambdas per row (~1.5 s/round at 5k×64), and unrolling k×dim
    literal multiply-adds explodes the codegen expression tree (~10×
    worse). The batched V·Cᵀ affinity is the vectorized shape that
    holds at 10⁹ vectors — Arrow moves each row once per round.
    numpy's pairwise summation differs from sequential sums only at
    ~1e-13 relative, far inside the oracle's rounding; argmin ties
    break to the lowest cluster in numpy and SQL alike."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    cn2 = (C * C).sum(axis=1)

    @F.pandas_udf("struct<cluster:int, dist2:double>")
    def assign(vec: pd.Series) -> pd.DataFrame:
        import numpy as np  # noqa: F811 — executor-side import

        if vec.empty:
            return pd.DataFrame({"cluster": [], "dist2": []})
        V = np.stack([np.asarray(x, dtype=np.float64) for x in vec])
        aff = cn2[None, :] - 2.0 * (V @ C.T)
        cl = aff.argmin(axis=1)
        d2 = (V * V).sum(axis=1) + aff[np.arange(len(cl)), cl]
        return pd.DataFrame(
            {"cluster": cl.astype("int32"), "dist2": d2}
        )

    return assign(v)


def _kmeans_round(vecs: DataFrame, centroids, dim: int):
    """One Lloyd round as ONE Arrow pass + a tiny rollup.

    Assignment (the V·Cᵀ affinity matmul) and the partial aggregation
    happen inside the same mapInPandas stage: each partition
    accumulates (count, SSE, per-dimension sums) per cluster in numpy
    and emits at most k rows, so the shuffle moves k × n_partitions
    rows of (dim + 2) doubles instead of every input row. This is the
    map-side-combine shape that holds at 10⁹ vectors — and at sandbox
    scale it replaces a pandas-UDF stage feeding a 64-column hash
    aggregate with a single narrow Python stage (measured ~2× per
    round). Centroid update sum/count is the same double math as the
    previous avg() form; only summation order differs (~1e-13, inside
    the oracle's rounding, same as the matmul note above)."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    cn2 = (C * C).sum(axis=1)
    k = len(centroids)

    def partials(batches):
        import numpy as np  # noqa: F811 — executor-side import

        cnt = np.zeros(k, dtype=np.int64)
        sse = np.zeros(k)
        sums = np.zeros_like(C)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(
                [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
            )
            aff = cn2[None, :] - 2.0 * (V @ C.T)
            cl = aff.argmin(axis=1)
            d2 = (V * V).sum(axis=1) + aff[np.arange(len(cl)), cl]
            np.add.at(cnt, cl, 1)
            np.add.at(sse, cl, d2)
            np.add.at(sums, cl, V)
        idx = np.nonzero(cnt)[0]
        yield pd.DataFrame(
            {
                "cluster": idx.astype("int32"),
                "n": cnt[idx],
                "sse": sse[idx],
                "sums": [sums[i].tolist() for i in idx],
            }
        )

    return (
        vecs.mapInPandas(
            partials, schema="cluster int, n long, sse double, sums array<double>"
        )
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sse").alias("sse"),
            *[F.sum(F.col("sums")[i]).alias(f"s{i}") for i in range(dim)],
        )
    )


def _kmeans_parallel_seeds(
    df: DataFrame,
    v,
    id_col: str,
    k: int,
    rounds: int = 3,
    oversample: int | None = None,
) -> list[list[float]]:
    """k-means‖ init (Bahmani et al., VLDB 2012) made DETERMINISTIC:
    every 'coin flip' is an md5-derived uniform in [0,1) keyed on
    (round, id), so re-runs — and the inertia pytest — replay the exact
    seed set with no RNG state.

    Shape per round: one pass computes the total cost Σd² (driver gets
    ONE double), a second pass samples points with
    u(id, round) < l·d²/Σd² and collects only the sampled vectors —
    O(l) ≈ 2k expected per round, driver-side data stays
    rounds·l·dim floats. A final pass weights each candidate by its
    Voronoi population, then a local numpy weighted Lloyd reduces the
    ~rounds·l candidates to k seeds. This is the production init for
    clustered/sorted inputs where first-k seeding collapses into one
    true cluster (the MLlib default for the same reason); first-k stays
    the driver-query/oracle spec path because DuckDB can replay it."""
    import numpy as np

    l = oversample or 2 * k
    first = (
        df.select(v.alias("v"),
                  md5_long(F.concat(F.lit("kmpp:seed:"),
                                    F.col(id_col).cast("string"))).alias("h"))
        .orderBy("h")
        .limit(1)
        .collect()
    )
    cand: list[list[float]] = [list(first[0].v)]
    u = md5_long(
        F.concat(F.lit("kmpp:"), F.col("r").cast("string"), F.lit(":"),
                 F.col(id_col).cast("string"))
    ) / F.lit(float(1 << 60))
    for r in range(rounds):
        a = df.select(F.col(id_col), v.alias("v"),
                      _kmeans_assign(v, cand).dist2.alias("d2"))
        total = a.agg(F.sum("d2")).collect()[0][0]
        if not total:  # all points already coincide with a candidate
            break
        picked = (
            a.withColumn("r", F.lit(r))
            .where(u < F.col("d2") * (float(l) / total))
            .select("v")
            .collect()
        )
        cand.extend(list(p.v) for p in picked)
    if len(cand) < k:  # degenerate corpus (< k distinct points sampled)
        pad = df.select(v.alias("v")).orderBy(id_col).limit(k).collect()
        cand.extend(list(r.v) for r in pad[: k - len(cand)])
    # Voronoi weights for the candidate set (one pass, k'-sized result)
    wrows = (
        df.select(_kmeans_assign(v, cand).cluster.alias("c"))
        .groupBy("c").count().collect()
    )
    weights = np.zeros(len(cand))
    for row in wrows:
        weights[row.c] = row["count"]
    C = np.array(cand, dtype=np.float64)
    # local weighted Lloyd on the tiny candidate set: start from the k
    # heaviest candidates (deterministic tie-break by index)
    order = np.lexsort((np.arange(len(cand)), -weights))
    seeds = C[np.sort(order[:k])]
    for _ in range(20):
        d = ((C[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
        asg = d.argmin(axis=1)
        for j in range(k):
            m = asg == j
            if weights[m].sum() > 0:
                seeds[j] = (C[m] * weights[m, None]).sum(0) / weights[m].sum()
    return [list(map(float, s)) for s in seeds]


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    dim: int = KMEANS_DIM,
    init: str = "first-k",
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's algorithm; returns (centroids, per-iteration inertia).

    ``init='first-k'`` (spec/oracle path — DuckDB replays it) seeds with
    the k lowest-id vectors; ``init='parallel'`` uses the deterministic
    k-means‖ oversampling init (see _kmeans_parallel_seeds) — the
    production choice when ids correlate with cluster structure. The
    only driver-side data is k×dim floats per round; inertia is the
    SSE of the assignment each round and is non-increasing
    (pytest-asserted)."""
    v = F.col(vec_col).cast("array<double>")
    if init == "parallel":
        centroids = _kmeans_parallel_seeds(df, v, id_col, k)
    else:
        seeds = df.select(v.alias("v")).orderBy(id_col).limit(k).collect()
        centroids = [list(r.v) for r in seeds]
    # persist the projected vector column across rounds — the standard
    # Spark iterative-ML pattern (MEMORY_AND_DISK spills if the working
    # set outgrows executor memory at 10^9 vectors)
    vecs = df.select(v.alias("v")).persist()
    inertia: list[float] = []
    try:
        for _ in range(iters):
            rows = _kmeans_round(vecs, centroids, dim).collect()
            inertia.append(sum(r.sse for r in rows))
            new = {
                r.cluster: [r[f"s{i}"] / r.n for i in range(dim)]
                for r in rows
            }
            centroids = [new.get(j, centroids[j]) for j in range(k)]
    finally:
        vecs.unpersist()
    return centroids, inertia


def kmeans_embeddings(spark, sf_dir):
    """Fit k=8 Lloyd (3 rounds) on the embedding table, then report the
    final per-cluster profile (members + SSE) — the cluster layout an
    IVF index would be partitioned by."""
    emb = t(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb)
    v = F.col("embedding").cast("array<double>")
    return (
        emb.select(_kmeans_assign(v, centroids).alias("a"))
        .groupBy(F.col("a.cluster").alias("cluster"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("a.dist2"), 3).alias("sse"),
        )
        .orderBy("cluster")
    )


def _kmeans_ctes(k: int = KMEANS_K, iters: int = KMEANS_ITERS,
                 dim: int = KMEANS_DIM, vecs_sql: str | None = None,
                 prefix: str = "") -> list[str]:
    """CTE chain of one Lloyd unroll; every CTE name carries ``prefix``
    so multiple independent unrolls compose in ONE query (the PQ
    oracle runs one chain per subspace). The chain ends with
    ``{prefix}afinal`` (vec_id, v, cl, dist2 — assignment under the
    final centroids) and ``{prefix}c{iters}`` (cl, cv, cn2 — the final
    centroid table)."""
    p = prefix
    assign = (
        "SELECT vec_id, v, cl, dist2 FROM ("
        "  SELECT e.vec_id, e.v, c.cl,"
        "         list_dot_product(e.v, e.v) + c.cn2"
        "         - 2.0 * list_dot_product(e.v, c.cv) AS dist2,"
        "         row_number() OVER ("
        "           PARTITION BY e.vec_id"
        "           ORDER BY c.cn2 - 2.0 * list_dot_product(e.v, c.cv), c.cl"
        "         ) AS rn"
        f"  FROM {p}vecs e CROSS JOIN {{cents}} c"
        ") WHERE rn = 1"
    )
    update = (
        "SELECT cl, array_agg(m ORDER BY pos) AS cv,"
        "       list_dot_product(array_agg(m ORDER BY pos),"
        "                        array_agg(m ORDER BY pos)) AS cn2 FROM ("
        "  SELECT cl, pos, avg(v[pos]) AS m"
        "  FROM {assigned} CROSS JOIN (SELECT unnest(range(1, {dimp1})) AS pos)"
        "  GROUP BY cl, pos"
        ") GROUP BY cl"
    )
    ctes = [
        f"{p}vecs AS ("
        + (vecs_sql or "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")
        + ")",
        f"{p}c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,"
        f" v AS cv, list_dot_product(v, v) AS cn2"
        f" FROM {p}vecs ORDER BY vec_id LIMIT {k})",
    ]
    prev = f"{p}c0"
    for it in range(1, iters + 1):
        ctes.append(f"{p}a{it} AS ({assign.format(cents=prev)})")
        # empty-cluster fallback: keep the previous centroid
        ctes.append(
            f"{p}u{it} AS ({update.format(assigned=f'{p}a{it}', dimp1=dim + 1)})"
        )
        ctes.append(
            f"{p}c{it} AS (SELECT p.cl, coalesce(u.cv, p.cv) AS cv,"
            f" coalesce(u.cn2, p.cn2) AS cn2"
            f" FROM {prev} p LEFT JOIN {p}u{it} u USING (cl))"
        )
        prev = f"{p}c{it}"
    ctes.append(f"{p}afinal AS ({assign.format(cents=prev)})")
    return ctes


def _kmeans_sql(k: int = KMEANS_K, iters: int = KMEANS_ITERS,
                dim: int = KMEANS_DIM, vecs_sql: str | None = None,
                final_select: str | None = None) -> str:
    """DuckDB replay of the exact Lloyd unroll. ``vecs_sql`` overrides
    the input CTE body (default: the embeddings table); ``final_select``
    overrides the closing SELECT over ``afinal`` (vec_id, v, cl, dist2)
    so consumers (semantic_dedup) can extend the chain."""
    ctes = _kmeans_ctes(k, iters, dim, vecs_sql)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + (final_select
           or "SELECT CAST(cl AS INT) AS cluster, count(*) AS n,"
              " round(sum(dist2), 3) AS sse"
              " FROM afinal GROUP BY cl ORDER BY cluster")
    )


ML_QUERIES["kmeans_embeddings"] = (kmeans_embeddings, _kmeans_sql())


# --------------------------------------------------------------------------
# Token-budget shard packing — the last step of a training-data
# pipeline: assign curated documents to fixed-token-budget output
# shards. A single global greedy cumsum is the textbook formulation but
# is inherently sequential (one-partition window — dead at 10^12 docs),
# so this uses the production shape: documents are md5-hashed into P
# independent pack groups, each group packs ITSELF by running token sum
# (window partitioned by group — P-way parallel, one shuffle), and the
# global shard id namespaces group × local shard. Waste is bounded by
# < budget tokens per group; packing is deterministic and
# engine-independent (md5 order), so re-runs and the DuckDB oracle
# reproduce it exactly.
# --------------------------------------------------------------------------

PACK_BUDGET = 2000  # tokens per shard
PACK_GROUPS = 8  # driver-query/oracle pin; the API defaults to cluster width


def pack_shards(spark, sf_dir, n_groups: int | None = None,
                budget: int = PACK_BUDGET):
    """``n_groups`` is the packing parallelism: None (the API default)
    uses ``sparkContext.defaultParallelism`` so the cumsum windows track
    cluster width — at 10^12 docs the packing stage runs as one windowed
    task per core, not a fixed 8. The driver query pins
    ``n_groups=PACK_GROUPS`` so the DuckDB oracle (which bakes the
    constant into its SQL) replays the identical grouping. Group count
    changes WHICH shard a doc lands in, never the invariants: token
    conservation and the per-shard bound ``tokens < budget + max_doc``
    hold for any n_groups (pytest at 64)."""
    if n_groups is None:
        n_groups = spark.sparkContext.defaultParallelism
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("nt")
    )
    key = md5_long(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    grouped = docs.select(
        "doc_id", "nt", F.pmod(key, F.lit(n_groups)).cast("int").alias("g"),
        key.alias("k"),
    )
    w = W.partitionBy("g").orderBy("k")
    cum = F.sum("nt").over(w)
    local_shard = F.floor((cum - F.col("nt")) / budget)
    # group id in the top bits (2^40 local shards ≈ 2×10^15 tokens per
    # group before collision — beyond any group at 10^12 docs; a plain
    # g*1e5 namespace would alias across groups at ~2×10^8 tokens)
    shard = (F.col("g").cast("long") * F.lit(1 << 40) + local_shard).alias(
        "shard"
    )
    return (
        grouped.select(shard, "nt")
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("nt").alias("tokens"))
        .orderBy("shard")
    )


PACK_SHARDS_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5(concat('pack:', CAST(doc_id AS VARCHAR))), 1, 15))
              AS BIGINT) AS k
  FROM documents
),
g AS (SELECT doc_id, nt, k, k % {PACK_GROUPS} AS grp FROM d),
packed AS (
  SELECT grp * {1 << 40}
         + CAST(floor((sum(nt) OVER (PARTITION BY grp ORDER BY k) - nt)
                      / {PACK_BUDGET}) AS BIGINT) AS shard,
         nt
  FROM g
)
SELECT shard, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS tokens
FROM packed GROUP BY shard ORDER BY shard
"""

def _pack_shards_driver(spark, sf_dir):
    """Driver/oracle entry: group count pinned to the SQL's constant."""
    return pack_shards(spark, sf_dir, n_groups=PACK_GROUPS)


ML_QUERIES["pack_shards"] = (_pack_shards_driver, PACK_SHARDS_SQL)


# --------------------------------------------------------------------------
# Best-fit-decreasing shard packing (r5) — the packing-QUALITY variant of
# pack_shards. The cumsum formulation is one window pass but lets a doc
# straddle a budget boundary (shards overshoot by up to max_doc) and
# leaves tail waste per group; BFD sorts each group's docs by size
# descending and places each into the fullest bin it still fits
# (classic 11/9·OPT+6/9 guarantee), so bins never exceed the budget
# unless a single doc alone does.
#
# Scale shape: the same md5 pack groups give P-way parallelism; WITHIN a
# group BFD is inherently sequential, so it runs as one applyInPandas
# call per group — the documented custom-operator escape hatch (brief:
# "(b) a Pandas-UDF-backed applyInPandas ... when built-ins can't
# express the semantics"). P is chosen so a group fits an executor
# (10^12 docs / 10^6 groups = 10^6-doc groups ≈ 24 MB of (id, nt, key)
# rows); this toy loop is O(docs × bins) per group — a production body
# would keep bins in a best-fit tree, same semantics. Only (doc_id,
# n_tokens, key) ever reaches Python, never text. The DuckDB oracle
# replays the EXACT sequential placement with a recursive CTE carrying
# per-group (loads, counts) list state — one iteration per placed doc.
# --------------------------------------------------------------------------


def pack_shards_bfd(spark, sf_dir, n_groups: int | None = None,
                    budget: int = PACK_BUDGET):
    if n_groups is None:
        n_groups = spark.sparkContext.defaultParallelism
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("nt")
    )
    key = md5_long(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    grouped = docs.select(
        "doc_id", "nt", F.pmod(key, F.lit(n_groups)).cast("int").alias("g"),
        key.alias("k"),
    )

    def bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["nt", "k", "doc_id"], ascending=[False, True, True]
        )
        grp = int(pdf["g"].iloc[0])
        loads: list[int] = []
        counts: list[int] = []
        for nt in pdf["nt"].tolist():
            nt = int(nt)
            # fullest bin that still fits; tie -> first-opened (strict >
            # keeps the lowest index, matching the oracle's
            # list_position-of-max rule)
            best, best_load = -1, -1
            for j, load in enumerate(loads):
                if load + nt <= budget and load > best_load:
                    best, best_load = j, load
            if best < 0:
                loads.append(nt)
                counts.append(1)
            else:
                loads[best] += nt
                counts[best] += 1
        return pd.DataFrame(
            {
                "shard": [grp * (1 << 40) + j for j in range(len(loads))],
                "n_docs": counts,
                "tokens": loads,
            }
        )

    return (
        grouped.groupBy("g")
        .applyInPandas(bfd, "shard long, n_docs long, tokens long")
        .orderBy("shard")
    )


def _pack_shards_bfd_sql(n_groups: int = PACK_GROUPS,
                         budget: int = PACK_BUDGET) -> str:
    # the best-fit choice, written once: position (1-based) of the
    # fullest bin in `loads` that still fits `nt`, NULL if none fits
    fit = ("list_position(s.loads, list_max("
           f"list_filter(s.loads, l -> l + it.nt <= {budget})))")
    upd = (
        "list_transform(range(1, len(s.{col}) + 1), "
        "j -> CASE WHEN j = {fit} THEN s.{col}[j] + {inc} "
        "ELSE s.{col}[j] END)"
    )
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS nt,
         CAST(concat('0x', substr(md5(concat('pack:',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS k
  FROM documents
),
g AS (
  SELECT doc_id, nt, k, k % {n_groups} AS grp,
         row_number() OVER (PARTITION BY k % {n_groups}
                            ORDER BY nt DESC, k, doc_id) AS rn
  FROM d
),
sizes AS (SELECT grp, count(*) AS cnt FROM g GROUP BY grp),
s AS (
  SELECT grp, CAST(0 AS BIGINT) AS i,
         CAST([] AS BIGINT[]) AS loads, CAST([] AS BIGINT[]) AS cnts
  FROM sizes
  UNION ALL
  SELECT s.grp, s.i + 1,
         CASE WHEN {fit} IS NULL THEN list_append(s.loads, CAST(it.nt AS BIGINT))
              ELSE {upd.format(col="loads", fit=fit, inc="it.nt")} END,
         CASE WHEN {fit} IS NULL THEN list_append(s.cnts, CAST(1 AS BIGINT))
              ELSE {upd.format(col="cnts", fit=fit, inc="1")} END
  FROM s JOIN g it ON it.grp = s.grp AND it.rn = s.i + 1
),
final AS (
  SELECT s.grp, s.loads, s.cnts FROM s JOIN sizes USING (grp)
  WHERE s.i = sizes.cnt
)
SELECT grp * {1 << 40} + (j - 1) AS shard,
       cnts[j] AS n_docs, loads[j] AS tokens
FROM final, unnest(range(1, len(loads) + 1)) AS u(j)
ORDER BY shard
"""


def _pack_shards_bfd_driver(spark, sf_dir):
    """Driver/oracle entry: group count pinned to the SQL's constant."""
    return pack_shards_bfd(spark, sf_dir, n_groups=PACK_GROUPS)


ML_QUERIES["pack_shards_bfd"] = (_pack_shards_bfd_driver, _pack_shards_bfd_sql())


# --------------------------------------------------------------------------
# Benchmark decontamination — the canonical pretraining hygiene op:
# find training documents sharing verbatim n-grams with an evaluation
# set (every serious LLM data pipeline runs some form of this). The
# eval set is small BY DEFINITION, so the scale-correct plan is exactly
# what Catalyst produces here: build the distinct eval n-gram set,
# broadcast it, and hash-join the (exploded) training n-grams against
# it — one corpus scan, no shuffle of corpus data, contamination
# ratio per doc from a single aggregation. Stand-in eval set: every
# 50th document.
# --------------------------------------------------------------------------

DECON_NGRAM = 5
DECON_THRESHOLD = 0.2


def decontaminate_ngrams(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 50 == 0
    eval_grams = (
        docs.where(is_eval)
        .select(F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("g"))
        .distinct()
    )
    train = docs.where(~is_eval).select(
        "doc_id", word_shingles(F.col("text"), DECON_NGRAM).alias("sh")
    )
    hits = (
        train.select("doc_id", F.size("sh").alias("n_grams"),
                     F.explode("sh").alias("g"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.countDistinct("g").alias("hits"))
    )
    ratio = F.round(F.col("hits") / F.col("n_grams"), 4)
    return (
        hits.select("doc_id", "hits", "n_grams", ratio.alias("ratio"))
        .where(ratio >= DECON_THRESHOLD)
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH sh AS ({_shingle_sql(DECON_NGRAM)}),
eval_grams AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0
),
train AS (
  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM sh
  WHERE doc_id % 50 <> 0
),
hits AS (
  SELECT t.doc_id, t.n_grams, count(DISTINCT t.g) AS hits
  FROM train t JOIN eval_grams e ON t.g = e.g
  GROUP BY t.doc_id, t.n_grams
)
SELECT doc_id, hits, n_grams, ratio FROM (
  SELECT doc_id, hits, n_grams,
         round(hits::DOUBLE / n_grams, 4) AS ratio
  FROM hits
) WHERE ratio >= {DECON_THRESHOLD} ORDER BY doc_id
"""

ML_QUERIES["decontaminate_ngrams"] = (decontaminate_ngrams, DECONTAMINATE_SQL)


# --------------------------------------------------------------------------
# Bloom-filter decontamination (r5; the SCALE.md §"Decontamination" seam):
# decontaminate_ngrams broadcasts the eval n-gram SET, which stops
# scaling when eval suites grow (10^8 grams ≈ several GB of strings).
# This variant broadcasts a fixed-size Bloom BITMAP instead — the
# payload is BLOOM_M_BITS/8 bytes no matter how many grams the eval
# suite holds — probes it map-side in pure codegen (md5 positions +
# array index + bit shift, no Python), and exact-verifies the surviving
# sliver against the real eval grams so false positives never reach the
# output. Spark's built-in bloom_filter_agg/might_contain pair is not
# SQL-exposed in this build (probed: UNRESOLVED_ROUTINE), so the filter
# is built natively: positions -> bit_or per 64-bit word -> dense
# array<long> assembled in a 1-row frame, cross-joined (broadcast) into
# the corpus scan.
#
# Scale shape: one eval scan (bitmap build, output = M/64 longs), one
# corpus scan probing K md5 positions per gram against the broadcast
# bitmap, then the verify join — whose LEFT side is only the grams that
# passed the bloom (expected FP rate (1-e^{-Kn/M})^K), so the shuffle
# moves a sliver, not the corpus. The final ratio uses TRUE hits, so
# output rows equal the exact operator's; bloom_hits is kept as a
# column so the oracle hash-checks the bloom mechanism itself, not
# just the verified result (pytest bounds the empirical FP rate).
# --------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 16  # 8 KB bitmap (sandbox scale; 10^9 grams → ~2^34)
BLOOM_K = 3


def _bloom_pos(c, i: int, m_bits: int = BLOOM_M_BITS):
    """Probe position i for gram column c — md5-derived, replayed
    identically in DuckDB (same idiom as md5_long)."""
    return md5_long(F.concat(F.lit(f"bloom{i}:"), c)) % m_bits


def decontaminate_bloom(spark, sf_dir, m_bits: int = BLOOM_M_BITS):
    """``m_bits`` sizes the bitmap (driver/oracle pin: BLOOM_M_BITS);
    pytest shrinks it to force measurable false-positive rates and
    verify the verify-join removes every one of them."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 50 == 0
    # consumed TWICE (bitmap build + verify join): localCheckpoint
    # materializes the eval shingle scan once instead of re-running it
    # per consumer (the dedup_minhash_lsh candidate-pairs precedent)
    eval_grams = (
        docs.where(is_eval)
        .select(F.explode(word_shingles(F.col("text"), DECON_NGRAM)).alias("g"))
        .distinct()
        .localCheckpoint()
    )
    # build: K positions per eval gram -> bit_or into 64-bit words ->
    # dense array<long> (absent words = 0) in ONE row
    n_words = m_bits // 64
    pos = eval_grams.select(
        F.explode(
            F.array(
                *[_bloom_pos(F.col("g"), i, m_bits) for i in range(BLOOM_K)]
            )
        ).alias("p")
    )
    words = pos.groupBy(F.shiftright("p", 6).cast("int").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, CAST(p & 63 AS INT)))").alias("bits")
    )
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("bm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("bm"), i), F.lit(0).cast("long")
            ),
        ).alias("bitmap")
    )
    train = docs.where(~is_eval).select(
        "doc_id", word_shingles(F.col("text"), DECON_NGRAM).alias("sh")
    )
    probes = train.select(
        "doc_id", F.size("sh").alias("n_grams"), F.explode("sh").alias("g")
    ).select(
        "doc_id", "n_grams", "g",
        *[
            _bloom_pos(F.col("g"), i, m_bits).alias(f"p{i}")
            for i in range(BLOOM_K)
        ],
    )
    in_bloom = " AND ".join(
        f"((bitmap[CAST(shiftright(p{i}, 6) AS INT)]"
        f" >> CAST(p{i} & 63 AS INT)) & 1) = 1"
        for i in range(BLOOM_K)
    )
    cands = probes.crossJoin(F.broadcast(bitmap)).where(F.expr(in_bloom))
    # exact verification: NO broadcast hint — at full eval-suite scale
    # this is the bloom-pruned shuffle join SCALE.md describes; AQE
    # still picks broadcast when the eval side is actually small
    verified = cands.join(
        eval_grams.withColumn("m", F.lit(1)), "g", "left"
    )
    out = verified.groupBy("doc_id", "n_grams").agg(
        F.countDistinct("g").alias("bloom_hits"),
        F.countDistinct(F.when(F.col("m") == 1, F.col("g"))).alias("hits"),
    )
    ratio = F.round(F.col("hits") / F.col("n_grams"), 4)
    return (
        out.select("doc_id", "bloom_hits", "hits", "n_grams",
                   ratio.alias("ratio"))
        .where(ratio >= DECON_THRESHOLD)
        .orderBy("doc_id")
    )


def _bloom_pos_sql(col: str, i: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('bloom{i}:', {col})), 1, 15))"
        f" AS BIGINT) % {BLOOM_M_BITS}"
    )


DECONTAMINATE_BLOOM_SQL = f"""
WITH sh AS ({_shingle_sql(DECON_NGRAM)}),
eval_grams AS (
  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0
),
pos AS (
  SELECT DISTINCT p FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('g', i)} AS p FROM eval_grams" for i in range(BLOOM_K))}
  )
),
train AS (
  SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS g FROM sh
  WHERE doc_id % 50 <> 0
),
probes AS (
  SELECT doc_id, n_grams, g,
         {", ".join(f"{_bloom_pos_sql('g', i)} AS p{i}" for i in range(BLOOM_K))}
  FROM train
),
cands AS (
  SELECT * FROM probes
  WHERE {" AND ".join(f"p{i} IN (SELECT p FROM pos)" for i in range(BLOOM_K))}
),
agg AS (
  SELECT doc_id, n_grams,
         count(DISTINCT g) AS bloom_hits,
         count(DISTINCT CASE WHEN g IN (SELECT g FROM eval_grams)
                             THEN g END) AS hits
  FROM cands GROUP BY doc_id, n_grams
)
SELECT doc_id, bloom_hits, hits, n_grams, ratio FROM (
  SELECT doc_id, bloom_hits, hits, n_grams,
         round(hits::DOUBLE / n_grams, 4) AS ratio
  FROM agg
) WHERE ratio >= {DECON_THRESHOLD} ORDER BY doc_id
"""

ML_QUERIES["decontaminate_bloom"] = (decontaminate_bloom, DECONTAMINATE_BLOOM_SQL)


# --------------------------------------------------------------------------
# N-gram repetition ratio — the boilerplate/spam quality signal
# (fraction of duplicated 3-grams per document; looping generations and
# templated pages score high). Pure codegen scan, no shuffle before the
# final ordering.
# --------------------------------------------------------------------------


def repetition_ratio(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    words = F.split(F.lower(F.col("text")), " ")
    n = F.size(words)
    m = n - 2  # total 3-grams
    zipped = F.arrays_zip(
        *[F.slice(words, j + 1, m).alias(f"w{j}") for j in range(3)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", s["w0"], s["w1"], s["w2"])
    )
    rep = F.when(
        n >= 3, F.round(1.0 - F.size(F.array_distinct(grams)) / m, 4)
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id", rep.alias("rep_ratio"))
        .where(F.col("rep_ratio") > 0)
        .orderBy("doc_id")
    )


REPETITION_SQL = """
SELECT doc_id, rep_ratio FROM (
  SELECT doc_id,
    CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
      round(1.0 - len(list_distinct(list_transform(
                range(1, len(string_split(lower(text), ' ')) - 1),
                i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i + 1],
                               string_split(lower(text), ' ')[i + 2]))))::DOUBLE
            / (len(string_split(lower(text), ' ')) - 2), 4)
    ELSE 0.0 END AS rep_ratio
  FROM documents
) WHERE rep_ratio > 0 ORDER BY doc_id
"""

ML_QUERIES["repetition_ratio"] = (repetition_ratio, REPETITION_SQL)


# --------------------------------------------------------------------------
# Context-window sequence chunking — turn documents into fixed-length
# training sequences with stride overlap (the doc→sample step before
# tokenizer+packing). One posexplode over arithmetic start offsets; the
# chunk text is hash-checked (md5) so the oracle verifies CONTENT, not
# just counts. Embarrassingly parallel: a projection + explode, no
# shuffle until the output sink.
# --------------------------------------------------------------------------

CHUNK_LEN = 64
CHUNK_STRIDE = 48


def chunk_sequences(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    # starts: 1, 1+stride, …, chosen so the LAST (possibly partial)
    # chunk always reaches the end of the document — stop at
    # n - len + stride guarantees a start within len of the tail, so no
    # token is dropped (pytest-asserted coverage invariant).
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - CHUNK_LEN + CHUNK_STRIDE, F.lit(1)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = lambda s: F.concat_ws(" ", F.slice(words, s, CHUNK_LEN))  # noqa: E731
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts,
                    lambda s: F.struct(
                        F.least(CHUNK_LEN + F.lit(0), n - s + 1).alias("nt"),
                        F.md5(chunk(s)).alias("h"),
                    ),
                )
            ).alias("chunk_idx", "c"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.col("c.nt").cast("long").alias("n_tokens"),
            F.col("c.h").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_SEQUENCES_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE doc_id < 200
),
starts AS (
  SELECT doc_id, w, n,
         unnest(range(1, greatest(n - {CHUNK_LEN} + {CHUNK_STRIDE}, 1) + 1,
                      {CHUNK_STRIDE})) AS s
  FROM d
)
SELECT doc_id, CAST((s - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(least({CHUNK_LEN}, n - s + 1) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(w, s, s + {CHUNK_LEN} - 1), ' ')) AS chunk_md5
FROM starts ORDER BY doc_id, chunk_idx
"""

ML_QUERIES["chunk_sequences"] = (chunk_sequences, CHUNK_SEQUENCES_SQL)


# --------------------------------------------------------------------------
# Bigram language-model scoring — the CCNet-style LM-perplexity quality
# filter: fit add-one-smoothed bigram probabilities on the corpus
# itself, score each document by its mean log P(w_i | w_{i-1}), flag
# the tail. Two aggregations (bigram + unigram counts — both shuffle
# counts, not text) and ONE corpus scan for scoring.
#
# Scale guard: an n-gram LM fit on the corpus ITSELF is not
# automatically broadcastable — distinct-bigram count grows ~O(vocab²)
# and reaches billions of rows on a web corpus, where a hard broadcast
# hint would OOM the driver. The model-size stats pass (one aggregation,
# shared with the smoothing scalar) therefore decides the scoring-join
# strategy: broadcast when the model fits (<= max_model_rows), an
# explicit shuffle-hash join otherwise — identical results either way
# (pytest-asserted), only the physical join moves. The production swap
# is a PRUNED/pre-trained model (top-K bigrams or a KenLM binary)
# broadcast to a pandas UDF; this built-in path stays exact instead.
# --------------------------------------------------------------------------

LM_BROADCAST_MAX_ROWS = 5_000_000  # ~ a few hundred MB of (bigram, count)


def lm_bigram_score(spark, sf_dir,
                    max_model_rows: int = LM_BROADCAST_MAX_ROWS):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.lower(F.col("text")), " ")
    m = F.size(words) - 1
    bigrams = F.when(
        m >= 1,
        F.zip_with(
            F.slice(words, 1, m),
            F.slice(words, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array())
    pairs = docs.select("doc_id", F.explode(bigrams).alias("bg")).withColumn(
        "w1", F.split(F.col("bg"), " ")[0]
    )
    bg_counts = pairs.groupBy("bg").agg(F.count("*").alias("c_bg"))
    w1_counts = pairs.groupBy("w1").agg(F.count("*").alias("c_w1"))
    # ONE model-stats job: smoothing vocabulary scalar + the
    # distinct-bigram count that picks the join strategy (driver-side
    # data = two longs, regardless of corpus size)
    stats = (
        pairs.select("bg", F.explode(F.split(F.col("bg"), " ")).alias("w"))
        .agg(
            F.countDistinct("w").alias("v"),
            F.countDistinct("bg").alias("n_bg"),
        )
        .collect()[0]
    )
    logp = F.log(
        (F.col("c_bg") + 1) / (F.col("c_w1") + F.lit(float(stats.v)))
    )
    if stats.n_bg <= max_model_rows:
        bg_j, w1_j = F.broadcast(bg_counts), F.broadcast(w1_counts)
    else:  # model too big to ship — shuffle the counts, never the driver
        bg_j, w1_j = bg_counts.hint("shuffle_hash"), w1_counts.hint("shuffle_hash")
    return (
        pairs.join(bg_j, "bg")
        .join(w1_j, "w1")
        .groupBy("doc_id")
        .agg(F.round(F.avg(logp), 4).alias("avg_logp"))
        .orderBy("doc_id")
    )


LM_BIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n),
                i -> concat_ws(' ', w[i], w[i + 1]))) AS bg
  FROM toks WHERE n >= 2
),
pairs_w1 AS (
  SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM pairs
),
bg_counts AS (SELECT bg, count(*) AS c_bg FROM pairs_w1 GROUP BY bg),
w1_counts AS (SELECT w1, count(*) AS c_w1 FROM pairs_w1 GROUP BY w1),
v AS (
  SELECT count(DISTINCT tok) AS v FROM (
    SELECT unnest(string_split(bg, ' ')) AS tok FROM pairs_w1
  )
)
SELECT p.doc_id,
       round(avg(ln((b.c_bg + 1) / (u.c_w1 + (SELECT v FROM v)))), 4)
         AS avg_logp
FROM pairs_w1 p
JOIN bg_counts b USING (bg)
JOIN w1_counts u USING (w1)
GROUP BY p.doc_id ORDER BY p.doc_id
"""

ML_QUERIES["lm_bigram_score"] = (lm_bigram_score, LM_BIGRAM_SQL)


# --------------------------------------------------------------------------
# Multimodal part II (task brief: "decode / feature-extract / resize /
# frame-sample"): resize and frame sampling. Both run as Arrow-batched
# mapInPandas over the opaque binary payload (the real decode is stubbed
# like multimodal_features above), but their GEOMETRY/SAMPLING math is
# real and — because the fake decode derives dimensions and checksums
# from md5, which DuckDB shares — both ops are fully oracle-checked:
# a rare end-to-end value check on a Pandas-UDF pipeline.
# --------------------------------------------------------------------------

RESIZE_TARGET = 224
FRAME_SAMPLE_K = 4


def _md5_int15(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
    ]
)


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import math

    for pdf in batches:
        texts = pdf["payload"].map(lambda b: bytes(b).decode("utf-8"))
        if DECODE_AVAILABLE:  # pragma: no cover
            dims = [_decode_real(bytes(b)) for b in pdf["payload"]]
            w = pd.Series([d[0] for d in dims])
            h = pd.Series([d[1] for d in dims])
        else:
            # deterministic fake decode: dims from md5 of the payload
            w = texts.map(lambda s: _md5_int15("w:" + s) % 640 + 1)
            h = texts.map(lambda s: _md5_int15("h:" + s) % 480 + 1)
        # REAL resize math: aspect-preserving fit into TARGET x TARGET,
        # never upscale
        scale = pd.concat(
            [RESIZE_TARGET / w, RESIZE_TARGET / h, pd.Series(1.0, index=w.index)],
            axis=1,
        ).min(axis=1)
        ow = (w * scale).map(math.floor).clip(lower=1)
        oh = (h * scale).map(math.floor).clip(lower=1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": w.astype("int32"),
                "height": h.astype("int32"),
                "out_width": ow.astype("int32"),
                "out_height": oh.astype("int32"),
            }
        )


def multimodal_resize(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    media = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return (
        media.repartition(8, "doc_id")
        .mapInPandas(_resize_batches, schema=RESIZE_SCHEMA)
        .orderBy("doc_id")
    )


MULTIMODAL_RESIZE_SQL = f"""
WITH decoded AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('w:', text)), 1, 15)) AS BIGINT)
             % 640 + 1 AS width,
         CAST(concat('0x', substr(md5(concat('h:', text)), 1, 15)) AS BIGINT)
             % 480 + 1 AS height
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       CAST(width AS INT)  AS width,
       CAST(height AS INT) AS height,
       CAST(greatest(1, floor(width * least({RESIZE_TARGET}.0 / width,
                                            {RESIZE_TARGET}.0 / height,
                                            1.0))) AS INT) AS out_width,
       CAST(greatest(1, floor(height * least({RESIZE_TARGET}.0 / width,
                                             {RESIZE_TARGET}.0 / height,
                                             1.0))) AS INT) AS out_height
FROM decoded ORDER BY doc_id
"""


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.LongType(), False),
    ]
)


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import math

    for pdf in batches:
        out = {"doc_id": [], "n_frames": [], "frame_idx": [], "frame_hash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            text = bytes(payload).decode("utf-8")
            # fake video length from payload size; REAL uniform sampling
            n_frames = len(payload) // 40 + 1
            k = min(FRAME_SAMPLE_K, n_frames)
            for j in range(k):
                idx = math.floor(j * (n_frames - 1) / max(k - 1, 1))
                out["doc_id"].append(doc_id)
                out["n_frames"].append(n_frames)
                out["frame_idx"].append(idx)
                out["frame_hash"].append(_md5_int15(text + ":" + str(idx)))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_frames": pd.Series(out["n_frames"], dtype="int32"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                "frame_hash": pd.Series(out["frame_hash"], dtype="int64"),
            }
        )


def multimodal_frame_sample(spark, sf_dir):
    """One input row → k output rows (uniformly sampled frames): the
    mapInPandas row-expansion shape a video pipeline needs."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    media = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return (
        media.repartition(8, "doc_id")
        .mapInPandas(_frame_sample_batches, schema=FRAME_SAMPLE_SCHEMA)
        .orderBy("doc_id", "frame_idx")
    )


MULTIMODAL_FRAME_SQL = f"""
WITH v AS (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) // 40 + 1 AS INT) AS n_frames
  FROM documents WHERE doc_id < 100
),
ks AS (
  SELECT doc_id, text, n_frames,
         least({FRAME_SAMPLE_K}, n_frames) AS k FROM v
),
j AS (
  SELECT doc_id, text, n_frames, k,
         unnest(generate_series(0, k - 1)) AS jj FROM ks
)
SELECT doc_id, n_frames,
       CAST(floor(jj * (n_frames - 1) / greatest(k - 1, 1)) AS INT) AS frame_idx,
       CAST(concat('0x', substr(md5(concat(text, ':',
            CAST(CAST(floor(jj * (n_frames - 1) / greatest(k - 1, 1)) AS INT)
                 AS VARCHAR))), 1, 15)) AS BIGINT) AS frame_hash
FROM j ORDER BY doc_id, frame_idx
"""


ML_QUERIES["multimodal_resize"] = (multimodal_resize, MULTIMODAL_RESIZE_SQL)
ML_QUERIES["multimodal_frame_sample"] = (
    multimodal_frame_sample,
    MULTIMODAL_FRAME_SQL,
)


# --------------------------------------------------------------------------
# Language ID, n-gram variant (task brief: "language-ID (n-gram
# heuristic)", complementing the stopword version above). Score per
# language = total occurrences of its characteristic character trigrams
# (occurrence counting via length-difference after literal replace — a
# pure codegen scan, no explode, no UDF); prediction = argmax with a
# fixed precedence on ties. Fully oracle-checked; output is the
# (actual, predicted) confusion matrix. NOTE the testdata's `lang`
# labels sit on synthetic word-salad text, so the matrix records the
# heuristic's deterministic behavior, not real-language accuracy.
# --------------------------------------------------------------------------

TRIGRAM_PROFILES = {
    "en": ["the", " th", "he ", "and", "ing", "er "],
    "de": ["der", "ein", "ich", "sch", "und", "en "],
    "fr": ["les", " le", "ent", "que", "de ", "ion"],
}


def _trigram_score_col(trigrams: list[str]):
    txt = F.lower(F.col("text"))
    score = None
    for tg in trigrams:
        occ = (F.length(txt) - F.length(F.replace(txt, F.lit(tg), F.lit("")))) / 3
        score = occ if score is None else score + occ
    return score.cast("long")


def lang_id_ngram(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            _trigram_score_col(tgs).alias(f"s_{code}")
            for code, tgs in TRIGRAM_PROFILES.items()
        ],
    )
    best = F.greatest(*[F.col(f"s_{c}") for c in TRIGRAM_PROFILES])
    pred = (
        F.when(F.col("s_en") == best, "en")
        .when(F.col("s_de") == best, "de")
        .otherwise("fr")
    )
    return (
        scored.withColumn("pred", pred)
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred")
    )


def _lang_ngram_sql() -> str:
    def score(code):
        terms = " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{tg}', ''))) / 3"
            for tg in TRIGRAM_PROFILES[code]
        )
        return f"CAST({terms} AS BIGINT)"

    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {score('en')} AS s_en, {score('de')} AS s_de, {score('fr')} AS s_fr
  FROM documents
)
SELECT lang,
       CASE WHEN s_en = greatest(s_en, s_de, s_fr) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr) THEN 'de'
            ELSE 'fr' END AS pred,
       count(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY lang, pred
"""


ML_QUERIES["lang_id_ngram"] = (lang_id_ngram, _lang_ngram_sql())


# --------------------------------------------------------------------------
# BPE-ish token counting (task brief: "token counting (whitespace + a
# BPE-ish regex)"). The pattern is the GPT-2 pretokenizer family —
# contraction suffixes, space-prefixed letter runs, digit runs, punct
# runs — minus the trailing-whitespace lookahead (RE2, which DuckDB
# uses, has no lookahead; Java and RE2 agree on leftmost-first
# alternation for this pattern, which the oracle verifies).
# --------------------------------------------------------------------------

BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9']+"


def token_stats_bpe(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tk = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    return (
        docs.select("lang", tk.alias("tk"))
        .groupBy("lang")
        .agg(
            F.sum(F.size("tk")).alias("total_tokens"),
            F.round(F.avg(F.size("tk")), 4).alias("avg_tokens"),
            F.max(F.size("tk")).alias("max_tokens"),
        )
        .orderBy("lang")
    )


TOKEN_STATS_BPE_SQL = rf"""
SELECT lang,
       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
       round(avg(len(tk)), 4) AS avg_tokens,
       CAST(max(len(tk)) AS INT) AS max_tokens
FROM (SELECT lang,
             regexp_extract_all(lower(text), '{BPE_PATTERN.replace("'", "''")}') AS tk
      FROM documents)
GROUP BY lang ORDER BY lang
"""


ML_QUERIES["token_stats_bpe"] = (token_stats_bpe, TOKEN_STATS_BPE_SQL)


# --------------------------------------------------------------------------
# Near-dup CLUSTERING: connected components over the exact token-Jaccard
# edge set, then canonical-representative selection. This is the piece
# that turns pairwise dedup output into an actionable keep/drop list —
# near-dup relations are not transitive, so pairs alone under-merge.
#
# Spark side: iterative min-label propagation (each round: ship every
# node's current label to its neighbors, keep the minimum; labels are
# monotone non-increasing, so the labels settle in <= graph-diameter
# rounds), run by fixpoint(). Each round is one shuffle keyed by dst +
# one self-join. Near-dup graphs are dense and low-diameter (clusters
# are near-cliques), so this beats the O(log n)-round large-star/small-star contraction
# (Kiveris et al., "Connected Components in MapReduce and Beyond") in
# practice; swap in star contraction if cluster diameters are adversarial.
#
# Oracle: DuckDB recursive CTE computing full reachability, then
# min(reachable id) per node — an independent formulation of the same
# fixpoint.
# --------------------------------------------------------------------------

CC_MAX_ITERS = 15


N_PAIR_BUCKETS = 8  # B: all-pairs work spreads over B(B+1)/2 cells/block


def _lsh_worthwhile(docs: DataFrame) -> bool:
    """Selectivity probe: decide whether LSH candidate generation can
    actually prune. MinHash-LSH beats the exact all-pairs join only when
    most pairs DON'T collide; on a corpus whose vocabulary is tiny
    relative to document length (e.g. the synthetic bench tables: 31
    distinct words), every token set covers most of the vocabulary, all
    pairs are near-dups, and banding degenerates into full same-bucket
    collision — LSH then pays signature + 16-band bucket expansion for
    zero pruning (measured 2× slower than the triangle join at sf0.1).

    The probe reads a 256-doc sample and compares sample vocabulary size
    against mean distinct-tokens-per-doc: vocab ≫ doc length means token
    sets are sparse subsets (realistic text: sample vocab 10⁴–10⁵ vs
    ~10² distinct tokens/doc) and collisions are informative. One tiny
    driver-side aggregate, the same class of runtime statistics-based
    strategy choice AQE makes for joins.
    """
    row = (
        # orderBy + limit = per-partition top-k merge (TakeOrdered): a
        # DETERMINISTIC sample, unlike bare limit() which keeps whatever
        # partitions answer first and could flip the routing run-to-run
        # on a borderline corpus.
        docs.orderBy("doc_id")
        .limit(256)
        .select(tokens_distinct(F.col("text")).alias("tk"))
        .agg(
            F.avg(F.size("tk")).alias("avg_doc_tokens"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("tk")))
            ).alias("vocab"),
        )
        .collect()[0]
    )
    if row.avg_doc_tokens is None:  # empty corpus: nothing to prune
        return False
    return row.vocab > 8 * row.avg_doc_tokens


def _jaccard_edges(
    spark, sf_dir, threshold: float = 0.8, use_lsh: bool | str = "auto"
) -> DataFrame:
    """Same-source token-Jaccard >= threshold pairs (d1 < d2) — the edge
    feed for near-dup clustering, identical in output to
    ``dedup_token_jaccard``'s pair set.

    ``use_lsh="auto"`` (default) picks the candidate generator by the
    ``_lsh_worthwhile`` selectivity probe: MinHash-LSH banding at 16
    bands × 2 rows over unigram shingles when collisions prune (the
    100 TB path — the minhash estimates exactly the token-Jaccard being
    thresholded, per-pair miss probability at j=0.8 is (1-0.8²)^16 ≈
    8e-8), the exact triangle all-pairs join when the corpus is so
    self-similar that nothing prunes (the synthetic bench tables). Both
    paths produce the identical edge set (pytest-asserted), so the
    choice is pure physics, like AQE picking a join strategy.

    ``use_lsh=False`` forces the exact all-pairs triangle join — the
    executable spec and the oracle's formulation; ``True`` forces LSH.
    """
    if use_lsh == "auto":
        # memoize once per documents table on the SESSION OBJECT (like
        # broadcast_rulesets): dedup_clusters, dedup_representatives and
        # curate_corpus all route through here. Keying a module dict by
        # id(spark) would let a garbage-collected session's decision
        # leak into a new session allocated at the same address.
        cache = getattr(spark, "_dm_lsh_probe_cache", None)
        if cache is None:
            cache = {}
            setattr(spark, "_dm_lsh_probe_cache", cache)
        if sf_dir not in cache:
            cache[sf_dir] = _lsh_worthwhile(
                t(spark, sf_dir, "documents").select("doc_id", "text")
            )
        use_lsh = cache[sf_dir]
    if use_lsh:
        docs = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        # Blocking col joins the LSH bucket key: cross-source candidates
        # are never generated, mirroring the all-pairs same-source block.
        cands = lsh_candidate_pairs(
            docs, n_bands=16, shingle_k=1, block_cols=("source",)
        ).localCheckpoint()
        return _verify_candidate_pairs(
            cands, docs, tokens_distinct, threshold
        ).select("d1", "d2")

    # -- exact all-pairs triangle join (the spec path) ---------------------
    # The naive self-join on the blocking key parallelizes by DISTINCT
    # BLOCK — a handful of sources means a handful of tasks regardless of
    # cluster size. This uses the standard triangle (bucket-pair) all-pairs
    # join instead: hash each doc into one of B buckets, fan the row out to
    # its join cells — as LEFT of cells (b, j>=b), as RIGHT of cells
    # (i<=b, b) — and equi-join on (source, cell). Same comparison count,
    # but spread over B(B+1)/2 cells per block; each row is replicated B+1
    # times through the shuffle, the price of parallelism. Diagonal cells
    # see each pair twice, so they keep only doc_l < doc_r; off-diagonal
    # cells see it once and emit (least, greatest).
    B = N_PAIR_BUCKETS
    # Repartition the RAW rows before the heavy projection — a small
    # parquet file scans as ONE task, and select-then-repartition would
    # leave tokenization + fan-out single-core (see _with_shingles).
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .select("doc_id", "source", tokens_distinct(F.col("text")).alias("tk"))
    )
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(B)).cast("int")
    left = docs.withColumn("b", bucket).select(
        "doc_id",
        "source",
        "tk",
        F.col("b").alias("ci"),
        F.explode(F.sequence(F.col("b"), F.lit(B - 1))).alias("cj"),
    )
    right = docs.withColumn("b", bucket).select(
        F.col("doc_id").alias("r_doc_id"),
        F.col("source").alias("r_source"),
        F.col("tk").alias("r_tk"),
        F.explode(F.sequence(F.lit(0), F.col("b"))).alias("ci"),
        F.col("b").alias("cj"),
    )
    # Size-ratio pruning (AllPairs/PPJoin lemma): jaccard(A,B) <=
    # min(|A|,|B|)/max(|A|,|B|), so pairs whose distinct-token counts
    # differ by more than the threshold ratio cannot qualify — an integer
    # compare that prunes most candidates before the O(|A|+|B|) set ops.
    # 0.799 (not 0.8) keeps pairs that only pass after round(...,4).
    sz_l, sz_r = F.size(left.tk), F.size(right.r_tk)
    pairs = left.join(
        right,
        (left.source == right.r_source)
        & (left.ci == right.ci)
        & (left.cj == right.cj)
        & (
            (left.ci != right.cj)
            | (left.doc_id < right.r_doc_id)
        )
        & (
            F.least(sz_l, sz_r)
            >= F.greatest(sz_l, sz_r) * (threshold - 0.001)
        ),
    )
    jac = F.size(F.array_intersect("tk", "r_tk")) / F.size(
        F.array_union("tk", "r_tk")
    )
    return pairs.where(F.round(jac, 4) >= threshold).select(
        F.least("doc_id", "r_doc_id").alias("d1"),
        F.greatest("doc_id", "r_doc_id").alias("d2"),
    )


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """(doc_id, cluster) for every node of the (d1, d2) edge set, where
    cluster = min doc_id in the node's connected component."""
    # Symmetrize with one explode pass (a union of two N-partition
    # branches is 2N partitions and two upstream evaluations), then hash
    # by dst — the per-iteration join key — so the loop's sym side never
    # re-shuffles. Partition count sized to the edge set, not to the
    # (much wider) upstream pair-join.
    par = edges.sparkSession.sparkContext.defaultParallelism
    both = F.array(
        F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
        F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
    )
    sym = (
        edges.select(F.explode(both).alias("e"))
        .select("e.src", "e.dst")
        .repartition(par, "dst")
        .localCheckpoint()
    )
    # keyed by doc_id (distinct sources; each round keeps one row per
    # label-table row)
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
    )

    def propagate(labels):
        neigh = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("cluster").alias("c")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("c").alias("nc"))
            .withColumnRenamed("src", "doc_id")
        )
        return labels.join(neigh, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster"), F.coalesce("nc", F.col("cluster"))
            ).alias("cluster"),
        )

    # max_iters bounds PROPAGATION rounds; seeing the fixpoint takes one
    # more, so a diameter-max_iters graph converges and a deeper one
    # raises instead of being split into several clusters without error
    return fixpoint(labels, propagate, "connected_components", max_iters + 1)


def dedup_clusters(spark, sf_dir):
    return connected_components(_jaccard_edges(spark, sf_dir)).orderBy("doc_id")


_CC_EDGES_SQL = """
toks AS (
  SELECT doc_id, source, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents
),
jpairs AS (
  SELECT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           round(len(list_intersect(a.tk, b.tk))::DOUBLE
                 / len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
    FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
  ) WHERE jaccard >= 0.8
),
edges AS (
  SELECT d1 AS src, d2 AS dst FROM jpairs
  UNION ALL SELECT d2, d1 FROM jpairs
),
reach AS (
  SELECT DISTINCT src AS node, src AS r FROM edges
  UNION
  SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.node = e.dst
),
labels AS (
  SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node
)
"""

DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CC_EDGES_SQL}
SELECT doc_id, cluster FROM labels ORDER BY doc_id
"""


def dedup_representatives(spark, sf_dir):
    """One keeper per near-dup cluster: the longest document (ties
    broken by smallest doc_id), plus cluster size and total bytes — the
    keep/drop manifest a dedup stage feeds downstream."""
    labels = dedup_clusters(spark, sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = labels.join(docs, "doc_id")
    w = W.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias(
                "rep_doc_id"
            ),
            F.count("*").alias("n_members"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("cluster")
    )


DEDUP_REPRESENTATIVES_SQL = f"""
WITH RECURSIVE {_CC_EDGES_SQL},
j AS (
  SELECT l.doc_id, l.cluster, d.n_chars
  FROM labels l JOIN documents d USING (doc_id)
),
rn AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster ORDER BY n_chars DESC, doc_id
  ) AS rn FROM j
)
SELECT cluster,
       max(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc_id,
       count(*) AS n_members,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM rn GROUP BY cluster ORDER BY cluster
"""


ML_QUERIES["dedup_clusters"] = (dedup_clusters, DEDUP_CLUSTERS_SQL)
ML_QUERIES["dedup_representatives"] = (
    dedup_representatives,
    DEDUP_REPRESENTATIVES_SQL,
)


# --------------------------------------------------------------------------
# Deterministic dataset splitting & sampling — the train/valid/test
# holdout and the eval-slice draw every training-data pipeline needs.
# Both are pure hash math (md5, identical in Spark and DuckDB), so they
# are reproducible across engines/runs/cluster sizes and need no stored
# split table; membership is a projection, never a shuffle.
# --------------------------------------------------------------------------


def hash_split(spark, sf_dir):
    """80/10/10 train/valid/test split by md5 bucket of doc_id; returns
    the per-split per-lang manifest (counts + size) used to sanity-check
    balance. At 10^12 docs this is a scan + one small aggregation."""
    docs = t(spark, sf_dir, "documents")
    bucket = _md5_long("split:", F.col("doc_id")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


HASH_SPLIT_SQL = """
SELECT split, lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
FROM (
  SELECT CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'valid'
              ELSE 'test' END AS split,
         lang, n_chars
  FROM (
    SELECT lang, n_chars,
           CAST(concat('0x', substr(md5(concat('split:',
                CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
    FROM documents
  )
)
GROUP BY split, lang ORDER BY split, lang
"""


def stratified_sample(spark, sf_dir, k: int = 20):
    """Exactly-k-per-language deterministic sample: rank docs inside
    each lang by a salted md5 of doc_id and keep the first k. Unlike
    TABLESAMPLE/df.sample this is exact, stratified, and identical on
    every engine and cluster size. One window shuffle keyed by lang;
    at scale pre-filter with a bucket predicate (md5 % m < ceil) so the
    window only ranks ~k·fudge rows per stratum instead of the corpus."""
    docs = t(spark, sf_dir, "documents")
    h = _md5_long("sample:", F.col("doc_id")) % 1_000_000_007
    w = W.partitionBy("lang").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("lang", F.col("rn").cast("int").alias("rn"), "doc_id")
        .orderBy("lang", "rn")
    )


STRATIFIED_SAMPLE_SQL = """
SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5(concat('sample:',
                CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
             % 1000000007 AS h
    FROM documents
  )
) WHERE rn <= 20 ORDER BY lang, rn
"""


ML_QUERIES["hash_split"] = (hash_split, HASH_SPLIT_SQL)
ML_QUERIES["stratified_sample"] = (stratified_sample, STRATIFIED_SAMPLE_SQL)


# --------------------------------------------------------------------------
# Approximate aggregates — the sketches that replace exact
# distinct/percentile at 100 TB. approx_count_distinct is HyperLogLog++
# (mergeable partial aggs — one pass, no per-key shuffle of raw values);
# approx_percentile is a mergeable quantile summary. No DuckDB oracle
# (sketch internals differ across engines); pytest bounds the relative
# error against the exact answers instead.
# --------------------------------------------------------------------------


def approx_stats(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias(
                "approx_parts"
            ),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias(
                "approx_med_price"
            ),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


ML_QUERIES["approx_stats"] = (approx_stats, None)


# --------------------------------------------------------------------------
# End-to-end corpus curation — the whole training-data recipe as ONE
# declarative plan: near-dup dedup (keep the cluster representative),
# quality gate (length + lexical-diversity thresholds), deterministic
# train/valid/test assignment, and the per-split per-lang token budget
# manifest a data order is written against. Every stage is a scan-level
# filter or broadcast join; the only iterative piece (connected
# components) runs over the tiny edge-node set, never the corpus.
# Fully oracle-checked end to end (recursive CTE + windows in DuckDB).
# --------------------------------------------------------------------------

CURATE_MIN_TOKENS = 25
CURATE_MIN_DISTINCT_RATIO = 0.35


def curate_corpus(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    # 1. dedup keep-list: drop cluster members that are not the longest
    labels = dedup_clusters(spark, sf_dir)  # (doc_id, cluster), nodes only
    w = W.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    reps = (
        labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    drop = labels.select("doc_id").exceptAll(reps)
    kept = docs.join(F.broadcast(drop), "doc_id", "left_anti")
    # 2. quality gate
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    distinct_ratio = F.size(tokens_distinct(F.col("text"))) / n_toks
    kept = kept.where(
        (n_toks >= CURATE_MIN_TOKENS)
        & (distinct_ratio >= CURATE_MIN_DISTINCT_RATIO)
    )
    # 3. deterministic split + 4. manifest
    bucket = _md5_long("split:", F.col("doc_id")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        kept.select(split.alias("split"), "lang", n_toks.alias("nt"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


CURATE_CORPUS_SQL = f"""
WITH RECURSIVE {_CC_EDGES_SQL},
reps AS (
  SELECT doc_id FROM (
    SELECT l.doc_id, row_number() OVER (
      PARTITION BY l.cluster ORDER BY d.n_chars DESC, l.doc_id
    ) AS rn
    FROM labels l JOIN documents d USING (doc_id)
  ) WHERE rn = 1
),
kept AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (
    SELECT doc_id FROM labels
    WHERE doc_id NOT IN (SELECT doc_id FROM reps)
  )
),
gated AS (
  SELECT *, len(string_split(text, ' ')) AS nt
  FROM kept
  WHERE len(string_split(text, ' ')) >= {CURATE_MIN_TOKENS}
    AND len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
        / len(string_split(text, ' ')) >= {CURATE_MIN_DISTINCT_RATIO}
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens
FROM (
  SELECT CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'valid'
              ELSE 'test' END AS split,
         lang, nt
  FROM (
    SELECT lang, nt,
           CAST(concat('0x', substr(md5(concat('split:',
                CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 100 AS b
    FROM gated
  )
)
GROUP BY split, lang ORDER BY split, lang
"""


ML_QUERIES["curate_corpus"] = (curate_corpus, CURATE_CORPUS_SQL)


# --------------------------------------------------------------------------
# N-gram statistics: top-k bigrams per language. Bigram construction is
# an arrays_zip of shifted slices (the HOF-safe pattern — indexing
# words[i+1] inside a transform re-evaluates the split per element),
# then one explode + count + per-group top-k via window (Spark plans the
# rank filter as WindowGroupLimit: partial top-k before the shuffle).
# --------------------------------------------------------------------------


def top_bigrams(spark, sf_dir, k: int = 5):
    docs = (
        t(spark, sf_dir, "documents")
        .select("lang", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    words = F.split(F.lower("text"), " ")
    m = F.size(words) - 1
    zipped = F.arrays_zip(
        F.slice(words, 1, m).alias("w0"), F.slice(words, 2, m).alias("w1")
    )
    bg = docs.select(
        "lang",
        F.explode(
            F.transform(zipped, lambda s: F.concat_ws(" ", s["w0"], s["w1"]))
        ).alias("bg"),
    )
    counts = bg.groupBy("lang", "bg").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("bg"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("lang", F.col("rn").cast("int").alias("rn"), "bg", "n")
        .orderBy("lang", "rn")
    )


TOP_BIGRAMS_SQL = """
WITH words AS (
  SELECT lang, string_split(lower(text), ' ') AS w FROM documents
),
bigrams AS (
  SELECT lang, w[i] || ' ' || w[i+1] AS bg
  FROM words, unnest(range(1, len(w))) AS t(i)
),
counts AS (
  SELECT lang, bg, count(*) AS n FROM bigrams GROUP BY 1, 2
)
SELECT lang, CAST(rn AS INT) AS rn, bg, n FROM (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bg) AS rn
  FROM counts
) WHERE rn <= 5 ORDER BY lang, rn
"""


ML_QUERIES["top_bigrams"] = (top_bigrams, TOP_BIGRAMS_SQL)


# --------------------------------------------------------------------------
# Character-entropy quality metric — a cheap perplexity proxy (gibberish
# and boilerplate sit at distribution extremes). Relational formulation
# (explode chars → histogram → -Σ p·log2 p) is the oracle-checkable
# spec; at corpus scale the same math runs vectorized inside the
# extraction cascade's Arrow pass instead of exploding per character.
# --------------------------------------------------------------------------


def char_entropy(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    clean = F.regexp_replace(F.lower("text"), "[^a-z]", "")
    chars = docs.select(
        "doc_id", F.explode(F.split(clean, "")).alias("c")
    ).where(F.col("c") != "")
    freq = chars.groupBy("doc_id", "c").agg(
        F.count("*").cast("double").alias("n")
    )
    tot = freq.groupBy("doc_id").agg(F.sum("n").alias("tn"))
    p = F.col("n") / F.col("tn")
    return (
        freq.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("char_entropy"))
        .orderBy("doc_id")
    )


CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id,
         unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-z]', '', 'g'), '')) AS c
  FROM documents WHERE doc_id < 50
),
freq AS (
  SELECT doc_id, c, count(*)::DOUBLE AS n
  FROM chars WHERE c != '' GROUP BY 1, 2
),
tot AS (SELECT doc_id, sum(n) AS tn FROM freq GROUP BY 1)
SELECT f.doc_id, round(-sum((n/tn) * log2(n/tn)), 4) AS char_entropy
FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id ORDER BY f.doc_id
"""


ML_QUERIES["char_entropy"] = (char_entropy, CHAR_ENTROPY_SQL)


# --------------------------------------------------------------------------
# Relational form of running-header detection (SURVEY.md R3 documents
# this as the non-default formulation; the production path runs the same
# ±-neighbor comparison inside the Arrow cascade). Pages are synthesized
# deterministically from `documents` — even doc_ids carry a repeated
# header line, odd ones a varying first line — then detection is pure
# window algebra: normalize the first line, compare against lag/lead
# neighbors within the doc, count repeats. One shuffle (the window
# partition by doc_id); everything stays in WholeStageCodegen.
# --------------------------------------------------------------------------


def header_detect_relational(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    pages = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("offset"),
        "text",
    )
    # Even docs: a repeated running head (detected). Odd docs: a first
    # line that actually varies per page AFTER digit-stripping (a slice
    # of the body) — "chapter 1/2/3"-style lines would normalize to the
    # same string and be flagged, which is the reference's known
    # page-number-in-header behavior, not a useful negative case.
    first_line = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("The Journal Vol "), F.col("doc_id").cast("string")),
    ).otherwise(F.substring(F.col("text"), F.col("offset") * 7 + 1, 12))
    body = F.substring(
        F.col("text"), F.col("offset") * 40 + 1, 40
    )
    page = pages.select(
        "doc_id",
        "offset",
        F.concat(first_line, F.lit("\n"), body).alias("page_text"),
    )
    norm = F.regexp_replace(
        F.lower(F.split(F.col("page_text"), "\n")[0]), "[^a-z ]", ""
    )
    w = W.partitionBy("doc_id").orderBy("offset")
    flagged = page.select(
        "doc_id",
        "offset",
        norm.alias("norm"),
    ).withColumn(
        "is_header",
        (F.col("norm") == F.lag("norm", 1).over(w))
        | (F.col("norm") == F.lead("norm", 1).over(w)),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("is_header"), 1).otherwise(0)).alias(
                "header_pages"
            )
        )
        .orderBy("doc_id")
    )


HEADER_DETECT_SQL = """
WITH pages AS (
  SELECT doc_id, off, text
  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) AS t
  WHERE doc_id < 300
),
page AS (
  SELECT doc_id, off,
         CASE WHEN doc_id % 2 = 0
              THEN 'The Journal Vol ' || CAST(doc_id AS VARCHAR)
              ELSE substr(text, off * 7 + 1, 12) END
         || chr(10) || substr(text, off * 40 + 1, 40) AS page_text
  FROM pages
),
flagged AS (
  SELECT doc_id, off,
         regexp_replace(lower(string_split(page_text, chr(10))[1]),
                        '[^a-z ]', '', 'g') AS norm
  FROM page
),
marked AS (
  SELECT doc_id,
         (norm = lag(norm, 1)  OVER (PARTITION BY doc_id ORDER BY off)
          OR norm = lead(norm, 1) OVER (PARTITION BY doc_id ORDER BY off))
           AS is_header
  FROM flagged
)
SELECT doc_id,
       CAST(sum(CASE WHEN is_header THEN 1 ELSE 0 END) AS BIGINT)
         AS header_pages
FROM marked GROUP BY doc_id ORDER BY doc_id
"""


ML_QUERIES["header_detect_relational"] = (
    header_detect_relational,
    HEADER_DETECT_SQL,
)


# --------------------------------------------------------------------------
# Approximate frequent items (heavy hitters) — df.freqItems implements
# the Karp-Shenker-Papadimitriou single-pass algorithm: one scan, O(1/s)
# state, mergeable across partitions; the result is guaranteed to be a
# SUPERSET of every value with frequency > s (false positives possible,
# false negatives not). Rows-only (sketch contents are
# implementation-defined); pytest asserts the superset guarantee against
# exact counts.
# --------------------------------------------------------------------------


def freq_items(spark, sf_dir, support: float = 0.05):
    li = t(spark, sf_dir, "lineitem")
    out = li.select("l_suppkey", "l_returnflag").freqItems(
        ["l_suppkey", "l_returnflag"], support=support
    )
    return out.select(
        F.array_sort("l_suppkey_freqItems").alias("hot_suppkeys"),
        F.array_sort("l_returnflag_freqItems").alias("hot_flags"),
    )


ML_QUERIES["freq_items"] = (freq_items, None)


# --------------------------------------------------------------------------
# Positional lateral explode: posexplode vs DuckDB's range-lateral
# (ordinal position is data, not incidental row order — required
# whenever downstream logic reassembles or windows over the exploded
# elements, e.g. chunk reassembly in operators/chunked.py).
# --------------------------------------------------------------------------


def posexplode_sentences(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    first10 = F.slice(F.split(F.col("text"), " "), 1, 10)
    return (
        docs.select(
            "doc_id", F.posexplode(first10).alias("idx", "word")
        )
        .select("doc_id", F.col("idx").cast("int").alias("idx"), "word")
        .orderBy("doc_id", "idx")
    )


POSEXPLODE_SQL = """
SELECT doc_id, CAST(i - 1 AS INT) AS idx, arr[i] AS word
FROM (
  SELECT doc_id, string_split(text, ' ')[1:10] AS arr
  FROM documents WHERE doc_id < 30
), unnest(range(1, len(arr) + 1)) AS t(i)
ORDER BY doc_id, idx
"""


ML_QUERIES["posexplode_sentences"] = (posexplode_sentences, POSEXPLODE_SQL)


# --------------------------------------------------------------------------
# PII redaction — the compliance pass every training-data pipeline runs
# before packing (emails / IPv4 / phone-shaped strings → typed
# placeholders). The synthetic corpus carries no PII, so the query
# INJECTS it deterministically (like dedup_embedding_cosine synthesizes
# its near-dups): every 7th doc gains an email, every 5th an IP, every
# 3rd a phone. Detection + redaction are pure regexp projections
# (codegen, no shuffle, no Python); patterns stay inside the
# RE2 ∩ java.util.regex common dialect so Spark and DuckDB agree
# byte-for-byte, and the oracle hash-checks the REDACTED TEXT itself
# via md5 — not just the counts.
# --------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"


def redact_pii(spark, sf_dir):
    d = F.col("doc_id")
    inject = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact user"),
                                    d.cast("string"),
                                    F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" node 10.0."),
                                    (d % 256).cast("string"), F.lit("."),
                                    ((d * 7) % 256).cast("string"))).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit(" call 555-"),
                                    (d % 9000 + 1000).cast("string"))).otherwise(F.lit("")),
    )
    docs = t(spark, sf_dir, "documents").select("doc_id", inject.alias("pii"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>"),
        PII_PHONE, "<PHONE>")
    return (
        docs.where((d % 7 == 0) | (d % 5 == 0) | (d % 3 == 0))
        .select(
            "doc_id",
            F.regexp_count(F.col("pii"), F.lit(PII_EMAIL)).alias("n_emails"),
            F.regexp_count(F.col("pii"), F.lit(PII_IPV4)).alias("n_ips"),
            F.regexp_count(F.col("pii"), F.lit(PII_PHONE)).alias("n_phones"),
            F.md5(redacted).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


REDACT_PII_SQL = rf"""
WITH pii AS (
  SELECT doc_id,
         concat(text,
           CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END,
           CASE WHEN doc_id % 5 = 0 THEN ' node 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END,
           CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
         ) AS pii
  FROM documents
  WHERE doc_id % 7 = 0 OR doc_id % 5 = 0 OR doc_id % 3 = 0
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii, '{PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(pii, '{PII_IPV4}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(pii, '{PII_PHONE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(pii,
           '{PII_EMAIL}', '<EMAIL>', 'g'),
           '{PII_IPV4}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_md5
FROM pii ORDER BY doc_id
"""

ML_QUERIES["redact_pii"] = (redact_pii, REDACT_PII_SQL)


# --------------------------------------------------------------------------
# TF-IDF top terms — the classic relevance/keyword-extraction primitive
# (domain labeling, near-dup triage, topic seeds). Document frequency is
# a VOCAB-SIZED model table, so — same rule as lm_bigram_score — the
# tf↔df join carries NO broadcast hint: AQE broadcasts when the vocab is
# actually small and shuffle-joins otherwise. The per-doc top-k runs as
# row_number over (doc_id), which Spark executes with WindowGroupLimit
# (partial top-k before the shuffle). Output restricted to doc_id < 50
# AFTER df is fit corpus-wide (the restriction prunes the tf side of
# the join and the window input, not the model).
# --------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_top_terms(spark, sf_dir, k: int = TFIDF_TOP_K):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()  # model scalar (like lm_bigram's vocab size)
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.where(F.col("doc_id") < 50)
        .join(dfreq, "term")
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", F.col("rank").cast("int").alias("rank"),
                "score")
        .orderBy("doc_id", "rank")
    )


TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term,
         round(t.tf * ln((SELECT n_docs FROM n)::DOUBLE / d.df), 4) AS score
  FROM tf t JOIN dfreq d USING (term)
  WHERE t.doc_id < 50
)
SELECT doc_id, term, rank, score FROM (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term
         ) AS INT) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
ORDER BY doc_id, rank
"""

ML_QUERIES["tfidf_top_terms"] = (tfidf_top_terms, TFIDF_SQL)


# --------------------------------------------------------------------------
# Repeated-passage mining — the cross-document half of substring dedup
# (Lee et al., "Deduplicating Training Data Makes Language Models
# Better"): find verbatim k-token passages occurring in 2+ documents.
# One explode + one aggregation — the shape that holds at 10^12 docs
# (partial counts map-side; no pairwise anything). Passages are
# reported by md5 so the output stays narrow regardless of k.
# --------------------------------------------------------------------------

PASSAGE_K = 10
PASSAGE_TOP = 20


def common_passages(spark, sf_dir, k: int = PASSAGE_K, top: int = PASSAGE_TOP):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), k)).alias("g")
    )
    # md5 BEFORE the shuffle: the aggregation key is 32 hex chars, not a
    # ~100-byte passage string — at 10^12 docs the exploded gram shuffle
    # is the op's entire cost and this ~3×-narrows it
    return (
        grams.groupBy(F.md5("g").alias("passage_md5"))
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "passage_md5")
        .limit(top)
    )


COMMON_PASSAGES_SQL = f"""
WITH sh AS ({_shingle_sql(PASSAGE_K)}),
grams AS (SELECT doc_id, unnest(sh) AS g FROM sh)
SELECT md5(g) AS passage_md5, count(DISTINCT doc_id) AS n_docs
FROM grams GROUP BY md5(g)
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, passage_md5 LIMIT {PASSAGE_TOP}
"""

ML_QUERIES["common_passages"] = (common_passages, COMMON_PASSAGES_SQL)


# --------------------------------------------------------------------------
# Domain-mixture weights — the sampling-weight computation behind every
# "X% web, Y% books, Z% code" training mix: per-source token shares vs
# a (here uniform) target mixture, weight = target_share / actual_share.
# The windowed totals run over the ALREADY-AGGREGATED per-source table
# (a handful of rows at any corpus size), so the single-partition
# window is free; the corpus-sized work is one map-side-combined
# aggregation.
# --------------------------------------------------------------------------


def mixture_weights(spark, sf_dir):
    per = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("tokens"),
        )
    )
    w = W.partitionBy()
    share = F.col("tokens") / F.sum("tokens").over(w)
    weight = (F.lit(1.0) / F.count("*").over(w)) / share
    return per.select(
        "source", "n_docs", F.col("tokens").cast("long").alias("tokens"),
        F.round(share, 6).alias("share"),
        F.round(weight, 6).alias("weight"),
    ).orderBy("source")


MIXTURE_WEIGHTS_SQL = """
WITH per AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, tokens,
       round(tokens / sum(tokens) OVER (), 6) AS share,
       round((1.0 / count(*) OVER ())
             / (tokens / sum(tokens) OVER ()), 6) AS weight
FROM per ORDER BY source
"""

ML_QUERIES["mixture_weights"] = (mixture_weights, MIXTURE_WEIGHTS_SQL)


# --------------------------------------------------------------------------
# Paragraph-hash dedup — CCNet's boilerplate remover: hash every
# paragraph, keep only the globally FIRST occurrence (ordered by
# (doc_id, para_idx) for determinism), reassemble each document from its
# surviving paragraphs. The synthetic corpus is newline-free and
# duplicate-free, so the query injects shared boilerplate paragraphs
# deterministically (" # " is the paragraph separator standing in for
# "\n\n"): every 4th doc gains a newsletter plea, every 7th a copyright
# line — the dedup must strip them from all but the lowest doc_id.
#
# Scale shape: one shuffle keyed on md5(paragraph) for the global
# first-occurrence window (the key is 32 hex chars regardless of
# paragraph size), one shuffle back on doc_id to reassemble — both
# narrow, both map-side-combinable. This is exactly CCNet's layout;
# at 10^12 docs the paragraph-hash table shards by hash prefix and
# never materializes paragraph text past the first shuffle (only the
# keep/drop verdict travels back).
# --------------------------------------------------------------------------

PARA_SEP = " # "
BOILER_NEWSLETTER = "subscribe to our newsletter for weekly updates"
BOILER_RIGHTS = "all rights reserved copyright two thousand"


def _with_boilerplate(docs):
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 4 == 0, F.lit(PARA_SEP + BOILER_NEWSLETTER))
            .otherwise(F.lit("")),
            F.when(d % 7 == 0, F.lit(PARA_SEP + BOILER_RIGHTS))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


def paragraph_dedup(spark, sf_dir):
    docs = _with_boilerplate(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    paras = docs.select(
        "doc_id", F.posexplode(F.split("text", PARA_SEP)).alias(
            "para_idx", "para")
    )
    first = W.partitionBy(F.md5("para")).orderBy("doc_id", "para_idx")
    kept = (
        paras.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1)
    )
    clean = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("para_idx", "para"))),
                    lambda s: s["para"],
                ),
                PARA_SEP,
            )
        ).alias("clean_md5"),
    )
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    # left join: a doc whose every paragraph is boilerplate seen earlier
    # keeps nothing (possible in production; synthetic main texts are
    # unique so here n_kept >= 1 always)
    return (
        totals.join(clean, "doc_id", "left")
        .where(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.col("n_paras").cast("int").alias("n_paras"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


PARAGRAPH_DEDUP_SQL = f"""
WITH b AS (
  SELECT doc_id,
         concat(text,
           CASE WHEN doc_id % 4 = 0 THEN '{PARA_SEP}{BOILER_NEWSLETTER}' ELSE '' END,
           CASE WHEN doc_id % 7 = 0 THEN '{PARA_SEP}{BOILER_RIGHTS}' ELSE '' END
         ) AS text
  FROM documents
),
p AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, arr[i] AS para
  FROM (SELECT doc_id, string_split(text, '{PARA_SEP}') AS arr FROM b),
       unnest(range(1, len(arr) + 1)) AS t(i)
),
k AS (
  SELECT doc_id, para_idx, para,
         row_number() OVER (
           PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
  FROM p
),
clean AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(para, '{PARA_SEP}' ORDER BY para_idx)) AS clean_md5
  FROM k WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id)
SELECT doc_id, CAST(n_paras AS INT) AS n_paras,
       CAST(coalesce(n_kept, 0) AS INT) AS n_kept,
       coalesce(clean_md5, md5('')) AS clean_md5
FROM tot LEFT JOIN clean USING (doc_id)
WHERE doc_id < 200 ORDER BY doc_id
"""

ML_QUERIES["paragraph_dedup"] = (paragraph_dedup, PARAGRAPH_DEDUP_SQL)


# --------------------------------------------------------------------------
# URL/domain analytics — the crawl-curation front door: normalize a URL
# per document, parse host / registered domain / path depth with
# regexes in the RE2 ∩ java.util.regex ∩ DuckDB common dialect, drop
# blocklisted sources with a BROADCAST anti join (the blocklist is
# small by definition — same broadcast budget as the rulesets), and
# aggregate per registered domain. The synthetic corpus has no URL
# column, so the URL is synthesized deterministically from
# (source, lang, doc_id) in both engines.
#
# Scale shape: pure regex projections in codegen + one broadcast anti
# join + one map-side-combinable aggregation on a low-cardinality
# domain key — a single corpus scan end to end.
# --------------------------------------------------------------------------

URL_BLOCKLIST = ["src3", "src7", "src13"]


def _url_tld(source_col):
    b = _md5_long("tld:", source_col) % 3
    return (
        F.when(b == 0, "com").when(b == 1, "org").otherwise("net")
    )


def url_domain_stats(spark, sf_dir):
    d = F.col("doc_id")
    docs = t(spark, sf_dir, "documents")
    block = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(s,) for s in URL_BLOCKLIST], "source string"
        )
    )
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit("."),
        _url_tld(F.col("source")),
        F.lit("/"), F.col("lang"), F.lit("/doc/"), d.cast("string"),
        F.when(d % 3 == 0, "?ref=feed").otherwise(""),
    )
    host = F.regexp_extract(url, r"https://([^/]+)/", 1)
    domain = F.regexp_extract(host, r"([^.]+[.][^.]+)$", 1)
    path = F.regexp_extract(url, r"https://[^/]+(/[^?]*)", 1)
    depth = F.size(F.split(path, "/")) - 2  # leading '' and host cut
    return (
        docs.join(block, "source", "left_anti")
        .select(
            domain.alias("domain"),
            F.col("lang"),
            depth.alias("depth"),
            (d % 3 == 0).cast("int").alias("has_query"),
            F.col("n_chars"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.max("depth").cast("int").alias("max_depth"),
            F.sum("has_query").cast("long").alias("n_query"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("domain")
    )


URL_DOMAIN_SQL = f"""
WITH u AS (
  SELECT doc_id, lang, n_chars, source,
         concat('https://www.', source, '.',
           CASE CAST(concat('0x', substr(md5(concat('tld:', source)), 1, 15))
                     AS BIGINT) % 3
             WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END,
           '/', lang, '/doc/', CAST(doc_id AS VARCHAR),
           CASE WHEN doc_id % 3 = 0 THEN '?ref=feed' ELSE '' END) AS url
  FROM documents
  WHERE source NOT IN ({", ".join(f"'{s}'" for s in URL_BLOCKLIST)})
),
parsed AS (
  SELECT
    regexp_extract(regexp_extract(url, 'https://([^/]+)/', 1),
                   '([^.]+[.][^.]+)$', 1) AS domain,
    lang,
    CAST(len(string_split(
      regexp_extract(url, 'https://[^/]+(/[^?]*)', 1), '/')) - 2 AS INT
    ) AS depth,
    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS has_query,
    n_chars
  FROM u
)
SELECT domain, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       CAST(max(depth) AS INT) AS max_depth,
       CAST(sum(has_query) AS BIGINT) AS n_query,
       round(avg(n_chars), 4) AS avg_chars
FROM parsed GROUP BY domain ORDER BY domain
"""

ML_QUERIES["url_domain_stats"] = (url_domain_stats, URL_DOMAIN_SQL)


# --------------------------------------------------------------------------
# Hashed-feature quality classifier — the fastText-style "apply a
# trained quality model" pass (GPT-3/LLaMA-style pagerank-seeded
# classifiers): token → hashed bucket → weight, document score =
# sigmoid(mean weight). Weights here are a deterministic md5 function
# of the bucket so both engines reproduce them without a side channel;
# a production model swaps the weight expression for a BROADCAST
# lookup of learned weights (vocab-hashed, so the table is bounded by
# the bucket count, not the corpus).
#
# Scale shape: the whole scorer is a higher-order-function projection
# (transform + aggregate over the token array) inside whole-stage
# codegen — no explode, no groupBy, no Python; the only exchange in the
# plan is the output ordering (PLANS.md shows scan → project → sort).
# --------------------------------------------------------------------------

QC_BUCKETS = 512


def quality_classifier(spark, sf_dir):
    words = F.split(F.lower(F.col("text")), " ")

    def weight(tok):
        b = _md5_long("qb:", tok) % QC_BUCKETS
        return (_md5_long("qw:", b) % 2001 - 1000) / 1000.0

    margin = F.aggregate(
        F.transform(words, weight), F.lit(0.0), lambda acc, x: acc + x
    ) / F.size(words)
    score = F.round(1.0 / (1.0 + F.exp(-4.0 * margin)), 6)
    return (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select(
            "doc_id",
            F.size(words).cast("int").alias("n_tokens"),
            score.alias("score"),
            (score >= 0.5).alias("keep"),
        )
        .orderBy("doc_id")
    )


QUALITY_CLASSIFIER_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS INT) AS n_tokens,
         round(1.0 / (1.0 + exp(-4.0 *
           list_sum(list_transform(string_split(lower(text), ' '),
             tok -> (CAST(concat('0x', substr(md5(concat('qw:',
                       CAST(CAST(concat('0x', substr(md5(concat('qb:', tok)),
                                 1, 15)) AS BIGINT) % {QC_BUCKETS}
                            AS VARCHAR))), 1, 15)) AS BIGINT)
                     % 2001 - 1000) / 1000.0))
           / len(string_split(lower(text), ' ')))), 6) AS score
  FROM documents WHERE doc_id < 300
)
SELECT doc_id, n_tokens, score, score >= 0.5 AS keep
FROM scored ORDER BY doc_id
"""

ML_QUERIES["quality_classifier"] = (quality_classifier, QUALITY_CLASSIFIER_SQL)


# --------------------------------------------------------------------------
# Deterministic global shuffle — the training-order randomization step
# before shard writing: every doc gets an md5 permutation key, a shard
# by md5 bucket, and a position within its shard (row_number over the
# key). Verified by a per-shard ORDER DIGEST (sum of pos × doc-hash) so
# the oracle pins the exact permutation, not just shard counts.
#
# Scale shape: shard assignment is a pure projection; the only shuffle
# is the partition-by-shard sort — precisely the exchange a shard
# writer needs anyway (one sorted output file per shard, no global
# coordination, no driver-side pass). The int64 digest is a test-scale
# verification device; at 10^12 docs the evidence is the written shard
# files themselves (md5 keys make reruns byte-identical).
# --------------------------------------------------------------------------

SHUFFLE_SHARDS = 8


def global_shuffle(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    shard = _md5_long("shard:", F.col("doc_id")) % SHUFFLE_SHARDS
    h = _md5_long("dig:", F.col("doc_id")) % 1000003
    by_shard = W.partitionBy("shard").orderBy("key")
    return (
        docs.select(
            "doc_id", key.alias("key"),
            shard.cast("int").alias("shard"), h.alias("h"),
        )
        .withColumn("pos", F.row_number().over(by_shard))
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min_by("doc_id", "key").alias("first_doc"),
            F.sum(F.col("pos") * F.col("h")).cast("long").alias("order_digest"),
        )
        .orderBy("shard")
    )


GLOBAL_SHUFFLE_SQL = f"""
WITH s AS (
  SELECT doc_id,
         md5(concat('shuffle:42:', CAST(doc_id AS VARCHAR))) AS key,
         CAST(CAST(concat('0x', substr(md5(concat('shard:',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
              % {SHUFFLE_SHARDS} AS INT) AS shard,
         CAST(concat('0x', substr(md5(concat('dig:',
              CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000003 AS h
  FROM documents
),
p AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY key) AS pos
  FROM s
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       min_by(doc_id, key) AS first_doc,
       CAST(sum(pos * h) AS BIGINT) AS order_digest
FROM p GROUP BY shard ORDER BY shard
"""

ML_QUERIES["global_shuffle"] = (global_shuffle, GLOBAL_SHUFFLE_SQL)


# --------------------------------------------------------------------------
# Semantic dedup — SemDeDup (Abbas et al., 2023): cluster the embedding
# space, then compare pairs ONLY within a cluster; a member is dropped
# when a more-representative member (closer to the final centroid, ties
# by id) is within cosine >= SEMDEDUP_EPS. The input injects
# deterministic near-duplicates (every 11th vector reappears under
# id+200000, scaled 0.99 + 0.0005) — like dedup_exact/redact_pii — so
# the drop rule has real work to do.
#
# Scale shape: this is THE reason SemDeDup exists — pairwise similarity
# is confined to clusters (n²/k per cluster instead of n² global), and
# clusters are exactly the IVF cells kmeans_fit already produces, so
# the pairwise stage is a per-cluster self-join the shuffle co-locates.
# Semantics note: the drop test is "exists a higher-ranked near-dup",
# whether or not that near-dup itself survives — deterministic, one
# join, no recursion (strictly ⊇ greedy-kept-only drops).
# --------------------------------------------------------------------------

SEMDEDUP_EPS = 0.99


def _semdedup_input(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    dups = emb.where(F.col("vec_id") % 11 == 0).select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.transform(vec, lambda x: x * 0.99 + 0.0005).alias("embedding"),
    )
    return emb.select("vec_id", vec.alias("embedding")).unionByName(dups)


def semantic_dedup(spark, sf_dir, pair_backend: str = "hof"):
    """``pair_backend='hof'`` (default, the oracle-replayable spec
    path) runs the in-cluster pair comparison as a self-join with a
    codegen higher-order-function dot; ``'numpy'`` is the scale path —
    one applyInPandas per cluster doing the whole pairwise affinity as
    a single G·Gᵀ matmul (the same batched-BLAS move as
    _kmeans_assign; ~10⁸ pair-dots/core/s at dim 64 vs ~10⁶ for
    interpreted lambdas). Keep sets are identical (pytest-asserted) —
    numpy's pairwise summation differs from the sequential fold only at
    ~1e-13 relative, far from the EPS margin."""
    aug = _semdedup_input(spark, sf_dir)
    centroids, _ = kmeans_fit(aug)
    v = F.col("embedding").cast("array<double>")
    # normalize ONCE per row (n lambda folds), so each of the ~n²/k
    # in-cluster pairs costs a single dot instead of dot + two norms —
    # measured 3× off the pair stage at sf0.1 (5.5k vectors).
    # zero-norm guard: a zero vector normalizes to itself (cos 0 with
    # everything — never dropped, never drops); ANSI division would
    # otherwise kill the job on one bad row (fuzz-caught)
    nv = F.when(
        l2_norm(F.col("v")) > 0,
        F.transform(F.col("v"), lambda x: x / l2_norm(F.col("v"))),
    ).otherwise(F.col("v"))
    ranked = (
        aug.select(
            "vec_id", v.alias("v"),
            _kmeans_assign(v, centroids).alias("a"),
        )
        .select(
            "vec_id", nv.alias("nv"),
            F.col("a.cluster").alias("cluster"),
            # rank on ROUNDED dist2: engines compute it with different
            # summation orders (~1e-14 apart), and a vector sitting at
            # the same distance as its near-dup would rank-flip across
            # engines on raw floats (fuzz-caught); rounding makes the
            # near-tie an exact tie, broken deterministically by vec_id
            F.row_number().over(
                W.partitionBy("a.cluster").orderBy(
                    F.round(F.col("a.dist2"), 9), "vec_id"
                )
            ).alias("rk"),
        )
    )
    if pair_backend == "numpy":
        def find_drops(pdf: pd.DataFrame) -> pd.DataFrame:
            import numpy as np

            pdf = pdf.sort_values("rk").reset_index(drop=True)
            G = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["nv"]])
            sim = G @ G.T
            # drop j iff any i < j (rank order) has cos >= EPS
            hit = (np.triu(sim, 1) >= SEMDEDUP_EPS).any(axis=0)
            return pdf.loc[hit, ["vec_id"]]

        drops = ranked.groupBy("cluster").applyInPandas(
            find_drops, "vec_id long"
        )
    else:
        cos = dot(F.col("a.nv"), F.col("b.nv"))
        drops = (
            ranked.alias("a")
            .join(
                ranked.alias("b"),
                (F.col("a.cluster") == F.col("b.cluster"))
                & (F.col("a.rk") < F.col("b.rk")),
            )
            .where(cos >= SEMDEDUP_EPS)
            .select(F.col("b.vec_id").alias("vec_id"))
            .distinct()
        )
    return (
        ranked.join(drops.withColumn("dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
        .orderBy("vec_id")
    )


SEMDEDUP_VECS_SQL = """
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 200000 AS vec_id,
         list_transform(embedding::DOUBLE[], x -> x * 0.99 + 0.0005) AS v
  FROM embeddings WHERE vec_id % 11 = 0
"""

SEMDEDUP_FINAL_SQL = f"""
SELECT vec_id, CAST(cl AS INT) AS cluster,
       vec_id NOT IN (
         SELECT b.vec_id
         FROM (SELECT vec_id,
                      list_transform(v, x -> CASE
                          WHEN list_dot_product(v, v) > 0
                          THEN x / sqrt(list_dot_product(v, v))
                          ELSE 0.0 END) AS nv, cl,
                      row_number() OVER (
                        PARTITION BY cl ORDER BY round(dist2, 9), vec_id) AS rk
               FROM afinal) a
         JOIN (SELECT vec_id,
                      list_transform(v, x -> CASE
                          WHEN list_dot_product(v, v) > 0
                          THEN x / sqrt(list_dot_product(v, v))
                          ELSE 0.0 END) AS nv, cl,
                      row_number() OVER (
                        PARTITION BY cl ORDER BY round(dist2, 9), vec_id) AS rk
               FROM afinal) b
           ON a.cl = b.cl AND a.rk < b.rk
         WHERE list_dot_product(a.nv, b.nv) >= {SEMDEDUP_EPS}
       ) AS keep
FROM afinal ORDER BY vec_id
"""

def _semantic_dedup_default(spark, sf_dir):
    """Catalog/driver entry: the batched-matmul pair backend (the scale
    path) is the default — keep set identical to the HOF spec path
    (pytest-asserted) and to the SQL oracle."""
    return semantic_dedup(spark, sf_dir, pair_backend="numpy")


ML_QUERIES["semantic_dedup"] = (
    _semantic_dedup_default,
    _kmeans_sql(vecs_sql=SEMDEDUP_VECS_SQL, final_select=SEMDEDUP_FINAL_SQL),
)


# --------------------------------------------------------------------------
# BM25 retrieval — the lexical search baseline every corpus-curation /
# eval-retrieval stack keeps next to its ANN index (Robertson/Lucene
# formulation: k1=1.2, b=0.75, idf = ln((N - df + 0.5)/(df + 0.5) + 1)).
# The query is a literal term set; N and avgdl are the two model
# scalars (one tiny aggregation, same precedent as tfidf's n_docs);
# df is a query-terms-sized table (broadcast by AQE). One corpus scan,
# one narrow aggregation, a global top-k.
# --------------------------------------------------------------------------

BM25_QUERY_TERMS = ["spark", "merge", "filter"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 10


def bm25_search(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    stats = docs.agg(
        F.count("*").alias("n"), F.avg(F.size("w")).alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = stats["n"], stats["avgdl"]
    # HOF-filter the token array to the query terms BEFORE exploding: a
    # post-explode .where() cannot push above the Generate, so at corpus
    # scale the generate would emit |all tokens| rows only to discard all
    # but the query terms (r3 verdict item 2). Per-occurrence counts are
    # identical — filter keeps duplicates, explode of [] yields no rows.
    terms = docs.select(
        "doc_id",
        F.size("w").alias("dl"),
        F.explode(
            F.filter("w", lambda tok: tok.isin(BM25_QUERY_TERMS))
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    per_term = idf * F.col("tf") * (BM25_K1 + 1) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf.join(dfreq, "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(per_term), 4).alias("score"))
    )
    # global top-k via orderBy+limit (TakeOrderedAndProject: partial
    # top-k map-side, no single-partition window over the corpus); the
    # rank window then runs over BM25_TOP rows only
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_TOP)
    return (
        top.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy().orderBy(F.desc("score"), F.asc("doc_id"))
            ).cast("int"),
        )
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    )


BM25_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
stats AS (SELECT count(*) AS n, avg(len(w)) AS avgdl FROM d),
terms AS (
  SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM d
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM terms
  WHERE term IN ({", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)})
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(sum(
           ln(((SELECT n FROM stats) - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * t.tf * ({BM25_K1} + 1)
           / (t.tf + {BM25_K1} * (1 - {BM25_B}
              + {BM25_B} * t.dl / (SELECT avgdl FROM stats)))
         ), 4) AS score
  FROM tf t JOIN dfreq f USING (term) GROUP BY t.doc_id
)
SELECT CAST(rank AS INT) AS rank, doc_id, score FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {BM25_TOP} ORDER BY rank
"""

ML_QUERIES["bm25_search"] = (bm25_search, BM25_SQL)


# --------------------------------------------------------------------------
# T5-style span corruption — the pretraining-objective sample transform
# (Raffel et al., 2020): mask ~15% of tokens in contiguous spans of
# mean length 3, replace each span with a sentinel id, emit
# (inputs, targets) pairs. All randomness is md5-derived from
# (doc_id, token index), so samples replay bit-identically across
# engines, retries, and epochs — the property a 10^12-doc sample
# factory needs for resumable epoch generation.
#
# Span layout rule (closed-form, windowless): token i STARTS a mask
# span iff u(doc_id, i // SPAN_LEN) < MASK_RATE / SPAN_LEN · SPAN_LEN
# = MASK_RATE, evaluated per SPAN_LEN-aligned block — i.e. each
# aligned block of SPAN_LEN tokens is masked as a unit with
# probability MASK_RATE. Approximate span-corruption semantics with an
# exact, join-free formulation: one projection per doc, no shuffle.
# Output is md5-digested (inputs_md5/targets_md5) to stay narrow.
# --------------------------------------------------------------------------

CORRUPT_SPAN_LEN = 3
CORRUPT_MASK_RATE = 0.15


def span_corruption(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    words = F.split(F.col("text"), " ")

    def block_masked(i):
        # md5-uniform in [0,1) keyed on (doc_id, block index)
        u = md5_long(
            F.concat(
                F.lit("corrupt:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                (i / CORRUPT_SPAN_LEN).cast("int").cast("string"),
            )
        ) / F.lit(float(1 << 60))
        return u < CORRUPT_MASK_RATE

    idx = F.sequence(F.lit(0), F.size(words) - 1)
    kept = F.filter(idx, lambda i: ~block_masked(i))
    masked = F.filter(idx, lambda i: block_masked(i))
    inputs = F.transform(kept, lambda i: F.element_at(words, i + 1))
    targets = F.transform(masked, lambda i: F.element_at(words, i + 1))
    return docs.select(
        "doc_id",
        F.size(words).cast("int").alias("n_tokens"),
        F.size(masked).cast("int").alias("n_masked"),
        F.md5(F.array_join(inputs, " ")).alias("inputs_md5"),
        F.md5(F.array_join(targets, " ")).alias("targets_md5"),
    ).orderBy("doc_id")


SPAN_CORRUPTION_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE doc_id < 200
),
flags AS (
  SELECT doc_id, w,
         list_transform(range(0, len(w)),
           i -> CAST(concat('0x', substr(md5(concat('corrupt:',
                  CAST(doc_id AS VARCHAR), ':',
                  CAST(i // {CORRUPT_SPAN_LEN} AS VARCHAR))), 1, 15))
                AS BIGINT) / {float(1 << 60)} < {CORRUPT_MASK_RATE}
         ) AS m
  FROM d
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_tokens,
       CAST(len(list_filter(range(0, len(w)), i -> m[i + 1])) AS INT)
         AS n_masked,
       md5(coalesce(array_to_string(
         list_transform(list_filter(range(0, len(w)), i -> NOT m[i + 1]),
                        i -> w[i + 1]), ' '), '')) AS inputs_md5,
       md5(coalesce(array_to_string(
         list_transform(list_filter(range(0, len(w)), i -> m[i + 1]),
                        i -> w[i + 1]), ' '), '')) AS targets_md5
FROM flags ORDER BY doc_id
"""

ML_QUERIES["span_corruption"] = (span_corruption, SPAN_CORRUPTION_SQL)


# --------------------------------------------------------------------------
# Importance resampling — the DSIR idea (Xie et al., 2023): weight each
# corpus document by how much its hashed-n-gram distribution looks like
# a target domain vs the raw corpus, then keep docs whose md5 coin
# clears the normalized weight. Target/raw unigram-bucket distributions
# are FIT IN THE SAME QUERY (target = lang='en' docs — the in-sandbox
# stand-in for "looks like Wikipedia"); both are bucket-count tables
# bounded by DSIR_BUCKETS, never by the vocab — the hashing trick again.
#
# Scale shape: two bucket-sized aggregations (map-side combined) + one
# scoring scan whose per-token weight lookup joins a ≤DSIR_BUCKETS-row
# model (AQE broadcasts it); the keep decision is a pure md5 projection.
# --------------------------------------------------------------------------

DSIR_BUCKETS = 256


def importance_resample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).withColumn("b", _md5_long("dsir:", F.col("tok")) % DSIR_BUCKETS)
    # add-one-smoothed bucket log-probs for target (en) and raw corpus.
    # r5 (VERDICT r4 "What's wrong" #3): the r4 shape ran TWO separate
    # .collect() jobs just to fetch tgt_total/raw_total scalars, then a
    # third job with two more aggregations over toks for the model join —
    # five scans of the exploded token stream in total. Folded here into
    # ZERO collects and one job: both bucket counts come from a single
    # groupBy (tn = conditional sum), the totals are a 1-row aggregate of
    # that ≤DSIR_BUCKETS-row table cross-joined back in (256×1, broadcast),
    # and the llr math stays in Spark so engine/oracle float behavior is
    # unchanged.
    counts = toks.groupBy("b").agg(
        F.count("*").alias("rn"),
        F.sum((F.col("lang") == "en").cast("long")).alias("tn"),
    )
    totals = counts.agg(F.sum("rn").alias("rt"), F.sum("tn").alias("tt"))
    model = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("tn") + 1.0) / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("rn") + 1.0) / (F.col("rt") + DSIR_BUCKETS))
        ).alias("llr"),
    )
    scored = (
        toks.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(F.round(F.avg("llr"), 6).alias("importance"))
    )
    coin = _md5_u01("dsirkeep:", F.col("doc_id"))
    # keep rule: sigmoid(importance · 8) vs the md5 coin — deterministic,
    # engine-replayable, monotone in the importance weight
    keep = coin < 1.0 / (1.0 + F.exp(-8.0 * F.col("importance")))
    return (
        scored.select("doc_id", "importance", keep.alias("keep"))
        .where(F.col("doc_id") < 300)
        .orderBy("doc_id")
    )


IMPORTANCE_RESAMPLE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(concat('dsir:', tok)), 1, 15))
              AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
),
tgt AS (SELECT b, count(*) AS tn FROM toks WHERE lang = 'en' GROUP BY b),
raw AS (SELECT b, count(*) AS rn FROM toks GROUP BY b),
totals AS (
  SELECT (SELECT sum(tn) FROM tgt) AS tt, (SELECT sum(rn) FROM raw) AS rt
),
model AS (
  SELECT r.b,
         ln((coalesce(t.tn, 0) + 1.0)
            / ((SELECT tt FROM totals) + {DSIR_BUCKETS}))
         - ln((r.rn + 1.0) / ((SELECT rt FROM totals) + {DSIR_BUCKETS}))
           AS llr
  FROM raw r LEFT JOIN tgt t USING (b)
),
scored AS (
  SELECT doc_id, round(avg(m.llr), 6) AS importance
  FROM toks k JOIN model m USING (b) GROUP BY doc_id
)
SELECT doc_id, importance,
       CAST(concat('0x', substr(md5(concat('dsirkeep:',
            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         / {float(1 << 60)}
         < 1.0 / (1.0 + exp(-8.0 * importance)) AS keep
FROM scored WHERE doc_id < 300 ORDER BY doc_id
"""

ML_QUERIES["importance_resample"] = (importance_resample, IMPORTANCE_RESAMPLE_SQL)


# --------------------------------------------------------------------------
# Gopher/C4-style composite quality filter (r4; Rae et al. 2021 §A1.1,
# Raffel et al. 2020 C4): the standard pre-training document gates as ONE
# documented operator with per-rule hit metrics. text_quality /
# repetition_ratio / char_entropy cover single signals; production
# filters apply the composite and report per-rule kill counts so a
# curation run can be audited (which rule ate the corpus?).
#
# Rules (thresholds tuned to the synthetic corpus so every rule actually
# fires; production values in comments):
#   word_count     — 25 <= n_words <= 90         (Gopher: 50..100k)
#   mean_word_len  — 4.0 <= mean <= 5.0          (Gopher: 3..10)
#   stopword_frac  — >= 0.05 of tokens           (Gopher: >=2 stopwords)
#   distinct_ratio — distinct/total >= 0.35      (repetition gate)
#   symbol_ratio   — non-[a-z0-9 ] chars <= 0.10 (C4 '#'/'…' gates)
#
# Scale shape: ONE corpus scan, all five signals computed in a single
# whole-stage-codegen projection (built-in exprs only), one map-side-
# combined global aggregate (output = 7 rows), then a 7-element explode.
# No joins, no window, no Python. At 100 TB this is the cheapest op in
# the pipeline — scan-bound, shuffle payload is 7 longs per partition.
# --------------------------------------------------------------------------

GOPHER_RULES = [
    "word_count", "mean_word_len", "stopword_frac",
    "distinct_ratio", "symbol_ratio",
]


def gopher_quality(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    w = F.split("text", " ")
    n = F.size(w)
    # seed the fold with a LONG: an int accumulator overflows (ANSI: job
    # kill) on documents beyond 2^31 chars, and diverges from the oracle's
    # BIGINT sum before that (ADVICE r4)
    mean_wl = (
        F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        .cast("double") / n
    )
    stop_frac = (
        F.size(F.filter(w, lambda x: x.isin(STOPWORDS_EN))).cast("double") / n
    )
    distinct_ratio = F.size(F.array_distinct(w)).cast("double") / n
    # empty-text guard: 0/0 is null in Spark but NaN (> any threshold)
    # in DuckDB — pin both engines to 0.0 (no symbols in no text)
    symbol_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
        / F.length("text"),
    ).otherwise(F.lit(0.0))
    flags = docs.select(
        ((n < 25) | (n > 90)).alias("f_wc"),
        ((mean_wl < 4.0) | (mean_wl > 5.0)).alias("f_mwl"),
        (stop_frac < 0.05).alias("f_stop"),
        (distinct_ratio < 0.35).alias("f_dr"),
        (symbol_ratio > 0.10).alias("f_sym"),
    )
    kept = ~F.col("f_wc") & ~F.col("f_mwl") & ~F.col("f_stop") \
        & ~F.col("f_dr") & ~F.col("f_sym")
    agg = flags.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.col(c).cast("long")).alias(c)
            for c in ("f_wc", "f_mwl", "f_stop", "f_dr", "f_sym")
        ],
        F.sum(kept.cast("long")).alias("n_kept"),
    )
    pairs = list(zip(GOPHER_RULES, ("f_wc", "f_mwl", "f_stop", "f_dr", "f_sym")))
    return (
        agg.select(
            "n_docs",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(rule).alias("rule"),
                            F.col(c).alias("n_failed"),
                        )
                        for rule, c in pairs
                    ]
                    + [
                        F.struct(
                            F.lit("all_rules_kept").alias("rule"),
                            F.col("n_kept").alias("n_failed"),
                        )
                    ]
                )
            ).alias("r"),
        )
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_failed").alias("n_docs_hit"),
            F.round(F.col("r.n_failed") / F.col("n_docs"), 6).alias("frac"),
        )
        .orderBy("rule")
    )


GOPHER_QUALITY_SQL = f"""
WITH w AS (
  SELECT doc_id, lower(text) AS text, string_split(lower(text), ' ') AS ws
  FROM documents
),
sig AS (
  SELECT
    len(ws) AS n,
    list_aggregate(list_transform(ws, x -> length(x)), 'sum')::DOUBLE
      / len(ws) AS mwl,
    len(list_filter(ws, x -> x IN
      ({", ".join(f"'{s}'" for s in STOPWORDS_EN)})))::DOUBLE
      / len(ws) AS stopf,
    len(list_distinct(ws))::DOUBLE / len(ws) AS dr,
    CASE WHEN length(text) > 0
         THEN length(regexp_replace(text, '[a-z0-9 ]', '', 'g'))::DOUBLE
              / length(text)
         ELSE 0.0 END AS symr
  FROM w
),
flags AS (
  SELECT (n < 25 OR n > 90) AS f_wc,
         (mwl < 4.0 OR mwl > 5.0) AS f_mwl,
         (stopf < 0.05) AS f_stop,
         (dr < 0.35) AS f_dr,
         (symr > 0.10) AS f_sym
  FROM sig
),
agg AS (
  SELECT count(*) AS n_docs,
         sum(CASE WHEN f_wc THEN 1 ELSE 0 END) AS f_wc,
         sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS f_mwl,
         sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS f_stop,
         sum(CASE WHEN f_dr THEN 1 ELSE 0 END) AS f_dr,
         sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS f_sym,
         sum(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_stop
                   AND NOT f_dr AND NOT f_sym THEN 1 ELSE 0 END) AS n_kept
  FROM flags
)
SELECT rule, n_docs_hit::BIGINT AS n_docs_hit,
       round(n_docs_hit::DOUBLE / n_docs, 6) AS frac
FROM (
  SELECT n_docs, 'word_count' AS rule, f_wc AS n_docs_hit FROM agg
  UNION ALL SELECT n_docs, 'mean_word_len', f_mwl FROM agg
  UNION ALL SELECT n_docs, 'stopword_frac', f_stop FROM agg
  UNION ALL SELECT n_docs, 'distinct_ratio', f_dr FROM agg
  UNION ALL SELECT n_docs, 'symbol_ratio', f_sym FROM agg
  UNION ALL SELECT n_docs, 'all_rules_kept', n_kept FROM agg
)
ORDER BY rule
"""

ML_QUERIES["gopher_quality"] = (gopher_quality, GOPHER_QUALITY_SQL)


# --------------------------------------------------------------------------
# Gopher REPETITION rules (Rae et al. 2021, Table A1 — the repetition
# half; gopher_quality above is the quality half): per document, the
# character mass of the dominant word n-gram (n = 2, 3, 4) and the exact
# positional character coverage of duplicated word n-grams (n = 5, 6, 7),
# plus the paper's threshold flags (0.20/0.18/0.16 and 0.15/0.14/0.13).
#
# Exactness contract: every metric is an integer character count over
# space-free word text, and every flag compares via integer
# cross-multiplication (num*100 > total*pct) — no float is at a result
# boundary (the round(double, n) cross-engine hazard, SURVEY r5 notes).
# Two deliberate, documented readings of the paper's prose:
#   * top-n = MAX over grams of count*chars ("char mass of the dominant
#     n-gram"). The paper says "most frequent n-gram"; on count ties that
#     is ambiguous/order-dependent — max char-mass is deterministic and
#     equals the paper's value whenever the top count is unique.
#   * duplicate coverage counts each covered WORD POSITION once (exact
#     interval union via explode+distinct), not the sum-of-occurrences
#     approximation that can exceed 100%.
#
# Scale: every shuffle key is (doc_id, ...)-prefixed — the computation is
# embarrassingly parallel per document. A monster doc's gram occurrences
# hash-spread across partitions on (doc_id, n, gram), and only
# per-(doc, n) aggregate rows reach the final doc-level joins; nothing is
# ever collected or cross-joined.
# --------------------------------------------------------------------------

GOPHER_REP_THRESHOLDS = {
    "top2": 20, "top3": 18, "top4": 16,  # % of chars in dominant n-gram
    "dup5": 15, "dup6": 14, "dup7": 13,  # % of chars covered by dup n-grams
}


def gopher_repetition(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    )
    # long seed: int accumulator would overflow past 2^31 chars (ADVICE r4).
    # NULL text => NULL ws => NULL aggregate: coalesce to 0 to match the
    # oracle's coalesce(list_aggregate(...), 0) — a NULL-text doc scores
    # 0 everywhere and kept=1 on BOTH engines (review catch: without this
    # the flags/kept go NULL Spark-side while DuckDB returns 0/1)
    base = docs.select(
        "doc_id", "ws",
        F.coalesce(
            F.aggregate(
                "ws", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
            ),
            F.lit(0).cast("long"),
        ).alias("total_chars"),
    )
    n_arr = F.array([F.lit(n) for n in (2, 3, 4, 5, 6, 7)])
    occ = (
        base.select("doc_id", "ws", F.explode(n_arr).alias("n"))
        .select(
            "doc_id", "ws", "n",
            F.explode(
                F.when(
                    F.size("ws") >= F.col("n"),
                    F.sequence(F.lit(1), F.size("ws") - F.col("n") + 1),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("s"),
        )
        .select(
            "doc_id", "n", "s",
            F.array_join(
                F.slice("ws", F.col("s"), F.col("n")), " "
            ).alias("gram"),
        )
        .withColumn(
            "gchars", F.length(F.translate("gram", " ", "")).cast("long")
        )
        .withColumn(
            "cnt", F.count("*").over(W.partitionBy("doc_id", "n", "gram"))
        )
    )
    tops = (
        occ.where(F.col("n") <= 4)
        .groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.max(
                        F.when(F.col("n") == n, F.col("cnt") * F.col("gchars"))
                    ),
                    F.lit(0),
                ).cast("long").alias(f"top{n}_chars")
                for n in (2, 3, 4)
            ]
        )
    )
    covered = (
        occ.where((F.col("n") >= 5) & (F.col("cnt") >= 2))
        .select(
            "doc_id", "n",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + F.col("n") - 1)
            ).alias("i"),
        )
        .distinct()
    )
    tokens = base.select(
        "doc_id", F.posexplode("ws").alias("i0", "word")
    ).select(
        "doc_id",
        (F.col("i0") + 1).alias("i"),
        F.length("word").cast("long").alias("wlen"),
    )
    dups = (
        covered.join(tokens, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("n") == n, F.col("wlen"))), F.lit(0)
                ).cast("long").alias(f"dup{n}_chars")
                for n in (5, 6, 7)
            ]
        )
    )
    out = (
        base.select("doc_id", "total_chars")
        .join(tops, "doc_id", "left")
        .join(dups, "doc_id", "left")
    )
    cols, flags = [F.col("doc_id"), F.col("total_chars")], []
    for key, pct in GOPHER_REP_THRESHOLDS.items():
        num = F.coalesce(F.col(f"{key}_chars"), F.lit(0).cast("long"))
        cols.append(num.alias(f"{key}_chars"))
        flags.append(
            (num * 100 > F.col("total_chars") * pct)
            .cast("int").alias(f"f_{key}")
        )
    flagged = out.select(*cols, *flags)
    n_flags = sum(F.col(f"f_{k}") for k in GOPHER_REP_THRESHOLDS)
    return flagged.withColumn(
        "kept", (n_flags == F.lit(0)).cast("int")
    ).orderBy("doc_id")


def _gopher_repetition_sql() -> str:
    tops = ", ".join(
        f"CAST(coalesce(max(CASE WHEN n={n} THEN cnt*gchars END), 0) "
        f"AS BIGINT) AS top{n}_chars"
        for n in (2, 3, 4)
    )
    dups = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN n={n} THEN wlen END), 0) "
        f"AS BIGINT) AS dup{n}_chars"
        for n in (5, 6, 7)
    )
    nums = ", ".join(
        f"CAST(coalesce({k}_chars, 0) AS BIGINT) AS {k}_chars"
        for k in GOPHER_REP_THRESHOLDS
    )
    flag_exprs = ", ".join(
        f"CAST({k}_chars * 100 > total_chars * {pct} AS INTEGER) AS f_{k}"
        for k, pct in GOPHER_REP_THRESHOLDS.items()
    )
    kept_sum = " + ".join(f"f_{k}" for k in GOPHER_REP_THRESHOLDS)
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
),
b AS (
  SELECT doc_id, ws,
         CAST(coalesce(list_aggregate(
           list_transform(ws, x -> length(x)), 'sum'), 0) AS BIGINT)
           AS total_chars
  FROM d
),
occ AS (
  SELECT doc_id, n, s, array_to_string(ws[s : s + n - 1], ' ') AS gram
  FROM (
    SELECT doc_id, ws, nn.n AS n,
           unnest(range(1, len(ws) - nn.n + 2)) AS s
    FROM b CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7)) AS nn(n)
    WHERE len(ws) >= nn.n
  )
),
gc AS (
  SELECT doc_id, n, s, gram,
         CAST(length(replace(gram, ' ', '')) AS BIGINT) AS gchars,
         count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt
  FROM occ
),
tops AS (
  SELECT doc_id, {tops} FROM gc WHERE n <= 4 GROUP BY doc_id
),
cov AS (
  SELECT DISTINCT doc_id, n, i FROM (
    SELECT doc_id, n, unnest(range(s, s + n)) AS i
    FROM gc WHERE n >= 5 AND cnt >= 2
  )
),
tok AS (
  SELECT doc_id, i, CAST(length(ws[i]) AS BIGINT) AS wlen FROM (
    SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM b
  )
),
dups AS (
  SELECT cov.doc_id, {dups}
  FROM cov JOIN tok ON cov.doc_id = tok.doc_id AND cov.i = tok.i
  GROUP BY cov.doc_id
),
f AS (
  SELECT b.doc_id, b.total_chars, {nums}
  FROM b
  LEFT JOIN tops USING (doc_id)
  LEFT JOIN dups USING (doc_id)
),
fl AS (
  SELECT f.*, {flag_exprs} FROM f
)
SELECT doc_id, total_chars,
       top2_chars, top3_chars, top4_chars,
       dup5_chars, dup6_chars, dup7_chars,
       f_top2, f_top3, f_top4, f_dup5, f_dup6, f_dup7,
       CAST(({kept_sum}) = 0 AS INTEGER) AS kept
FROM fl
ORDER BY doc_id
"""


ML_QUERIES["gopher_repetition"] = (gopher_repetition, _gopher_repetition_sql())


# --------------------------------------------------------------------------
# Exact substring dedup (r4; Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): remove every token covered by a
# K-token sequence that occurs elsewhere in the corpus, keeping the
# globally FIRST occurrence (ordered by doc_id, position).
#
# Lee et al. build one suffix array over the concatenated corpus — a
# single-machine layout that does not shard. The Spark-shaped
# equivalent used here (and by SlimPajama-style pipelines) is K-gram
# anchoring: every K-token window becomes an md5 anchor key; a window
# keyed on the anchor finds repeats; each non-first occurrence marks its
# K positions dropped; overlapping marks union at the token level, which
# IS the extend-and-merge step (a duplicated run of L >= K tokens is
# covered by its L-K+1 anchors end to end).
#
# Scale shape: the only wide shuffles are (1) the anchor window, keyed
# on a 32-hex md5 — bounded width regardless of text size, the
# paragraph_dedup layout — and (2) the (doc_id, idx) coverage anti-join
# + doc reassembly, both keyed on narrow ints. Coverage explode emits
# K rows per DUPLICATE occurrence only, not per token. No Python.
#
# The synthetic corpus is duplicate-free, so the op injects a shared
# 12-token passage into every doc_id % 6 == 0 (the paragraph_dedup
# precedent); the tiny vocabulary also yields natural K-gram repeats —
# both engines see identical text, so the oracle replays exactly.
# --------------------------------------------------------------------------

SUBSTR_K = 8
SUBSTR_PASSAGE = (
    "shared verbatim passage tokens repeated across documents must be "
    "dropped from later copies"
)  # 13 tokens > K: covered end-to-end by 6 anchors


def substring_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat("text", F.lit(" " + SUBSTR_PASSAGE)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    w = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    toks = w.select(
        "doc_id", F.posexplode("w").alias("idx", "tok")
    )
    # anchor table: md5 of each K-token window; docs shorter than K emit
    # nothing (sequence(0, size-K) is empty when size < K)
    grams = w.where(F.size("w") >= SUBSTR_K).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - SUBSTR_K),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.array_join(F.slice("w", i + 1, SUBSTR_K), " ")
                    ).alias("gh"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.gh")
    first = W.partitionBy("gh").orderBy("doc_id", "pos")
    dup_occ = (
        grams.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") > 1)
    )
    covered = dup_occ.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + SUBSTR_K - 1)
        ).alias("idx"),
    ).distinct()
    kept = toks.join(covered, ["doc_id", "idx"], "left_anti")
    per_doc = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )
    totals = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    # left join: a doc whose every token is covered keeps nothing
    return (
        totals.join(per_doc, "doc_id", "left")
        .where(F.col("doc_id") < 150)
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
            F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


SUBSTRING_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0
              THEN concat(text, ' {SUBSTR_PASSAGE}') ELSE text END AS text
  FROM documents
),
w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM d),
toks AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS idx, w[i] AS tok
  FROM w, unnest(range(1, len(w) + 1)) AS u(i)
),
grams AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         md5(array_to_string(w[i:i + {SUBSTR_K} - 1], ' ')) AS gh
  FROM w, unnest(range(1, len(w) - {SUBSTR_K} + 2)) AS u(i)
  WHERE len(w) >= {SUBSTR_K}
),
dup_occ AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
    FROM grams
  ) WHERE rn > 1
),
covered AS (
  SELECT DISTINCT doc_id, CAST(i AS INT) AS idx
  FROM dup_occ, unnest(range(pos, pos + {SUBSTR_K})) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.idx, t.tok FROM toks t
  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.idx = c.idx
),
per_doc AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY idx)) AS kept_md5
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_tokens - coalesce(n_kept, 0) AS INT) AS n_dropped,
       coalesce(kept_md5, md5('')) AS kept_md5
FROM tot LEFT JOIN per_doc USING (doc_id)
WHERE doc_id < 150 ORDER BY doc_id
"""

ML_QUERIES["substring_dedup"] = (substring_dedup, SUBSTRING_DEDUP_SQL)


# --------------------------------------------------------------------------
# BPE merge LEARNING (r4; Sennrich et al. 2016): token_stats_bpe covers
# only the GPT-2-style pretokenizer; this learns the merge table itself.
# Distributed loop, K_MERGES rounds: count adjacent symbol pairs over
# the (word, freq) vocabulary, pick the (count desc, left, right)
# argmax, merge it everywhere, repeat. Fully deterministic.
#
# Representation: a word's symbols are a DOUBLE-SPACE-joined string
# ('l  o  w  </w>'). Merging pair (l, r) is then one literal
# replace(' l  r ' -> ' lr ') over '  ' + sym + '  ': each token keeps
# one space on each side of the match, so back-to-back occurrences
# ('a  b  a  b') still merge greedily left-to-right — the exact scan
# semantics of reference BPE, in ONE whole-stage-codegen expression,
# identically in Spark and DuckDB (both replace() scan left-to-right,
# non-overlapping). No Python in the loop body.
#
# Scale shape: the corpus scan + groupBy(word) happens ONCE (the only
# corpus-sized shuffle); each round is a map-side-combined pair count
# over the VOCABULARY (|V| rows, millions at web scale — trivially
# distributed) plus a 1-row argmax collect, the k-means driver-scalar
# precedent. Vocab is cached between rounds. The oracle unrolls the
# same K_MERGES rounds as chained CTEs (the k-means full-unroll
# precedent).
# --------------------------------------------------------------------------

BPE_MERGES = 8
BPE_SEP = "  "  # double space: tokens never contain spaces


def _bpe_vocab(spark, sf_dir):
    # empty strings from splitting empty/whitespace text are not words
    # (and DuckDB's array_to_string([], sep) is NULL, so the engines
    # would diverge on them — fuzz-caught)
    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    sym = F.concat(
        F.array_join(F.split("word", ""), BPE_SEP), F.lit(BPE_SEP + "</w>")
    )
    return words.select("word", "freq", sym.alias("sym"))


def _bpe_learn_loop(spark, sf_dir, n_merges: int = BPE_MERGES):
    """Run the merge-learning loop; returns (merges, final_vocab).

    ``final_vocab``'s ``sym`` column carries every learned merge already
    applied. It is returned as an eager localCheckpoint: consumers
    (bpe_encode) read the materialized partitions instead of re-running
    the base scan + replace chain, and the checkpoint storage is freed
    by the ContextCleaner once the DataFrame is garbage-collected — no
    persist leak across catalog queries.

    The result is memoized per (sf_dir, n_merges) on the SparkSession
    (the broadcast_rulesets pattern — ADVICE r4): bpe_learn, bpe_encode
    and bpe_tokenize_docs all consume the same learned tokenizer, so
    running the three catalog entries previously triplicated the
    8-round collect loop. A production pipeline learns the tokenizer
    once and reuses it everywhere; the memo models exactly that. The
    memo holds ONE entry (switching (sf_dir, n_merges) evicts the old
    one, releasing its checkpoint reference for the ContextCleaner) and
    is keyed by PATH, not content — a caller that regenerates data
    in-place within one session must clear spark._datamunging_bpe_memo
    (bench.py does exactly that before each timed attempt)."""
    memo_key = "_datamunging_bpe_memo"
    memo = getattr(spark, memo_key, None)
    if memo is None:
        memo = {}
        setattr(spark, memo_key, memo)
    mk = (str(sf_dir), int(n_merges))
    if mk in memo:
        return memo[mk]
    memo.clear()  # single-entry cache: drop the old checkpoint reference
    vocab = _bpe_vocab(spark, sf_dir).persist()
    merges = []
    for step in range(1, n_merges + 1):
        s = F.split("sym", BPE_SEP)
        # size >= 2 guard is load-bearing: Spark's sequence(0, size-2)
        # turns DESCENDING ([0, -1]) for a fully-merged single-symbol
        # word, which would emit phantom (sym, null)/(null, sym) pairs
        # carrying that word's full frequency — the DuckDB oracle's
        # range(1, len(s)) is simply empty there
        pairs = (
            vocab.where(F.size(s) >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(s) - 2),
                        lambda i: F.struct(
                            F.get(s, i).alias("l"), F.get(s, i + 1).alias("r")
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((step, l, r, int(cnt)))
        merged = F.trim(
            F.replace(
                F.concat(F.lit(BPE_SEP), F.col("sym"), F.lit(BPE_SEP)),
                F.lit(f" {l}{BPE_SEP}{r} "),
                F.lit(f" {l}{r} "),
            )
        )
        nxt = vocab.select("word", "freq", merged.alias("sym")).persist()
        nxt.count()  # materialize before dropping the parent
        vocab.unpersist()
        vocab = nxt
    final = vocab.localCheckpoint(eager=True)
    vocab.unpersist()
    memo[mk] = (merges, final)
    return memo[mk]


def bpe_learn(spark, sf_dir, n_merges: int = BPE_MERGES):
    merges, _ = _bpe_learn_loop(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges, "step int, lft string, rgt string, pair_count bigint"
    ).orderBy("step")


def bpe_encode(spark, sf_dir, n_merges: int = BPE_MERGES):
    """Apply the learned merge table to the corpus: the BPE-segmented
    corpus unigram table (piece, n_occurrences).

    Scale shape: encoding is VOCABULARY-sized, never corpus-sized — the
    learn loop's final vocab already carries every merge applied to each
    DISTINCT word, so encoding the corpus is explode(pieces) weighted by
    word frequency. A 100 TB corpus with a 10^7-word vocabulary does
    10^7 rows of piece-splitting; re-attaching piece sequences to
    documents (when a sink needs them) is a broadcast join on word. No
    Python anywhere; the merges live in the plan as replace() literals."""
    _, vocab = _bpe_learn_loop(spark, sf_dir, n_merges)
    return (
        vocab.select(
            "freq", F.explode(F.split("sym", BPE_SEP)).alias("piece")
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "piece")
    )


def _bpe_sql(n_merges: int = BPE_MERGES, final_select: str | None = None) -> str:
    """DuckDB replay of the merge-learning unroll. ``final_select``
    overrides the closing SELECT (default: the merge table from
    m1..mK); encode consumers select over v{n_merges}, whose sym
    column has every merge applied."""
    sep = BPE_SEP
    # AS MATERIALIZED is load-bearing: v{k} references v{k-1} and m{k}
    # several times; inlined CTEs would re-expand the whole chain on
    # every reference (exponential scans — observed as fd exhaustion)
    ctes = [
        f"""v0 AS MATERIALIZED (
  SELECT word, freq,
         array_to_string(list_transform(range(1, length(word) + 1),
                         i -> substr(word, i::INT, 1)), '{sep}')
           || '{sep}</w>' AS sym
  FROM (SELECT word, count(*) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
              FROM documents)
        WHERE word != ''
        GROUP BY word)
)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS (
  SELECT s[i] AS l, s[i + 1] AS r, sum(freq) AS cnt
  FROM (SELECT freq, string_split(sym, '{sep}') AS s FROM v{k - 1}),
       unnest(range(1, len(s))) AS u(i)
  GROUP BY l, r
),
m{k} AS MATERIALIZED (SELECT {k} AS step, l, r, cnt FROM p{k}
         ORDER BY cnt DESC, l, r LIMIT 1),
v{k} AS MATERIALIZED (
  SELECT word, freq,
         trim(replace('{sep}' || sym || '{sep}',
              ' ' || (SELECT l FROM m{k}) || '{sep}'
                  || (SELECT r FROM m{k}) || ' ',
              ' ' || (SELECT l FROM m{k})
                  || (SELECT r FROM m{k}) || ' ')) AS sym
  FROM v{k - 1}
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT step, l, r, cnt FROM m{k}" for k in range(1, n_merges + 1)
    )
    final = final_select or (
        f"SELECT step, l AS lft, r AS rgt, CAST(cnt AS BIGINT) AS"
        f" pair_count FROM ({unions}) ORDER BY step"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


BPE_LEARN_SQL = _bpe_sql()

ML_QUERIES["bpe_learn"] = (bpe_learn, BPE_LEARN_SQL)

BPE_ENCODE_SQL = _bpe_sql(
    final_select=f"""
SELECT piece, CAST(sum(freq) AS BIGINT) AS n_occurrences
FROM (SELECT freq, unnest(string_split(sym, '{BPE_SEP}')) AS piece
      FROM v{BPE_MERGES})
GROUP BY piece
ORDER BY n_occurrences DESC, piece"""
)

ML_QUERIES["bpe_encode"] = (bpe_encode, BPE_ENCODE_SQL)


def bpe_tokenize_docs(spark, sf_dir, n_merges: int = BPE_MERGES):
    """Per-document BPE token counts — what a sequence-packing pipeline
    actually consumes downstream of the tokenizer.

    The re-attachment shape SCALE.md promises, made concrete: the
    word→n_pieces map is VOCABULARY-sized (10^7 rows at web scale) and
    broadcasts, so the corpus-sized token stream joins without a
    shuffle — one scan, one broadcast hash join, then the per-doc
    aggregate. Documents with no words (empty text) have no token rows
    and drop out, identically in the oracle's inner join."""
    _, vocab = _bpe_learn_loop(spark, sf_dir, n_merges)
    wp = vocab.select(
        "word", F.size(F.split("sym", BPE_SEP)).alias("n_pieces")
    )
    words = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.split(F.lower("text"), " ")).alias("word"),
        )
        .where(F.col("word") != "")
    )
    return (
        words.join(F.broadcast(wp), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_pieces").alias("n_tokens_bpe"),
            F.count("*").alias("n_words"),
        )
        .orderBy("doc_id")
    )


BPE_TOKENIZE_DOCS_SQL = _bpe_sql(
    final_select=f"""
SELECT doc_id,
       CAST(sum(len(string_split(sym, '{BPE_SEP}'))) AS BIGINT)
         AS n_tokens_bpe,
       CAST(count(*) AS BIGINT) AS n_words
FROM (SELECT doc_id, word
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word != '') d
JOIN v{BPE_MERGES} USING (word)
GROUP BY doc_id ORDER BY doc_id"""
)

ML_QUERIES["bpe_tokenize_docs"] = (bpe_tokenize_docs, BPE_TOKENIZE_DOCS_SQL)


# --------------------------------------------------------------------------
# Z-order (Morton-curve) layout clustering — the standard multi-column
# data-layout technique for scan pruning at 100 TB (Delta/Iceberg
# OPTIMIZE ZORDER BY). Linear (single-column) sort gives tight per-file
# min/max stats on ONE column; interleaving the bits of two quantized
# dimensions gives *simultaneously* tight ranges on BOTH, so a
# predicate on either dimension prunes files. The catalog query
# computes the layout assignment over orders on (o_custkey,
# o_orderdate) and returns per-bucket bounding stats — the pruning-
# quality evidence itself (each bucket pins the top 4 bits of BOTH
# quantized dims, so every bucket's qx/qy ranges are < 2^12 of the
# 2^16 quantized space; a linear layout pins only one).
#
# Scale design: the min/max bounds come from ONE cheap agg (at 100 TB:
# free from Iceberg/parquet column stats) broadcast into the scan; the
# z-value is 32 shift/mask terms of pure whole-stage codegen computed
# map-side; the writer then needs only repartitionByRange(zval) +
# sortWithinPartitions(zval) — one range shuffle, the same cost as any
# global sort, with NO Python anywhere. The DuckDB oracle replays the
# identical integer arithmetic (quantize -> interleave -> bucket).
# --------------------------------------------------------------------------

_Z_BITS = 16  # per-dimension quantization width
_Q_MAX = (1 << _Z_BITS) - 1  # 65535
_Z_BUCKET_SHIFT = 24  # keep the top 8 z-bits -> up to 256 layout buckets


def _morton(qx, qy):
    """32-bit Morton code from two 16-bit quantized dims: 32 shift/mask
    terms, pure codegen — bit i of qx lands at 2i, of qy at 2i+1."""
    z = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


def zorder_layout(spark, sf_dir):
    """Z-order layout assignment over orders on (o_custkey, epoch-second
    of o_orderdate), reported as per-bucket bounding stats. Integer
    arithmetic end-to-end: quantization is ((v - min) * 65535) DIV
    max(span, 1) — exact in int64 for any span below 2^47 (epoch
    seconds: fine for ten millennia) — and the Morton interleave is
    shift/mask, so the oracle replay is bit-exact. unix_micros DIV
    1_000_000 (not a timestamp cast) keeps the truncation rule explicit
    and identical to DuckDB's epoch_us // 1000000."""
    orders = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("long").alias("x"),
        # parquet carries TIMESTAMP_NTZ; the session tz is pinned UTC, so
        # the cast makes unix_micros read the same naive-UTC instant
        # DuckDB's epoch_us sees
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 1000000"
        ).alias("y"),
    )
    bounds = orders.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    q = orders.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"((x - min_x) * {_Q_MAX}) DIV greatest(max_x - min_x, 1)"
        ).alias("qx"),
        F.expr(
            f"((y - min_y) * {_Q_MAX}) DIV greatest(max_y - min_y, 1)"
        ).alias("qy"),
    )
    z = q.select(
        "qx", "qy", _morton(F.col("qx"), F.col("qy")).alias("zval")
    )
    return (
        z.groupBy(
            F.shiftright(F.col("zval"), _Z_BUCKET_SHIFT).alias("bucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.min("qx").alias("qx_min"),
            F.max("qx").alias("qx_max"),
            F.min("qy").alias("qy_min"),
            F.max("qy").alias("qy_max"),
            F.sum("zval").alias("z_sum"),
        )
        .orderBy("bucket")
    )


def _zorder_sql() -> str:
    terms = " + ".join(
        f"(((qx >> {i}) & 1) << {2 * i}) + (((qy >> {i}) & 1) << {2 * i + 1})"
        for i in range(_Z_BITS)
    )
    return f"""
WITH base AS (
  SELECT o_custkey AS x, epoch_us(o_orderdate) // 1000000 AS y FROM orders
), b AS (
  SELECT min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y FROM base
), q AS (
  SELECT ((x - min_x) * {_Q_MAX}) // greatest(max_x - min_x, 1) AS qx,
         ((y - min_y) * {_Q_MAX}) // greatest(max_y - min_y, 1) AS qy
  FROM base, b
), zt AS (
  SELECT qx, qy, {terms} AS zval FROM q
)
SELECT zval >> {_Z_BUCKET_SHIFT} AS bucket,
       count(*) AS n_rows,
       min(qx) AS qx_min, max(qx) AS qx_max,
       min(qy) AS qy_min, max(qy) AS qy_max,
       CAST(sum(zval) AS BIGINT) AS z_sum
FROM zt GROUP BY bucket ORDER BY bucket
"""


ML_QUERIES["zorder_layout"] = (zorder_layout, _zorder_sql())


# --------------------------------------------------------------------------
# URL canonicalization + dedup — the CommonCrawl-style URL-level dedup
# every web-scale corpus runs before content dedup: fold scheme/host
# case, strip fragments, default ports (:80 http / :443 https),
# trailing path slashes, and utm_* tracking params, then keep one doc
# per canonical URL. The documents table has no URL column, so each
# doc's surface URL is SYNTHESIZED deterministically from (doc_id,
# source) with md5-selected hostile variants (mixed-case scheme/www,
# redundant ports, tracking params, fragments, trailing slashes) —
# both engines build the identical string, so the oracle checks the
# canonicalization logic itself, not the data.
#
# Scale design: pure string codegen end-to-end (split_part/substring/
# filter — no regex backtracking, no Python); dedup is one hash-shuffle
# on the canonical URL, exactly the exact-dedup recipe. At 10^12 docs
# the shuffle payload is (canon, doc_id) — never the document text.
# --------------------------------------------------------------------------


def _url_surface_sql(dialect: str) -> str:
    """The synthesized surface URL, identical arithmetic per dialect —
    only the md5->int64 idiom and STRING/VARCHAR spelling differ."""
    if dialect == "spark":
        def h(salt: str, m: int) -> str:
            return (
                f"(CAST(conv(substring(md5(concat('{salt}', "
                f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
                f" % {m})"
            )
        s = "STRING"
    else:
        def h(salt: str, m: int) -> str:
            return (
                f"(CAST(concat('0x', substr(md5(concat('{salt}', "
                f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % {m})"
            )
        s = "VARCHAR"
    return (
        "concat("
        f"CASE {h('uscheme:', 4)} WHEN 0 THEN 'http' WHEN 1 THEN 'https'"
        " WHEN 2 THEN 'HTTP' ELSE 'HTTPS' END, '://', "
        f"CASE {h('uwww:', 3)} WHEN 0 THEN '' WHEN 1 THEN 'www.'"
        " ELSE 'WWW.' END, "
        "source, '.example.com', "
        f"CASE {h('uport:', 3)} WHEN 0 THEN '' WHEN 1 THEN ':80'"
        " ELSE ':443' END, "
        f"'/p/', CAST(doc_id % 7 AS {s}), "
        f"CASE {h('uslash:', 2)} WHEN 0 THEN '' ELSE '/' END, "
        f"CASE {h('uq:', 4)} WHEN 0 THEN ''"
        f" WHEN 1 THEN concat('?id=', CAST(doc_id % 5 AS {s}))"
        f" WHEN 2 THEN concat('?utm_source=a&id=', CAST(doc_id % 5 AS {s}))"
        f" ELSE concat('?id=', CAST(doc_id % 5 AS {s}), '&utm_campaign=x')"
        " END, "
        f"CASE {h('ufrag:', 2)} WHEN 0 THEN '' ELSE '#sec' END)"
    )


def url_normalize_dedup(spark, sf_dir):
    """Canonicalize each doc's (synthesized) URL and dedup on the
    canonical form: per canonical URL, how many docs collapsed into it,
    how many distinct surface spellings they arrived under, and the
    kept doc (min doc_id). Parse is split_part-structural (fragment ->
    scheme -> host:port -> path?query), so no regex dialect is in play;
    the utm_* strip is a HOF filter over the split query string.
    ASCII-host precondition documented: host case-folding uses lower(),
    which both engines apply identically to the synthesized hosts."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        docs.withColumn("url", F.expr(_url_surface_sql("spark")))
        .withColumn("u0", F.expr("split_part(url, '#', 1)"))
        .withColumn("scheme", F.expr("lower(split_part(u0, '://', 1))"))
        .withColumn(
            "rest",
            F.expr("substring(u0, length(split_part(u0, '://', 1)) + 4)"),
        )
        .withColumn("hostport", F.expr("split_part(rest, '/', 1)"))
        .withColumn("pathq", F.expr("substring(rest, length(hostport) + 1)"))
        .withColumn("host", F.expr("lower(split_part(hostport, ':', 1))"))
        .withColumn("port", F.expr("split_part(hostport, ':', 2)"))
        .withColumn("path", F.expr("split_part(pathq, '?', 1)"))
        .withColumn("qs", F.expr("split_part(pathq, '?', 2)"))
        .withColumn(
            "portc",
            F.expr(
                "CASE WHEN port = '' OR (scheme = 'http' AND port = '80')"
                " OR (scheme = 'https' AND port = '443') THEN ''"
                " ELSE concat(':', port) END"
            ),
        )
        .withColumn(
            "path2",
            F.expr(
                "CASE WHEN length(path) > 1 AND endswith(path, '/')"
                " THEN substring(path, 1, length(path) - 1) ELSE path END"
            ),
        )
        .withColumn(
            "qkeep",
            F.expr(
                "array_join(filter(split(qs, '&'),"
                " p -> p <> '' AND NOT startswith(p, 'utm_')), '&')"
            ),
        )
        .withColumn(
            "url_canon",
            F.expr(
                "concat(scheme, '://', host, portc, path2,"
                " CASE WHEN qkeep <> '' THEN concat('?', qkeep)"
                " ELSE '' END)"
            ),
        )
        .groupBy("url_canon")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("url").alias("n_surface_forms"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("url_canon")
    )


URL_NORMALIZE_DEDUP_SQL = f"""
WITH s AS (
  SELECT doc_id, {_url_surface_sql("duckdb")} AS url FROM documents
), c1 AS (
  SELECT doc_id, url, split_part(url, '#', 1) AS u0 FROM s
), c2 AS (
  SELECT *, lower(split_part(u0, '://', 1)) AS scheme,
         substr(u0, length(split_part(u0, '://', 1)) + 4) AS rest
  FROM c1
), c3 AS (
  SELECT *, split_part(rest, '/', 1) AS hostport,
         substr(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
  FROM c2
), c4 AS (
  SELECT *, lower(split_part(hostport, ':', 1)) AS host,
         split_part(hostport, ':', 2) AS port,
         split_part(pathq, '?', 1) AS path,
         split_part(pathq, '?', 2) AS qs
  FROM c3
), c5 AS (
  SELECT *,
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
         OR (scheme = 'https' AND port = '443') THEN ''
         ELSE concat(':', port) END AS portc,
    CASE WHEN length(path) > 1 AND ends_with(path, '/')
         THEN substr(path, 1, length(path) - 1) ELSE path END AS path2,
    coalesce(array_to_string(list_filter(str_split(qs, '&'),
      p -> p <> '' AND NOT starts_with(p, 'utm_')), '&'), '') AS qkeep
  FROM c4
)
SELECT concat(scheme, '://', host, portc, path2,
         CASE WHEN qkeep <> '' THEN concat('?', qkeep) ELSE '' END)
         AS url_canon,
       count(*) AS n_docs,
       count(DISTINCT url) AS n_surface_forms,
       min(doc_id) AS keep_doc_id
FROM c5
GROUP BY url_canon ORDER BY url_canon
"""


ML_QUERIES["url_normalize_dedup"] = (
    url_normalize_dedup,
    URL_NORMALIZE_DEDUP_SQL,
)


# --------------------------------------------------------------------------
# Deterministic fixed-point PageRank over a document link graph — the
# link-based quality prior web-scale corpora attach to documents
# (CommonCrawl ranks hosts with exactly this family of centrality
# scores before content filters ever run). The documents table carries
# no hyperlinks, so the edge set is SYNTHESIZED deterministically from
# doc_id (md5-selected targets, self-loops removed, a fixed 1-in-17
# subset forced dangling so the dangling-mass path is exercised at
# every scale) — both engines build the identical graph, so the oracle
# checks the iteration algebra, not the data.
#
# The distinctive engineering choice is FIXED-POINT INTEGER arithmetic
# (ranks in 1e-9 "picopoint" units, contributions via integer DIV):
# float PageRank sums incoming contributions in shuffle order, so two
# runs (or Spark vs the oracle) disagree in the last ulps and a
# retried partition can flip a ranking — the same
# summation-order-nondeterminism class Q1's money sums eliminated.
# Integer mass is order-independent: every engine, every partitioning,
# every retry computes bit-identical ranks. Floor losses strictly
# shrink total mass (bounded in pytest), never reorder it.
#
# Scale design: the classic iterative-graph workload, absent from the
# catalog until now. Per iteration: edges ⋈ ranks on src (at 10^12
# edges, pre-bucket edges by src ONCE — every iteration's join is then
# shuffle-free on the edge side; the node-sized rank table is the only
# moving part), one partial-agg'd groupBy(dst), and a node-sized left
# join; the dangling mass is a 1-row agg broadcast back. The driver
# loop holds K (model state), ranks would checkpoint per iteration at
# scale to cut lineage. No Python anywhere; 100 TB notes in SCALE.md
# §17.
# --------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000  # rank 1.0 == 1e9 units; teleport = 0.15e9
_PR_ITERS = 3
_PR_DANGLE_MOD = 17  # doc_id % 17 == 3 -> no out-edges (forced dangling)


def _md5_links(docs: DataFrame, n: int, tag: str, drop_dangling: bool) -> DataFrame:
    """(src, dst) rows of the synthesized link graph over ``docs``'
    doc_id: each doc links to md5("{tag}{j}:" || doc_id) % n for j = 0,
    1, 2, self-loops dropped and duplicates kept (callers add their own
    distinct). ``drop_dangling`` gives every doc with doc_id %
    _PR_DANGLE_MOD == 3 no out-links."""

    def h(j: int) -> str:
        return (
            f"(CAST(conv(substring(md5(concat('{tag}{j}:', "
            f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % {n})"
        )

    if drop_dangling:
        docs = docs.where(F.expr(f"doc_id % {_PR_DANGLE_MOD} <> 3"))
    return docs.selectExpr(
        "doc_id AS src", f"explode(array({h(0)}, {h(1)}, {h(2)})) AS dst"
    ).where("dst <> src")


def pagerank_links(spark, sf_dir, n_iters: int = _PR_ITERS):
    """K power iterations of fixed-point PageRank (d = 0.85) over the
    synthesized link graph; returns (node_id, outdeg, rank_fp) for
    every document, ordered by node_id. ``n`` (the node count) is the
    one driver-side scalar — model state, same audit class as the
    k-means centroid collect."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    teleport = (15 * _PR_SCALE) // 100

    edges = _md5_links(docs, n, "pr", drop_dangling=True).distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = docs.select(
        F.col("doc_id").alias("id"),
        F.lit(_PR_SCALE).cast("long").alias("r"),
    )
    for _ in range(n_iters):
        dangling = (
            ranks.join(deg, ranks["id"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
        )
        inmass = (
            edges.join(deg, "src")
            .join(ranks.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst"), F.expr("r DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inm"))
        )
        ranks = (
            docs.select(F.col("doc_id").alias("id"))
            .join(inmass, F.col("id") == F.col("dst"), "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                F.expr(
                    f"CAST({teleport} AS BIGINT) + (85 * "
                    f"(coalesce(inm, CAST(0 AS BIGINT)) + (dm DIV {n})))"
                    " DIV 100"
                ).alias("r"),
            )
        )
    return (
        ranks.join(deg, ranks["id"] == deg["src"], "left")
        .select(
            F.col("id").alias("node_id"),
            F.coalesce(F.col("outdeg"), F.lit(0))
            .cast("long")
            .alias("outdeg"),
            F.col("r").alias("rank_fp"),
        )
        .orderBy("node_id")
    )


def _pagerank_sql(n_iters: int = _PR_ITERS) -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    teleport = (15 * _PR_SCALE) // 100
    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    parts = [
        f"WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "edges AS (SELECT DISTINCT src, dst FROM cand WHERE dst <> src), "
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src), "
        f"r0 AS (SELECT doc_id AS id, CAST({_PR_SCALE} AS BIGINT) AS r "
        "FROM documents)"
    ]
    for k in range(n_iters):
        parts.append(
            f"d{k} AS (SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS dm "
            f"FROM r{k} WHERE id NOT IN (SELECT src FROM deg))"
        )
        parts.append(
            f"m{k} AS (SELECT e.dst AS id, "
            "CAST(sum(r.r // g.outdeg) AS BIGINT) AS inm "
            f"FROM edges e JOIN deg g ON e.src = g.src "
            f"JOIN r{k} r ON r.id = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{k + 1} AS (SELECT b.id, CAST({teleport} + (85 * "
            f"(coalesce(m.inm, 0) + (d.dm // n))) // 100 AS BIGINT) AS r "
            f"FROM r{k} b LEFT JOIN m{k} m ON b.id = m.id, d{k} d, cnt)"
        )
    return (
        ", ".join(parts)
        + f" SELECT b.id AS node_id, "
        "CAST(coalesce(g.outdeg, 0) AS BIGINT) AS outdeg, b.r AS rank_fp "
        f"FROM r{n_iters} b LEFT JOIN deg g ON b.id = g.src "
        "ORDER BY node_id"
    )


ML_QUERIES["pagerank_links"] = (pagerank_links, _pagerank_sql())


# --------------------------------------------------------------------------
# DOM-heuristic boilerplate block classifier, relational twin (north rule:
# "HTML boilerplate strip ... DOM heuristics"). The streaming HTML parser
# in operators/extract.py IS the production extractor, but DuckDB cannot
# parse HTML, so — like header_detect_relational for the header pass —
# this op re-expresses the DECISION LOGIC itself relationally so the
# driver hash-checks it end to end: per-document DOM blocks are
# synthesized JVM-side (nav / ad / main text / short teaser / aside /
# footer, anchor-word counts varying with the doc), then classified with
# the JusText family of rules (Pomikalek 2011, the algorithm behind
# CommonCrawl-era content extraction):
#
#   pass 1 (context-free, integer cross-multiplied thresholds — house
#   rule: no float at a decision boundary):
#     bad    if anchors*3 > words         (link density > 1/3)
#     short  if words < 8
#     good   if stop_hits*10 >= words     (stopword density >= 0.1)
#     near   otherwise
#   pass 2 (context-sensitive): short/near blocks are rescued iff an
#   ADJACENT block (lag/lead over block order) was context-free good —
#   JusText's neighborhood rule, expressed as window functions.
#
# Output is per-document: kept-block count, kept chars, and the md5 of
# the kept text joined in block order — a value-hash over the exact
# extraction result. Scale: one scan, one explode (6 rows/doc), one
# window + one groupBy both partitioned by doc_id (single shuffle; AQE
# coalesces), no Python anywhere.
# --------------------------------------------------------------------------

_BP_NAV = "home world archive about contact"
_BP_AD = "buy one get one free today only limited offer now"
_BP_ASIDE = "related one related two more from this site"
_BP_FOOTER = "all rights reserved 2024"


def boilerplate_relational(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    first6 = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 6))

    # (idx, btext, anchors) only — no per-row tag payload: the rules
    # never read it, and every struct field rides the doc_id shuffle
    def blk(i, txt, anchors):
        return F.struct(
            F.lit(i).cast("int").alias("idx"),
            txt.alias("btext"),
            anchors.cast("int").alias("anchors"),
        )

    blocks = F.array(
        blk(0, F.lit(_BP_NAV), F.lit(5)),
        blk(1, F.lit(_BP_AD), F.length("text") % 7),
        blk(2, F.col("text"), F.length("text") % 3),
        blk(3, first6, F.lit(0)),
        blk(4, F.lit(_BP_ASIDE), F.lit(8)),
        blk(5, F.lit(_BP_FOOTER), F.lit(4)),
    )
    b = (
        docs.select("doc_id", F.explode(blocks).alias("b"))
        .select("doc_id", "b.*")
    )
    w = F.split("btext", " ")
    words = F.size(w)
    stops = F.size(F.filter(w, lambda x: x.isin(STOPWORDS_EN)))
    b = b.withColumn(
        "cls",
        F.when(F.col("anchors") * 3 > words, F.lit("bad"))
        .when(words < 8, F.lit("short"))
        .when(stops * 10 >= words, F.lit("good"))
        .otherwise(F.lit("near")),
    )
    win = W.partitionBy("doc_id").orderBy("idx")
    rescued = (F.col("cls") == "good") | (
        F.col("cls").isin("short", "near")
        & (
            (F.lag("cls").over(win) == "good")
            | (F.lead("cls").over(win) == "good")
        )
    )
    # lag/lead are NULL at partition edges; CASE's three-valued logic
    # (NULL condition -> ELSE) is identical in both engines — pin it
    # explicitly to a boolean anyway
    b = b.withColumn(
        "is_content", F.when(rescued, F.lit(True)).otherwise(F.lit(False))
    )
    kept_struct = F.when(
        F.col("is_content"), F.struct(F.col("idx"), F.col("btext"))
    )  # collect_list skips the NULLs for non-content blocks
    return (
        b.groupBy("doc_id")
        .agg(
            F.sum(F.col("is_content").cast("long")).alias("n_content"),
            F.sum(
                F.when(F.col("is_content"), F.length("btext"))
                .otherwise(0)
                .cast("long")
            ).alias("content_chars"),
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s["btext"],
                    ),
                )
            ).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


_BP_STOPLIST = ", ".join(f"'{s}'" for s in STOPWORDS_EN)

BOILERPLATE_RELATIONAL_SQL = f"""
WITH d AS (
  SELECT doc_id, lower(text) AS text FROM documents
),
blocks AS (
  SELECT doc_id, 0 AS idx, '{_BP_NAV}' AS btext, 5 AS anchors FROM d
  UNION ALL SELECT doc_id, 1, '{_BP_AD}',
         CAST(length(text) % 7 AS INT) FROM d
  UNION ALL SELECT doc_id, 2, text,
         CAST(length(text) % 3 AS INT) FROM d
  UNION ALL SELECT doc_id, 3,
         array_to_string(list_slice(str_split(text, ' '), 1, 6), ' '),
         0 FROM d
  UNION ALL SELECT doc_id, 4, '{_BP_ASIDE}', 8 FROM d
  UNION ALL SELECT doc_id, 5, '{_BP_FOOTER}', 4 FROM d
),
feat AS (
  SELECT *, len(str_split(btext, ' ')) AS words,
         len(list_filter(str_split(btext, ' '),
             x -> x IN ({_BP_STOPLIST}))) AS stops
  FROM blocks
),
cls AS (
  SELECT *, CASE WHEN anchors * 3 > words THEN 'bad'
                 WHEN words < 8 THEN 'short'
                 WHEN stops * 10 >= words THEN 'good'
                 ELSE 'near' END AS cls
  FROM feat
),
ctx AS (
  SELECT *, CASE WHEN cls = 'good' OR (cls IN ('short', 'near') AND
           (lag(cls) OVER w = 'good' OR lead(cls) OVER w = 'good'))
         THEN TRUE ELSE FALSE END AS is_content
  FROM cls WINDOW w AS (PARTITION BY doc_id ORDER BY idx)
)
SELECT doc_id,
       CAST(sum(CASE WHEN is_content THEN 1 ELSE 0 END) AS BIGINT)
         AS n_content,
       CAST(sum(CASE WHEN is_content THEN length(btext) ELSE 0 END)
         AS BIGINT) AS content_chars,
       md5(coalesce(string_agg(btext, chr(10) ORDER BY idx)
         FILTER (WHERE is_content), '')) AS content_md5
FROM ctx GROUP BY doc_id ORDER BY doc_id
"""

ML_QUERIES["boilerplate_relational"] = (
    boilerplate_relational,
    BOILERPLATE_RELATIONAL_SQL,
)


# --------------------------------------------------------------------------
# Int8 scalar quantization (SQ8) of the embedding column + integer
# asymmetric-distance top-k — the storage/serving path every 100 TB
# vector corpus actually runs (FAISS SQ8 / Milvus SQ8 / Lucene int8
# HNSW): 4 bytes/dim float32 -> 1 byte/dim code + 2 scalars, a 4x
# memory/IO cut, with distance evaluated directly on the codes.
#
# Per vector (min/max scalar quantization):
#   mn, mx   = array_min/max;  step = (mx - mn) / 255.0
#   code_i   = floor(((v_i - mn) * 255.0) / (mx - mn))   in [0, 255]
#   (constant vectors: mx == mn -> all-zero codes, step 0 — the
#   zero-range guard the r4 fuzzer taught us to put in FIRST)
#
# Hash-stability design: every output is integer-derived. Codes are
# floors of IEEE-double expressions with identical operator association
# in both engines (double arithmetic is deterministic — same ops, same
# order, same bits); the reconstruction error is floored to integer
# micro-units PER DIMENSION and only then summed (longs commute — no
# float-summation-order hazard, the exact class Q1/pagerank eliminated);
# the scoring query vector is an INTEGER weight vector, so the ADC score
# sum(code_i * q_i) is pure int64. The full code vector is value-checked
# via md5 over its canonical string form.
#
# Scale: one scan, zero joins, zero Python; top-k is TakeOrdered (no
# global sort). At 10^12 vectors the codes column replaces the float
# column at rest (written once, read by every ANN query); IVF cells
# (ann_ivf_topk) then prune which codes are scanned.
# --------------------------------------------------------------------------

_SQ8_DIMS = 64


def _sq8_query_weights() -> list[int]:
    """Deterministic integer query vector in [-8, 8], md5-derived (the
    repo-wide synthesized-randomness idiom) — embedded as a literal in
    BOTH engines, so the oracle checks the quantization + ADC algebra."""
    import hashlib

    return [
        int(hashlib.md5(f"sq8q{i}".encode()).hexdigest()[:8], 16) % 17 - 8
        for i in range(_SQ8_DIMS)
    ]


_SQ8_Q = _sq8_query_weights()
_SQ8_QSUM = sum(_SQ8_Q)
_SQ8_TOPK = 20


def _sq8_with_codes(df: DataFrame) -> DataFrame:
    """Add the SQ8 columns (mn, mx, step, codes) to a frame carrying a
    double-vector column ``v`` — the ONE quantization definition both
    SQ8 ops share (embedding_quantize + ann_ivf_sq8; oracle twin:
    ``_sq8_quant_ctes``). The 64-dim table contract is enforced LOUDLY
    (raise_error / error()) instead of silently diverging between the
    engines on a malformed table: the oracle SQL iterates fixed
    ``range(1, 65)`` while Spark's zip_with is length-driven, so a
    non-64-dim vector would otherwise produce a NULL-vs-partial-sum
    split across the engines."""
    # Guard the SCALAR mn, not the vector: wrapping v itself in the
    # contract CASE re-evaluates the guard inside every per-element
    # lambda that references v (codes, the err fold) — a per-dimension
    # cost for a per-row check. mn is computed once per row and every
    # downstream expression consumes it, so one CASE here still makes
    # any malformed row fail before a single code is emitted.
    mn_g = F.when(F.size("v") == _SQ8_DIMS, F.array_min("v")).otherwise(
        F.raise_error(f"embedding dim contract: expected {_SQ8_DIMS}")
    )
    df = df.withColumn("mn", mn_g).withColumn("mx", F.array_max("v"))
    mn, mx = F.col("mn"), F.col("mx")
    codes = F.when(
        mx == mn,
        F.transform("v", lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            "v",
            lambda x: F.floor((x - mn) * 255.0 / (mx - mn)).cast("int"),
        )
    )
    return df.withColumn("codes", codes).withColumn(
        "step", (mx - mn) / 255.0
    )


def _sq8_quant_ctes(src: str) -> str:
    """The shared DuckDB quantization CTE chain over ``src`` (which
    must carry an ``embedding`` column): exposes (v, mn, mx, step,
    codes) through CTEs e -> mm -> q. Oracle twin of _sq8_with_codes,
    same loud dim contract."""
    return f"""e AS (
  SELECT *, CASE WHEN len(embedding) = {_SQ8_DIMS}
         THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
         ELSE error('embedding dim contract: expected {_SQ8_DIMS}')
         END AS v
  FROM {src}
),
mm AS (
  SELECT *, list_min(v) AS mn, list_max(v) AS mx FROM e
),
q AS (
  SELECT *, (mx - mn) / 255.0 AS step,
    CASE WHEN mx = mn
         THEN list_transform(v, x -> 0)
         ELSE list_transform(v,
              x -> CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INT))
    END AS codes
  FROM mm
)"""


def embedding_quantize(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    df = _sq8_with_codes(emb.select("vec_id", vd.alias("v")))
    mn, mx = F.col("mn"), F.col("mx")
    err = F.aggregate(
        F.zip_with(
            "v",
            "codes",
            lambda v, c: F.floor(
                F.abs(v - (F.col("mn") + c * F.col("step"))) * 1000000.0
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    qarr = F.array(*[F.lit(int(q)) for q in _SQ8_Q])
    qscore = F.aggregate(
        F.zip_with("codes", qarr, lambda c, q: (c * q).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # The ADC ranking score must re-apply each vector's affine params:
    # dequant dot product = mn*Σq + step*Σ(q_i c_i). Ranking by the raw
    # code-space sum Σ(q_i c_i) alone is NOT order-equivalent across
    # vectors (per-vector mn/step differ) — the pytest ADC-band test
    # caught exactly that on first write. One floor of one double
    # expression keeps it deterministic in both engines.
    df = df.withColumn("qscore", qscore)
    adc = F.floor(
        (mn * F.lit(_SQ8_QSUM) + F.col("step") * F.col("qscore")) * 1000000.0
    ).cast("long")
    return (
        df.select(
            "vec_id",
            "qscore",
            adc.alias("adc_micro"),
            err.alias("err_sum_micro"),
            F.floor(mn * 1000000.0).cast("long").alias("mn_micro"),
            F.floor(mx * 1000000.0).cast("long").alias("mx_micro"),
            F.md5(
                F.concat_ws(
                    ",", F.transform("codes", lambda c: c.cast("string"))
                )
            ).alias("codes_md5"),
        )
        .orderBy(F.col("adc_micro").desc(), "vec_id")
        .limit(_SQ8_TOPK)
    )


def _sq8_sql() -> str:
    qlit = "[" + ", ".join(str(q) for q in _SQ8_Q) + "]"
    return f"""
WITH {_sq8_quant_ctes("embeddings")},
s AS (
  SELECT vec_id, mn, step,
    CAST(list_aggregate(list_transform(range(1, {_SQ8_DIMS + 1}),
      i -> codes[i] * ({qlit})[i]), 'sum') AS BIGINT) AS qscore,
    CAST(list_aggregate(list_transform(range(1, {_SQ8_DIMS + 1}),
      i -> CAST(floor(abs(v[i] - (mn + codes[i] * step)) * 1000000.0)
           AS BIGINT)), 'sum') AS BIGINT) AS err_sum_micro,
    CAST(floor(mn * 1000000.0) AS BIGINT) AS mn_micro,
    CAST(floor(mx * 1000000.0) AS BIGINT) AS mx_micro,
    md5(array_to_string(codes, ',')) AS codes_md5
  FROM q
)
SELECT vec_id, qscore,
       CAST(floor((mn * {_SQ8_QSUM} + step * qscore) * 1000000.0)
            AS BIGINT) AS adc_micro,
       err_sum_micro, mn_micro, mx_micro, codes_md5
FROM s ORDER BY adc_micro DESC, vec_id LIMIT {_SQ8_TOPK}
"""


ML_QUERIES["embedding_quantize"] = (embedding_quantize, _sq8_sql())


# --------------------------------------------------------------------------
# Fill-in-the-middle (FIM) transform — Bavarian et al. 2022 ("Efficient
# Training of Language Models to Fill in the Middle"): for a sampled
# fraction of documents, pick two cut points, split the token stream
# into (prefix, middle, suffix) and emit the PSM reordering
# <PRE> prefix <SUF> suffix <MID> middle, so the LM learns to infill.
# The companion of span_corruption (T5 masking) in the
# training-example-factory family.
#
# Determinism: the apply-coin and both cut points are md5-derived from
# doc_id (the span_corruption idiom: conv(substr(md5,1,15),16,10) —
# replayed in DuckDB as CAST(concat('0x',...) AS BIGINT)), so both
# engines build the identical examples and the output is value-hashed
# (md5 of the reordered text). Join-free single-scan projection; at
# 10^12 docs this is embarrassingly parallel and shuffle-free (the
# final orderBy is presentation-only; production writes partitions).
# --------------------------------------------------------------------------

FIM_RATE = 0.5  # fraction of docs converted to PSM examples


def fim_transform(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    is_fim = _md5_u01("fim:apply:", F.col("doc_id")) < FIM_RATE
    cut1 = _md5_long("fim:c1:", F.col("doc_id")) % (n + 1)
    cut2 = cut1 + _md5_long("fim:c2:", F.col("doc_id")) % (n - cut1 + 1)
    d = docs.select(
        "doc_id",
        "text",
        w.alias("w"),
        n.alias("n_tokens"),
        is_fim.alias("is_fim"),
        cut1.alias("cut1"),
        cut2.alias("cut2"),
    )
    prefix = F.array_join(F.slice("w", F.lit(1), F.col("cut1")), " ")
    middle = F.array_join(
        F.slice("w", F.col("cut1") + 1, F.col("cut2") - F.col("cut1")), " "
    )
    suffix = F.array_join(
        F.slice("w", F.col("cut2") + 1, F.col("n_tokens") - F.col("cut2")),
        " ",
    )
    out = F.when(
        F.col("is_fim"),
        F.concat(
            F.lit("<PRE> "), prefix, F.lit(" <SUF> "), suffix,
            F.lit(" <MID> "), middle,
        ),
    ).otherwise(F.col("text"))
    return d.select(
        "doc_id",
        F.when(F.col("is_fim"), F.lit("psm"))
        .otherwise(F.lit("plain"))
        .alias("mode"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.when(F.col("is_fim"), F.col("cut1")).otherwise(F.lit(None))
        .cast("int")
        .alias("cut1"),
        F.when(F.col("is_fim"), F.col("cut2")).otherwise(F.lit(None))
        .cast("int")
        .alias("cut2"),
        F.md5(out).alias("out_md5"),
    ).orderBy("doc_id")


FIM_TRANSFORM_SQL = f"""
WITH d0 AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
),
d1 AS (
  SELECT *, len(w) AS n,
    CAST(concat('0x', substr(md5(concat('fim:apply:',
         CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
      / {float(1 << 60)} < {FIM_RATE} AS is_fim,
    CAST(concat('0x', substr(md5(concat('fim:c1:',
         CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % (len(w) + 1)
      AS cut1
  FROM d0
),
d2 AS (
  SELECT *, cut1 + CAST(concat('0x', substr(md5(concat('fim:c2:',
         CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % (n - cut1 + 1)
      AS cut2
  FROM d1
),
d3 AS (
  SELECT *,
    CASE WHEN is_fim THEN concat(
      '<PRE> ', array_to_string(list_slice(w, 1, cut1), ' '),
      ' <SUF> ', array_to_string(list_slice(w, cut2 + 1, n), ' '),
      ' <MID> ', array_to_string(list_slice(w, cut1 + 1, cut2), ' '))
    ELSE text END AS out
  FROM d2
)
SELECT doc_id,
       CASE WHEN is_fim THEN 'psm' ELSE 'plain' END AS mode,
       CAST(n AS INT) AS n_tokens,
       CASE WHEN is_fim THEN CAST(cut1 AS INT) ELSE NULL END AS cut1,
       CASE WHEN is_fim THEN CAST(cut2 AS INT) ELSE NULL END AS cut2,
       md5(out) AS out_md5
FROM d3 ORDER BY doc_id
"""

ML_QUERIES["fim_transform"] = (fim_transform, FIM_TRANSFORM_SQL)



# --------------------------------------------------------------------------
# Composed ANN serving path: IVF cell pruning -> SQ8 integer-sum ADC
# shortlist -> exact float rerank. This is the shape a 10^12-vector
# index actually serves queries with (FAISS IVF+SQ8, Milvus IVF_SQ8):
# the coarse quantizer prunes which partitions are scanned
# (ann_ivf_topk's cells), the int8 codes score the survivors without
# touching float vectors (embedding_quantize's codes — 4x less IO),
# and only the tiny ADC shortlist pays for exact distance.
#
# The shortlist score is the APPROXIMATE COSINE between the
# dequantized vector and the dequantized query, reconstructed entirely
# from three ORDER-FREE int64 code sums per vector —
#   SC = Σc_i,  SC2 = Σc_i²,  CROSS = Σc_i·qc_i
# — plus the per-vector affine params (mn, step) and Python-side query
# constants:  dot ≈ mn·A + step·(qmn_q·SC + s_q·CROSS)  with
# A = qmn_q·D + s_q·Σqc, and ‖v̂‖² = mn²·D + 2·mn·step·SC + step²·SC2.
# Both engines evaluate ONE textually identical SQL expression over
# those sums (identical IEEE association), floored to integer
# micro-units, so the shortlist cut is bit-stable under any
# partitioning. Scoring by the raw code sum Σc_i·qc_i alone (no affine
# correction, no norm) was built first and measured: recall@10 = 3-4
# of 10 — the affine terms and the norm are NOT optional, which is
# precisely why FAISS stores (mn, step) next to every SQ8 code block.
#
# Only the final rerank touches float vectors, under the same
# round(cos, 4) contract ann_ivf_topk already holds. Both top-k stages
# are TakeOrdered (per-partition reduce, no global sort shuffle).
# --------------------------------------------------------------------------

_IVF_SQ8_RERANK = 30  # ADC shortlist size feeding the exact rerank


def _sq8_query_codes() -> list[int]:
    """QUERY_VEC quantized to [0,255] in exact Python integers."""
    import math

    qmn, qmx = min(QUERY_VEC), max(QUERY_VEC)
    return [
        int(math.floor((x - qmn) * 255.0 / (qmx - qmn))) for x in QUERY_VEC
    ]


def _ivf_sq8_score_expr() -> str:
    """The shared (Spark SQL == DuckDB SQL) approximate-cosine ADC
    expression over columns (mn, step, sc, sc2, crossq), in integer
    micro-units. Python precomputes every query-side constant."""
    qc = _sq8_query_codes()
    qmn_q, qmx_q = min(QUERY_VEC), max(QUERY_VEC)
    s_q = (qmx_q - qmn_q) / 255.0
    d = len(QUERY_VEC)
    a = qmn_q * d + s_q * sum(qc)  # Σ over dims of the query offset part
    qdeq = [qmn_q + c * s_q for c in qc]
    qn = sum(x * x for x in qdeq) ** 0.5  # dequantized-query norm
    dot = (
        f"((mn * CAST({a!r} AS DOUBLE)) + (step * "
        f"((CAST({qmn_q!r} AS DOUBLE) * CAST(sc AS DOUBLE)) + "
        f"(CAST({s_q!r} AS DOUBLE) * CAST(crossq AS DOUBLE)))))"
    )
    norm2 = (
        f"(((mn * mn) * CAST({d} AS DOUBLE)) + "
        f"(((CAST(2 AS DOUBLE) * mn) * step) * CAST(sc AS DOUBLE)) + "
        f"((step * step) * CAST(sc2 AS DOUBLE)))"
    )
    return (
        f"CASE WHEN {norm2} > 0 THEN "
        f"floor(({dot} / (sqrt({norm2}) * CAST({qn!r} AS DOUBLE))) "
        f"* CAST(1000000 AS DOUBLE)) ELSE 0 END"
    )


def ann_ivf_sq8(spark, sf_dir):
    probes = [j + 1 for j in _ivf_probe_clusters(QUERY_VEC)]  # 1-based
    qc = _sq8_query_codes()
    emb = (
        t(spark, sf_dir, "embeddings")
        .withColumn("cluster", _ivf_cluster_col())
        .where(F.col("cluster").isin(probes))
    )
    d = _sq8_with_codes(
        emb.select(
            "vec_id",
            "cluster",
            "embedding",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    qcarr = F.array(*[F.lit(int(c)) for c in qc])

    def isum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    d = d.select(
        "vec_id",
        "cluster",
        "embedding",
        "mn",
        "step",
        isum(F.transform("codes", lambda c: c.cast("long"))).alias("sc"),
        isum(F.transform("codes", lambda c: (c * c).cast("long"))).alias(
            "sc2"
        ),
        isum(
            F.zip_with("codes", qcarr, lambda c, q: (c * q).cast("long"))
        ).alias("crossq"),
    )
    shortlist = (
        d.withColumn(
            "adc_cos_micro", F.expr(_ivf_sq8_score_expr()).cast("long")
        )
        .orderBy(F.col("adc_cos_micro").desc(), "vec_id")
        .limit(_IVF_SQ8_RERANK)
    )
    return (
        shortlist.select(
            "vec_id",
            "cluster",
            "adc_cos_micro",
            F.round(
                cosine_to_literal(F.col("embedding"), QUERY_VEC), 4
            ).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(10)
    )


def _ivf_sq8_sql() -> str:
    qclit = "[" + ", ".join(str(c) for c in _sq8_query_codes()) + "]"
    return f"""
WITH {_ivf_assigned_cte()},
pruned AS (
  SELECT vec_id, cluster, embedding FROM assigned
  WHERE cluster IN ({_ivf_probe_list()})
),
{_sq8_quant_ctes("pruned")},
s AS (
  SELECT vec_id, cluster, embedding, mn, step,
    CAST(list_aggregate(list_transform(codes, c -> CAST(c AS BIGINT)),
         'sum') AS BIGINT) AS sc,
    CAST(list_aggregate(list_transform(codes,
         c -> CAST(c * c AS BIGINT)), 'sum') AS BIGINT) AS sc2,
    CAST(list_aggregate(list_transform(range(1, {_SQ8_DIMS + 1}),
      i -> CAST(codes[i] * ({qclit})[i] AS BIGINT)), 'sum') AS BIGINT)
      AS crossq
  FROM q
),
scored AS (
  SELECT vec_id, cluster, embedding,
         CAST({_ivf_sq8_score_expr()} AS BIGINT) AS adc_cos_micro
  FROM s
),
surv AS (
  SELECT * FROM scored
  ORDER BY adc_cos_micro DESC, vec_id LIMIT {_IVF_SQ8_RERANK}
)
SELECT vec_id, CAST(cluster AS INT) AS cluster, adc_cos_micro,
       {_ivf_cos_sql()} AS cos
FROM surv ORDER BY cos DESC, vec_id LIMIT 10
"""


ML_QUERIES["ann_ivf_sq8"] = (ann_ivf_sq8, _ivf_sq8_sql())


# --------------------------------------------------------------------------
# Span-interval merge (late-r5 extension). The north-rule data model is an
# interleaved span sequence per document; annotation pipelines (PII spans,
# quality spans, layout blocks, OCR-region boxes flattened to char
# offsets) emit OVERLAPPING [start, end) intervals that must be unioned
# per doc before masking/splitting. This is the classic gaps-and-islands
# sweep, done with ONE hash shuffle:
#   - window #1 partitionBy(doc_id) orderBy(start, end): running max of
#     prior ends marks island starts (start > prev_max_end);
#   - the running sum of island-start flags ids the island, and the
#     incremental-coverage trick (end - greatest(start, prev_max_end),
#     clipped at 0) sums covered chars WITHOUT grouping by island;
#   - window #2 over (doc_id, island) and the final groupBy(doc_id) both
#     reuse HashPartitioning(doc_id) — Catalyst inserts sorts, not
#     exchanges (plan-asserted: exactly ONE hash Exchange; the only
#     other exchange is the presentation ORDER BY's range partitioning
#     over the already-aggregated per-doc rows).
# At 10^12 docs the partition key is doc_id hash — identical to the
# cascade's layout, so the merge co-locates with the munge pass for free.
# Intervals are md5-synthesized (testdata has no span annotations); both
# engines build identical inputs, so the oracle checks the sweep algebra.
# --------------------------------------------------------------------------

_SPAN_K = 5  # synthesized intervals per doc


def span_interval_merge(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    iv = docs.select(
        "doc_id", F.explode(F.array(*[F.lit(j) for j in range(_SPAN_K)])).alias("j")
    ).select(
        "doc_id",
        (_md5_long("spanS:", F.concat_ws(":", "doc_id", "j")) % 1000).alias("s"),
        (20 + _md5_long("spanL:", F.concat_ws(":", "doc_id", "j")) % 180).alias("ln"),
    ).select("doc_id", "s", (F.col("s") + F.col("ln")).alias("e"))
    w = W.partitionBy("doc_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    marked = iv.select(
        "doc_id", "s", "e",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1)
        .otherwise(0).alias("new_island"),
        F.greatest(
            F.col("e") - F.greatest(F.col("s"), F.coalesce(prev_max, F.lit(0))),
            F.lit(0),
        ).alias("cover"),
    ).withColumn("island", F.sum("new_island").over(w))
    wi = W.partitionBy("doc_id", "island")
    spans = marked.select(
        "doc_id", "new_island", "cover",
        (F.max("e").over(wi) - F.min("s").over(wi)).alias("island_len"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum("new_island").cast("long").alias("n_merged"),
            F.sum("cover").cast("long").alias("covered_chars"),
            F.max("island_len").cast("long").alias("max_merged_len"),
        )
        .orderBy("doc_id")
    )


def _span_merge_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}', "
            f"CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) "
            f"AS BIGINT)"
        )

    return f"""
WITH iv AS (
  SELECT doc_id,
         {h('spanS:')} % 1000 AS s,
         {h('spanS:')} % 1000 + 20 + {h('spanL:')} % 180 AS e
  FROM documents, range({_SPAN_K}) r(j)
),
marked AS (
  SELECT doc_id, s, e,
         max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM iv
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
           AS new_island,
         greatest(e - greatest(s, coalesce(prev_max, 0)), 0) AS cover,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS island
  FROM marked
),
spans AS (
  SELECT doc_id, new_island, cover,
         max(e) OVER (PARTITION BY doc_id, island)
           - min(s) OVER (PARTITION BY doc_id, island) AS island_len
  FROM flagged
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(new_island) AS BIGINT) AS n_merged,
       CAST(sum(cover) AS BIGINT) AS covered_chars,
       CAST(max(island_len) AS BIGINT) AS max_merged_len
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


ML_QUERIES["span_interval_merge"] = (span_interval_merge, _span_merge_sql())


# --------------------------------------------------------------------------
# Anchor-text aggregation (late-r5 extension). The extraction tier's
# web-graph sibling of PageRank: for every link TARGET, aggregate the
# anchor texts of its in-links (in-degree, distinct linking sources,
# distinct anchor phrases, the modal anchor). This is how web-scale
# pipelines build target-page descriptions and link-spam features.
#
# Scale design — the op is ONE two-level aggregation tree:
#   - level 1 groupBy(dst, anchor) with map-side partial agg: the
#     shuffle carries distinct (dst, anchor) pairs per partition, not
#     edges — on a power-law web graph this is the skew armor (a
#     100M-in-link target with 1k distinct anchors shuffles 1k rows per
#     map partition, never 100M);
#   - level 2 groupBy(dst) picks the modal anchor as max(struct(cnt,
#     anchor)) — an order-independent, tie-deterministic reduction
#     (lexicographic struct compare, identical in DuckDB), so retries
#     and partitioning never flip the winner;
#   - countDistinct(src) runs as its own partial-agg tree and joins
#     back on the target-sized side. Local stats pick a broadcast for
#     that join; at 10^12 targets neither side broadcasts, and both agg
#     outputs are already HashPartitioning(dst), so the SMJ Catalyst
#     falls back to adds NO further exchange.
# Links + anchors are md5-synthesized exactly like pagerank_links (the
# testdata has no link graph); 3 generators per doc WITHOUT distinct, so
# multi-links exist and in_degree > n_src for some targets.
# --------------------------------------------------------------------------

_ANCHOR_VOCAB = [
    "click here", "read more", "home page", "next page",
    "previous", "source", "reference", "details",
]


def anchor_text_agg(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()  # driver-side model scalar (same audit class as
    # pagerank's node count): sizes the synthesized dst space

    vocab = F.array(*[F.lit(a) for a in _ANCHOR_VOCAB])
    edges = (
        _md5_links(docs, n, "pr", drop_dangling=False)
        .withColumn(
            "anchor",
            F.element_at(
                vocab,
                (
                    _md5_long("anchor:", F.concat_ws(":", "src", "dst"))
                    % len(_ANCHOR_VOCAB)
                ).cast("int")
                + 1,
            ),
        )
    )
    per_pair = edges.groupBy("dst", "anchor").agg(
        F.count("*").cast("long").alias("cnt")
    )
    best = per_pair.groupBy("dst").agg(
        F.sum("cnt").cast("long").alias("in_degree"),
        F.count("*").cast("long").alias("n_anchors"),
        F.max(F.struct("cnt", "anchor")).alias("b"),
    )
    srcs = edges.groupBy("dst").agg(
        F.countDistinct("src").cast("long").alias("n_src")
    )
    return (
        best.join(srcs, "dst")
        .select(
            F.col("dst").alias("node_id"),
            "in_degree",
            "n_src",
            "n_anchors",
            F.col("b.anchor").alias("top_anchor"),
            F.col("b.cnt").alias("top_anchor_cnt"),
        )
        .orderBy("node_id")
    )


def _anchor_agg_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    vocab = ", ".join(f"'{a}'" for a in _ANCHOR_VOCAB)
    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt"
        for j in range(3)
    )
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
links AS ({cand}),
edges AS (
  SELECT src, dst,
         ([{vocab}])[1 + CAST(
           CAST(concat('0x', substr(md5(concat('anchor:',
             CAST(src AS VARCHAR), ':', CAST(dst AS VARCHAR))), 1, 15))
           AS BIGINT) % {len(_ANCHOR_VOCAB)} AS INT)] AS anchor
  FROM links WHERE dst <> src
),
per_pair AS (
  SELECT dst, anchor, CAST(count(*) AS BIGINT) AS cnt
  FROM edges GROUP BY dst, anchor
),
best AS (
  SELECT dst, CAST(sum(cnt) AS BIGINT) AS in_degree,
         CAST(count(*) AS BIGINT) AS n_anchors,
         max({{'cnt': cnt, 'anchor': anchor}}) AS b
  FROM per_pair GROUP BY dst
),
srcs AS (
  SELECT dst, CAST(count(DISTINCT src) AS BIGINT) AS n_src
  FROM edges GROUP BY dst
)
SELECT best.dst AS node_id, in_degree, n_src, n_anchors,
       b.anchor AS top_anchor, b.cnt AS top_anchor_cnt
FROM best JOIN srcs USING (dst) ORDER BY node_id
"""


ML_QUERIES["anchor_text_agg"] = (anchor_text_agg, _anchor_agg_sql())


# --------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring (late-r5 extension).
# lm_bigram_score is add-one smoothing self-scored on the training corpus,
# so every bigram is seen and the smoothing path is never stressed. This op
# does the real LM workflow: a held-out split (train = even doc_id, eval =
# odd), absolute discounting D = 0.75, and the KN continuation
# distribution, so UNSEEN bigrams and unseen histories exercise the backoff
# on every run:
#   P(w2|w1) = max(c(w1w2) - D, 0)/c(w1) + D*N1+(w1,.)/c(w1) * Pcont(w2)
#   Pcont(w2) = (N1+(.,w2) + 1) / (n_bigram_types + V)     [add-one so an
#   eval-only w2 scores 1/(n_bg+V) instead of -inf]
#   unseen history (c(w1) = 0): P = Pcont(w2).
# Scale design mirrors lm_bigram_score: model tables are count aggregates
# (partial-agg'd), the two model scalars come from ONE stats job (driver
# data = two longs), and the same size gate picks broadcast vs
# shuffle-hash for the model joins -- the corpus-sized eval side never
# builds a hash table. D = 0.75 is exact in binary; the per-doc mean of
# logs is rounded to 4dp (the documented float-summation tolerance class
# every avg_logp op in the catalog uses).
# --------------------------------------------------------------------------

_KN_D = 0.75


def lm_kn_bigram(spark, sf_dir, max_model_rows: int = LM_BROADCAST_MAX_ROWS):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.lower(F.col("text")), " ")
    m = F.size(words) - 1
    bigrams = F.when(
        m >= 1,
        F.zip_with(
            F.slice(words, 1, m),
            F.slice(words, 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))

    def pairs_of(side):
        return side.select(
            "doc_id", F.explode(bigrams).alias("p")
        ).select("doc_id", "p.w1", "p.w2")

    train = pairs_of(docs.where("doc_id % 2 = 0"))
    ev = pairs_of(docs.where("doc_id % 2 = 1"))
    bg = train.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    uni = bg.groupBy("w1").agg(
        F.sum("c_bg").alias("c_w1"), F.count("*").alias("n1f")
    )
    cont = bg.groupBy("w2").agg(F.count("*").alias("n1r"))
    stats = (
        bg.select(F.explode(F.array("w1", "w2")).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
        .crossJoin(bg.agg(F.count("*").alias("n_bg")))
        .collect()[0]
    )
    # degenerate corpus guard (an all-empty train split has zero bigram
    # types): clamp the continuation denominator to 1 — every prob is
    # then Pcont = 1, logp = 0 — instead of Spark ANSI DIVIDE_BY_ZERO
    # vs DuckDB NULL (the fuzzer's one-bad-corpus-in-10^9 class)
    denom = float(max(stats.n_bg + stats.v, 1))
    if stats.n_bg <= max_model_rows:
        bg_j, uni_j, cont_j = F.broadcast(bg), F.broadcast(uni), F.broadcast(cont)
    else:
        bg_j = bg.hint("shuffle_hash")
        uni_j, cont_j = uni.hint("shuffle_hash"), cont.hint("shuffle_hash")
    pcont = (F.coalesce(F.col("n1r"), F.lit(0)) + 1) / F.lit(denom)
    seen = (
        F.greatest(F.coalesce(F.col("c_bg"), F.lit(0)) - _KN_D, F.lit(0.0))
        / F.col("c_w1")
        + (_KN_D * F.col("n1f") / F.col("c_w1")) * pcont
    )
    p = F.when(F.col("c_w1").isNotNull(), seen).otherwise(pcont)
    return (
        ev.join(bg_j, ["w1", "w2"], "left")
        .join(uni_j, "w1", "left")
        .join(cont_j, "w2", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(F.col("c_w1").isNull().cast("double")), 4
            ).alias("oov_rate"),
            F.round(F.avg(F.log(p)), 4).alias("avg_logp_kn"),
        )
        .orderBy("doc_id")
    )


def _lm_kn_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w,
         len(string_split(lower(text), ' ')) AS n
  FROM documents
),
pairs AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM toks, unnest(range(1, n)) r(i) WHERE n >= 2
),
train AS (SELECT * FROM pairs WHERE doc_id % 2 = 0),
ev AS (SELECT * FROM pairs WHERE doc_id % 2 = 1),
bg AS (SELECT w1, w2, count(*) AS c_bg FROM train GROUP BY w1, w2),
uni AS (
  SELECT w1, sum(c_bg) AS c_w1, count(*) AS n1f FROM bg GROUP BY w1
),
cont AS (SELECT w2, count(*) AS n1r FROM bg GROUP BY w2),
stats AS (
  SELECT (SELECT count(DISTINCT tok) FROM (
            SELECT unnest([w1, w2]) AS tok FROM bg)) AS v,
         (SELECT count(*) FROM bg) AS n_bg
),
scored AS (
  SELECT ev.doc_id,
         uni.c_w1,
         CASE WHEN uni.c_w1 IS NOT NULL THEN
           greatest(coalesce(bg.c_bg, 0) - {_KN_D}, 0.0) / uni.c_w1
           + ({_KN_D} * uni.n1f / uni.c_w1)
             * ((coalesce(cont.n1r, 0) + 1)
                / greatest(stats.n_bg + stats.v, 1))
         ELSE (coalesce(cont.n1r, 0) + 1.0)
              / greatest(stats.n_bg + stats.v, 1)
         END AS p
  FROM ev
  LEFT JOIN bg USING (w1, w2)
  LEFT JOIN uni USING (w1)
  LEFT JOIN cont USING (w2)
  CROSS JOIN stats
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(CASE WHEN c_w1 IS NULL THEN 1.0 ELSE 0.0 END), 4)
         AS oov_rate,
       round(avg(ln(p)), 4) AS avg_logp_kn
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


ML_QUERIES["lm_kn_bigram"] = (lm_kn_bigram, _lm_kn_sql())


# --------------------------------------------------------------------------
# Reciprocal Rank Fusion (late-r5 extension). Hybrid retrieval — the
# standard way curation/eval stacks combine a lexical ranker with a
# vector ranker (Cormack, Clarke & Buettcher 2009: score(d) = sum over
# rankers of 1/(k + rank_d), k = 60). Both legs already exist in the
# catalog: the BM25 top-k over documents.text and the cosine top-k over
# embeddings (doc_id and vec_id share the id space — TESTDATA.md). RRF
# needs only the RANKS, so the fusion contributes nothing corpus-sized:
#   - each leg ends in a TakeOrderedAndProject (partial top-k map-side,
#     no global sort, no corpus shuffle);
#   - the fusion is a full-outer join of two <= RRF_TOP-row frames (a
#     doc may appear in one list only) — driver-scale, broadcast by AQE;
#   - contributions are integer micro-units (10^9 DIV (k + rank)), so
#     the fused score is an exact int64 — retries / partitioning can
#     never flip a tie; ties break on doc_id.
# At 10^12 docs each leg substitutes its indexed variant (bm25 pre-
# filtered terms / ann_ivf_sq8) with the fusion unchanged — ranks are
# the whole interface.
# --------------------------------------------------------------------------

RRF_K = 60
RRF_TOP = 10


def rrf_fusion(spark, sf_dir):
    lex = bm25_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("bm25_rank")
    )
    vec_top = (
        t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.round(cosine_to_literal(F.col("embedding"), QUERY_VEC), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), "vec_id")
        .limit(RRF_TOP)
    )
    vec = vec_top.select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(W.partitionBy().orderBy(F.desc("cos"), "vec_id"))
        .cast("int")
        .alias("ann_rank"),
    )
    fused = lex.join(vec, "id", "full_outer").select(
        F.col("id").alias("doc_id"),
        "bm25_rank",
        "ann_rank",
        (
            F.coalesce(F.expr(f"{10**9} DIV ({RRF_K} + bm25_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"{10**9} DIV ({RRF_K} + ann_rank)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    top = fused.orderBy(F.desc("rrf_micro"), "doc_id").limit(RRF_TOP)
    return (
        top.withColumn(
            "fused_rank",
            F.row_number()
            .over(W.partitionBy().orderBy(F.desc("rrf_micro"), "doc_id"))
            .cast("int"),
        )
        .select("fused_rank", "doc_id", "bm25_rank", "ann_rank", "rrf_micro")
        .orderBy("fused_rank")
    )


RRF_SQL = f"""
WITH lex AS (
  SELECT doc_id AS id, rank AS bm25_rank FROM ({BM25_SQL})
),
vec_top AS (
  SELECT vec_id,
         CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
              THEN round(list_dot_product(embedding::DOUBLE[], {QUERY_VEC!r})
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt({sum(x * x for x in QUERY_VEC)!r})), 4)
              ELSE 0.0 END AS cos
  FROM embeddings
  ORDER BY cos DESC, vec_id LIMIT {RRF_TOP}
),
vec AS (
  SELECT vec_id AS id,
         CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS ann_rank
  FROM vec_top
),
fused AS (
  SELECT coalesce(l.id, v.id) AS doc_id, l.bm25_rank, v.ann_rank,
         CAST(coalesce(1000000000 // ({RRF_K} + l.bm25_rank), 0)
              + coalesce(1000000000 // ({RRF_K} + v.ann_rank), 0)
              AS BIGINT) AS rrf_micro
  FROM lex l FULL OUTER JOIN vec v ON l.id = v.id
)
SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT)
         AS fused_rank,
       doc_id, bm25_rank, ann_rank, rrf_micro
FROM fused ORDER BY fused_rank LIMIT {RRF_TOP}
"""

ML_QUERIES["rrf_fusion"] = (rrf_fusion, RRF_SQL)


# --------------------------------------------------------------------------
# Hard-negative mining (late-r5 extension). The contrastive-training
# data op: for each anchor vector, the top-K most-similar candidates
# with a DIFFERENT label — the "hard negatives" that make embedding /
# reranker training work (in-batch negatives are easy; mining needs a
# corpus-wide similarity search with a label-disequality predicate).
# Pruning is IVF, not hyperplane LSH, and the choice is measured: the
# probe set adapts to each anchor (its HN_NPROBE nearest cells by the
# SAME affinity that assigns candidates), so on this corpus the
# realized recall vs the exact different-label top-K beats the probed
# corpus fraction (~0.57 vs ~0.38 at nprobe=3) — query-blind
# hyperplane buckets measured at coverage only (~0.32), pytest records
# both. Scale shape:
#   - anchors (queries-sized) rank their affinity array (posexplode +
#     a window over anchors only) and BROADCAST their (anchor, cell)
#     probe pairs — the corpus never shuffles;
#   - candidates carry their IVF cell from the shared _ivf_cluster_col
#     expression (identical to ann_ivf_*'s assignment — the two can't
#     drift); the cell equi-join confines pairs (plan-asserted
#     BroadcastHashJoin, never a cartesian product); a candidate's one
#     cell meets at most one distinct probe, so pairs are unique;
#   - per-anchor top-K is a window over cell-pruned pairs partitioned
#     by anchor_id (never global), ranked on round(cos, 4) with
#     cand_id tie-breaks — deterministic under any partitioning.
# Within the probed cells the result is EXACT (the DuckDB oracle
# replays cell assignment, probe ranking, and ranking bit-for-bit).
# --------------------------------------------------------------------------

HN_K = 3  # negatives per anchor
HN_ANCHOR_MOD = 25  # vec_id % MOD == 0 -> anchor
HN_NPROBE = 3  # IVF cells probed per anchor


def hard_negative_mining(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    cands = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        vec.alias("c_vec"),
        _ivf_cluster_col().alias("cluster"),
    )
    anch0 = emb.where(F.col("vec_id") % HN_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        vec.alias("a_vec"),
        _ivf_aff_col().alias("aff"),
    )
    exploded = anch0.select(
        "anchor_id",
        "anchor_label",
        "a_vec",
        F.posexplode("aff").alias("pos", "a"),
    )
    wp = W.partitionBy("anchor_id").orderBy("a", "pos")
    probes = (
        exploded.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") <= HN_NPROBE)
        .select(
            "anchor_id",
            "anchor_label",
            "a_vec",
            (F.col("pos") + 1).cast("int").alias("cluster"),
        )
    )
    pairs = (
        cands.join(F.broadcast(probes), "cluster")
        .where(F.col("cand_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(cosine(F.col("a_vec"), F.col("c_vec")), 4).alias("cos"),
        )
    )
    wa = W.partitionBy("anchor_id").orderBy(F.desc("cos"), "cand_id")
    return (
        pairs.withColumn("neg_rank", F.row_number().over(wa).cast("int"))
        .where(F.col("neg_rank") <= HN_K)
        .select(
            "anchor_id", "neg_rank", "cand_id", "anchor_label", "cand_label", "cos"
        )
        .orderBy("anchor_id", "neg_rank")
    )


def _hard_negative_sql() -> str:
    aff_exprs = ", ".join(
        f"({sum(x * x for x in c)!r} - 2.0 * "
        f"list_dot_product(embedding::DOUBLE[], {c!r}))"
        for c in IVF_CENTROIDS
    )
    return f"""
WITH cands AS (
  SELECT vec_id AS cand_id, label AS cand_label,
         embedding::DOUBLE[] AS c_vec,
         list_indexof([{aff_exprs}], list_min([{aff_exprs}])) AS cluster
  FROM embeddings
),
anchors0 AS (
  SELECT vec_id AS anchor_id, label AS anchor_label,
         embedding::DOUBLE[] AS a_vec,
         [{aff_exprs}] AS aff
  FROM embeddings WHERE vec_id % {HN_ANCHOR_MOD} = 0
),
probes AS (
  SELECT anchor_id, anchor_label, a_vec, CAST(j + 1 AS INT) AS cluster
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY aff[CAST(j + 1 AS INT)], j) AS rk
    FROM anchors0, range({len(IVF_CENTROIDS)}) r(j)
  ) WHERE rk <= {HN_NPROBE}
),
pairs AS (
  SELECT p.anchor_id, p.anchor_label, c.cand_id, c.cand_label,
         CASE WHEN list_dot_product(p.a_vec, p.a_vec) > 0
               AND list_dot_product(c.c_vec, c.c_vec) > 0
              THEN round(list_dot_product(p.a_vec, c.c_vec)
                   / (sqrt(list_dot_product(p.a_vec, p.a_vec))
                      * sqrt(list_dot_product(c.c_vec, c.c_vec))), 4)
              ELSE 0.0 END AS cos
  FROM cands c JOIN probes p USING (cluster)
  WHERE c.cand_label <> p.anchor_label
)
SELECT anchor_id, neg_rank, cand_id, anchor_label, cand_label, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                                    ORDER BY cos DESC, cand_id) AS INT)
              AS neg_rank
  FROM pairs
) WHERE neg_rank <= {HN_K} ORDER BY anchor_id, neg_rank
"""


ML_QUERIES["hard_negative_mining"] = (hard_negative_mining, _hard_negative_sql())


# --------------------------------------------------------------------------
# Equi-depth quantile bucketing (late-r5 extension). Curriculum /
# difficulty bucketing for training-data ordering: split the corpus
# into QB_BUCKETS equal-count buckets by a scalar quality score
# (n_chars here; production plugs any scalar — a gopher composite, a
# classifier logit). The scale-correct recipe is the classic two-pass
# equi-depth histogram, NOT a global ntile (a single-partition window
# over 10^12 rows) and NOT interpolated percentiles (float boundaries
# whose last-ulp can differ between engines and flip tie buckets):
#   - pass 1 groups by score (score-cardinality-sized shuffle, tiny vs
#     the corpus) and takes a running count; boundary_k = min score
#     with 10*cum >= k*n — ALL integer arithmetic, bit-identical
#     everywhere (the cum window is global but runs over distinct
#     scores, not rows; commented as such);
#   - the 9 boundaries collect to the driver (model-scalar precedent)
#     and assignment is a codegen literal-array filter on scan 2 —
#     join-free, one corpus pass.
# Ties sit entirely in one bucket (score <= boundary_k), so depths are
# equal modulo tie multiplicity; pytest bounds the skew by the largest
# tie group and pins the semantics on a hand corpus vs pure Python.
# --------------------------------------------------------------------------

QB_BUCKETS = 10


def quantile_buckets(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(F.col("n_chars").alias("score"))
    hist = docs.groupBy("score").agg(F.count("*").alias("c"))
    # global window, but over DISTINCT scores (hundreds), not the corpus
    wcum = W.orderBy("score").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(W.partitionBy())
    )
    agg = cum.agg(
        *[
            F.min(
                F.when(F.col("cum") * 10 >= F.col("n") * k, F.col("score"))
            ).alias(f"b{k}")
            for k in range(1, QB_BUCKETS)
        ],
    ).collect()[0]
    bounds = [agg[f"b{k}"] for k in range(1, QB_BUCKETS)]
    blit = F.array(*[F.lit(int(b)) for b in bounds])
    bucket = (
        F.size(F.filter(blit, lambda b: b < F.col("score"))) + 1
    ).cast("int")
    return (
        docs.select("score", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("score").cast("long").alias("lo"),
            F.max("score").cast("long").alias("hi"),
        )
        .orderBy("bucket")
    )


def _quantile_buckets_sql() -> str:
    ks = range(1, QB_BUCKETS)
    bmins = ",\n         ".join(
        f"min(CASE WHEN cum * 10 >= n * {k} THEN score END) AS b{k}" for k in ks
    )
    blist = "[" + ", ".join(f"b{k}" for k in ks) + "]"
    return f"""
WITH scored AS (SELECT n_chars AS score FROM documents),
hist AS (SELECT score, count(*) AS c FROM scored GROUP BY score),
cums AS (
  SELECT score, c,
         sum(c) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER () AS n
  FROM hist
),
bounds AS (
  SELECT {bmins}
  FROM cums
),
assigned AS (
  SELECT score,
         CAST(1 + len(list_filter({blist}, b -> b < score)) AS INT) AS bucket
  FROM scored CROSS JOIN bounds
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(score) AS BIGINT) AS lo, CAST(max(score) AS BIGINT) AS hi
FROM assigned GROUP BY bucket ORDER BY bucket
"""


ML_QUERIES["quantile_buckets"] = (quantile_buckets, _quantile_buckets_sql())


# --------------------------------------------------------------------------
# Levenshtein near-dup (late-r5 extension). Character-level fuzzy dedup
# — the OCR-corruption twin of the token-level families (minhash /
# simhash / jaccard operate on token sets; a single in-word OCR
# substitution leaves token-set similarity high but is invisible to
# exact dedup and cheap to catch at the character level). Input
# synthesizes the corruption class the blocker is exact for: every doc
# with doc_id % 10 == 0 reappears under doc_id + 200000 with ONE
# md5-positioned substituted character.
# Scale shape:
#   - blocking on EXACT char length: substitutions preserve length, so
#     recall is 1.0 for the corruption class by construction (pytest
#     asserts every planted pair is found); the self-join is an
#     equi-join on the length key (plan-asserted, never a cartesian) —
#     production tightens the blocker with prefix bands for
#     insert/delete classes;
#   - verification uses the THRESHOLDED levenshtein (Spark 3.5+): cost
#     per pair is O(n * k) with k = LEV_MAX, not O(n^2) — at 10^12 docs
#     the threshold IS the budget; the oracle's unthresholded
#     levenshtein agrees on every kept pair by definition.
# --------------------------------------------------------------------------

LEV_MAX = 2


def dedup_levenshtein(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    p = (
        _md5_long("lev:", F.col("doc_id"))
        % F.greatest(F.length("text"), F.lit(1))
        + 1
    )
    variants = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), F.lit(1), p - 1),
            F.lit("X"),
            F.col("text").substr(p + 1, F.length("text")),
        ).alias("text"),
    )
    corpus = docs.unionByName(variants).select(
        "doc_id", "text", F.length("text").alias("len")
    )
    a = corpus.select(
        F.col("doc_id").alias("keep_id"), F.col("text").alias("t1"), "len"
    )
    b = corpus.select(
        F.col("doc_id").alias("drop_id"), F.col("text").alias("t2"), "len"
    )
    lev = F.levenshtein(F.col("t1"), F.col("t2"), LEV_MAX)
    return (
        a.join(b, "len")
        .where(F.col("keep_id") < F.col("drop_id"))
        .select("keep_id", "drop_id", lev.alias("lev"))
        .where(F.col("lev") >= 0)  # thresholded form returns -1 above k
        .orderBy("keep_id", "drop_id")
    )


def _dedup_levenshtein_sql() -> str:
    h = (
        "CAST(concat('0x', substr(md5(concat('lev:', "
        "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH variants AS (
  SELECT doc_id + 200000 AS doc_id,
         concat(
           substr(text, 1, CAST({h} % greatest(length(text), 1) AS INT)),
           'X',
           substr(text, CAST({h} % greatest(length(text), 1) AS INT) + 2)
         ) AS text
  FROM documents WHERE doc_id % 10 = 0
),
corpus AS (
  SELECT doc_id, text, length(text) AS len FROM documents
  UNION ALL
  SELECT doc_id, text, length(text) AS len FROM variants
)
SELECT a.doc_id AS keep_id, b.doc_id AS drop_id,
       CAST(levenshtein(a.text, b.text) AS INT) AS lev
FROM corpus a JOIN corpus b USING (len)
WHERE a.doc_id < b.doc_id AND levenshtein(a.text, b.text) <= {LEV_MAX}
ORDER BY keep_id, drop_id
"""


ML_QUERIES["dedup_levenshtein"] = (dedup_levenshtein, _dedup_levenshtein_sql())


# --------------------------------------------------------------------------
# Triangle counting over the synthesized link graph (late-r5 extension;
# same md5 edge model as pagerank_links, made undirected). The classic
# graph-analytics scale hazard is the wedge join: joining the raw edge
# list with itself explodes on high-degree hubs (a degree-d node emits
# d^2 wedges). The standard fix — and the engine's design — is
# DEGREE ORIENTATION (Chiba–Nishizeki / "compact-forward"): orient every
# undirected edge from its lower-(degree, id) endpoint to the higher
# one. Every node's ORIENTED out-degree is then O(sqrt(m)) regardless of
# its raw degree, so the wedge join is bounded by m^1.5 total — the best
# possible for exact triangle listing — and each triangle is generated
# exactly once (its apex is the unique (degree,id)-minimum vertex), so
# no post-hoc /3 or /6 dedup pass.
# Plan shape: two equi-joins on node ids (wedge build + closure probe),
# both hash-shuffled on the join key; the degree table is node-sized
# (broadcastable). No cartesian anywhere (plan-asserted in pytest).
# The oracle replays the naive u<v<w canonical 3-way self-join — a
# different algorithm producing the same triangle set.
# --------------------------------------------------------------------------


def _link_edges_undirected(spark, sf_dir):
    """Canonical undirected edge list (u < v) of the pagerank link
    graph: 3 md5 destinations per non-dangling doc, self-loops dropped,
    direction collapsed."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    directed = _md5_links(docs, n, "pr", drop_dangling=True)
    return directed.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    ).distinct()


def triangle_count(spark, sf_dir):
    und = _link_edges_undirected(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )
    e = und.join(
        deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    )
    o1 = oriented.select("a", F.col("b"), F.col("db"))
    o2 = oriented.select(
        "a", F.col("b").alias("c"), F.col("db").alias("dc")
    )
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tris = wedges.join(closing, ["b", "c"])
    return (
        tris.select(
            F.explode(F.array("a", "b", "c")).alias("node_id")
        )
        .groupBy("node_id")
        .agg(F.count("*").cast("long").alias("n_tri"))
        .orderBy("node_id")
    )


def _triangle_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
ue AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM cand WHERE dst <> src
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM ue e1
  JOIN ue e2 ON e1.v = e2.u
  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node_id, CAST(count(*) AS BIGINT) AS n_tri
FROM (SELECT unnest([x, y, z]) AS node_id FROM tri)
GROUP BY node_id ORDER BY node_id
"""


ML_QUERIES["triangle_count"] = (triangle_count, _triangle_sql())


# --------------------------------------------------------------------------
# Per-domain quota sampling (late-r5 extension) — the crawl-curation
# counterpart of stratified_sample: cap each registered domain's
# contribution to the training mix at DOMAIN_CAP documents, keeping the
# highest-quality ones (quality proxy: n_chars desc, doc_id tiebreak).
# Every web-scale corpus does this (C4, RefinedWeb, FineWeb all cap
# per-domain mass) because crawl frequency is a power law: without a
# cap the top domains drown the tail.
# Scale shape — the skew IS the point here: a naive
# row_number() OVER (PARTITION BY domain) must shuffle-sort every row
# of the biggest domain into one task. The engine instead runs the
# SALTED TWO-PHASE top-K (same family as salted_heavy_hitters): phase 1
# ranks within (domain, doc_id % SALT) — 8-way parallel per domain —
# and keeps at most SALT*CAP candidate rows per domain; only those
# survivors enter the phase-2 per-domain ranking, so the final
# per-domain sort touches <= SALT*CAP rows no matter how hot the
# domain. Both phases are codegen windows; correctness is exact (any
# global top-CAP row is top-CAP within its salt bucket). The oracle is
# the naive single window.
# --------------------------------------------------------------------------

DOMAIN_CAP = 5
_DC_SALT = 8


def domain_cap_sample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    domain = F.concat(F.col("source"), F.lit("."), _url_tld(F.col("source")))
    d = docs.select(domain.alias("domain"), "doc_id", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    w1 = W.partitionBy(F.col("domain"), F.col("doc_id") % _DC_SALT).orderBy(
        *order
    )
    cand = (
        d.withColumn("rk1", F.row_number().over(w1))
        .where(F.col("rk1") <= DOMAIN_CAP)
        .drop("rk1")
    )
    w2 = W.partitionBy("domain").orderBy(*order)
    return (
        cand.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= DOMAIN_CAP)
        .select(
            "domain",
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "n_chars",
        )
        .orderBy("domain", "rk")
    )


DOMAIN_CAP_SQL = f"""
WITH d AS (
  SELECT concat(source, '.',
           CASE CAST(concat('0x', substr(md5(concat('tld:', source)), 1, 15))
                     AS BIGINT) % 3
             WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END) AS domain,
         doc_id, n_chars
  FROM documents
),
r AS (
  SELECT domain, doc_id, n_chars,
         row_number() OVER (PARTITION BY domain
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM d
)
SELECT domain, doc_id, CAST(rk AS INT) AS rk, n_chars
FROM r WHERE rk <= {DOMAIN_CAP}
ORDER BY domain, rk
"""

ML_QUERIES["domain_cap_sample"] = (domain_cap_sample, DOMAIN_CAP_SQL)


# --------------------------------------------------------------------------
# Weighted sampling without replacement (late-r5 extension) — pick K
# documents with probability increasing in a weight column (here
# n_chars: long documents carry more training signal per row). The
# textbook one-pass algorithm is Efraimidis–Spirakis (priority
# -ln(u)/w, keep the K smallest), which composes with ANY partitioning:
# each partition keeps its local K best, the global K is the best of
# the locals — exactly Spark's TakeOrderedAndProject physical op, so
# the corpus is never shuffled and never globally sorted.
# The engine keeps the E–S *shape* but replaces the float exponential
# key with an EXACT INTEGER priority u DIV w (u = md5 uniform in
# [0, 2^60), w = weight): monotone in u, decreasing in w, and — the
# lesson of the r4 differential-fuzz campaign (zero-vector ANN, Q1
# rounding boundary) — bit-identical in Spark and DuckDB, where
# -ln(u)/w can flip the K-th rank at a double ULP. The exponential-
# clock distribution is approximated, not exact (documented trade; on
# a real cluster where replay isn't bit-audited, swap the priority
# expression for -ln(u)/w and keep the identical plan).
# --------------------------------------------------------------------------

WEIGHTED_K = 50


def weighted_sample(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "wt", F.greatest(F.col("n_chars").cast("long"), F.lit(1))
        )
        .withColumn("u", _md5_long("ws:", F.col("doc_id")))
        .withColumn("priority", F.expr("u DIV wt"))
        .select("doc_id", "wt", "priority")
        .orderBy("priority", "doc_id")
        .limit(WEIGHTED_K)
    )


WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id,
       greatest(CAST(n_chars AS BIGINT), 1) AS wt,
       CAST(concat('0x', substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))),
                   1, 15)) AS BIGINT)
         // greatest(CAST(n_chars AS BIGINT), 1) AS priority
FROM documents
ORDER BY priority, doc_id
LIMIT {WEIGHTED_K}
"""

ML_QUERIES["weighted_sample"] = (weighted_sample, WEIGHTED_SAMPLE_SQL)


# --------------------------------------------------------------------------
# Collocation mining (late-r5 extension) — rank adjacent word pairs by
# pointwise association: lift = P(xy) / (P(x·) * P(·y)) over the bigram
# table, the quantity whose log is PMI. Tokenizer-vocabulary curation
# uses exactly this surface (merge candidates for BPE/unigram-LM seed
# vocabularies; multi-word-expression detection for quality filters).
# Determinism note: log() adds nothing to the RANKING (log is
# monotone) but adds a float rank-flip hazard at the top-K boundary —
# the r4 fuzz campaign's recurring bug class — so the engine scores
# with the EXACT INTEGER parts-per-million lift c_xy*N*10^6 DIV
# (c_x*c_y), bit-identical in Spark and DuckDB.
# Scale shape: explode -> two map-side-combinable aggs (bigram counts,
# then the two marginals, each tiny vs the corpus) -> two equi-joins on
# word keys + one broadcast of the 1-row total -> TakeOrdered top-K.
# The corpus is scanned once; everything after the first groupBy is
# vocabulary-sized.
# --------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOPK = 30


def pmi_collocations(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.split(F.col("text"), " ").alias("ws"))
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ws, 1, size(ws) - 1), "
                    "(x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    cnt = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    lx = cnt.groupBy("w1").agg(F.sum("c").alias("cx"))
    ly = cnt.groupBy("w2").agg(F.sum("c").alias("cy"))
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        cnt.join(lx, "w1")
        .join(ly, "w2")
        .crossJoin(F.broadcast(tot))
        .where(F.col("c") >= PMI_MIN_COUNT)
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c_xy"),
            F.expr("c * n * 1000000 DIV (cx * cy)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "w1", "w2")
        .limit(PMI_TOPK)
    )


PMI_SQL = f"""
WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
pairs AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) r
  WHERE w[i] <> '' AND w[i + 1] <> ''
),
cnt AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2),
tot AS (SELECT sum(c) AS n FROM cnt),
lx AS (SELECT w1, sum(c) AS cx FROM cnt GROUP BY 1),
ly AS (SELECT w2, sum(c) AS cy FROM cnt GROUP BY 1)
SELECT w1, w2, CAST(c AS BIGINT) AS c_xy,
       CAST(c * n * 1000000 // (cx * cy) AS BIGINT) AS lift_ppm
FROM cnt JOIN lx USING (w1) JOIN ly USING (w2), tot
WHERE c >= {PMI_MIN_COUNT}
ORDER BY lift_ppm DESC, w1, w2
LIMIT {PMI_TOPK}
"""

ML_QUERIES["pmi_collocations"] = (pmi_collocations, PMI_SQL)


# --------------------------------------------------------------------------
# Phrase search via a positional inverted index (late-r5 extension) —
# exact "w1 w2" adjacency matching, the operator under quoted-query
# retrieval and under contamination checks that need POSITIONS (the
# n-gram decontaminators match bags; a phrase match is ordered). Two
# deliberately different algorithms:
#   engine: tokenize once into (doc_id, term, pos) postings, PRUNE the
#     postings to the query vocabulary BEFORE any join (the filter is
#     the inverted-index seek — only postings of query terms survive
#     the scan), broadcast the phrase table onto the w1 postings, then
#     one equi-join (doc_id, term, pos+1) against the w2 postings.
#     Shuffle volume is O(postings of query terms), never the corpus.
#   oracle: direct per-document array scan (w[i]=w1 AND w[i+1]=w2) —
#     the brute-force reference.
# Overlap semantics: counts every starting position ("a a a" has two
# "a a" hits), which substring-replace counting gets wrong.
# --------------------------------------------------------------------------

PHRASES = [("slow", "hash"), ("window", "fast"), ("row", "column")]


def phrase_search(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    vocab = sorted({w for p in PHRASES for w in p})
    idx = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
        )
        .where(F.col("term").isin(*vocab))
    )
    ph = F.broadcast(
        spark.createDataFrame(
            [(f"{a} {b}", a, b) for a, b in PHRASES],
            "phrase string, w1 string, w2 string",
        )
    )
    first = idx.join(ph, idx.term == ph.w1).select(
        "phrase", "doc_id", "pos", "w2"
    )
    second = idx.select(
        F.col("doc_id").alias("d2"),
        F.col("term").alias("t2"),
        F.col("pos").alias("p2"),
    )
    return (
        first.join(
            second,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("w2") == F.col("t2"))
            & (F.col("p2") == F.col("pos") + 1),
        )
        .groupBy("phrase", "doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .orderBy("phrase", "doc_id")
    )


def _phrase_sql() -> str:
    vals = ", ".join(f"('{a} {b}', '{a}', '{b}')" for a, b in PHRASES)
    return f"""
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ph AS (SELECT * FROM (VALUES {vals}) AS v(phrase, w1, w2)),
hits AS (
  SELECT p.phrase, ws.doc_id
  FROM ws, LATERAL (SELECT unnest(range(1, len(w))) AS i) r, ph p
  WHERE w[i] = p.w1 AND w[i + 1] = p.w2
)
SELECT phrase, doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM hits GROUP BY 1, 2 ORDER BY phrase, doc_id
"""


ML_QUERIES["phrase_search"] = (phrase_search, _phrase_sql())


# --------------------------------------------------------------------------
# Table statistics profile (late-r5 extension) — ANALYZE TABLE's working
# core: per-column row count, EXACT distinct count, null count, min /
# max, and the heaviest value's frequency (the skew number that decides
# salting and broadcast thresholds; the engine's own salted ops assume
# someone measured it). Naive form is one agg with K countDistinct()s,
# which Catalyst expands into K separate shuffles of the full table.
# The engine instead MELTS the K profiled columns into (col, val) pairs
# — a codegen explode, no Python — and runs ONE two-phase aggregation:
# groupBy(col, val) with map-side combine collapses the x-K fan-out to
# distinct values per partition, and the per-column rollup over that
# (distinct-values-sized) frame yields every statistic at once. K
# columns profiled = 2 shuffles total, independent of K.
# --------------------------------------------------------------------------

PROFILE_COLS = ["l_linenumber", "l_orderkey", "l_partkey", "l_suppkey"]


def table_profile(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    melted = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("long").alias("val"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.col", "kv.val")
    per_val = melted.groupBy("col", "val").agg(F.count("*").alias("c"))
    return (
        per_val.groupBy("col")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.when(F.col("val").isNotNull(), 1))
            .cast("long")
            .alias("n_distinct"),
            F.coalesce(
                F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
            )
            .cast("long")
            .alias("n_nulls"),
            F.min("val").alias("min_val"),
            F.max("val").alias("max_val"),
            F.max("c").cast("long").alias("max_freq"),
        )
        .orderBy("col")
    )


def _table_profile_sql() -> str:
    melt = " UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS BIGINT) AS val FROM lineitem"
        for c in PROFILE_COLS
    )
    return f"""
WITH m AS ({melt}),
pv AS (SELECT col, val, count(*) AS c FROM m GROUP BY 1, 2)
SELECT col, CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
         AS n_distinct,
       CAST(coalesce(sum(CASE WHEN val IS NULL THEN c END), 0) AS BIGINT)
         AS n_nulls,
       min(val) AS min_val, max(val) AS max_val,
       CAST(max(c) AS BIGINT) AS max_freq
FROM pv GROUP BY col ORDER BY col
"""


ML_QUERIES["table_profile"] = (table_profile, _table_profile_sql())


# --------------------------------------------------------------------------
# Exact set-similarity JOIN via prefix filtering (late-r5 extension) —
# the AllPairs / SSJoin family (Bayardo et al. WWW'07; Chaudhuri et al.
# ICDE'06): match a PROBE table of corrupted documents against the
# corpus at shingle-Jaccard >= tau with ZERO false negatives — the
# record-linkage counterpart of dedup (dedup asks "which rows repeat",
# linkage asks "which rows of THAT table are these"). MinHash-LSH is
# probabilistic (recall < 1 by construction); prefix filtering is the
# exact alternative: under ANY fixed global element order, two sets
# with J >= tau MUST share an element inside each other's first
# |s| - ceil(tau*|s|) + 1 elements, so joining the two tables' PREFIX
# elements only is a complete candidate generator. Sets are 3-word
# shingles (the corpus's single-token sets all overlap heavily — a
# 40-word vocabulary makes token Jaccard non-discriminative; shingles
# restore separation: planted pairs ~0.8, random pairs ~0). Probe
# synthesis: every doc_id % 7 == 0 document reappears (id + 300000)
# with ~20% of its shingles md5-dropped.
# Scale shape: the prefix join is an equi-join on the shingle key whose
# inputs are PREFIX shingles only (a tau-controlled fraction of each
# set); verification rebuilds shingle sets ONLY for candidate ids
# (broadcast semi-join prune, same pattern as the LSH verifier) and
# thresholds on the EXACT INTEGER cross-product inter*DEN >= union*NUM
# — no float boundary at tau. Global order here is md5(shingle); at
# production scale use ascending document frequency (rarest-first),
# which minimizes candidate counts — same plan, different sort key.
# --------------------------------------------------------------------------

FUZZY_TAU_NUM, FUZZY_TAU_DEN = 3, 5  # tau = 0.6
_FJ_PROBE_OFFSET = 300000


def _fj_shingles(docs, id_alias):
    return (
        docs.select(
            F.col("doc_id").alias(id_alias),
            F.explode(word_shingles(F.col("text"), 3)).alias("tok"),
        )
        .where(F.col("tok") != "")
    )


def _fj_prefix(tokdf, idc):
    wsz = W.partitionBy(idc)
    wrn = W.partitionBy(idc).orderBy(md5_long(F.col("tok")), F.col("tok"))
    return (
        tokdf.withColumn("sz", F.count("*").over(wsz))
        .withColumn("rn", F.row_number().over(wrn))
        .where(
            F.expr(
                f"rn <= sz - (({FUZZY_TAU_NUM} * sz + {FUZZY_TAU_DEN - 1}) "
                f"DIV {FUZZY_TAU_DEN}) + 1"
            )
        )
        .select(idc, "tok")
    )


def fuzzy_join_shingles(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ltok = _fj_shingles(docs, "lid")
    drop = md5_long(
        F.concat(
            F.lit("fj:drop:"), F.col("rid").cast("string"), F.lit(":"),
            F.col("tok"),
        )
    )
    rtok = (
        _fj_shingles(docs.where(F.col("doc_id") % 7 == 0), "rid")
        .where(drop % 5 != 0)
        .select((F.col("rid") + _FJ_PROBE_OFFSET).alias("rid"), "tok")
    )
    cand = (
        _fj_prefix(ltok, "lid")
        .join(_fj_prefix(rtok, "rid"), "tok")
        .select("lid", "rid")
        .distinct()
    )
    lsets = (
        ltok.join(F.broadcast(cand.select("lid").distinct()), "lid", "left_semi")
        .groupBy("lid")
        .agg(F.collect_set("tok").alias("lt"))
    )
    rsets = rtok.groupBy("rid").agg(F.collect_set("tok").alias("rt"))
    return (
        cand.join(lsets, "lid")
        .join(rsets, "rid")
        .withColumn("inter", F.size(F.array_intersect("lt", "rt")))
        .withColumn("un", F.size(F.array_union("lt", "rt")))
        .where(
            F.col("inter") * FUZZY_TAU_DEN >= F.col("un") * FUZZY_TAU_NUM
        )
        .select(
            "lid",
            "rid",
            F.round(F.col("inter") / F.col("un"), 4).alias("jaccard"),
        )
        .orderBy("lid", "rid")
    )


def _fuzzy_join_sql() -> str:
    h = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"
    plen = (
        f"sz - (({FUZZY_TAU_NUM} * sz + {FUZZY_TAU_DEN - 1}) "
        f"// {FUZZY_TAU_DEN}) + 1"
    )

    def pre(src, idc):
        return f"""
  SELECT {idc}, tok FROM (
    SELECT {idc}, tok,
      row_number() OVER (PARTITION BY {idc}
                         ORDER BY {h.format(x='tok')}, tok) AS rn,
      count(*) OVER (PARTITION BY {idc}) AS sz
    FROM {src}
  ) WHERE rn <= {plen}"""

    drop_h = h.format(
        x="concat('fj:drop:', CAST(doc_id AS VARCHAR), ':', tok)"
    )
    probe_src = f"({_shingle_sql(3)} WHERE doc_id % 7 = 0)"
    return f"""
WITH lsh AS ({_shingle_sql(3)}),
ltok AS (
  SELECT lid, tok FROM (
    SELECT doc_id AS lid, unnest(sh) AS tok FROM lsh
  ) WHERE tok <> ''
),
rsh AS (SELECT doc_id, sh FROM {probe_src}),
rtok AS (
  SELECT doc_id + {_FJ_PROBE_OFFSET} AS rid, tok FROM (
    SELECT doc_id, unnest(sh) AS tok FROM rsh
  ) WHERE tok <> '' AND {drop_h} % 5 <> 0
),
lpre AS ({pre('ltok', 'lid')}),
rpre AS ({pre('rtok', 'rid')}),
cand AS (SELECT DISTINCT lid, rid FROM lpre JOIN rpre USING (tok)),
lsets AS (SELECT lid, list(tok) AS lt FROM ltok GROUP BY lid),
rsets AS (SELECT rid, list(tok) AS rt FROM rtok GROUP BY rid),
v AS (
  SELECT lid, rid,
         len(list_intersect(lt, rt)) AS inter,
         len(list_distinct(lt || rt)) AS un
  FROM cand JOIN lsets USING (lid) JOIN rsets USING (rid)
)
SELECT lid, rid, round(CAST(inter AS DOUBLE) / un, 4) AS jaccard
FROM v WHERE inter * {FUZZY_TAU_DEN} >= un * {FUZZY_TAU_NUM}
ORDER BY lid, rid
"""


ML_QUERIES["fuzzy_join_shingles"] = (fuzzy_join_shingles, _fuzzy_join_sql())


# --------------------------------------------------------------------------
# k-core decomposition (late-r5 extension) — the graph-cleaning peel:
# repeatedly delete nodes of degree < k until the remaining subgraph
# (the k-core) is stable. Link-graph curation uses it ahead of
# PageRank/HITS (peel the low-degree fringe that contributes noise
# mass) and it is the third member of this engine's iterative-graph
# family (pagerank_links: fixed-point power iteration; dedup_clusters:
# min-label propagation; k_core: monotone peeling).
# Each fixpoint() round is a degree filter: one map-side-combinable
# degree agg + two LEFT SEMI joins pruning the edge list. The DuckDB
# oracle unrolls exactly _KCORE_MAX_ROUNDS rounds: peeling is monotone,
# so post-convergence rounds are no-ops and the unrolled replay equals
# the early-stopped engine.
# --------------------------------------------------------------------------

KCORE_K = 4
# Round cap: sf tables converge in <= 6 rounds, but the differential
# fuzzer's hostile small graphs peel much deeper (measured max 18 for
# every synthesized size n < 130 — tiny random graphs at avg degree
# ~5.6 peel to empty one layer at a time). 24 gives margin; the raise
# below keeps the guard loud if a future corpus exceeds it, which the
# fuzzer proved is the failure mode that actually happens.
_KCORE_MAX_ROUNDS = 24


def _edge_degrees(edges):
    return (
        edges.select(F.col("u").alias("id"))
        .unionAll(edges.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("d"))
    )


def k_core(spark, sf_dir, k: int = KCORE_K):
    def peel(edges):
        keep = _edge_degrees(edges).where(F.col("d") >= k).select("id")
        return (
            edges.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
            .select("u", "v")
        )

    # the edge list is distinct, and semi-join filters keep it so
    edges = fixpoint(
        _link_edges_undirected(spark, sf_dir), peel, "k_core", _KCORE_MAX_ROUNDS
    )
    return (
        _edge_degrees(edges)
        .select(F.col("id").alias("node_id"), F.col("d").cast("long").alias("core_deg"))
        .orderBy("node_id")
    )


def _k_core_sql(k: int = KCORE_K) -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    # every e{r} is referenced three times by round r+1 (FROM + the two
    # IN probes via d{r}); DuckDB inlines plain CTEs, which would expand
    # the 8-round unroll exponentially — MATERIALIZED pins each round to
    # one evaluation.
    parts = [
        f"WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM cand WHERE dst <> src)"
    ]
    for r in range(_KCORE_MAX_ROUNDS):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT id, count(*) AS d FROM "
            f"(SELECT u AS id FROM e{r} UNION ALL SELECT v FROM e{r}) "
            f"GROUP BY id)"
        )
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT u, v FROM e{r} "
            f"WHERE u IN (SELECT id FROM d{r} WHERE d >= {k}) "
            f"AND v IN (SELECT id FROM d{r} WHERE d >= {k}))"
        )
    last = f"e{_KCORE_MAX_ROUNDS}"
    return (
        ", ".join(parts)
        + f" SELECT id AS node_id, CAST(count(*) AS BIGINT) AS core_deg "
        f"FROM (SELECT u AS id FROM {last} UNION ALL SELECT v FROM {last}) "
        "GROUP BY id ORDER BY node_id"
    )


ML_QUERIES["k_core"] = (k_core, _k_core_sql())


# --------------------------------------------------------------------------
# Snapshot diff (late-r5 extension) — the lakehouse audit primitive:
# given two snapshots of the same table, emit exactly the delta
# (added / removed / changed row keys). This is what validates an
# ingestion rerun, a CDC replay (cdc_apply's output vs the previous
# snapshot), or a migration backfill at 10^12 rows. Snapshot B is
# synthesized from documents: doc_id % 11 == 0 deleted, % 13 == 0
# edited (text suffix), % 17 == 5 re-inserted under doc_id + 400000
# with a new source (deletes win over edits where both apply).
# Scale shape: ONE full-outer shuffle join on the key with both sides
# reduced to (key, fingerprint) BEFORE the shuffle — the md5 row
# fingerprint collapses arbitrarily wide rows to 16 bytes, so the
# shuffle moves keys + hashes, never payloads; only the delta is
# emitted. On bucketed/Z-ordered snapshots the join is co-located and
# shuffle-free (zorder_layout is the companion op).
# --------------------------------------------------------------------------


def _doc_fingerprint_expr():
    return F.md5(F.concat_ws("|", "text", "lang", "source"))


def snapshot_diff(spark, sf_dir):
    a = t(spark, sf_dir, "documents")
    b_mod = a.where(F.col("doc_id") % 11 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        ).otherwise(F.col("text")),
    )
    b_new = a.where(F.col("doc_id") % 17 == 5).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        "text",
        "lang",
        F.lit("newsrc").alias("source"),
        "n_chars",
    )
    b = b_mod.unionByName(b_new)
    fa = a.select("doc_id", _doc_fingerprint_expr().alias("fpa"))
    fb = b.select("doc_id", _doc_fingerprint_expr().alias("fpb"))
    status = (
        F.when(F.col("fpb").isNull(), "removed")
        .when(F.col("fpa").isNull(), "added")
        .when(F.col("fpa") != F.col("fpb"), "changed")
    )
    return (
        fa.join(fb, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .where(F.col("status").isNotNull())
        .orderBy("doc_id")
    )


SNAPSHOT_DIFF_SQL = """
WITH a AS (SELECT doc_id, md5(concat_ws('|', text, lang, source)) AS fpa
           FROM documents),
b_rows AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN concat(text, ' [edited]')
              ELSE text END AS text,
         lang, source
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 400000, text, lang, 'newsrc' FROM documents
  WHERE doc_id % 17 = 5
),
b AS (SELECT doc_id, md5(concat_ws('|', text, lang, source)) AS fpb
      FROM b_rows)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN fpb IS NULL THEN 'removed'
            WHEN fpa IS NULL THEN 'added'
            WHEN fpa <> fpb THEN 'changed' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE (CASE WHEN fpb IS NULL THEN 'removed'
            WHEN fpa IS NULL THEN 'added'
            WHEN fpa <> fpb THEN 'changed' END) IS NOT NULL
ORDER BY doc_id
"""

ML_QUERIES["snapshot_diff"] = (snapshot_diff, SNAPSHOT_DIFF_SQL)


# --------------------------------------------------------------------------
# Per-source quality calibration (late-r5 extension) — a raw quality
# score is not comparable ACROSS sources (a mid-tier academic page
# outscores a top-tier forum post on absolute features), so web-scale
# curation thresholds the PER-SOURCE percentile, not the raw score:
# keep each source's top X%. The engine emits the percent-rank as the
# EXACT INTEGER ppm (rank-1) * 10^6 DIV (n-1) — percent_rank()'s exact
# rational, avoiding the float window function whose equality-at-a-
# threshold behavior is the usual rank-flip hazard (n == 1 pins to 0).
# Quality proxy is n_chars with doc_id tiebreak (total order -> ranks
# are deterministic).
# Scale shape: one window per source key — same hash shuffle the final
# per-source filter needs anyway; rank arithmetic is codegen.
# --------------------------------------------------------------------------


def quality_calibrate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(W.partitionBy("source")))
        .select(
            "doc_id",
            "source",
            F.expr(
                "CASE WHEN n = 1 THEN CAST(0 AS BIGINT) "
                "ELSE (rk - 1) * 1000000 DIV (n - 1) END"
            ).alias("pr_ppm"),
        )
        .orderBy("doc_id")
    )


QUALITY_CALIBRATE_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
            ELSE CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) END AS pr_ppm
FROM r ORDER BY doc_id
"""

ML_QUERIES["quality_calibrate"] = (quality_calibrate, QUALITY_CALIBRATE_SQL)


# --------------------------------------------------------------------------
# N-gram novelty (late-r5 extension) — the inverse of common_passages:
# for each document, the fraction of its distinct 3-shingles that occur
# in NO other document (document frequency 1). Low novelty = boilerplate
# assembled from corpus-common fragments (memorization/duplication
# risk); high novelty = fresh text. CCNet-style pipelines use exactly
# this signal next to paragraph dedup.
# Scale shape: one shingle explode -> df count (shuffle keyed on the
# shingle hash — at 10^12 docs, hash the shingle to int64 first so the
# shuffle moves 8-byte keys) -> join back on shingle -> per-doc agg.
# The df table is the same intermediate the common-passages and
# decontamination ops build; a production pipeline computes it once.
# The ratio is the exact integer ppm unique*10^6 DIV total.
# --------------------------------------------------------------------------


def ngram_novelty(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("g")
    ).where(F.col("g") != "")
    df_tab = sh.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    return (
        sh.join(df_tab, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            F.expr("n_unique * 1000000 DIV n_shingles").alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


def _ngram_novelty_sql() -> str:
    return f"""
WITH shg AS ({_shingle_sql(3)}),
sh AS (
  SELECT doc_id, g FROM (SELECT doc_id, unnest(sh) AS g FROM shg)
  WHERE g <> ''
),
df_tab AS (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g),
agg AS (
  SELECT doc_id, count(*) AS n_shingles,
         sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM sh JOIN df_tab USING (g) GROUP BY doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_unique * 1000000 // n_shingles AS BIGINT) AS novelty_ppm
FROM agg ORDER BY doc_id
"""


ML_QUERIES["ngram_novelty"] = (ngram_novelty, _ngram_novelty_sql())


# --------------------------------------------------------------------------
# Interval-overlap JOIN (final-r5 extension). span_interval_merge unions
# intervals WITHIN one annotation set; the other half of span algebra is
# joining TWO interval sets per document — e.g. PII spans x layout
# blocks ("which blocks must be masked"), OCR-region boxes x paragraph
# spans, quality spans x chunk boundaries. The naive plan is a per-doc
# theta join (doc equality + overlap predicate), which Spark executes as
# an equi-join on doc_id with the overlap as a residual filter — fine
# until ONE monster doc carries 10^5 annotations (10^10 residual pairs
# on a single key). Scale design here:
#   - both sides explode to fixed-width position buckets (width G), so
#     the join key is (doc_id, bucket): a monster doc's spans spread
#     over its position axis instead of piling on one shuffle key —
#     the same armor salting gives the cascade, but deterministic and
#     semantic (bucket = position DIV G);
#   - an interval pair that overlaps in several buckets would duplicate,
#     so each pair is COUNTED ONLY in the bucket containing the overlap
#     start (greatest(a_s, b_s) DIV G == bucket). Both intervals always
#     explode that bucket (the overlap start lies inside both), so this
#     dedupes exactly WITHOUT a distinct — no second shuffle;
#   - per-pair math (overlap length) is pure codegen; the final per-doc
#     agg is one partial-agg tree.
# The oracle is deliberately the NAIVE DuckDB range join (doc equality +
# s < e predicates) over identical md5-synthesized intervals — an
# independent check that the bucket/dedup algebra reports every
# overlapping pair exactly once.
# --------------------------------------------------------------------------

_OVL_G = 128  # bucket width (chars)
_OVL_KA = 4  # annotation spans per doc
_OVL_KB = 3  # layout blocks per doc


def _ovl_side(docs, tag: str, k: int, base_len: int, len_mod: int):
    return docs.select(
        "doc_id",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
    ).select(
        "doc_id",
        F.col("j").alias(f"{tag}_id"),
        (
            _md5_long(f"ovl{tag}S:", F.concat_ws(":", "doc_id", "j")) % 1000
        ).alias(f"{tag}_s"),
        (
            base_len
            + _md5_long(f"ovl{tag}L:", F.concat_ws(":", "doc_id", "j"))
            % len_mod
        ).alias("ln"),
    ).select(
        "doc_id",
        f"{tag}_id",
        f"{tag}_s",
        (F.col(f"{tag}_s") + F.col("ln")).alias(f"{tag}_e"),
    )


def _ovl_buckets(side, tag: str):
    return side.select(
        "doc_id",
        f"{tag}_id",
        f"{tag}_s",
        f"{tag}_e",
        F.explode(
            F.sequence(
                F.expr(f"{tag}_s DIV {_OVL_G}"),
                F.expr(f"({tag}_e - 1) DIV {_OVL_G}"),
            )
        ).alias("bucket"),
    )


def interval_overlap_join(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    a = _ovl_buckets(_ovl_side(docs, "a", _OVL_KA, 10, 120), "a")
    b = _ovl_buckets(_ovl_side(docs, "b", _OVL_KB, 30, 200), "b")
    pairs = a.join(b, ["doc_id", "bucket"]).where(
        (F.col("a_s") < F.col("b_e"))
        & (F.col("b_s") < F.col("a_e"))
        & (
            F.expr(f"greatest(a_s, b_s) DIV {_OVL_G}") == F.col("bucket")
        )
    )
    return (
        pairs.select(
            "doc_id",
            (
                F.least("a_e", "b_e") - F.greatest("a_s", "b_s")
            ).alias("ov"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("ov").cast("long").alias("overlap_chars"),
            F.max("ov").cast("long").alias("max_overlap"),
        )
        .orderBy("doc_id")
    )


def _ovl_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}', "
            f"CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) "
            f"AS BIGINT)"
        )

    return f"""
WITH a AS (
  SELECT doc_id, {h('ovlaS:')} % 1000 AS a_s,
         {h('ovlaS:')} % 1000 + 10 + {h('ovlaL:')} % 120 AS a_e
  FROM documents, range({_OVL_KA}) r(j)
),
b AS (
  SELECT doc_id, {h('ovlbS:')} % 1000 AS b_s,
         {h('ovlbS:')} % 1000 + 30 + {h('ovlbL:')} % 200 AS b_e
  FROM documents, range({_OVL_KB}) r(j)
),
pairs AS (
  SELECT a.doc_id,
         least(a_e, b_e) - greatest(a_s, b_s) AS ov
  FROM a JOIN b ON a.doc_id = b.doc_id
                AND a_s < b_e AND b_s < a_e
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ov) AS BIGINT) AS overlap_chars,
       CAST(max(ov) AS BIGINT) AS max_overlap
FROM pairs GROUP BY doc_id ORDER BY doc_id
"""


ML_QUERIES["interval_overlap_join"] = (interval_overlap_join, _ovl_sql())


# --------------------------------------------------------------------------
# Multimodal perceptual-hash near-dup (final-r5 extension). The dedup
# family covers text (exact/MinHash/SimHash/substring/paragraph) and
# embeddings (cosine buckets, SemDeDup); the interleaved corpus's MEDIA
# spans need their own near-dup — re-encoded/resized copies of one image
# share a perceptual hash within a few bits. Pipeline shape:
#   decode -> 60-bit pHash  : Arrow-batched mapInPandas over the opaque
#                             binary payload (real DCT-hash behind the
#                             DECODE_AVAILABLE gate, same contract as
#                             multimodal_features/resize; the fake path
#                             plants md5-derived duplicate groups so
#                             near-pairs EXIST deterministically);
#   banding                 : 4 bands x 15 bits — pigeonhole guarantees
#                             any pair within Hamming <= 3 shares >= 1
#                             band, so recall at the tau=3 threshold is
#                             EXACT, not probabilistic;
#   bucket self-join        : equi-join on (band_idx, band_val) with
#                             a_id < b_id — candidates are bucket-local,
#                             never an all-pairs cross join;
#   verify                  : bit_count(xor) <= tau in codegen; the
#                             groupBy dedupes multi-band candidate hits
#                             (candidate-sized, not corpus-sized).
# The oracle is the NAIVE all-pairs DuckDB join at the same threshold —
# an independent check of the pigeonhole recall guarantee (tau < bands).
# Planted pairs sit at Hamming <= 2; random cross-group 60-bit hashes
# collide within 3 bits with p ~ 3e-14 — no flaky oracle rows at any sf.
# NOTE the in-query self-join evaluates the mapInPandas stage once per
# branch (plan-asserted: 2 MapInPandas) — harmless here, but at 10^12
# media spans the DECODE is the expensive stage, so production runs it
# once and MATERIALIZES the (media_ref, phash) table (decode amortized
# across every downstream consumer); the banding join below then reads
# the 16-byte-per-row hash table, not the corpus.
# --------------------------------------------------------------------------

_PHASH_BITS = 60
_PHASH_BANDS = 4
_PHASH_BAND_BITS = 15  # 4 x 15 = 60
_PHASH_TAU = 3  # < _PHASH_BANDS, so banding recall is exact
_PHASH_GROUPS = 16
_PHASH_DOCS = 400

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)


def _phash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if DECODE_AVAILABLE:  # pragma: no cover
            # real path: decode + 8x8 DCT low-band sign hash (pHash);
            # _decode_real raises loudly until an image lib exists
            hashes = [_decode_real(bytes(b)) for b in pdf["payload"]]
        else:
            # deterministic fake decode: duplicate GROUPS keyed off
            # doc_id (group base hash; half the members get one md5-
            # derived bit flip) so near-pairs exist and DuckDB can
            # replay the construction exactly
            hashes = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                h = _md5_int15("ph:" + str(d % _PHASH_GROUPS))
                if (d // _PHASH_GROUPS) % 2 == 1:
                    h ^= 1 << (_md5_int15("phb:" + str(d)) % _PHASH_BITS)
                hashes.append(h)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "phash": pd.Series(hashes, dtype="int64"),
            }
        )


def multimodal_phash_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < _PHASH_DOCS)
    media = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    ph = media.repartition(8, "doc_id").mapInPandas(
        _phash_batches, schema=PHASH_SCHEMA
    )
    bands = ph.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("phash", _PHASH_BAND_BITS * i)
                        .bitwiseAND(F.lit((1 << _PHASH_BAND_BITS) - 1))
                        .alias("band_val"),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "phash", "b.band_idx", "b.band_val")
    a = bands.select(
        F.col("doc_id").alias("a_id"),
        F.col("phash").alias("a_ph"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"),
        F.col("phash").alias("b_ph"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "a_ph", "b_ph")
        .agg(F.count("*").alias("_nbands"))
    )
    return (
        cand.select(
            "a_id",
            "b_id",
            F.bit_count(
                F.col("a_ph").bitwiseXOR(F.col("b_ph"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= _PHASH_TAU)
        .orderBy("a_id", "b_id")
    )


def _phash_sql() -> str:
    base = (
        "CAST(concat('0x', substr(md5(concat('ph:', "
        f"CAST(doc_id % {_PHASH_GROUPS} AS VARCHAR))), 1, 15)) AS BIGINT)"
    )
    flipbit = (
        "CAST(concat('0x', substr(md5(concat('phb:', "
        "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) "
        f"% {_PHASH_BITS}"
    )
    return f"""
WITH ph AS (
  SELECT doc_id,
         CASE WHEN (doc_id // {_PHASH_GROUPS}) % 2 = 1
              THEN xor({base}, CAST(1 AS BIGINT) << CAST({flipbit} AS INT))
              ELSE {base} END AS phash
  FROM documents WHERE doc_id < {_PHASH_DOCS}
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_TAU}
ORDER BY a_id, b_id
"""


ML_QUERIES["multimodal_phash_dedup"] = (multimodal_phash_dedup, _phash_sql())


# --------------------------------------------------------------------------
# HITS hubs & authorities (final-r5 extension). The second classic
# iterative link-analysis prior next to pagerank_links — mutually
# recursive: auth(v) = sum of hub over in-links, hub(u) = sum of auth
# over out-links, each side L1-normalized per round. Differences from
# PageRank that make it a distinct capability: TWO coupled score
# vectors, NO teleport/dangling mass, and a normalization step instead
# of a stochastic update.
# Scale/determinism design:
#   - scores are integer micropoints (x * SCALE DIV total) — the L1
#     normalization is an integer floor division, so results are
#     bit-identical under any partitioning/retry order (no float
#     summation anywhere), the module's pagerank/picopoint idiom;
#   - each half-round is one equi-join (edges x scores) + one partial-
#     agg tree; the L1 total is a 1-row broadcast crossJoin — NO
#     driver-side collect in the loop (unlike k-means, HITS needs no
#     model scalars at all; the only scalar is the node count used by
#     the md5 edge synthesis, shared with pagerank_links);
#   - empty-graph guard: DIV greatest(total, 1) keeps hostile 1-doc
#     fuzz corpora (all self-loops -> zero edges) NULL-free.
# Oracle: full 2-iteration CTE unroll in DuckDB (HUGEINT sums cast back
# to BIGINT at every normalize — same values as Spark's long algebra).
# --------------------------------------------------------------------------

_HITS_SCALE = 1_000_000
_HITS_ITERS = 2


def hits_scores(spark, sf_dir, n_iters: int = _HITS_ITERS):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = _md5_links(docs, n, "ht", drop_dangling=False).distinct()
    ids = docs.select(F.col("doc_id").alias("id"))
    hub = ids.select("id", F.lit(_HITS_SCALE).cast("long").alias("h"))
    auth = None
    norm = f"coalesce(raw, CAST(0 AS BIGINT)) * {_HITS_SCALE} DIV greatest(tot, CAST(1 AS BIGINT))"
    for _ in range(n_iters):
        araw = (
            edges.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("raw"))
        )
        atot = araw.agg(
            F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("tot")
        )
        auth = (
            ids.join(araw, F.col("id") == F.col("dst"), "left")
            .crossJoin(F.broadcast(atot))
            .select("id", F.expr(norm).alias("a"))
        )
        hraw = (
            edges.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("raw"))
        )
        htot = hraw.agg(
            F.coalesce(F.sum("raw"), F.lit(0)).cast("long").alias("tot")
        )
        hub = (
            ids.join(hraw, F.col("id") == F.col("src"), "left")
            .crossJoin(F.broadcast(htot))
            .select("id", F.expr(norm).alias("h"))
        )
    return (
        hub.join(
            auth.select(F.col("id").alias("id2"), "a"),
            F.col("id") == F.col("id2"),
        )
        .select(
            F.col("id").alias("node_id"),
            F.col("h").alias("hub_fp"),
            F.col("a").alias("auth_fp"),
        )
        .orderBy("node_id")
    )


def _hits_sql(n_iters: int = _HITS_ITERS) -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('ht{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt"
        for j in range(3)
    )
    norm = (
        f"CAST(coalesce(raw, 0) * {_HITS_SCALE} "
        "// greatest(tot, 1) AS BIGINT)"
    )
    parts = [
        "WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "edges AS (SELECT DISTINCT src, dst FROM cand WHERE dst <> src), "
        f"h0 AS (SELECT doc_id AS id, CAST({_HITS_SCALE} AS BIGINT) AS h "
        "FROM documents)"
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"a{k}raw AS (SELECT dst, sum(h) AS raw FROM edges "
            f"JOIN h{k - 1} ON h{k - 1}.id = edges.src GROUP BY dst)"
        )
        parts.append(
            f"a{k}tot AS (SELECT CAST(coalesce(sum(raw), 0) AS BIGINT) "
            f"AS tot FROM a{k}raw)"
        )
        parts.append(
            f"a{k} AS (SELECT d.doc_id AS id, {norm} AS a "
            f"FROM documents d LEFT JOIN a{k}raw ON d.doc_id = a{k}raw.dst, "
            f"a{k}tot)"
        )
        parts.append(
            f"h{k}raw AS (SELECT src, sum(a) AS raw FROM edges "
            f"JOIN a{k} ON a{k}.id = edges.dst GROUP BY src)"
        )
        parts.append(
            f"h{k}tot AS (SELECT CAST(coalesce(sum(raw), 0) AS BIGINT) "
            f"AS tot FROM h{k}raw)"
        )
        parts.append(
            f"h{k} AS (SELECT d.doc_id AS id, {norm} AS h "
            f"FROM documents d LEFT JOIN h{k}raw ON d.doc_id = h{k}raw.src, "
            f"h{k}tot)"
        )
    return (
        ", ".join(parts)
        + f" SELECT h{n_iters}.id AS node_id, h{n_iters}.h AS hub_fp, "
        f"a{n_iters}.a AS auth_fp "
        f"FROM h{n_iters} JOIN a{n_iters} ON h{n_iters}.id = a{n_iters}.id "
        "ORDER BY node_id"
    )


ML_QUERIES["hits_scores"] = (hits_scores, _hits_sql())


# --------------------------------------------------------------------------
# Pareto frontier / skyline (final-r5 extension). Multi-objective doc
# selection: keep documents not DOMINATED on (quality, coverage) — a
# point is dominated if another is >= on both axes and > on one. The
# curation use: pick the quality-vs-novelty frontier instead of a
# single weighted score.
# Scale design — skyline without a dominance self-join:
#   - scores are md5-synthesized integers in a BOUNDED domain [0, 1000)
#     (real pipelines quantize quality scores exactly like this);
#   - per-x pre-aggregation: only the max-y point per x can survive
#     (same x, higher y dominates); max(struct(y, -doc_id)) picks it
#     tie-deterministically in one partial-agg tree — the shuffle
#     carries <= |x-domain| rows per partition, never the corpus;
#   - the frontier test is then ONE running-max window over the x-desc
#     ordered per-x rows: keep y > max(y) of all strictly-larger x.
#     The window is global but runs over a DOMAIN-BOUNDED (<= 1000 row)
#     pre-aggregated frame — the module's post-agg-window rule.
# The oracle is the NAIVE quadratic NOT EXISTS dominance test — a
# genuinely different algorithm, so the window/pre-agg reduction is
# independently checked, including the tie classes (equal x, equal y
# across different x, duplicate (x, y) points).
# --------------------------------------------------------------------------


def pareto_frontier(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    pts = docs.select(
        "doc_id",
        (_md5_long("paX:", F.col("doc_id")) % 1000).alias("x"),
        (_md5_long("paY:", F.col("doc_id")) % 1000).alias("y"),
    )
    perx = (
        pts.groupBy("x")
        .agg(
            F.max(
                F.struct(F.col("y"), (-F.col("doc_id")).alias("nd"))
            ).alias("m")
        )
        .select(
            "x",
            F.col("m.y").alias("y"),
            (-F.col("m.nd")).alias("doc_id"),
        )
    )
    w = W.orderBy(F.desc("x")).rowsBetween(W.unboundedPreceding, -1)
    prev_max = F.max("y").over(w)
    return (
        perx.withColumn("pm", prev_max)
        .where(F.col("pm").isNull() | (F.col("y") > F.col("pm")))
        .select("doc_id", "x", "y")
        .orderBy(F.desc("x"))
    )


def _pareto_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000"
        )

    return f"""
WITH pts AS (
  SELECT doc_id, {h('paX:')} AS x, {h('paY:')} AS y FROM documents
),
nd AS (SELECT x, y, min(doc_id) AS doc_id FROM pts GROUP BY x, y)
SELECT d.doc_id, d.x, d.y
FROM nd d
WHERE NOT EXISTS (
  SELECT 1 FROM nd e
  WHERE e.x >= d.x AND e.y >= d.y AND (e.x > d.x OR e.y > d.y)
)
ORDER BY d.x DESC
"""


ML_QUERIES["pareto_frontier"] = (pareto_frontier, _pareto_sql())


# --------------------------------------------------------------------------
# Thread-root resolution by pointer doubling (final-r5 extension).
# Conversation/citation data arrives as (id, parent_id) reply chains;
# training pipelines need every node's thread ROOT and DEPTH (to
# assemble threads and cap context windows). Naive per-hop iteration
# walks depth d in d joins; POINTER DOUBLING (Wyllie's algorithm, the
# classic PRAM list-ranking primitive) squares the resolved distance
# every round — depth d needs ceil(log2 d) self-joins, the only way a
# 10^4-deep chain is tractable on a cluster.
#   - each round is ONE equi self-join on ptr = id: ptr' = ptr[ptr],
#     dist' = dist + dist[ptr]; roots are absorbing (ptr = self,
#     dist = 0), so converged rows never change;
#   - the join is LEFT so a pointer to a node absent from the corpus
#     (hostile fuzz corpora) is absorbing too, never row-dropping;
#   - fixpoint() runs the rounds; round cap 12 (= depth 4096).
# Parent synthesis: id % 7 == 0 (and id <= 0) are roots; otherwise
# parent = md5 % id, STRICTLY smaller — acyclic by construction (a
# random recursive forest, max depth ~ e*ln n, far under 4096).
# Oracle: DuckDB WITH RECURSIVE walks every chain hop-by-hop — a
# different algorithm (linear walk vs doubling), independently checking
# both root identity and the additive depth algebra.
# --------------------------------------------------------------------------

_THREAD_MAX_ROUNDS = 12

_THREAD_PARENT_EXPR = (
    "CASE WHEN doc_id % 7 = 0 OR doc_id <= 0 THEN doc_id "
    "ELSE CAST(conv(substring(md5(concat('th:', CAST(doc_id AS STRING))), "
    "1, 15), 16, 10) AS BIGINT) % greatest(doc_id, CAST(1 AS BIGINT)) END"
)


def thread_roots(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    cur = docs.selectExpr(
        "doc_id AS id",
        f"{_THREAD_PARENT_EXPR} AS ptr",
    ).select(
        "id",
        "ptr",
        F.when(F.col("ptr") == F.col("id"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("dist"),
    )

    def double(cur):
        nxt = cur.select(
            F.col("id").alias("jid"),
            F.col("ptr").alias("jptr"),
            F.col("dist").alias("jdist"),
        )
        return cur.join(nxt, cur["ptr"] == nxt["jid"], "left").select(
            "id",
            F.coalesce("jptr", "ptr").alias("ptr"),
            (F.col("dist") + F.coalesce("jdist", F.lit(0))).alias("dist"),
        )

    # keyed by id (doc_id is the documents key, and the LEFT join on the
    # key keeps one row per id)
    cur = fixpoint(cur, double, "thread_roots", _THREAD_MAX_ROUNDS)
    return (
        cur.select(
            F.col("id").alias("doc_id"),
            F.col("ptr").alias("root_id"),
            F.col("dist").alias("depth"),
        )
        .orderBy("doc_id")
    )


def _thread_roots_sql() -> str:
    parent = (
        "CASE WHEN doc_id % 7 = 0 OR doc_id <= 0 THEN doc_id "
        "ELSE CAST(concat('0x', substr(md5(concat('th:', "
        "CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) "
        "% greatest(doc_id, 1) END"
    )
    return f"""
WITH RECURSIVE nodes AS (
  SELECT doc_id AS id, CAST({parent} AS BIGINT) AS parent FROM documents
),
walk AS (
  SELECT id, id AS cur, CAST(0 AS BIGINT) AS depth FROM nodes
  UNION ALL
  SELECT w.id, n.parent AS cur, w.depth + 1
  FROM walk w JOIN nodes n ON w.cur = n.id
  WHERE n.parent <> w.cur
)
SELECT id AS doc_id, cur AS root_id, depth
FROM walk
QUALIFY row_number() OVER (PARTITION BY id ORDER BY depth DESC) = 1
ORDER BY doc_id
"""


ML_QUERIES["thread_roots"] = (thread_roots, _thread_roots_sql())


# --------------------------------------------------------------------------
# Mutual-best pair mining (final-r5 extension). Bitext / parallel-pair
# mining (Artetxe & Schwenk's margin family, the mutual-kNN special
# case): align two embedding corpora by keeping (a, b) only when b is
# a's best match AND a is b's best match — the standard
# translation-pair / duplicate-page miner. Here side A = even vec_id,
# side B = odd vec_id (two "languages"), both capped to vec_id < 80 so
# the demo scores 40x40 pairs.
# Scale design: the pair scores are computed ONCE and serve BOTH
# directions — forward best = row_number over a, backward best =
# row_number over b (two windows on the one scored frame; the second
# window is one re-shuffle of top-k-sized data after AQE). The mutual
# filter is an equi-join of two rank-1 frames (match-count-sized, not
# pair-sized). At 10^12 vectors the brute-force scorer is replaced by
# the module's IVF/ADC candidate legs per side; the mutual-filter
# algebra downstream is unchanged. Ties break on candidate id, so the
# rank-1 picks are deterministic in both engines.
# --------------------------------------------------------------------------

_MBP_CAP = 80


def mutual_best_pairs(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < _MBP_CAP)
    a = emb.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("a_vec"),
    )
    b = emb.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("b_vec"),
    )
    scored = a.crossJoin(F.broadcast(b)).select(
        "a_id", "b_id", cosine(F.col("a_vec"), F.col("b_vec")).alias("cos_raw")
    )
    wf = W.partitionBy("a_id").orderBy(F.desc("cos_raw"), "b_id")
    wb = W.partitionBy("b_id").orderBy(F.desc("cos_raw"), "a_id")
    fwd = (
        scored.withColumn("rk", F.row_number().over(wf))
        .where(F.col("rk") == 1)
        .select("a_id", "b_id", "cos_raw")
    )
    bwd = (
        scored.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select(
            F.col("a_id").alias("ba_id"), F.col("b_id").alias("bb_id")
        )
    )
    return (
        fwd.join(
            bwd,
            (F.col("a_id") == F.col("ba_id"))
            & (F.col("b_id") == F.col("bb_id")),
        )
        .select("a_id", "b_id", F.round("cos_raw", 4).alias("cos"))
        .orderBy("a_id")
    )


MUTUAL_BEST_SQL = f"""
WITH a AS (
  SELECT vec_id AS a_id, embedding::DOUBLE[] AS a_vec FROM embeddings
  WHERE vec_id < {_MBP_CAP} AND vec_id % 2 = 0
),
b AS (
  SELECT vec_id AS b_id, embedding::DOUBLE[] AS b_vec FROM embeddings
  WHERE vec_id < {_MBP_CAP} AND vec_id % 2 = 1
),
scored AS (
  SELECT a_id, b_id,
         CASE WHEN list_dot_product(a_vec, a_vec) > 0
               AND list_dot_product(b_vec, b_vec) > 0
              THEN list_dot_product(a_vec, b_vec)
                   / (sqrt(list_dot_product(a_vec, a_vec))
                      * sqrt(list_dot_product(b_vec, b_vec)))
              ELSE 0.0 END AS cos_raw
  FROM a, b
),
fwd AS (
  SELECT a_id, b_id, cos_raw FROM scored
  QUALIFY row_number() OVER (PARTITION BY a_id
                             ORDER BY cos_raw DESC, b_id) = 1
),
bwd AS (
  SELECT a_id, b_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY b_id
                             ORDER BY cos_raw DESC, a_id) = 1
)
SELECT f.a_id, f.b_id, round(f.cos_raw, 4) AS cos
FROM fwd f JOIN bwd USING (a_id, b_id)
ORDER BY f.a_id
"""


ML_QUERIES["mutual_best_pairs"] = (mutual_best_pairs, MUTUAL_BEST_SQL)


# --------------------------------------------------------------------------
# k-anonymity generalization cascade (final-r5 extension). Privacy
# release prep for training corpora: an equivalence class over the
# quasi-identifiers (lang, source, length-bucket) may only be released
# if it holds >= K documents. Classes below K are NOT just dropped —
# the standard mechanism GENERALIZES up a hierarchy first:
#   level 0: (lang, source, len DIV 200)  — full precision;
#   level 1: (lang, source, *)            — bucket generalized away;
#   level 2: (*, *, *)                    — remainder suppressed.
# Each level re-groups ONLY the remainder of the previous level, so a
# doc is counted exactly once at the coarsest level that first clears
# K. Three partial-agg trees (level-0 keys, level-1 keys, 1-row
# suppression count) — the remainder join keys are group-count-sized
# and broadcast; the corpus is scanned once per level at most, and at
# 10^12 docs levels 1-2 run over the level-0 LOSERS only (a small
# fraction when K << class sizes).
# Oracle: identical cascade in CTEs. Output is the released-class
# table (quasi values with '*' at generalized positions, level, n).
# --------------------------------------------------------------------------

_KANON_K = 5


def k_anonymity_generalize(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("length(text) DIV 200").alias("lb"),
    )
    g0 = docs.groupBy("lang", "source", "lb").agg(
        F.count("*").cast("long").alias("n")
    )
    ok0 = g0.where(F.col("n") >= _KANON_K).select(
        "lang",
        "source",
        F.col("lb").cast("string").alias("len_bucket"),
        F.lit(0).alias("level"),
        "n",
    )
    losers0 = g0.where(F.col("n") < _KANON_K).select("lang", "source", "lb")
    rem = docs.join(F.broadcast(losers0), ["lang", "source", "lb"])
    g1 = rem.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n")
    )
    ok1 = g1.where(F.col("n") >= _KANON_K).select(
        "lang",
        "source",
        F.lit("*").alias("len_bucket"),
        F.lit(1).alias("level"),
        "n",
    )
    losers1 = g1.where(F.col("n") < _KANON_K).select("lang", "source")
    supp = (
        rem.join(F.broadcast(losers1), ["lang", "source"])
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.col("n") > 0)
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            F.lit("*").alias("len_bucket"),
            F.lit(2).alias("level"),
            "n",
        )
    )
    return ok0.unionByName(ok1).unionByName(supp).orderBy(
        "level", "lang", "source", "len_bucket"
    )


K_ANON_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, length(text) // 200 AS lb FROM documents
),
g0 AS (SELECT lang, source, lb, count(*) AS n FROM d GROUP BY ALL),
ok0 AS (
  SELECT lang, source, CAST(lb AS VARCHAR) AS len_bucket, 0 AS level,
         CAST(n AS BIGINT) AS n
  FROM g0 WHERE n >= {_KANON_K}
),
rem AS (
  SELECT d.* FROM d
  JOIN g0 ON d.lang = g0.lang AND d.source = g0.source AND d.lb = g0.lb
  WHERE g0.n < {_KANON_K}
),
g1 AS (SELECT lang, source, count(*) AS n FROM rem GROUP BY ALL),
ok1 AS (
  SELECT lang, source, '*' AS len_bucket, 1 AS level, CAST(n AS BIGINT) AS n
  FROM g1 WHERE n >= {_KANON_K}
),
supp AS (
  SELECT '*' AS lang, '*' AS source, '*' AS len_bucket, 2 AS level,
         CAST(count(*) AS BIGINT) AS n
  FROM rem
  JOIN g1 ON rem.lang = g1.lang AND rem.source = g1.source
  WHERE g1.n < {_KANON_K}
  HAVING count(*) > 0
)
SELECT * FROM ok0 UNION ALL SELECT * FROM ok1 UNION ALL SELECT * FROM supp
ORDER BY level, lang, source, len_bucket
"""


ML_QUERIES["k_anonymity_generalize"] = (k_anonymity_generalize, K_ANON_SQL)


# --------------------------------------------------------------------------
# Greedy k-center selection / farthest-point sampling (final-r5
# extension). Diverse-subset selection for data curation (coreset
# seeding, eval-set picking, k-means++-style spread inits): start from
# the lowest vec_id, then K-1 times pick the vector FARTHEST from the
# selected set (max over candidates of min cosine-distance to any
# selected vector; ties break on vec_id). The greedy rule is the
# classic 2-approximation for the k-center objective.
# Scale shape: each round is ONE corpus scan — the selected set is
# K-sized MODEL STATE (the k-means-centroid audit class), carried as
# literal vectors into a least()-of-cosine expression, so the scan is
# pure codegen and the per-round driver traffic is a single row. At
# 10^12 vectors the argmax is TakeOrdered(1); selected ids are
# excluded via a K-sized isin literal, never a join. Candidates
# already selected are excluded in BOTH engines so an all-duplicates
# (all-zero-distance) hostile corpus still selects K distinct ids.
# Oracle: full K-1-round CTE unroll (min-dist per candidate against
# the materialized selected set, argmax by (md DESC, vec_id)).
# --------------------------------------------------------------------------

_KC_K = 6
_KC_CAP = 200


def kcenter_select(spark, sf_dir):
    emb = (
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < _KC_CAP)
        .select(
            "vec_id",
            F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("v"),
        )
    )
    seed = emb.orderBy("vec_id").limit(1).collect()
    out_rows = []
    sel_vecs = []
    sel_ids = []
    if seed:
        sel_ids.append(seed[0].vec_id)
        sel_vecs.append([float(x) for x in seed[0].v])
        out_rows.append((0, seed[0].vec_id, None))
    for rnd in range(1, _KC_K):
        if not sel_vecs:
            break
        dists = [
            F.lit(1.0) - cosine_to_literal(F.col("v"), sv)
            for sv in sel_vecs
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        pick = (
            emb.where(~F.col("vec_id").isin(sel_ids))
            .select("vec_id", "v", mind.alias("md"))
            .orderBy(F.desc("md"), "vec_id")
            .limit(1)
            .collect()
        )
        if not pick:
            break
        sel_ids.append(pick[0].vec_id)
        sel_vecs.append([float(x) for x in pick[0].v])
        out_rows.append((rnd, pick[0].vec_id, round(pick[0].md, 4)))
    return spark.createDataFrame(
        out_rows, "round int, vec_id bigint, min_dist double"
    ).orderBy("round")


def _kcenter_sql() -> str:
    def dist(a: str, b: str) -> str:
        return (
            f"1 - CASE WHEN list_dot_product({a}.v, {a}.v) > 0 "
            f"AND list_dot_product({b}.v, {b}.v) > 0 "
            f"THEN list_dot_product({a}.v, {b}.v) "
            f"/ (sqrt(list_dot_product({a}.v, {a}.v)) "
            f"* sqrt(list_dot_product({b}.v, {b}.v))) ELSE 0.0 END"
        )

    parts = [
        f"WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v "
        f"FROM embeddings WHERE vec_id < {_KC_CAP}), "
        "sel0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)"
    ]
    finals = [
        "SELECT 0 AS round, vec_id, CAST(NULL AS DOUBLE) AS min_dist "
        "FROM sel0"
    ]
    for r in range(1, _KC_K):
        parts.append(
            f"m{r} AS (SELECT e.vec_id, min({dist('e', 's')}) AS md "
            f"FROM e, sel{r - 1} s "
            f"WHERE e.vec_id NOT IN (SELECT vec_id FROM sel{r - 1}) "
            "GROUP BY e.vec_id)"
        )
        parts.append(
            f"p{r} AS (SELECT m{r}.vec_id, e.v, md FROM m{r} "
            f"JOIN e USING (vec_id) ORDER BY md DESC, m{r}.vec_id LIMIT 1)"
        )
        parts.append(
            f"sel{r} AS (SELECT vec_id, v FROM sel{r - 1} "
            f"UNION ALL SELECT vec_id, v FROM p{r})"
        )
        finals.append(
            f"SELECT {r} AS round, vec_id, round(md, 4) AS min_dist "
            f"FROM p{r}"
        )
    return (
        ", ".join(parts)
        + " SELECT * FROM ("
        + " UNION ALL ".join(finals)
        + ") ORDER BY round"
    )


ML_QUERIES["kcenter_select"] = (kcenter_select, _kcenter_sql())


# --------------------------------------------------------------------------
# Isotonic probability calibration, PAV (final-r5 extension). Quality-
# classifier scores drive keep/drop decisions; raw scores are not
# probabilities, and the standard fix is isotonic regression — fit the
# best NONDECREASING step function of empirical label rates over score
# buckets (pool-adjacent-violators). The curation use: calibrated
# P(high-quality | score) thresholds transfer across domains; raw
# score thresholds do not.
# Scale shape: the corpus contributes ONE partial-agg tree (per-bucket
# n and positive counts — the shuffle carries |bucket-domain| rows per
# partition); PAV then runs on the BUCKET DOMAIN (~40 rows) as driver
# model state (the k-means/kcenter audit class) and rejoins as a
# broadcast. All arithmetic is exact: violation tests cross-multiply
# integer (sum, count) pairs — no float means anywhere — and the
# calibrated outputs are integer ppm (pooled_pos * 10^6 DIV pooled_n),
# so the fit is bit-identical under any partitioning/retry.
# Pooling rule: merge only on STRICT violation (prev mean > cur mean);
# equal-mean neighbors stay separate blocks (same calibrated values).
# Oracle: the exact PAV stack replayed in a DuckDB recursive CTE
# carrying (S, N, E) list state — one recursion step either PUSHES the
# next bucket or MERGES the top two blocks (the pack_shards_bfd list-
# state pattern); pytest adds a pure-Python third implementation and
# the monotonicity / block-mean-preservation invariants.
# --------------------------------------------------------------------------

_ISO_BUCKETS = 40


def isotonic_calibrate(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    b_col = _md5_long("isoS:", F.col("doc_id")) % _ISO_BUCKETS
    scored = docs.select(
        b_col.alias("b"),
        (
            (_md5_long("isoL:", F.col("doc_id")) % 100)
            < (F.lit(10) + b_col * 2)
        )
        .cast("long")
        .alias("y"),
    )
    agg = scored.groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    stats = sorted(agg.collect(), key=lambda r: r.b)
    blocks = []  # [pooled_pos, pooled_n, [buckets]]
    for r in stats:
        blocks.append([r.pos, r.n, [r.b]])
        while (
            len(blocks) >= 2
            and blocks[-2][0] * blocks[-1][1]
            > blocks[-1][0] * blocks[-2][1]
        ):
            s2, n2, bs2 = blocks.pop()
            blocks[-1][0] += s2
            blocks[-1][1] += n2
            blocks[-1][2].extend(bs2)
    cal_rows = [
        (int(b), int(s * 1_000_000 // n))
        for s, n, bs in blocks
        for b in bs
    ]
    if not cal_rows:
        return spark.createDataFrame(
            [], "b long, n long, pos long, cal_ppm long"
        )
    cal = spark.createDataFrame(cal_rows, "b long, cal_ppm long")
    return (
        agg.join(F.broadcast(cal), "b")
        .select("b", "n", "pos", "cal_ppm")
        .orderBy("b")
    )


def _isotonic_sql() -> str:
    def h(tag: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{tag}', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"
        )

    L = "len(r.S)"
    viol = (
        f"({L} >= 2 AND r.S[{L} - 1] * r.N[{L}] > r.S[{L}] * r.N[{L} - 1])"
    )
    return f"""
WITH RECURSIVE d AS (
  SELECT doc_id, {h('isoS:')} % {_ISO_BUCKETS} AS b,
         CASE WHEN {h('isoL:')} % 100
                   < 10 + ({h('isoS:')} % {_ISO_BUCKETS}) * 2
              THEN 1 ELSE 0 END AS y
  FROM documents
),
agg AS (SELECT b, count(*) AS n, sum(y) AS pos FROM d GROUP BY b),
items AS (
  SELECT b, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
         row_number() OVER (ORDER BY b) AS rn
  FROM agg
),
cnt AS (SELECT count(*) AS c FROM items),
rec AS (
  SELECT CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS S,
         CAST([] AS BIGINT[]) AS N, CAST([] AS BIGINT[]) AS E
  UNION ALL
  SELECT CASE WHEN {viol} THEN r.i ELSE r.i + 1 END,
         CASE WHEN {viol}
              THEN list_append(r.S[1:{L} - 2], r.S[{L} - 1] + r.S[{L}])
              ELSE list_append(r.S, it.pos) END,
         CASE WHEN {viol}
              THEN list_append(r.N[1:{L} - 2], r.N[{L} - 1] + r.N[{L}])
              ELSE list_append(r.N, it.n) END,
         CASE WHEN {viol}
              THEN list_append(r.E[1:{L} - 2], r.E[{L}])
              ELSE list_append(r.E, r.i + 1) END
  FROM rec r LEFT JOIN items it ON it.rn = r.i + 1, cnt
  WHERE {viol} OR r.i < cnt.c
),
fin AS (
  SELECT r.S, r.N, r.E FROM rec r, cnt
  WHERE r.i = cnt.c AND NOT {viol.replace('r.S', 'r.S').replace('r.N', 'r.N')}
),
blocks AS (
  SELECT S[j] AS bs, N[j] AS bn,
         CASE WHEN j = 1 THEN 0 ELSE E[j - 1] END AS rn_lo, E[j] AS rn_hi
  FROM fin, unnest(range(1, len(E) + 1)) AS u(j)
)
SELECT it.b, it.n, it.pos, bl.bs * 1000000 // bl.bn AS cal_ppm
FROM items it JOIN blocks bl ON it.rn > bl.rn_lo AND it.rn <= bl.rn_hi
ORDER BY it.b
"""


ML_QUERIES["isotonic_calibrate"] = (isotonic_calibrate, _isotonic_sql())


# --------------------------------------------------------------------------
# Multi-source BFS levels (final-r5 extension). The last classic graph
# primitive next to pagerank/HITS/CC/k-core/triangles: hop distance
# from a seed SET (here: every doc with doc_id % 13 == 0 — "trusted
# seed pages") over the shared undirected link graph. Web curation
# uses exactly this as a link-distance quality prior (TrustRank-style
# seed proximity); it is also the building block for diameter and
# reachability audits.
# Scale shape — level-synchronous frontier expansion:
#   - each round is ONE equi-join (edges x frontier) + distinct +
#     LEFT ANTI against the settled level table: the join touches only
#     edges incident to the CURRENT frontier (the rows at the round's
#     previous level), and the frontier shrinks once the wave passes —
#     the standard BSP BFS;
#   - the level table is the fixpoint() state: a round that adds no node
#     leaves it unchanged, which ends the loop; the level comes from the
#     step's own round counter, so no round collects a scalar;
#   - unreached nodes are reported with lvl = -1 (re-anchored on the
#     documents frame, so md5 ghost destinations never surface);
#   - round cap 32 — the oracle's depth bound (32) only has to cover
#     what the engine proves reachable.
# Oracle: recursive-CTE shortest path with UNION dedup (cycle-safe),
# min(lvl) per node — a different algorithm (path enumeration vs
# frontier waves).
# --------------------------------------------------------------------------

_BFS_MAX_ROUNDS = 32
_BFS_SEED_MOD = 13


def bfs_levels(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    und = _link_edges_undirected(spark, sf_dir)
    sym = und.selectExpr("u AS a", "v AS b").unionAll(
        und.selectExpr("v AS a", "u AS b")
    ).localCheckpoint()
    seeds = docs.where(F.col("doc_id") % _BFS_SEED_MOD == 0).select(
        F.col("doc_id").alias("id")
    )
    levels = seeds.select("id", F.lit(0).cast("long").alias("lvl"))
    rounds = itertools.count(1)

    def expand(levels):
        k = next(rounds)
        frontier = levels.where(F.col("lvl") == k - 1).select(
            F.col("id").alias("a")
        )
        nxt = (
            sym.join(frontier, "a")
            .select(F.col("b").alias("id"))
            .distinct()
            .join(levels, "id", "left_anti")
        )
        return levels.unionAll(nxt.select("id", F.lit(k).cast("long").alias("lvl")))

    # keyed by id: the seeds are distinct doc_ids, and each round adds
    # distinct ids that are not in the table yet
    levels = fixpoint(levels, expand, "bfs_levels", _BFS_MAX_ROUNDS)
    return (
        docs.join(levels, docs["doc_id"] == levels["id"], "left")
        .select(
            F.col("doc_id").alias("node_id"),
            F.coalesce("lvl", F.lit(-1)).cast("long").alias("lvl"),
        )
        .orderBy("node_id")
    )


def _bfs_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    return f"""
WITH RECURSIVE cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
dir AS (SELECT DISTINCT src, dst FROM cand WHERE dst <> src),
edges AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v FROM dir
),
sym AS (
  SELECT u AS a, v AS b FROM edges UNION ALL SELECT v, u FROM edges
),
walk AS (
  SELECT doc_id AS id, 0 AS lvl FROM documents
  WHERE doc_id % {_BFS_SEED_MOD} = 0
  UNION
  SELECT s.b, w.lvl + 1 FROM walk w JOIN sym s ON s.a = w.id
  WHERE w.lvl < {_BFS_MAX_ROUNDS}
),
lv AS (SELECT id, min(lvl) AS lvl FROM walk GROUP BY id)
SELECT d.doc_id AS node_id, CAST(coalesce(lv.lvl, -1) AS BIGINT) AS lvl
FROM documents d LEFT JOIN lv ON d.doc_id = lv.id
ORDER BY node_id
"""


ML_QUERIES["bfs_levels"] = (bfs_levels, _bfs_sql())


# --------------------------------------------------------------------------
# Content-defined chunk dedup (final-r5 extension). Fixed-offset
# chunking breaks under INSERTION (every later chunk shifts); the
# rsync/FastCDC family cuts at CONTENT-defined positions — here: after
# byte i when md5 of the trailing 8-byte window lands in a 1/64 target
# class — so an edit changes only the chunk it touches. This is the
# backup/CAS dedup primitive, and for training corpora the
# shift-resistant complement of paragraph/substring dedup (binary and
# media payloads included: the window hash reads opaque bytes).
# Scale shape — NO Python anywhere:
#   - the per-position window hash is a codegen explode (positions x
#     md5(substr)): the fan-out is len(text) rows per doc, all
#     map-side, collapsed back per doc in the SAME stage by the
#     collect_list aggregation (one doc_id hash shuffle);
#   - chunk extraction = sorted cut array -> posexplode -> substr
#     (pure codegen); chunk identity = md5(chunk);
#   - cross-doc dedup is ONE groupBy(chunk_hash) counting distinct
#     docs — the shuffle carries 16-byte hashes, never chunk bodies;
#   - per-doc output: chunk count, shared-chunk count, shared bytes —
#     a join back on the hash table (chunk-count-sized).
# At 10^12 docs the chunk-hash table is the materialized CAS index;
# re-chunking touches only changed docs (the anti-join resume pattern).
# Oracle: DuckDB replays the identical window-hash cut rule, island
# grouping, and dedup counts.
# --------------------------------------------------------------------------

_CDC_WIN = 8  # trailing window bytes
_CDC_MOD = 64  # 1/64 cut probability -> ~64-byte expected chunks
_CDC_DOCS = 200


def content_chunk_dedup(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _CDC_DOCS)
        .select("doc_id", "text")
        .where(F.length("text") >= _CDC_WIN)
    )
    # cut AFTER byte i (1-based, i >= _CDC_WIN) when the trailing
    # window hash lands in class 0; len(text) is always a cut so the
    # tail forms a chunk
    pos = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(_CDC_WIN), F.length("text"))
        ).alias("i"),
    )
    cuts = pos.where(
        (
            md5_long(F.substring(F.col("text"), F.col("i") - _CDC_WIN + 1, _CDC_WIN))
            % _CDC_MOD
            == 0
        )
        | (F.col("i") == F.length("text"))
    )
    bounds = cuts.groupBy("doc_id", "text").agg(
        F.array_sort(F.collect_list("i")).alias("ends")
    )
    # chunk starts via lag-free algebra: start_j = ends[j-1] + 1
    chunks = bounds.select(
        "doc_id",
        "text",
        F.posexplode("ends").alias("j", "end"),
        F.col("ends").alias("ends"),
    ).select(
        "doc_id",
        F.col("end"),
        F.when(F.col("j") == 0, F.lit(1))
        .otherwise(F.element_at("ends", F.col("j")) + 1)
        .alias("start"),
        "text",
    ).select(
        "doc_id",
        (F.col("end") - F.col("start") + 1).alias("nbytes"),
        F.md5(
            F.expr("substring(text, start, end - start + 1)")
        ).alias("chash"),
    )
    df_tab = chunks.groupBy("chash").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    return (
        chunks.join(df_tab, "chash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("dfreq") > 1).cast("long")).alias("n_shared"),
            F.sum(
                F.when(F.col("dfreq") > 1, F.col("nbytes")).otherwise(0)
            )
            .cast("long")
            .alias("shared_bytes"),
        )
        .orderBy("doc_id")
    )


def _cdc_sql() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {_CDC_DOCS} AND length(text) >= {_CDC_WIN}
),
pos AS (
  SELECT doc_id, text, CAST(u.i AS BIGINT) AS i
  FROM d, unnest(range({_CDC_WIN}, length(text) + 1)) AS u(i)
),
cuts AS (
  SELECT doc_id, text, i FROM pos
  WHERE CAST(concat('0x', substr(md5(
          substr(text, CAST(i AS INT) - {_CDC_WIN} + 1, {_CDC_WIN})
        ), 1, 15)) AS BIGINT) % {_CDC_MOD} = 0
     OR i = length(text)
),
bounds AS (
  SELECT doc_id, text, list_sort(list(i)) AS ends
  FROM cuts GROUP BY doc_id, text
),
chunks AS (
  SELECT doc_id,
         ends[j] - (CASE WHEN j = 1 THEN 1
                         ELSE ends[j - 1] + 1 END) + 1 AS nbytes,
         md5(substr(text,
             CAST(CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END AS INT),
             CAST(ends[j] - (CASE WHEN j = 1 THEN 1
                                  ELSE ends[j - 1] + 1 END) + 1 AS INT)
         )) AS chash
  FROM bounds, unnest(range(1, len(ends) + 1)) AS u(j)
),
df_tab AS (
  SELECT chash, count(DISTINCT doc_id) AS dfreq FROM chunks GROUP BY chash
)
SELECT c.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN dfreq > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(sum(CASE WHEN dfreq > 1 THEN nbytes ELSE 0 END) AS BIGINT)
         AS shared_bytes
FROM chunks c JOIN df_tab USING (chash)
GROUP BY c.doc_id ORDER BY c.doc_id
"""


ML_QUERIES["content_chunk_dedup"] = (content_chunk_dedup, _cdc_sql())


# --------------------------------------------------------------------------
# Mergeable-sketch family (final-r5 extension): deterministic
# HyperLogLog cardinality. COUNT(DISTINCT key) at 10^12 rows shuffles
# every distinct key to its reducer; the HLL register table is a FIXED
# m-row mergeable summary whose partial aggregate (max per register)
# combines map-side — the shuffle carries at most m rows per group
# regardless of corpus size, and two corpora's sketches merge by
# register-wise max (the union/backfill story). Classic HLL needs
# floats (harmonic mean, alpha, ln in the small-range correction);
# every float here is pinned to exact-integer form so the estimate is
# bit-identical across engines, partitionings, and cluster layouts:
#   - the sum of 2^-rho is scaled by 2^41 (every term is int64);
#   - alpha_1024 ~= 0.72085 is pinned as the rational 721/1000;
#   - the linear-counting branch m*ln(m/V) is a 1024-entry integer
#     lookup table computed ONCE here and interpolated into BOTH
#     engines' plans (V, the empty-register count, has only m values).
# Subject: distinct l_orderkey per l_returnflag (~11k/flag at sf0.01
# exercises the HLL branch; ~1.8k at sf0.001 exercises LC).
# Oracle: DuckDB replays hash -> register -> integer estimator.
# --------------------------------------------------------------------------

import math

_HLL_P = 10
_HLL_M = 1 << _HLL_P  # 1024 registers
_HLL_RMAX = (60 - _HLL_P) + 1  # md5_long is 60-bit; rho in [1, 51]
_HLL_SCALE = 41  # sum of 2^(SCALE-rho) over 1024 registers stays < 2^61
_HLL_ALPHA_NUM, _HLL_ALPHA_DEN = 721, 1000
_HLL_LC_THRESH = 5 * _HLL_M // 2  # raw HLL biased below 2.5m -> LC branch
# m * ln(m / V) for V = 1..m; index 0 is a pad so element_at(arr, V+1)
# (1-based in both engines) reads entry V
_HLL_LC = [0] + [
    round(_HLL_M * math.log(_HLL_M / v)) for v in range(1, _HLL_M + 1)
]


def hll_distinct(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    h = md5_long(F.concat(F.lit("hll:"), F.col("l_orderkey").cast("string")))
    w = F.shiftright(h, _HLL_P)  # h >= 0, arithmetic shift is fine
    # bit length via base-2 string: conv() never emits leading zeros
    # except the literal '0' (DuckDB bin() identical); w = 0 -> 0 bits
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.conv(w, 10, 2)))
    reg = (
        li.select(
            "l_returnflag",
            (h % _HLL_M).alias("b"),
            (F.lit(_HLL_RMAX) - bitlen).cast("long").alias("rho"),
        )
        .groupBy("l_returnflag", "b")
        .agg(F.max("rho").alias("r"))
    )
    term = F.expr(
        f"CASE WHEN r >= {_HLL_SCALE} THEN CAST(1 AS BIGINT) "
        f"ELSE shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - CAST(r AS INT)) END"
    )
    per = reg.groupBy("l_returnflag").agg(
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("n_zero"),
        (
            F.sum(term)
            + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << _HLL_SCALE)
        )
        .cast("long")
        .alias("s_scaled"),
    )
    # est_raw = alpha * m^2 / sum(2^-rho), all-integer: numerator
    # m^2 * 2^SCALE = 2^61 fits int64; inner quotient <= 2^51 so the
    # alpha multiply stays < 2^63. Both engines truncate identically
    # (operands positive).
    num = (_HLL_M * _HLL_M) << _HLL_SCALE
    est_raw = F.expr(
        f"((CAST({num} AS BIGINT) div s_scaled) * {_HLL_ALPHA_NUM}) "
        f"div {_HLL_ALPHA_DEN}"
    )
    lc_arr = F.expr(
        "array(" + ",".join(str(v) for v in _HLL_LC) + ")"
    )
    withraw = per.withColumn("est_raw", est_raw)
    est = (
        F.when(
            (F.col("n_zero") > 0) & (F.col("est_raw") <= _HLL_LC_THRESH),
            F.element_at(lc_arr, (F.col("n_zero") + 1).cast("int")),
        )
        .otherwise(F.col("est_raw"))
        .cast("long")
        .alias("est_distinct")
    )
    return withraw.select(
        "l_returnflag", "n_zero", "s_scaled", est
    ).orderBy("l_returnflag")


def _hll_sql() -> str:
    lc = "[" + ",".join(str(v) for v in _HLL_LC) + "]"
    num = (_HLL_M * _HLL_M) << _HLL_SCALE
    return f"""
WITH h AS (
  SELECT l_returnflag,
         CAST(concat('0x', substr(md5(concat('hll:',
           CAST(l_orderkey AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
  FROM lineitem
),
reg AS (
  SELECT l_returnflag, hv % {_HLL_M} AS b,
         max({_HLL_RMAX} - length(ltrim(bin(hv // {_HLL_M}), '0'))) AS r
  FROM h GROUP BY l_returnflag, hv % {_HLL_M}
),
per AS (
  SELECT l_returnflag,
         CAST({_HLL_M} - count(*) AS BIGINT) AS n_zero,
         CAST(sum(CASE WHEN r >= {_HLL_SCALE} THEN 1
                       ELSE (CAST(1 AS BIGINT) << ({_HLL_SCALE} - r)) END)
              + ({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_SCALE})
              AS BIGINT) AS s_scaled
  FROM reg GROUP BY l_returnflag
),
est AS (
  SELECT *,
         ((CAST({num} AS BIGINT) // s_scaled) * {_HLL_ALPHA_NUM})
           // {_HLL_ALPHA_DEN} AS est_raw
  FROM per
)
SELECT l_returnflag, n_zero, s_scaled,
       CAST(CASE WHEN n_zero > 0 AND est_raw <= {_HLL_LC_THRESH}
            THEN ({lc})[CAST(n_zero + 1 AS INT)]
            ELSE est_raw END AS BIGINT) AS est_distinct
FROM est ORDER BY l_returnflag
"""


ML_QUERIES["hll_distinct"] = (hll_distinct, _hll_sql())


# --------------------------------------------------------------------------
# Count-Min sketch + heavy hitters (final-r5 extension). The CMS is the
# second mergeable sketch: a d x w counter grid where counter (j, c)
# sums the counts of every item with hash_j(item) = c. It is a pure
# SUM — partial-aggregable map-side, mergeable by cell-wise addition —
# and point-estimates any item's frequency as min_j counter(j, h_j):
# always >= the true count (collisions only ADD), so thresholding on
# the estimate has NO false negatives — the property that makes it the
# streaming/sharded heavy-hitter primitive. Subject: token bigrams of
# the document corpus (916 distinct at sf0.01 vs w=512 -> real
# collisions, real overestimates). The output carries the exact count
# next to the estimate so the test (and a user) can see both the
# guarantee and the collision inflation. Scale shape: the grid build is
# one explode(d)/groupBy over (j, c) — at 10^12 tokens each map task
# emits at most d*w=2048 partial cells; candidate scoring broadcasts
# the 2048-row grid (plan-asserted), never shuffling the corpus. The
# exact-count candidate table is the sf-scale verifier; on a real
# 100 TB run you'd feed candidates from per-shard local top-k instead
# (the grid's no-false-negative filter still applies).
# Oracle: DuckDB replays grid, min-estimate, and threshold.
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 512
_CMS_PHI_DEN = 640  # heavy = cms_est >= total_bigrams div 640


def _cms_cells(col):
    """The d (row, column) pairs of a bigram, identical literals in
    both engines: hash_j = md5('cms{j}:' || bg) mod w."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (
                        md5_long(F.concat(F.lit(f"cms{j}:"), col)) % _CMS_W
                    ).alias("c"),
                )
                for j in range(_CMS_D)
            ]
        )
    )


def cms_heavy_hitters(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), " ").alias("ts")
    )
    bg = docs.select(
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, size(ts) - 1), "
                "slice(ts, 2, size(ts) - 1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg")
    )
    exact = bg.groupBy("bg").agg(F.count("*").cast("long").alias("exact_cnt"))
    # The grid from the raw stream would explode d rows per OCCURRENCE;
    # since this query materializes the exact (bg, count) table anyway
    # (it is the candidate set AND the truth column), the identical grid
    # falls out of a d-per-DISTINCT explode weighted by the count — one
    # corpus scan total. On a true 100 TB run with local-top-k
    # candidates instead of `exact`, build the grid from the raw stream:
    # same (j, c) partial-agg shape, map-side combined.
    cells = (
        exact.select(_cms_cells(F.col("bg")).alias("jc"), "exact_cnt")
        .groupBy("jc.j", "jc.c")
        .agg(F.sum("exact_cnt").alias("cnt"))
    )
    total = exact.agg(F.sum("exact_cnt").alias("tot"))
    cand = exact.select(
        "bg", "exact_cnt", _cms_cells(F.col("bg")).alias("jc")
    ).select("bg", "exact_cnt", "jc.j", "jc.c")
    est = (
        cand.join(F.broadcast(cells), ["j", "c"])
        .groupBy("bg", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return (
        est.join(F.broadcast(total))
        .where(F.col("cms_est") >= F.expr(f"tot div {_CMS_PHI_DEN}"))
        .select("bg", "cms_est", "exact_cnt")
        .orderBy(F.desc("cms_est"), "bg")
    )


def _cms_sql() -> str:
    js = ",".join(str(j) for j in range(_CMS_D))
    hj = (
        "CAST(concat('0x', substr(md5(concat('cms' || CAST(j AS VARCHAR) "
        f"|| ':', bg)), 1, 15)) AS BIGINT) % {_CMS_W}"
    )
    return f"""
WITH tk AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
bg AS (
  SELECT ts[i] || ' ' || ts[i + 1] AS bg
  FROM tk, unnest(range(1, len(ts))) u(i)
),
cells AS (
  SELECT j, {hj} AS c, CAST(count(*) AS BIGINT) AS cnt
  FROM bg, unnest([{js}]) t(j) GROUP BY 1, 2
),
exact AS (SELECT bg, CAST(count(*) AS BIGINT) AS exact_cnt FROM bg GROUP BY bg),
tot AS (SELECT CAST(sum(exact_cnt) AS BIGINT) AS tot FROM exact),
cand AS (
  SELECT bg, exact_cnt, j, {hj} AS c
  FROM exact, unnest([{js}]) t(j)
),
est AS (
  SELECT bg, exact_cnt, min(cnt) AS cms_est
  FROM cand JOIN cells USING (j, c) GROUP BY bg, exact_cnt
)
SELECT bg, CAST(cms_est AS BIGINT) AS cms_est, exact_cnt
FROM est, tot WHERE cms_est >= tot // {_CMS_PHI_DEN}
ORDER BY cms_est DESC, bg
"""


ML_QUERIES["cms_heavy_hitters"] = (cms_heavy_hitters, _cms_sql())


# --------------------------------------------------------------------------
# Time-series gap-fill + LOCF (final-r5 extension). Sparse event
# streams get resampled onto a DENSE per-key calendar spine —
# the missing-bucket rows are materialized with zero counts and the
# last-observation-carried-forward value — the shape every metrics
# warehouse / feature-store backfill needs. q_gapfill_events
# (queries.py) zero-fills a GLOBAL hourly spine; what this op adds is
# the per-key spine (each key pays only its own active range) and the
# LOCF carry of the last observed value across the gap rows.
# Determinism: the carried value is max(value) per day — pure
# comparison, NO float arithmetic, so both engines agree bit-for-bit.
# Scale shape: ONE shuffle on user_id (the daily pre-agg), the spine
# explode is per-key bounded (sequence over that key's own [min,max]
# range — a key active 2 days costs 2 rows, not the global calendar),
# and the LOCF window is per-key partitioned, never global. Dense
# output is keys x active-days — the caller's range cap, not the
# engine's. Oracle: DuckDB generate_series + IGNORE NULLS window.
# --------------------------------------------------------------------------


def gapfill_locf(spark, sf_dir):
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("DAY", "ts")).alias("d"), "value"
    )
    daily = ev.groupBy("user_id", "d").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("value").alias("day_max"),
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("d"),
        )
    )
    win = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .select(
            "user_id",
            # date-as-string output convention (comparator-stable)
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.last("day_max", ignorenulls=True).over(win).alias("filled_max"),
            (F.col("day_max").isNull()).cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "day")
    )


GAPFILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n_events, max(value) AS day_max
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT user_id, CAST(u.d AS DATE) AS d
  FROM (SELECT user_id, min(d) AS d0, max(d) AS d1
        FROM daily GROUP BY user_id),
       unnest(generate_series(d0, d1, INTERVAL 1 DAY)) u(d)
)
SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
       coalesce(n_events, 0) AS n_events,
       last_value(day_max IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max,
       CAST(day_max IS NULL AS INT) AS is_gap
FROM spine s LEFT JOIN daily USING (user_id, d)
ORDER BY s.user_id, day
"""


ML_QUERIES["gapfill_locf"] = (gapfill_locf, GAPFILL_SQL)


# --------------------------------------------------------------------------
# Greedy max-coverage selection (final-r5 extension) — the submodular
# data-selection primitive: pick K documents maximizing the number of
# DISTINCT 3-word shingles covered (facility-location/eval-set
# construction; greedy is the classic (1 - 1/e)-approximation and the
# de-facto exact standard practitioners run). Distinct from
# kcenter_select: that maximizes pairwise DISTANCE (diversity in
# embedding space); this maximizes COVERAGE of discrete units.
# Scale shape: the covered set lives as a TABLE, never driver memory —
# each round is one left-anti join (remaining shingles vs covered) +
# one gain aggregation + TakeOrdered(1); the only driver state is the
# K picked ids and a running total (K-sized model state, the
# kcenter/bpe_learn pattern). Gains are integers; tie-break is
# (max gain, min doc_id) — bit-stable under any partitioning.
# Oracle: full K-round unrolled CTE chain replaying the exact greedy
# (the kcenter_select pattern); covered_total recomputed as the cross
# join of the single-row pick CTEs.
# --------------------------------------------------------------------------

_MC_K = 6
_MC_CAP = 300


def maxcover_select(spark, sf_dir):
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _MC_CAP)
        .select("doc_id", "text")
    )
    # word_shingles is already per-doc distinct -> (doc_id, s) is a set
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).localCheckpoint()
    rows: list = []
    total = 0
    covered = None
    for rnd in range(_MC_K):
        # no selected-doc exclusion needed: covered superset-of a
        # picked doc's shingles, so the anti-join removes all its rows
        rem = sh
        if covered is not None:
            rem = rem.join(covered, "s", "left_anti")
        pick = (
            rem.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .collect()
        )
        if not pick:
            break  # every shingle covered
        total += pick[0].gain
        rows.append((rnd, int(pick[0].doc_id), int(pick[0].gain), total))
        newly = sh.where(F.col("doc_id") == pick[0].doc_id).select("s")
        covered = (
            covered.unionAll(newly).distinct()
            if covered is not None
            else newly
        ).localCheckpoint()
    return spark.createDataFrame(
        rows, "round int, doc_id bigint, gain bigint, covered_total bigint"
    ).orderBy("round")


def _maxcover_sql() -> str:
    src = f"({_shingle_sql(3)} WHERE doc_id < {_MC_CAP})"
    parts = [
        f"WITH shl AS {src}",
        "sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shl)",
        "g0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain "
        "FROM sh GROUP BY doc_id)",
        "p0 AS (SELECT doc_id, gain FROM g0 ORDER BY gain DESC, doc_id "
        "LIMIT 1)",
        "cov0 AS (SELECT DISTINCT s FROM sh "
        "WHERE doc_id IN (SELECT doc_id FROM p0))",
    ]
    finals = [
        "SELECT 0 AS round, doc_id, gain, gain AS covered_total FROM p0"
    ]
    for r in range(1, _MC_K):
        # no selected-doc exclusion: cov{r-1} contains every picked
        # doc's shingles, so picked docs contribute zero rows here
        parts.append(
            f"g{r} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain "
            f"FROM sh WHERE s NOT IN (SELECT s FROM cov{r - 1}) "
            "GROUP BY doc_id)"
        )
        parts.append(
            f"p{r} AS (SELECT doc_id, gain FROM g{r} "
            f"ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        parts.append(
            f"cov{r} AS (SELECT s FROM cov{r - 1} UNION "
            f"SELECT s FROM sh WHERE doc_id IN (SELECT doc_id FROM p{r}))"
        )
        tot = " + ".join(f"p{i}.gain" for i in range(r + 1))
        srcs = ", ".join(f"p{i}" for i in range(r + 1))
        finals.append(
            f"SELECT {r} AS round, p{r}.doc_id, p{r}.gain, "
            f"{tot} AS covered_total FROM {srcs}"
        )
    return (
        ", ".join(parts)
        + " SELECT CAST(round AS INT) AS round, doc_id, gain, "
        "CAST(covered_total AS BIGINT) AS covered_total FROM ("
        + " UNION ALL ".join(finals)
        + ") ORDER BY round"
    )


ML_QUERIES["maxcover_select"] = (maxcover_select, _maxcover_sql())


# --------------------------------------------------------------------------
# Incremental dedup against a materialized LSH index (final-r5
# extension) — THE production dedup pattern at 10^12 docs: yesterday's
# corpus is never re-scanned; its (band_id, band_hash, doc_id) index
# table persists (here a localCheckpoint stands in for the stored
# table), and a new shard dedups by (1) banding only ITSELF, (2) one
# equi-join of its bands against the index — new×old candidates only,
# never old×old — and (3) exact-Jaccard verify on the candidate pairs
# (the shared _verify_candidate_pairs prunes the shingle rebuild to
# candidate docs of BOTH generations). Per new doc: keep/drop, the
# smallest matching indexed doc (deterministic min), and that pair's
# Jaccard (min_by d1 — unique per pair, bit-stable). Composes with the
# pipeline's anti-join resume: processed shards append their bands to
# the index, making the whole dedup incremental end to end. Band
# expression and signature literals are the factored _band_array /
# _minhash_signatures, so batch and incremental banding can't drift.
# Oracle: the shared _minhash_replay_ctes with the join restricted to
# old-side < split <= new-side.
# --------------------------------------------------------------------------

_INC_SPLIT = 250  # doc_id < split = indexed corpus; >= split = new shard


def _inc_band_rows(docs: DataFrame) -> DataFrame:
    sig = _minhash_signatures(docs, 3, ())
    return sig.select("doc_id", F.explode(_band_array()).alias("b")).select(
        "doc_id", "b.band_id", "b.band_hash"
    )


def dedup_incremental(spark, sf_dir, threshold: float = MINHASH_THRESHOLD):
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") < _INC_SPLIT)
    new = docs.where(F.col("doc_id") >= _INC_SPLIT)
    idx = _inc_band_rows(old).localCheckpoint()  # the stored index table
    cands = (
        _inc_band_rows(new)
        .withColumnRenamed("doc_id", "d2")
        .join(
            idx.withColumnRenamed("doc_id", "d1"),
            ["band_id", "band_hash"],
        )
        .select("d1", "d2")
        .distinct()
    )
    ver = _verify_candidate_pairs(
        cands, docs, lambda c: word_shingles(c, 3), threshold
    )
    best = ver.groupBy("d2").agg(
        F.min("d1").alias("dup_of"),
        F.min_by("jaccard", "d1").alias("jaccard"),
    )
    return (
        new.select("doc_id")
        .join(best.withColumnRenamed("d2", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNull().cast("int").alias("keep"),
            "dup_of",
            "jaccard",
        )
        .orderBy("doc_id")
    )


def _inc_sql(threshold: float = MINHASH_THRESHOLD) -> str:
    return f"""
WITH {_minhash_replay_ctes()},
cands AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id < {_INC_SPLIT} AND b.doc_id >= {_INC_SPLIT}
),
ver AS (
  SELECT d1, d2, jaccard FROM (
    SELECT c.d1, c.d2,
           round(len(list_intersect(x.sh, y.sh))::DOUBLE
                 / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
    FROM cands c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2
  ) WHERE jaccard >= {threshold}
),
best AS (
  SELECT d2, min(d1) AS dup_of, arg_min(jaccard, d1) AS jaccard
  FROM ver GROUP BY d2
)
SELECT d.doc_id, CAST(dup_of IS NULL AS INT) AS keep, dup_of, jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id >= {_INC_SPLIT}) d
LEFT JOIN best ON d.doc_id = best.d2
ORDER BY d.doc_id
"""


ML_QUERIES["dedup_incremental"] = (dedup_incremental, _inc_sql())


# --------------------------------------------------------------------------
# DP histogram release (final-r5 extension) — the privacy family's
# second op beside k_anonymity_generalize: per-lang document counts
# released with two-sided-geometric (discrete Laplace) noise, the
# standard eps-DP mechanism for count queries (sensitivity 1). The
# noise is SEEDED — u = md5('dp:<release>:<group>') as a 60-bit
# uniform — which is the reproducible-release mode real governance
# pipelines use (a fresh release tag gives fresh noise; a re-run of
# the same release is bit-identical, auditable, and oracle-checkable).
# The inverse CDF is NOT computed in floats at query time: the
# truncated-renormalized CDF of the two-sided geometric (p = e^-eps,
# support [-K, K]) is frozen HERE as 2K+1 integer thresholds over the
# 2^60 hash space and interpolated into BOTH engines' plans (the
# HLL-LC-table pattern); noise = -K + |{thresholds <= u}| is one
# filter over a literal array. Scale shape: the histogram is one
# partial-agg scan; the noise is a projection over the (tiny) group
# domain. Released counts clamp at 0 (post-processing preserves DP).
# --------------------------------------------------------------------------

_DP_EPS = 0.5
_DP_K = 40  # truncation: p^40 ~ 2e-9 tail mass, renormalized away
_DP_RELEASE = "r5"


def _dp_thresholds() -> list:
    p = math.exp(-_DP_EPS)
    w = [p ** abs(v) for v in range(-_DP_K, _DP_K + 1)]
    z = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x
        out.append(round(acc / z * (1 << 60)))
    out[-1] = 1 << 60  # exact top boundary
    return out


_DP_T = _dp_thresholds()


def dp_histogram(spark, sf_dir):
    counts = (
        t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    u = md5_long(F.concat(F.lit(f"dp:{_DP_RELEASE}:"), F.col("lang")))
    arr = F.expr("array(" + ",".join(str(v) for v in _DP_T) + ")")
    noise = (
        F.size(F.filter(arr, lambda x: x <= u)) - _DP_K
    ).cast("long")
    return (
        counts.select(
            "lang",
            F.greatest(F.lit(0).cast("long"), F.col("n") + noise).alias(
                "released"
            ),
        )
        .orderBy("lang")
    )


def _dp_sql() -> str:
    arr = "[" + ",".join(str(v) for v in _DP_T) + "]"
    return f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
),
noisy AS (
  SELECT lang, n,
         CAST(len(list_filter({arr}, x -> x <=
           CAST(concat('0x', substr(md5(concat('dp:{_DP_RELEASE}:', lang)),
                1, 15)) AS BIGINT))) AS BIGINT) - {_DP_K} AS noise
  FROM counts
)
SELECT lang, greatest(CAST(0 AS BIGINT), n + noise) AS released
FROM noisy ORDER BY lang
"""


ML_QUERIES["dp_histogram"] = (dp_histogram, _dp_sql())


# --------------------------------------------------------------------------
# Mergeable quantile sketch (resumed-r5 extension) — the third leg of
# the mergeable-sketch family beside hll_distinct (cardinality) and
# cms_heavy_hitters (frequency): a FIXED-SIZE rank summary. Where
# quantile_buckets' histogram is distinct-VALUE-sized (unbounded on a
# continuous domain), this sketch is exactly B=256 equi-width cells
# per group no matter the data: cell (g, b) counts rows whose value
# falls in the b-th slice of [lo_g, hi_g]. A pure COUNT — partial-
# aggregable map-side, mergeable by cell-wise addition (two shards'
# sketches add; pytest pins the merge identity) — and any quantile q
# reads off the first cell whose cumulative count reaches ceil(n*q):
# the estimate is that cell's LOWER EDGE, so the rank error is bounded
# by the heaviest cell, which the output carries (`max_bin_cnt`) next
# to each estimate — the user sees the guarantee, not just a number.
# Money doubles go exact via the q1 convention (round(x*10000) ->
# int64, 1e-4 price units); every downstream step is integer, so the
# result is bit-identical across engines and partitionings. The
# per-group [lo, hi] domain comes from a min/max pre-agg — at 100 TB
# that pass is FREE (parquet footer column stats), and the sketch
# build is one scan whose shuffle carries <= 256 rows per group
# regardless of corpus size. Oracle: DuckDB replays bin -> cumsum ->
# threshold with identical integer arithmetic.
# --------------------------------------------------------------------------

_QS_B = 256
_QS_QS = (50, 90, 99)


def quantile_sketch(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 10000)
        .cast("long")
        .alias("v"),
    )
    stats = li.groupBy("l_returnflag").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    binned = li.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        "lo",
        "hi",
        F.expr(f"((v - lo) * {_QS_B}) div (hi - lo + 1)").alias("b"),
    )
    hist = binned.groupBy("l_returnflag", "lo", "hi", "b").agg(
        F.count("*").cast("long").alias("c")
    )
    wcum = W.partitionBy("l_returnflag").orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = hist.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(W.partitionBy("l_returnflag"))
    )
    # bin_q = first bin whose cumulative count reaches ceil(n*q/100):
    # cum >= n*q/100  <=>  cum*100 >= n*q (all int64; cum <= n <= ~6e6
    # at sf0.1 so cum*100 is nowhere near overflow). Both windows run
    # over the 256-cells-per-group sketch, never the corpus.
    per = cum.groupBy("l_returnflag", "lo", "hi").agg(
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_bin_cnt"),
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n") * q, F.col("b"))
            ).alias(f"bq{q}")
            for q in _QS_QS
        ],
    )
    return per.select(
        "l_returnflag",
        "n_rows",
        *[
            F.expr(f"lo + (bq{q} * (hi - lo + 1)) div {_QS_B}").alias(
                f"est_p{q}_e4"
            )
            for q in _QS_QS
        ],
        "max_bin_cnt",
    ).orderBy("l_returnflag")


def _qs_sql() -> str:
    qcols = ",\n         ".join(
        f"min(CASE WHEN cum * 100 >= n * {q} THEN b END) AS bq{q}"
        for q in _QS_QS
    )
    ests = ",\n       ".join(
        f"lo + (bq{q} * (hi - lo + 1)) // {_QS_B} AS est_p{q}_e4"
        for q in _QS_QS
    )
    return f"""
WITH v AS (
  SELECT l_returnflag, CAST(round(l_extendedprice * 10000) AS BIGINT) AS v
  FROM lineitem
),
stats AS (
  SELECT l_returnflag, min(v) AS lo, max(v) AS hi FROM v GROUP BY l_returnflag
),
hist AS (
  SELECT v.l_returnflag, lo, hi,
         ((v - lo) * {_QS_B}) // (hi - lo + 1) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM v JOIN stats USING (l_returnflag)
  GROUP BY 1, 2, 3, 4
),
cums AS (
  SELECT *,
         sum(c) OVER (PARTITION BY l_returnflag ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY l_returnflag) AS n
  FROM hist
),
per AS (
  SELECT l_returnflag, lo, hi,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(max(c) AS BIGINT) AS max_bin_cnt,
         {qcols}
  FROM cums GROUP BY 1, 2, 3
)
SELECT l_returnflag, n_rows,
       {ests},
       max_bin_cnt
FROM per ORDER BY l_returnflag
"""


ML_QUERIES["quantile_sketch"] = (quantile_sketch, _qs_sql())


# --------------------------------------------------------------------------
# KMV (k-minimum-values / theta-sketch) set algebra (resumed-r5
# extension) — the fourth mergeable sketch: where hll_distinct answers
# "how many distinct" for ONE stream, the KMV sketch supports SET
# OPERATIONS between streams: keep the K smallest hash values of each
# group's distinct-token set; the union sketch of two groups is the K
# smallest of the concatenation (mergeable by construction), the K-th
# smallest value theta estimates the union cardinality
# ((K-1) * U / h_K over hash domain U), and the fraction of the union
# sketch present in BOTH input sketches estimates Jaccard — the
# classic theta-sketch intersection, used for cross-corpus overlap
# audits (which language/domain shards share vocabulary) without ever
# joining the corpora. Determinism: the "random" hash is md5 truncated
# to 44 bits, so U = 2^44 and (K-1)*U ~ 2^51 keeps ALL estimator
# arithmetic in exact int64 (no HUGEINT, no floats); both engines run
# the identical integer formula. Per-group sets smaller than K make
# the sketch exhaustive — est falls back to the exact size (the
# standard KMV rule), CASE-mirrored in the oracle. Exact union /
# intersection columns ride along as the sf-scale verifier (the CMS
# convention: at 100 TB you'd drop them; the sketch build is the scale
# path — distinct (lang, h) is a vocab-bounded shuffle, the K-min per
# group survives any sharding, and pair math runs on a groups-sized
# frame). Oracle: DuckDB replays hash -> K-min -> union/intersect
# estimators with identical integer arithmetic.
# --------------------------------------------------------------------------

_KMV_K = 128
_KMV_BITS = 44  # 11 hex digits of md5; (K-1) << 44 ~ 2^51 << int64 max


def kmv_set_similarity(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tk")
    ).where(F.col("tk") != "")
    hashed = tok.select(
        "lang",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("tk"))), 1, 11),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    ).distinct()
    n_h = hashed.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_distinct")
    )
    rn = F.row_number().over(W.partitionBy("lang").orderBy("h"))
    ksm = (
        hashed.withColumn("rn", rn)
        .where(F.col("rn") <= _KMV_K)
        .groupBy("lang")
        .agg(F.sort_array(F.collect_list("h")).alias("kh"))
    )
    sk = ksm.join(n_h, "lang")
    a = sk.select(
        F.col("lang").alias("lang_a"),
        F.col("kh").alias("ka"),
        F.col("n_distinct").alias("n_a"),
    )
    b = sk.select(
        F.col("lang").alias("lang_b"),
        F.col("kh").alias("kb"),
        F.col("n_distinct").alias("n_b"),
    )
    # groups-sized frames (5 langs): the inequality join is a tiny
    # nested-loop, never corpus-sized
    pairs = a.join(b, F.col("lang_a") < F.col("lang_b"))
    inter = (
        hashed.select(F.col("lang").alias("lang_a"), "h")
        .join(hashed.select(F.col("lang").alias("lang_b"), "h"), "h")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("exact_inter"))
    )
    num = (_KMV_K - 1) << _KMV_BITS
    p = (
        pairs.join(inter, ["lang_a", "lang_b"], "left")
        .withColumn(
            "exact_inter", F.coalesce("exact_inter", F.lit(0).cast("long"))
        )
        .withColumn("u_all", F.array_sort(F.array_union("ka", "kb")))
        .withColumn(
            "m", F.least(F.lit(_KMV_K), F.size("u_all")).cast("int")
        )
        .withColumn("uk", F.slice("u_all", F.lit(1), F.col("m")))
        .withColumn("kth", F.element_at("uk", F.col("m")))
        .withColumn(
            "est_union",
            F.when(
                (F.col("n_a") <= _KMV_K) & (F.col("n_b") <= _KMV_K),
                F.size("u_all").cast("long"),
            ).otherwise(F.expr(f"CAST({num} AS BIGINT) div kth")),
        )
        .withColumn(
            "jacc_num",
            F.size(
                F.array_intersect("uk", F.array_intersect("ka", "kb"))
            ).cast("long"),
        )
    )
    return p.select(
        "lang_a",
        "lang_b",
        "n_a",
        "n_b",
        "est_union",
        (F.col("n_a") + F.col("n_b") - F.col("exact_inter")).alias(
            "exact_union"
        ),
        F.col("m").cast("long").alias("k_used"),
        "jacc_num",
        F.expr("(jacc_num * est_union) div m").alias("est_inter"),
        "exact_inter",
    ).orderBy("lang_a", "lang_b")


def _kmv_sql() -> str:
    num = (_KMV_K - 1) << _KMV_BITS
    return f"""
WITH tok AS (
  SELECT lang, tk FROM (
    SELECT lang, unnest(string_split(lower(text), ' ')) AS tk FROM documents
  ) WHERE tk <> ''
),
hashed AS (
  SELECT DISTINCT lang,
         CAST(concat('0x', substr(md5(concat('kmv:', tk)), 1, 11))
              AS BIGINT) AS h
  FROM tok
),
nh AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct FROM hashed GROUP BY lang
),
ksm AS (
  SELECT lang, list_sort(list(h)) AS kh FROM (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K} GROUP BY lang
),
sk AS (SELECT * FROM ksm JOIN nh USING (lang)),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(count(*) AS BIGINT) AS exact_inter
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.lang < b.lang
  GROUP BY 1, 2
),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b, a.kh AS ka, b.kh AS kb,
         a.n_distinct AS n_a, b.n_distinct AS n_b
  FROM sk a JOIN sk b ON a.lang < b.lang
),
calc AS (
  SELECT lang_a, lang_b, n_a, n_b,
         coalesce(exact_inter, 0) AS exact_inter, ka, kb,
         list_sort(list_distinct(list_concat(ka, kb))) AS u_all
  FROM pairs LEFT JOIN inter USING (lang_a, lang_b)
),
calc2 AS (
  SELECT *, least({_KMV_K}, len(u_all)) AS m,
         u_all[1:least({_KMV_K}, CAST(len(u_all) AS INT))] AS uk,
         u_all[least({_KMV_K}, CAST(len(u_all) AS INT))] AS kth
  FROM calc
),
calc3 AS (
  SELECT *,
         CASE WHEN n_a <= {_KMV_K} AND n_b <= {_KMV_K}
              THEN CAST(len(u_all) AS BIGINT)
              ELSE CAST({num} AS BIGINT) // kth END AS est_union,
         CAST(len(list_intersect(uk, list_intersect(ka, kb)))
              AS BIGINT) AS jacc_num
  FROM calc2
)
SELECT lang_a, lang_b, n_a, n_b, est_union,
       n_a + n_b - exact_inter AS exact_union,
       CAST(m AS BIGINT) AS k_used, jacc_num,
       (jacc_num * est_union) // m AS est_inter,
       exact_inter
FROM calc3 ORDER BY lang_a, lang_b
"""


ML_QUERIES["kmv_set_similarity"] = (kmv_set_similarity, _kmv_sql())


# --------------------------------------------------------------------------
# Connected components via LARGE-STAR / SMALL-STAR (Kiveris et al. 2014,
# "Connected Components in MapReduce and Beyond") over the synthesized
# undirected link graph (second-resume batch). The catalog already labels
# components once — dedup_clusters' min-label propagation, whose round
# count is the graph DIAMETER (right for the shallow near-dup clusters it
# feeds on, documented there). Web link graphs are the opposite regime:
# 10^12 nodes, long chains, diameter in the tens — the published fix is
# the alternating star contraction, which converges in O(log^2 n) rounds
# (O(log n) observed) INDEPENDENT of diameter:
#   large-star(u): every neighbor v > u re-attaches to
#                  m = min(neighborhood(u) + {u});
#   small-star(u): every neighbor v <= u (and u itself) re-attaches to
#                  the minimum of that lower neighborhood.
# Both steps emit canonically-oriented (hi, lo) edges (the new parent m
# is a minimum, hence strictly below the re-attached node), preserve
# connectivity, and strictly shrink a potential function; the fixpoint is
# a forest of stars whose centers are component minima, so the label read
# -off is one projection. fixpoint() runs the double-rounds to the TRUE
# fixpoint (the round's output equals its input, the paper's termination
# test), capped at _LSS_MAX_ROUNDS; every edge set is distinct (the
# initial one from _link_edges_undirected, each round's from its closing
# distinct).
#
# Job shape per double-round. On a small graph the cost of the loop is
# Spark's per-job scheduling, not data (AQE runs every shuffle map stage
# as its own job), so a round is built from as few exchanges as the
# algebra allows — three, plus the round's checkpoint job:
#   1. large-star as a window: m = least(a, min(b) over partitionBy(a))
#      on the symmetrized edges — one exchange of nb, where a groupBy +
#      join back on `a` took a partial-aggregate exchange plus a join
#      exchange;
#   2. small-star as a window: min(lo) over partitionBy(hi) on the
#      large-star output, with no distinct in between — ls holds at most
#      one row per symmetrized edge, and a duplicate (hi, lo) row changes
#      neither the small-star minimum nor the final distinct;
#   3. the distinct of the round's (hi, lo) output.
# Every exchange is hash-partitioned on node ids; nothing is keyed on a
# corpus-sized composite and there is no all-pairs anywhere.
#
# Trade-off of the windows: a window buffers a partition key's whole row
# set in one task, so a hub node's whole neighbour list sits in one task
# (spilling past spark.sql.windowExec.buffer.spill.threshold), and AQE
# cannot split that task the way it splits a skewed join side. A groupBy
# + join form spreads a hub over map-side partial aggregates; on graphs
# with heavy hubs it is the safer shape, at two more exchanges a round.
#
# The component size is a window too (count(*) over partitionBy(comp)),
# which on a giant component puts that component in one task.
#
# The ORACLE deliberately runs a DIFFERENT algorithm — min-label
# propagation with pointer-doubling shortcuts (comp <- min(comp[comp],
# min over neighbors' comp)), unrolled to _LSS_ORACLE_ROUNDS materialized
# CTEs. Connected components is algorithm-independent (unique answer:
# every node labeled with its component's minimum id), so agreement here
# checks the LSS contraction against an independent derivation, not a
# replay of the same algebra. 16 shortcut rounds reach paths of length
# >= 2^8 — far past any diameter the md5 graph (3 random out-edges per
# node) can realize at test scale; the engine side is an exact fixpoint,
# so an under-converged oracle would surface as a mismatch, not slip by.
# --------------------------------------------------------------------------

_LSS_MAX_ROUNDS = 16
_LSS_ORACLE_ROUNDS = 16


def graph_components_lss(spark, sf_dir):
    """(node_id, comp, comp_size) for every document; comp = min doc_id
    of the node's connected component in the undirected link graph."""
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id")
    )

    def contract(e):
        # symmetrized neighborhoods: (a, b) = node a sees neighbor b
        nb = e.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionAll(
            e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        # large-star: strictly-larger neighbors re-attach to
        # m = min(neighborhood(a) + {a})
        ls = (
            nb.select(
                "a", "b", F.least("a", F.min("b").over(W.partitionBy("a"))).alias("m")
            )
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("hi"), F.col("m").alias("lo"))
        )
        # small-star over the (hi > lo)-oriented output: each hi-group's
        # lower neighborhood (plus hi itself) re-attaches to its minimum
        return (
            ls.select("hi", "lo", F.min("lo").over(W.partitionBy("hi")).alias("m"))
            .select("m", F.explode(F.array("lo", "hi")).alias("x"))
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )

    e = fixpoint(
        _link_edges_undirected(spark, sf_dir).select(
            F.col("v").alias("hi"), F.col("u").alias("lo")
        ),
        contract,
        "graph_components_lss",
        _LSS_MAX_ROUNDS,
    )
    labels = e.select(F.col("hi").alias("node_id"), F.col("lo").alias("comp"))
    lab = docs.join(labels, "node_id", "left").select(
        "node_id",
        F.coalesce("comp", F.col("node_id")).cast("long").alias("comp"),
    )
    return lab.select(
        "node_id", "comp", F.count("*").over(W.partitionBy("comp")).alias("comp_size")
    ).orderBy("node_id")


def _graph_components_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    parts = [
        f"WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM cand WHERE dst <> src), "
        "sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e0 "
        "UNION ALL SELECT v AS a, u AS b FROM e0), "
        "c0 AS MATERIALIZED (SELECT doc_id AS id, doc_id AS comp "
        "FROM documents)"
    ]
    for r in range(_LSS_ORACLE_ROUNDS):
        parts.append(
            f"c{r + 1} AS MATERIALIZED ("
            f"SELECT c.id, least(cc.comp, coalesce(min(c2.comp), cc.comp)) "
            f"AS comp "
            f"FROM c{r} c JOIN c{r} cc ON cc.id = c.comp "
            f"LEFT JOIN sym s ON s.a = c.id "
            f"LEFT JOIN c{r} c2 ON c2.id = s.b "
            f"GROUP BY c.id, cc.comp)"
        )
    last = f"c{_LSS_ORACLE_ROUNDS}"
    return (
        ", ".join(parts)
        + f", lab AS (SELECT id AS node_id, comp FROM {last}), "
        "sz AS (SELECT comp, count(*) AS comp_size FROM lab GROUP BY comp) "
        "SELECT node_id, comp, CAST(comp_size AS BIGINT) AS comp_size "
        "FROM lab JOIN sz USING (comp) ORDER BY node_id"
    )


ML_QUERIES["graph_components_lss"] = (
    graph_components_lss,
    _graph_components_sql(),
)


# --------------------------------------------------------------------------
# Deterministic random-walk corpus generation (DeepWalk / node2vec-style,
# second-resume batch) over the directed md5 link graph — the standard
# way to turn a web/citation graph into *sequence training data* for a
# skip-gram embedding model: sample a fixed-length walk from each seed
# node, then feed the walks to the window-pair generator exactly like
# sentences. The md5 edge model is pagerank_links' (3 out-edges per
# non-dangling node, self-loops dropped, 1-in-17 forced dangling), so
# walks TERMINATE EARLY at dangling nodes — the absorbing-state path is
# exercised at every scale.
#
# Determinism contract (the catalog's md5 convention): step s of walk w
# moves to the out-edge ranked (md5("rw:{s}:" || walk_id) mod outdeg)
# among the current node's out-edges ordered by destination id. Both
# engines derive the identical walk, so the oracle checks the step
# algebra end-to-end; there is no RNG state anywhere (replays and
# partition retries regenerate bit-identical walks).
#
# Scale shape: the edge ranking is ONE window over edges partitioned by
# src (node-keyed, never global), computed once and reused across all L
# steps (localCheckpoint; at 10^12 edges this table is bucketed by src
# ONCE and every step's join is then shuffle-free on the edge side —
# only the walk frontier moves, the pagerank_links argument). Each step
# is an equi-join frontier.node = edges.src followed by a codegen filter
# on the md5 pick — no Python, no explode beyond the 3-way edge fanout,
# frontier never larger than n_seeds rows.
# --------------------------------------------------------------------------

_RW_LEN = 4
_RW_SEED_MOD = 25


def random_walks(spark, sf_dir, walk_len: int = _RW_LEN):
    """(walk_id, step, node) rows: step 0 is the seed (doc_id %
    _RW_SEED_MOD == 0), each next step follows the md5-picked out-edge;
    walks that hit a dangling node simply stop emitting rows."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    directed = _md5_links(docs, n, "pr", drop_dangling=True).distinct()
    wsp = W.partitionBy("src")
    ranked = directed.select(
        "src",
        "dst",
        F.row_number().over(wsp.orderBy("dst")).alias("rn"),
        F.count("*").over(wsp).alias("outdeg"),
    ).localCheckpoint()
    frontier = docs.where(F.col("doc_id") % _RW_SEED_MOD == 0).select(
        F.col("doc_id").alias("walk_id"),
        F.lit(0).alias("step"),
        F.col("doc_id").alias("node"),
    )
    acc = frontier
    for s in range(1, walk_len + 1):
        pick = _md5_long(f"rw:{s}:", F.col("walk_id")) % F.col("outdeg")
        frontier = (
            frontier.join(ranked, frontier["node"] == ranked["src"])
            .where(F.col("rn") - 1 == pick)
            .select(
                "walk_id",
                F.lit(s).alias("step"),
                F.col("dst").alias("node"),
            )
        )
        acc = acc.unionAll(frontier)
    return acc.orderBy("walk_id", "step")


def _random_walks_sql(walk_len: int = _RW_LEN) -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    parts = [
        f"WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "dedges AS MATERIALIZED (SELECT DISTINCT src, dst FROM cand "
        "WHERE dst <> src), "
        "ranked AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn, "
        "count(*) OVER (PARTITION BY src) AS outdeg FROM dedges), "
        f"w0 AS (SELECT doc_id AS walk_id, CAST(0 AS INT) AS step, "
        f"doc_id AS node FROM documents WHERE doc_id % {_RW_SEED_MOD} = 0)"
    ]
    for s in range(1, walk_len + 1):
        parts.append(
            f"w{s} AS MATERIALIZED ("
            f"SELECT w.walk_id, CAST({s} AS INT) AS step, r.dst AS node "
            f"FROM w{s - 1} w JOIN ranked r ON r.src = w.node "
            f"WHERE r.rn - 1 = "
            f"CAST(concat('0x', substr(md5(concat('rw:{s}:', "
            f"CAST(w.walk_id AS VARCHAR))), 1, 15)) AS BIGINT) % r.outdeg)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM w{s}" for s in range(walk_len + 1))
    return ", ".join(parts) + f" {union} ORDER BY walk_id, step"


ML_QUERIES["random_walks"] = (random_walks, _random_walks_sql())


# --------------------------------------------------------------------------
# SEMANTIC decontamination (second-resume batch) — the embedding-space
# leg of the decontamination family (decontaminate_ngrams = exact
# lexical, decontaminate_bloom = sketched lexical): flag training
# documents whose embedding is near-identical to a held-out benchmark
# vector, the "paraphrased eval set" leak that n-gram overlap cannot see.
# Eval vectors are synthesized exactly like dedup_embedding_cosine's
# planted twins (every 20th vector, perturbed x*1.01 + 0.001,
# eval_id = vec_id + 200000), so true positives exist at every scale.
#
# The deliberate contrast with dedup_embedding_cosine is the JOIN SHAPE:
# near-dup dedup bucket-joins corpus x corpus (both sides huge -> LSH);
# decontamination is corpus x BENCHMARK, and benchmark suites are tiny
# (10^3..10^5 vectors), so the scale-correct plan is a BROADCAST of the
# eval matrix and ONE Arrow pass over the corpus computing all dots as a
# single int64 matmul per batch (X_q @ E_q^T) — no pair shuffle, no
# bucketing, the per-vector argmax is a map-side window afterwards.
#
# Arithmetic contract (the r4 fuzz campaign's lesson, applied up front):
# numpy sums in a different order than any SQL engine, so FLOAT cosines
# here would diverge in the last ulp and flip argmax/threshold at
# near-ties. Instead both sides quantize to int64 first — eval vectors
# l2-normalized (the one float stage, an identical sequential
# fold in both engines) then rounded at 2^14, train vectors rounded raw
# at 2^14 (cosine is scale-invariant, so per-side scales cancel) — and
# every downstream quantity (dot, norms, the reported score
# cos2_ppm = sign(d) * d^2 * 10^6 DIV (na*nb), the 0.99^2 = 980100 ppm
# threshold, the argmax with eval_id tie-break) is exact integer
# arithmetic: decimal(38,0) in Spark, HUGEINT in DuckDB, bit-identical
# under any partitioning, batch order, or retry. |cos2_ppm| <= 10^6 by
# Cauchy-Schwarz on the SAME integer vectors (pytest invariant).
# --------------------------------------------------------------------------

_SDECON_EVAL_MOD = 20
_SDECON_Q = 16384  # 2^14 quantization scale
_SDECON_PPM = 980100  # 0.99^2 in ppm of cos^2


def _sdecon_eval_quantized(spark, sf_dir):
    """Quantized eval matrix (eval_id, e_q array<long>) from the sf
    embeddings table — see _sdecon_eval_from_df."""
    return _sdecon_eval_from_df(t(spark, sf_dir, "embeddings"))


def _sdecon_eval_from_df(emb):
    """Quantized eval matrix (eval_id, e_q array<long>): perturbed
    twins, l2-normalized, rounded at 2^14. The normalization fold is the
    module's sequential-HOF idiom so DuckDB replays it bit-identically."""
    vecd = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    pert = F.transform(vecd, lambda x: x * F.lit(1.01) + F.lit(0.001))
    nrm = F.sqrt(
        F.aggregate(pert, F.lit(0.0), lambda s, x: s + x * x)
    )
    quant = F.when(
        nrm > 0,
        F.transform(
            pert, lambda x: F.round(x / nrm * _SDECON_Q, 0).cast("long")
        ),
    ).otherwise(F.transform(pert, lambda x: F.lit(0).cast("long")))
    return emb.where(F.col("vec_id") % _SDECON_EVAL_MOD == 0).select(
        (F.col("vec_id") + 200000).alias("eval_id"), quant.alias("e_q")
    )


def _sdecon_quantize_train(emb):
    """(vec_id, t_q): raw 2^14 quantization of the corpus vectors
    (cosine is scale-invariant, so per-side scales cancel)."""
    vecd = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    tq = F.transform(
        vecd, lambda x: F.round(x * _SDECON_Q, 0).cast("long")
    )
    return emb.select("vec_id", tq.alias("t_q"))


def _sdecon_score(train, eval_rows):
    """Score every (vec_id, t_q) row against the collected quantized
    benchmark rows: (vec_id, nearest_eval_id, cos2_ppm, contaminated),
    unordered. Shared verbatim by the batch op and the streaming job so
    their verdicts are bit-identical (the integer contract does the
    rest). eval norms are python-int sums of the collected rows — exact,
    identical to the HOF/SQL fold by integer commutativity."""
    import numpy as np

    spark = train.sparkSession
    eval_ids = np.array([r["eval_id"] for r in eval_rows], dtype=np.int64)
    E = (
        np.array([r["e_q"] for r in eval_rows], dtype=np.int64)
        if eval_rows
        else np.zeros((0, 1), dtype=np.int64)
    )

    def dots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: F811 — executor-side import

        for pdf in batches:
            if not len(pdf) or not len(eval_ids):
                continue
            X = np.stack(pdf["t_q"].to_numpy()).astype(np.int64)
            D = X @ E.T  # exact int64: |d| <= 64 * 2^17 * 2^15
            m, k = D.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(np.int64), k
                    ),
                    "eval_id": np.tile(eval_ids, m),
                    "d": D.reshape(-1),
                }
            )

    pairs = train.mapInPandas(
        dots, schema="vec_id long, eval_id long, d long"
    )
    sq = lambda col: F.aggregate(  # noqa: E731
        col, F.lit(0).cast("long"), lambda s, x: s + x * x
    )
    na = train.select("vec_id", sq(F.col("t_q")).alias("na"))
    nb = spark.createDataFrame(
        [
            (int(r["eval_id"]), sum(int(x) * int(x) for x in r["e_q"]))
            for r in eval_rows
        ]
        or [(0, 0)],
        "eval_id long, nb long",
    )
    if not eval_rows:
        nb = nb.where(F.lit(False))
    scored = (
        pairs.join(na, "vec_id")
        .join(F.broadcast(nb), "eval_id")
        .withColumn(
            "cos2_ppm",
            F.expr(
                "CASE WHEN na = 0 OR nb = 0 THEN CAST(0 AS BIGINT) "
                "ELSE CAST((CASE WHEN d < 0 THEN -1 ELSE 1 END) * "
                "((CAST(d AS DECIMAL(38,0)) * d * 1000000) DIV "
                "(CAST(na AS DECIMAL(38,0)) * nb)) AS BIGINT) END"
            ),
        )
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos2_ppm"), "eval_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where("rk = 1")
        .select(
            "vec_id",
            F.col("eval_id").alias("nearest_eval_id"),
            "cos2_ppm",
            (F.col("cos2_ppm") >= _SDECON_PPM).alias("contaminated"),
        )
    )


def decontaminate_semantic(spark, sf_dir):
    """One row per corpus vector: (vec_id, nearest_eval_id, cos2_ppm,
    contaminated). cos2_ppm is the signed quantized squared cosine in
    parts-per-million against the nearest benchmark vector.

    The benchmark collect is model state, k rows (the k-means centroid
    / BPE-merge audit class)."""
    train = _sdecon_quantize_train(t(spark, sf_dir, "embeddings"))
    eval_rows = _sdecon_eval_quantized(spark, sf_dir).collect()
    return _sdecon_score(train, eval_rows).orderBy("vec_id")


_SDECON_SQL = f"""
WITH evalp AS (
  SELECT vec_id + 200000 AS eval_id,
         list_transform(embedding::DOUBLE[], x -> x * 1.01 + 0.001) AS p
  FROM embeddings WHERE vec_id % {_SDECON_EVAL_MOD} = 0
),
evaln AS (
  SELECT eval_id, sqrt(list_dot_product(p, p)) AS nrm, p FROM evalp
),
evalq AS (
  SELECT eval_id,
         CASE WHEN nrm > 0
              THEN list_transform(p,
                     x -> CAST(round(x / nrm * {_SDECON_Q}) AS BIGINT))
              ELSE list_transform(p, x -> CAST(0 AS BIGINT)) END AS e_q
  FROM evaln
),
trainq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * {_SDECON_Q}) AS BIGINT)) AS t_q
  FROM embeddings
),
pairs AS (
  SELECT vec_id, eval_id, coalesce(sum(tv * ev), 0) AS d
  FROM (SELECT t.vec_id, e.eval_id, unnest(t.t_q) AS tv,
               unnest(e.e_q) AS ev
        FROM trainq t, evalq e)
  GROUP BY vec_id, eval_id
),
tna AS (
  SELECT vec_id, coalesce(sum(x * x), 0) AS na
  FROM (SELECT vec_id, unnest(t_q) AS x FROM trainq) GROUP BY vec_id
),
tnb AS (
  SELECT eval_id, coalesce(sum(x * x), 0) AS nb
  FROM (SELECT eval_id, unnest(e_q) AS x FROM evalq) GROUP BY eval_id
),
scored AS (
  SELECT p.vec_id, p.eval_id,
         CASE WHEN na.na = 0 OR nb.nb = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST((CASE WHEN p.d < 0 THEN -1 ELSE 1 END) *
                   ((p.d::HUGEINT * p.d * 1000000) //
                    (na.na::HUGEINT * nb.nb)) AS BIGINT) END AS cos2_ppm
  FROM pairs p JOIN tna na USING (vec_id) JOIN tnb nb USING (eval_id)
)
SELECT vec_id, eval_id AS nearest_eval_id, cos2_ppm,
       cos2_ppm >= {_SDECON_PPM} AS contaminated
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY cos2_ppm DESC, eval_id) AS rk FROM scored)
WHERE rk = 1 ORDER BY vec_id
"""

ML_QUERIES["decontaminate_semantic"] = (decontaminate_semantic, _SDECON_SQL)


# --------------------------------------------------------------------------
# Skip-gram pair generation (second-resume batch) — turns the
# random_walks corpus into the (center, context) training pairs a
# skip-gram embedding model (DeepWalk/node2vec's word2vec stage)
# actually consumes: for every walk and every position i, emit
# (node_i, node_j) for 0 < |i - j| <= _SG_WINDOW, then count each
# distinct directed pair across the corpus (the co-occurrence
# multiplicities that weight the softmax).
#
# Scale shape: the pair build is a SELF-JOIN ON walk_id — a key whose
# per-group size is capped by the walk length (<= L+1 rows), so the
# join fans out at most (L+1)*2W per walk, never quadratic in the
# corpus; the count is one groupBy(center, context) with map-side
# combine. At 10^12 walks both stages shuffle on uniform md5-derived
# keys (walk_id, then pair) — no skew by construction. The window
# filter is a codegen range predicate applied inside the equi-join, not
# a range join (the equi key does the heavy pruning).
# --------------------------------------------------------------------------

_SG_WINDOW = 2


def skipgram_pairs(spark, sf_dir):
    """(center, context, n_pairs) over the random-walk corpus, window
    +-_SG_WINDOW, directed (center precedes or follows context — both
    offsets emit, matching word2vec's symmetric window)."""
    walks = random_walks(spark, sf_dir).select(
        "walk_id", "step", "node"
    ).localCheckpoint()
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("node").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= _SG_WINDOW)
        )
        .groupBy("center", "context")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("center", "context")
    )


def _skipgram_sql() -> str:
    walks = _random_walks_sql()
    # strip the trailing ORDER BY of the walk query and wrap it
    body = walks.rsplit(" ORDER BY ", 1)[0]
    return (
        f"WITH walks AS ({body}) "
        f"SELECT a.node AS center, b.node AS context, "
        f"count(*) AS n_pairs "
        f"FROM walks a JOIN walks b ON a.walk_id = b.walk_id "
        f"AND a.step <> b.step AND abs(a.step - b.step) <= {_SG_WINDOW} "
        f"GROUP BY center, context ORDER BY center, context"
    )


ML_QUERIES["skipgram_pairs"] = (skipgram_pairs, _skipgram_sql())


# --------------------------------------------------------------------------
# Distributed PCA top-component projection (second-resume batch) — the
# one linear-algebra workload class the catalog lacked: project every
# embedding onto the corpus' dominant principal direction (the backbone
# of spectral dedup diagnostics, whitening, and the "dominant-direction
# removal" step of post-processing pipelines like all-but-the-top).
#
# Decomposition is the textbook two-phase distributed PCA: (1) the
# d x d GRAM MATRIX G = sum x x^T is an associative aggregate — each
# Arrow batch contributes X^T X (one numpy int64 matmul), partials sum
# under groupBy(i, j); the corpus is scanned ONCE and the shuffle moves
# d^2 rows per partition, never vectors. (2) power iteration runs on
# the DRIVER over the d x d collect (model state, the k-means-centroid
# audit class: d = 64 -> 4096 rows), a FIXED 8 steps from the all-ones
# seed — the iteration count is the contract, not a float convergence
# test. (3) the projection is a codegen HOF dot against the literal
# eigenvector — scan-only, join-free.
#
# Arithmetic contract: embeddings quantize at 2^14 (the
# decontaminate_semantic convention); Gram entries, matvecs, the
# per-step renormalization v <- (w * 2^16) div max|w| (truncation
# toward zero in BOTH engines), and the final projections are all
# exact integers — Spark/driver Python ints vs the oracle's HUGEINT
# CTE unroll are bit-identical under any partitioning or batch order.
# Magnitude audit (d = 64): |q| <= 2^21 even for fuzz-range inputs,
# Gram <= n * 2^42, matvec <= 64 * Gram * 2^16 — HUGEINT-safe to
# n ~ 2^60; the reported proj_fp <= 64 * 2^21 * 2^16 < 2^43 (int64).
# --------------------------------------------------------------------------

_PCA_Q = 16384
_PCA_VSCALE = 65536
_PCA_ITERS = 8


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — DuckDB's `//` (and
    Spark's DIV) semantics; Python's // floors, so negatives differ."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def pca_power_projection(spark, sf_dir):
    """(vec_id, proj_fp): fixed-point projection of every embedding on
    the corpus' dominant eigendirection after _PCA_ITERS power steps."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    vecd = F.col("embedding").cast(T.ArrayType(T.DoubleType()))
    tq = F.transform(vecd, lambda x: F.round(x * _PCA_Q, 0).cast("long"))
    train = emb.select("vec_id", tq.alias("t_q"))

    def gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: F811 — executor-side import

        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["t_q"].to_numpy()).astype(np.int64)
            G = X.T @ X
            d = G.shape[0]
            ii, jj = np.meshgrid(
                np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "i": ii.reshape(-1).astype(np.int32),
                    "j": jj.reshape(-1).astype(np.int32),
                    "g": G.reshape(-1),
                }
            )

    rows = (
        train.mapInPandas(gram, schema="i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .collect()
    )  # model state: d^2 rows
    if not rows:
        return train.select(
            "vec_id", F.lit(0).cast("long").alias("proj_fp")
        ).orderBy("vec_id")
    d = max(r["i"] for r in rows)
    G = [[0] * d for _ in range(d)]
    for r in rows:
        G[r["i"] - 1][r["j"] - 1] = int(r["g"])
    v = [_PCA_VSCALE] * d
    for _ in range(_PCA_ITERS):
        w = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
        mx = max(abs(x) for x in w)
        v = (
            [0] * d
            if mx == 0
            else [_trunc_div(x * _PCA_VSCALE, mx) for x in w]
        )
    vcol = F.array(*[F.lit(int(x)).cast("long") for x in v])
    proj = F.aggregate(
        F.zip_with(F.col("t_q"), vcol, lambda q, vv: q * vv),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return train.select("vec_id", proj.alias("proj_fp")).orderBy("vec_id")


def _pca_sql() -> str:
    parts = [
        f"""WITH trainq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(round(x * {_PCA_Q}) AS BIGINT)) AS t_q
  FROM embeddings
),
posit AS MATERIALIZED (
  SELECT vec_id, unnest(t_q) AS q,
         unnest(range(1, len(t_q) + 1)) AS i
  FROM trainq
),
gram AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, sum(a.q * b.q)::HUGEINT AS g
  FROM posit a JOIN posit b USING (vec_id)
  GROUP BY a.i, b.i
),
v0 AS (SELECT DISTINCT i, {_PCA_VSCALE}::HUGEINT AS v FROM gram)"""
    ]
    for r in range(_PCA_ITERS):
        parts.append(
            f"""w{r} AS MATERIALIZED (
  SELECT g.i, sum(g.g * v.v)::HUGEINT AS w
  FROM gram g JOIN v{r} v ON v.i = g.j GROUP BY g.i
),
mx{r} AS (SELECT max(abs(w)) AS m FROM w{r}),
v{r + 1} AS MATERIALIZED (
  SELECT i, CASE WHEN m = 0 THEN 0::HUGEINT
                 ELSE (w * {_PCA_VSCALE}) // m END AS v
  FROM w{r}, mx{r}
)"""
        )
    last = f"v{_PCA_ITERS}"
    parts.append(
        f"""SELECT p.vec_id,
       CAST(coalesce(sum(p.q * v.v), 0) AS BIGINT) AS proj_fp
FROM posit p JOIN {last} v ON v.i = p.i
GROUP BY p.vec_id ORDER BY p.vec_id"""
    )
    return ",\n".join(parts[:-1]) + "\n" + parts[-1]


ML_QUERIES["pca_power_projection"] = (pca_power_projection, _pca_sql())


# --------------------------------------------------------------------------
# Local clustering coefficient (third-resume batch) — per-node triangle
# density cc(v) = 2*T(v) / (d(v)*(d(v)-1)), the standard "how
# community-like is this node's neighborhood" metric (spam/link-farm
# detection ranks hosts by exactly this signal: farms are near-cliques,
# organic hubs are sparse). Composes the catalog's degree-oriented
# triangle lister (each triangle counted once at its (degree,id)-minimum
# apex, wedge work bounded m^1.5 — see triangle_count) with the degree
# table: one left join + a codegen integer formula. Reported in exact
# ppm (2*T*10^6 DIV d*(d-1)) — no float division to drift between
# engines; nodes with d < 2 pin cc_ppm = 0 (no possible wedge).
# Defined over nodes WITH at least one edge (isolated nodes have no
# neighborhood to measure — documented contract, matches the oracle).
# --------------------------------------------------------------------------


def clustering_coefficient(spark, sf_dir):
    und = _link_edges_undirected(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("node_id"))
        .unionAll(und.select(F.col("v").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count("*").cast("long").alias("d"))
    )
    tri = triangle_count(spark, sf_dir)
    return (
        deg.join(tri, "node_id", "left")
        .select(
            "node_id",
            "d",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CASE WHEN d >= 2 THEN (coalesce(n_tri, CAST(0 AS BIGINT))"
                " * 2 * 1000000) DIV (d * (d - 1)) "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("cc_ppm"),
        )
        .orderBy("node_id")
    )


def _clustering_coefficient_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM cand WHERE dst <> src
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM ue e1
  JOIN ue e2 ON e1.v = e2.u
  JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v
),
tpn AS (
  SELECT node_id, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT unnest([x, y, z]) AS node_id FROM tri)
  GROUP BY node_id
),
deg AS (
  SELECT node_id, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT unnest([u, v]) AS node_id FROM ue)
  GROUP BY node_id
)
SELECT d.node_id, d.d,
       coalesce(t.n_tri, 0) AS n_tri,
       CASE WHEN d.d >= 2
            THEN (coalesce(t.n_tri, 0) * 2 * 1000000) // (d.d * (d.d - 1))
            ELSE CAST(0 AS BIGINT) END AS cc_ppm
FROM deg d LEFT JOIN tpn t USING (node_id)
ORDER BY d.node_id
"""


ML_QUERIES["clustering_coefficient"] = (
    clustering_coefficient,
    _clustering_coefficient_sql(),
)


# --------------------------------------------------------------------------
# Link prediction by common neighbors (third-resume batch) — the classic
# Liben-Nowell/Kleinberg index plus the Resource-Allocation index (Zhou
# et al. 2009), over the undirected md5 link graph: score every
# NON-ADJACENT pair (u, w) by (a) how many neighbors they share and
# (b) RA = sum over shared neighbors z of 1/deg(z), which discounts
# promiscuous hubs. This is the recommendation/"suggested links" class
# the graph family lacked (CC/PageRank/HITS rank NODES; this ranks
# ABSENT EDGES).
#
# Integer contract: RA's 1/deg sum is float in the textbook; here each
# term is 10^6 DIV deg(z) (truncating integer division in both
# engines), so scores are exact int64 and sums are order-independent —
# the module's standard determinism trade, documented as ppm.
#
# Scale shape & the honest hazard: the wedge build fans out d(z)^2/2
# pairs per center z — the one graph workload where a power-law hub is
# quadratic. The md5 graph's max degree is ~tens, so no mitigation
# here; at 10^12 edges the standard production fixes (cap or sample
# hub neighborhoods above a degree threshold, losing only
# hub-mediated predictions — they score lowest under RA anyway) are
# documented in SCALE.md rather than silently applied. Non-adjacency
# is one left_anti join against the edge list; everything is keyed on
# node ids or canonical pairs — no cartesian.
# --------------------------------------------------------------------------

_LP_MIN_COMMON = 2


def link_prediction_cn(spark, sf_dir):
    """(u, w, n_common, ra_ppm) for non-adjacent u < w sharing >=
    _LP_MIN_COMMON neighbors, ordered by (u, w)."""
    und = _link_edges_undirected(spark, sf_dir)  # u < v
    nb = und.select(F.col("u").alias("z"), F.col("v").alias("b")).unionAll(
        und.select(F.col("v").alias("z"), F.col("u").alias("b"))
    )
    deg = nb.groupBy("z").agg(F.count("*").alias("dz"))
    left = nb.join(deg, "z")
    right = nb.select("z", F.col("b").alias("c"))
    wedges = left.join(right, "z").where(F.col("b") < F.col("c"))
    scores = wedges.groupBy("b", "c").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum(F.expr("CAST(1000000 AS BIGINT) DIV dz")).alias("ra_ppm"),
    )
    return (
        scores.join(
            und,
            (scores["b"] == und["u"]) & (scores["c"] == und["v"]),
            "left_anti",
        )
        .where(F.col("n_common") >= _LP_MIN_COMMON)
        .select(
            F.col("b").alias("u"),
            F.col("c").alias("w"),
            "n_common",
            "ra_ppm",
        )
        .orderBy("u", "w")
    )


def _link_prediction_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM cand WHERE dst <> src
),
nb AS MATERIALIZED (
  SELECT u AS z, v AS b FROM ue UNION ALL SELECT v AS z, u AS b FROM ue
),
deg AS (SELECT z, count(*) AS dz FROM nb GROUP BY z),
scores AS (
  SELECT a.b AS b, c.b AS c,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(1000000 // d.dz) AS BIGINT) AS ra_ppm
  FROM nb a JOIN nb c ON a.z = c.z AND a.b < c.b
  JOIN deg d ON d.z = a.z
  GROUP BY a.b, c.b
)
SELECT s.b AS u, s.c AS w, s.n_common, s.ra_ppm
FROM scores s LEFT JOIN ue e ON e.u = s.b AND e.v = s.c
WHERE e.u IS NULL AND s.n_common >= {_LP_MIN_COMMON}
ORDER BY u, w
"""


ML_QUERIES["link_prediction_cn"] = (
    link_prediction_cn,
    _link_prediction_sql(),
)


# --------------------------------------------------------------------------
# Product quantization ADC search (third-resume batch) — the third leg
# of the vector-compression family (SQ8 = per-dimension scalar codes,
# IVF = cell pruning; PQ = Jégou et al. 2011's subspace codebooks, the
# compression standard for billion-vector serving): split each vector
# into PQ_M subspaces, learn an independent k-means codebook per
# subspace (the catalog's Lloyd, one fused Arrow pass per round), encode
# every vector as PQ_M small codes, and answer queries by Asymmetric
# Distance Computation — a per-subspace lookup table of
# query-to-centroid distances, summed over the code tuple, top-k by
# that approximation, then an exact-cosine rerank of the shortlist
# (the ann_ivf_sq8 composition).
#
# Scale shape: codebook learning is PQ_M independent Lloyd fits (each
# the fused assignment+partial-agg pass — shuffle moves k x partitions
# rows); encoding is ONE scan computing all PQ_M assignments (each a
# vectorized V.C^T matmul per Arrow batch); the LUT is (PQ_M x PQ_K)
# driver floats folded into literal arrays, so ADC scoring is a
# codegen projection and the top-k is TakeOrderedAndProject — at 10^12
# vectors the query never touches raw vectors until the
# PQ_TOPK-row rerank.
#
# Determinism: codebooks/LUTs are doubles (the kmeans family's
# documented ~1e-13 drift vs the oracle's unroll); the top-k CUT ranks
# on round(adc, 6) with vec_id tie-break in BOTH engines, so ulp drift
# cannot reorder the boundary except exactly at a 1e-6 rounding edge —
# the same residual class the ANN family carries, fuzz-monitored.
# --------------------------------------------------------------------------

PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8
PQ_TOPK = 10


def _seq_dot(a, b) -> float:
    """Left-fold dot product — order parity with DuckDB's
    list_dot_product (numpy pairwise summation would differ in ulps)."""
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _pq_round(vecs, books, m: int, subdim: int, k: int):
    """One fused Lloyd round for ALL m subspace problems in ONE Arrow
    pass (the _kmeans_round shape, m problems wide): each partition
    assigns every row in every subspace (m small V·Cᵀ matmuls per
    batch) and accumulates (count, per-dimension sums) per (subspace,
    cluster) — the shuffle moves m·k rows per partition, never
    vectors. This is why PQ codebook learning costs the same scans as
    ONE k-means fit, not m of them."""
    import numpy as np

    Cs = [np.array(b, dtype=np.float64) for b in books]
    cn2s = [(C * C).sum(axis=1) for C in Cs]
    cols = ", ".join(f"s{i} double" for i in range(subdim))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np  # noqa: F811 — executor-side import

        cnt = np.zeros((m, k), dtype=np.int64)
        sums = np.zeros((m, k, subdim), dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["v"].to_numpy())
            for s in range(m):
                Xs = X[:, s * subdim:(s + 1) * subdim]
                aff = cn2s[s][None, :] - 2.0 * (Xs @ Cs[s].T)
                cl = aff.argmin(axis=1)
                cnt[s] += np.bincount(cl, minlength=k)
                for j in range(k):
                    sel = Xs[cl == j]
                    if len(sel):
                        sums[s, j] += sel.sum(axis=0)
        out = []
        for s in range(m):
            for j in range(k):
                if cnt[s, j]:
                    out.append((s, j, int(cnt[s, j]), *sums[s, j]))
        yield pd.DataFrame(
            out, columns=["s", "cluster", "n"]
            + [f"s{i}" for i in range(subdim)]
        )

    part = vecs.mapInPandas(
        partials, schema=f"s int, cluster int, n long, {cols}"
    )
    aggs = [F.sum("n").alias("n")] + [
        F.sum(f"s{i}").alias(f"s{i}") for i in range(subdim)
    ]
    return part.groupBy("s", "cluster").agg(*aggs)


def _pq_fit_codebooks(
    emb,
    m: int = PQ_M,
    subdim: int = PQ_SUBDIM,
    k: int = PQ_K,
    iters: int = KMEANS_ITERS,
) -> list[list[list[float]]]:
    """m independent Lloyd fits driven as ONE fused pass per round.
    Seeds and update algebra match kmeans_fit's first-k contract per
    subspace (pytest asserts fused == m separate fits)."""
    v = F.col("embedding").cast("array<double>")
    seeds = emb.select(v.alias("v")).orderBy("vec_id").limit(k).collect()
    books = [
        [list(r.v[s * subdim:(s + 1) * subdim]) for r in seeds]
        for s in range(m)
    ]
    vecs = emb.select(v.alias("v")).persist()
    try:
        for _ in range(iters):
            rows = _pq_round(vecs, books, m, subdim, k).collect()
            new = {
                (r.s, r.cluster): [r[f"s{i}"] / r.n for i in range(subdim)]
                for r in rows
            }
            books = [
                [new.get((s, j), books[s][j]) for j in range(k)]
                for s in range(m)
            ]
    finally:
        vecs.unpersist()
    return books


def pq_adc_topk(spark, sf_dir):
    """Top-PQ_TOPK vectors for QUERY_VEC by PQ/ADC distance:
    (vec_id, code0..code{M-1}, adc_r, cos) — codes are the subspace
    centroid ids, adc_r the rounded ADC distance, cos the exact
    rerank."""
    emb = t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    codebooks = _pq_fit_codebooks(emb)
    assigns = [
        _kmeans_assign(
            F.slice(v, s * PQ_SUBDIM + 1, PQ_SUBDIM), codebooks[s]
        ).alias(f"a{s}")
        for s in range(PQ_M)
    ]
    enc = emb.select("vec_id", "embedding", *assigns)
    adc = None
    for s in range(PQ_M):
        qs = QUERY_VEC[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM]
        qq = _seq_dot(qs, qs)
        lut = [
            qq + _seq_dot(c, c) - 2.0 * _seq_dot(qs, c)
            for c in codebooks[s]
        ]
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in lut]),
            F.col(f"a{s}.cluster") + 1,
        )
        adc = term if adc is None else adc + term
    short = (
        enc.select(
            "vec_id",
            "embedding",
            *[F.col(f"a{s}.cluster").alias(f"code{s}") for s in range(PQ_M)],
            adc.alias("adc"),
        )
        .orderBy(F.round(F.col("adc"), 6), "vec_id")
        .limit(PQ_TOPK)
    )
    return short.select(
        "vec_id",
        *[f"code{s}" for s in range(PQ_M)],
        F.round("adc", 4).alias("adc_r"),
        F.round(cosine_to_literal(F.col("embedding"), QUERY_VEC), 4).alias(
            "cos"
        ),
    ).orderBy("adc_r", "vec_id")


def _pq_sql() -> str:
    ctes: list[str] = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUBDIM + 1, (s + 1) * PQ_SUBDIM
        ctes += _kmeans_ctes(
            PQ_K,
            KMEANS_ITERS,
            PQ_SUBDIM,
            vecs_sql=(
                f"SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v "
                "FROM embeddings"
            ),
            prefix=f"s{s}_",
        )
        qs = QUERY_VEC[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM]
        ctes.append(
            f"lut{s} AS (SELECT cl, "
            f"list_dot_product(CAST({qs!r} AS DOUBLE[]), "
            f"CAST({qs!r} AS DOUBLE[])) + cn2 "
            f"- 2.0 * list_dot_product(CAST({qs!r} AS DOUBLE[]), cv) AS d "
            f"FROM s{s}_c{KMEANS_ITERS})"
        )
    joins = " ".join(
        f"JOIN s{s}_afinal v{s} USING (vec_id)" for s in range(1, PQ_M)
    )
    lutjoins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cl = v{s}.cl" for s in range(PQ_M)
    )
    adc = " + ".join(f"l{s}.d" for s in range(PQ_M))
    codes = ", ".join(f"CAST(v{s}.cl AS INT) AS code{s}" for s in range(PQ_M))
    code_names = ", ".join(f"code{s}" for s in range(PQ_M))
    ctes.append(
        f"enc AS (SELECT v0.vec_id, {codes}, {adc} AS adc "
        f"FROM s0_afinal v0 {joins} {lutjoins})"
    )
    ctes.append(
        "short AS (SELECT * FROM (SELECT *, row_number() OVER ("
        "ORDER BY round(adc, 6), vec_id) AS rk FROM enc) "
        f"WHERE rk <= {PQ_TOPK})"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        f"SELECT s.vec_id, {code_names}, round(s.adc, 4) AS adc_r,\n"
        f"       {_ivf_cos_sql()} AS cos\n"
        "FROM short s JOIN embeddings USING (vec_id)\n"
        "ORDER BY adc_r, vec_id"
    )


ML_QUERIES["pq_adc_topk"] = (pq_adc_topk, _pq_sql())


# --------------------------------------------------------------------------
# Robust anomaly detection over event volumes (third-resume batch) —
# the pipeline-OBSERVABILITY op: flag days whose per-type event count
# deviates from the series median by more than 3 sigma-equivalents,
# with sigma estimated by the MAD (median absolute deviation), the
# standard robust scale that one bad day cannot poison (unlike
# mean/stddev — the usual z-score's failure mode on the very outliers
# it hunts).
#
# Exact-integer contract: medians are computed by the TWO-PICK rule on
# doubled values (med2 = value@lo + value@hi over the value-sorted
# series, lo = (n+1) DIV 2, hi = (n+2) DIV 2 — odd n picks the middle
# twice), so med2 = 2*median and mad2 = 2*MAD are exact int64 in both
# engines; the 3-sigma test |x - med| > 3 * 1.4826 * MAD becomes the
# integer cross-multiplication a2 * 10000 > 44478 * mad2 (a2 =
# |2x - med2|). No float percentile interpolation anywhere — the exact
# determinism the engines' differing percentile() definitions would
# break. A constant series (mad2 = 0) flags ANY deviation, the correct
# degenerate limit.
#
# Scale shape: one groupBy (event_type, day) count (map-side
# combinable), then two windows PARTITIONED BY event_type (series are
# per-type — thousands of rows each at 10^12 events, never global).
# --------------------------------------------------------------------------

_MAD_K10000 = 44478  # 3 * 1.4826 * 10^4, the 3-sigma MAD multiplier


def anomaly_mad_events(spark, sf_dir):
    """(event_type, day, cnt, med2, mad2, is_anomaly): robust daily
    volume outliers per event type."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))

    def two_pick(df, val, order_extra, out):
        wp = W.partitionBy("event_type")
        d = df.withColumn("rn", F.row_number().over(
            wp.orderBy(val, *order_extra)
        )).withColumn("nn", F.count("*").over(wp))
        lo = F.expr("(nn + 1) DIV 2")
        hi = F.expr("(nn + 2) DIV 2")
        pick = F.sum(
            F.when(F.col("rn") == lo, F.col(val)).otherwise(0)
            + F.when(F.col("rn") == hi, F.col(val)).otherwise(0)
        ).over(wp)
        return d.withColumn(out, pick).drop("rn", "nn")

    with_med = two_pick(counts, "cnt", ["day"], "med2")
    # med2 here sums cnt once per pick leg; cnt appears doubled for odd
    # series because lo == hi selects the same row in both legs
    with_med = with_med.withColumn(
        "a2", F.abs(F.lit(2) * F.col("cnt") - F.col("med2"))
    )
    scored = two_pick(with_med, "a2", ["day"], "mad2")
    return (
        scored.select(
            "event_type",
            # string day — the gapfill_locf convention for date outputs
            # (DuckDB DATE arrives in pandas as a midnight timestamp)
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cnt",
            "med2",
            "mad2",
            (
                F.col("a2") * 10000 > F.lit(_MAD_K10000) * F.col("mad2")
            ).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


_ANOMALY_SQL = f"""
WITH counts AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
m1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY cnt, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nn
  FROM counts
),
m2 AS (
  SELECT event_type, day, cnt,
         sum(CASE WHEN rn = (nn + 1) // 2 THEN cnt ELSE 0 END
             + CASE WHEN rn = (nn + 2) // 2 THEN cnt ELSE 0 END)
           OVER (PARTITION BY event_type) AS med2
  FROM m1
),
m3 AS (
  SELECT *, abs(2 * cnt - med2) AS a2 FROM m2
),
m4 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY a2, day) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nn
  FROM m3
),
m5 AS (
  SELECT event_type, day, cnt, med2, a2,
         sum(CASE WHEN rn = (nn + 1) // 2 THEN a2 ELSE 0 END
             + CASE WHEN rn = (nn + 2) // 2 THEN a2 ELSE 0 END)
           OVER (PARTITION BY event_type) AS mad2
  FROM m4
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       CAST(med2 AS BIGINT) AS med2, CAST(mad2 AS BIGINT) AS mad2,
       a2 * 10000 > {_MAD_K10000} * mad2 AS is_anomaly
FROM m5 ORDER BY event_type, day
"""

ML_QUERIES["anomaly_mad_events"] = (anomaly_mad_events, _ANOMALY_SQL)


# --------------------------------------------------------------------------
# Label propagation communities (final r5 batch) — Raghavan et al.
# 2007's LPA over the undirected md5 link graph: every node starts as
# its own community, then K synchronous rounds where each node adopts
# the most frequent label among its neighbors. Connected components
# (graph_components_lss) answer "what is REACHABLE"; communities answer
# "what is DENSE" — the partition web pipelines use for per-community
# sampling caps and crawl-frontier diversity, a class the graph family
# (components / PageRank / HITS / k-core / triangles) did not cover.
#
# Determinism contract: textbook LPA breaks ties randomly and updates
# asynchronously — both unacceptable under the repo's bit-identical
# rule. Here rounds are SYNCHRONOUS (all nodes update from the same
# snapshot) and ties break to the SMALLEST label (max count, then min
# label), so every engine, partitioning, and retry computes the same
# labels; the oracle replays the identical recurrence as K unrolled
# CTEs. Fixed K (no convergence test) keeps the two engines' iteration
# counts trivially equal.
#
# Scale shape: each round is one edge-sized join (labels are
# node-sized; at 10^12 edges pre-bucket the symmetrized neighbor list
# by node ONCE and every round's join is shuffle-free on the edge
# side) + one groupBy(node, label) count with map-side partial agg +
# one argmax groupBy(node) — the same per-round cost as a PageRank
# step. min(struct(-cnt, lbl)) keeps the argmax inside codegen; labels
# localCheckpoint per round to cut unrolled lineage.
# --------------------------------------------------------------------------

_LPA_ITERS = 4


def label_propagation(spark, sf_dir, n_iters: int = _LPA_ITERS):
    """(node_id, community) after K synchronous LPA rounds; isolated
    nodes keep their own id. Ordered by node_id."""
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    und = _link_edges_undirected(spark, sf_dir)
    nb = (
        und.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .localCheckpoint()
    )
    labels = docs.select("node", F.col("node").alias("lbl"))
    for _ in range(n_iters):
        votes = (
            nb.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        best = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lbl").alias("lbl")
                    )
                ).alias("s")
            )
            .select("node", F.col("s.lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").cast("long").alias("lbl"),
            )
            .localCheckpoint()
        )
    return labels.select(
        F.col("node").alias("node_id"), F.col("lbl").alias("community")
    ).orderBy("node_id")


def _label_propagation_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    rounds = []
    for i in range(1, _LPA_ITERS + 1):
        rounds.append(f"""
v{i} AS (
  SELECT nb.node, l.lbl, CAST(count(*) AS BIGINT) AS cnt
  FROM nb JOIN l{i - 1} l ON l.node = nb.nbr
  GROUP BY nb.node, l.lbl
),
b{i} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, lbl) AS rn
    FROM v{i}
  ) WHERE rn = 1
),
l{i} AS (
  SELECT l.node, CAST(coalesce(b.lbl, l.lbl) AS BIGINT) AS lbl
  FROM l{i - 1} l LEFT JOIN b{i} b ON b.node = l.node
)""")
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM cand WHERE dst <> src
),
nb AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM ue
  UNION ALL SELECT v AS node, u AS nbr FROM ue
),
l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
{",".join(rounds)}
SELECT node AS node_id, lbl AS community
FROM l{_LPA_ITERS} ORDER BY node_id
"""


ML_QUERIES["label_propagation"] = (
    label_propagation,
    _label_propagation_sql(),
)


# --------------------------------------------------------------------------
# Joint degree distribution / degree-mixing matrix (final r5 batch) —
# the edge-level structural summary behind Newman 2002's degree
# assortativity: for every undirected edge, the canonicalized pair of
# endpoint degrees, aggregated to (d_lo, d_hi, n_edges). Node-level
# summaries (degree histogram, k-core, clustering coefficient) say what
# nodes look like; the mixing matrix says what EDGES look like — the
# diagnostic crawl pipelines use to detect hub-to-hub link farms vs
# organic hub-to-leaf topology before trusting link-based priors
# (PageRank/HITS are gameable exactly when assortativity spikes). The
# assortativity coefficient itself is a driver-side scalar from this
# table's exact integer sufficient statistics — publishing the matrix
# keeps the contract float-free.
#
# Scale shape: two node-sized degree joins onto the edge list (at
# 10^12 edges both are shuffle-on-node-id hash joins; the degree table
# is node-sized and AQE will map-side them once it fits) and one
# groupBy over a key space bounded by max_degree^2 — tiny even for
# power-law graphs, so the final agg is effectively a broadcast-sized
# result. No Python, no float.
# --------------------------------------------------------------------------


def degree_mixing(spark, sf_dir):
    """(d_lo, d_hi, n_edges): how many undirected edges connect a
    degree-d_lo node to a degree-d_hi node. Ordered by (d_lo, d_hi)."""
    und = _link_edges_undirected(spark, sf_dir)
    deg = (
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("d"))
    )
    e = und.join(
        deg.select(F.col("id").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("d").alias("dv")), "v")
    return (
        e.select(
            F.least("du", "dv").alias("d_lo"),
            F.greatest("du", "dv").alias("d_hi"),
        )
        .groupBy("d_lo", "d_hi")
        .agg(F.count("*").cast("long").alias("n_edges"))
        .orderBy("d_lo", "d_hi")
    )


def _degree_mixing_sql() -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )
    return f"""
WITH cnt AS (SELECT count(*) AS n FROM documents),
cand AS ({cand}),
ue AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM cand WHERE dst <> src
),
deg AS (
  SELECT node_id, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT unnest([u, v]) AS node_id FROM ue)
  GROUP BY node_id
)
SELECT least(a.d, b.d) AS d_lo, greatest(a.d, b.d) AS d_hi,
       CAST(count(*) AS BIGINT) AS n_edges
FROM ue JOIN deg a ON a.node_id = ue.u JOIN deg b ON b.node_id = ue.v
GROUP BY d_lo, d_hi ORDER BY d_lo, d_hi
"""


ML_QUERIES["degree_mixing"] = (degree_mixing, _degree_mixing_sql())


# --------------------------------------------------------------------------
# Exact dyadic EWMA of daily event volumes (final r5 batch) — the
# trend-smoothing leg of the time-series family (gapfill_locf =
# resample, anomaly_mad_events = robust outliers; this = the smoothed
# baseline those outliers are judged against in production monitors).
# Textbook EWMA (s_t = a*x_t + (1-a)*s_{t-1}) is an infinite float
# recurrence — order-dependent rounding, the exact nondeterminism
# class this repo bans. Here a = 1/2 and the window TRUNCATES at the
# last _EWMA_K observed days, so every weight is a power of two and
# the smoothed value is a ratio of two exact int64 sums:
# num = sum_i 2^(K-1-i) * cnt_{t-i}, den = sum_i 2^(K-1-i) over the
# lags that exist — reported as ewma_milli = (1000*num) DIV den.
# Truncation error vs the infinite recurrence is <= 2^-K of the mass
# (documented, bounded in pytest); determinism is total.
#
# Window semantics are ROW-based over observed days (lag i = i-th
# previous day WITH events, matching the monitors-over-sparse-streams
# convention); compose with gapfill_locf upstream when calendar lags
# are wanted. Scale shape: one groupBy(event_type, day) with map-side
# partials collapses 10^12 events to series-length rows; the K lags
# are ONE window pass per series (partitionBy event_type — series
# count bounds parallelism, the standard per-key window layout), all
# codegen, no Python.
# --------------------------------------------------------------------------

_EWMA_K = 8


def ewma_events(spark, sf_dir):
    """(event_type, day, cnt, ewma_milli): dyadic-weight truncated EWMA
    of daily event counts over the last _EWMA_K observed days."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w = W.partitionBy("event_type").orderBy("day")
    num = None
    den = None
    for i in range(_EWMA_K):
        wt = 1 << (_EWMA_K - 1 - i)
        lag = F.lag("cnt", i).over(w) if i else F.col("cnt")
        term = F.coalesce(lag, F.lit(None)).cast("long")
        n_i = F.when(term.isNotNull(), term * wt).otherwise(F.lit(0))
        d_i = F.when(term.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
        num = n_i if num is None else num + n_i
        den = d_i if den is None else den + d_i
    return (
        counts.withColumn("num", num.cast("long"))
        .withColumn("den", den.cast("long"))
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cnt",
            F.expr("(1000 * num) DIV den").alias("ewma_milli"),
        )
        .orderBy("event_type", "day")
    )


def _ewma_sql() -> str:
    nums = []
    dens = []
    for i in range(_EWMA_K):
        wt = 1 << (_EWMA_K - 1 - i)
        lag = f"lag(cnt, {i}) OVER w" if i else "cnt"
        nums.append(f"coalesce({lag} * {wt}, 0)")
        dens.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt} ELSE 0 END")
    return f"""
WITH counts AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
sm AS (
  SELECT event_type, day, cnt,
         CAST({" + ".join(nums)} AS BIGINT) AS num,
         CAST({" + ".join(dens)} AS BIGINT) AS den
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       (1000 * num) // den AS ewma_milli
FROM sm ORDER BY event_type, day
"""


ML_QUERIES["ewma_events"] = (ewma_events, _ewma_sql())


# --------------------------------------------------------------------------
# Last-touch conversion attribution (final r5 batch) — the marketing/
# telemetry workload the event family (sessionize / funnel / retention
# / CDC) still lacked: every `purchase` is attributed to the user's
# most recent preceding touch (`click` or `view`) within a 7-day
# lookback, else to the `direct` channel, and revenue rolls up per
# channel. First-touch and linear attribution are the same plan with
# a different pick (first_value / all touches) — last-touch is the
# hardest to make deterministic, so it is the one under oracle.
#
# Determinism contract: the per-user event order is (ts, event_id) —
# ts alone can tie (two events in the same microsecond), and a tied
# scan order would flip which touch is "last" between engines.
# Lookback compare is exact integer microseconds (unix_micros /
# epoch_us); revenue is exact integer cents (the Q1 money rule).
#
# Scale shape: ONE window pass per user (partitionBy user_id — the
# sessionize layout; 10^12 events shuffle once on user_id, the same
# shuffle sessionize/funnel already pay, so at scale the three share
# one repartition), carrying the last touch via last_value(...
# IGNORE NULLS) — no self-join, no range join against the touch
# table (the naive plan: purchases ⋈ touches ON user AND ts BETWEEN
# is a per-user quadratic). The rollup is a channel-sized groupBy.
# --------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 86400 * 1_000_000


def attribution_last_touch(spark, sf_dir):
    """(channel, n_purchases, revenue_cents): purchases attributed to
    the last click/view touch within 7 days, else 'direct'."""
    ev = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_touch = F.col("event_type").isin("click", "view")
    # ONE struct carry -> one Window operator (two parallel last_value
    # columns cost a second Window pass over the same sort)
    touched = ev.withColumn(
        "touch",
        F.last(
            F.when(is_touch, F.struct("ts", F.col("event_type").alias("et"))),
            ignorenulls=True,
        ).over(w),
    ).where(F.col("event_type") == "purchase")
    return (
        touched.select(
            F.when(
                F.col("touch").isNotNull()
                & (
                    # the cast makes unix_micros read the same
                    # naive-UTC instant DuckDB's epoch_us sees
                    # (session timezone pinned to UTC)
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("touch.ts").cast("timestamp"))
                    <= F.lit(_ATTR_LOOKBACK_US)
                ),
                F.col("touch.et"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


_ATTRIBUTION_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN ts END IGNORE NULLS) OVER w AS touch_ts,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS) OVER w
           AS touch_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CASE WHEN touch_ts IS NOT NULL
            AND epoch_us(ts) - epoch_us(touch_ts) <= {_ATTR_LOOKBACK_US}
            THEN touch_type ELSE 'direct' END AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM marked WHERE event_type = 'purchase'
GROUP BY channel ORDER BY channel
"""

ML_QUERIES["attribution_last_touch"] = (
    attribution_last_touch,
    _ATTRIBUTION_SQL,
)


# --------------------------------------------------------------------------
# First-order Markov transition matrix (final r5 batch) — the
# behavioral model under next-event prediction and bot detection:
# per-user event streams become (prev_type, next_type) transition
# counts plus row-normalized probabilities. Probabilities in exact
# ppm (cnt * 10^6 DIV row_total — truncating integer division in both
# engines), so the matrix is bit-identical under any partitioning.
#
# Scale shape: the lag is one window pass per user (the attribution /
# sessionize shuffle, shareable at scale); the count is a
# groupBy(prev, next) with map-side partials onto a key space of
# |types|² rows — broadcast-tiny. The row totals join is against a
# |types|-row aggregate. 10^12 events, two all-small shuffles after
# the user_id one.
# --------------------------------------------------------------------------


def markov_transitions(spark, sf_dir):
    """(prev_type, next_type, n, p_ppm): per-user first-order event
    transitions; p_ppm = n * 1e6 DIV total transitions out of
    prev_type."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    # row totals as a window over the |types|^2-row aggregate — a
    # groupBy+join here would re-scan the event table for both sides
    return (
        pairs.withColumn(
            "tot", F.sum("n").over(W.partitionBy("prev_type"))
        )
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(n * 1000000) DIV tot").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


_MARKOV_SQL = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
),
cnts AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tots AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot
         FROM cnts GROUP BY prev_type)
SELECT c.prev_type, c.next_type, c.n,
       CAST((c.n * 1000000) // t.tot AS BIGINT) AS p_ppm
FROM cnts c JOIN tots t USING (prev_type)
ORDER BY c.prev_type, c.next_type
"""

ML_QUERIES["markov_transitions"] = (markov_transitions, _MARKOV_SQL)


# --------------------------------------------------------------------------
# Theil–Sen trend slope (final r5 batch) — the robust trend estimator
# over daily event volumes: the median of all pairwise slopes
# (cnt_j - cnt_i) / (day_j - day_i), i < j. Completes the robust
# time-series triple (anomaly_mad_events = robust dispersion,
# ewma_events = smoothed level, this = robust TREND — up to ~29% of
# days can be corrupted before the slope moves, vs 0% for OLS).
#
# Exactness: each pairwise slope is the integer key
# (Δcnt * 10^6) DIV Δdays (truncating division, identical in both
# engines — ties introduced by truncation are broken by (di, dj), so
# the sort is total); the median is the TWO-PICK rule over that key
# (slope2 = key@lo + key@hi, exact int64 — no float interpolation,
# the anomaly_mad_events trick). The reported slope2_ppm is 2× the
# median slope in ppm units.
#
# Scale shape: the pair build is a per-series self-join — O(n²) in
# SERIES LENGTH (days), not events: 10^12 events collapse to
# per-(type, day) counts first (one map-side-combinable groupBy), so
# a 10-year daily series is ~3.6k points → ~6.6M pairs per series,
# shuffled only on event_type. For longer series production uses the
# repeated-median variant or pair sampling; documented, not needed at
# day-granularity.
# --------------------------------------------------------------------------


def theil_sen_trend(spark, sf_dir):
    """(event_type, n_days, n_pairs, slope2_ppm): two-pick median of
    pairwise daily-volume slopes per event type."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    a = daily.select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01")).cast("long").alias("d1"),
        F.col("cnt").alias("c1"),
    )
    b = daily.select(
        "event_type",
        F.datediff("day", F.lit("2024-01-01")).cast("long").alias("d2"),
        F.col("cnt").alias("c2"),
    )
    pairs = a.join(b, "event_type").where(F.col("d1") < F.col("d2")).select(
        "event_type",
        "d1",
        "d2",
        F.expr("((c2 - c1) * 1000000) DIV (d2 - d1)").alias("sk"),
    )
    wp = W.partitionBy("event_type")
    ranked = (
        pairs.withColumn(
            "rn", F.row_number().over(wp.orderBy("sk", "d1", "d2"))
        )
        .withColumn("nn", F.count("*").over(wp))
    )
    lo = F.expr("(nn + 1) DIV 2")
    hi = F.expr("(nn + 2) DIV 2")
    return (
        ranked.withColumn(
            "slope2_ppm",
            F.sum(
                F.when(F.col("rn") == lo, F.col("sk")).otherwise(0)
                + F.when(F.col("rn") == hi, F.col("sk")).otherwise(0)
            ).over(wp),
        )
        .groupBy("event_type")
        .agg(
            (F.max("d2") - F.min("d1") + 1).alias("n_days"),
            F.max("nn").alias("n_pairs"),
            F.max("slope2_ppm").alias("slope2_ppm"),
        )
        .orderBy("event_type")
    )


_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT) AS d,
         cnt
  FROM daily
),
pairs AS (
  SELECT a.event_type, a.d AS d1, b.d AS d2,
         ((b.cnt - a.cnt) * 1000000) // (b.d - a.d) AS sk
  FROM idx a JOIN idx b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY sk, d1, d2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS nn
  FROM pairs
),
med AS (
  SELECT event_type, d1, d2, nn,
         sum(CASE WHEN rn = (nn + 1) // 2 THEN sk ELSE 0 END
             + CASE WHEN rn = (nn + 2) // 2 THEN sk ELSE 0 END)
           OVER (PARTITION BY event_type) AS slope2_ppm
  FROM ranked
)
SELECT event_type,
       CAST(max(d2) - min(d1) + 1 AS BIGINT) AS n_days,
       CAST(max(nn) AS BIGINT) AS n_pairs,
       CAST(max(slope2_ppm) AS BIGINT) AS slope2_ppm
FROM med GROUP BY event_type ORDER BY event_type
"""

ML_QUERIES["theil_sen_trend"] = (theil_sen_trend, _THEIL_SEN_SQL)


# --------------------------------------------------------------------------
# Session path mining (final r5 batch 3) — the "what do users DO"
# complement of funnel_events (which checks ONE prescribed order):
# sessionize (the 30-min-gap rule, verbatim from sessionize_events),
# take each session's first _SP_LEN events in (ts, event_id) order,
# and count sessions per ordered path string — the top-paths table
# behind Sankey/flow dashboards and the bot-shape prior (scripted
# clients produce one dominant path; humans produce a heavy tail).
#
# Determinism: the path is built from row_number() in the SAME
# (ts, event_id) total order both engines use everywhere else (ties
# at one microsecond cannot reorder), Spark side via
# array_sort(struct(rn, event_type)) -> array_join (codegen, no
# Python), oracle via string_agg(... ORDER BY rn); the top-k cut
# orders by (n_sessions DESC, path) so the LIMIT boundary is total.
#
# Scale shape: the user_id window shuffle is the sessionize/
# attribution/markov partitioning (shared at scale); per-session
# collect_list is bounded by _SP_LEN rows; the path groupBy lands on
# a key space bounded by |types|^_SP_LEN (~3k here) with map-side
# partials, and the cut is TakeOrderedAndProject — 10^12 events never
# produce more than the path-vocabulary rows after the partial agg.
# --------------------------------------------------------------------------

_SP_LEN = 5
_SP_TOPK = 20


def session_paths(spark, sf_dir):
    """(path, n_sessions): top _SP_TOPK ordered event-type paths over
    the first _SP_LEN events of every 30-min-gap session."""
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.withColumn(
        "new_session",
        (
            us - F.coalesce(F.lag(us).over(w), F.lit(-(10**18)))
            > 1800000000
        ).cast("int"),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    first = sess.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= _SP_LEN
    )
    paths = first.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("rn").alias("rn"),
                            F.col("event_type").alias("et"),
                        )
                    )
                ),
                lambda x: x["et"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(_SP_TOPK)
    )


_SESSION_PATHS_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts)
                   - coalesce(lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id),
                     -1000000000000000000) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM gaps
),
ranked AS (
  SELECT user_id, session_id, event_type,
         row_number() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {_SP_LEN}
  GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT {_SP_TOPK}
"""

ML_QUERIES["session_paths"] = (session_paths, _SESSION_PATHS_SQL)


# --------------------------------------------------------------------------
# Containment join (final r5 batch 4) — asymmetric near-dup: find
# corpus documents that CONTAIN a probe quote at shingle-containment
# |A ∩ B| / |A| >= tau (A = quote shingles). This is the quote/
# subset-detection class Jaccard dedup structurally misses: a 10-word
# passage inside a 10k-word page has Jaccard ~0.001 but containment
# 1.0 — the semantics behind benchmark-contamination checks on LONG
# documents and quotation mining. Probe synthesis: every doc_id % 13
# == 5 document contributes its first _CJ_QLEN words as a quote under
# probe_id = doc_id + 500000 (so every probe has >= 1 planted match).
#
# The plan is the inverted-index form, NOT set-vs-set verify: explode
# quote shingles, equi-join the corpus shingle index, and
# groupBy(probe, doc) COUNT — the group count IS |A ∩ B| (both sides
# distinct), so no collect_set, no array intersection, no second
# corpus pass. The threshold is the exact integer cross-multiply
# inter*DEN >= |A|*NUM (no float tau boundary); containment_ppm =
# inter·10⁶ DIV |A| rides along.
#
# Scale shape: ONE shuffle keyed on the shingle, then one on
# (probe_id, doc_id) — at 10^12 docs the shingle join is the classic
# inverted-index skew workload: stop-shingles (df in the millions) fan
# out quadratically, and the production mitigation is a df-cap join
# (drop shingles above a document-frequency threshold — they carry no
# discrimination for tau >= 0.5 unless the quote is ALL stop-shingles,
# the same bound bm25/phrase_search document). Not applied here (40-
# word vocabulary, df is tiny) — documented, as with
# link_prediction_cn's hub cap.
# --------------------------------------------------------------------------

_CJ_QLEN = 8
_CJ_NUM, _CJ_DEN = 4, 5  # tau = 0.8
_CJ_PROBE_OFFSET = 500000


def containment_join(spark, sf_dir):
    """(probe_id, doc_id, inter, probe_sz, containment_ppm) for every
    corpus doc containing >= 4/5 of a probe quote's 3-shingles."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_tok = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("tok")
    ).where(F.col("tok") != "")
    quotes = docs.where(F.col("doc_id") % 13 == 5).select(
        (F.col("doc_id") + _CJ_PROBE_OFFSET).alias("probe_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, _CJ_QLEN)
        ).alias("quote"),
    )
    probe_tok = quotes.select(
        "probe_id", F.explode(word_shingles(F.col("quote"), 3)).alias("tok")
    ).where(F.col("tok") != "")
    probe_sz = probe_tok.groupBy("probe_id").agg(
        F.count("*").cast("long").alias("probe_sz")
    )
    inter = (
        probe_tok.join(corpus_tok, "tok")
        .groupBy("probe_id", "doc_id")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(F.broadcast(probe_sz), "probe_id")
        .where(F.col("inter") * _CJ_DEN >= F.col("probe_sz") * _CJ_NUM)
        .select(
            "probe_id",
            "doc_id",
            "inter",
            "probe_sz",
            F.expr("(inter * 1000000) DIV probe_sz").alias(
                "containment_ppm"
            ),
        )
        .orderBy("probe_id", "doc_id")
    )


def _containment_sql() -> str:
    quote = (
        f"array_to_string(string_split(text, ' ')[1:{_CJ_QLEN}], ' ')"
    )
    probe_src = (
        f"(SELECT doc_id + {_CJ_PROBE_OFFSET} AS doc_id, {quote} AS text "
        f"FROM documents WHERE doc_id % 13 = 5)"
    )
    return f"""
WITH csh AS ({_shingle_sql(3)}),
ctok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(sh) AS tok FROM csh
  ) WHERE tok <> ''
),
psh AS ({_shingle_sql(3, probe_src)}),
ptok AS (
  SELECT doc_id AS probe_id, tok FROM (
    SELECT doc_id, unnest(sh) AS tok FROM psh
  ) WHERE tok <> ''
),
psz AS (
  SELECT probe_id, CAST(count(*) AS BIGINT) AS probe_sz
  FROM ptok GROUP BY probe_id
),
inter AS (
  SELECT p.probe_id, c.doc_id, CAST(count(*) AS BIGINT) AS inter
  FROM ptok p JOIN ctok c USING (tok)
  GROUP BY p.probe_id, c.doc_id
)
SELECT i.probe_id, i.doc_id, i.inter, s.probe_sz,
       CAST((i.inter * 1000000) // s.probe_sz AS BIGINT)
         AS containment_ppm
FROM inter i JOIN psz s USING (probe_id)
WHERE i.inter * {_CJ_DEN} >= s.probe_sz * {_CJ_NUM}
ORDER BY i.probe_id, i.doc_id
"""


ML_QUERIES["containment_join"] = (containment_join, _containment_sql())


# --------------------------------------------------------------------------
# Code-switching detection (final r5 batch 5) — the corpus-quality
# signal lang_id_stopword can't see: a document whose WHOLE-DOC vote
# says 'en' may still interleave German/French passages (forum
# quotes, boilerplate chrome, bilingual pages), and mixed-language
# docs poison both monolingual filtering and tokenizer fertility.
# Per doc: split into consecutive _CS_CHUNK-word chunks (the corpus
# has no sentence punctuation — fixed windows are the deterministic
# stand-in; swap the chunker for a sentence splitter in production,
# the plan is unchanged), LID every chunk with the SAME
# stopword-argmax + tie-break rule as lang_id_stopword, and count
# chunks whose confident prediction disagrees with the doc-level
# prediction. Output switch_ppm = n_switched·10⁶ DIV n_chunks.
#
# Scale shape: one scan; chunking is sequence + slice + posexplode
# (pure codegen — no Python, no shuffle until the per-doc regroup);
# per-chunk scoring is array_intersect against three literal arrays;
# the regroup is one map-side-combinable groupBy(doc_id). At 10^12
# docs this is embarrassingly parallel — the only shuffle key is
# doc_id, and chunk fan-out is len/Chunk bounded by the same monster-
# doc chunking story as the munge cascade (operators/chunked.py).
# --------------------------------------------------------------------------

_CS_CHUNK = 10
# Planted code-switch (the dedup/PII synthesis convention — the natural
# corpus never switches confidently, which would leave the switch
# branch vacuous): every doc_id % 9 == 2 doc gains a 20-word German
# stopword run. 20 >= 2*_CS_CHUNK guarantees >= 1 FULL all-German chunk
# under ANY chunk alignment, so a confident 'de' chunk always exists.
_CS_DE_RUN = " ".join(
    (STOPWORDS_DE + STOPWORDS_DE + STOPWORDS_DE[:2])
)


def _cs_pred(s_en, s_de, s_fr):
    return (
        F.when((s_en >= s_de) & (s_en >= s_fr) & (s_en > 0), "en")
        .when((s_de >= s_fr) & (s_de > 0), "de")
        .when(s_fr > 0, "fr")
        .otherwise("unknown")
    )


def code_switch_stats(spark, sf_dir):
    """(doc_id, doc_lang, n_chunks, n_switched, switch_ppm): chunks
    whose confident stopword-LID disagrees with the doc-level LID."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 2,
            F.concat(F.col("text"), F.lit(" " + _CS_DE_RUN)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    s_en = stopword_hits(F.col("text"), STOPWORDS_EN)
    s_de = stopword_hits(F.col("text"), STOPWORDS_DE)
    s_fr = stopword_hits(F.col("text"), STOPWORDS_FR)
    base = docs.select(
        "doc_id",
        _cs_pred(s_en, s_de, s_fr).alias("doc_lang"),
        F.split(F.lower(F.col("text")), " ").alias("wr"),
    )
    chunks = base.select(
        "doc_id",
        "doc_lang",
        F.explode(
            F.expr(
                f"transform(sequence(0, (size(wr) + {_CS_CHUNK - 1}) "
                f"DIV {_CS_CHUNK} - 1), "
                f"i -> slice(wr, i * {_CS_CHUNK} + 1, {_CS_CHUNK}))"
            )
        ).alias("cw"),
    )

    def hits(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.array_intersect(F.array_distinct(F.col("cw")), arr))

    scored = chunks.select(
        "doc_id",
        "doc_lang",
        _cs_pred(
            hits(STOPWORDS_EN), hits(STOPWORDS_DE), hits(STOPWORDS_FR)
        ).alias("chunk_lang"),
    )
    return (
        scored.groupBy("doc_id", "doc_lang")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(
                F.when(
                    (F.col("chunk_lang") != F.col("doc_lang"))
                    & (F.col("chunk_lang") != "unknown"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_switched"),
        )
        .select(
            "doc_id",
            "doc_lang",
            "n_chunks",
            "n_switched",
            F.expr("(n_switched * 1000000) DIV n_chunks").alias(
                "switch_ppm"
            ),
        )
        .orderBy("doc_id")
    )


def _code_switch_sql() -> str:
    def pred(e, d, f):
        return (
            f"CASE WHEN {e} >= {d} AND {e} >= {f} AND {e} > 0 THEN 'en' "
            f"WHEN {d} >= {f} AND {d} > 0 THEN 'de' "
            f"WHEN {f} > 0 THEN 'fr' ELSE 'unknown' END"
        )

    def hits(src, lst):
        return f"len(list_intersect(list_distinct({src}), {lst!r}))"

    doc_pred = pred(
        hits("wr", STOPWORDS_EN),
        hits("wr", STOPWORDS_DE),
        hits("wr", STOPWORDS_FR),
    )
    chunk_pred = pred(
        hits("cw", STOPWORDS_EN),
        hits("cw", STOPWORDS_DE),
        hits("cw", STOPWORDS_FR),
    )
    c = _CS_CHUNK
    return f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 2 THEN text || {" " + _CS_DE_RUN!r}
              ELSE text END AS text
  FROM documents
),
base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS wr FROM injected
),
docpred AS (
  SELECT doc_id, wr, {doc_pred} AS doc_lang FROM base
),
chunks AS (
  SELECT doc_id, doc_lang,
         wr[(i * {c} + 1):(i * {c} + {c})] AS cw
  FROM docpred, unnest(range(0, (len(wr) + {c - 1}) // {c})) AS t(i)
),
scored AS (
  SELECT doc_id, doc_lang, {chunk_pred} AS chunk_lang FROM chunks
)
SELECT doc_id, doc_lang,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN chunk_lang <> doc_lang
                      AND chunk_lang <> 'unknown'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_switched,
       CAST((sum(CASE WHEN chunk_lang <> doc_lang
                       AND chunk_lang <> 'unknown'
                      THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS switch_ppm
FROM scored GROUP BY doc_id, doc_lang ORDER BY doc_id
"""


ML_QUERIES["code_switch_stats"] = (code_switch_stats, _code_switch_sql())


# --------------------------------------------------------------------------
# k-truss decomposition (final r5 batch 6) — the EDGE-cohesion peel
# the graph family's k_core (node-degree peel) upper-bounds but does
# not imply: an edge survives the k-truss iff it participates in
# >= k-2 triangles among surviving edges, iterated to fixpoint
# (Cohen 2008). Trusses are the community-core primitive spam/link-
# farm analysis uses where k-core is too loose — a star hub passes
# k-core trivially but has ZERO triangle support. Output is the
# fixpoint edge list with each edge's within-truss support.
#
# Per round: ONE oriented wedge self-join enumerates each triangle
# exactly once (u<v orientation; a<b<c by construction), each
# triangle votes support into its three edges (unionAll + groupBy —
# map-side combinable), and edges below k-2 are dropped; fixpoint() runs
# the rounds. The oracle unrolls _KTRUSS_ROUNDS rounds MATERIALIZED — peeling is
# monotone, so rounds past the fixpoint are identity (the k_core
# over-unroll argument).
#
# Scale shape: the round cost is triangle enumeration — at 10^12
# edges use the degree-oriented wedge build (triangle_count's
# m^1.5 bound) and re-materialize the shrinking edge set per round;
# the support groupBy is keyed on canonical edge pairs. Rounds are
# O(peel depth), typically a handful; each is a full but shrinking
# scan — the classic iterative-graph trade documented at
# SCALE.md §17.
# --------------------------------------------------------------------------

KTRUSS_K = 3
_KTRUSS_ROUNDS = 12


def _truss_support(edges):
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    es = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
    )
    return es.groupBy("u", "v").agg(F.count("*").cast("long").alias("s"))


def k_truss(spark, sf_dir, k: int = KTRUSS_K):
    """(u, v, support) for every edge of the k-truss fixpoint of the
    undirected link graph, ordered by (u, v)."""
    def peel(edges):
        return _truss_support(edges).where(F.col("s") >= k - 2).select("u", "v")

    # the edge list is distinct, and each round's groupBy(u, v) keeps it so
    edges = fixpoint(
        _link_edges_undirected(spark, sf_dir), peel, "k_truss", _KTRUSS_ROUNDS
    )
    return (
        _truss_support(edges)
        .select("u", "v", F.col("s").alias("support"))
        .orderBy("u", "v")
    )


def _k_truss_sql(k: int = KTRUSS_K) -> str:
    def h(j: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('pr{j}:', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % n)"
        )

    cand = " UNION ALL ".join(
        f"SELECT doc_id AS src, {h(j)} AS dst FROM documents, cnt "
        f"WHERE doc_id % {_PR_DANGLE_MOD} <> 3"
        for j in range(3)
    )

    def sup(r: int) -> str:
        return (
            f"s{r} AS MATERIALIZED ("
            f"WITH tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
            f"FROM e{r} e1 JOIN e{r} e2 ON e1.v = e2.u "
            f"JOIN e{r} e3 ON e3.u = e1.u AND e3.v = e2.v) "
            f"SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM ("
            f"SELECT a AS u, b AS v FROM tri "
            f"UNION ALL SELECT b, c FROM tri "
            f"UNION ALL SELECT a, c FROM tri) GROUP BY u, v)"
        )

    parts = [
        f"WITH cnt AS (SELECT count(*) AS n FROM documents), "
        f"cand AS ({cand}), "
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM cand WHERE dst <> src)"
    ]
    for r in range(_KTRUSS_ROUNDS):
        parts.append(sup(r))
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT u, v FROM s{r} "
            f"WHERE s >= {k - 2})"
        )
    parts.append(sup(_KTRUSS_ROUNDS))
    return (
        ", ".join(parts)
        + f" SELECT u, v, s AS support FROM s{_KTRUSS_ROUNDS} "
        "ORDER BY u, v"
    )


ML_QUERIES["k_truss"] = (k_truss, _k_truss_sql())


# --------------------------------------------------------------------------
# Grid-bucketed spatial self-join (final r5 batch 7) — the geospatial
# class (geo-dedup of scraped POI/listing pages, location-based
# near-dup): all point pairs within radius R, via the classic
# fixed-grid candidate generator. Coordinates are synthesized
# deterministically from doc_id (md5 micro-degree fixed-point ints in
# a 10^6 x 10^6 box — no floats anywhere, so the distance predicate
# is exact int64 arithmetic in both engines).
#
# The plan: cell = (lat DIV R, lon DIV R); one side explodes to its
# 3x3 neighbor cells, the other keeps its home cell, and the
# candidate join is a pure EQUI-join on the cell key — every true
# pair shares the probe's neighborhood (cell sizes >= R guarantee
# recall 100%), and candidates are O(density^2 per cell), never
# O(n^2). Verify = exact squared-distance <= R^2; each unordered
# pair emitted once (a < b; DISTINCT collapses the double discovery
# when the two points straddle two neighborhoods).
#
# The ORACLE is the NAIVE quadratic join (cross a < b + distance
# filter) — a different algorithm entirely, so the comparison checks
# the grid algebra's recall/precision, not a replay of itself (the
# interval_overlap_join convention). Scale shape: the equi-join
# shuffles on cell ids — skew equals spatial density skew, and the
# production mitigation is quadtree-adaptive cells (split hot cells)
# or the salting recipe; 10^12 points never pair across cells farther
# than one neighborhood apart.
# --------------------------------------------------------------------------

_SP_R = 5000  # radius in micro-units; cell edge = R


def spatial_join_grid(spark, sf_dir):
    """(a, b, d2) for every unordered point pair within _SP_R
    (exact integer squared distance), ordered by (a, b)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        (_md5_long("lat:", F.col("doc_id")) % 1_000_000).alias("lat"),
        (_md5_long("lon:", F.col("doc_id")) % 1_000_000).alias("lon"),
    )
    home = pts.select(
        F.col("id").alias("b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.expr(f"lat DIV {_SP_R}").alias("cx"),
        F.expr(f"lon DIV {_SP_R}").alias("cy"),
    )
    probe = pts.select(
        F.col("id").alias("a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx -> "
                f"transform(sequence(-1, 1), dy -> "
                f"struct(lat DIV {_SP_R} + dx AS cx, "
                f"lon DIV {_SP_R} + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("a", "lat_a", "lon_a", "cell.cx", "cell.cy")
    return (
        probe.join(home, ["cx", "cy"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            (
                (F.col("lat_a") - F.col("lat_b"))
                * (F.col("lat_a") - F.col("lat_b"))
                + (F.col("lon_a") - F.col("lon_b"))
                * (F.col("lon_a") - F.col("lon_b"))
            ).alias("d2"),
        )
        .where(F.col("d2") <= _SP_R * _SP_R)
        .distinct()
        .orderBy("a", "b")
    )


def _spatial_join_sql() -> str:
    def m(tag: str) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat('{tag}', "
            f"CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000)"
        )

    return f"""
WITH pts AS (
  SELECT doc_id AS id, {m("lat:")} AS lat, {m("lon:")} AS lon
  FROM documents
)
SELECT p.id AS a, q.id AS b,
       CAST((p.lat - q.lat) * (p.lat - q.lat)
            + (p.lon - q.lon) * (p.lon - q.lon) AS BIGINT) AS d2
FROM pts p JOIN pts q ON p.id < q.id
WHERE (p.lat - q.lat) * (p.lat - q.lat)
      + (p.lon - q.lon) * (p.lon - q.lon) <= {_SP_R * _SP_R}
ORDER BY a, b
"""


ML_QUERIES["spatial_join_grid"] = (spatial_join_grid, _spatial_join_sql())


# --------------------------------------------------------------------------
# Exact AUC (final r5 batch 7) — the ranking-quality metric the
# model-eval family (quality_classifier = scores, isotonic_calibrate
# = calibration, quality_calibrate = percent-rank) still lacked:
# AUC-ROC of a score against a binary label, computed EXACTLY via the
# Mann-Whitney rank-sum identity with midrank tie handling — the
# trapezoidal-sweep result, no curve discretization, no floats.
# Labels/scores are synthesized deterministically (label = doc_id % 3
# == 0; score = n_chars + 50·label, so the metric is discriminative,
# not a coin flip) — swap in a real classifier column in production,
# the plan is unchanged.
#
# Exactness: midranks are half-integers, so everything is scaled by
# 2 — per distinct-score group the doubled midrank is
# (2·cum_before + cnt + 1), positives contribute pos·that, and
# U2 = Σ − n_pos·(n_pos+1); auc_ppm = U2·10⁶ DIV (2·n_pos·n_neg).
# All int64, bit-identical under any partitioning (sums are
# order-independent integers).
#
# Scale shape: the quantile_buckets recipe — ONE map-side-combinable
# groupBy(score) collapses 10^12 rows to the score domain, the
# running count is a window over DISTINCT scores (hundreds of rows,
# commented like quantile_buckets' global-window note), and the
# final reduce is a single-row agg. No global per-row rank window —
# a rank() over 10^12 rows is a single-partition sort, the classic
# AUC-at-scale mistake.
# --------------------------------------------------------------------------


def auc_exact(spark, sf_dir):
    """One row (n_pos, n_neg, u2, auc_ppm): exact Mann-Whitney AUC of
    the synthetic score/label pair."""
    docs = t(spark, sf_dir, "documents")
    scored = docs.select(
        (F.col("doc_id") % 3 == 0).cast("long").alias("label"),
        (
            F.length("text")
            + 50 * (F.col("doc_id") % 3 == 0).cast("long")
        ).alias("score"),
    )
    g = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("label").cast("long").alias("pos"),
    )
    # global window, but over DISTINCT scores (hundreds), not rows —
    # the quantile_buckets convention
    wcum = W.orderBy("score").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = g.withColumn(
        "cum_before", F.sum("cnt").over(wcum) - F.col("cnt")
    )
    return (
        ranked.agg(
            F.sum("pos").alias("n_pos"),
            (F.sum("cnt") - F.sum("pos")).alias("n_neg"),
            F.sum(
                F.col("pos")
                * (2 * F.col("cum_before") + F.col("cnt") + 1)
            ).alias("sum2"),
        )
        .select(
            "n_pos",
            "n_neg",
            (
                F.col("sum2") - F.col("n_pos") * (F.col("n_pos") + 1)
            ).alias("u2"),
        )
        .select(
            "n_pos",
            "n_neg",
            "u2",
            F.expr(
                "(u2 * 1000000) DIV (2 * n_pos * n_neg)"
            ).alias("auc_ppm"),
        )
    )


_AUC_SQL = """
WITH scored AS (
  SELECT CAST(doc_id % 3 = 0 AS BIGINT) AS label,
         CAST(length(text) + 50 * CAST(doc_id % 3 = 0 AS BIGINT)
              AS BIGINT) AS score
  FROM documents
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(label) AS BIGINT) AS pos
  FROM scored GROUP BY score
),
ranked AS (
  SELECT *, CAST(sum(cnt) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - cnt AS BIGINT) AS cum_before
  FROM g
),
agg AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS sum2
  FROM ranked
)
SELECT n_pos, n_neg,
       CAST(sum2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
       CAST(((sum2 - n_pos * (n_pos + 1)) * 1000000)
            // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM agg
"""

ML_QUERIES["auc_exact"] = (auc_exact, _AUC_SQL)


# --------------------------------------------------------------------------
# CUSUM change-point detection (r5 resumed batch) — SEQUENTIAL drift
# detection, the capability the time-series family still lacked:
# anomaly_mad_events is pointwise (each day judged alone), ewma_events
# is smoothing; CUSUM accumulates evidence ACROSS days, catching small
# sustained shifts no single-day test can see (Page 1954).
#
# The textbook recursion S_i = max(0, S_{i-1} + x_i - (mu + k)) looks
# inherently sequential, but it is exactly a prefix trick: with
# y_i = x_i - mu - k and P_i = sum_{j<=i} y_j (P_0 = 0),
#     S_i = P_i - min_{0<=j<=i} P_j
# so two cumulative windows (running sum + running min, same frame)
# replace the per-row recursion — no UDF, no iteration, pure codegen.
#
# Scale shape: ONE map-side-combinable groupBy collapses 10^12 events
# to (event_type x day) rows; the windows then run per event_type over
# a handful of daily rows (partitioned, NOT global); mu/slack is a
# per-type 1-row dim broadcast back. All integer (counts, floor-div
# mu), bit-identical under any partitioning. Days with zero events are
# simply absent (CUSUM over observed days; gapfill_events/gapfill_locf
# are the densification ops).
# --------------------------------------------------------------------------


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """Shared CUSUM scorer over a (event_type, day: yyyy-MM-dd string,
    cnt: long) daily-count frame — the batch op aggregates events to
    this shape; the streaming twin maintains it incrementally in a
    state table and calls the SAME function (lexicographic order on
    the yyyy-MM-dd string IS chronological order)."""
    # per-type target mean + slack: tiny dim (one row per event_type)
    dim = daily.groupBy("event_type").agg(
        F.expr("sum(cnt) DIV count(*)").alias("mu"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(sum(cnt) DIV count(*)) DIV 10"),
        ).alias("slack"),
    )
    j = daily.join(F.broadcast(dim), "event_type")
    wseq = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    p = j.withColumn(
        "pref",
        F.sum(F.col("cnt") - F.col("mu") - F.col("slack")).over(wseq),
    )
    s = p.withColumn(
        "cusum",
        F.col("pref")
        - F.least(F.lit(0).cast("long"), F.min("pref").over(wseq)),
    )
    return s.select(
        "event_type",
        "day",
        "cnt",
        F.col("cusum").cast("long").alias("cusum"),
        (F.col("cusum") > 5 * F.col("slack")).cast("int").alias("flag"),
    )


def cusum_changepoint(spark, sf_dir):
    """Per (event_type, day): daily count, one-sided upper CUSUM
    statistic, and a flag once the statistic crosses 5x the slack."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return cusum_from_daily(daily)


_CUSUM_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
),
dim AS (
  SELECT event_type,
         CAST(sum(cnt) // count(*) AS BIGINT) AS mu,
         CAST(greatest(1, (sum(cnt) // count(*)) // 10) AS BIGINT)
           AS slack
  FROM daily GROUP BY event_type
),
pref AS (
  SELECT d.event_type, d.day, d.cnt, s.slack,
         sum(d.cnt - s.mu - s.slack) OVER (
           PARTITION BY d.event_type ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
  FROM daily d JOIN dim s USING (event_type)
),
cus AS (
  SELECT event_type, day, cnt, slack,
         pref - least(CAST(0 AS BIGINT), min(pref) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
  FROM pref
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       CAST(cusum AS BIGINT) AS cusum,
       CAST(cusum > 5 * slack AS INT) AS flag
FROM cus
"""

ML_QUERIES["cusum_changepoint"] = (cusum_changepoint, _CUSUM_SQL)


# --------------------------------------------------------------------------
# Chi-square term selection (r5 resumed batch) — SUPERVISED feature
# scoring, the capability the term-statistics family still lacked:
# tfidf_top_terms and pmi_collocations are unsupervised; chi2 ranks
# terms by association with a CLASS LABEL (the classic filter-method
# feature selector for training quality/domain classifiers at corpus
# scale). Label synthesized deterministically (pos = doc_id % 3 == 0)
# — swap in a real label column in production, the plan is unchanged.
#
# Exactness: the 2x2 contingency chi2 N*(ad-bc)^2 / ((a+b)(c+d)n1*n0)
# is computed entirely in integer space — counts -> decimal(38,0)
# (Spark) / HUGEINT (DuckDB), scaled by 10^6 and floor-divided, so
# chi2_micro is bit-identical under any partitioning. Headroom: the
# numerator peaks at N^5*10^6 < 10^38 up to ~2e6 docs; beyond that,
# drop the ppm factor or pre-aggregate per shard.
#
# Scale shape: explode -> DISTINCT (doc,term) presence (one hash
# shuffle keyed on the pair, map-side combinable), then ONE
# groupBy(term); the label totals are a 1-row broadcast crossJoin
# (the lm_bigram model-scalar pattern); final top-k is
# TakeOrderedAndProject with a full deterministic tiebreak
# (chi2 DESC, term ASC) — no global sort, no all-pairs.
# --------------------------------------------------------------------------

CHI2_TOP_K = 50
CHI2_MIN_DF = 5


def chi2_terms(spark, sf_dir, k: int = CHI2_TOP_K,
               min_df: int = CHI2_MIN_DF):
    """Top-k terms by chi-square association with the synthetic
    binary label: (term, pos_df, neg_df, chi2_micro)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 3 == 0).cast("long").alias("pos"),
        "text",
    )
    totals = docs.agg(
        F.sum("pos").cast("long").alias("n1"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n0"),
        F.count("*").cast("long").alias("n"),
    )
    pres = (
        docs.select(
            "doc_id", "pos",
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()  # document-level presence, not term frequency
    )
    per = pres.groupBy("term").agg(
        F.sum("pos").cast("long").alias("a"),
        (F.count("*") - F.sum("pos")).cast("long").alias("b"),
    )
    dec = per.crossJoin(F.broadcast(totals)).select(
        "term",
        *[
            F.col(c).cast("decimal(38,0)").alias(c)
            for c in ("a", "b", "n1", "n0", "n")
        ],
    )
    scored = (
        dec.withColumn("c", F.col("n1") - F.col("a"))
        .withColumn("d", F.col("n0") - F.col("b"))
        .where(
            (F.col("a") + F.col("b") >= min_df)
            & (F.col("a") + F.col("b") < F.col("n"))
        )
        .withColumn(
            "delta", F.col("a") * F.col("d") - F.col("b") * F.col("c")
        )
        .withColumn(
            "chi2_micro",
            F.expr(
                "CAST((n * delta * delta * 1000000)"
                " DIV ((a+b) * (c+d) * n1 * n0) AS BIGINT)"
            ),
        )
    )
    return (
        scored.orderBy(F.desc("chi2_micro"), F.asc("term"))
        .limit(k)
        .select(
            "term",
            F.col("a").cast("long").alias("pos_df"),
            F.col("b").cast("long").alias("neg_df"),
            "chi2_micro",
        )
    )


_CHI2_SQL = f"""
WITH docs AS (
  SELECT doc_id, CAST(doc_id % 3 = 0 AS BIGINT) AS pos, text
  FROM documents
),
totals AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n1,
         CAST(count(*) - sum(pos) AS BIGINT) AS n0,
         CAST(count(*) AS BIGINT) AS n
  FROM docs
),
pres AS (
  SELECT DISTINCT doc_id, pos, term FROM (
    SELECT doc_id, pos,
           unnest(string_split(lower(text), ' ')) AS term
    FROM docs)
  WHERE term <> ''
),
per AS (
  SELECT term, CAST(sum(pos) AS BIGINT) AS a,
         CAST(count(*) - sum(pos) AS BIGINT) AS b
  FROM pres GROUP BY term
),
scored AS (
  SELECT term, a, b,
         CAST((CAST(n AS HUGEINT) * delta * delta * 1000000)
              // (CAST(a + b AS HUGEINT) * (c + d) * n1 * n0)
              AS BIGINT) AS chi2_micro
  FROM (
    SELECT p.term, p.a, p.b,
           t.n1 - p.a AS c, t.n0 - p.b AS d, t.n1, t.n0, t.n,
           CAST(p.a AS HUGEINT) * (t.n0 - p.b)
             - CAST(p.b AS HUGEINT) * (t.n1 - p.a) AS delta
    FROM per p CROSS JOIN totals t)
  WHERE a + b >= {CHI2_MIN_DF} AND a + b < n
)
SELECT term, a AS pos_df, b AS neg_df, chi2_micro
FROM scored
ORDER BY chi2_micro DESC, term ASC
LIMIT {CHI2_TOP_K}
"""

ML_QUERIES["chi2_terms"] = (chi2_terms, _CHI2_SQL)


# --------------------------------------------------------------------------
# Item-item co-occurrence recommendation (r5 resumed batch) —
# COLLABORATIVE FILTERING, the capability class the behavior-analytics
# family (attribution, funnels, Markov transitions, session paths)
# still lacked: "users who touched X also touched Y", the
# neighborhood-method recommender run at 10^12-event scale. Items are
# the props.k facet of events (0..99 here); swap in product/document
# ids in production, the plan is unchanged.
#
# Exactness: binary-incidence cosine^2 in ppm — with ci = users per
# item and cij = users per pair, cos2_ppm = cij^2 * 10^6 DIV (ci*cj),
# all integer (decimal(38,0) / HUGEINT headroom to ~10^9 users), so
# ranking is bit-identical under any partitioning; the per-item top-5
# breaks ties (cos2 DESC, nbr ASC).
#
# Scale shape: DISTINCT (user,item) is one map-side-combinable hash
# shuffle; the pair generation is the classic user-keyed self-join
# whose blow-up is bounded by the HEAVY-USER CAP (users with > 50
# distinct items are dropped first — power users carry almost no
# co-occurrence signal and their |items|^2 pairs dominate the shuffle;
# the standard mitigation, cf. DIMSUM's row-norm sampling). ci
# re-attaches by item-keyed equi-joins (AQE broadcasts if the item
# dim is small); the final window partitions BY ITEM over <= |items|
# neighbor rows — never a global sort.
# --------------------------------------------------------------------------

COOC_USER_CAP = 50
COOC_MIN_CIJ = 2
COOC_TOP_N = 5


def cooccurrence_recommend(spark, sf_dir, cap: int = COOC_USER_CAP,
                           min_cij: int = COOC_MIN_CIJ,
                           top_n: int = COOC_TOP_N):
    """Per item: top-5 co-occurrence neighbors
    (item, nbr, cij, cos2_ppm, rank)."""
    ev = t(spark, sf_dir, "events")
    items = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .where(F.col("user_id").isNotNull() & F.col("item").isNotNull())
        .distinct()
    )
    light = (
        items.groupBy("user_id")
        .agg(F.count("*").alias("n_items"))
        .where(F.col("n_items") <= cap)
        .select("user_id")
    )
    kept = items.join(light, "user_id", "left_semi")
    ci = kept.groupBy("item").agg(F.count("*").cast("long").alias("c"))
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("i"), F.col("b.item").alias("j")
        )
        .agg(F.count("*").cast("long").alias("cij"))
    )
    sym = pairs.select(
        F.col("i").alias("item"), F.col("j").alias("nbr"), "cij"
    ).unionAll(
        pairs.select(
            F.col("j").alias("item"), F.col("i").alias("nbr"), "cij"
        )
    )
    scored = (
        sym.where(F.col("cij") >= min_cij)
        .join(ci.select(F.col("item"), F.col("c").alias("ca")), "item")
        .join(
            ci.select(F.col("item").alias("nbr"), F.col("c").alias("cb")),
            "nbr",
        )
        .withColumn(
            "cos2_ppm",
            F.expr(
                "CAST((CAST(cij AS DECIMAL(38,0)) * cij * 1000000)"
                " DIV (CAST(ca AS DECIMAL(38,0)) * cb) AS BIGINT)"
            ),
        )
    )
    w = W.partitionBy("item").orderBy(F.desc("cos2_ppm"), F.asc("nbr"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select(
            "item", "nbr", "cij", "cos2_ppm",
            F.col("rank").cast("int").alias("rank"),
        )
    )


_COOC_SQL = f"""
WITH items AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS item
  FROM events
  WHERE user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
kept AS (
  SELECT user_id, item FROM items
  WHERE user_id IN (SELECT user_id FROM items
                    GROUP BY user_id HAVING count(*) <= {COOC_USER_CAP})
),
ci AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY item),
pairs AS (
  SELECT a.item AS i, b.item AS j, CAST(count(*) AS BIGINT) AS cij
  FROM kept a JOIN kept b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
),
sym AS (
  SELECT i AS item, j AS nbr, cij FROM pairs
  UNION ALL
  SELECT j AS item, i AS nbr, cij FROM pairs
),
scored AS (
  SELECT s.item, s.nbr, s.cij,
         CAST((CAST(s.cij AS HUGEINT) * s.cij * 1000000)
              // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS cos2_ppm
  FROM sym s
  JOIN ci ca ON s.item = ca.item
  JOIN ci cb ON s.nbr = cb.item
  WHERE s.cij >= {COOC_MIN_CIJ}
)
SELECT item, nbr, cij, cos2_ppm, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY cos2_ppm DESC, nbr ASC) AS rank
  FROM scored)
WHERE rank <= {COOC_TOP_N}
"""

ML_QUERIES["cooccurrence_recommend"] = (cooccurrence_recommend, _COOC_SQL)


# --------------------------------------------------------------------------
# Fellegi-Sunter record linkage (r5 resumed batch) — PROBABILISTIC
# entity resolution, the capability the matching family still lacked:
# fuzzy_join_shingles / containment_join / dedup_levenshtein match by
# a single similarity; Fellegi-Sunter (JASA 1969) combines MULTIPLE
# field-agreement signals with weights LEARNED FROM THE DATA (the
# u-probabilities — chance-agreement rates — are estimated from the
# candidate-pair population itself; m-probabilities are the usual
# assumed error rates). The second record set is a deterministic
# perturbed twin of customer (md5-selected name corruption, +-10-cent
# balance jitter, segment flips, 20% of rows dropped) — swap in a real
# second source in production, the plan is unchanged.
#
# Exactness: everything in integer space. u_ppm = clamped empirical
# agreement rate; per-field likelihood ratio r = m_ppm*10^6 DIV u_ppm
# (agree) or (10^6-m_ppm)*10^6 DIV (10^6-u_ppm) (disagree); the
# composite score_micro = (r1*r2*r3*r4) DIV 10^18 = LR * 10^6 — the
# clamps [1000, 999000] bound each r <= 9.5e8, so the product
# <= 8.2e35 fits decimal(38,0)/HUGEINT. match <=> LR >= 10. The
# product form IS Fellegi-Sunter (the log-weights exist only to make
# scores additive; multiplying ratios is the same decision rule,
# and division-free of libm).
#
# Scale shape: candidate generation is an equi-join on the BLOCKING
# key (nation) — one hash shuffle, pair volume bounded by block size
# (production: multi-pass finer keys union'd; same plan per pass).
# u-estimation is ONE map-side-combinable agg over the pairs ->
# 1-row broadcast crossJoin (the model-scalar pattern). Scoring is a
# pure projection; the final cut is TakeOrderedAndProject with a full
# deterministic tiebreak.
# --------------------------------------------------------------------------

_RL_M_PPM = {"name": 900000, "pre": 950000, "bal": 950000, "seg": 980000}
RL_TOP_K = 200


def record_linkage_fs(spark, sf_dir, top_k: int = RL_TOP_K):
    """Top-200 candidate pairs by Fellegi-Sunter likelihood ratio:
    (id_a, id_b, g_name, g_pre, g_bal, g_seg, score_micro, is_match)."""
    cust = t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg_a"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_a"),
    )
    h = md5_long(F.concat(F.lit("rl:"), F.col("c_custkey").cast("string")))
    b = (
        cust.where(F.col("c_custkey") % 5 != 0)
        .select(
            F.col("c_custkey").alias("id_b"),
            F.when(h % 3 == 0, F.concat(F.col("c_name"), F.lit("_x")))
            .otherwise(F.col("c_name")).alias("name_b"),
            F.col("c_nationkey").alias("nation"),
            F.when(h % 7 == 0, F.reverse(F.col("c_mktsegment")))
            .otherwise(F.col("c_mktsegment")).alias("seg_b"),
            (
                F.floor(F.col("c_acctbal") * 100).cast("long")
                + (h % 21) - 10
            ).alias("bal_b"),
        )
    )
    # Spread the probe side BEFORE the block join: a small parquet
    # file arrives as ONE partition, and without this the 7M-pair
    # expansion (and everything downstream of the checkpoint) runs in
    # a single task (the _with_shingles repartition-before-expansion
    # precedent). Keyed on the blocking key so the join co-locates.
    par = cust.sparkSession.sparkContext.defaultParallelism
    a = a.repartition(par, "nation")
    pairs = a.join(b, "nation").select(
        "id_a", "id_b",
        (F.col("name_a") == F.col("name_b")).cast("long").alias("g_name"),
        (
            F.substring("name_a", 1, 16) == F.substring("name_b", 1, 16)
        ).cast("long").alias("g_pre"),
        (F.abs(F.col("bal_a") - F.col("bal_b")) <= 10)
        .cast("long").alias("g_bal"),
        (F.col("seg_a") == F.col("seg_b")).cast("long").alias("g_seg"),
    )
    # Materialize the candidate pairs ONCE: both the u-estimate job
    # and the scoring job consume them (without this the block join
    # runs twice).
    pairs = pairs.localCheckpoint()
    # u-probabilities from a NON-MATCH sample: estimating chance
    # agreement over ALL candidate pairs contaminates u with the true
    # matches when blocks are small (the classic FS estimation caveat
    # — at 10^12 records matches are a vanishing fraction and random
    # pairings suffice; here the identity-id exclusion is the
    # sandbox's stand-in for that random non-match sample). The u
    # vector is a 1-row MODEL SCALAR (the lm_bigram/kmeans pattern):
    # collect it and fold the 2^4 agreement-pattern scores into
    # integer literals driver-side — the per-row scorer then becomes
    # one 16-way CASE on the bit pattern, no decimal arithmetic in
    # the 10^12-pair hot path (exact same integers: Python // on ints
    # ≡ decimal DIV ≡ HUGEINT //).
    urow = (
        pairs.where(F.col("id_a") != F.col("id_b"))
        .agg(
            *[
                F.least(
                    F.lit(999000).cast("long"),
                    F.greatest(
                        F.lit(1000).cast("long"),
                        F.expr(f"(sum(g_{f}) * 1000000) DIV count(*)"),
                    ),
                ).alias(f"u_{f}")
                for f in ("name", "pre", "bal", "seg")
            ]
        )
        .collect()[0]
    )

    def _ratio(m_ppm: int, u_ppm: int, agree: bool) -> int:
        if agree:
            return (m_ppm * 1_000_000) // u_ppm
        return ((1_000_000 - m_ppm) * 1_000_000) // (1_000_000 - u_ppm)

    fields = ("name", "pre", "bal", "seg")
    pattern_scores = {}
    for p in range(16):
        bits = [(p >> (3 - i)) & 1 for i in range(4)]
        prod = 1
        for f, bit in zip(fields, bits):
            prod *= _ratio(_RL_M_PPM[f], int(urow[f"u_{f}"]), bool(bit))
        pattern_scores[p] = prod // 10**18
    case = " ".join(
        f"WHEN {p} THEN CAST({s} AS BIGINT)"
        for p, s in pattern_scores.items()
    )
    scored = pairs.withColumn(
        "score_micro",
        F.expr(
            f"CASE g_name * 8 + g_pre * 4 + g_bal * 2 + g_seg "
            f"{case} END"
        ),
    )
    return (
        scored.orderBy(
            F.desc("score_micro"), F.asc("id_a"), F.asc("id_b")
        )
        .limit(top_k)
        .select(
            "id_a", "id_b", "g_name", "g_pre", "g_bal", "g_seg",
            "score_micro",
            (F.col("score_micro") >= 10000000).cast("int")
            .alias("is_match"),
        )
    )


_RL_SQL = f"""
WITH a AS (
  SELECT c_custkey AS id_a, c_name AS name_a, c_nationkey AS nation,
         c_mktsegment AS seg_a,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_a
  FROM customer
),
b AS (
  SELECT c_custkey AS id_b,
         CASE WHEN h % 3 = 0 THEN c_name || '_x' ELSE c_name END
           AS name_b,
         c_nationkey AS nation,
         CASE WHEN h % 7 = 0 THEN reverse(c_mktsegment)
              ELSE c_mktsegment END AS seg_b,
         CAST(floor(c_acctbal * 100) AS BIGINT) + (h % 21) - 10 AS bal_b
  FROM (
    SELECT *, CAST(concat('0x',
             substr(md5(concat('rl:', CAST(c_custkey AS VARCHAR))), 1,
                    15)) AS BIGINT) AS h
    FROM customer WHERE c_custkey % 5 <> 0)
),
pairs AS (
  SELECT id_a, id_b,
         CAST(name_a = name_b AS BIGINT) AS g_name,
         CAST(substr(name_a, 1, 16) = substr(name_b, 1, 16) AS BIGINT)
           AS g_pre,
         CAST(abs(bal_a - bal_b) <= 10 AS BIGINT) AS g_bal,
         CAST(seg_a = seg_b AS BIGINT) AS g_seg
  FROM a JOIN b USING (nation)
),
u AS (
  SELECT
    least(999000, greatest(1000, (sum(g_name) * 1000000) // count(*)))
      AS u_name,
    least(999000, greatest(1000, (sum(g_pre) * 1000000) // count(*)))
      AS u_pre,
    least(999000, greatest(1000, (sum(g_bal) * 1000000) // count(*)))
      AS u_bal,
    least(999000, greatest(1000, (sum(g_seg) * 1000000) // count(*)))
      AS u_seg
  FROM pairs WHERE id_a <> id_b
),
scored AS (
  SELECT p.*,
    CASE WHEN g_name = 1
         THEN CAST({_RL_M_PPM['name']} AS HUGEINT) * 1000000 // u_name
         ELSE CAST({1000000 - _RL_M_PPM['name']} AS HUGEINT) * 1000000
              // (1000000 - u_name) END AS r_name,
    CASE WHEN g_pre = 1
         THEN CAST({_RL_M_PPM['pre']} AS HUGEINT) * 1000000 // u_pre
         ELSE CAST({1000000 - _RL_M_PPM['pre']} AS HUGEINT) * 1000000
              // (1000000 - u_pre) END AS r_pre,
    CASE WHEN g_bal = 1
         THEN CAST({_RL_M_PPM['bal']} AS HUGEINT) * 1000000 // u_bal
         ELSE CAST({1000000 - _RL_M_PPM['bal']} AS HUGEINT) * 1000000
              // (1000000 - u_bal) END AS r_bal,
    CASE WHEN g_seg = 1
         THEN CAST({_RL_M_PPM['seg']} AS HUGEINT) * 1000000 // u_seg
         ELSE CAST({1000000 - _RL_M_PPM['seg']} AS HUGEINT) * 1000000
              // (1000000 - u_seg) END AS r_seg
  FROM pairs p CROSS JOIN u
)
SELECT id_a, id_b, g_name, g_pre, g_bal, g_seg,
       CAST((r_name * r_pre * r_bal * r_seg)
            // 1000000000000000000 AS BIGINT) AS score_micro,
       CAST((r_name * r_pre * r_bal * r_seg)
            // 1000000000000000000 >= 10000000 AS INT) AS is_match
FROM scored
ORDER BY score_micro DESC, id_a ASC, id_b ASC
LIMIT {RL_TOP_K}
"""

ML_QUERIES["record_linkage_fs"] = (record_linkage_fs, _RL_SQL)


# --------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (r5 resumed batch) —
# UNCERTAINTY QUANTIFICATION, a capability class the catalog lacked:
# every aggregate so far reports a point estimate; production metric
# pipelines need error bars, and the n-out-of-n resample is
# impossible on a distributed table (it needs global coordination).
# The POISSON bootstrap (Chamandy et al., "Estimating Uncertainty for
# Massive Data Streams", Google 2012) is the web-scale fix: each row
# independently gets a Poisson(1) replicate weight, so resampling
# becomes a stateless per-row projection — exactly one extra column
# per replicate, embarrassingly parallel at 10^12 rows.
#
# Determinism: the Poisson(1) draw is the inverse-CDF applied to a
# deterministic uniform in ppm (CDF thresholds 367879/735759/919699/
# 981012/996340/999406, capped at 6 — P(>6) < 6e-5), identical
# literals in both engines; means are integer fixed-point
# (centicents: sum_wx*100 DIV sum_w), so replicate means and the
# rank-based percentile CI (ranks 2 and nrep-1 of the nrep surviving
# replicates — 2 and 63 when all B=64 survive — the ~95% percentile
# bootstrap) are bit-identical under any partitioning.
# The per-replicate uniform is ONE md5 per ROW mixed per replicate b
# by multiply-mod-prime (u_b = (h0*A_b + C_b) mod 2^31-1 with
# A_b = 48271^(b+1), C_b = b*0x9E3779B9 mod P as frozen literals —
# the minhash multiply-shift idiom, kept under 2^62 so int64 never
# overflows in either engine; the % 10^6 ppm reduction carries a
# ~0.05% modulo bias, irrelevant to bootstrap validity) — 64x fewer
# md5 evaluations than hashing every (row, replicate) pair.
#
# Scale shape: explode(0..63) multiplies rows INSIDE the scan stage;
# the partial agg collapses them map-side, so the shuffle carries
# |groups| x 64 x partitions partial rows, not 64x the data. The CI
# window ranks 64 rows per group (partitioned, never global).
# --------------------------------------------------------------------------

BOOT_B = 64
# Poisson(1) CDF in ppm: P(X<=k) for k = 0..5; weight 6 beyond.
_POIS_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406)
# Multiply-mod-prime mixing constants (P = 2^31 - 1, MINSTD a=48271):
# A_b = 48271^(b+1) mod P, C_b = b * 0x9E3779B9 mod P.
_BOOT_P = 2147483647
_BOOT_A = (48271, 182605794, 1291394886, 1914720637, 2078669041, 407355683, 1105902161, 854716505, 564586691, 1596680831, 192302371, 1203428207, 1250328747, 1738531149, 1271135913, 1098894339, 1882556969, 2136927794, 1559527823, 2075782095, 638022372, 914937185, 1931656580, 1402304087, 1936030137, 2064876628, 353718330, 1842513780, 1947433875, 631416347, 2010567813, 890442452, 662405787, 1105724094, 849178936, 1696049367, 1479919876, 1168816941, 1272185027, 201068705, 1308858262, 928270262, 1287522347, 1814467857, 1057382352, 1659675143, 153892771, 412013968, 480194461, 1675824860, 180318217, 389431516, 1324346645, 1243696899, 1587659744, 674592135, 942409124, 884730203, 1951824771, 2130959757, 1239222494, 352020689, 1500063655, 719080959)
_BOOT_C = (0, 506952122, 1013904244, 1520856366, 2027808488, 387276963, 894229085, 1401181207, 1908133329, 267601804, 774553926, 1281506048, 1788458170, 147926645, 654878767, 1161830889, 1668783011, 28251486, 535203608, 1042155730, 1549107852, 2056059974, 415528449, 922480571, 1429432693, 1936384815, 295853290, 802805412, 1309757534, 1816709656, 176178131, 683130253, 1190082375, 1697034497, 56502972, 563455094, 1070407216, 1577359338, 2084311460, 443779935, 950732057, 1457684179, 1964636301, 324104776, 831056898, 1338009020, 1844961142, 204429617, 711381739, 1218333861, 1725285983, 84754458, 591706580, 1098658702, 1605610824, 2112562946, 472031421, 978983543, 1485935665, 1992887787, 352356262, 859308384, 1366260506, 1873212628)


_A_LIST = ", ".join(str(v) for v in _BOOT_A)
_C_LIST = ", ".join(str(v) for v in _BOOT_C)
# A CI needs ranks 2 and nrep-1 to be distinct, ordered replicates.
_BOOT_MIN_REPS = 4


def _poisson_weight_sql(u: str) -> str:
    """CASE expression mapping a ppm-uniform column to a Poisson(1)
    draw — same literal text works in Spark SQL and DuckDB."""
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF_PPM)
    )
    return f"CASE {branches} ELSE 6 END"


# Replicates and their CI are built once for bootstrap_ci and
# ab_test_uplift, each as a Spark helper and its DuckDB twin. A
# replicate whose weights sum to 0 (over a group, or over one arm) has
# no mean; the callers drop it IN BOTH ENGINES before ranking, and the
# CI ranks against the surviving count. Keeping it would rank a NULL,
# and Spark ASC puts NULLs first where DuckDB puts them last: a
# one-row group loses ~23 of its 64 replicates (P(w=0) = e^-1).
def _poisson_replicates(ev, salt: str, cols: list[str],
                        n_boot: int = BOOT_B):
    """``cols`` of ``ev`` once per replicate b in 0..n_boot-1, with the
    row's Poisson(1) weight ``w`` for that replicate: one md5 of
    ``salt || event_id`` per row, mixed per b by multiply-mod-prime."""
    a_arr = ", ".join(str(v) for v in _BOOT_A[:n_boot])
    c_arr = ", ".join(str(v) for v in _BOOT_C[:n_boot])
    # h0 gets its own projection: beside the explode it would be
    # evaluated above the Generate, one md5 per (row, replicate)
    return ev.withColumn(
        "h0",
        md5_long(F.concat(F.lit(salt), F.col("event_id").cast("string")))
        % _BOOT_P,
    ).select(
        *cols, "h0",
        F.explode(F.array([F.lit(i) for i in range(n_boot)])).alias("b"),
    ).withColumn(
        "u",
        F.expr(
            f"((h0 * element_at(array({a_arr}), b + 1)"
            f" + element_at(array({c_arr}), b + 1)) % {_BOOT_P})"
            f" % 1000000"
        ),
    ).select(*cols, "b", F.expr(_poisson_weight_sql("u")).alias("w"))


def _poisson_replicates_sql(src: str, salt: str, cols: str) -> str:
    """DuckDB twin of :func:`_poisson_replicates` over relation ``src``
    (B = BOOT_B replicates); ``cols`` is a SQL column list."""
    return f"""
  SELECT {cols}, b, {_poisson_weight_sql('u')} AS w
  FROM (
    SELECT {cols}, b,
           ((h0 * ([{_A_LIST}])[b + 1]
             + ([{_C_LIST}])[b + 1]) % {_BOOT_P}) % 1000000 AS u
    FROM (
      SELECT {cols},
             CAST(concat('0x', substr(md5(concat('{salt}',
                  CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)
               % {_BOOT_P} AS h0
      FROM {src})
    CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b))"""


def _boot_ci(reps, stat: str):
    """Per event_type, the ~95% percentile CI (lo_fp, hi_fp) of
    ``stat`` over its surviving replicates: ranks 2 and nrep-1 (2 and
    63 when all 64 survive); no row unless _BOOT_MIN_REPS survive."""
    wr = W.partitionBy("event_type").orderBy(F.asc(stat), F.asc("b"))
    return (
        reps.withColumn("r", F.row_number().over(wr))
        .withColumn("nrep", F.count("*").over(W.partitionBy("event_type")))
        .where(F.col("nrep") >= _BOOT_MIN_REPS)
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("r") == 2, F.col(stat))).alias("lo_fp"),
            F.max(
                F.when(F.col("r") == F.col("nrep") - 1, F.col(stat))
            ).alias("hi_fp"),
        )
    )


def _boot_ci_sql(src: str, stat: str) -> str:
    """DuckDB twin of :func:`_boot_ci`."""
    return f"""
  SELECT event_type,
         max(CASE WHEN r = 2 THEN {stat} END) AS lo_fp,
         max(CASE WHEN r = nrep - 1 THEN {stat} END) AS hi_fp
  FROM (
    SELECT event_type, {stat},
           row_number() OVER (PARTITION BY event_type
                              ORDER BY {stat} ASC, b ASC) AS r,
           count(*) OVER (PARTITION BY event_type) AS nrep
    FROM {src})
  WHERE nrep >= {_BOOT_MIN_REPS}
  GROUP BY event_type"""


def bootstrap_ci(spark, sf_dir, n_boot: int = BOOT_B):
    """Per event_type: n, exact mean (centicents), and the Poisson-
    bootstrap ~95% percentile CI (lo_fp, hi_fp) of the mean."""
    ev = (
        t(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type", "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    point = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("(sum(x) * 100) DIV count(*)").alias("mean_fp"),
    )
    means = (
        _poisson_replicates(ev, "bs:", ["event_type", "x"], n_boot)
        .groupBy("event_type", "b")
        .agg(F.expr("sum(w * x)").alias("swx"), F.sum("w").alias("sw"))
        .where(F.col("sw") > 0)
        .select("event_type", "b", F.expr("(swx * 100) DIV sw").alias("m_fp"))
    )
    return point.join(_boot_ci(means, "m_fp"), "event_type").select(
        "event_type", "n", "mean_fp", "lo_fp", "hi_fp"
    )


_BOOT_SQL = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
point AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST((sum(x) * 100) // count(*) AS BIGINT) AS mean_fp
  FROM ev GROUP BY event_type
),
weighted AS ({_poisson_replicates_sql('ev', 'bs:', 'event_type, x')}
),
means AS (
  SELECT event_type, b, CAST((swx * 100) // sw AS BIGINT) AS m_fp
  FROM (
    SELECT event_type, b, sum(w * x) AS swx, sum(w) AS sw
    FROM weighted GROUP BY event_type, b)
  WHERE sw > 0
),
ci AS ({_boot_ci_sql('means', 'm_fp')}
)
SELECT event_type, n, mean_fp, lo_fp, hi_fp
FROM point JOIN ci USING (event_type)
"""

ML_QUERIES["bootstrap_ci"] = (bootstrap_ci, _BOOT_SQL)


# --------------------------------------------------------------------------
# Grid-cell DBSCAN (r5 resumed batch) — DENSITY-BASED clustering, the
# class the clustering family lacked: k-means partitions EVERY point
# into convex cells (k fixed in advance, outliers absorbed); DBSCAN
# finds arbitrarily-shaped dense regions and labels sparse points as
# NOISE — the shape behind spatial outlier scrubbing and density-aware
# corpus curation. This is the grid variant (cell edge = eps): a cell
# with >= minPts points is CORE; clusters are connected components of
# core cells under 8-neighborhood adjacency; points in core cells are
# core members, points in non-core cells adjacent to a core cell are
# BORDER (assigned the min neighboring cluster — deterministic), the
# rest are noise. Points reuse spatial_join_grid's md5 fixed-point
# synthesis — swap in real coordinates in production, plan unchanged.
#
# Exactness: everything is integer (cell keys, counts, min-label
# ids); the oracle replays the clustering with a DIFFERENT algorithm
# (transitive-closure recursive CTE over a quadratic abs()-join
# adjacency), so the check covers the grid algebra itself, the
# graph_components_lss convention.
#
# Scale shape: ONE map-side-combinable groupBy collapses 10^12 points
# to cells; ALL subsequent work is on the CELL table (|cells| <<
# |points|). Adjacency is an equi-join on exploded 3x3 neighbor keys
# (never an all-pairs abs join); min-label propagation runs on cells
# through fixpoint().
# Point-role assignment is two equi-joins keyed on the cell.
# --------------------------------------------------------------------------

_DB_CELL = 100_000
_DB_MINPTS = 8
_DB_MAX_ROUNDS = 40


def _db_points(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select("doc_id")
    return docs.select(
        F.col("doc_id").alias("id"),
        (_md5_long("lat:", F.col("doc_id")) % 1_000_000).alias("lat"),
        (_md5_long("lon:", F.col("doc_id")) % 1_000_000).alias("lon"),
    ).select(
        "id",
        F.expr(f"lat DIV {_DB_CELL}").alias("cx"),
        F.expr(f"lon DIV {_DB_CELL}").alias("cy"),
    )


def dbscan_grid(spark, sf_dir):
    """Cluster summary: (cluster, n_cells, n_core, n_border) per
    density cluster + one (-1, 0, 0, n_noise) row for noise."""
    pts = _db_points(spark, sf_dir)
    cells = pts.groupBy("cx", "cy").agg(F.count("*").alias("n"))
    core = (
        cells.where(F.col("n") >= _DB_MINPTS)
        .select("cx", "cy", (F.col("cx") * 1000 + F.col("cy")).alias("key"))
        .localCheckpoint()
    )
    # 8-neighborhood adjacency (incl. self) as an EQUI-join on
    # exploded neighbor keys
    nbr = core.select(
        F.col("key").alias("src"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("src", "c.cx", "c.cy")
    edges = nbr.join(core.select("cx", "cy", F.col("key").alias("dst")),
                     ["cx", "cy"]).select("src", "dst").localCheckpoint()

    def propagate(labels):
        return (
            edges.join(
                labels.select(F.col("cell").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("cell"))
            .agg(F.min("label").alias("label"))
        )

    # keyed by cell: one row per core cell's key, and each round groups
    # by cell
    labels = fixpoint(
        core.select(F.col("key").alias("cell"), F.col("key").alias("label")),
        propagate,
        "dbscan_grid",
        _DB_MAX_ROUNDS,
    )
    comp = labels.select("cell", F.col("label").alias("cluster"))
    core_lab = core.join(comp, core.key == comp.cell).select(
        "cx", "cy", "cluster"
    )
    core_pts = pts.join(core_lab, ["cx", "cy"]).select("id", "cluster")
    non_core_pts = pts.join(core.select("cx", "cy"), ["cx", "cy"],
                            "left_anti")
    probe = non_core_pts.select(
        "id",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                "struct(cx + dx AS cx, cy + dy AS cy))))"
            )
        ).alias("c"),
    ).select("id", "c.cx", "c.cy")
    border_pts = (
        probe.join(core_lab, ["cx", "cy"])
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    n_noise = (
        non_core_pts.join(border_pts.select("id"), "id", "left_anti")
        .agg(F.count("*").alias("n"))
    )
    cluster_cells = comp.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_cells")
    )
    cluster_core = core_pts.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_core")
    )
    cluster_border = border_pts.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_border")
    )
    summary = (
        cluster_cells.join(cluster_core, "cluster", "left")
        .join(cluster_border, "cluster", "left")
        .select(
            "cluster",
            "n_cells",
            F.coalesce("n_core", F.lit(0)).cast("long").alias("n_core"),
            F.coalesce("n_border", F.lit(0)).cast("long")
            .alias("n_border"),
        )
    )
    noise_row = n_noise.select(
        F.lit(-1).cast("long").alias("cluster"),
        F.lit(0).cast("long").alias("n_cells"),
        F.lit(0).cast("long").alias("n_core"),
        F.col("n").cast("long").alias("n_border"),
    )
    return summary.unionAll(noise_row).orderBy("cluster")


_DBSCAN_SQL = f"""
WITH RECURSIVE pts AS (
  SELECT doc_id AS id,
         (CAST(concat('0x', substr(md5(concat('lat:',
            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000)
           // {_DB_CELL} AS cx,
         (CAST(concat('0x', substr(md5(concat('lon:',
            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 1000000)
           // {_DB_CELL} AS cy
  FROM documents
),
cells AS (SELECT cx, cy, count(*) AS n FROM pts GROUP BY cx, cy),
core AS (
  SELECT cx, cy, cx * 1000 + cy AS key
  FROM cells WHERE n >= {_DB_MINPTS}
),
edge AS (
  SELECT a.key AS src, b.key AS dst
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
),
reach AS (
  SELECT key AS cell, key AS label FROM core
  UNION
  SELECT e.src AS cell, r.label
  FROM edge e JOIN reach r ON r.cell = e.dst
),
comp AS (SELECT cell, min(label) AS cluster FROM reach GROUP BY cell),
core_lab AS (
  SELECT k.cx, k.cy, c.cluster
  FROM core k JOIN comp c ON c.cell = k.key
),
core_pts AS (
  SELECT p.id, l.cluster
  FROM pts p JOIN core_lab l ON p.cx = l.cx AND p.cy = l.cy
),
non_core AS (
  SELECT p.* FROM pts p
  WHERE NOT EXISTS (SELECT 1 FROM core k
                    WHERE k.cx = p.cx AND k.cy = p.cy)
),
border_pts AS (
  SELECT p.id, min(l.cluster) AS cluster
  FROM non_core p JOIN core_lab l
    ON abs(p.cx - l.cx) <= 1 AND abs(p.cy - l.cy) <= 1
  GROUP BY p.id
),
noise AS (
  SELECT count(*) AS n FROM non_core p
  WHERE NOT EXISTS (SELECT 1 FROM border_pts b WHERE b.id = p.id)
),
summary AS (
  SELECT c.cluster,
         CAST(count(DISTINCT c.cell) AS BIGINT) AS n_cells,
         CAST(coalesce(cp.n_core, 0) AS BIGINT) AS n_core,
         CAST(coalesce(bp.n_border, 0) AS BIGINT) AS n_border
  FROM comp c
  LEFT JOIN (SELECT cluster, count(*) AS n_core
             FROM core_pts GROUP BY cluster) cp USING (cluster)
  LEFT JOIN (SELECT cluster, count(*) AS n_border
             FROM border_pts GROUP BY cluster) bp USING (cluster)
  GROUP BY c.cluster, cp.n_core, bp.n_border
)
SELECT cluster, n_cells, n_core, n_border FROM summary
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(n AS BIGINT) FROM noise
ORDER BY cluster
"""

ML_QUERIES["dbscan_grid"] = (dbscan_grid, _DBSCAN_SQL)


# --------------------------------------------------------------------------
# Benford first-digit audit (r5 resumed batch) — DATA-AUTHENTICITY
# checking, a data-quality capability the profiling family
# (table_profile = column stats, anomaly_mad = volume outliers)
# lacked: naturally-occurring multiplicative quantities follow
# Benford's law (P(d) = log10(1 + 1/d)); fabricated or truncated
# feeds don't — the classic forensic screen for ingested numeric
# sources. The expected distribution is FROZEN as an integer ppm
# table (rounded log10 values summing to exactly 10^6), so the
# deviation report is float-free in both engines.
#
# Exactness: the leading digit is taken from the INTEGER CENTS string
# (same leading digit as the raw amount, no float formatting);
# observed shares are ppm floor-divisions. One map-side-combinable
# groupBy(digit) collapses 10^12 rows to 9; the expected table joins
# as a 9-row broadcast.
# --------------------------------------------------------------------------

_BENFORD_PPM = [
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
]


def benford_test(spark, sf_dir):
    """Per leading digit of o_totalprice: (digit, n, obs_ppm,
    exp_ppm, dev_ppm)."""
    orders = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digits = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long")
            .cast("string"), 1, 1,
        ).cast("long").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    exp = spark.createDataFrame(_BENFORD_PPM, "digit long, exp_ppm long")
    tot = obs.agg(F.sum("n").alias("total"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .join(F.broadcast(exp), "digit")
        .select(
            "digit", "n",
            F.expr("(n * 1000000) DIV total").alias("obs_ppm"),
            "exp_ppm",
            (
                F.expr("(n * 1000000) DIV total") - F.col("exp_ppm")
            ).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


_BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
              AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        FROM digits GROUP BY digit),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs),
exp AS (
  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
    (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
    (9, 45757)) AS v(digit, exp_ppm)
)
SELECT o.digit, o.n,
       CAST((o.n * 1000000) // t.total AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST((o.n * 1000000) // t.total - e.exp_ppm AS BIGINT)
         AS dev_ppm
FROM obs o CROSS JOIN tot t JOIN exp e ON e.digit = o.digit
ORDER BY o.digit
"""

ML_QUERIES["benford_test"] = (benford_test, _BENFORD_SQL)


# --------------------------------------------------------------------------
# Day-of-week seasonal profile (r5 resumed batch) — the SEASONALITY
# leg of the time-series family (theil_sen = trend, ewma = smoothing,
# anomaly_mad = outliers, cusum = drift): the per-(type, weekday)
# volume index against a uniform week, the profile that feeds both
# staffing dashboards and seasonally-adjusted anomaly thresholds.
# index_ppm = cnt * 7 * 10^6 DIV total(type) — exactly 10^6 per day
# under a perfectly uniform week, all integer. One map-side-
# combinable groupBy to (type x dow) rows; per-type totals re-attach
# as a broadcast dim. Weekday alignment: Spark dayofweek() is
# 1=Sunday..7; DuckDB dayofweek() is 0=Sunday..6 — the engine
# subtracts 1 so both emit 0=Sunday.
# --------------------------------------------------------------------------


def seasonal_profile(spark, sf_dir):
    """Per (event_type, dow 0=Sunday): count and uniform-week
    seasonality index in ppm."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cnt = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    tot = cnt.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    return (
        cnt.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "dow", "cnt",
            F.expr("(cnt * 7 * 1000000) DIV total").alias("index_ppm"),
        )
        .orderBy("event_type", "dow")
    )


_SEASONAL_SQL = """
WITH cnt AS (
  SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, dayofweek(ts)
),
tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total
        FROM cnt GROUP BY event_type)
SELECT c.event_type, c.dow, c.cnt,
       CAST((c.cnt * 7 * 1000000) // t.total AS BIGINT) AS index_ppm
FROM cnt c JOIN tot t USING (event_type)
ORDER BY c.event_type, c.dow
"""

ML_QUERIES["seasonal_profile"] = (seasonal_profile, _SEASONAL_SQL)


# --------------------------------------------------------------------------
# TextTiling-style topic segmentation (r5 resumed batch) —
# CONTENT-AWARE document segmentation (Hearst 1997), the capability
# the chunking family lacked: chunk_sequences cuts at token COUNTS,
# content_chunk_dedup at byte patterns; topic boundaries cut where
# the VOCABULARY shifts — the semantically-coherent chunking a RAG /
# long-context training pipeline wants. Per doc: fixed 10-word
# blocks, adjacent-block Jaccard over distinct words in exact ppm,
# boundary = a local minimum under a frozen threshold (both
# neighbors higher, sim < 150000 ppm).
#
# Exactness: similarities are inter*10^6 DIV (na+nb-inter) — all
# integer; the local-minimum test uses lag/lead with a sentinel
# default (10^7) so edge blocks can qualify only via the threshold.
# Output is bounded to doc_id < 50 (the tfidf_top_terms convention) —
# per-pair rows, not per-word.
#
# Scale shape: chunking is sequence+slice+posexplode (codegen, the
# code_switch_stats idiom); distinct (doc, block, word) is one
# map-side-combinable shuffle; the adjacent-block intersection is an
# EQUI-join on (doc_id, word) with block b = a+1 — never a block
# cross join; the pair spine left-joins intersections so zero-overlap
# boundaries survive. Windows partition per doc over block counts.
# --------------------------------------------------------------------------

_TT_CHUNK = 10
_TT_THRESH_PPM = 150_000


def text_tiling(spark, sf_dir):
    """Per adjacent block pair of each doc (doc_id < 50):
    (doc_id, pos, sim_ppm, is_boundary)."""
    docs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", F.split(F.lower("text"), " ").alias("wr"))
    )
    blocks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(wr) + {_TT_CHUNK - 1}) "
                f"DIV {_TT_CHUNK} - 1), "
                f"i -> slice(wr, i * {_TT_CHUNK} + 1, {_TT_CHUNK}))"
            )
        ).alias("cid", "cw"),
    )
    words = (
        blocks.select(
            "doc_id", "cid", F.explode("cw").alias("w")
        )
        .where(F.col("w") != "")
        .distinct()
    )
    sizes = words.groupBy("doc_id", "cid").agg(
        F.count("*").cast("long").alias("n")
    )
    a, b = words.alias("a"), words.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("b.cid") == F.col("a.cid") + 1),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.cid").alias("pos"),
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    sa = sizes.select("doc_id", F.col("cid").alias("pos"),
                      F.col("n").alias("na"))
    sb = sizes.select(
        "doc_id", (F.col("cid") - 1).alias("pos"), F.col("n").alias("nb")
    )
    spine = (
        sa.join(sb, ["doc_id", "pos"])
        .join(inter, ["doc_id", "pos"], "left")
        .select(
            "doc_id", "pos",
            F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
            "na", "nb",
        )
        .withColumn(
            "sim_ppm",
            F.expr("(inter * 1000000) DIV (na + nb - inter)"),
        )
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    return (
        spine.withColumn(
            "prev", F.lag("sim_ppm", 1, 10_000_000).over(wd)
        )
        .withColumn("nxt", F.lead("sim_ppm", 1, 10_000_000).over(wd))
        .select(
            "doc_id", "pos", "sim_ppm",
            (
                (F.col("sim_ppm") < _TT_THRESH_PPM)
                & (F.col("sim_ppm") < F.col("prev"))
                & (F.col("sim_ppm") < F.col("nxt"))
            ).cast("int").alias("is_boundary"),
        )
        .orderBy("doc_id", "pos")
    )


_TT_SQL = f"""
WITH docs AS (
  SELECT doc_id, string_split(lower(text), ' ') AS wr
  FROM documents WHERE doc_id < 50
),
words AS (
  SELECT DISTINCT doc_id, (i - 1) // {_TT_CHUNK} AS cid, wr[i] AS w
  FROM docs, unnest(generate_series(1, len(wr))) AS u(i)
  WHERE wr[i] <> ''
),
sizes AS (
  SELECT doc_id, cid, CAST(count(*) AS BIGINT) AS n
  FROM words GROUP BY doc_id, cid
),
inter AS (
  SELECT a.doc_id, a.cid AS pos, CAST(count(*) AS BIGINT) AS inter
  FROM words a JOIN words b
    ON a.doc_id = b.doc_id AND a.w = b.w AND b.cid = a.cid + 1
  GROUP BY a.doc_id, a.cid
),
spine AS (
  SELECT sa.doc_id, sa.cid AS pos,
         CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
         sa.n AS na, sb.n AS nb
  FROM sizes sa
  JOIN sizes sb ON sb.doc_id = sa.doc_id AND sb.cid = sa.cid + 1
  LEFT JOIN inter i ON i.doc_id = sa.doc_id AND i.pos = sa.cid
),
sims AS (
  SELECT doc_id, pos,
         CAST((inter * 1000000) // (na + nb - inter) AS BIGINT)
           AS sim_ppm
  FROM spine
)
SELECT doc_id, pos, sim_ppm,
       CAST(sim_ppm < {_TT_THRESH_PPM}
            AND sim_ppm < lag(sim_ppm, 1, 10000000)
                  OVER (PARTITION BY doc_id ORDER BY pos)
            AND sim_ppm < lead(sim_ppm, 1, 10000000)
                  OVER (PARTITION BY doc_id ORDER BY pos)
            AS INT) AS is_boundary
FROM sims
ORDER BY doc_id, pos
"""

ML_QUERIES["text_tiling"] = (text_tiling, _TT_SQL)


# --------------------------------------------------------------------------
# A/B uplift with bootstrap CI (r5 resumed batch) — the EXPERIMENTATION
# readout: bootstrap_ci bounds one mean; an experiment needs the
# DIFFERENCE of two arms with an interval that accounts for both arms'
# variance jointly (per replicate b the SAME resample draws both arm
# means, so the uplift distribution is the paired one). Variant = the
# classic deterministic user-id split (user_id % 2); swap in the real
# assignment column in production, the plan is unchanged.
#
# Determinism: the replicates and the CI come from bootstrap_ci's
# builders (_poisson_replicates, _boot_ci and their SQL twins);
# uplift_fp is integer fixed-point (centicents), the ~95% CI is
# rank-based (2 and nrep-1 of the surviving replicates),
# and `significant` = CI excludes zero — all bit-identical under any
# partitioning.
#
# Scale shape: identical to bootstrap_ci — the explode collapses
# map-side to (type x variant x replicate) partials; arm means meet in
# a |types|x64-row frame (conditional aggregation, no join); the CI
# window ranks 64 rows per type.
# --------------------------------------------------------------------------


def ab_test_uplift(spark, sf_dir, n_boot: int = BOOT_B):
    """Per event_type: arm sizes, uplift of mean value (B - A,
    centicents), its Poisson-bootstrap ~95% CI, and a significance
    flag (CI excludes 0)."""
    ev = (
        t(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type", "event_id",
            (F.col("user_id") % 2).cast("long").alias("arm"),
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    # both-arms guard: a type seen by only one arm has no uplift (and
    # an unguarded DIV would be ANSI DIVIDE_BY_ZERO — the exact failure
    # class the r4 fuzzer caught on zero vectors)
    point = (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long").alias("n_a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long").alias("n_b"),
            F.expr("sum(CASE WHEN arm = 1 THEN x ELSE 0 END)")
            .alias("sx_b"),
            F.expr("sum(CASE WHEN arm = 0 THEN x ELSE 0 END)")
            .alias("sx_a"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "event_type", "n_a", "n_b",
            (
                F.expr("(sx_b * 100) DIV n_b")
                - F.expr("(sx_a * 100) DIV n_a")
            ).alias("uplift_fp"),
        )
    )
    # a replicate whose weights zero out an entire arm has no uplift
    uplifts = (
        _poisson_replicates(ev, "ab:", ["event_type", "arm", "x"], n_boot)
        .groupBy("event_type", "b")
        .agg(
            F.expr("sum(CASE WHEN arm = 1 THEN w * x ELSE 0 END)")
            .alias("swx_b"),
            F.expr("sum(CASE WHEN arm = 1 THEN w ELSE 0 END)")
            .alias("sw_b"),
            F.expr("sum(CASE WHEN arm = 0 THEN w * x ELSE 0 END)")
            .alias("swx_a"),
            F.expr("sum(CASE WHEN arm = 0 THEN w ELSE 0 END)")
            .alias("sw_a"),
        )
        .where((F.col("sw_a") > 0) & (F.col("sw_b") > 0))
        .select(
            "event_type", "b",
            (
                F.expr("(swx_b * 100) DIV sw_b")
                - F.expr("(swx_a * 100) DIV sw_a")
            ).alias("u_fp"),
        )
    )
    ci = _boot_ci(uplifts, "u_fp")
    return point.join(ci, "event_type").select(
        "event_type", "n_a", "n_b", "uplift_fp", "lo_fp", "hi_fp",
        ((F.col("lo_fp") > 0) | (F.col("hi_fp") < 0)).cast("int")
        .alias("significant"),
    )


_AB_SQL = f"""
WITH ev AS (
  SELECT event_type, event_id,
         CAST(user_id % 2 AS BIGINT) AS arm,
         CAST(floor(value * 100) AS BIGINT) AS x
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
    AND user_id IS NOT NULL
),
point AS (
  SELECT event_type, n_a, n_b,
         CAST((sx_b * 100) // n_b - (sx_a * 100) // n_a AS BIGINT)
           AS uplift_fp
  FROM (
    SELECT event_type,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_b,
           CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
             AS sx_b,
           CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
             AS sx_a
    FROM ev GROUP BY event_type)
  WHERE n_a > 0 AND n_b > 0
),
weighted AS ({_poisson_replicates_sql('ev', 'ab:', 'event_type, arm, x')}
),
uplifts AS (
  SELECT event_type, b,
         CAST((swx_b * 100) // sw_b - (swx_a * 100) // sw_a AS BIGINT)
           AS u_fp
  FROM (
    SELECT event_type, b,
           CAST(sum(CASE WHEN arm = 1 THEN w * x ELSE 0 END) AS BIGINT)
             AS swx_b,
           CAST(sum(CASE WHEN arm = 1 THEN w ELSE 0 END) AS BIGINT)
             AS sw_b,
           CAST(sum(CASE WHEN arm = 0 THEN w * x ELSE 0 END) AS BIGINT)
             AS swx_a,
           CAST(sum(CASE WHEN arm = 0 THEN w ELSE 0 END) AS BIGINT)
             AS sw_a
    FROM weighted GROUP BY event_type, b)
  WHERE sw_a > 0 AND sw_b > 0
),
ci AS ({_boot_ci_sql('uplifts', 'u_fp')}
)
SELECT p.event_type, p.n_a, p.n_b, p.uplift_fp, c.lo_fp, c.hi_fp,
       CAST(c.lo_fp > 0 OR c.hi_fp < 0 AS INT) AS significant
FROM point p JOIN ci c USING (event_type)
"""

ML_QUERIES["ab_test_uplift"] = (ab_test_uplift, _AB_SQL)


# --------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (r5 resumed batch) — TIME-TO-EVENT
# analysis, the capability the behavior family lacked: retention
# cohorts count who comes back; survival analysis quantifies WHEN
# users churn, with censoring for users still active at the
# observation cutoff (dropping them biases hazard down; counting them
# as churned biases it up — the textbook mistake either way).
# Kaplan-Meier survival is a cumulative PRODUCT (irrational in
# integer space); the Nelson-Aalen estimator H(t) = sum d_i / n_i is
# a cumulative SUM of rationals — ppm-exact with integer floor-divs,
# which is why it is the one chosen here.
#
# Duration = HOURS between a user's first and last event (hour
# granularity keeps the distinct-duration domain meaningful on dense
# activity logs where day-rounding collapses everyone to the same
# span); a user still active within the censor horizon of the corpus
# end is CENSORED (still at risk), the standard right-censoring
# construction for activity logs. The horizon is 12 idle hours here —
# calibrated to this high-frequency synthetic corpus so the churn
# branch is non-vacuous; production logs would use days/weeks (the
# constant, not the plan, changes). At each distinct duration t:
# n_risk = users with duration >= t, d = churn events at t;
# hazard_ppm = d*10^6 DIV n_risk; H_ppm = running sum over the
# DISTINCT DURATION DOMAIN.
#
# Scale shape: one groupBy(user) collapses 10^12 events to users; one
# groupBy(duration) collapses users to the duration domain (hundreds
# of rows); n_risk is a REVERSE cumulative count over that domain
# (window over distinct durations — the quantile_buckets/auc_exact
# convention, never a per-user rank), and H is a forward running sum
# over the same rows.
# --------------------------------------------------------------------------

_SURV_CENSOR_HOURS = 12


def survival_na(spark, sf_dir):
    """Per distinct duration (days): (t, n_risk, d, hazard_ppm,
    cumhaz_ppm) — the Nelson-Aalen table over user activity spans."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    # corpus end: a 1-row model dim, broadcast crossJoin convention
    end = ev.agg(F.max("ts").alias("end_ts"))
    users = spans.crossJoin(F.broadcast(end)).select(
        "user_id",
        F.expr(
            "(unix_timestamp(last_ts) - unix_timestamp(first_ts))"
            " DIV 3600"
        ).cast("long").alias("t"),
        (
            F.expr(
                "(unix_timestamp(end_ts) - unix_timestamp(last_ts))"
                " DIV 3600"
            )
            >= _SURV_CENSOR_HOURS
        ).cast("long").alias("churned"),
    )
    by_t = users.groupBy("t").agg(
        F.count("*").cast("long").alias("n_t"),
        F.sum("churned").cast("long").alias("d"),
    )
    # n_risk(t) = users with duration >= t: reverse running sum over
    # the distinct-duration domain (hundreds of rows, commented like
    # auc_exact's global window)
    wrev = W.orderBy(F.desc("t")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wfwd = W.orderBy(F.asc("t")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risked = by_t.withColumn("n_risk", F.sum("n_t").over(wrev))
    hazarded = risked.withColumn(
        "hazard_ppm", F.expr("(d * 1000000) DIV n_risk")
    )
    return (
        hazarded.withColumn(
            "cumhaz_ppm",
            F.sum("hazard_ppm").over(wfwd).cast("long"),
        )
        .select("t", "n_risk", "d", "hazard_ppm", "cumhaz_ppm")
        .orderBy("t")
    )


_SURV_SQL = f"""
WITH ev AS (
  SELECT user_id, ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
spans AS (
  SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
  FROM ev GROUP BY user_id
),
fin AS (SELECT max(ts) AS end_ts FROM ev),
users AS (
  -- floor(epoch()) per timestamp mirrors Spark's unix_timestamp
  -- (whole seconds) BEFORE differencing: keeping the microsecond
  -- fraction shifts hour-boundary durations by one
  SELECT user_id,
         CAST((CAST(floor(epoch(last_ts)) AS BIGINT)
               - CAST(floor(epoch(first_ts)) AS BIGINT)) // 3600
              AS BIGINT) AS t,
         CAST((CAST(floor(epoch(end_ts)) AS BIGINT)
               - CAST(floor(epoch(last_ts)) AS BIGINT)) // 3600
              >= {_SURV_CENSOR_HOURS} AS BIGINT) AS churned
  FROM spans CROSS JOIN fin
),
by_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(churned) AS BIGINT) AS d
  FROM users GROUP BY t
),
risked AS (
  SELECT t, n_t, d,
         CAST(sum(n_t) OVER (ORDER BY t DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS n_risk
  FROM by_t
),
hazarded AS (
  SELECT t, n_risk, d,
         CAST((d * 1000000) // n_risk AS BIGINT) AS hazard_ppm
  FROM risked
)
SELECT t, n_risk, d, hazard_ppm,
       CAST(sum(hazard_ppm) OVER (ORDER BY t ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cumhaz_ppm
FROM hazarded
ORDER BY t
"""

ML_QUERIES["survival_na"] = (survival_na, _SURV_SQL)


# --------------------------------------------------------------------------
# 7-day rolling median (r5 resumed batch) — the ROBUST rolling
# statistic: ewma_events smooths with decaying means (outlier-
# sensitive); a rolling MEDIAN absorbs single-day spikes entirely,
# the denoiser monitoring dashboards actually want. Exact and
# integer: the window is 7 daily rows, so the median is element 4 of
# the sorted 7-array (or the middle of fewer rows while the window
# warms up) — array_sort over a collect_list bounded at 7 elements,
# never a percentile over raw events.
#
# Scale shape: ONE map-side-combinable groupBy collapses 10^12 events
# to (type x day); the rolling window runs per type over daily rows
# with a FIXED 7-row frame — bounded memory by construction.
# --------------------------------------------------------------------------


def rolling_median_events(spark, sf_dir):
    """Per (event_type, day): daily count and the exact median of the
    trailing 7-day window (elements available so far during warmup)."""
    ev = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    w7 = W.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("win", F.array_sort(F.collect_list("cnt").over(w7)))
        .select(
            "event_type", "day", "cnt",
            F.element_at(
                "win", (F.floor((F.size("win") + 1) / 2)).cast("int")
            ).cast("long").alias("med7"),
        )
        .orderBy("event_type", "day")
    )


_ROLLMED_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type, strftime(ts, '%Y-%m-%d')
),
winned AS (
  SELECT event_type, day, cnt,
         list_sort(list(cnt) OVER (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
  FROM daily
)
SELECT event_type, day, cnt,
       CAST(win[CAST(floor((len(win) + 1) / 2) AS INT)] AS BIGINT)
         AS med7
FROM winned
ORDER BY event_type, day
"""

ML_QUERIES["rolling_median_events"] = (rolling_median_events, _ROLLMED_SQL)
