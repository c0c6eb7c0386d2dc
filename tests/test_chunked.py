"""Monster-doc chunking: byte-exact equality with the single-pass
operator and the oracle, including metrics, across chunk boundaries."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datamunging_spark.generator import corpus_to_rows, generate_corpus
from datamunging_spark.operators.chunked import munge_auto, munge_chunked
from datamunging_spark.operators.munge import INPUT_SCHEMA, METRIC_FIELDS, munge
from datamunging_spark.oracle.munge import Span, munge_document
from datamunging_spark.rulesets.loader import load_rulesets

RS = load_rulesets()


@pytest.fixture(scope="module")
def monsters(spark):
    # all-monster corpus (50-200 spans/doc), small pages to keep it fast
    docs = generate_corpus(seed=31, n_docs=6, monster_frac=1.0, body_lines=(4, 7))
    df = spark.createDataFrame(corpus_to_rows(docs), schema=INPUT_SCHEMA)
    return docs, df


def _collect(df):
    return {
        r.doc_id: ([tuple(s) for s in r.spans], {f: getattr(r, f) for f in METRIC_FIELDS})
        for r in df.collect()
    }


def test_chunked_equals_single_pass(spark, monsters):
    docs, df = monsters
    # chunk_pages small so every doc crosses many chunk boundaries
    chunked = _collect(munge_chunked(df, spark, chunk_pages=16))
    single = _collect(munge(df, spark))
    assert chunked.keys() == single.keys()
    for d in single:
        assert chunked[d][0] == single[d][0], f"{d}: span mismatch"
        assert chunked[d][1] == single[d][1], f"{d}: metrics mismatch"


def test_chunked_equals_oracle(spark, monsters):
    docs, df = monsters
    chunked = _collect(munge_chunked(df, spark, chunk_pages=16))
    for doc_id, spans in docs:
        golden, m = munge_document(doc_id, spans, RS)
        assert chunked[doc_id][0] == [tuple(s) for s in golden]
        assert chunked[doc_id][1]["tokens_corrected"] == m.tokens_corrected
        assert chunked[doc_id][1]["header_lines_removed"] == m.header_lines_removed


def test_munge_auto_routes_and_unions(spark):
    docs = generate_corpus(seed=33, n_docs=10, monster_frac=0.3, body_lines=(4, 7))
    df = spark.createDataFrame(corpus_to_rows(docs), schema=INPUT_SCHEMA)
    out = _collect(munge_auto(df, spark, monster_threshold=40, chunk_pages=16))
    assert len(out) == 10
    for doc_id, spans in docs:
        golden, _ = munge_document(doc_id, spans, RS)
        assert out[doc_id][0] == [tuple(s) for s in golden], doc_id


def test_media_heavy_boundaries(spark):
    """Media spans clustered at chunk boundaries must pass through once
    and in order."""
    from datamunging_spark.oracle.munge import Span

    spans = []
    off = 0
    for p in range(40):
        spans.append(Span("page", f"unique body line {p} alpha\nmore {p} beta", "", off))
        off += 1
        if p % 5 == 0:
            for j in range(3):  # bursts of media
                spans.append(Span("image", "", f"m/{p}/{j}", off))
                off += 1
    rows = [{
        "doc_id": "media-heavy",
        "spans": [s._asdict() for s in spans],
    }]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA)
    out = munge_chunked(df, spark, chunk_pages=8).collect()[0]
    assert [s.offset for s in out.spans] == [s.offset for s in spans]
    for before, after in zip(spans, out.spans):
        if before.kind != "page":
            assert tuple(before) == (after.kind, after.text, after.media_ref, after.offset)


def _assert_equals_oracle(out, docs):
    for doc_id, spans in docs:
        golden, m = munge_document(doc_id, spans, RS)
        assert out[doc_id][0] == [tuple(s) for s in golden], doc_id
        assert out[doc_id][1] == {f: getattr(m, f) for f in METRIC_FIELDS}, doc_id


@pytest.mark.parametrize("chunk_pages", [1, 2, 3])
def test_small_chunks_equal_oracle(spark, monsters, chunk_pages):
    """Chunks smaller than the ±2-page halo need pages from more than one
    neighbouring chunk."""
    docs, df = monsters
    _assert_equals_oracle(_collect(munge_chunked(df, spark, chunk_pages=chunk_pages)), docs)


_WORDS = (
    "apple birch cedar dune ember fjord grove heron inlet juniper kestrel "
    "lagoon meadow nettle orchard pebble quarry ravine sorrel thistle "
    "upland valley willow yarrow"
).split()


def test_alternating_running_heads_at_one_page_chunks(spark):
    """Verso and recto pages carry different running heads, so a page's
    head matches only pages ±2 away; the footer matches every page. With
    one-page chunks each chunk needs both halo pages on each side."""
    spans = [
        Span(
            "page",
            "\n".join([
                "the history of england" if p % 2 == 0 else "chapter the first",
                _WORDS[2 * p],
                _WORDS[2 * p + 1],
                "printed for the author",
            ]),
            "",
            p,
        )
        for p in range(12)
    ]
    df = spark.createDataFrame(
        [{"doc_id": "heads", "spans": [s._asdict() for s in spans]}], schema=INPUT_SCHEMA
    )
    out = _collect(munge_chunked(df, spark, chunk_pages=1))
    assert out["heads"][1]["header_lines_removed"] == 24
    _assert_equals_oracle(out, [("heads", spans)])


@pytest.mark.parametrize("chunk_pages", [1, 3])
def test_media_only_media_first_and_exact_multiple(spark, chunk_pages):
    def page(p, off):
        return Span("page", f"running head\n{_WORDS[p]} tbe book\n{p + 1}", "", off)

    def media(tag, off):
        return Span("image", "", f"m/{tag}", off)

    docs = [
        ("media-only", [media(j, j) for j in range(5)]),
        ("media-first", [media(0, 0), media(1, 1)]
         + [s for p in range(7) for s in (page(p, 10 * p + 2), media(p + 2, 10 * p + 3))]),
        ("exact-multiple", [page(p, p) for p in range(6 * chunk_pages)]),
    ]
    df = spark.createDataFrame(
        [{"doc_id": d, "spans": [s._asdict() for s in spans]} for d, spans in docs],
        schema=INPUT_SCHEMA,
    )
    _assert_equals_oracle(_collect(munge_chunked(df, spark, chunk_pages=chunk_pages)), docs)
