"""Unit tests of the pure-Python oracle (the executable spec, SPEC.md)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st
from test_property_munge import ALPHABET

from datamunging_spark.oracle.munge import (
    DocMetrics,
    Span,
    correct_line,
    munge_document,
    rejoin_hyphens,
    strip_headers,
    translate,
)
from datamunging_spark.rulesets.loader import load_rulesets

RS = load_rulesets()
DATA_DIR = Path(__file__).resolve().parent.parent / "datamunging_spark" / "rulesets" / "data"


def _page(text: str, off: int) -> Span:
    return Span("page", text, "", off)


def test_char_normalization_ligatures():
    out, _ = munge_document("d", [_page("ﬁre ﬂower ſame", 0)], RS)
    assert out[0].text == "fire flower same"


def test_header_strip_repeated_title():
    pages = [
        ["THE HISTORY OF ENGLAND 1", "alpha river mountain words", "more filler alpha"],
        ["2 THE HISTORY OF ENGLAND", "beta garden forest tokens", "other filler beta"],
        ["THE HISTORY OF ENGLAND 3", "gamma valley street items", "third filler gamma"],
    ]
    out, removed = strip_headers(pages, RS)
    assert removed == 3
    assert out[0][0] == "alpha river mountain words"
    assert out[1][0] == "beta garden forest tokens"


def test_header_not_stripped_when_unique():
    pages = [
        ["completely different alpha", "body one"],
        ["another unrelated beta", "body two"],
    ]
    out, removed = strip_headers(pages, RS)
    assert removed == 0
    assert out == pages


def test_footer_zone_matches_footers_only():
    pages = [
        ["river mountain valley alpha", "mid line", "PRESS OF LONDON"],
        ["garden forest street beta", "unrelated middle", "PRESS OF LONDON"],
    ]
    out, removed = strip_headers(pages, RS)
    assert removed == 2
    assert all(lns[-1] != "PRESS OF LONDON" for lns in out)


def test_pagenum_lines_dropped():
    out, m = munge_document(
        "d", [_page("real body line\n42\nxii\n[ 7 ]", 0)], RS
    )
    assert out[0].text == "real body line"
    assert m.pagenum_lines_removed == 3


def test_pagenum_unicode_casefold_parity():
    """r3 ADVICE regression: chars that IGNORECASE-fold into ASCII
    (KELVIN SIGN U+212A → k, LONG S U+017F → s) and non-decimal digits
    (SUPERSCRIPT TWO) must get the SAME verdict from the engine fast
    path, the engine residue path, and the oracle spec."""
    from datamunging_spark.operators.munge import _Munger
    from datamunging_spark.oracle.munge import _is_pagenum_line

    eng = _Munger(RS)
    cases = [
        "12K",      # '12K' with KELVIN: alnum residue → not digits
        "42ſ",      # '42' + LONG S (raw, pre-translate)
        "²",        # SUPERSCRIPT TWO: isdigit() true → pagenum
        "1ª",       # FEMININE ORDINAL: alpha, no ASCII fold match
        "42", "xii", "[ 7 ]", "page 42", "",
    ]
    for line in cases:
        assert eng.is_pagenum(line) == _is_pagenum_line(line, RS), line


def test_hyphen_rejoin_dictionary_gated():
    rs = RS
    lines = ["a remark-", "able thing"]
    assert rejoin_hyphens(lines, rs) == ["a remarkable", "thing"]
    decoy = ["a qux-", "zort thing"]
    assert rejoin_hyphens(decoy, rs) == ["a qux-", "zort thing"]


def test_hyphen_rejoin_with_punctuation():
    lines = ["the under-", "standing, was"]
    assert rejoin_hyphens(lines, RS) == ["the understanding,", "was"]


def test_correction_rules():
    m = DocMetrics()
    assert correct_line("tbe book", RS, m) == "the book"
    assert m.tokens_corrected == 1


def test_variant_spellings_case_preserved():
    m = DocMetrics()
    assert correct_line("Musick and publick", RS, m) == "Music and public"


def test_syncope():
    m = DocMetrics()
    assert correct_line("they join'd us", RS, m) == "they joined us"
    assert correct_line("'tis true", RS, m) == "it is true"


def test_fs_unambiguous_recovery():
    m = DocMetrics()
    assert correct_line("the beft houfe", RS, m) == "the best house"
    assert correct_line("moft pleafure", RS, m) == "most pleasure"


def test_fs_ambiguous_context():
    m = DocMetrics()
    # 'fame' preceded by 'the' -> 'same'; by 'of' -> stays 'fame'
    assert correct_line("the fame thing", RS, m) == "the same thing"
    assert correct_line("of fame and", RS, m) == "of fame and"


def test_fs_not_applied_when_in_dict():
    m = DocMetrics()
    # 'fine' is a word; no context rule; must NOT become 'sine'
    assert correct_line("a fine day", RS, m) == "a fine day"


def test_media_passthrough_and_order():
    spans = [
        _page("tbe firft page", 0),
        Span("image", "", "d/m/1.bin", 1),
        _page("fecond page here", 2),
        Span("map", "", "d/m/3.bin", 3),
    ]
    out, m = munge_document("d", spans, RS)
    assert [s.kind for s in out] == ["page", "image", "page", "map"]
    assert out[1] == spans[1] and out[3] == spans[3]
    assert [s.offset for s in out] == [0, 1, 2, 3]
    assert m.pages == 2


def test_metrics_counts():
    out, m = munge_document("d", [_page("tbe good book", 0)], RS)
    assert m.tokens_total == 3
    assert m.tokens_corrected == 1
    assert m.tokens_in_dict == 3


def test_idempotence():
    spans = [_page("tbe beft muſick of the feafon", 0)]
    once, _ = munge_document("d", spans, RS)
    twice, _ = munge_document("d", list(once), RS)
    assert [s.text for s in twice] == [s.text for s in once]


def test_correct_text_single_stream_matches_cascade():
    """The Correct.py-style convenience equals the cascade on a one-page
    doc, and actually corrects (ligature + long-s + known OCR error)."""
    from datamunging_spark import correct_text

    raw = "The ﬁrst cafe was clean\nbut tbe ſecond was not"
    got = correct_text(raw)
    assert "first" in got and "the second" in got.lower()
    assert "tbe" not in got.split() and "ſ" not in got


def test_ligature_expansion_can_trigger_fs_correction():
    """r5 fuzz-boundary regression: 'ﬅop' char-normalizes to 'ftop'
    (not a dictionary word), and the f->s recovery then corrects it to
    'stop' with tokens_corrected=1. The SQL oracle for
    extract_munge_metrics cannot model cascade corrections (its stated
    precondition is that none fire — the hostile pool is screened for
    that), so the behavior is locked HERE against the executable spec,
    and the engine twin must agree."""
    from datamunging_spark.operators.munge import _Munger

    out, metrics = munge_document("d", [_page("ﬅop", 0)], RS)
    assert out[0].text == "stop"
    assert metrics.tokens_corrected == 1

    eng_out, eng_metrics = _Munger(RS).munge_doc(
        [{"kind": "page", "text": "ﬅop", "media_ref": "", "offset": 0}]
    )
    assert eng_out[0]["text"] == "stop"
    assert eng_metrics["tokens_corrected"] == 1


@settings(max_examples=500, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(alphabet=ALPHABET, max_size=40),
            st.sampled_from([src for src, _ in RS.char_map]),
            st.text(max_size=20),
        ),
        max_size=12,
    ).map("".join)
)
def test_engine_translate_equals_spec_translate(text):
    """Rulesets.translate (one replace chain) == SPEC §2's two phases."""
    assert RS.translate(text) == translate(text, RS)


def test_char_map_keeps_the_nbsp_row():
    """char_map.tsv has 22 rows; the NBSP -> space row ("\\xa0\\t ") is
    all whitespace and must not be dropped as a blank line, so the
    engine and the oracle both map NBSP to a space (SPEC §2)."""
    assert len(RS.char_map) == 22
    assert ("\xa0", " ") in RS.char_map
    assert RS.translate("a\xa0b") == "a b"
    assert translate("a\xa0b", RS) == "a b"


@pytest.mark.parametrize(
    "table",
    ["ﬁ\tfi\nfi\tf", "ſ\ts\næ\tſe", "ſ\ts\nſ\tf"],
    ids=["two-char-source", "destination-contains-source", "repeated-source"],
)
def test_load_rulesets_rejects_an_unsafe_char_map(tmp_path, table):
    """A char_map the one-chain translate cannot apply exactly is refused."""
    data = tmp_path / "data"
    shutil.copytree(DATA_DIR, data)
    (data / "char_map.tsv").write_text(table + "\n", encoding="utf-8")
    with pytest.raises(ValueError, match="char_map"):
        load_rulesets(data)
