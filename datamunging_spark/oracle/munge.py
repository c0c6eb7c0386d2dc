"""Pure-Python oracle: the executable spec of the munge cascade.

Single-process, list-of-lines, deliberately naive — this module defines
the semantics (SPEC.md is its prose twin) and produces the committed
goldens. The Spark operator (``operators/munge.py``) is an INDEPENDENT
implementation that must agree with this one on every document
(span-sequence equality on (kind, text, media_ref, order)).

Faithful to the behavior of the public reference
``tedunderwood/DataMunging``: ``Correct.py`` / ``NormalizeVolume.py``
token cascade, ``runningheaders/HeaderFinder.py`` ±2-page repeated-line
matching (BASELINE.json:6; reference mount empty, SURVEY.md §0 — details
fixed by SPEC.md).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from ..rulesets.loader import PUNCT, Rulesets


class Span(NamedTuple):
    kind: str
    text: str
    media_ref: str
    offset: int


@dataclass
class DocMetrics:
    pages: int = 0
    tokens_total: int = 0
    tokens_in_dict: int = 0
    tokens_corrected: int = 0
    header_lines_removed: int = 0
    pagenum_lines_removed: int = 0


# ---------------------------------------------------------------- R5 translate


def translate(text: str, rs: Rulesets) -> str:
    """SPEC.md §2 as written: the 1:1 entries of ``char_map`` as one
    ``str.translate``, then every other entry with ``str.replace`` in
    file order. Independent of ``Rulesets.translate``, the engine's
    one-chain version, so the oracle tests check that one too."""
    t = text.translate({ord(s): d for s, d in rs.char_map if len(s) == 1 and len(d) == 1})
    for src, dst in rs.char_map:
        if len(src) != 1 or len(dst) != 1:
            t = t.replace(src, dst)
    return t


# ---------------------------------------------------------------- R3 helpers


def _normalize_line_for_header(line: str, rs: Rulesets) -> tuple[str, ...]:
    """SPEC.md §3: lowercase, drop digits, punct→space, drop roman tokens."""
    s = line.lower()
    s = "".join(c for c in s if not c.isdigit())
    s = "".join(c if c.isalnum() else " " for c in s)
    toks = [t for t in s.split() if t not in rs.roman_numerals]
    return tuple(toks)


def _lines_match(a: tuple[str, ...], b: tuple[str, ...]) -> bool:
    if not a or not b:
        return False
    sa, sb = set(a), set(b)
    return len(sa & sb) / max(len(sa), len(sb)) >= 0.6


def _zone_indices(nlines: int) -> tuple[list[int], list[int]]:
    """(header zone, footer zone) line indices; no overlap (SPEC.md §3)."""
    head = list(range(min(2, nlines)))
    tail = [i for i in range(max(nlines - 2, 0), nlines) if i not in head]
    return head, tail


def strip_headers(pages: list[list[str]], rs: Rulesets) -> tuple[list[list[str]], int]:
    """Remove running header/footer lines via the ±2-page window."""
    norm: list[dict[int, tuple[str, ...]]] = []
    zones: list[tuple[list[int], list[int]]] = []
    for lines in pages:
        z = _zone_indices(len(lines))
        zones.append(z)
        cache = {i: _normalize_line_for_header(lines[i], rs) for i in z[0] + z[1]}
        norm.append(cache)

    removed: list[set[int]] = [set() for _ in pages]
    n = len(pages)
    for p in range(n):
        for zone_idx in (0, 1):
            for i in zones[p][zone_idx]:
                mine = norm[p][i]
                hit = False
                for q in (p - 2, p - 1, p + 1, p + 2):
                    if q < 0 or q >= n:
                        continue
                    for j in zones[q][zone_idx]:
                        if _lines_match(mine, norm[q][j]):
                            hit = True
                            break
                    if hit:
                        break
                if hit:
                    removed[p].add(i)
    out = []
    total_removed = 0
    for p, lines in enumerate(pages):
        out.append([ln for i, ln in enumerate(lines) if i not in removed[p]])
        total_removed += len(removed[p])
    return out, total_removed


# ---------------------------------------------------------------- R4


def _is_pagenum_line(line: str, rs: Rulesets) -> bool:
    residue = "".join(c for c in line if c.isalnum())
    if not residue:
        return False
    if residue.isdigit():
        return True
    return residue.lower() in rs.roman_numerals


# ---------------------------------------------------------------- R6


def _split_token(tok: str) -> tuple[str, str, str]:
    """(prefix, core, suffix) with prefix/suffix maximal punctuation runs."""
    i, j = 0, len(tok)
    while i < j and tok[i] in PUNCT:
        i += 1
    while j > i and tok[j - 1] in PUNCT:
        j -= 1
    return tok[:i], tok[i:j], tok[j:]


def rejoin_hyphens(lines: list[str], rs: Rulesets) -> list[str]:
    out = list(lines)
    for i in range(len(out) - 1):
        cur = out[i].rstrip()
        if not cur.endswith("-"):
            continue
        toks = cur.split()
        if not toks:
            continue
        w1 = toks[-1][:-1]  # drop trailing '-'
        pre, core1, _suf1 = _split_token(w1)
        nxt_toks = out[i + 1].split()
        if not nxt_toks:
            continue
        w2 = nxt_toks[0]
        p2, core2, suf = _split_token(w2)
        if (
            core1
            and core2
            and core1.isalpha()
            and core2.isalpha()
            and (core1 + core2).lower() in rs.main_dictionary
        ):
            toks[-1] = pre + core1 + core2 + suf
            out[i] = " ".join(toks)
            rest = nxt_toks[1:]
            out[i + 1] = " ".join(rest)
    return out


# ---------------------------------------------------------------- R7-R14


def _preserve_case(orig: str, repl: str) -> str:
    if not orig or not repl:
        return repl
    if orig.isupper() and len(orig) > 1:
        return repl.upper()
    if orig[0].isupper():
        return repl[0].upper() + repl[1:]
    return repl


def _fs_candidates(core: str):
    idxs = [i for i, c in enumerate(core) if c in "fF"]
    for i in idxs:
        repl = "s" if core[i] == "f" else "S"
        yield core[:i] + repl + core[i + 1 :]
    if len(idxs) > 1:
        yield core.replace("f", "s").replace("F", "S")


def correct_line(
    line: str, rs: Rulesets, metrics: DocMetrics
) -> str:
    raw_toks = line.split()
    final: list[str] = []
    for idx, tok in enumerate(raw_toks):
        pre, core, suf = _split_token(tok)
        if not core:
            final.append(tok)
            continue
        orig_core = core
        low = core.lower()
        # a. syncope (leading-apostrophe form first, absorbing the prefix)
        pref_low = (pre + core).lower()
        if pref_low in rs.syncope_rules:
            core = _preserve_case(core, rs.syncope_rules[pref_low])
            pre = ""
            low = core.lower()
        elif low in rs.syncope_rules:
            core = _preserve_case(core, rs.syncope_rules[low])
            low = core.lower()
        # b. correction rules
        if low in rs.correction_rules:
            core = _preserve_case(core, rs.correction_rules[low])
            low = core.lower()
        # c. variant spellings
        if low in rs.variant_spellings:
            core = _preserve_case(core, rs.variant_spellings[low])
            low = core.lower()
        # d. contextual f/s disambiguation
        if low in rs.context_rules:
            prev_low = None
            if final:
                _, pc, _ = _split_token(final[-1].split()[-1] if " " in final[-1] else final[-1])
                prev_low = pc.lower()
            next_low = None
            if idx + 1 < len(raw_toks):
                _, nc, _ = _split_token(raw_toks[idx + 1])
                next_low = nc.lower()
            resolved = None
            for neigh, res in rs.context_rules[low]:
                if prev_low is not None and prev_low == neigh:
                    resolved = res
                    break
            if resolved is None:
                for neigh, res in rs.context_rules[low]:
                    if next_low is not None and next_low == neigh:
                        resolved = res
                        break
            if resolved is not None:
                core = _preserve_case(core, resolved)
                low = core.lower()
        # e. long-s f->s recovery
        if low not in rs.main_dictionary and core.isalpha() and ("f" in low):
            for cand in _fs_candidates(core):
                if cand.lower() in rs.main_dictionary:
                    core = cand
                    low = core.lower()
                    break
        # f. categorize + metrics
        metrics.tokens_total += 1
        if low in rs.main_dictionary:
            metrics.tokens_in_dict += 1
        if core != orig_core:
            metrics.tokens_corrected += 1
        final.append(pre + core + suf)
    return " ".join(final)


# ---------------------------------------------------------------- pipeline


def munge_document(
    doc_id: str, spans: list[Span], rs: Rulesets
) -> tuple[list[Span], DocMetrics]:
    """Full cascade per SPEC.md §1. Media spans pass through untouched."""
    metrics = DocMetrics()
    page_positions = [k for k, s in enumerate(spans) if s.kind == "page"]
    metrics.pages = len(page_positions)

    # 1-2. char normalization + line split (pages only)
    pages = [translate(spans[k].text, rs).split("\n") for k in page_positions]

    # 3. header/footer strip
    pages, metrics.header_lines_removed = strip_headers(pages, rs)

    # 4. page-number strip
    stripped = []
    for lines in pages:
        kept = []
        for ln in lines:
            if _is_pagenum_line(ln, rs):
                metrics.pagenum_lines_removed += 1
            else:
                kept.append(ln)
        stripped.append(kept)
    pages = stripped

    # 5. hyphen rejoin (within page)
    pages = [rejoin_hyphens(lines, rs) for lines in pages]

    # 6. token cascade
    pages = [[correct_line(ln, rs, metrics) for ln in lines] for lines in pages]

    # 7. reassemble; media untouched (R19)
    out = list(spans)
    for pi, k in enumerate(page_positions):
        s = spans[k]
        out[k] = Span(s.kind, "\n".join(pages[pi]), s.media_ref, s.offset)
    return out, metrics
