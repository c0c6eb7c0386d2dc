"""Spark-side munge operator: the whole correction cascade as ONE
Arrow-batched ``mapInArrow`` pass.

Independent implementation of SPEC.md (the oracle in ``oracle/munge.py``
is the executable spec; pytest asserts span-sequence equality between the
two). Regex-based where the oracle is loop-based, so agreement between
them is evidence of correctness rather than shared code.

Why ``mapInArrow`` and not a scalar pandas UDF: one document row must
yield BOTH rewritten spans and a metrics struct; mapInArrow emits all
output columns in one JVM<->Python crossing per Arrow batch, and passes
any other column (the chunk number and partition id of
``operators/chunked.py``) through untouched. The batch size is capped by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (session.py) so skewed
monster documents cannot blow executor memory.

At cluster scale: this node is the only Python stage in the plan; the
scan, resume anti-join, chunk split, repartition, reassembly and writes
around it stay JVM-side (see pipeline.py and operators/chunked.py).
"""

from __future__ import annotations

import re
import time
from typing import Iterator

from pyspark.sql import types as T

from ..rulesets.loader import PUNCT, Rulesets

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)
SPANS_TYPE = T.ArrayType(SPAN_STRUCT)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans", SPANS_TYPE, True),
    ]
)

METRIC_FIELDS = [
    "pages",
    "tokens_total",
    "tokens_in_dict",
    "tokens_corrected",
    "header_lines_removed",
    "pagenum_lines_removed",
]

OUTPUT_SCHEMA = T.StructType(
    list(INPUT_SCHEMA.fields)
    + [T.StructField(f, T.LongType(), True) for f in METRIC_FIELDS]
    # wall-clock microseconds spent munging this doc (lineage/skew telemetry;
    # not part of the oracle metric contract)
    + [T.StructField("munge_us", T.LongType(), True)]
)

_PUNCT_RE = re.escape(PUNCT)
_TOKEN_SPLIT_RE = re.compile(rf"^([{_PUNCT_RE}]*)(.*?)([{_PUNCT_RE}]*)$", re.DOTALL)
_NON_ALNUM_RE = re.compile(r"[^0-9a-z]+")
_DIGIT_RE = re.compile(r"[0-9]+")
_ALNUM_ONLY_RE = re.compile(r"[^0-9A-Za-z]+")
# any ASCII alphabetic char OUTSIDE the roman-numeral alphabet (ivxlcdm)
# disqualifies a line from being a page number before the (allocating)
# residue path runs — a pure fast path: a residue containing such a char
# can be neither all-digits nor a roman-numeral string, so the slow path
# reaches the same False. re.ASCII is load-bearing (ADVICE r3): without
# it IGNORECASE folds Unicode chars (KELVIN SIGN U+212A → 'k', LONG S
# U+017F → 's') into this class and the fast path would answer for
# characters the residue logic treats differently.
_NON_ROMAN_ALPHA_RE = re.compile(r"[a-be-hj-kn-uwy-z]", re.IGNORECASE | re.ASCII)


def _split_token(tok: str) -> tuple[str, str, str]:
    # lstrip/rstrip with a char-set == maximal punctuation runs (C-speed;
    # ~4x the regex this replaced — see git history)
    body = tok.lstrip(PUNCT)
    pre = tok[: len(tok) - len(body)]
    core = body.rstrip(PUNCT)
    return pre, core, body[len(core) :]


def _case_like(orig: str, repl: str) -> str:
    if not orig or not repl:
        return repl
    if len(orig) > 1 and orig.isupper():
        return repl.upper()
    if orig[0].isupper():
        return repl[0].upper() + repl[1:]
    return repl


class _Munger:
    """Per-executor compiled view of the broadcast rulesets."""

    def __init__(self, rs: Rulesets):
        self.rs = rs
        # header-normalization: lowercase → kill digits → non-alnum → space
        self._roman = rs.roman_numerals
        self._dict = rs.main_dictionary
        # fast path: dictionary words that no rule table can touch — the
        # overwhelming majority of tokens in real text skip the cascade
        self._hot_skip = frozenset(
            rs.main_dictionary
            - set(rs.syncope_rules)
            - set(rs.correction_rules)
            - set(rs.variant_spellings)
            - set(rs.context_rules)
        )

    # ---- R3 -------------------------------------------------------------
    def _header_key(self, line: str) -> frozenset[str]:
        # ASCII fast path (real OCR zone lines are overwhelmingly ASCII
        # after R5 translation): the two C-speed regex subs are exactly
        # the oracle's per-char lower/digit-drop/alnum-split on ASCII.
        # Non-ASCII lines take the oracle's own Unicode path — same
        # divergence family as is_pagenum (r4 property-test find: 'Å'
        # is isalnum-true but outside [0-9a-z], so the regex key went
        # empty and a repeated 'Å' header was never stripped).
        if line.isascii():
            s = _DIGIT_RE.sub("", line.lower())
            toks = _NON_ALNUM_RE.sub(" ", s).split()
        else:
            s = line.lower()
            s = "".join(c for c in s if not c.isdigit())
            toks = "".join(c if c.isalnum() else " " for c in s).split()
        return frozenset(t for t in toks if t not in self._roman)

    @staticmethod
    def _match(a: frozenset, b: frozenset) -> bool:
        return bool(a) and bool(b) and len(a & b) / max(len(a), len(b)) >= 0.6

    def strip_headers(
        self, pages: list[list[str]]
    ) -> tuple[list[list[str]], list[int]]:
        """Returns (stripped pages, per-page removed-line counts)."""
        n = len(pages)
        zones = []
        for lines in pages:
            head = range(min(2, len(lines)))
            tail = [i for i in range(max(len(lines) - 2, 0), len(lines)) if i >= 2]
            keys = {i: self._header_key(lines[i]) for i in [*head, *tail]}
            zones.append((list(head), tail, keys))
        removed = [0] * n
        out = []
        for p in range(n):
            head, tail, keys = zones[p]
            kill = set()
            for zi, mine_zone in ((0, head), (1, tail)):
                for i in mine_zone:
                    k = keys[i]
                    for q in (p - 2, p - 1, p + 1, p + 2):
                        if 0 <= q < n and any(
                            self._match(k, zones[q][2][j]) for j in zones[q][zi]
                        ):
                            kill.add(i)
                            break
            removed[p] = len(kill)
            out.append([ln for i, ln in enumerate(pages[p]) if i not in kill])
        return out, removed

    # ---- R4 -------------------------------------------------------------
    def is_pagenum(self, line: str) -> bool:
        if _NON_ROMAN_ALPHA_RE.search(line):
            return False  # same verdict the residue path would reach
        # exact oracle semantics (oracle/munge.py:_is_pagenum_line):
        # Unicode-alnum residue, NOT the ASCII [0-9A-Za-z] regex this
        # used to be — '12' + KELVIN SIGN must stay "12K"-like and fail
        # isdigit(), matching the spec (r3 ADVICE divergence, fixed at
        # the root). Per-char join is fine here: lines with ordinary
        # letters already exited via the fast path above.
        r = "".join(c for c in line if c.isalnum())
        return bool(r) and (r.isdigit() or r.lower() in self._roman)

    # ---- R6 -------------------------------------------------------------
    def rejoin(self, lines: list[str]) -> list[str]:
        for i in range(len(lines) - 1):
            cur = lines[i].rstrip()
            if not cur.endswith("-"):
                continue
            head, _, last = cur[:-1].rpartition(" ") if " " in cur[:-1] else ("", "", cur[:-1])
            pre, c1, _ = _split_token(last)
            nxt = lines[i + 1].split()
            if not nxt:
                continue
            _, c2, suf = _split_token(nxt[0])
            if c1 and c2 and c1.isalpha() and c2.isalpha() and (c1 + c2).lower() in self._dict:
                fused = pre + c1 + c2 + suf
                lines[i] = (" ".join(cur[:-1].split()[:-1] + [fused]))
                lines[i + 1] = " ".join(nxt[1:])
        return lines

    # ---- R7-R14 ---------------------------------------------------------
    def correct_line(self, line: str, m: dict) -> str:
        rs = self.rs
        toks = line.split()
        hot = self._hot_skip
        # whole-line fast path: clean lowercase dictionary text (the
        # common case in real OCR output) costs one set probe per token
        # and zero per-token bookkeeping; " ".join matches the token
        # loop's whitespace normalization exactly
        for tok in toks:
            if tok not in hot:
                break
        else:
            n = len(toks)
            m["tokens_total"] += n
            m["tokens_in_dict"] += n
            return " ".join(toks)
        out: list[str] = []
        # local counters: three dict increments per token add up at
        # ~600k tokens/page-batch; fold into m once per line
        n_total = n_dict = n_corr = 0
        syncope = rs.syncope_rules
        for i, tok in enumerate(toks):
            # `hot` holds only lowercase alphabetic words, so a direct
            # probe (no .lower() allocation) is exact for the majority
            # lowercase case; mixed-case falls through to the full check
            if tok in hot or (tok.isalpha() and tok.lower() in hot):
                n_total += 1
                n_dict += 1
                out.append(tok)
                continue
            pre, core, suf = _split_token(tok)
            if not core:
                out.append(tok)
                continue
            orig = core
            low = core.lower()
            # with no punctuation prefix, (pre+core).lower() == low — one
            # probe covers both rule positions
            syn = syncope.get((pre + core).lower()) if pre else syncope.get(low)
            if syn is not None:
                core = _case_like(core, syn)
                pre = ""
                low = core.lower()
            elif pre:
                syn = syncope.get(low)
                if syn is not None:
                    core = _case_like(core, syn)
                    low = core.lower()
            for table in (rs.correction_rules, rs.variant_spellings):
                hit = table.get(low)
                if hit is not None:
                    core = _case_like(core, hit)
                    low = core.lower()
            ctx = rs.context_rules.get(low)
            if ctx:
                prev_low = _split_token(out[-1].split()[-1])[1].lower() if out else None
                next_low = (
                    _split_token(toks[i + 1])[1].lower() if i + 1 < len(toks) else None
                )
                res = next(
                    (r for nb, r in ctx if prev_low is not None and prev_low == nb),
                    None,
                ) or next(
                    (r for nb, r in ctx if next_low is not None and next_low == nb),
                    None,
                )
                if res is not None:
                    core = _case_like(core, res)
                    low = core.lower()
            if low not in self._dict and "f" in low and core.isalpha():
                fpos = [j for j, c in enumerate(core) if c in "fF"]
                cands = [
                    core[:j] + ("s" if core[j] == "f" else "S") + core[j + 1 :]
                    for j in fpos
                ]
                if len(fpos) > 1:
                    cands.append(core.replace("f", "s").replace("F", "S"))
                for cand in cands:
                    if cand.lower() in self._dict:
                        core = cand
                        low = core.lower()
                        break
            n_total += 1
            if low in self._dict:
                n_dict += 1
            if core != orig:
                n_corr += 1
            out.append(pre + core + suf)
        m["tokens_total"] += n_total
        m["tokens_in_dict"] += n_dict
        m["tokens_corrected"] += n_corr
        return " ".join(out)

    # ---- page sequences ---------------------------------------------------
    def munge_pages(
        self, page_texts: list[str], owned: list[bool] | None = None
    ) -> tuple[list[str], list[dict]]:
        """Run the cascade over a contiguous page sequence.

        ``owned[i] = False`` marks halo pages: they participate in the
        ±2-page header/footer comparison (R3 is the ONLY cross-page
        stage; everything later is page-local) but produce no output —
        this is what makes monster-doc chunking (operators/chunked.py)
        byte-exact vs whole-document processing.

        Returns (corrected texts, per-page metric dicts) for owned pages
        only, in order.
        """
        n = len(page_texts)
        if owned is None:
            owned = [True] * n
        pages = [self.rs.translate(t).split("\n") for t in page_texts]
        pages, removed = self.strip_headers(pages)
        out_texts: list[str] = []
        out_metrics: list[dict] = []
        for i in range(n):
            if not owned[i]:
                continue
            pm = {f: 0 for f in METRIC_FIELDS}
            pm["pages"] = 1
            pm["header_lines_removed"] = removed[i]
            kept = []
            for ln in pages[i]:
                if self.is_pagenum(ln):
                    pm["pagenum_lines_removed"] += 1
                else:
                    kept.append(ln)
            lines = self.rejoin(kept)
            out_texts.append("\n".join(self.correct_line(ln, pm) for ln in lines))
            out_metrics.append(pm)
        return out_texts, out_metrics

    # ---- whole document or chunk ----------------------------------------
    def munge_doc(
        self, spans: list[dict], lo: int = 0, hi: int = 0
    ) -> tuple[list[dict], dict]:
        """Munge one row's spans. The first ``lo`` and last ``hi`` spans
        are halo pages of a chunked monster (operators/chunked.py): they
        give R3 its context and are dropped from the returned spans."""
        m = {f: 0 for f in METRIC_FIELDS}
        end = len(spans) - hi
        page_idx = [k for k, s in enumerate(spans) if s["kind"] == "page"]
        texts, per_page = self.munge_pages(
            [spans[k]["text"] for k in page_idx],
            owned=[lo <= k < end for k in page_idx],
        )
        for pm in per_page:
            for f in METRIC_FIELDS:
                m[f] += pm[f]
        out = [dict(s) for s in spans[lo:end]]
        for k, text in zip((k for k in page_idx if lo <= k < end), texts):
            out[k - lo]["text"] = text
        return out, m


def make_munge_arrow(rulesets_bc):
    """Returns the mapInArrow function of ``munge``.

    mapInArrow instead of mapInPandas: pandas conversion of a
    ``list<struct>`` column materializes one Python dict PER SPAN on both
    directions, which is memory-bandwidth-bound and anti-scales past ~8
    cores. Reading the flat Arrow child arrays (kind/text/media_ref/
    offset) and rebuilding the ListArray directly skips all of that; the
    only Python objects created are the strings the cascade needs anyway.
    """
    import pyarrow as pa

    def munge_arrow(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        munger = _Munger(rulesets_bc.value)
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            names = batch.schema.names
            spans_col = batch.column(names.index("spans"))
            if isinstance(spans_col, pa.ChunkedArray):  # pragma: no cover
                spans_col = spans_col.combine_chunks()
            halo_lo, halo_hi = (
                batch.column(names.index(c)).to_pylist() if c in names else [0] * n_rows
                for c in ("lo", "hi")
            )
            offsets = spans_col.offsets.to_pylist()
            flat = spans_col.values
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            refs = flat.field("media_ref").to_pylist()
            offs = flat.field("offset").to_pylist()

            # offsets are ABSOLUTE positions into the full child array
            # (a sliced ListArray keeps them absolute), so index flat
            # lists directly; the output keeps each row's owned spans.
            new_texts: list[str] = list(texts)
            keep: list[int] = []
            new_offsets = [0]
            metric_cols: dict[str, list[int]] = {f: [] for f in METRIC_FIELDS}
            timings: list[int] = []
            for r in range(n_rows):
                a, b = offsets[r], offsets[r + 1]
                spans = [
                    {
                        "kind": kinds[i],
                        "text": texts[i],
                        "media_ref": refs[i],
                        "offset": offs[i],
                    }
                    for i in range(a, b)
                ]
                t0 = time.monotonic()
                out, m = munger.munge_doc(spans, halo_lo[r], halo_hi[r])
                timings.append(int((time.monotonic() - t0) * 1e6))
                owned = range(a + halo_lo[r], b - halo_hi[r])
                for i, s in zip(owned, out):
                    new_texts[i] = s["text"]
                keep.extend(owned)
                new_offsets.append(len(keep))
                for f in METRIC_FIELDS:
                    metric_cols[f].append(m[f])

            struct_arr = pa.StructArray.from_arrays(
                [
                    flat.field("kind"),
                    pa.array(new_texts, type=pa.string()),
                    flat.field("media_ref"),
                    flat.field("offset"),
                ],
                names=["kind", "text", "media_ref", "offset"],
            ).take(pa.array(keep, type=pa.int64()))
            spans_out = pa.ListArray.from_arrays(
                pa.array(new_offsets, type=pa.int32()), struct_arr
            )
            arrays, out_names = [], []
            for name, col in zip(names, batch.columns):
                if name in ("lo", "hi"):
                    continue
                arrays.append(spans_out if name == "spans" else col)
                out_names.append(name)
            for f in METRIC_FIELDS:
                arrays.append(pa.array(metric_cols[f], type=pa.int64()))
                out_names.append(f)
            arrays.append(pa.array(timings, type=pa.int64()))
            out_names.append("munge_us")
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return munge_arrow


def munge(df, spark, rulesets_bc=None):
    """DataFrame (doc_id, spans) -> (doc_id, spans', metrics..., munge_us).

    Chunk rows of ``operators/chunked.py`` also carry ``lo``/``hi`` halo
    page counts, which are consumed; every other column passes through.
    """
    from ..rulesets.loader import broadcast_rulesets

    bc = rulesets_bc or broadcast_rulesets(spark)
    schema = T.StructType(
        [
            T.StructField("spans", SPANS_TYPE, True) if f.name == "spans" else f
            for f in df.schema.fields
            if f.name not in ("lo", "hi")
        ]
        + OUTPUT_SCHEMA.fields[len(INPUT_SCHEMA.fields):]
    )
    return df.mapInArrow(make_munge_arrow(bc), schema=schema)
