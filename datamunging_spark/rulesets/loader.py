"""Ruleset loading + broadcast.

The reference (tedunderwood/DataMunging ``OCRnormalizer/rulesets/*.txt``,
per BASELINE.json:6 — mount empty, SURVEY.md §0) loads flat text files
into module-level dicts once per process. Spark equivalent: load once on
the driver, ``SparkContext.broadcast`` the frozen structure, read it
inside the Arrow UDF on each executor. The whole bundle is < 100 KB, so a
single broadcast beats per-task pickling of closure captures.

On a real cluster with the full MainDictionary (~100k words, still < 5 MB)
this stays a plain broadcast; only if rulesets grew to GBs would they
become a broadcast *join* instead (SURVEY.md §2.1 R8).
"""

from __future__ import annotations

import string
from dataclasses import dataclass
from pathlib import Path

PUNCT = string.punctuation + "“”‘’"  # incl. curly quotes


def _read_text(name: str, data_dir: Path | None = None) -> str:
    # data_dir is threaded through per-call (NOT a sticky module global —
    # ADVICE r4: a module-level override leaked into later no-arg
    # load_rulesets() calls in the same process)
    if data_dir is not None:
        return (data_dir / name).read_text(encoding="utf-8")
    # importlib.resources, not Path(__file__): the package may be
    # imported from a spark-submit --py-files ZIP, where data files
    # are zip members with no filesystem path
    # (tests/test_submit.py caught exactly that)
    from importlib import resources

    return (
        resources.files(__package__).joinpath("data", name).read_text("utf-8")
    )


def _read_lines(name: str, data_dir: Path | None = None) -> list[str]:
    return [
        ln for ln in _read_text(name, data_dir).splitlines() if ln.strip()
    ]


def _read_tsv(name: str, data_dir: Path | None = None) -> list[tuple[str, ...]]:
    # A record is any line that holds a tab, even one that is all
    # whitespace: char_map.tsv's NBSP -> space row is "\xa0\t ", which
    # the word-list filter (strip()) would drop.
    return [
        tuple(ln.split("\t"))
        for ln in _read_text(name, data_dir).splitlines()
        if "\t" in ln
    ]


@dataclass(frozen=True)
class Rulesets:
    """Immutable, picklable ruleset bundle (broadcast payload)."""

    main_dictionary: frozenset[str]
    correction_rules: dict[str, str]
    variant_spellings: dict[str, str]
    syncope_rules: dict[str, str]
    # ambiguous -> ordered list of (neighbor, resolution), file order
    context_rules: dict[str, tuple[tuple[str, str], ...]]
    roman_numerals: frozenset[str]
    personal_names: frozenset[str]
    place_names: frozenset[str]
    # (src, dst) in file order: every src is one character and no dst
    # contains a src (checked by load_rulesets)
    char_map: tuple[tuple[str, str], ...]

    def translate(self, text: str) -> str:
        """Apply the char-normalization map (SPEC.md §2).

        SPEC §2 applies the 1:1 entries as one ``str.translate`` and then
        the rest with ``str.replace`` in file order. Because each source
        is one character that no destination contains, every replacement
        touches only its own characters and creates no other source, so
        one ``str.replace`` chain in file order gives the same result."""
        for src, dst in self.char_map:
            if src in text:
                text = text.replace(src, dst)
        return text


def _check_char_map(char_map: tuple[tuple[str, str], ...]) -> None:
    """Reject a table on which ``Rulesets.translate`` would not equal
    SPEC §2's two-phase result."""
    sources = [src for src, _ in char_map]
    for src in sources:
        if len(src) != 1:
            raise ValueError(f"char_map.tsv: source {src!r} is not one character")
    if len(set(sources)) != len(sources):
        raise ValueError("char_map.tsv: a source is listed twice")
    for src, dst in char_map:
        hit = next((s for s in sources if s in dst), None)
        if hit is not None:
            raise ValueError(
                f"char_map.tsv: destination {dst!r} of {src!r} contains source {hit!r}"
            )


def load_rulesets(data_dir: Path | None = None) -> Rulesets:
    d = Path(data_dir) if data_dir is not None else None
    ctx: dict[str, list[tuple[str, str]]] = {}
    for amb, neigh, res in _read_tsv("context_rules.tsv", d):
        ctx.setdefault(amb.lower(), []).append((neigh.lower(), res))
    char_map = tuple((s, dst) for s, dst in _read_tsv("char_map.tsv", d))
    _check_char_map(char_map)
    return Rulesets(
        main_dictionary=frozenset(
            w.lower() for w in _read_lines("main_dictionary.txt", d)
        ),
        correction_rules={
            a.lower(): b for a, b in _read_tsv("correction_rules.tsv", d)
        },
        variant_spellings={
            a.lower(): b for a, b in _read_tsv("variant_spellings.tsv", d)
        },
        syncope_rules={
            a.lower(): b for a, b in _read_tsv("syncope_rules.tsv", d)
        },
        context_rules={k: tuple(v) for k, v in ctx.items()},
        roman_numerals=frozenset(_read_lines("roman_numerals.txt", d)),
        personal_names=frozenset(_read_lines("personal_names.txt", d)),
        place_names=frozenset(_read_lines("place_names.txt", d)),
        char_map=char_map,
    )


def broadcast_rulesets(spark, rulesets: Rulesets | None = None):
    """Broadcast the bundle once per SparkSession (cached on the session)."""
    key = "_datamunging_rulesets_bc"
    cached = getattr(spark, key, None)
    if cached is not None:
        return cached
    bc = spark.sparkContext.broadcast(rulesets or load_rulesets())
    setattr(spark, key, bc)
    return bc
