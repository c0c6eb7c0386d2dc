"""Seeded benchmark inputs and their oracle answers, cached by seed.

Everything here runs before the measured process starts, so none of it
counts towards ``setup_s``. Each input set lives in its own directory
under the cache root and is published by an atomic rename, so a run that
dies half way never leaves a cache entry that looks complete.

- ``ocr_corpus``: a parquet OCR corpus written with pyarrow straight from
  ``generator.generate_corpus`` output, trimmed to a fixed page count so
  every seed asks for the same amount of cascade work, plus the per-doc
  span-sequence digests and totals of ``oracle/munge.py``, and a small
  warm-up corpus of some of the same docs.
- ``catalog_tables``: the ``lineitem`` and ``documents`` tables the catalog
  queries read, with the value hash of each query's DuckDB oracle and,
  for ``extract_main_content``, of ``oracle/extract.py``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
from pathlib import Path

# Bump when the generated inputs or the oracle answers change meaning.
CACHE_VERSION = "v3"

OCR_TARGET_PAGES = 3000
OCR_DOCS = 320  # before trimming to the page target; 5% monsters
OCR_MONSTER_FRAC = 0.05
OCR_FILES = 4
# Monsters have 50-200 spans and normal docs 3-10: any cut between the two
# routes every monster through operators.chunked.
MONSTER_THRESHOLD = 32
# The warm-up corpus: a few docs of each kind from the corpus, so a
# warm-up call runs every code path of a full call, the chunked one too,
# in less time.
WARM_MONSTERS = 2
WARM_NORMAL = 30

CATALOG_QUERIES = [
    "q1_pricing_summary",
    "graph_components_lss",
    "extract_main_content",
]


# --------------------------------------------------------------- digests


def span_digest(spans) -> str:
    """Digest of one document's span sequence: (kind, text, media_ref,
    offset) in order, for dicts or ``Span`` tuples alike."""
    h = hashlib.sha1()
    for s in spans:
        if isinstance(s, dict):
            s = (s["kind"], s["text"], s["media_ref"], s["offset"])
        h.update(repr(tuple(s)).encode())
    return h.hexdigest()[:16]


def _canon(v):
    # same canonical form the repository's oracle tests compare
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def value_hash(df_pandas) -> str:
    """Order-insensitive value hash of a result: columns sorted by name,
    values canonicalised, rows sorted."""
    cols = sorted(df_pandas.columns)
    recs = [
        tuple(_canon(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    recs.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in recs:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


# ----------------------------------------------------------------- cache


def _cached(root: Path, name: str, build) -> Path:
    final = root / name
    if not (final / "meta.json").exists():
        tmp = root / f".{name}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    return final


# ------------------------------------------------------------ OCR corpus


def _select_docs(seed: int):
    """All monsters first, then normal docs until the page target."""
    from datamunging_spark.generator import generate_corpus

    n_docs = OCR_DOCS
    while True:
        docs = generate_corpus(seed=seed, n_docs=n_docs, monster_frac=OCR_MONSTER_FRAC)
        picked, pages = [], 0
        for doc_id, spans in docs:
            if pages >= OCR_TARGET_PAGES:
                break
            picked.append((doc_id, spans))
            pages += sum(1 for s in spans if s.kind == "page")
        if pages >= OCR_TARGET_PAGES:
            return picked
        n_docs *= 2


def _build_ocr(seed: int, out: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datamunging_spark.oracle.munge import munge_document
    from datamunging_spark.rulesets.loader import load_rulesets

    docs = _select_docs(seed)
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )

    def write(part, path: Path) -> None:
        table = pa.table(
            {
                "doc_id": pa.array([d for d, _ in part], pa.string()),
                "spans": pa.array(
                    [[s._asdict() for s in spans] for _, spans in part],
                    pa.list_(span_t),
                ),
            }
        )
        pq.write_table(table, path)

    corpus = out / "corpus"
    corpus.mkdir()
    for f in range(OCR_FILES):
        write(docs[f::OCR_FILES], corpus / f"part-{f:05d}.parquet")
    monsters = [d for d in docs if len(d[1]) > MONSTER_THRESHOLD]
    normal = [d for d in docs if len(d[1]) <= MONSTER_THRESHOLD]
    warm = monsters[:WARM_MONSTERS] + normal[:WARM_NORMAL]
    (out / "warm").mkdir()
    write(warm, out / "warm" / "part-00000.parquet")

    rs = load_rulesets()
    digests: dict[str, str] = {}
    totals = dict(docs=0, pages=0, tokens_total=0, tokens_corrected=0,
                  header_lines_removed=0, pagenum_lines_removed=0)
    for doc_id, spans in docs:
        got, m = munge_document(doc_id, spans, rs)
        digests[doc_id] = span_digest(got)
        totals["docs"] += 1
        for k in totals:
            if k != "docs":
                totals[k] += getattr(m, k)
    (out / "digests.json").write_text(json.dumps(digests))
    meta = {
        "seed": seed,
        "corpus": "corpus",
        "warm": "warm",
        "warm_docs": [d for d, _ in warm],
        "corpus_bytes": sum(p.stat().st_size for p in corpus.iterdir()),
        "totals": totals,
    }
    (out / "meta.json").write_text(json.dumps(meta))


def ocr_corpus(seed: int, root: Path) -> Path:
    return _cached(root, f"ocr-{CACHE_VERSION}-{seed}", lambda d: _build_ocr(seed, d))


# -------------------------------------------------------- catalog tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = dt.datetime(1995, 1, 1)


def _catalog_frames(seed: int) -> dict:
    """The tables the catalog queries read, shaped like the sf0.01
    testdata (same columns, types and value domains), drawn from ``seed``."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_ord, n_part, n_supp = 15000, 2000, 100
    lines = rng.integers(0, 8, n_ord)  # 0 lines: an order without items
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    starts = np.cumsum(lines) - lines
    odate = (np.array(_EPOCH, dtype="datetime64[us]")
             + rng.integers(0, 2404, n_ord).astype("timedelta64[D]"))
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pd.DataFrame({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": (np.arange(n_li) - np.repeat(starts, lines) + 1).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(36, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
    })

    n_docs = 500
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.15:
            # near-duplicate of an earlier doc, as in the testdata
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            if rng.random() < 0.5:
                words.append("dup")
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return {"lineitem": lineitem, "documents": documents}


def extract_oracle_frame(documents):
    """``extract_main_content``'s expected rows, from ``oracle/extract.py``
    over the same (html, image, pdf) spans the query builds."""
    import pandas as pd

    from datamunging_spark.ml_ops import _WEB_HTML_TPL, _WEB_PDF_TPL
    from datamunging_spark.oracle.extract import extract_doc

    rows = []
    for doc_id, text in zip(documents["doc_id"], documents["text"]):
        did = str(doc_id)
        spans = [
            {"kind": "html", "text": _WEB_HTML_TPL % (did, did, text),
             "media_ref": "", "offset": 0},
            {"kind": "image", "text": "", "media_ref": f"media/{did}", "offset": 1},
            {"kind": "pdf", "text": _WEB_PDF_TPL % (text[:80], text[80:160]),
             "media_ref": f"pdf/{did}", "offset": 2},
        ]
        _, m = extract_doc(spans)
        rows.append({"doc_id": did, **{c: m[c] for c in (
            "html_blocks_kept", "html_blocks_dropped", "pdf_lines_kept",
            "pdf_lines_dropped", "chars_out")}})
    return pd.DataFrame(rows)


def _build_catalog(seed: int, out: Path) -> None:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datamunging_spark.ml_ops import ML_QUERIES
    from datamunging_spark.queries import RELATIONAL_QUERIES

    frames = _catalog_frames(seed)
    tables = out / "tables"
    tables.mkdir()
    for name, df in frames.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       tables / f"{name}.parquet")

    con = duckdb.connect()
    try:
        for name in frames:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{tables / name}.parquet')")
        catalog = {**RELATIONAL_QUERIES, **ML_QUERIES}
        hashes = {}
        for q in CATALOG_QUERIES:
            sql = catalog[q][1]
            want = (extract_oracle_frame(frames["documents"]) if sql is None
                    else con.sql(sql).df())
            hashes[q] = {"hash": value_hash(want), "rows": len(want)}
    finally:
        con.close()
    meta = {"seed": seed, "tables": "tables", "oracle": hashes}
    (out / "meta.json").write_text(json.dumps(meta))


def catalog_tables(seed: int, root: Path) -> Path:
    return _cached(root, f"catalog-{CACHE_VERSION}-{seed}",
                   lambda d: _build_catalog(seed, d))
