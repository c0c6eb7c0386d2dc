#!/usr/bin/env python
"""Emit CORRECTNESS_local.json: the driver-style correctness record for
the ENTIRE query catalog, not just the driver's 50-slot window.

The per-round driver artifact (CORRECTNESS_r{N}.json) caps at 50
queries; the ~30 off-window catalog entries carry the same DuckDB
oracles but their results were only visible by re-running 300+ s of
pytest. This tool runs every ``queries()`` entry at sf0.01 against its
``oracle_sql()`` twin and records the same fields the driver records —
rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err — plus ``oracle: "rows-only"`` for the few entries that are
non-SQL-expressible by nature (their invariants live in pytest).

Every record, the rows-only ones included, also carries ``value_hash``:
the hash of the Spark result alone. ``hash_match`` compares the two
engines, so a change that moves both the same way keeps it True;
``value_hash`` pins the result itself across changes.

Comparison semantics mirror tests/test_queries_oracle.py (the strictest
reading of the driver's order-insensitive value-hash): columns sorted
by name, values canonicalized (floats rounded to 9 places, NaN tagged,
timestamps ISO), rows sorted, then sha256 over the repr.

Usage:  make correctness   (or: python tools/gen_correctness.py [sf_dir])
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from datamunging_spark.session import get_spark  # noqa: E402
from tests.test_queries_oracle import TABLES, _rows  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = REPO / "CORRECTNESS_local.json"


def _hash(cols, recs) -> str:
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for r in recs:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def main() -> None:
    spark = get_spark(app_name="gen-correctness")
    con = duckdb.connect()
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
        con.sql(
            f"CREATE VIEW {tbl} AS "
            f"SELECT {sel} FROM read_parquet('{SF_DIR}/{tbl}.parquet'){where}"
        )
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    report: dict[str, dict] = {}
    t0 = time.time()
    for i, (name, fn) in enumerate(qs.items()):
        rec: dict = {"err": None}
        try:
            got = fn(spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(got)
            gc, gr = _rows(got)
            rec["value_hash"] = _hash(gc, gr)
            if name in osql:
                want = con.sql(osql[name]).df()
                wc, wr = _rows(want)
                rec.update(
                    oracle_rows=len(want),
                    rows_match=len(got) == len(want),
                    schema_match=gc == wc,
                    hash_match=_hash(gc, gr) == _hash(wc, wr),
                )
            else:
                rec.update(oracle="rows-only",
                           rows_match=rec["spark_rows"] >= 0)
        except Exception as e:  # noqa: BLE001 — record, keep going
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
        report[name] = rec
        print(f"[{i + 1}/{len(qs)}] {name}: "
              f"{'ERR' if rec['err'] else rec.get('hash_match', 'rows-only')}",
              flush=True)
    report["_meta"] = {
        "sf_dir": SF_DIR,
        "n_queries": len(qs),
        "n_oracle_checked": len(osql),
        "wall_s": round(time.time() - t0, 1),
        "all_green": all(
            r.get("err") is None
            and r.get("hash_match", r.get("rows_match", False)) in (True, "rows-only")
            for n, r in report.items() if n != "_meta"
        ),
    }
    OUT.write_text(json.dumps(report, indent=2) + "\n")
    print(f"wrote {OUT} — all_green={report['_meta']['all_green']}")
    spark.stop()


if __name__ == "__main__":
    main()
