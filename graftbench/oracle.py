"""Correctness gate: the engine's results against their DuckDB oracles.

The comparison rules are the repository's own (tools/check.py, imported
from the checkout this benchmark runs in): columns compared by name, rows
in any order, integer widths collapsed but int-vs-float and timestamp
kinds kept apart, values compared exactly, and signed zeros told apart.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
import check  # noqa: E402  (tools/check.py)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def compare(got: pd.DataFrame, want: pd.DataFrame):
    """None when the two results hold the same rows (in any order),
    else the first difference found, by tools/check.py's rules."""
    got, want = check.norm(got), check.norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = [c for c in got.columns
           if check.family(got[c].dtype) != check.family(want[c].dtype)]
    if bad:
        return "dtype mismatch " + ", ".join(
            f"{c}: {got[c].dtype} vs {want[c].dtype}" for c in bad)
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        lines = str(e).splitlines()
        return lines[-1] if lines else "values differ"
    zeros = check.signbit_mismatch(got, want)
    return f"signed-zero mismatch {zeros}" if zeros else None


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_queries(con, verify_dir: str, oracle_sql: dict) -> dict:
    """Query name -> None (matches its oracle) or the mismatch."""
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(verify_dir, q, "*.parquet"))
        if not files:
            out[q] = "no engine output"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            out[q] = compare(got, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle or read error is a mismatch too
            out[q] = f"{type(e).__name__}: {e}"
    return out


def expected_answer(con, lookup: dict, pairs: pd.DataFrame) -> str:
    """What a point read after the batch ending at document id `bound`
    must return: the one-shot oracle semantics of st16 (stats), st15
    (pairs) and st19 (token counts) over the ingested prefix."""
    key, bound = lookup["key"], lookup["bound"]
    if lookup["kind"] == "stats":
        row = con.execute(
            r"""SELECT count(*), sum(len(list_filter(string_split_regex(
                trim(text), '\s+'), x -> len(x) > 0))), sum(len(text))
                FROM documents WHERE source = ? AND doc_id < ?""",
            [key, bound]).fetchone()
        return ",".join(str(int(v)) for v in row)
    if lookup["kind"] == "pairs":
        ids = pairs[(pairs.id_a == key) & (pairs.id_b < bound)].id_b
        return ",".join(str(int(v)) for v in sorted(ids))
    (n,) = con.execute(
        r"""SELECT count(*) FROM (SELECT unnest(list_filter(
            regexp_split_to_array(lower(text), '\s+'), x -> x != '')) AS t
            FROM documents WHERE doc_id < ?) WHERE t = ?""",
        [bound, key]).fetchone()
    return str(int(n))
