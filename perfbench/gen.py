"""Seeded input generator. It derives table sets with the schema of the
read-only template tables (PERFBENCH_TEMPLATE, default ~/testdata/sf0.1, the
sf0.1 set TESTDATA.md describes) so the repository's oracle SQL applies
unchanged, and never writes there.

The corpus is a fixed quarter of the template documents (1.2k of 5k), and
the TPC-H tables a fixed quarter of the orders with their lineitems, which
keeps a run within the benchmark's time budget.
Each seed then drops a seed-chosen ~2% of the rows (orders drop together
with their lineitems) and appends a seed token to a seed-chosen 5% of the
documents, so each seed is a different input of the same size. Ids keep
their values: the board rows' oracle SQL selects by id residues.
"""
import os
import shutil

import duckdb

SCALE_MOD = 4     # 1 in SCALE_MOD template documents and orders is kept
DROP_MOD = 50     # 1 in 50 rows dropped per seed
TOKEN_MOD = 20    # 1 in 20 documents get the seed token

TEMPLATE = os.environ.get("PERFBENCH_TEMPLATE", os.path.expanduser("~/testdata/sf0.1"))

TABLES = ["documents", "orders", "lineitem"]


def _keep(key, seed):
    # a seeded hash of the key; hash() is deterministic for a given duckdb
    return f"(hash({key}, {seed}) % {DROP_MOD}) <> 0"


def generate(dst, seed):
    """Build the table set for `seed` under dst (skipped when a finished set
    is already there)."""
    done = os.path.join(dst, "DONE")
    if os.path.exists(done):
        return dst
    if not os.path.isdir(TEMPLATE):
        raise SystemExit(f"template tables not found: {TEMPLATE}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    src = lambda t: f"read_parquet('{TEMPLATE}/{t}.parquet')"
    text = f"text || CASE WHEN hash(doc_id, {seed} + 1) % {TOKEN_MOD} = 0 THEN ' seed{seed}' ELSE '' END"
    selects = {
        "documents": f"""SELECT doc_id, {text} AS text, lang, source,
            CAST(length({text}) AS BIGINT) AS n_chars
            FROM {src('documents')} WHERE hash(doc_id) % {SCALE_MOD} = 0 AND {_keep('doc_id', seed)}""",
        "orders": f"""SELECT * FROM {src('orders')}
            WHERE hash(o_orderkey) % {SCALE_MOD} = 0 AND {_keep('o_orderkey', seed)}""",
        "lineitem": f"""SELECT * FROM {src('lineitem')}
            WHERE hash(l_orderkey) % {SCALE_MOD} = 0 AND {_keep('l_orderkey', seed)}""",
    }
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"COPY ({selects[t]}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
    open(done, "w").close()
    return dst
