#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs each SparkEntry query result (parquet dumped by graft.Verify)
against its DuckDB oracle on the same sf dir and compares values
exactly: columns sorted by name, cell-wise equality (bitwise for
floats — the engine is built for exact parity).

Rows are compared IN ORDER first — the driver's hash is
order-sensitive, and r10's q_match_recognize proved canonical-sort
compare passes locally while the driver fails on row order alone.
Since r11, Verify pins a canonical total sort on both sides, so
in-order equality is the contract; a multiset-equal-but-misordered
result is reported as its own failure class (ORDER-ONLY) so the
order bug is never mistaken for a value bug.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [key1,key2,...]
(the optional key list checks a subset, matching Verify's
SPARK_GRAFT_ONLY iteration flow)
"""
import json
import math
import os
import shutil
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    # Sort by non-float cells first so nearly-equal floats can't misalign
    # got/exp row pairing (floats only break remaining ties).
    def key(r):
        hard = tuple((x is None, str(x)) for x in r
                     if not isinstance(x, float))
        soft = tuple((x is None, repr(x)) for x in r
                     if isinstance(x, float))
        return (hard, soft)
    return sorted(rows, key=key)


def cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, float) and isinstance(b, float) \
                and math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


# disk left free for everything else when DuckDB spills
SPILL_MARGIN = 2 * 1024 ** 3


def main(sf_dir, out_dir, only=None):
    # DuckDB spills under the output dir, capped below the disk's free
    # space, so an oracle too big for the disk fails fast with DuckDB's
    # own out-of-space error instead of filling the disk; the spill
    # dir is removed whatever happens
    spill = os.path.join(out_dir, "_duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    try:
        cap = max(0, shutil.disk_usage(spill).free - SPILL_MARGIN)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{spill}'")
        con.execute(f"SET max_temp_directory_size = '{cap}B'")
        return compare(con, sf_dir, out_dir, only)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def compare(con, sf_dir, out_dir, only):
    for t in TABLES:
        # driver fixtures ship single parquet FILES; GenScale'd corpora
        # (sf1) write Spark directory layouts — glob those
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:
        unknown = only - set(oracle)
        if unknown:
            # a typo'd key must fail fast, not report "0 pass / 0 fail"
            print(f"ERROR: unknown keys {sorted(unknown)}")
            return 1
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = list(got_rel.columns)
            got = got_rel.fetchall()
            exp_rel = con.sql(sql)
            exp_cols = list(exp_rel.columns)
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
            continue
        # Physical-type parity: the driver's hash is type-aware through
        # non-fetchall client paths (r11's q_match_recognize failed on
        # HUGEINT vs BIGINT while fetchall-based value compare passed).
        # fetchall() coerces HUGEINT->int and DECIMAL->Decimal, hiding
        # the class — so compare DuckDB logical types per column and
        # fail on ANY mismatch before the value compare.
        got_t = dict(zip(got_cols, [str(t) for t in got_rel.types]))
        exp_t = dict(zip(exp_cols, [str(t) for t in exp_rel.types]))
        type_bad = [(c, got_t[c], exp_t[c]) for c in sorted(got_cols)
                    if got_t[c] != exp_t[c]]
        if type_bad:
            print(f"FAIL {name}: TYPE mismatch " +
                  "; ".join(f"{c}: spark={g} oracle={e}"
                            for c, g, e in type_bad))
            n_fail += 1
            continue
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        ei = [exp_cols.index(c) for c in sorted(exp_cols)]
        got_r = [[r[i] for i in gi] for r in got]
        exp_r = [[r[i] for i in ei] for r in exp]
        if len(got_r) != len(exp_r):
            print(f"FAIL {name}: rows {len(got_r)} != {len(exp_r)}")
            n_fail += 1
            continue

        def first_diff(gs, es):
            for i, (g, e) in enumerate(zip(gs, es)):
                if not all(cells_equal(x, y) for x, y in zip(g, e)):
                    return (i, g, e)
            return None

        bad = first_diff(got_r, exp_r)
        if bad is None:
            print(f"PASS {name} ({len(got_r)} rows)")
            n_pass += 1
            continue
        # disambiguate: value bug vs order-only bug
        canon_bad = first_diff(canon(got_r), canon(exp_r))
        if canon_bad is None:
            print(f"FAIL {name}: ORDER-ONLY diff (multiset equal) at row "
                  f"{bad[0]}:\n  got {bad[1]}\n  exp {bad[2]}")
        else:
            print(f"FAIL {name}: first diff row {canon_bad[0]}:\n"
                  f"  got {canon_bad[1]}\n  exp {canon_bad[2]}")
        n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
