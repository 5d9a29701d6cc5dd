"""DuckDB oracle for the dataflow rows: runs each row's
`SparkEntry.oracleSql` over the same parquet tables and compares it with
the output the timed op wrote.

The compare rule is that of the repo's `tools/check.py` (columns by name;
rows sorted by the non-float columns, which must match; within each group
of equal non-float values the float columns compared as a multiset of row
tuples, within 1e-6 and equal at 6 decimals), reimplemented here so that
groups are keyed on the column values themselves. `tools/check.py` keys
them on the values joined with "\\x00" and walks `gkey.unique()`, which in
pandas 2.2 merges keys that differ only after the first NUL, so it leaves
the float columns of most groups unchecked. When it accepts an output this
rule rejects, the row fails and gets a note naming that defect.
"""
import glob
import importlib.util
import json
import os

import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _pairing_ok(gid, va, vb, key_a, key_b, atol):
    """Per group: does pairing the rows of each side in the order of its
    own (group, key) sort put every pair within atol and equal at 6
    decimals?"""
    def order(keys):
        return np.lexsort(tuple(keys[:, j] for j in
                                reversed(range(keys.shape[1]))) + (gid,))
    sa, sb = va[order(key_a)], vb[order(key_b)]
    close = np.isclose(sa, sb, rtol=0, atol=atol, equal_nan=True).all(axis=1)
    # only values that differ can format differently
    same6 = np.ones(sa.shape, dtype=bool)
    diff = ~((sa == sb) | (np.isnan(sa) & np.isnan(sb)))
    same6[diff] = (np.char.mod("%.6f", sa[diff]) ==
                   np.char.mod("%.6f", sb[diff]))
    same6 = same6.all(axis=1)
    bad = np.bincount(gid, weights=(~(close & same6)).astype(float),
                      minlength=gid[-1] + 1)
    return bad == 0


def compare(a, b, atol=1e-6):
    """(ok, message) for frames with the same columns and row count."""
    import pandas as pd
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    cols = sorted(a.columns)
    is_float = {c: a[c].dtype.kind == "f" or b[c].dtype.kind == "f"
                for c in cols}
    keys = [c for c in cols if not is_float[c]]
    floats = [c for c in cols if is_float[c]]
    n = len(a)
    if n == 0:
        return True, ""
    if keys:
        sa = a[keys].astype(str).sort_values(by=keys, kind="stable")
        sb = b[keys].astype(str).sort_values(by=keys, kind="stable")
        ka, kb = sa.to_numpy(), sb.to_numpy()
        diff = (ka != kb).any(axis=1)
        if diff.any():
            i = int(diff.argmax())
            c = keys[int((ka[i] != kb[i]).argmax())]
            return False, (f"{c}: first diff row {i}: spark={ka[i]!r} "
                           f"oracle={kb[i]!r}")
        starts = np.ones(n, dtype=bool)
        starts[1:] = (ka[1:] != ka[:-1]).any(axis=1)
        gid = np.cumsum(starts) - 1
        ia, ib = sa.index.to_numpy(), sb.index.to_numpy()
    else:
        gid = np.zeros(n, dtype=np.int64)
        ia = ib = np.arange(n)
    if not floats:
        return True, ""

    def num(df, idx):
        return np.column_stack([pd.to_numeric(df[c]).to_numpy(dtype=float)
                                for c in floats])[idx]
    va, vb = num(a, ia), num(b, ib)
    with np.errstate(invalid="ignore", over="ignore"):
        qa, qb = np.round(va / atol), np.round(vb / atol)
    # a group passes if either pairing (quantized or raw values) matches
    ok = _pairing_ok(gid, va, vb, qa, qb, atol)
    if not ok.all():
        ok |= _pairing_ok(gid, va, vb, va, vb, atol)
    if ok.all():
        return True, ""
    g = int((~ok).argmax())
    row = int(np.flatnonzero(gid == g)[0])
    where = (f"group {dict(zip(keys, ka[row]))}" if keys else "all rows")
    return False, (f"float columns {floats} differ in {where}: "
                   f"spark={va[gid == g][:3].tolist()} "
                   f"oracle={vb[gid == g][:3].tolist()}")


def _repo_rule(root):
    """`tools/check.py`'s compare_frames, or None when the checkout has no
    such file."""
    path = os.path.join(root, "tools", "check.py")
    if not os.path.exists(path):
        return None
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare_frames


def check(root, data_dir, out_dir, rows):
    """({row: failure message} for every row whose output differs from the
    oracle, rows without an oracle included; {row: note} for failed rows
    that `tools/check.py`'s rule accepts)."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    bad, notes = {}, {}
    for row in rows:
        if row not in oracles:
            bad[row] = "no oracle SQL in SparkEntry.oracleSql"
            continue
        files = glob.glob(os.path.join(out_dir, row, "*.parquet"))
        try:
            got = (pd.concat([pd.read_parquet(p) for p in files])
                   if files else None)
            want = con.execute(oracles[row]).fetchdf()
        except Exception as e:  # the message names the row's failure
            bad[row] = f"oracle error: {type(e).__name__}: {e}"[:300]
            continue
        if got is None:
            # an empty result writes no part file: compare row counts only
            if len(want):
                bad[row] = f"no output rows, oracle has {len(want)}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[row] = (f"columns {sorted(got.columns)} vs oracle "
                        f"{sorted(want.columns)}")
        elif len(got) != len(want):
            bad[row] = f"rows {len(got)} vs oracle {len(want)}"
        else:
            ok, msg = compare(got, want)
            if not ok:
                bad[row] = msg[:300]
                repo_rule = _repo_rule(root)
                if repo_rule and repo_rule(got.copy(), want.copy())[0]:
                    notes[row] = ("tools/check.py's rule accepts this "
                                  "output: it merges groups whose keys "
                                  "differ after a NUL")
    con.close()
    return bad, notes
