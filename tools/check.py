#!/usr/bin/env python3
"""Local correctness check, mirroring the driver's oracle compare.

Usage: python3 tools/check.py <outDir> [sfDir] [query ...]

Expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have produced
<outDir>/<name>.parquet plus <outDir>/oracle_sql.json. Runs each oracle
SQL in DuckDB over the sf parquet tables and compares rows/schema/values
(columns sorted by name, rows sorted by all columns).
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def compare_frames(a: pd.DataFrame, b: pd.DataFrame, atol=1e-6):
    """Order-insensitive frame equality that never keys a sort on floats.

    Non-float columns: both frames sorted by all of them (stringified),
    then compared positionally. Float columns: within each tie-group of
    the non-float key, compared as sorted multisets with tolerance —
    positional order inside a tie-group is engine-dependent and must not
    matter. Returns (ok, msg)."""
    import numpy as np
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = b[sorted(b.columns)].reset_index(drop=True)
    is_float = {c: a[c].dtype.kind == "f" or b[c].dtype.kind == "f"
                for c in a.columns}
    non_float = [c for c in a.columns if not is_float[c]]
    floats = [c for c in a.columns if is_float[c]]
    if non_float:
        a = a.sort_values(by=non_float, ignore_index=True,
                          key=lambda s: s.astype(str))
        b = b.sort_values(by=non_float, ignore_index=True,
                          key=lambda s: s.astype(str))
        for c in non_float:
            if not a[c].astype(str).equals(b[c].astype(str)):
                diff = a[c].astype(str) != b[c].astype(str)
                i = diff.idxmax()
                return False, (f"{c}: first diff row {i}: "
                               f"spark={a[c][i]!r} oracle={b[c][i]!r}")
    if floats:
        # Compare float columns as per-row TUPLES within each tie group —
        # sorting each column independently would discard cross-column row
        # association and accept genuinely mismatched results.
        # rows of a and b are aligned by the non-float sort above, so one
        # group's row positions apply to both sides. Groups are keyed on
        # the row tuples themselves in a Python dict: pandas' object
        # hashing (unique, factorize, groupby) stops at an embedded NUL
        # and would merge keys that differ only after one.
        groups = {}
        rows = (a[non_float].astype(str).itertuples(index=False, name=None)
                if non_float else [()] * len(a))
        for i, key in enumerate(rows):
            groups.setdefault(key, []).append(i)
        fa = np.column_stack([pd.to_numeric(a[c]).to_numpy(dtype=float)
                              for c in floats])
        fb = np.column_stack([pd.to_numeric(b[c]).to_numpy(dtype=float)
                              for c in floats])

        hash_risk = []

        def pairing(va, vb, key_a, key_b):
            """(within-atol?, hash-risk message or None) for one pairing.

            Driver-hash predictor: the driver hashes STRINGIFIED rounded
            values, where -1e-13 formats as "-0.000000" vs "0.000000"
            (sign-of-zero) and near-boundary values can round apart.
            allclose alone accepted r11's qa3 locally while the driver's
            hash failed it — a pairing whose 6-dp decimal strings differ
            carries that risk."""
            va = va[np.lexsort(key_a.T[::-1])]
            vb = vb[np.lexsort(key_b.T[::-1])]
            if not np.allclose(va, vb, rtol=0, atol=atol, equal_nan=True):
                return False, None
            sa = np.vectorize(lambda v: "%.6f" % v, otypes=[str])(va)
            sb = np.vectorize(lambda v: "%.6f" % v, otypes=[str])(vb)
            if np.array_equal(sa, sb):
                return True, None
            i, j = np.argwhere(sa != sb)[0]
            return True, (f"6dp-format mismatch (driver-hash risk): "
                          f"spark={sa[i][j]} oracle={sb[i][j]}")

        for g, idx in groups.items():
            va, vb = fa[idx], fb[idx]
            if len(va) != len(vb):
                return False, f"float group {g!r}: row count mismatch"
            # Pair rows across sides by sorting each on its float tuple.
            # Quantized keys (round(v/atol)) make near-equal values sort
            # identically on both sides; raw keys cover values that the
            # quantization itself splits across a bucket boundary. Either
            # pairing passing means a valid within-atol row matching
            # exists. Both pairings are EVALUATED before recording a
            # hash risk: the driver would use whichever alignment gives
            # byte-identical strings, so only flag when NO within-atol
            # pairing formats identically (the quantized pairing can pass
            # allclose while crossing within-atol rows whose raw-order
            # pairing would align the strings exactly).
            with np.errstate(invalid="ignore", over="ignore"):
                ra = np.round(va / atol) if atol else va
                rb = np.round(vb / atol) if atol else vb
            outcomes = [pairing(va, vb, ra, rb), pairing(va, vb, va, vb)]
            passed = [msg for ok, msg in outcomes if ok]
            if not passed:
                return False, (f"float tuple mismatch in group {g!r}: "
                               f"spark={va[:3].tolist()} "
                               f"oracle={vb[:3].tolist()}")
            if all(msg is not None for msg in passed):
                hash_risk.append(passed[0])
        if hash_risk:
            return False, hash_risk[0]
    return True, ""


def main():
    out_dir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    # a named row with no oracle is a failure, not an empty selection
    unknown = sorted(only - set(oracles))
    for name in unknown:
        print(f"{name}: UNKNOWN row (no oracle SQL in oracle_sql.json)")
    n_bad = len(unknown)
    for name in sorted(oracles):
        if only and name not in only:
            continue
        spark_glob = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not spark_glob:
            print(f"{name}: MISSING spark result")
            n_bad += 1
            continue
        try:
            sdf = pd.concat([pd.read_parquet(p) for p in spark_glob])
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"{name}: ERROR {e}")
            n_bad += 1
            continue
        rows_ok = len(sdf) == len(odf)
        cols_ok = sorted(sdf.columns) == sorted(odf.columns)
        vals_ok = False
        if rows_ok and cols_ok:
            try:
                vals_ok, msg = compare_frames(sdf.copy(), odf.copy())
                if not vals_ok:
                    print(f"  {name}: {msg}")
            except Exception as e:
                print(f"  {name}: compare error {e}")
        status = "OK" if (rows_ok and cols_ok and vals_ok) else "FAIL"
        if status == "FAIL":
            n_bad += 1
            print(f"{name}: {status} rows={len(sdf)}/{len(odf)} "
                  f"cols spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        else:
            print(f"{name}: OK ({len(sdf)} rows)")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
