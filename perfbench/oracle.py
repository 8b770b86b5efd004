#!/usr/bin/env python3
"""Output check of the benchmark: each operator's dumped output (one
coalesce(1) parquet directory per key, the graft.Verify shape) against
DuckDB running that key's `Q.oracle` over the same fixture, compared the
way tools/parity.py compares: column names, DuckDB column types, no
decimal/binary/nested columns, parity.py's row-sort replay, row count,
and every cell after parity.norm.

DuckDB's results are cached under .bench_work/oracle_cache, keyed by the
fixture's content hash, the oracle text and the DuckDB version, so a
repeated input set never re-runs a slow oracle.

Usage (from the repository root):
    python3 perfbench/oracle.py rebuild <workload> <seed>   refill the cache
    python3 perfbench/oracle.py selftest <workload> <seed>  corrupt one row
Both run the workload once (as `run.py` does) to get the dumps and the
oracle texts.
"""
import hashlib
import os
import pickle
import sys

import duckdb
import pandas as pd

sys.path.insert(0, "tools")
import parity  # noqa: E402  (the repository's own normalisation)

CACHE = os.path.join(".bench_work", "oracle_cache")


def _banned(t):
    return ("DECIMAL" in t or t == "BLOB" or "[]" in t
            or t.startswith("MAP(") or t.startswith("STRUCT("))


def _norm_columns(df):
    return {c: [parity.norm(v) for v in df[c].tolist()] for c in df.columns}


class Oracle:
    def __init__(self, fixture, footprint):
        self.footprint = footprint
        self.con = duckdb.connect()
        for t in parity.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
        self.hits = 0
        self.misses = 0

    def _key(self, sql):
        h = hashlib.sha256()
        for part in (self.footprint, sql, duckdb.__version__):
            h.update(part.encode() + b"\0")
        return h.hexdigest()

    def expected(self, sql, refresh=False):
        """(types, normalised columns, rows, sortable) of the oracle."""
        path = os.path.join(CACHE, self._key(sql) + ".pkl")
        if not refresh and os.path.isfile(path):
            self.hits += 1
            with open(path, "rb") as f:
                return pickle.load(f)
        self.misses += 1
        types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {sql}").fetchall()}
        odf = self.con.execute(sql).df()
        sortable = _sortable(odf)
        res = (types, _norm_columns(odf), len(odf), sortable)
        os.makedirs(CACHE, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
        return res

    def compare(self, dump_dir, sql, sdf=None):
        """None when the dump matches the oracle, else the first problem."""
        if not os.path.isdir(dump_dir) or not any(
                f.endswith(".parquet") for f in os.listdir(dump_dir)):
            return "no output dumped"
        stypes = {r[0]: r[1] for r in self.con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{dump_dir}/*.parquet')").fetchall()}
        if sdf is None:
            sdf = pd.read_parquet(dump_dir)
        otypes, ocols, orows, osortable = self.expected(sql)
        if sorted(stypes) != sorted(otypes):
            return f"columns {sorted(stypes)} != oracle {sorted(otypes)}"
        tdiff = {c: (stypes[c], otypes[c]) for c in stypes if stypes[c] != otypes[c]}
        if tdiff:
            return f"type mismatch (spark, oracle): {tdiff}"
        bad = sorted({c for c, t in list(stypes.items()) + list(otypes.items())
                      if _banned(t)})
        if bad:
            return f"decimal/binary/nested output columns {bad}"
        if not (_sortable(sdf) and osortable):
            return "row-sort replay failed"
        if len(sdf) != orows:
            return f"rows {len(sdf)} != oracle {orows}"
        scols = _norm_columns(sdf)
        for c in sorted(scols):
            for i, (a, b) in enumerate(zip(scols[c], ocols[c])):
                if a != b:
                    return f"row {i} col {c}: {a!r} != oracle {b!r}"
        return None


def _sortable(df):
    try:
        df.sort_values(by=list(df.columns))
        return True
    except Exception:
        return False


def corrupt(sdf):
    """Change one cell of one row, whatever its type."""
    bad = sdf.copy()
    if len(bad) == 0:
        return None
    c = sorted(bad.columns)[0]
    v = bad[c].iloc[0]
    if isinstance(v, str):
        nv = v + "#"
    elif isinstance(v, bool):
        nv = not v
    elif v is None or (not isinstance(v, (list, tuple)) and pd.isna(v)):
        nv = 1
    elif hasattr(v, "__add__") and not isinstance(v, (list, tuple)):
        try:
            nv = v + 1
        except TypeError:
            nv = str(v) + "#"
    else:
        nv = str(v) + "#"
    bad[c] = bad[c].astype(object)
    bad.at[bad.index[0], c] = nv
    return bad


def self_test(oracle, dump_root, keys):
    """Corrupt one row of the first matching non-empty output and return
    True when the check rejects it (and accepted the original)."""
    for key, sql in keys:
        d = os.path.join(dump_root, key)
        if oracle.compare(d, sql) is not None:
            continue
        sdf = pd.read_parquet(d)
        bad = corrupt(sdf)
        if bad is None:
            continue
        return key, oracle.compare(d, sql, sdf=bad) is not None
    return None, False


def _main():
    if len(sys.argv) != 4 or sys.argv[1] not in ("rebuild", "selftest"):
        raise SystemExit(__doc__)
    mode, workload, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    import run
    res, oracle = run.run_workload(workload, seed, seconds=0, trace=False)
    keys = [(k["key"], k["oracle"]) for k in res["keys"]]
    if mode == "rebuild":
        for _, sql in keys:
            oracle.expected(sql, refresh=True)
        print(f"cache: {len(keys)} oracle results written to {CACHE}")
    else:
        key, caught = self_test(oracle, run.DUMP, keys)
        print(f"self-test on {key}: corrupted row "
              f"{'rejected' if caught else 'NOT rejected'}")
        sys.exit(0 if caught else 1)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    _main()
