#!/usr/bin/env python3
"""Seeded fixture set for the benchmark: the repository's own generator,
tools/gen_sf.py (schemas and value domains of FIXTURES.md), run with its
PRNG seeded from the benchmark's --seed instead of its fixed 42. The same
seed gives byte-identical tables; seed 42 reproduces gen_sf.py's default
output.

Usage (from the repository root):
    python3 perfbench/fixture.py <seed> <outdir> [sf]
"""
import contextlib
import hashlib
import os
import runpy
import sys

GENERATOR = "tools/gen_sf.py"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def generate(seed, outdir, sf):
    """Write the ten tables for (seed, sf) into outdir, unless the stamp
    says they are already there."""
    import numpy as np
    want = f"seed={seed} sf={sf}"
    stamp = os.path.join(outdir, ".stamp")
    if os.path.isfile(stamp) and open(stamp).read() == want:
        return outdir
    if not os.path.isfile(GENERATOR):
        raise SystemExit(f"fixture: {GENERATOR} not found; run from the "
                         "repository root")
    if os.path.isfile(stamp):
        os.remove(stamp)
    rng = np.random.default_rng
    argv = sys.argv
    np.random.default_rng = lambda _fixed: rng(seed)
    sys.argv = [GENERATOR, str(sf), outdir]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            runpy.run_path(GENERATOR, run_name="__main__")
    finally:
        np.random.default_rng = rng
        sys.argv = argv
    with open(stamp, "w") as f:
        f.write(want)
    return outdir


def footprint(fixture):
    """Content hash of the ten tables: keys the DuckDB result cache."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(fixture, f"{t}.parquet"), "rb") as f:
            h.update(t.encode() + b"\0" + f.read())
    return h.hexdigest()


def row_counts(fixture):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(fixture, f"{t}.parquet"))
            .metadata.num_rows for t in TABLES}


if __name__ == "__main__":
    seed, out = int(sys.argv[1]), sys.argv[2]
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 0.01
    generate(seed, out, sf)
    print(row_counts(out))
