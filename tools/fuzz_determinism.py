#!/usr/bin/env python3
"""Engine-parallelism determinism fuzz (r6 verdict #7 — the last untested
axis of the hash-match contract): every graded query's output must be
BIT-STABLE when the engines' parallelism changes, because the driver's
hash compare would otherwise flap with host conditions.

Matrix:
  Spark : graft.Verify at SPARK_GRAFT_CPUS=4 vs 32 (local[N] AND
          spark.sql.shuffle.partitions both change — partition count,
          partition ORDER, and reduce-side merge order all move)
  DuckDB: each oracle SQL at threads=1 vs 8

A query passes an axis when the row-sorted, string-normalized frames are
IDENTICAL across the two settings (same normalization as parity.py — the
driver hashes strings, so string-identity is the real contract).

Usage: fuzz_determinism.py [sfDir] [q1,q2,...]
Default query set spans the determinism-sensitive shapes: float aggs,
window ties, join+agg, doc-frequency text stats, banded minhash, session
windows, vector folds, kmeans, hash sampling, packing.
"""
import duckdb, json, os, subprocess, sys, tempfile
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from parity import norm, TABLES

DEFAULT_QS = ["agg_stats", "agg_moments", "win_topk_group",
              "join_star_flagship", "text_tfidf", "text_minhash_band_pairs",
              "ts_session", "vec_cosine_topk", "vec_kmeans_step",
              "ml_dataset_mix", "ml_pack_sequences", "agg_twophase_salted",
              "vec_residual_pq_topk",  # r8: argmin windows + fixed-order ADC
              # term-bag text stats: k-weighted integer sums, bag folds
              "text_entropy", "text_stopword_discovery", "text_zipf_slope",
              "text_hapax_ratio", "text_rarity_score",
              "text_unigram_lm_score",
              # two-wave streams: the restart wave reuses the classes the
              # first wave compiled in the shared executor classloader
              "stream_restart_parity", "stream_late_drop_parity",
              "stream_dedup_parity", "stream_dropdup_within_watermark"]

ADD_OPENS = " ".join(
    f"--add-opens java.base/{p}=ALL-UNNAMED" for p in
    ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
     "java.net", "java.nio", "java.util", "java.util.concurrent",
     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
     "sun.security.action", "sun.util.calendar"])


def run_verify(sf, out, cpus, qs):
    cmd = (f"java {ADD_OPENS} -Xmx16g -Dspark.ui.enabled=false "
           f"-Dspark.sql.session.timeZone=UTC "
           f"-cp /root/repo/target/scala-2.13/classes:/opt/spark/jars/* "
           f"graft.Verify {sf} {out} {','.join(qs)}")
    subprocess.run(cmd, shell=True, check=True, capture_output=True,
                   env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)})


def normalize(df):
    """Row-sorted, string-normalized frame — the driver's hash input."""
    s = df.copy()
    for c in s.columns:
        s[c] = s[c].map(norm)
    return s.sort_values(by=sorted(s.columns))[sorted(s.columns)] \
            .reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata/sf1"
    qs = sys.argv[2].split(",") if len(sys.argv) > 2 else DEFAULT_QS
    outA = tempfile.mkdtemp(prefix="fuzz_cpus4_")
    outB = tempfile.mkdtemp(prefix="fuzz_cpus32_")
    print(f"fuzz: sf={sf} queries={len(qs)}; Verify at cpus=4 ...",
          flush=True)
    run_verify(sf, outA, 4, qs)
    print("fuzz: Verify at cpus=32 ...", flush=True)
    run_verify(sf, outB, 32, qs)
    oracles = json.load(open(f"{outA}/oracle_sql.json"))
    fails = []
    for name in qs:
        # Spark axis: partitions 4 vs 32
        try:
            a = normalize(pd.read_parquet(f"{outA}/{name}"))
            b = normalize(pd.read_parquet(f"{outB}/{name}"))
            spark_ok = a.equals(b)
        except Exception as e:
            spark_ok = f"ERR {type(e).__name__}: {e}"
        # DuckDB axis: threads 1 vs 8
        duck_ok = "n/a (no oracle)"
        if name in oracles:
            frames = []
            for th in (1, 8):
                con = duckdb.connect()
                con.execute(f"SET threads={th}")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * "
                                f"FROM '{sf}/{t}.parquet'")
                frames.append(normalize(con.execute(oracles[name]).df()))
                con.close()
            duck_ok = frames[0].equals(frames[1])
        ok = spark_ok is True and duck_ok in (True, "n/a (no oracle)")
        print(f"{'PASS' if ok else 'FAIL'} {name}: spark_4v32={spark_ok} "
              f"duckdb_1v8={duck_ok}")
        if not ok:
            fails.append(name)
    print(f"== {len(qs) - len(fails)}/{len(qs)} stable" +
          (f"; UNSTABLE: {', '.join(fails)}" if fails else ""))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
