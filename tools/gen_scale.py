#!/usr/bin/env python3
"""Synthesize a larger scale-factor dir by replicating an existing one.

Usage: python3 tools/gen_scale.py <srcDir> <dstDir> <replicas>

Replica r gets:
  - every *key / id column offset by r * 100_000_000 (keeps each
    replica's modular-arithmetic distributions uniform; nation/region
    dimension tables are copied as-is). A source key of 100_000_000 or
    more would collide across replicas, so the script exits non-zero,
    naming the table and column, before it writes anything;
  - document text with a per-replica token suffix (replica 0 keeps the
    original) so cross-replica token overlap is ZERO: within-replica
    near-dup/selectivity structure is preserved exactly, and the corpus
    does not degenerate into a worst-case duplication soak (that's
    graft.Soak's job);
  - embeddings multiplied elementwise by a deterministic per-replica
    ±1 sign pattern: within-replica cosine structure is IDENTICAL
    (cos(s·x, s·y) = cos(x, y)); cross-replica cosines decorrelate
    (E[cos] ≈ 0 for sign patterns agreeing on ~half the dims).

This is a SCALING datapoint generator, not driver testdata: results at
the new SF are not oracle-gated against the driver's generator, but
DuckDB can run the same oracle SQL on the same dir for paired timings.
"""
import hashlib
import sys

import duckdb

OFF = 100_000_000

KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}
COPY = ["nation", "region"]


def signs(r: int, dims: int) -> list:
    out = []
    for i in range(dims):
        h = hashlib.md5(f"scale_{r}_{i}".encode()).digest()[0]
        out.append(1.0 if (r == 0 or h % 2 == 0) else -1.0)
    return out


def colliding_keys(con, src):
    """(table, column, max) of every key column whose values reach OFF:
    replica r adds r * OFF, so such a key would collide across replicas."""
    out = []
    for t, keys in KEYS.items():
        maxes = con.sql(
            f"select {', '.join(f'max({k})' for k in keys)} "
            f"from '{src}/{t}.parquet'").fetchone()
        out += [(t, k, m) for k, m in zip(keys, maxes)
                if m is not None and m >= OFF]
    return out


def main():
    src, dst, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
    import os
    con = duckdb.connect()
    bad = colliding_keys(con, src)
    for t, k, m in bad:
        print(f"gen_scale: {t}.{k} reaches {m} >= {OFF}; replicas would "
              f"collide", file=sys.stderr)
    if bad:
        sys.exit(1)
    os.makedirs(dst, exist_ok=True)
    dims = con.sql(
        f"select len(embedding) from '{src}/embeddings.parquet' limit 1"
    ).fetchone()[0]
    for t in COPY:
        con.sql(f"copy (select * from '{src}/{t}.parquet') to "
                f"'{dst}/{t}.parquet' (format parquet)")
        print("copied", t)
    for t, keys in KEYS.items():
        legs = []
        for r in range(reps):
            cols = []
            for row in con.sql(
                    f"describe select * from '{src}/{t}.parquet'").fetchall():
                name = row[0]
                if name in keys:
                    cols.append(f"({name} + {r * OFF}) AS {name}")
                elif t == "documents" and name == "text" and r > 0:
                    # suffix every token: zero cross-replica overlap
                    cols.append(
                        f"regexp_replace(text, '([A-Za-z0-9]+)', "
                        f"'\\1x{r}', 'g') AS text")
                elif t == "embeddings" and name == "embedding" and r > 0:
                    sgn = ",".join(f"{x:.1f}" for x in signs(r, dims))
                    cols.append(
                        f"CAST(list_transform(list_zip(embedding, "
                        f"[{sgn}]), s -> s[1] * CAST(s[2] AS FLOAT)) "
                        f"AS FLOAT[]) AS embedding")
                else:
                    cols.append(name)
            legs.append(
                f"select {', '.join(cols)} from '{src}/{t}.parquet'")
        q = " UNION ALL ".join(legs)
        con.sql(f"copy ({q}) to '{dst}/{t}.parquet' (format parquet)")
        n = con.sql(f"select count(*) from '{dst}/{t}.parquet'").fetchone()[0]
        print("wrote", t, n)


if __name__ == "__main__":
    main()
