"""Deterministic sf1 (and beyond) fixture generator.

    python scripts/gen_sf.py [--factor 10] [--out /tmp/sf1]

/root/testdata is read-only and tops out at sf0.1; the scale evidence
in SCALE.md needs at least one measured decade above that.  This
script scales sf0.1 by ``--factor`` via key-shifted replication:

- copy 0 is the identity; copy i shifts every key column by
  i × stride(table) with one shared stride per key DOMAIN, so FK
  integrity (orders.o_custkey → customer, lineitem.l_orderkey →
  orders, ...) holds exactly and every join's selectivity per key is
  UNCHANGED — output cardinalities scale linearly by construction,
  which is what makes the sf1/sf0.1 bench ratio interpretable.
- region/nation are fixed dimensions (TPC-H semantics) — copied once.
- documents get a per-copy INTERLEAVED token salt (``rep{i}`` every
  4 words) so copies land below the near-dup Jaccard line — a bare
  prefix salt left copies ~99% shingle-identical, creating factor-way
  near-dup clusters whose in-bucket pairs grow with factor² (measured
  19.4× dedup_near at factor 100); n_chars is recomputed to stay
  consistent with the text.
- embeddings rotate the vector by i positions per copy —
  norm-preserving and deterministic, so ANN recall referees keep a
  non-degenerate neighbor structure instead of 10 exact duplicates of
  every point.
- events keep their timestamps (10× density, same window span — the
  realistic way an event stream scales) and shift event/user ids.

Everything runs as ONE Spark job per table (union of shifted
projections → write), no driver-side loops over rows.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"

# key domains and the tables/columns that draw from them
KEY_DOMAINS = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "event_id": [("events", "event_id")],
    "user_id": [("events", "user_id")],
    "doc_id": [("documents", "doc_id")],
    "vec_id": [("embeddings", "vec_id")],
}

FIXED_DIMS = ("region", "nation")
SCALED = (
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/tmp/sf1")
    ap.add_argument(
        "--tables",
        default="",
        help="comma-separated subset to (re)generate; default all",
    )
    args = ap.parse_args()
    only = set(args.tables.split(",")) if args.tables else None

    import pyspark.sql.functions as F

    from graphsense_datafeed_spark.session import build_session

    spark = build_session("gen-sf")
    os.makedirs(args.out, exist_ok=True)

    # one stride per key domain: next power of 10 above the max, so
    # shifted keys are disjoint AND human-readable (copy = leading digit)
    strides: dict[str, int] = {}
    for dom, cols in KEY_DOMAINS.items():
        table, col = cols[0]
        hi = (
            spark.read.parquet(f"{SRC}/{table}.parquet")
            .agg(F.max(col))
            .collect()[0][0]
        )
        stride = 10 ** len(str(int(hi)))
        strides[dom] = stride
    col_stride = {
        (t, c): strides[dom] for dom, cols in KEY_DOMAINS.items() for t, c in cols
    }

    import glob
    import shutil

    def write_single_file(df, table):
        # one parquet FILE per table (the driver's testdata layout) so
        # DuckDB oracles can read_parquet('{dir}/{t}.parquet') at sf1
        # exactly as they do at the driver SFs
        stage = f"{args.out}/_stage_{table}"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dest = f"{args.out}/{table}.parquet"
        if os.path.isdir(dest):
            shutil.rmtree(dest)
        shutil.move(part, dest)
        shutil.rmtree(stage)

    for table in FIXED_DIMS:
        if only and table not in only:
            continue
        write_single_file(spark.read.parquet(f"{SRC}/{table}.parquet"), table)
        print(f"{table}: copied (fixed dim)")

    for table in SCALED:
        if only and table not in only:
            continue
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        shifted_cols = {
            c: s for (t, c), s in col_stride.items() if t == table
        }
        copies = []
        for i in range(args.factor):
            cp = df
            for c, stride in shifted_cols.items():
                cp = cp.withColumn(c, (F.col(c) + F.lit(i * stride)).cast("bigint"))
            if table == "documents" and i > 0:
                # interleave a copy token every 4 words: a bare prefix
                # salt leaves copies ~99% shingle-identical, turning
                # the corpus into factor-way near-dup clusters whose
                # in-bucket pairs grow with factor² (measured: 19.4×
                # dedup_near at factor 100). Poisoning every 5-shingle
                # keeps copies BELOW the 0.8-Jaccard line, so dup
                # structure stays realistic as the factor grows.
                cp = cp.withColumn(
                    "text",
                    F.expr(
                        "array_join(flatten(transform("
                        "  split(text, ' '), "
                        f" (w, j) -> CASE WHEN j % 4 = 0 THEN array('rep{i}', w) "
                        "            ELSE array(w) END)), ' ')"
                    ),
                ).withColumn("n_chars", F.length("text").cast("bigint"))
            if table == "embeddings" and i > 0:
                # rotate by i mod dim: norm-preserving deterministic
                # perturbation (mod keeps factors > dim valid; the one
                # copy per full cycle that lands on rotation 0 is an
                # exact duplicate — harmless for bench, noted for ANN)
                dim = len(df.first()["embedding"])
                rot = i % dim
                if rot:
                    cp = cp.withColumn(
                        "embedding",
                        F.concat(
                            F.slice("embedding", rot + 1, dim - rot),
                            F.slice("embedding", 1, rot),
                        ),
                    )
            copies.append(cp)
        out = copies[0]
        for cp in copies[1:]:
            out = out.unionAll(cp)
        write_single_file(out, table)
        n = spark.read.parquet(f"{args.out}/{table}.parquet").count()
        print(f"{table}: {n} rows ({args.factor}x)")

    if only:
        spark.stop()
        return 0
    # FK integrity spot-check: every lineitem orderkey resolves
    li = spark.read.parquet(f"{args.out}/lineitem.parquet")
    o = spark.read.parquet(f"{args.out}/orders.parquet")
    orphans = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count()
    print(f"orphan lineitems: {orphans}")
    spark.stop()
    return 0 if orphans == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
