"""Driver-style verification gate — run from ANY directory:

    python scripts/verify_driver_style.py [qid ...]

Replicates what the grading driver does (SURVEY §0.1): builds a BARE
SparkSession (none of the repo's builder confs — loaders must
self-heal), imports the checkout's own __spark_entry__.py, smoke-runs entry(),
then for every oracle pair runs the Spark query and the DuckDB SQL at
sf0.01 and compares columns + order-insensitive canonical rows;
queries without an oracle get the driver's weaker rows-only check.
Pass query ids to restrict to a changed subset.

Exit code 0 = green. This is the pre-commit gate: pytest alone cannot
catch worker-pickling and runtime-conf regressions that only appear in
a bare session launched outside the repo (round-1 lesson).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


SF_DIR = os.environ.get("GDS_VERIFY_SF_DIR", "/root/testdata/sf0.01")


# Queries ALLOWED to emit the runtime `WindowExec: No Partition
# Defined` warning: the plan-audit allowlisted single-partition
# entries plus the audit-benign "pre-reduced input" windows (global
# rank/cume over a keyed-aggregate result — bounded by the value
# domain, not the row count; see plan_audit._unreduced_single_part).
# Any OTHER query emitting it fails the sweep: an unbounded
# single-partition window can't land silently among the budgeted ones
# (VERDICT r7 item 4).
def _window_warn_budget() -> set[str]:
    import json

    allow_path = os.path.join(os.path.dirname(__file__), "plan_audit_allowlist.json")
    with open(allow_path) as fh:
        allow = json.load(fh)
    return set(allow.get("single_part", [])) | set(
        allow.get("window_warn_prereduced", [])
    )


_WINDOW_WARN = "No Partition Defined"

# ---------------------------------------------------------------------------
# Engine-side order-insensitive value hash (VERDICT r14 item 2).
#
# The default referee collects BOTH result sets and canonicalizes them
# row-by-row in pure Python — at sf10 five queries produce 1.0–15M-row
# outputs whose engines finish in seconds while the Python loop drowns
# (SCALE.md §Round-14 "harness-bound"). This mode pushes the reduction
# INSIDE each engine: canonical per-row text (columns sorted by name,
# identical formatting rules both sides) → md5 → two 60-bit hex slices
# summed with COUNT(*). Addition is commutative, so the three numbers
# are order-insensitive and each engine returns ONE row regardless of
# output size. Enabled per-run via GDS_VERIFY_ENGINE_HASH_ROWS=N:
# oracle queries whose Spark output exceeds N rows take this path
# (census runs set 1000000; the default 0 keeps the sf0.01 sweep
# byte-identical to the driver's collect-based compare).
#
# Canonical text rules (must be IDENTICAL across engines, not identical
# to helpers.canon_value):
#   int types / boolean  -> CAST AS string ('123', 'true')
#   varchar              -> as-is
#   date                 -> cast ('YYYY-MM-DD' both engines)
#   timestamp[_ntz]      -> explicit 6-digit-micros format both sides
#   double/float         -> FLOOR(x * 1e6) AS BIGINT text (e6-quantized:
#                           identical input bits => identical text; the
#                           repo's §2.12 rounding discipline means both
#                           engines hold bit-identical doubles, and
#                           engine-native double->string formatting is
#                           NOT portable — JDK17 Double.toString vs
#                           DuckDB shortest-round-trip)
#   NULL                 -> '∅' sentinel (concat_ws SKIPS nulls in both
#                           engines, which would alias (NULL,'x') with
#                           ('x',NULL) — so every cell is coalesced)
# Columns are joined with chr(31) (unit separator).
# ---------------------------------------------------------------------------

# Census default (VERDICT r14 item 2 follow-through): at any
# NON-driver SF dir the mode arms itself at 1M rows — an sf1/sf10
# census sweep can no longer drown in a multi-million-row collect
# (the layout_zorder lesson: 60M rows blew maxResultSize before this
# defaulted). The driver-scale sweep keeps threshold 0 = off so the
# sf0.01 gate stays byte-identical to the driver's collect compare.
# GDS_VERIFY_ENGINE_HASH_ROWS overrides either way.
_EH_DEFAULT = "0" if SF_DIR == "/root/testdata/sf0.01" else "1000000"
_EH_ROWS = int(os.environ.get("GDS_VERIFY_ENGINE_HASH_ROWS", _EH_DEFAULT) or "0")
_EH_SENTINEL = "∅"


def _spark_engine_hash(sdf) -> tuple[list[str], int, int, int]:
    """(sorted columns, n, h1, h2) reduced inside Spark — one collected
    row, never the result set."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    exprs = []
    for name in sorted(sdf.columns):
        dt = sdf.schema[name].dataType
        c = F.col(name)
        if isinstance(
            dt,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType),
        ):
            e = c.cast("string")
        elif isinstance(dt, T.StringType):
            e = c
        elif isinstance(dt, T.DateType):
            e = c.cast("string")
        elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            e = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            e = F.floor(c.cast("double") * 1000000.0).cast("bigint").cast("string")
        else:
            raise ValueError(
                f"engine-hash: unsupported Spark type "
                f"{dt.simpleString()} for column {name}"
            )
        exprs.append(F.coalesce(e, F.lit(_EH_SENTINEL)))
    h = F.md5(F.concat_ws("\x1f", *exprs))
    row = (
        sdf.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")
            ).alias("h1"),
            F.sum(
                F.conv(F.substring("h", 16, 15), 16, 10).cast("decimal(38,0)")
            ).alias("h2"),
        )
        .collect()[0]
    )
    n = int(row["n"])
    return (
        sorted(sdf.columns),
        n,
        int(row["h1"]) if n else 0,
        int(row["h2"]) if n else 0,
    )


def _duck_engine_hash(con, oracle_sql: str, qid: str) -> tuple[list[str], int, int, int]:
    """(sorted columns, n, h1, h2) reduced inside DuckDB with the SAME
    canonical-text rules as _spark_engine_hash."""
    rel = con.sql(oracle_sql)
    cols = rel.columns
    types = [str(t).upper() for t in rel.types]
    exprs = []
    for name, t in sorted(zip(cols, types)):
        q = f'"{name}"'
        if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "BOOLEAN"):
            e = f"CAST({q} AS VARCHAR)"
        elif t == "VARCHAR":
            e = q
        elif t == "DATE":
            e = f"CAST({q} AS VARCHAR)"
        elif t.startswith("TIMESTAMP"):
            e = f"strftime({q}, '%Y-%m-%d %H:%M:%S.%f')"
        elif t in ("DOUBLE", "FLOAT", "REAL"):
            e = f"CAST(CAST(FLOOR(CAST({q} AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)"
        else:
            raise ValueError(
                f"engine-hash: unsupported DuckDB type {t} for column "
                f"{name} ({qid})"
            )
        exprs.append(f"COALESCE({e}, '{_EH_SENTINEL}')")
    txt = "concat_ws(chr(31), " + ", ".join(exprs) + ")"
    agg = con.sql(
        "SELECT COUNT(*) AS n, "
        "SUM(CAST('0x' || substr(h, 1, 15) AS BIGINT)) AS h1, "
        "SUM(CAST('0x' || substr(h, 16, 15) AS BIGINT)) AS h2 "
        f"FROM (SELECT md5({txt}) AS h FROM ({oracle_sql}) gds_eh_q) gds_eh_t"
    ).fetchone()
    n = int(agg[0])
    return sorted(cols), n, int(agg[1]) if n else 0, int(agg[2]) if n else 0


def main() -> int:
    only = set(sys.argv[1:])
    import tempfile

    # Capture EVERYTHING on fd 2 (the JVM writes log4j there) so
    # runtime WindowExec warnings can be attributed per-query; keep a
    # dup of the original stderr for our own status lines.  Must
    # happen BEFORE the JVM launches — it inherits fd 2 at fork.
    real_err = os.fdopen(os.dup(2), "w")
    cap = tempfile.NamedTemporaryFile(
        mode="w+", suffix=".log", prefix="gds_verify_stderr_", delete=False
    )
    os.dup2(cap.fileno(), 2)

    def warn_count() -> int:
        sys.stderr.flush()
        with open(cap.name) as fh:
            return sum(_WINDOW_WARN in line for line in fh)

    rc = 1
    try:
        rc = _sweep(only, real_err, warn_count)
        return rc
    finally:
        # restore the original stderr so a crash traceback (or the
        # caller's subsequent output) isn't swallowed by the capture
        os.dup2(real_err.fileno(), 2)
        cap.close()
        if rc == 0:
            os.unlink(cap.name)  # keep the JVM log only on failure
        else:
            print(f"stderr capture kept for debugging: {cap.name}", file=real_err)


def _sweep(only, real_err, warn_count) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from helpers import (
        assert_driver_safe_types,
        assert_spark_driver_safe_schema,
        canon_value,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py")
    )
    entry_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry_mod)

    n_entry = len(entry_mod.entry(spark).collect())
    print(f"entry rows: {n_entry}", file=real_err)
    ok = n_entry > 0

    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures: list[tuple[str, str]] = []
    warn_emitters: list[str] = []
    warns_before_all = warn_count()
    for qid in sorted(queries):
        if only and qid not in only:
            continue
        warns_before = warn_count()
        try:
            try:
                sdf = queries[qid](spark, SF_DIR)
                # the driver pandas-canonicalizes EVERY query's Spark
                # output, rows-only ones included — complex-typed columns
                # crash it there even when no oracle exists (r4 embed_pca)
                assert_spark_driver_safe_schema(sdf, qid)
                if _EH_ROWS and qid in oracles and sdf.count() > _EH_ROWS:
                    s_cols_eh, sn, sh1, sh2 = _spark_engine_hash(sdf)
                    d_cols_eh, dn, dh1, dh2 = _duck_engine_hash(
                        con, oracles[qid], qid
                    )
                    if s_cols_eh != d_cols_eh:
                        failures.append(
                            (qid, f"cols {s_cols_eh} != {d_cols_eh}")
                        )
                    elif (sn, sh1, sh2) != (dn, dh1, dh2):
                        failures.append(
                            (qid,
                             f"engine-hash: spark (n={sn}, h1={sh1}, "
                             f"h2={sh2}) != duck (n={dn}, h1={dh1}, "
                             f"h2={dh2})")
                        )
                    else:
                        print(
                            f"engine-hash ok {qid}: n={sn} h1={sh1} h2={sh2}",
                            file=real_err,
                        )
                    continue
                s_cols = sdf.columns
                s_rows = sorted(
                    "|".join(canon_value(r[c]) for c in sorted(s_cols))
                    for r in sdf.collect()
                )
                if qid not in oracles:
                    continue  # rows-only: reaching here without raising is the check
                rel = con.sql(oracles[qid])
                d_cols = rel.columns
                # the driver's hash is type-sensitive: HUGEINT/DECIMAL
                # oracle outputs hash-fail even when values match
                assert_driver_safe_types(d_cols, rel.types, qid)
                idx = [d_cols.index(c) for c in sorted(d_cols)]
                d_rows = sorted(
                    "|".join(canon_value(row[i]) for i in idx) for row in rel.fetchall()
                )
                if sorted(s_cols) != sorted(d_cols):
                    failures.append((qid, f"cols {sorted(s_cols)} != {sorted(d_cols)}"))
                elif s_rows != d_rows:
                    diff = next(
                        (f"{a} != {b}" for a, b in zip(s_rows, d_rows) if a != b),
                        f"row counts {len(s_rows)} vs {len(d_rows)}",
                    )
                    failures.append((qid, f"values: {diff[:160]}"))
            except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
                failures.append((qid, f"ERROR {str(ex)[:160]}"))
        finally:
            # finally (not loop tail): the rows-only `continue` above
            # must still attribute this query's window warnings
            if warn_count() > warns_before:
                warn_emitters.append(qid)

    budget = _window_warn_budget()
    unbudgeted = sorted(set(warn_emitters) - budget)
    for qid in unbudgeted:
        failures.append(
            (qid, "unbudgeted single-partition WindowExec warning — add a "
                  "bounded-input argument to plan_audit_allowlist.json or "
                  "repartition the window")
        )

    checked = len(only) if only else len(queries)
    print(f"checked: {checked} queries ({len(oracles)} oracles registered)")
    print(
        f"single-partition window warnings: {warn_count() - warns_before_all} "
        f"from {len(warn_emitters)} queries (budget list: {len(budget)}): "
        f"{sorted(warn_emitters)}"
    )
    print(f"FAILURES: {failures or 'none'}")
    spark.stop()
    return 0 if (ok and not failures) else 1


if __name__ == "__main__":
    raise SystemExit(main())
