"""Replay the FULL query registry against DuckDB and write a SELFCHECK
artifact — the builder's mirror of the driver's correctness gate, run at
configs the driver doesn't cover (sf0.1, adversarial partitioning).

Comparison is identical to tests/test_oracle_parity.py: columns sorted
by name, rows sorted, floats rendered repr-exact (no tolerance) — any
cross-engine drift is a real bug, not noise. Queries without an oracle
are executed and counted as rows_only.

The three committed configs (regenerate all three after registry
changes, then point README's selfcheck sentence at the new files). The
default master is local[N] with N from ``session.default_cpus()``:
$SPARK_GRAFT_CPUS, else the CPUs this process may run on.

  python tools/selfcheck.py --sf /root/testdata/sf0.01 \
      --out SELFCHECK_r21.json
  python tools/selfcheck.py --sf /root/testdata/sf0.1 \
      --out SELFCHECK_r21_sf01.json
  python tools/selfcheck.py --sf /root/testdata/sf0.01 --master local[3] \
      --shuffle-partitions 5 --out SELFCHECK_r21_altpartition.json
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# DuckDB numeric widths whose driver-side hash rendering diverges from
# the Spark type the same query produces (HUGEINT etc.) — the parity
# suite bans these; the artifact records the count so it stays zero
RISKY_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                    "USMALLINT", "UTINYINT", "DECIMAL")


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [colnames[i] for i in order], out


def main() -> None:
    from big_data_science_project_spark.session import (
        default_cpus, default_driver_memory, release)

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--master", default=f"local[{default_cpus()}]")
    ap.add_argument("--shuffle-partitions", default="32")
    ap.add_argument("--out", required=True)
    ap.add_argument("names", nargs="*",
                    help="optional subset of query names to spot-check "
                         "(artifact summary is only meaningful on a full run)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(args.master)
             .config("spark.sql.shuffle.partitions", args.shuffle_partitions)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", default_driver_memory())
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    queries, oracles = entry.queries(), entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.names or sorted(queries)
    results = {}
    n_match = n_rows_only = n_fail = n_risky = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                results[name] = {"status": "rows_only", "rows": len(s_rows)}
                n_rows_only += 1
            else:
                risky = [
                    (c, t) for c, t, *_ in
                    con.execute("DESCRIBE " + oracles[name]).fetchall()
                    if any(t.upper().startswith(r) for r in RISKY_DUCK_TYPES)]
                n_risky += bool(risky)
                cur = con.execute(oracles[name])
                d_cols = [d[0] for d in cur.description]
                d_rows = cur.fetchall()
                s_names, s_norm = _normalize(s_rows, s_cols)
                d_names, d_norm = _normalize(d_rows, d_cols)
                if s_names != d_names:
                    results[name] = {
                        "status": "fail", "rows": len(s_rows),
                        "detail": f"columns {s_names} vs {d_names}"}
                    n_fail += 1
                elif s_norm != d_norm:
                    mism = [i for i, (a, b) in enumerate(zip(s_norm, d_norm))
                            if a != b][:2]
                    results[name] = {
                        "status": "fail", "rows": len(s_rows),
                        "detail": (f"rowcount {len(s_norm)} vs {len(d_norm)}"
                                   if len(s_norm) != len(d_norm) else
                                   "; ".join(f"spark={s_norm[i]} "
                                             f"oracle={d_norm[i]}"
                                             for i in mism))}
                    n_fail += 1
                else:
                    results[name] = {"status": "match", "rows": len(s_rows),
                                     "risky_types": risky}
                    n_match += 1
        except Exception as e:  # noqa: BLE001 — artifact records the failure
            results[name] = {"status": "fail", "rows": -1,
                             "detail": f"{type(e).__name__}: {e}"[:300]}
            n_fail += 1
        st = results[name]["status"]
        print(f"{name}: {st} ({results[name]['rows']} rows, "
              f"{time.time() - t0:.1f}s)"
              + (f" << {results[name].get('detail')}" if st == "fail" else ""),
              file=sys.stderr, flush=True)

    # HEAD stamp (r13 verdict item 5): record the commit the artifact
    # was generated at plus whether any engine source was uncommitted,
    # so tests/test_doc_counts.py can prove "no engine code changed
    # after the trio was generated" instead of trusting the workflow
    import subprocess
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    git_head = subprocess.run(
        ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True,
        text=True).stdout.strip()
    engine_paths = ["big_data_science_project_spark",
                    "__spark_entry__.py"]
    engine_dirty = bool(subprocess.run(
        ["git", "-C", repo, "status", "--porcelain", "--"] + engine_paths,
        capture_output=True, text=True).stdout.strip())

    artifact = {
        "summary": {"match": n_match, "rows_only": n_rows_only,
                    "fail": n_fail, "total": len(names),
                    "risky_type_oracles": n_risky,
                    "normalization": "repr-exact",
                    "sf": args.sf, "master": args.master,
                    "shuffle_partitions": int(args.shuffle_partitions),
                    "git_head": git_head,
                    "engine_dirty": engine_dirty},
        "queries": results,
    }
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps(artifact["summary"]))
    release(spark)
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
