"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB over the same sf dir; compare row
count, column names, and order-insensitive stringified values.

A FULL sweep (no query names given) also writes ``PARITY_LOCAL.json`` at
the repo root — the committed per-round artifact covering ALL registered
queries, including the ones the driver's 50-query sample skips (r3 verdict:
8 of 58 registered queries had no recorded green row anywhere). Fields per
query mirror CORRECTNESS_r{N}.json, plus the git HEAD the sweep ran at.

Usage: python tools/check_oracle_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod  # noqa: E402
from parity import connect, oracle_result, rows_to_multiset  # noqa: E402
from reconcile_pkp_beacon_journals_w_openalex_affiliation_metadata_spark.session import (  # noqa: E402
    get_spark,
)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle_parity", cores=8, shuffle_partitions=8)
    con = connect(sf_dir)

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        if name not in oracles:
            # no oracle -> nothing was COMPARED: rows_match stays null so a
            # consumer scanning the artifact for green rows can never count
            # a rows-only run as verified parity
            rec["rows_only"] = True
            try:
                df = fn(spark, sf_dir)
                rec["spark_rows"] = df.count()
                print(f"{name:32s} ROWS-ONLY ok ({rec['spark_rows']} rows)")
            except Exception as e:
                rec["err"] = str(e)[:300]
                print(f"{name:32s} ROWS-ONLY FAILED: {e}")
                failures.append(name)
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
        except Exception as e:
            rec["err"] = "spark: " + str(e)[:300]
            print(f"{name:32s} SPARK FAILED: {str(e)[:200]}")
            failures.append(name)
            continue
        try:
            dcols, drows = oracle_result(con, oracles[name])
            rec["oracle_rows"] = len(drows)
        except Exception as e:
            rec["err"] = "duckdb: " + str(e)[:300]
            print(f"{name:32s} DUCKDB FAILED: {str(e)[:200]}")
            failures.append(name)
            continue
        ok = True
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        rec["rows_match"] = len(srows) == len(drows)
        if not rec["schema_match"]:
            print(f"{name:32s} SCHEMA MISMATCH spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif not rec["rows_match"]:
            print(f"{name:32s} COUNT MISMATCH spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            ms, md = rows_to_multiset(scols, srows), rows_to_multiset(dcols, drows)
            rec["hash_match"] = ms == md
            if ms != md:
                diffs = [(a, b) for a, b in zip(ms, md) if a != b][:3]
                print(f"{name:32s} VALUE MISMATCH ({sum(1 for a, b in zip(ms, md) if a != b)} rows) e.g. {diffs}")
                ok = False
        if ok:
            print(f"{name:32s} OK ({len(srows)} rows)")
        else:
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    if not only:
        # full sweep -> committed artifact (driver samples only ~50 queries;
        # this records a verdict for every registered one at a known HEAD)
        try:
            head = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT,
                capture_output=True, text=True,
            ).stdout.strip()
        except Exception:
            head = "unknown"
        payload = {
            "_meta": {
                "git_head": head,
                "sf_dir": sf_dir,
                "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(
                    timespec="seconds"
                ),
                "n_queries": len(results),
                "n_failures": len(failures),
            },
            "queries": results,
        }
        out = os.path.join(ROOT, "PARITY_LOCAL.json")
        with open(out, "w") as f:
            json.dump(payload, f, indent=1)
        print(f"wrote {out} ({len(results)} queries at {head[:9]})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
