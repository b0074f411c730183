"""Regenerate digests.json, the expected result of every benchmark query.

Run from the repository root:

    python3 perfbench/make_digests.py

Each digest is taken from the query's DuckDB oracle over the benchmark's
tables, normalised with ``oracle.multiset`` (see ``run.result_digest``).
The Spark result is computed too, and nothing is written unless every
query matches its oracle. The oracle is too slow to run on every
benchmark run (near_dup_minhash's took 550 s at sf0.1), hence digests.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import (DATA_DIR, DIGESTS, QUERY_BATCH, ROOT, WORK_DIR,
                 configure_environment, result_digest)


def main() -> int:
    run_dir = os.path.join(WORK_DIR, f"digests-{os.getpid()}")
    configure_environment(run_dir)
    sys.path.insert(0, ROOT)
    from etl_airflow_spotify_spark.oracle import connect_oracle, multiset
    from etl_airflow_spotify_spark.registry import all_queries
    from etl_airflow_spotify_spark.session import get_session

    spark = get_session("perfbench-digests")
    con = connect_oracle(DATA_DIR)
    queries = all_queries()
    digests, mismatched = {}, []
    try:
        for name in QUERY_BATCH:
            spec = queries[name]
            res = con.execute(spec.oracle)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            want = result_digest(rows, cols, multiset)
            df = spec.spark_fn(spark, DATA_DIR)
            got = result_digest([tuple(r) for r in df.collect()], df.columns,
                                multiset)
            print(f"{name}: {len(rows)} rows, "
                  f"{'match' if got == want else 'MISMATCH'}", flush=True)
            if got != want:
                mismatched.append(name)
            digests[name] = {"rows": len(rows), "sha256": want}
    finally:
        spark.stop()
        con.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    if mismatched:
        print(f"Spark differs from the oracle on {mismatched}; "
              f"{DIGESTS} left unchanged", file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as f:
        json.dump({"data": os.path.relpath(DATA_DIR, ROOT),
                   "normalisation": "oracle.multiset",
                   "queries": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
