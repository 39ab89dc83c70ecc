"""Recompute ``oracle_digests.json``: the DuckDB oracle's result digest of
every query of the batch workloads, over the benchmark's fixture files.

Usage (from the repository root): python perfbench/make_digests.py
Slow oracles make this a one-off step, not part of each run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from flink_psl_spark.queries import ORACLES
    from perfbench import oracle
    from perfbench.workloads import BATCH, SF

    sf_dir = oracle.fixtures_dir(SF)
    con = oracle._repo_oracle().duck_connection(sf_dir)
    queries = {}
    for names in BATCH.values():
        for name in names:
            t0 = time.time()
            rel = con.sql(ORACLES[name])
            rows = rel.fetchall()
            queries[name] = {"rows": len(rows),
                             "digest": oracle.digest(rows, rel.columns)}
            print(f"{name}: {len(rows)} rows, {time.time() - t0:.1f} s",
                  file=sys.stderr)
    with open(oracle.DIGESTS_PATH, "w") as f:
        json.dump({"sf": SF, "fixtures": oracle.fingerprint_fixtures(sf_dir),
                   "queries": queries}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
