"""Child process of the ``gateway_sql`` workload: the engine's SQL gateway.

Starts a session, registers the fixture tables with
``catalog.register_tables``, creates one parquet sink table per client,
serves ``SqlGateway`` on an ephemeral local port and prints one JSON line
with its URL and set-up timings. It stops when its stdin closes; with
``--jobs-out`` it first writes every job of the status store there.

Usage: python perfbench/gateway_server.py --fixtures DIR --tmp DIR
       [--jobs-out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--jobs-out")
    args = ap.parse_args()

    from perfbench import engine
    from perfbench.workloads import GATEWAY_CLIENTS, SINK_COLUMNS, sink_table

    engine.pin_environment(args.tmp)
    from flink_psl_spark.catalog import register_tables
    from flink_psl_spark.gateway import SqlGateway

    t0 = time.time()
    spark = engine.start_session("perfbench-gateway", args.tmp,
                                 retain_all=bool(args.jobs_out))
    session_s = time.time() - t0
    try:
        t0 = time.time()
        register_tables(spark, args.fixtures)
        register_s = time.time() - t0
        for c in range(GATEWAY_CLIENTS):
            spark.sql(f"CREATE TABLE {sink_table(c)} ({SINK_COLUMNS}) "
                      "USING parquet")
        reader = None
        if args.jobs_out:
            from perfbench.statusstore import StatusReader

            reader = StatusReader(spark)
        gateway = SqlGateway(spark).start()
        try:
            print(json.dumps({"url": gateway.url,
                              "session.start_s": session_s,
                              "catalog.register_s": register_s}), flush=True)
            sys.stdin.read()
            if reader is not None:
                reader.drain()
                with open(args.jobs_out, "w") as f:
                    json.dump(reader.new_jobs(), f)
        finally:
            gateway.stop()
    finally:
        engine.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
