"""The ``gateway_sql`` workload: two REST clients in this process, closed
loop, against the engine's ``SqlGateway`` in a child process.

An op is one statement, timed from submit to its last result page. Each
client runs a seeded mix of short SELECTs, INSERTs into its own parquet
sink and reads of that sink. After the timed phase every client's
statement log is replayed in order on DuckDB, which mirrors the sinks, and
every SELECT result is compared with DuckDB's result for the same text.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

from flink_psl_spark.gateway import (FINISHED, PENDING, RUNNING,
                                     GatewayClient)
from perfbench import oracle
from perfbench.layers import per_layer
from perfbench.trace import Tracer, latency_summary
from perfbench.workloads import (BLOCK, GATEWAY_CLIENTS, SF, SINK_COLUMNS,
                                 gateway_statements, sink_table)

HERE = os.path.dirname(os.path.abspath(__file__))
POLL_INTERVAL = 0.02  # the status poll of GatewayClient.execute(wait=True)


class Client(GatewayClient):
    """The engine's REST client with one open session. It keeps the column
    types of the last result page it read, which the check applies."""

    def __init__(self, url: str):
        super().__init__(url)
        self.session = self.open_session()
        self.types: list[str] = []

    def _call(self, method: str, path: str, body: dict | None = None) -> dict:
        out = super()._call(method, path, body)
        cols = out.get("results", {}).get("columns")
        if cols:
            self.types = [c["logicalType"]["type"] for c in cols]
        return out

    def run(self, op: dict, tracer: Tracer) -> None:
        """Submit, poll to a terminal status, fetch every page."""
        with tracer.span("op", kind=op["kind"]):
            op["start"] = time.time()
            with tracer.span("gateway.submit"):
                handle = self.execute(self.session, op["stmt"], wait=False)
            t_submit = time.time()
            op["handle"] = handle
            polls = 0
            with tracer.span("gateway.wait"):
                while True:
                    polls += 1
                    status = self.status(self.session, handle)
                    if status not in (PENDING, RUNNING):
                        break
                    time.sleep(POLL_INTERVAL)
            t_wait = time.time()
            op["status"] = status
            if status == FINISHED:
                with tracer.span("gateway.fetch"):
                    self.types = []
                    cols, rows = self.fetch_all(self.session, handle)
                op.update(columns=cols, types=self.types, rows=rows)
            op["end"] = time.time()
        op.update(ok=status == FINISHED, polls=polls,
                  submit_s=t_submit - op["start"], wait_s=t_wait - t_submit,
                  fetch_s=op["end"] - t_wait)


def run(workload: str, seed: int, seconds: float, traced: bool,
        t_process: float, tmp: str) -> dict:
    sf_dir = oracle.fixtures_dir(SF)
    jobs_out = os.path.join(tmp, "gateway_jobs.json") if traced else None
    cmd = [sys.executable, os.path.join(HERE, "gateway_server.py"),
           "--fixtures", sf_dir, "--tmp", tmp]
    if jobs_out:
        cmd += ["--jobs-out", jobs_out]
    child = subprocess.Popen(cmd, stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        line = child.stdout.readline()
        if not line:
            raise RuntimeError("gateway process exited during set-up")
        ready = json.loads(line)
        setup = {k: ready[k] for k in ("session.start_s", "catalog.register_s")}
        clients = [Client(ready["url"]) for _ in range(GATEWAY_CLIENTS)]
        logs: list[list[dict]] = [[] for _ in clients]
        # untimed warm-up: one block of statements per client
        for c, client in enumerate(clients):
            stream = gateway_statements(random.Random(f"{seed}-warm-{c}"), c)
            for _ in BLOCK:
                kind, stmt = next(stream)
                op = {"kind": kind, "stmt": stmt, "timed": False}
                client.run(op, Tracer(False))
                logs[c].append(op)
        tracer = Tracer(True) if traced else None
        phase, tphase = _timed_phase(clients, logs, seed, seconds, tracer)
        first = min(op["start"] for log in logs for op in log
                    if op["timed"])
        result = {"setup_s": first - t_process, "setup": setup,
                  "end_to_end": _end_to_end(phase)}
        if traced:
            result["traced_end_to_end"] = _end_to_end(tphase)
        child.stdin.close()
        if child.wait(timeout=120) != 0:
            raise RuntimeError(f"gateway process exited {child.returncode}")
        result["check"] = _check(logs, sf_dir)
        if traced:
            with open(jobs_out) as f:
                jobs = json.load(f)
            layers = per_layer(tphase["ops"], tracer.spans, jobs, [])
            layers.update(setup)
            result.update(per_layer=layers, spans=tracer.spans)
        return result
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def _timed_phase(clients, logs, seed, seconds, tracer):
    """Each client runs its own seeded statement stream, closed loop,
    until ``seconds`` have elapsed. With a tracer every second statement
    of a client is traced, so that the tracing overhead is the difference
    of interleaved samples. Returns the untraced and the traced ops, each
    with the wall time their throughput is taken over."""
    ops: dict[bool, list[dict]] = {False: [], True: []}
    plain = Tracer(False)
    lock = threading.Lock()
    begin = time.time()
    errors: list[BaseException] = []

    def loop(c: int) -> None:
        try:
            stream = gateway_statements(random.Random(f"{seed}-c{c}"), c)
            while time.time() - begin < seconds:
                kind, stmt = next(stream)
                traced = tracer is not None and len(logs[c]) % 2 == 1
                op = {"kind": kind, "stmt": stmt, "timed": True, "client": c}
                clients[c].run(op, tracer if traced else plain)
                logs[c].append(op)
                with lock:
                    op["id"] = len(ops[traced])
                    ops[traced].append(op)
        except BaseException as e:  # re-raised in the calling thread
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(c,))
               for c in range(len(clients))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    if tracer is None:
        return {"ops": ops[False], "wall": time.time() - begin}, None
    # Both halves share one wall time, so each half's throughput is taken
    # over its own busy time: its summed op durations, per client.
    return tuple({"ops": o, "wall": sum(op["end"] - op["start"] for op in o)
                  / len(clients)} for o in (ops[False], ops[True]))


def _end_to_end(phase: dict) -> dict:
    ops = phase["ops"]
    done = [op for op in ops if op["ok"]]
    lat = latency_summary(
        [op["end"] - op["start"] for op in done if op["kind"] == "read"])
    wlat = latency_summary(
        [op["end"] - op["start"] for op in done if op["kind"] == "write"])
    return {
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["tail"],
        "latency_tail_percentile": lat["tail_percentile"],
        "latency_n": lat["n"],
        "write_latency_p50_s": wlat["p50"],
        "write_latency_tail_s": wlat["tail"],
        "write_latency_tail_percentile": wlat["tail_percentile"],
        "write_latency_n": wlat["n"],
        "throughput_qps": len(done) / phase["wall"],
        "attempted": len(ops),
        "failed": len(ops) - len(done),
        "errors": sorted({op["stmt"] for op in ops if not op["ok"]}),
    }


def _check(logs: list[list[dict]], sf_dir: str) -> dict:
    """Replay each client's log on DuckDB in order; compare every SELECT.
    The first matching result of two or more rows also proves the compare
    flags a perturbed row, a dropped row and an empty result."""
    import duckdb

    from flink_psl_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{sf_dir}/{t}.parquet'")
        for c in range(len(logs)):
            con.execute(f"CREATE TABLE {sink_table(c)} ({SINK_COLUMNS})")
        wrong: dict[str, str] = {}
        missed = None
        for log in logs:
            for op in log:
                if not op["ok"]:
                    continue
                if op["kind"] == "write":
                    con.execute(op["stmt"])
                    continue
                rel = con.execute(op["stmt"])
                cols = [d[0] for d in rel.description]
                want = oracle.canonical_result(cols, op["types"],
                                               rel.fetchall())
                got = oracle.canonical_result(op["columns"], op["types"],
                                              op["rows"])
                if got != want:
                    wrong[op["stmt"]] = f"gateway {got[1][:2]} duckdb {want[1][:2]}"
                elif missed is None and len(op["rows"]) >= 2:
                    missed = oracle.self_test(
                        op["rows"], lambda v, o=op, w=want:
                        oracle.canonical_result(o["columns"], o["types"], v)
                        != w)
        return {"wrong": wrong, "self_test_missed": missed,
                "statements": sum(map(len, logs))}
    finally:
        con.close()
