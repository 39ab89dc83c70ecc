"""Pinned workload definitions.

Query lists live here, not in ``bench.py``, so that editing the repo's own
bench harness cannot change what a workload runs. Every name is a key of
``flink_psl_spark.queries.QUERIES`` with a DuckDB oracle in ``ORACLES``.
"""

from __future__ import annotations

import random

SF = "0.01"

RELATIONAL = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "join_multiway_revenue",
    "join_broadcast_dim",
    "wf_topn_per_group",
    "wf_running_rows_frame",
    "tumble_window_agg",
    "session_window_agg",
    "dedup_keep_last",
    "asof_join",
    "interval_join_batch",
    "window_join",
    "setop_except_all",
    "cdc_debezium_roundtrip",
)

LLM_CURATION = (
    "llm_exact_dedup",
    "llm_minhash_dedup",
    "llm_semantic_dedup",
    "llm_text_stats",
    "llm_cosine_topk",
    "llm_pq_ann_topk",
    "llm_corpus_overlap_sketch",
    "llm_trained_quality_classifier",
    "llm_bloom_decontamination",
    "llm_span_dedup_rewrite",
    "udf_pandas_scalar",
    "cogroup_user_summary",
    "async_lookup_enrich",
)

ITERATIVE_STREAMING = (
    "graph_pagerank",
    "graph_hits",
    "recursive_cte_order_chain",
    "cep_clicks_then_purchase",
    "stream_tumble_agg",
    "stream_interval_join",
    "stream_keyed_top3",
)

BATCH = {
    "relational": RELATIONAL,
    "llm_curation": LLM_CURATION,
    "iterative_streaming": ITERATIVE_STREAMING,
}

GATEWAY = "gateway_sql"
WORKLOADS = (*BATCH, GATEWAY)

# Which layer metric should move which end-to-end metric, and on which
# workload it is mostly on / about zero. Printed with every traced run so a
# later change can cite a metric and a workload by name.
LAYERS = {
    "session": {"metrics": ["session.start_s"], "moves": ["setup_s"],
                "on": "all"},
    "catalog": {"metrics": ["catalog.register_s"], "moves": ["setup_s"],
                "on": "all"},
    "queries": {
        "metrics": ["queries.construct_s", "queries.construct_jobs",
                    "queries.construct_share"],
        "moves": ["latency_p50_s", "throughput_qps"],
        "on": "llm_curation, iterative_streaming", "zero_on": "relational",
    },
    "action": {"metrics": ["spark.action_s", "spark.action_jobs"],
               "moves": ["latency_p50_s"], "on": "relational"},
    "spark": {
        "metrics": ["spark.jobs", "spark.stages", "spark.tasks",
                    "spark.task_s", "spark.cpu_s", "spark.gc_s",
                    "spark.effective_parallelism", "spark.driver_gap_s",
                    "spark.input_mb", "spark.shuffle_read_mb",
                    "spark.shuffle_write_mb", "spark.spill_mb"],
        "moves": ["latency_p50_s", "latency_tail_s", "throughput_qps"],
        "on": "driver_gap: iterative_streaming; shuffle: relational",
        "zero_on": "driver_gap: relational",
    },
    "llm": {
        "metrics": ["python.total_s", "python.boot_s", "python.init_s",
                    "python.sent_mb", "python.rows_received"],
        "moves": ["latency_p50_s"], "on": "llm_curation",
        "zero_on": "relational",
    },
    "materialize": {
        "metrics": ["materialize.calls", "materialize.s",
                    "materialize.retained_mb"],
        "moves": ["latency_tail_s", "peak_rss_mb"],
        "on": "llm_curation, iterative_streaming", "zero_on": "relational",
    },
    "streaming": {
        "metrics": ["streaming.batches", "streaming.input_rows",
                    "streaming.batch_s", "streaming.state_rows",
                    "streaming.state_mb", "streaming.state_commit_s",
                    "streaming.late_dropped_rows"],
        "moves": ["latency_tail_s"], "on": "iterative_streaming",
        "zero_on": "others",
    },
    "gateway": {
        "metrics": ["gateway.submit_s", "gateway.wait_s", "gateway.fetch_s",
                    "gateway.polls"],
        "moves": ["latency_p50_s", "latency_tail_s", "write_latency_p50_s",
                  "write_latency_tail_s"],
        "on": "gateway_sql", "zero_on": "others",
    },
}


def pass_order(names: tuple[str, ...], rng: random.Random) -> list[str]:
    """One pass: every query once, in an order drawn from ``rng``."""
    order = list(names)
    rng.shuffle(order)
    return order


# --- gateway_sql --------------------------------------------------------

GATEWAY_CLIENTS = 2

SINK_COLUMNS = "batch BIGINT, k BIGINT, amount DECIMAL(18,4)"


def sink_table(client: int) -> str:
    return f"bench_sink_c{client}"


def _day(rng: random.Random, lo_year: int, hi_year: int) -> str:
    return f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-01"


SELECT_TEMPLATES = 5


def _select(rng: random.Random, kind: int) -> str:
    """A short TPC-H-style SELECT whose result both engines compute exactly:
    counts, integer sums, min/max and DECIMAL(18,4) sums of raw columns."""
    if kind == 0:
        return (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty, "
            "SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sum_price "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP "
            f"'{_day(rng, 1996, 2001)} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if kind == 1:
        a = rng.randint(1995, 2000)
        return (
            "SELECT COUNT(*) AS n, MIN(o_totalprice) AS lo, "
            "MAX(o_totalprice) AS hi, SUM(o_custkey) AS sum_cust "
            f"FROM orders WHERE o_orderdate >= TIMESTAMP '{a}-01-01 00:00:00' "
            f"AND o_orderdate < TIMESTAMP '{a + 1}-01-01 00:00:00'"
        )
    if kind == 2:
        return (
            "SELECT n_name, COUNT(*) AS n, "
            "SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS bal "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_acctbal > {rng.randint(-500, 8000)} GROUP BY n_name"
        )
    if kind == 3:
        lo = rng.randint(1, 40)
        return (
            "SELECT p_brand, COUNT(*) AS n, MIN(p_size) AS lo, "
            "MAX(p_retailprice) AS hi FROM part "
            f"WHERE p_size BETWEEN {lo} AND {lo + rng.randint(2, 10)} "
            "GROUP BY p_brand"
        )
    a = rng.randint(1995, 2000)
    return (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS revenue, "
        "SUM(l_linenumber) AS lines "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE o_orderdate >= TIMESTAMP '{a}-01-01 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{a}-07-01 00:00:00' "
        "GROUP BY o_orderpriority"
    )


# One block of a client's stream: every SELECT template once, two INSERTs
# into the client's sink and two reads of it. The 5:2:2 mix is an assumed
# read-mostly session with writes beside reads, not taken from a measured
# trace of gateway traffic. A fixed block composition
# keeps the statement mix the same for every seed; the seed picks the
# order within each block and every statement's parameters.
BLOCK = (*range(SELECT_TEMPLATES), "write", "write", "sink", "sink")


def gateway_statements(rng: random.Random, client: int):
    """Endless seeded statement stream of one client, in blocks of
    ``BLOCK``. Yields ``(kind, statement)``, kind being ``"read"`` or
    ``"write"``."""
    sink = sink_table(client)
    batch = 0
    while True:
        block = list(BLOCK)
        rng.shuffle(block)
        for item in block:
            if item == "write":
                batch += 1
                m = rng.randint(40, 160)
                yield "write", (
                    f"INSERT INTO {sink} SELECT {batch} AS batch, "
                    "o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,4)) "
                    f"AS amount FROM orders WHERE o_orderkey % {m} = "
                    f"{rng.randrange(m)}"
                )
            elif item == "sink":
                yield "read", (
                    "SELECT COUNT(*) AS n, SUM(amount) AS total, "
                    f"MAX(k) AS max_k, COUNT(DISTINCT batch) AS batches "
                    f"FROM {sink}"
                )
            else:
                yield "read", _select(rng, item)
