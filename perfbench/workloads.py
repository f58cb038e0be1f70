"""Workload definitions: which operations each workload runs, how many
warm passes follow the cold one at the benchmark's run_seconds, and which
engine module owns each query (the module of the function
`SparkEntry.queries` binds the name to)."""
import random

# query name -> owning module
MODULE = {
    "transactions": "etl.Transactions",
    "country_summary": "etl.Summaries",
    "join_semi_cancelled_customers": "etl.StarQueries",
    "dim_scd2_customers": "etl.Scd",
    "setop_churned_customers": "ops.RelationalOps",
    "agg_incremental_daily": "ops.AggMaintenance",
    "events_hourly": "ops.EventsOps",
    "text_drift_chisq": "ops.TextOps",
    "dedup_minhash_bands": "ops.DedupOps",
    "curate_token_budget": "ops.CurateOps",
    "similarity_ivf_topk": "ops.SimilarityOps",
    "retrieval_query_likelihood": "ops.RetrievalOps",
    "graph_label_propagation": "ops.GraphOps",
    "events_hourly_stream": "streaming.EventsStream",
    "text_drift_chisq_stream": "streaming.DocsStream",
}

# every module a per-layer metric is reported for, in report order
MODULES = [
    "etl.Transactions", "etl.Summaries", "etl.StarQueries", "etl.Scd",
    "ops.RelationalOps", "ops.AggMaintenance", "ops.EventsOps", "ops.TextOps",
    "ops.DedupOps", "ops.CurateOps", "ops.SimilarityOps", "ops.RetrievalOps",
    "ops.GraphOps", "streaming.EventsStream", "streaming.DocsStream",
]

ETL_TABLES = ["transactions", "customer_summary", "product_summary",
              "daily_sales", "country_summary"]
SINKS = ["csv", "parquet", "jdbc"]

WORKLOADS = {
    # Pipeline.run's work: clean -> 4 summaries -> csv, parquet, jdbc -> counts
    "etl_nightly": {"kind": "etl", "warm_passes": 1},
    # the analyst read path, one or two queries per engine module: sales
    # queries over Transactions.cleaned and the star schema, corpus
    # kernels that never read it, and stream queries, each next to its
    # batch twin on the same input
    "query_board": {"kind": "board", "warm_passes": 2, "queries": [
        "transactions", "country_summary", "join_semi_cancelled_customers",
        "dim_scd2_customers", "setop_churned_customers", "agg_incremental_daily",
        "dedup_minhash_bands", "curate_token_budget",
        "similarity_ivf_topk", "retrieval_query_likelihood",
        "graph_label_propagation"],
     "twins": {
        "events_hourly_stream": "events_hourly",
        "text_drift_chisq_stream": "text_drift_chisq"}},
}


def passes(workload, seed, warm, fixed=False):
    """The op lists of the cold pass and `warm` warm passes. The seed
    permutes the cold pass, the order a user first touches the queries
    in. Warm passes all run in the order listed in WORKLOADS (a stream
    twin after its batch twin), so their figures compare like with like
    across seeds. With `fixed` the cold pass runs in that order too, so
    the op that first touches a shared substrate (and pays for building
    it) is the same on every seed: `transactions` for the cleaned table."""
    w = WORKLOADS[workload]
    rng = random.Random(seed)
    out = []
    for p in range(1 + warm):
        shuffle = p == 0 and not fixed
        if w["kind"] == "etl":
            ops = ["etl:clean"]
            for sink in SINKS:
                order = ETL_TABLES[:]
                if shuffle:
                    rng.shuffle(order)
                ops += [f"etl:{sink}:{t}" for t in order]
            ops += [f"etl:count:{t}" for t in ETL_TABLES[1:]]
        else:
            # a stream twin and its batch twin stay adjacent; the seed
            # also picks which of the two runs first
            units = [[q] for q in w["queries"]]
            units += [[s, b] if shuffle and rng.random() < 0.5 else [b, s]
                      for s, b in w["twins"].items()]
            if shuffle:
                rng.shuffle(units)
            ops = [q for u in units for q in u]
        out.append(ops)
    return out
