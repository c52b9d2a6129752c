"""Workload definitions and the seeded generation of their inputs.

The seed decides the order of requests and their parameters; the program
only ever sees the generated SQL text. Each served request class carries
its Spark SQL and the DuckDB SQL of the same question, which is the
oracle its response is checked against.
"""

import random

EXPORT_DAYS = tuple(f"2024-01-{d:02d}" for d in range(1, 16))
ORDER_KEYS = tuple(range(0, 100001, 10000))


def _export_classes():
    """Request classes of serve_export: (name, spark, duckdb, params).

    Each params entry is a tuple of choices the seed draws from. `n`, the
    row cap sent as the request's limit, is fixed per class, so the work a
    request asks for depends on its class and not on the seed. Four
    classes carry the wire
    types the served encoder mishandles (TIMESTAMP_NTZ, struct, array of
    timestamps, interval); they stay in the mix so those defects show.
    """
    return [
        ("lineitem_all",
         "SELECT * FROM lineitem WHERE l_orderkey >= {k} "
         "ORDER BY l_orderkey, l_linenumber",
         "SELECT * FROM lineitem WHERE l_orderkey >= {k} "
         "ORDER BY l_orderkey, l_linenumber LIMIT {n}",
         {"k": ORDER_KEYS, "n": (10000,)}),
        ("events_rows",
         "SELECT * FROM events WHERE ts >= TIMESTAMP '{day} 00:00:00' "
         "ORDER BY event_id",
         "SELECT * FROM events WHERE ts >= TIMESTAMP '{day} 00:00:00' "
         "ORDER BY event_id LIMIT {n}",
         {"day": EXPORT_DAYS, "n": (8000,)}),
        ("documents_text",
         "SELECT * FROM documents WHERE doc_id >= {k} ORDER BY doc_id",
         "SELECT * FROM documents WHERE doc_id >= {k} ORDER BY doc_id LIMIT {n}",
         {"k": (0, 250, 500, 750, 1000), "n": (4000,)}),
        ("embeddings_vec",
         "SELECT * FROM embeddings WHERE vec_id >= {k} ORDER BY vec_id",
         "SELECT * FROM embeddings WHERE vec_id >= {k} ORDER BY vec_id LIMIT {n}",
         {"k": (0, 50, 100, 150, 200), "n": (2000,)}),
        ("struct_col",
         "SELECT o_orderkey, named_struct('custkey', o_custkey, 'status', "
         "o_orderstatus, 'price', o_totalprice) AS info FROM orders "
         "WHERE o_orderkey >= {k} ORDER BY o_orderkey",
         "SELECT o_orderkey, struct_pack(custkey := o_custkey, status := "
         "o_orderstatus, price := o_totalprice) AS info FROM orders "
         "WHERE o_orderkey >= {k} ORDER BY o_orderkey LIMIT {n}",
         {"k": ORDER_KEYS, "n": (6000,)}),
        ("ts_array",
         "SELECT event_id, array(ts, ts + INTERVAL 1 HOUR) AS ts_pair FROM events "
         "WHERE ts >= TIMESTAMP '{day} 00:00:00' ORDER BY event_id",
         "SELECT event_id, [ts, ts + INTERVAL 1 HOUR] AS ts_pair FROM events "
         "WHERE ts >= TIMESTAMP '{day} 00:00:00' ORDER BY event_id LIMIT {n}",
         {"day": EXPORT_DAYS, "n": (4000,)}),
        ("interval_col",
         "SELECT o_orderkey, make_dt_interval(CAST(o_orderkey % 30 AS INT)) AS age "
         "FROM orders WHERE o_orderkey >= {k} ORDER BY o_orderkey",
         "SELECT o_orderkey, to_days(CAST(o_orderkey % 30 AS INTEGER)) AS age "
         "FROM orders WHERE o_orderkey >= {k} ORDER BY o_orderkey LIMIT {n}",
         {"k": ORDER_KEYS, "n": (2000,)}),
    ]


EXPORT_CLASSES = _export_classes()

PIPELINE_OPS = (
    "p01_pipeline_topk", "p03_compaction", "s07_stream_ingest_partitioned",
)

# How each workload is driven; BENCHMARK.json says why it exists.
WORKLOADS = {
    "serve_export": {
        "kind": "serve",
        "loop": "closed",
        "clients": 1,
        "classes": [c[0] for c in EXPORT_CLASSES],
        "known_wire_defects": ["lineitem_all", "struct_col", "ts_array", "interval_col"],
    },
    "pipeline_refresh": {
        "kind": "batch",
        "ops": list(PIPELINE_OPS),
    },
}


class Request:
    __slots__ = ("cls", "sql", "oracle_sql", "limit")

    def __init__(self, cls, sql, oracle_sql, limit):
        self.cls, self.sql, self.oracle_sql, self.limit = cls, sql, oracle_sql, limit


def draw(rng, cls):
    name, spark_sql, duck_sql, params = cls
    values = {k: rng.choice(v) for k, v in sorted(params.items())}
    return Request(name, spark_sql.format(**values), duck_sql.format(**values),
                   values["n"])


def export_rounds(seed):
    """Endless sequence of rounds; each round sends every class once, in
    an order and with parameters drawn from the seed. Rounds keep the
    class mix the same however many requests fit in a run."""
    rng = random.Random(seed)
    while True:
        order = list(EXPORT_CLASSES)
        rng.shuffle(order)
        yield [draw(rng, c) for c in order]


def warmup_requests():
    """One request per class with fixed parameters (the seed is not used,
    so set-up work is the same in every run)."""
    rng = random.Random(0)
    return [draw(rng, c) for c in EXPORT_CLASSES]
