"""The benchmark's workloads: seeded op streams, how each op runs through
the package's public API, and the oracle each op is checked against.

An op stream depends only on the seed (and the scale factor, which
fixes key ranges), never on timing, so two runs with one seed issue
the same ops with the same parameters in the same order.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from collections.abc import Iterator
from dataclasses import dataclass

import datagen

POINT_SF = 0.1
DRAIN_SF = 0.01

POINT_KINDS = ("log_from", "mql_range", "sql_pred", "mql_in", "join_key")

# The registry's event-log stream queries, one cycle = each once.  The
# last is the parquet-sink flush drain (the write side); the others
# drain into memory-sink tables.
LOG_DRAINS = (
    "stream_windowed_counts", "stream_dedup_keys", "stream_static_enrich",
    "stream_interval_join", "stream_sessionize_stateful",
    "stream_session_window", "stream_interval_join_outer",
)


@dataclass(frozen=True)
class Op:
    kind: str        # a POINT_KINDS entry, or a registry query name
    params: tuple    # (name, value) pairs; empty for registry ops

    def arg(self, name):
        return dict(self.params)[name]


def point_read_ops(seed: int, sf: float = POINT_SF) -> Iterator[Op]:
    """Endless seeded stream of reference-parity reads, in blocks that
    hold every kind once (seeded order), so every run has the same mix."""
    n = datagen.row_counts(sf)
    n_users = datagen.n_users(sf)
    rng = random.Random(seed)
    kinds = itertools.chain.from_iterable(
        rng.sample(POINT_KINDS, len(POINT_KINDS)) for _ in itertools.count())
    for kind in kinds:
        if kind == "log_from":
            p = (("user", rng.randrange(n_users)),
                 ("offset", rng.randrange(n["events"])))
        elif kind == "mql_range":
            lo = round(rng.uniform(1_000, 490_000), 2)
            p = (("lo", lo), ("hi", round(lo + rng.uniform(1_000, 20_000), 2)),
                 ("limit", rng.randint(5, 50)))
        elif kind == "sql_pred":
            p = (("nation", rng.randrange(25)),
                 ("min_bal", round(rng.uniform(0, 9_000), 2)),
                 ("skip", rng.randrange(50)), ("limit", rng.randint(5, 50)))
        elif kind == "mql_in":
            p = (("users", tuple(sorted(rng.sample(range(n_users), 3)))),
                 ("types", tuple(sorted(rng.sample(datagen.EVENT_TYPES, 2)))))
        else:
            p = (("custkey", rng.randrange(n["customer"])),)
        yield Op(kind, p)


def drain_cycles(seed: int) -> Iterator[list[Op]]:
    """Endless seeded stream of whole cycles: every LOG_DRAINS query
    once per cycle, in a seeded order."""
    rng = random.Random(seed)
    while True:
        names = list(LOG_DRAINS)
        rng.shuffle(names)
        yield [Op(name, ()) for name in names]


# -- running an op ----------------------------------------------------

def build_point_read(engine, op: Op):
    """The lazy DataFrame for a point-read op, built through ``Engine``."""
    from pyspark.sql import functions as F
    if op.kind == "log_from":
        return engine.log_from("events", key=op.arg("user"),
                               offset=op.arg("offset"))
    if op.kind == "mql_range":
        mql = json.dumps({"o_totalprice": {"$gte": op.arg("lo"),
                                           "$lt": op.arg("hi")}})
        return engine.read("orders", mql,
                           sort=[("o_totalprice", False), ("o_orderkey", True)],
                           limit=op.arg("limit"))
    if op.kind == "sql_pred":
        pred = (f"c_nationkey = {op.arg('nation')} "
                f"AND c_acctbal > {op.arg('min_bal')}")
        return engine.read("customer", pred,
                           sort=[("c_acctbal", True), ("c_custkey", True)],
                           skip=op.arg("skip"), limit=op.arg("limit"))
    if op.kind == "mql_in":
        mql = json.dumps({"user_id": {"$in": list(op.arg("users"))},
                          "event_type": {"$in": list(op.arg("types"))}})
        return engine.read("events", mql)
    if op.kind == "join_key":
        cust = engine.table("customer")
        outer = cust.filter(F.col("c_custkey") == F.lit(op.arg("custkey")))
        inner = engine.table("orders")
        return engine.join_inner(
            outer, inner, outer["c_custkey"] == inner["o_custkey"],
            mapper=[outer["c_custkey"], outer["c_name"], inner["o_orderkey"],
                    inner["o_totalprice"], inner["o_orderdate"]])
    raise ValueError(f"unknown point-read kind {op.kind!r}")


# -- oracles ------------------------------------------------------------

def point_read_oracle(op: Op) -> tuple[str, list]:
    """DuckDB SQL and parameters computing the same result as ``op``."""
    if op.kind == "log_from":
        return ("SELECT * FROM events WHERE user_id = ? AND event_id >= ? "
                "ORDER BY event_id", [op.arg("user"), op.arg("offset")])
    if op.kind == "mql_range":
        return ("SELECT * FROM orders WHERE o_totalprice >= ? "
                "AND o_totalprice < ? ORDER BY o_totalprice DESC, o_orderkey "
                "LIMIT ?", [op.arg("lo"), op.arg("hi"), op.arg("limit")])
    if op.kind == "sql_pred":
        return ("SELECT * FROM customer WHERE c_nationkey = ? "
                "AND c_acctbal > ? ORDER BY c_acctbal, c_custkey "
                "LIMIT ? OFFSET ?",
                [op.arg("nation"), op.arg("min_bal"), op.arg("limit"),
                 op.arg("skip")])
    if op.kind == "mql_in":
        users, types = op.arg("users"), op.arg("types")
        return (f"SELECT * FROM events WHERE user_id IN "
                f"({', '.join(['?'] * len(users))}) AND event_type IN "
                f"({', '.join(['?'] * len(types))})", [*users, *types])
    if op.kind == "join_key":
        return ("SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice, "
                "o.o_orderdate FROM customer c JOIN orders o "
                "ON c.c_custkey = o.o_custkey WHERE c.c_custkey = ?",
                [op.arg("custkey")])
    raise ValueError(f"unknown point-read kind {op.kind!r}")


def registry_oracle(op: Op) -> tuple[str, list]:
    from nosql_join_stream_spark.queries import REGISTRY
    return REGISTRY[op.kind].oracle, []


def open_duckdb(sf_dir: str):
    """A DuckDB connection with every catalog table as a view."""
    import duckdb
    con = duckdb.connect()
    for t in datagen.row_counts(1):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
