"""The workloads: fixed call lists, with the workload seed choosing
call order, SQL literals and DML predicates and keys.

A call is one timed unit of client work. ``build`` returns the DataFrame
(operators.build / engine.sql); ``write``, when set, persists it as a
table (dml.write) instead of collecting it with Arrow.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from sqlengine_spark import dml

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

#: Registry operators per workload (see NOTES.md for why each is there
#: and which were left out to fit the run budget).
INTERACTIVE_OPS = (
    "d_agg_q1_pricing", "c_join_3way", "e_win_topk_group", "j_tumbling_1h",
    "l_sim_search_topk", "h_explode",
)
#: Plus the DML chain (``_dml_calls``).
PIPELINE_OPS = ("j_tumbling_1h_stream",)  # micro-batches, RocksDB state store
#: Seconds of ``--seconds`` per timed pass. A run makes
#: round(seconds / budget) timed passes (at least 2): a fixed amount of
#: work, so a slow host does not shift where on the JIT warm-up curve the
#: passes land. A warm pass at ``local[1]`` on a 4-core host takes about
#: 1.8 s and 4.5 s when the host is quiet and up to twice that when it is
#: busy; the budgets keep a busy-host run near a minute.
PASS_BUDGET_S = {"interactive": 3.0, "pipeline": 7.5}
#: Untimed passes before the first timed one. The first pass is cold
#: (class loading, code generation, file listing) and two to three times
#: slower; after one warm-up a ``pipeline`` pass still falls by 10-15 %
#: over the next three, after two it is flat.
WARMUP_PASSES = {"interactive": 2, "pipeline": 2}


@dataclass
class Call:
    qid: str
    layer: str  # layer of the build span: operators.build | engine.sql | dml.rewrite
    build: Callable
    write: Callable | None = None  # (df, table_name) -> None
    table: str | None = None  # table written by this call, if any
    sql: str | None = None  # DuckDB oracle text for ad-hoc SQL calls
    reads_written: bool = False  # the oracle reads tables written this pass


def _sql_texts(rng: random.Random) -> list[tuple[str, str]]:
    # Literals move which rows qualify, not how many: a one-year ship
    # window inside the 1995-2001 data and a quantity cut near the
    # bottom of its 1-50 range keep each text's cost level across seeds.
    year = rng.randint(1996, 2000)
    day = rng.randint(1, 28)
    qty = rng.randint(8, 12)
    seg = rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    nations = sorted(rng.sample(range(25), 3))
    status = rng.choice(["F", "O", "P"])
    return [
        ("sql_pricing", f"""
            SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                   sum(l_quantity) AS sum_qty, max(l_extendedprice) AS max_price,
                   min(l_discount) AS min_disc
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '{year}-03-{day:02d} 00:00:00'
              AND l_shipdate < TIMESTAMP '{year + 1}-03-{day:02d} 00:00:00'
              AND l_quantity > {qty}
            GROUP BY l_returnflag, l_linestatus"""),
        ("sql_segment_join", f"""
            SELECT o_orderpriority, count(*) AS n_lines,
                   count(DISTINCT o_orderkey) AS n_orders, sum(l_quantity) AS qty
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = '{seg}'
              AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00'
            GROUP BY o_orderpriority"""),
        ("sql_top_customers", f"""
            SELECT c_custkey, c_name, count(*) AS n_orders,
                   max(o_totalprice) AS max_total
            FROM customer JOIN orders ON c_custkey = o_custkey
            WHERE c_nationkey IN ({", ".join(map(str, nations))})
              AND o_orderstatus = '{status}'
            GROUP BY c_custkey, c_name
            ORDER BY n_orders DESC, c_custkey
            LIMIT 20"""),
    ]


def _op_calls(eng, ops) -> list[Call]:
    return [Call(q, "operators.build", lambda q=q: eng.run(q)) for q in ops]


class Workload:
    """Call lists for one workload. ``pass_calls(i)`` returns pass ``i``'s
    calls in their seeded order; negative passes are the warm-up."""

    def __init__(self, name: str, eng, seed: int) -> None:
        self.name = name
        self.eng = eng
        self.seed = seed
        self.rng = random.Random(seed)
        self.dml_params = self._dml_params() if name == "pipeline" else None
        self.sql = _sql_texts(self.rng) if name == "interactive" else []

    # -- the DML chain of the pipeline --------------------------------------
    def _dml_params(self) -> dict:
        r = self.rng
        return {
            "upd_prio": r.choice(PRIORITIES),
            "upd_price": r.randint(50, 250) * 1000,
            "del_mod": r.randint(5, 15),
            "del_rem": r.randint(0, 4),
            "del_prio": r.choice(PRIORITIES),
            "merge_mod": r.randint(20, 60),
            "merge_rem": r.randint(0, 19),
            "n_insert": r.randint(500, 2000),
        }

    def _merge_source_sql(self) -> str:
        k = self.dml_params
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice, "
            "o_orderdate, '1-URGENT' AS o_orderpriority FROM orders "
            f"WHERE o_orderkey % {k['merge_mod']} = {k['merge_rem']} "
            "UNION ALL "
            "SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders), o_custkey, o_orderstatus, "
            "o_totalprice, o_orderdate, o_orderpriority FROM orders "
            f"WHERE o_orderkey < {k['n_insert']}"
        )

    def dml_sql(self, tag: str) -> dict[str, str]:
        """DuckDB texts computing every table version written in a pass
        from the source ``orders`` parquet: the oracle for the written
        parquet."""
        k = self.dml_params
        upd = f"o_orderpriority = '{k['upd_prio']}' AND o_totalprice < {k['upd_price']}"
        v1 = (
            "SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"CASE WHEN {upd} THEN o_totalprice + 100 ELSE o_totalprice END AS o_totalprice, "
            "o_orderdate, o_orderpriority FROM orders"
        )
        v2 = (
            f"SELECT * FROM ({v1}) WHERE NOT coalesce(o_custkey % {k['del_mod']} = {k['del_rem']} "
            f"AND o_orderpriority = '{k['del_prio']}', false)"
        )
        v3 = (
            "SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey, "
            "CASE WHEN t.o_orderkey IS NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey, "
            "CASE WHEN t.o_orderkey IS NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus, "
            "CASE WHEN s.o_orderkey IS NULL THEN t.o_totalprice ELSE s.o_totalprice END AS o_totalprice, "
            "CASE WHEN t.o_orderkey IS NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate, "
            "CASE WHEN s.o_orderkey IS NULL THEN t.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority "
            f"FROM ({v2}) t FULL OUTER JOIN ({self._merge_source_sql()}) s ON t.o_orderkey = s.o_orderkey"
        )
        return {
            f"bench_ord_{tag}_v0": "SELECT * FROM orders",
            f"bench_ord_{tag}_v1": v1,
            f"bench_ord_{tag}_v2": v2,
            f"bench_ord_{tag}_v3": v3,
        }

    def read_back_sql(self, tag: str) -> str:
        """Snapshot diff of the last version against the first, joined on
        the bucket key."""
        return f"""
            SELECT n.o_orderstatus, count(*) AS n_rows,
                   count(*) - count(o.o_orderkey) AS n_new,
                   count(CASE WHEN n.o_totalprice <> o.o_totalprice THEN 1 END) AS n_repriced,
                   max(n.o_totalprice) AS max_total
            FROM bench_ord_{tag}_v3 n LEFT JOIN bench_ord_{tag}_v0 o
              ON n.o_orderkey = o.o_orderkey
            GROUP BY n.o_orderstatus"""

    def _dml_calls(self, tag: str) -> list[Call]:
        eng, k = self.eng, self.dml_params
        spark = eng.spark
        name = f"bench_ord_{tag}_v{{}}".format

        def write(df, table):
            eng.create_table(table, df, bucket_by="o_orderkey", n_buckets=8,
                             partition_by="o_orderstatus")

        def update():
            cond = (F.col("o_orderpriority") == k["upd_prio"]) & (F.col("o_totalprice") < k["upd_price"])
            return dml.update(spark.table(name(0)), cond, {"o_totalprice": F.col("o_totalprice") + 100})

        def delete():
            cond = ((F.col("o_custkey") % k["del_mod"]) == k["del_rem"]) & (
                F.col("o_orderpriority") == k["del_prio"])
            return dml.delete(spark.table(name(1)), cond)

        def merge():
            src = eng.sql(self._merge_source_sql())
            return dml.merge_into(
                spark.table(name(2)), src, "o_orderkey",
                update_cols={
                    "o_totalprice": F.col("src_o_totalprice"),
                    "o_orderpriority": F.col("src_o_orderpriority"),
                },
            )

        return [
            # select("*"): a fresh plan over the engine's memoized table.
            Call("dml_create_orders", "dml.rewrite", lambda: eng.table("orders").select("*"),
                 write, name(0)),
            Call("dml_update_orders", "dml.rewrite", update, write, name(1)),
            Call("dml_delete_orders", "dml.rewrite", delete, write, name(2)),
            Call("dml_merge_orders", "dml.rewrite", merge, write, name(3)),
            Call("dml_read_back", "engine.sql", lambda: eng.sql(self.read_back_sql(tag)),
                 sql=self.read_back_sql(tag), reads_written=True),
        ]

    # -- passes -------------------------------------------------------------
    def pass_calls(self, p: int) -> list[Call]:
        eng = self.eng
        rng = random.Random(f"{self.seed}:{p}")
        if self.name == "interactive":
            calls = _op_calls(eng, INTERACTIVE_OPS) + [
                Call(q, "engine.sql", lambda t=t: eng.sql(t), sql=t) for q, t in self.sql
            ]
            rng.shuffle(calls)
        elif self.name == "pipeline":
            calls = _op_calls(eng, PIPELINE_OPS)
            rng.shuffle(calls)
            # The DML chain keeps its data-dependency order and goes in
            # as one block at a seeded position.
            at = rng.randint(0, len(calls))
            calls[at:at] = self._dml_calls(pass_tag(p))
        else:
            raise ValueError(f"unknown workload {self.name!r}")
        return calls


def pass_tag(p: int) -> str:
    """Table-name tag of pass ``p`` (warm-up passes are negative)."""
    return f"w{-p}" if p < 0 else f"p{p}"


def n_passes(workload: str, seconds: float) -> int:
    return max(2, round(seconds / PASS_BUDGET_S[workload]))


WORKLOADS = ("interactive", "pipeline")
