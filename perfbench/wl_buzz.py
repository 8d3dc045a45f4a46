"""``buzz_interactive``: the paper's own use case.  One client sends
two-step (HBee map, HComb reduce) BuzzQuery JSON over a month-partitioned
lineitem catalog and waits for each answer.

Inputs: the repository's sf0.1 lineitem is split into one file per
``l_shipdate`` month (83 files, string partition column ``month``) and
registered as a ``StaticCatalog``; its orders and customer files are
``ParquetDir`` catalogs, read in place.

Each round sends the six templates once, in a seeded order, plus the
registry's flagship Buzz query (``b01_buzz_two_step``), so the ``queries``
layer is measured here too.  The seed draws each template's literals once,
so every timed query has run before, in the warm-up round.
Every answer is compared with DuckDB's answer over the same files (b01 with
its registry oracle), computed once per distinct query with the clock
stopped.
"""

from __future__ import annotations

import json
import os

import numpy as np

import inputs
from harness import Op, rows_match
from spans import TRACER


def _agg_steps(where: str = "") -> list[dict]:
    return [
        {
            "sql": (
                "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, "
                "SUM(l_quantity) AS qty, "
                "SUM(l_extendedprice * (1 - l_discount)) AS revenue "
                f"FROM lineitem {where} GROUP BY l_returnflag, l_linestatus"
            ),
            "name": "li_map",
            "step_type": "HBee",
        },
        {
            "sql": (
                "SELECT l_returnflag, l_linestatus, SUM(cnt) AS cnt, "
                "SUM(qty) AS qty, SUM(revenue) AS revenue FROM li_map "
                "GROUP BY l_returnflag, l_linestatus "
                "ORDER BY l_returnflag, l_linestatus"
            ),
            "name": "li_reduce",
            "step_type": "HComb",
        },
    ]


_AGG_DUCK = (
    "SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity), "
    "SUM(l_extendedprice * (1 - l_discount)) FROM {src} WHERE {where} "
    "GROUP BY 1, 2 ORDER BY 1, 2"
)

LINEITEM = {"name": "lineitem", "type": "Static", "uri": "lineitem"}


class BuzzInteractive:
    name = "buzz_interactive"
    default_sf = 0.1
    templates = ("agg_pruned", "agg_full", "topk", "zonemap", "join3", "zones4")
    registry_query = "b01_buzz_two_step"

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark, self.work, self.seed, self.sf = spark, work, seed, sf
        self.rng = np.random.default_rng([seed, 1])
        self._expected: dict[str, list] = {}

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql.pandas.types import from_arrow_type
        from pyspark.sql.types import StructField, StructType

        from buzz_rust_spark import BuzzEngine, CatalogFile, StaticCatalog

        lineitem = inputs.read_table(self.sf, "lineitem")
        self.data_dir = inputs.source_dir(self.sf)
        self.month_files = inputs.split_by_month(
            lineitem, "l_shipdate", os.path.join(self.work, "lineitem")
        )
        self.months = [m for m, _ in self.month_files]
        self.orders_path = os.path.join(self.data_dir, "orders.parquet")
        self.customer_path = os.path.join(self.data_dir, "customer.parquet")
        self.priorities = sorted(
            set(inputs.read_table(self.sf, "orders")["o_orderpriority"].to_pylist())
        )
        schema = StructType(
            [
                StructField(f.name, from_arrow_type(f.type, prefer_timestamp_ntz=True), True)
                for f in lineitem.schema
            ]
        )
        catalog = StaticCatalog(
            name="lineitem",
            schema=schema,
            files=[
                CatalogFile(key=p, length=os.path.getsize(p), partitions=(("month", m),))
                for m, p in self.month_files
            ],
            partition_cols=["month"],
        )
        self.engine = BuzzEngine(self.spark)
        self.engine.register_static(catalog)
        self.queries = {t: getattr(self, f"_q_{t}")() for t in self.templates}
        self._duck = None
        from buzz_rust_spark.queries import all_queries

        self.registry = all_queries()[self.registry_query]

    def warmup(self) -> None:
        """Two rounds, checked, untimed.  The first round runs about twice as
        slow as the third, the second within a few percent of it."""
        for _ in range(2):
            for op in self.round():
                if not op.check(op.run()):
                    raise RuntimeError(f"warm-up query {op.name} returned a wrong result")

    # -- the six templates: (query dict, DuckDB SQL, ordered?) -----------------

    def _month_range(self, width: int) -> tuple[str, str]:
        start = int(self.rng.integers(0, len(self.months) - width + 1))
        return self.months[start], self.months[start + width - 1]

    def _q_agg_pruned(self):
        lo, hi = self._month_range(6)
        flt = f"month >= '{lo}' AND month <= '{hi}'"
        steps = _agg_steps()
        steps[0]["partition_filter"] = flt
        return {"steps": steps, "catalogs": [LINEITEM]}, _AGG_DUCK.format(
            src="lineitem", where=flt
        ), True

    def _q_agg_full(self):
        d = int(self.rng.integers(0, 4)) / 100.0
        where = f"l_discount >= {d:.2f}"
        return {"steps": _agg_steps(f"WHERE {where}"), "catalogs": [LINEITEM]}, _AGG_DUCK.format(
            src="lineitem", where=where
        ), True

    def _q_topk(self):
        q = int(self.rng.integers(26, 36))
        k = int(self.rng.integers(5, 21))
        steps = [
            {
                "sql": (
                    "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) "
                    f"AS revenue FROM lineitem WHERE l_quantity >= {q} GROUP BY l_orderkey"
                ),
                "name": "li_map",
                "step_type": "HBee",
            },
            {
                "sql": (
                    "SELECT l_orderkey, revenue FROM li_map "
                    f"ORDER BY revenue DESC, l_orderkey LIMIT {k}"
                ),
                "name": "li_top",
                "step_type": "HComb",
            },
        ]
        duck = (
            "SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS r "
            f"FROM lineitem WHERE l_quantity >= {q} GROUP BY 1 "
            f"ORDER BY r DESC, l_orderkey LIMIT {k}"
        )
        return {"steps": steps, "catalogs": [LINEITEM]}, duck, True

    def _q_zonemap(self):
        # three ship months; only each file's footer range on l_shipdate
        # ties it to a month, so the zone map is all that can prune here
        start = int(self.rng.integers(0, len(self.months) - 3))
        lo, hi = self.months[start], self.months[start + 3]
        flt = f"l_shipdate >= '{lo}-01' AND l_shipdate < '{hi}-01'"
        steps = [
            {
                "sql": (
                    "SELECT l_linestatus, COUNT(*) AS cnt, SUM(l_extendedprice) AS price "
                    "FROM lineitem GROUP BY l_linestatus"
                ),
                "name": "li_map",
                "step_type": "HBee",
                "stats_filter": flt,
            },
            {
                "sql": (
                    "SELECT l_linestatus, SUM(cnt) AS cnt, SUM(price) AS price "
                    "FROM li_map GROUP BY l_linestatus ORDER BY l_linestatus"
                ),
                "name": "li_reduce",
                "step_type": "HComb",
            },
        ]
        duck = (
            "SELECT l_linestatus, COUNT(*), SUM(l_extendedprice) FROM lineitem "
            f"WHERE {flt} GROUP BY 1 ORDER BY 1"
        )
        return {"steps": steps, "catalogs": [LINEITEM]}, duck, True

    def _q_join3(self):
        # each priority holds about a fifth of the orders, so every literal
        # does about the same work
        priority = str(self.rng.choice(self.priorities))
        steps = [
            {
                "sql": (
                    "SELECT o_custkey, o_totalprice FROM orders "
                    f"WHERE o_orderpriority = '{priority}'"
                ),
                "name": "sel_orders",
                "step_type": "HBee",
            },
            {
                "sql": (
                    "SELECT o_custkey, SUM(o_totalprice) AS spend, COUNT(*) AS n "
                    "FROM sel_orders GROUP BY o_custkey"
                ),
                "name": "spend_per_customer",
                "step_type": "HComb",
            },
            {
                "sql": (
                    "SELECT c.c_mktsegment, SUM(s.spend) AS segment_spend, "
                    "SUM(s.n) AS n FROM spend_per_customer s JOIN customer c "
                    "ON s.o_custkey = c.c_custkey GROUP BY c.c_mktsegment "
                    "ORDER BY c.c_mktsegment"
                ),
                "name": "segment_totals",
                "step_type": "HComb",
            },
        ]
        catalogs = [
            {"name": "orders", "type": "ParquetDir", "uri": self.orders_path},
            {"name": "customer", "type": "ParquetDir", "uri": self.customer_path},
        ]
        duck = (
            "SELECT c.c_mktsegment, SUM(o.o_totalprice), COUNT(*) FROM orders o "
            "JOIN customer c ON o.o_custkey = c.c_custkey "
            f"WHERE o.o_orderpriority = '{priority}' GROUP BY 1 ORDER BY 1"
        )
        return {"steps": steps, "catalogs": catalogs}, duck, True

    def _q_zones4(self):
        lo, hi = self._month_range(12)
        flt = f"month >= '{lo}' AND month <= '{hi}'"
        steps = _agg_steps()
        steps[0]["partition_filter"] = flt
        kept = [p for m, p in self.month_files if lo <= m <= hi]
        zones = [kept[z::4] for z in range(min(4, len(kept)))]
        duck = " UNION ALL ".join(
            "(" + _AGG_DUCK.format(
                src="read_parquet([" + ", ".join(f"'{p}'" for p in files) + "])",
                where="TRUE",
            ) + ")"
            for files in zones
        )
        return {"steps": steps, "catalogs": [LINEITEM], "capacity": {"zones": 4}}, duck, False

    # -- operations --------------------------------------------------------------

    def round(self) -> list[Op]:
        ops = []
        for t in self.rng.permutation(self.templates + (self.registry_query,)):
            if t == self.registry_query:
                ops.append(self._registry_op())
                continue
            query, duck, ordered = self.queries[t]
            text = json.dumps(query)
            ops.append(
                Op(
                    name=str(t),
                    kind="query",
                    run=lambda text=text: self.engine.execute(self.engine.run_json(text)),
                    check=lambda rows, duck=duck, ordered=ordered: self._check(
                        rows, duck, ordered
                    ),
                )
            )
        return ops

    def _registry_op(self) -> Op:
        """The registry's flagship Buzz query (a BuzzEngine two-step over a
        one-file catalog), built by its registry function and checked
        against the registry's own DuckDB oracle."""

        def run():
            with TRACER.span("queries.build"), TRACER.phase("plan"):
                df = self.registry.fn(self.spark, self.data_dir)
            with TRACER.span("queries.exec"):
                return df.collect()

        return Op(
            name=self.registry_query,
            kind="query",
            run=run,
            check=lambda rows: self._check(rows, self.registry.oracle, True),
        )

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            glob = os.path.join(self.work, "lineitem", "*", "*.parquet")
            con.execute(
                "CREATE VIEW lineitem AS SELECT *, strftime(l_shipdate, '%Y-%m') "
                f"AS month FROM read_parquet('{glob}')"
            )
            con.execute(f"CREATE VIEW orders AS SELECT * FROM '{self.orders_path}'")
            con.execute(f"CREATE VIEW customer AS SELECT * FROM '{self.customer_path}'")
            self._duck = con
        return self._duck

    def expected(self, duck_sql: str) -> list[tuple]:
        if duck_sql not in self._expected:
            self._expected[duck_sql] = self._duckdb().execute(duck_sql).fetchall()
        return self._expected[duck_sql]

    def _check(self, rows, duck_sql: str, ordered: bool) -> bool:
        return rows_match([tuple(r) for r in rows], self.expected(duck_sql), ordered)

    def corrupt_one_expected(self) -> None:
        """Self-test hook: the ``agg_full`` answer is expected to hold one
        more row than it does."""
        duck = self.queries["agg_full"][1]
        self._expected[duck] = self.expected(duck)[:1] + self.expected(duck)

    def final_check(self) -> bool:
        return True

    def start_accounting(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        return {}

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
