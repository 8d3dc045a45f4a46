"""``lakehouse_rw``: writes beside reads on a month-partitioned Delta table
and an Iceberg table built from the same orders (the first 12 months of the
repository's sf0.1 orders).

Each cycle commits an append (``write_delta``/``write_iceberg``), a keyed
upsert (``merge_delta``/``merge_iceberg``) and a predicate delete
(``delete_delta``/``delete_iceberg``), then reads both tables through
``BuzzEngine`` with a ``partition_filter`` (``DeltaLake`` and ``Iceberg``
catalogs).

Per-operation cost grows with every commit, so the cycles form a fixed,
seeded episode of ``CYCLES`` cycles that always starts from the same
snapshot: one round is one whole episode, and both tables are restored from
a pristine copy (clock stopped) before each.  The episode is simulated once
on an in-memory model (a pandas frame), which gives the expected answer of
every read and the expected final table contents.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute  # noqa: F401

import inputs
from harness import Op, rows_match
from spans import TRACER

CYCLES = 1  # cycles per episode (one round)
APPEND_ROWS = 300
MERGE_UPDATES = 150
MERGE_INSERTS = 50
READ_MONTHS = 6
TABLE_MONTHS = 12  # the tables hold the first year of orders
KEY = "o_orderkey"


def _with_month(table: pa.Table) -> pa.Table:
    return table.append_column(
        "month", pa.array(inputs.month_of(table.column("o_orderdate").combine_chunks()))
    )


def _agg(df: pd.DataFrame) -> list[tuple]:
    g = df.groupby("o_orderstatus").agg(cnt=(KEY, "size"), total=("o_totalprice", "sum"))
    return [(k, int(r.cnt), float(r.total)) for k, r in g.sort_index().iterrows()]


class LakehouseRW:
    name = "lakehouse_rw"
    default_sf = 0.1

    def __init__(self, spark, work: str, seed: int, sf: float):
        self.spark, self.work, self.seed, self.sf = spark, work, seed, sf
        self.rng = np.random.default_rng([seed, 3])
        self.tables = {
            "delta": os.path.join(work, "tables", "orders_delta"),
            "iceberg": os.path.join(work, "tables", "orders_iceberg"),
        }
        self.pristine = os.path.join(work, "pristine")
        self.batches = os.path.join(work, "batches")
        self.rounds = 0
        self.input_bytes = 0
        self.written_bytes = 0
        self.files_added: list[int] = []
        self.files_removed: list[int] = []
        self._corrupt = False
        self.account_files = False  # per-write file accounting (traced runs)

    # -- set-up ----------------------------------------------------------------

    def setup(self) -> None:
        from buzz_rust_spark import BuzzEngine
        from buzz_rust_spark.sources import write_delta, write_iceberg

        base = _with_month(inputs.read_table(self.sf, "orders"))
        months = sorted(set(base.column("month").to_pylist()))[:TABLE_MONTHS]
        base = base.filter(pa.compute.is_in(base.column("month"), pa.array(months)))
        base_path = os.path.join(self.batches, "base.parquet")
        inputs.write_parquet(base, base_path)
        self.statuses = sorted(set(base.column("o_orderstatus").to_pylist()))
        self.priorities = sorted(set(base.column("o_orderpriority").to_pylist()))
        df = self.spark.read.parquet(base_path)
        write_delta(df, self.tables["delta"], mode="overwrite", partition_by=["month"])
        write_iceberg(df, self.tables["iceberg"], partition_by=["month"])
        for fmt, path in self.tables.items():
            shutil.copytree(path, os.path.join(self.pristine, fmt))
        self.months = months
        self.schema = base.schema
        self.base = base.to_pandas()
        self.episode = self._simulate(self.base.copy(), int(self.base[KEY].max()) + 1)
        self.engine = BuzzEngine(self.spark)
        self._live = {}

    def _batch(self, name: str, frame: pd.DataFrame) -> str:
        path = os.path.join(self.batches, f"{name}.parquet")
        inputs.write_parquet(
            pa.Table.from_pandas(frame, schema=self.schema, preserve_index=False), path
        )
        return path

    def _simulate(self, model: pd.DataFrame, next_key: int) -> list[dict]:
        """The episode's operations and, for each cycle, the expected read
        answers; the model ends in the expected final contents."""
        rng = self.rng
        cycles = []
        pool = self.base
        for c in range(CYCLES):
            # the writes touch four distinct months inside the read window,
            # so every seed's read meets the same number of rewritten
            # partitions
            start = int(rng.integers(0, len(self.months) - READ_MONTHS + 1))
            lo, hi = self.months[start], self.months[start + READ_MONTHS - 1]
            window_months = self.months[start : start + READ_MONTHS]
            touched = [str(m) for m in rng.choice(window_months, 4, replace=False)]
            months, month, del_month = touched[:2], touched[2], touched[3]
            append = pool.sample(APPEND_ROWS, random_state=rng.integers(2**31)).copy()
            append[KEY] = np.arange(next_key, next_key + APPEND_ROWS)
            append["month"] = rng.choice(months, APPEND_ROWS)
            next_key += APPEND_ROWS
            model = pd.concat([model, append], ignore_index=True)

            in_month = model[model["month"] == month]
            upd = in_month.sample(min(MERGE_UPDATES, len(in_month)), random_state=rng.integers(2**31)).copy()
            upd["o_totalprice"] = np.round(upd["o_totalprice"] * 1.1, 2)
            upd["o_orderstatus"] = rng.choice(self.statuses, len(upd))
            ins = pool.sample(MERGE_INSERTS, random_state=rng.integers(2**31)).copy()
            ins[KEY] = np.arange(next_key, next_key + MERGE_INSERTS)
            ins["month"] = month
            next_key += MERGE_INSERTS
            merge = pd.concat([upd, ins], ignore_index=True)
            model = pd.concat(
                [model[~model[KEY].isin(merge[KEY])], merge], ignore_index=True
            )

            prio = str(rng.choice(self.priorities))
            predicate = f"month = '{del_month}' AND o_orderpriority = '{prio}'"
            model = model[~((model["month"] == del_month) & (model["o_orderpriority"] == prio))]

            window = model[(model["month"] >= lo) & (model["month"] <= hi)]
            cycles.append(
                {
                    "append": self._batch(f"append{c}", append),
                    "merge": self._batch(f"merge{c}", merge),
                    "delete": predicate,
                    "read_filter": f"month >= '{lo}' AND month <= '{hi}'",
                    "read_expected": _agg(window),
                    "contents": model.sort_values(KEY).reset_index(drop=True),
                }
            )
        return cycles

    def start_accounting(self) -> None:
        self.account_files = True
        self._live = {fmt: self._live_files(fmt) for fmt in self.tables}

    def warmup(self) -> None:
        """Two rounds, checked, untimed; then the tables are restored.  The
        first round runs about twice as slow as the third, the second within
        about 15 % of it."""
        for _ in range(2):
            for op in self.round():
                if not op.check(op.run()):
                    raise RuntimeError(f"warm-up {op.name} returned a wrong result")
        self._restore()
        self.rounds = 0
        self.files_added.clear()
        self.files_removed.clear()
        self.input_bytes = self.written_bytes = 0

    def _restore(self) -> None:
        for fmt, path in self.tables.items():
            shutil.rmtree(path)
            shutil.copytree(os.path.join(self.pristine, fmt), path)
            if self.account_files:
                self._live[fmt] = self._live_files(fmt)

    # -- operations --------------------------------------------------------------

    def round(self) -> list[Op]:
        """One whole episode, from the pristine tables."""
        if self.rounds:
            self._restore()
        self.rounds += 1
        return [op for spec in self.episode for op in self._cycle(spec)]

    def _cycle(self, spec: dict) -> list[Op]:
        return [
            self._write(verb, fmt, spec)
            for verb in ("append", "merge", "delete")
            for fmt in self.tables
        ] + [self._read(fmt, spec) for fmt in self.tables]

    def _write(self, verb: str, fmt: str, spec: dict) -> Op:
        from buzz_rust_spark import sources

        uri = self.tables[fmt]

        def run():
            with TRACER.span(f"sources.{verb}_{fmt}"):
                if verb == "delete":
                    fn = sources.delete_delta if fmt == "delta" else sources.delete_iceberg
                    return fn(self.spark, uri, spec["delete"])
                src = self.spark.read.parquet(spec[verb])
                if verb == "append":
                    if fmt == "delta":
                        return sources.write_delta(src, uri, mode="append", partition_by=["month"])
                    return sources.write_iceberg(src, uri, mode="append", partition_by=["month"])
                if fmt == "delta":
                    return sources.merge_delta(self.spark, uri, src, on=[KEY])
                return sources.merge_iceberg(self.spark, uri, src, key_cols=[KEY])

        def check(result) -> bool:
            if self.account_files:
                self._account(fmt, None if verb == "delete" else spec[verb])
            # a delete that matches no row commits nothing and returns None;
            # what every write did is checked by the reads and the final check
            return verb == "delete" or result is not None

        return Op(name=f"{verb}_{fmt}", kind="write", run=run, check=check)

    def _read(self, fmt: str, spec: dict) -> Op:
        kind = "DeltaLake" if fmt == "delta" else "Iceberg"
        query = json.dumps(
            {
                "steps": [
                    {
                        "sql": (
                            "SELECT o_orderstatus, COUNT(*) AS cnt, "
                            "SUM(o_totalprice) AS total FROM orders GROUP BY o_orderstatus"
                        ),
                        "name": "orders_map",
                        "step_type": "HBee",
                        "partition_filter": spec["read_filter"],
                    },
                    {
                        "sql": (
                            "SELECT o_orderstatus, SUM(cnt) AS cnt, SUM(total) AS total "
                            "FROM orders_map GROUP BY o_orderstatus ORDER BY o_orderstatus"
                        ),
                        "name": "orders_reduce",
                        "step_type": "HComb",
                    },
                ],
                "catalogs": [{"name": "orders", "type": kind, "uri": self.tables[fmt]}],
            }
        )
        def check(rows) -> bool:
            want = spec["read_expected"]
            if self._corrupt:
                want = want[:1] + want
            return rows_match([tuple(r) for r in rows], want, ordered=True)

        return Op(
            name=f"read_{fmt}",
            kind="read",
            run=lambda: self.engine.execute(self.engine.run_json(query)),
            check=check,
        )

    # -- table state ---------------------------------------------------------------

    def _account(self, fmt: str, input_path: str | None) -> None:
        """Files one write added to and removed from the live snapshot, and
        the bytes it wrote per byte of input."""
        before = self._live[fmt]
        after = self._live[fmt] = self._live_files(fmt)
        added = set(after) - set(before)
        self.files_added.append(len(added))
        self.files_removed.append(len(set(before) - set(after)))
        if input_path is not None:
            self.input_bytes += os.path.getsize(input_path)
            self.written_bytes += sum(after[p] for p in added)

    def _live_files(self, fmt: str) -> dict[str, int]:
        """Live data files of the current snapshot: path → bytes."""
        from buzz_rust_spark.sources import DeltaCatalog, IcebergCatalog

        if fmt == "delta":
            files = DeltaCatalog(name="t", table_uri=self.tables[fmt]).files
        else:
            files = IcebergCatalog(name="t", table_uri=self.tables[fmt]).pruned_files(
                self.spark, None
            )
        return {f.key: int(f.length) for f in files}

    def _contents(self, fmt: str) -> pd.DataFrame:
        from buzz_rust_spark.sources import DeltaCatalog, IcebergCatalog

        cls = DeltaCatalog if fmt == "delta" else IcebergCatalog
        df = cls(name="t", table_uri=self.tables[fmt]).to_dataframe(self.spark)
        out = df.select(*self.schema.names).toPandas()
        return out.sort_values(KEY).reset_index(drop=True)

    def final_check(self) -> bool:
        """Both tables hold exactly the model's rows after the last cycle."""
        want = self.episode[-1]["contents"]
        for fmt in self.tables:
            got = self._contents(fmt)
            if len(got) != len(want):
                return False
            for col in self.schema.names:
                a, b = got[col].to_numpy(), want[col].to_numpy()
                if col == "o_orderdate":
                    a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
                if not (a == b).all():
                    return False
        return True

    def corrupt_one_expected(self) -> None:
        self._corrupt = True

    def layer_metrics(self) -> dict:
        live = {fmt: self._live_files(fmt) for fmt in self.tables}
        n_writes = len(self.files_added)
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for path in self.tables.values()
            for d, _, fs in os.walk(path)
            for f in fs
        )
        live_bytes = sum(sum(v.values()) for v in live.values())
        from buzz_rust_spark.sources import iceberg_files

        delete_files = (
            iceberg_files(self.spark, self.tables["iceberg"]).where("content != 'data'").count()
        )
        return {
            "sources.live_files": (sum(len(v) for v in live.values()), 2),
            "sources.delete_files": (delete_files, 1),
            "sources.files_added": (np.mean(self.files_added) if n_writes else 0.0, n_writes),
            "sources.files_removed": (np.mean(self.files_removed) if n_writes else 0.0, n_writes),
            "sources.bytes_written_per_input_byte": (
                self.written_bytes / self.input_bytes if self.input_bytes else 0.0,
                n_writes,
            ),
            "space_amp": (on_disk / live_bytes if live_bytes else 0.0, 2),
        }

    def close(self) -> None:
        pass
