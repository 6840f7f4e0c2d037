"""The benchmark's two workloads. Both drive the program only through
its public entry points: ``syncer.sync`` over a DB-API sqlite backend
(the CLI's ``--sqlite`` path), and the ``__spark_entry__.queries()``
registry.

A workload builds its inputs from the seed (untimed), is opened on a
Spark session (part of set-up), runs operations one at a time (closed
loop, one client) and checks every result outside the timed region.
"""

from __future__ import annotations

import contextlib
import os
import sqlite3

import numpy as np
import pandas as pd

import datagen

# TPC-H scale of the sync tables: 3,000 orders and about 12,000
# lineitems.
SYNC_SF = 0.002
# TPC-H scale of the analytics tables: 3,000 orders, about 12,000
# lineitems, 2,000 events, 500 documents and 500 embeddings.
ANALYTICS_SF = 0.002

# Share of each table's rows inserted, updated and deleted per sync.
CHURN = 0.01

# (table, key, column the churn updates, FK parents): deletes run
# lineitem first, inserts and updates orders first.
DAG_TABLES = [
    ("orders", "o_orderkey", "o_totalprice", []),
    ("lineitem", "l_id", "l_quantity", ["orders"]),
]

def canon(v) -> str:
    """One text form for a value read back from a CSV or sqlite:
    numbers compare by value, and whole floats collapse to integers."""
    if isinstance(v, str):
        try:
            f = float(v)
        except ValueError:
            return v
    else:
        f = float(v)
    return str(int(f)) if f.is_integer() else repr(f)


def rows_of(records, columns: int) -> set[tuple[str, ...]]:
    return {tuple(canon(r[i]) for i in range(columns)) for r in records}


class DagSqliteWorkload:
    """``sync_dag_sqlite``: churned snapshot pairs A and B of an
    orders -> lineitem FK DAG as CSV files, a sqlite database loaded
    with A, and syncs that move the database between A and B.

    The first operation is a per-row apply sync in the fresh session.
    Every later operation plans and applies the way back: a dry-run
    sync, then the staged apply sync it planned. So the DB-API writer,
    the dry-run planner and the staged writer are all timed."""

    name = "sync_dag_sqlite"
    tables = DAG_TABLES
    # warm operations a run times at least, whatever --seconds says;
    # each is two syncs here
    warm_min = 1
    memos: list[str] = []

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.pairs: dict[str, datagen.SnapshotPair] = {}
        self.db_side = "a"
        self.db_path = os.path.join(work_dir, "dag.sqlite")
        self.backend = None
        self._raw_conn = None
        # rows the syncs reported as changed, and as written by applies
        self.changed_rows = 0
        self.written_rows = 0
        self.syncs = 0

    # -- inputs and set-up ---------------------------------------------
    def make_inputs(self) -> None:
        base = datagen.orders_lineitem(self.seed, SYNC_SF)
        rng = np.random.default_rng([self.seed, 1])
        for name, key, col, _ in self.tables:
            df = base[name]
            if name == "lineitem":
                df = datagen.with_ordinal_key(df, key)
            df = datagen.date_text(df)
            pair = datagen.churn_pair(rng, df, col, CHURN)
            self.pairs[name] = pair
            datagen.write_csv(pair.a, self.csv_path("a", name))
            datagen.write_csv(pair.b, self.csv_path("b", name))
        con = sqlite3.connect(self.db_path)
        try:
            for name, key, *_ in self.tables:
                df = self.pairs[name].a
                kinds = {"i": "INTEGER", "u": "INTEGER", "f": "REAL"}
                cols = ", ".join(
                    f"{c} {kinds.get(df[c].dtype.kind, 'TEXT')}"
                    + (" PRIMARY KEY" if c == key else "")
                    for c in df.columns
                )
                con.execute(f"CREATE TABLE {name} ({cols})")
                con.executemany(
                    f"INSERT INTO {name} VALUES "
                    f"({', '.join('?' * len(df.columns))})",
                    df.itertuples(index=False),
                )
            con.commit()
        finally:
            con.close()

    def open(self, spark) -> None:
        from mydatasyncer_spark.sinks.applier import DbApiBackend

        self._raw_conn = sqlite3.connect(self.db_path)
        self.backend = DbApiBackend(self._raw_conn, dialect="sqlite")

    def close(self) -> None:
        self._raw_conn.close()
        self.backend = None

    def set_tracer(self, tracer, connection_proxy=None) -> None:
        """Route the backend's statements through ``connection_proxy``
        while traced, and straight to sqlite otherwise."""
        if tracer is None:
            self.backend.conn = self._raw_conn
        else:
            self.backend.conn = connection_proxy(self._raw_conn)

    # -- operations ----------------------------------------------------
    def csv_path(self, side: str, name: str) -> str:
        return os.path.join(self.work_dir, side, f"{name}.csv")

    def config(self, side: str, dry_run: bool):
        from mydatasyncer_spark.config import SyncConfig, TableSpec

        return SyncConfig(
            tables=[
                TableSpec(
                    name=name,
                    file_path=self.csv_path(side, name),
                    primary_key=key,
                    sync_mode="diff",
                    delete_not_in_file=True,
                    dependencies=deps,
                )
                for name, key, _, deps in self.tables
            ],
            dry_run=dry_run,
        )

    def sync_to(self, spark, side: str, dry_run: bool, staging: bool) -> list[str]:
        """One ``sync()`` call from the DB's current snapshot to
        ``side``; returns the failed checks (empty when correct)."""
        from mydatasyncer_spark import syncer

        outcome = syncer.sync(
            spark, self.backend, self.config(side, dry_run), staging=staging
        )
        self.syncs += 1
        failures = []
        for name, *_ in self.tables:
            want = self.pairs[name].expected_to(side)
            if dry_run:
                p = outcome.plans[name]
                got = (p.insert_count, p.update_count, p.delete_count)
            else:
                s = outcome.stats[name]
                got = (s.inserted, s.updated, s.deleted)
                self.written_rows += sum(got)
            self.changed_rows += sum(got)
            if got != want:
                failures.append(f"{name}: {got} != expected {want}")
        if not dry_run:
            self.db_side = side
        return failures

    def other_side(self) -> str:
        return "b" if self.db_side == "a" else "a"

    def first_op(self, spark) -> list[str]:
        return self.sync_to(spark, self.other_side(), dry_run=False, staging=False)

    def op(self, spark) -> list[str]:
        side = self.other_side()
        fails = self.sync_to(spark, side, dry_run=True, staging=False)
        return fails + self.sync_to(spark, side, dry_run=False, staging=True)

    def after_op(self) -> list[str]:
        return []

    # -- checks --------------------------------------------------------
    def _query(self, sql: str) -> list[tuple]:
        con = sqlite3.connect(self.db_path)
        try:
            return con.execute(sql).fetchall()
        finally:
            con.close()

    def sizes(self) -> dict[str, float]:
        """Rows in the database and in the snapshot the next operation
        syncs to, read before a traced operation."""
        db_rows = sum(
            self._query(f"SELECT COUNT(*) FROM {name}")[0][0]
            for name, *_ in self.tables
        )
        side = self.other_side()
        file_rows = sum(len(getattr(self.pairs[n], side)) for n, *_ in self.tables)
        return {"snapshot_rows": db_rows, "file_rows": file_rows}

    def counters(self) -> dict[str, float]:
        """Cumulative counts; a traced operation reports their growth."""
        return {
            "changed_rows": self.changed_rows,
            "rows_written": self.written_rows,
            "syncs": self.syncs,
        }

    def final_check(self) -> list[str]:
        """Every DB table equals the last applied file snapshot, both
        read back independently of the program (sqlite3, pandas)."""
        failures = []
        for name, *_ in self.tables:
            path = self.csv_path(self.db_side, name)
            want_df = pd.read_csv(path, dtype=str, keep_default_na=False)
            cols = list(want_df.columns)
            want = rows_of(want_df.itertuples(index=False), len(cols))
            got = rows_of(
                self._query(f"SELECT {', '.join(cols)} FROM {name}"), len(cols)
            )
            if got != want:
                failures.append(
                    f"{name}: DB differs from snapshot {self.db_side} "
                    f"({len(got ^ want)} rows)"
                )
        return failures


class AnalyticsWorkload:
    """``analytics_headline``: one operation is one pass over the
    ``HEADLINE`` registry queries of ``bench.py`` on seeded parquet
    tables, with the registry's memos emptied first.

    The first pass, in the fresh session, collects every result with
    ``toPandas`` so it can be compared with the query's DuckDB oracle
    after the timed region. Later passes force each query with the
    noop sink, which, unlike ``count()``, keeps every projected
    column."""

    name = "analytics_headline"
    warm_min = 2
    # memos in ``__spark_entry__`` that let a later pass reuse an
    # earlier pass's result; emptied before each pass
    memos = ["_LSH_PAIRS_CACHE"]

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "tables")
        self.tracer = None
        self._results: dict[str, pd.DataFrame] = {}

    def make_inputs(self) -> None:
        datagen.write_parquet(datagen.tpch_tables(self.seed, ANALYTICS_SF), self.sf_dir)

    def open(self, spark) -> None:
        pass

    def close(self) -> None:
        pass

    def set_tracer(self, tracer, connection_proxy=None) -> None:
        self.tracer = tracer

    def sizes(self) -> dict[str, float]:
        return {}

    def counters(self) -> dict[str, float]:
        return {}

    @staticmethod
    def query_names() -> list[str]:
        from bench import HEADLINE

        return list(HEADLINE)

    def _pass(self, spark, force) -> list[str]:
        import __spark_entry__ as entry

        for memo in self.memos:
            getattr(entry, memo).clear()
        registry = entry.queries()
        for name in self.query_names():
            span = (
                self.tracer.span(name, f"query.{name}")
                if self.tracer is not None
                else contextlib.nullcontext()
            )
            with span:
                force(name, registry[name](spark, self.sf_dir))
        return []

    def first_op(self, spark) -> list[str]:
        def collect(name, df):
            self._results[name] = df.toPandas()

        return self._pass(spark, collect)

    def op(self, spark) -> list[str]:
        return self._pass(
            spark, lambda _, df: df.write.format("noop").mode("overwrite").save()
        )

    def after_op(self) -> list[str]:
        """Compare the collected results with their DuckDB oracles,
        normalized as ``tests/test_oracle_parity.py`` does."""
        if not self._results:
            return []
        import __spark_entry__ as entry
        from test_oracle_parity import compare, duck_connection

        oracles = entry.oracle_sql()
        con = duck_connection(self.sf_dir)
        failures = []
        try:
            for name, got in self._results.items():
                try:
                    compare(name, got, con.execute(oracles[name]).fetchdf())
                except (AssertionError, KeyError) as exc:
                    failures.append(f"{name}: {exc}"[:300])
        finally:
            con.close()
        self._results.clear()
        return failures

    def final_check(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (DagSqliteWorkload, AnalyticsWorkload)}
