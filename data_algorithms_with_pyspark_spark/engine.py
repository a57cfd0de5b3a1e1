"""User-facing facade over the query catalog.

The reference's users import a chapter module and call a function
(``/root/reference/src/chapter_04/examples/parquet_operations.py`` style);
this engine's equivalent surface is one object bound to a SparkSession and
a data directory:

    from data_algorithms_with_pyspark_spark.engine import Engine

    eng = Engine(spark, "/root/testdata/sf0.1")   # or Engine.local()
    eng.names()                                   # every catalog query
    eng.describe("q1_pricing_summary")            # what it computes
    df = eng.run("q1_pricing_summary")            # lazy DataFrame
    eng.explain("q5_local_supplier_volume")       # physical plan text
    eng.tables()                                  # register temp views,
    spark.sql("SELECT ... FROM lineitem ...")     # then go raw SQL

``run`` returns a DataFrame and MOSTLY stays lazy, with documented
exceptions: a handful of queries run bounded driver jobs at
DataFrame-BUILD time — the global-ordering pair (documents_global_row_index,
corpus_vocabulary_coverage: range-exchange + persist + one collected row
per partition, see operators/ordering.py), the iterative operators
(embedding_kmeans_assign, graph components/pagerank: one scalar action
per round), and the persisted-index build (incremental_near_dup_persisted_index:
writes the bucketed band table once per session/sf). ``Engine.run``
itself never collects result rows.

Relations a query persists or checkpoints for its lazy result belong to
the open ``operators.state.scope()``, which releases them when it exits;
run the action inside it (the result is valid only there):

    with scope():
        eng.run("near_dup_clusters").write.parquet(out)

``verify`` and ``explain`` open that scope themselves. Outside any scope
the relations stay pinned until the session's ``clearCache()`` (persists)
or its end (checkpoints).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_algorithms_with_pyspark_spark.operators.state import scope
from data_algorithms_with_pyspark_spark.plans.catalog import (
    CatalogQuery,
    all_queries,
)
from data_algorithms_with_pyspark_spark.sources.readers import (
    load_table,
    register_views,
)

__all__ = ["Engine"]


class Engine:
    """A SparkSession + scale-factor directory bound to the query catalog."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    @classmethod
    def local(cls, sf_dir: str = "/root/testdata/sf0.01", **kwargs) -> "Engine":
        """Engine on the tuned local session (session.get_spark)."""
        from data_algorithms_with_pyspark_spark.session import get_spark

        return cls(get_spark(**kwargs), sf_dir)

    # -- catalog ----------------------------------------------------------
    def names(self, tag: str | None = None) -> list[str]:
        """Catalog query names, optionally filtered by tag."""
        qs = all_queries()
        if tag is None:
            return list(qs)
        return [n for n, q in qs.items() if tag in q.tags]

    def get(self, name: str) -> CatalogQuery:
        qs = all_queries()
        if name not in qs:
            raise KeyError(
                f"unknown query {name!r}; nearest: "
                f"{[n for n in qs if name.split('_')[0] in n][:5]}"
            )
        return qs[name]

    def describe(self, name: str) -> str:
        q = self.get(name)
        oracle = "DuckDB value oracle" if q.oracle else "rows-only check"
        return f"{q.name} [{', '.join(q.tags)}] ({oracle}): {q.description}"

    # -- execution --------------------------------------------------------
    def run(self, name: str) -> DataFrame:
        """Build the query's DataFrame (lazy — caller decides the action).

        Run the action inside ``operators.state.scope()`` to release what
        the query pinned: ``with scope(): eng.run(name).write…``.
        """
        return self.get(name).fn(self.spark, self.sf_dir)

    def explain(self, name: str) -> str:
        """Formatted physical plan without executing the query."""
        with scope():
            df = self.run(name)
            return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore
                df._jdf.queryExecution(), "formatted"
            )

    # -- raw data ---------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def tables(self) -> None:
        """Register every engine table as a temp view for spark.sql use."""
        register_views(self.spark, self.sf_dir)

    # -- verification ------------------------------------------------------
    def verify(self, name: str) -> dict:
        """Run this query's cross-engine check right here: execute the
        Spark DataFrame AND its DuckDB oracle over the same parquet
        directory and compare row count, column names, and
        order-insensitive values — the same comparison the external
        correctness gate applies (scripts/driver_sim.py runs it for the
        whole catalog). Returns a small report dict; raises AssertionError
        with the first differing rows on mismatch. Queries without an
        oracle (``approx_distinct_users_hll``) get a rows-only report.
        The query runs inside ``state.scope()``: what it pinned is
        released before this returns.
        """
        import os

        import duckdb

        from data_algorithms_with_pyspark_spark.schemas import TABLE_NAMES

        from data_algorithms_with_pyspark_spark.verify import (
            compare_spark_duckdb,
        )

        q = self.get(name)
        with scope():
            df = q.fn(self.spark, self.sf_dir)
            if q.oracle is None:
                return {"query": name, "mode": "rows_only", "rows": df.count()}
            con = duckdb.connect()
            for t in TABLE_NAMES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                    )
            compare_spark_duckdb(df, con, q.oracle)
        return {"query": name, "mode": "oracle", "match": True}

    def verify_all(
        self, names: list[str] | None = None, fail_fast: bool = False
    ) -> dict:
        """Run the FULL correctness gate the way scripts/driver_sim.py
        does, as a one-liner: every catalog query (or the given subset)
        executes on Spark and replays on DuckDB over the same parquet
        directory, with row-count / column-name / order-insensitive
        value comparison. Returns ``{"passed": [...], "rows_only":
        [...], "failed": {name: error}}``; with ``fail_fast`` the first
        mismatch re-raises instead. Each query runs in its own
        ``state.scope()`` (through ``verify``), so what one query pinned is
        released before the next starts. Use before shipping an engine or
        data change:

            Engine.local("/root/testdata/sf0.01").verify_all()
        """
        report: dict = {"passed": [], "rows_only": [], "failed": {}}
        for name in names if names is not None else self.names():
            try:
                r = self.verify(name)
            except Exception as e:  # noqa: BLE001 — collected per query
                if fail_fast:
                    raise
                report["failed"][name] = f"{type(e).__name__}: {e}"
                continue
            key = "rows_only" if r.get("mode") == "rows_only" else "passed"
            report[key].append(name)
        return report
