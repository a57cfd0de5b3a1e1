"""The benchmark's workloads: ordered operations, each with the check of
its output.

An operation is a ``build`` (the engine's Python layer: a catalog row's
function, a reader, an operator) followed by an ``act`` that materialises
the result. Catalog rows and read-backs act through Spark's ``noop`` sink,
which computes every output column (``count()`` would let Catalyst prune
them); writes act by committing files through ``sources.writers`` or
``operators.maintenance``.

A ``check`` runs once per run, on the cold pass, right after the
operation's timed region: catalog rows are compared with their DuckDB
oracle, read-backs with DuckDB digests of the inputs and of the change-log
merge. A write is checked through the read-back of what it wrote.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pyspark is imported by the set-up the benchmark times
    from pyspark.sql import DataFrame


@dataclass
class Context:
    spark: Any
    catalog: dict
    data_dir: str
    out_dir: str
    warehouse: str
    cpus: int

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "query", "write" or "read"
    build: Callable[[Context], Any]
    act: Callable[[Context, Any], None]
    check: Callable[[Context, Any, Any], None] | None = None  # (ctx, duckdb, built)
    out_path: Callable[[Context], str] | None = None  # where a write lands


@dataclass(frozen=True)
class Workload:
    name: str
    tpch_scale: float
    text_scale: float
    reads: tuple[str, ...]  # the input tables the operations read
    ops: tuple[Op, ...]


def noop(_ctx: Context, df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _oracle_check(name: str):
    def check(ctx: Context, con, df: DataFrame) -> None:
        from data_algorithms_with_pyspark_spark.verify import compare_spark_duckdb

        compare_spark_duckdb(df, con, ctx.catalog[name].oracle)

    return check


def catalog_op(name: str) -> Op:
    return Op(
        name,
        "query",
        lambda ctx: ctx.catalog[name].fn(ctx.spark, ctx.data_dir),
        noop,
        _oracle_check(name),
    )


def _read(path_of: Callable[[Context], str]):
    def build(ctx: Context) -> DataFrame:
        from data_algorithms_with_pyspark_spark.sources.readers import read_parquet

        return read_parquet(ctx.spark, path_of(ctx))

    return build


def _input(ctx: Context, table: str) -> DataFrame:
    return _read(lambda c: os.path.join(c.data_dir, f"{table}.parquet"))(ctx)


# --- digests: an order-insensitive content hash over a relation, in DuckDB.
# Each row becomes "col=value|..." over its columns in name order, with
# doubles as integer cents and timestamps as epoch microseconds; the digest
# is the row count plus the sum of the first 32 bits of each row's md5.


def duck_digest(con, relation_sql: str) -> tuple[int, int]:
    cols = con.execute(f"DESCRIBE {relation_sql}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        if typ == "DOUBLE":
            v = f"CAST(floor({name} * 100 + 0.5) AS BIGINT)"
        elif typ.startswith("TIMESTAMP"):
            v = f"epoch_us({name})"
        else:
            v = name
        parts.append(f"'{name}=' || coalesce({v}::VARCHAR, 'NULL')")
    row_str = " || '|' || ".join(parts)
    n, s = con.execute(
        f"SELECT count(*), sum(('0x' || substr(md5({row_str}), 1, 8))::BIGINT) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return int(n), int(s or 0)


def _read_back_check(path_of: Callable[[Context], str], expected_sql: str):
    """The files the write committed hash like the expected relation, and
    the Spark read-back sees every row."""

    def check(ctx: Context, con, df: DataFrame) -> None:
        files = f"read_parquet('{path_of(ctx)}/**/*.parquet', hive_partitioning = true)"
        want = duck_digest(con, expected_sql)
        got = duck_digest(con, f"SELECT * FROM {files}")
        if got != want:
            raise AssertionError(f"written files digest {got} != expected {want}")
        if df.count() != want[0]:
            raise AssertionError(f"read-back saw {df.count()} rows, expected {want[0]}")

    return check


# --- tpch_etl ---------------------------------------------------------------

TPCH_QUERIES = ("q21_waiting_suppliers",)
PARTITION_COLS = ("l_returnflag", "l_linestatus")
ORDER_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
CDC_MERGE_SQL = f"""
    WITH latest AS (
        SELECT * FROM orders_changes
        QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY change_seq DESC) = 1
    )
    SELECT {ORDER_COLS} FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
    UNION ALL
    SELECT {ORDER_COLS} FROM latest WHERE op <> 'D'
"""


def _partitioned(ctx: Context) -> str:
    return os.path.join(ctx.warehouse, "lineitem_by_flag")


def _bucketed(ctx: Context) -> str:
    return os.path.join(ctx.warehouse, "orders_by_cust")


def _compacted(ctx: Context) -> str:
    return ctx.out("lineitem_compacted")


def _clustered(ctx: Context) -> str:
    return ctx.out("lineitem_by_shipdate")


def _merged(ctx: Context) -> str:
    return ctx.out("orders_merged")


def _write_partitioned(ctx: Context, df: DataFrame) -> None:
    from data_algorithms_with_pyspark_spark.sources.writers import write_partitioned_table

    write_partitioned_table(df, "lineitem_by_flag", PARTITION_COLS)


def _compact(ctx: Context, _built: None) -> None:
    from data_algorithms_with_pyspark_spark.operators.maintenance import (
        compact_partitioned_table,
    )

    compact_partitioned_table(
        ctx.spark, _partitioned(ctx), _compacted(ctx), PARTITION_COLS, target_file_bytes=1 << 20
    )


def _write_bucketed(ctx: Context, df: DataFrame) -> None:
    from data_algorithms_with_pyspark_spark.sources.writers import write_bucketed_table

    write_bucketed_table(df, "orders_by_cust", ("o_custkey",), ctx.cpus, ("o_orderkey",))


def _write_clustered(ctx: Context, df: DataFrame) -> None:
    from data_algorithms_with_pyspark_spark.sources.writers import write_range_clustered

    write_range_clustered(df, _clustered(ctx), ("l_shipdate",), ctx.cpus)


def _cdc_build(ctx: Context) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.merge import apply_cdc

    return apply_cdc(
        _input(ctx, "orders"), _input(ctx, "orders_changes"), ["o_orderkey"], order_col="change_seq"
    )


def _write_merged(ctx: Context, df: DataFrame) -> None:
    from data_algorithms_with_pyspark_spark.sources.writers import write_parquet

    write_parquet(df, _merged(ctx))


def _read_back(name: str, path_of: Callable[[Context], str], expected_sql: str) -> Op:
    return Op(f"read_{name}", "read", _read(path_of), noop, _read_back_check(path_of, expected_sql))


TPCH_ETL = Workload(
    name="tpch_etl",
    tpch_scale=0.02,
    text_scale=0.001,
    reads=("lineitem", "orders", "supplier", "nation", "orders_changes"),
    ops=(
        *(catalog_op(q) for q in TPCH_QUERIES),
        Op("write_partitioned", "write", lambda ctx: _input(ctx, "lineitem"),
           _write_partitioned, out_path=_partitioned),
        Op("compact_partitioned", "write", lambda ctx: None, _compact, out_path=_compacted),
        Op("write_bucketed", "write", lambda ctx: _input(ctx, "orders"),
           _write_bucketed, out_path=_bucketed),
        Op("write_range_clustered", "write", lambda ctx: _input(ctx, "lineitem"),
           _write_clustered, out_path=_clustered),
        Op("cdc_merge_write", "write", _cdc_build, _write_merged, out_path=_merged),
        _read_back("lineitem_compacted", _compacted, "SELECT * FROM lineitem"),
        _read_back("orders_by_cust", _bucketed, "SELECT * FROM orders"),
        _read_back("lineitem_by_shipdate", _clustered, "SELECT * FROM lineitem"),
        _read_back("orders_merged", _merged, CDC_MERGE_SQL),
    ),
)

# --- llm_curation -----------------------------------------------------------

LLM_QUERIES = (
    "bpe_learned_merges",
    "doc_quality_classifier",
    "embedding_kmeans_assign",
)
CURATED = "corpus_curation_pipeline"


def _curated(ctx: Context) -> str:
    return ctx.out("curated_corpus")


def _write_curated(ctx: Context, df: DataFrame) -> None:
    from data_algorithms_with_pyspark_spark.sources.writers import write_parquet

    write_parquet(df, _curated(ctx))


LLM_CURATION = Workload(
    name="llm_curation",
    tpch_scale=0.001,
    text_scale=0.01,
    reads=("documents", "embeddings"),
    ops=(
        *(catalog_op(q) for q in LLM_QUERIES),
        Op("write_curated_corpus", "write",
           lambda ctx: ctx.catalog[CURATED].fn(ctx.spark, ctx.data_dir),
           _write_curated, out_path=_curated),
        Op("read_curated_corpus", "read", _read(_curated), noop, _oracle_check(CURATED)),
    ),
)

WORKLOADS = {w.name: w for w in (TPCH_ETL, LLM_CURATION)}
