"""Driver simulation: runs the exact comparison the external harness does —
every ``__spark_entry__.queries()`` entry vs its ``oracle_sql()`` DuckDB
twin (row count, column names, order-insensitive values) at a given scale
factor. Usage: python scripts/driver_sim.py [SF_DIR]."""

from __future__ import annotations

import math
import sys
import time
from datetime import datetime

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from data_algorithms_with_pyspark_spark.operators.state import scope  # noqa: E402
from data_algorithms_with_pyspark_spark.schemas import TABLE_NAMES  # noqa: E402


def hostile_spark(driver_memory: str | None = None) -> SparkSession:
    """A session the engine did NOT build — like the external harness's.

    Deliberately omits every engine conf (no nanosAsLong, no AQE) and pins a
    NON-UTC timezone, which is more hostile than the real driver: queries must
    re-assert the confs they depend on (readers.ensure_session_confs) to pass.

    ``driver_memory`` (--driver-memory=64g) is the ONE non-semantic override,
    needed for sf1 sweeps: the default 1 GiB local-mode heap OOMs on the
    driver-side COMPARE of multi-million-row results (and on broadcast
    builds over sf1 inputs). Memory sizing is not a correctness conf.
    """
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName("driver-sim-hostile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
    )
    if driver_memory:
        # Effective only because this is a fresh process (the JVM reads
        # spark.driver.memory at launch, not after getOrCreate).
        builder = builder.config("spark.driver.memory", driver_memory)
    return builder.getOrCreate()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (0.0 if v == 0.0 else v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def main() -> int:
    # Usage: driver_sim.py [SF_DIR] [--only=name1,name2] [--driver-memory=64g]
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only: set[str] | None = None
    driver_memory: str | None = None
    for i, a in enumerate(sys.argv[1:], start=1):
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--driver-memory="):
            driver_memory = a.split("=", 1)[1]
        elif a == "--driver-memory":
            driver_memory = sys.argv[i + 1]
            args = [x for x in args if x != driver_memory]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = hostile_spark(driver_memory)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    print("entry rows:", entry_mod.entry(spark).count(), flush=True)
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if only is not None:
        unknown = only - queries.keys()
        if unknown:
            raise SystemExit(f"--only names not in catalog: {sorted(unknown)}")
        queries = {n: f for n, f in queries.items() if n in only}
    print(
        f"{len(queries)} queries, {len(oracles)} with oracles, sf_dir={sf_dir}",
        flush=True,
    )

    failures = []
    for name, fn in sorted(queries.items()):
        # the scope releases what the query pinned once its rows are in
        t0 = time.perf_counter()
        with scope():
            sdf = fn(spark, sf_dir)
            if name not in oracles:
                print(f"  {name}: rows-only, {sdf.count()} rows", flush=True)
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.perf_counter() - t0
        # named before the oracle runs, so a stalled oracle shows its row
        print(f"  {name}: spark {spark_s:.2f} s, oracle running", flush=True)
        t0 = time.perf_counter()
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        oracle_s = time.perf_counter() - t0
        so = sorted(range(len(scols)), key=lambda i: scols[i])
        do = sorted(range(len(dcols)), key=lambda i: dcols[i])
        s_set = sorted([tuple(_norm(r[i]) for i in so) for r in srows], key=repr)
        d_set = sorted([tuple(_norm(r[i]) for i in do) for r in drows], key=repr)
        ok = sorted(scols) == sorted(dcols) and s_set == d_set
        print(
            f"  {name}: {'MATCH' if ok else 'MISMATCH'} ({len(srows)} rows; "
            f"spark {spark_s:.2f} s, oracle {oracle_s:.2f} s)",
            flush=True,
        )
        if not ok:
            failures.append(name)
            for a, b in list(zip(s_set, d_set))[:5]:
                if a != b:
                    print("    spark:", a, "\n    duck :", b, flush=True)
    print("FAILURES:", failures if failures else "none", flush=True)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
