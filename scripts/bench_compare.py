"""Compare two bench JSON lines (e.g. BENCH_r04.json vs a fresh run):
per-query ratios over the common set, total/geomean, and the worst
movers — the round-over-round regression check VERDICT grades.

Usage: python scripts/bench_compare.py OLD.json NEW.json [threshold]

OLD and NEW may each be comma-joined records (``a_1.json,a_2.json``):
the side is then the per-query minimum over its runs, the convention of
an interleaved A/B. The frozen ``bench.CORE_QUERIES`` total is printed
beside the total over the common set.
"""

from __future__ import annotations

import json
import math
import sys


def load(path: str) -> dict[str, float]:
    """Accept either a clean bench JSON line or the driver's BENCH_r{N}
    record format (truncated head, the line escaped inside a "tail"
    field) — recover per-query pairs by regex in the latter case."""
    import re

    with open(path) as f:
        txt = f.read()
    try:
        obj = json.loads(txt[txt.index("{"):])
        if "queries" in obj:
            return obj["queries"]
        txt = obj.get("tail", "")
    except (json.JSONDecodeError, ValueError):
        pass
    pairs = re.findall(r'\\?"([a-z0-9_]+)\\?": ([0-9][0-9.]*)', txt)
    # Allowlist by catalog query name so a new numeric record field can
    # never pollute the ratio report; fall back to the old denylist only
    # if the catalog itself is unimportable in this environment.
    try:
        sys.path.insert(0, __file__.rsplit("/", 2)[0])
        from data_algorithms_with_pyspark_spark.plans.catalog import all_queries

        known = set(all_queries())
        return {k: float(v) for k, v in pairs if k in known}
    except Exception:
        drop = {"sf", "value", "n", "rc", "cpus"}
        return {k: float(v) for k, v in pairs if k not in drop}


def load_min(arg: str) -> dict[str, float]:
    """One record, or the per-query minimum over comma-joined records."""
    runs = [load(p) for p in arg.split(",")]
    common = set.intersection(*(set(r) for r in runs))
    return {q: min(r[q] for r in runs) for q in common}


def main() -> None:
    old, new = load_min(sys.argv[1]), load_min(sys.argv[2])
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.2
    common = sorted(set(old) & set(new))
    if not common:
        print("no common queries")
        return
    ratios = {q: new[q] / old[q] for q in common if old[q] > 0}
    tot_old = sum(old[q] for q in common)
    tot_new = sum(new[q] for q in common)
    geo = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    print(
        f"common={len(common)} total {tot_old:.2f}s -> {tot_new:.2f}s "
        f"({tot_new / tot_old:.2f}x) geomean {geo:.2f}"
    )
    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    from bench import CORE_QUERIES

    core = [q for q in CORE_QUERIES if q in ratios]
    core_old = sum(old[q] for q in core)
    core_new = sum(new[q] for q in core)
    print(
        f"core={len(core)} total {core_old:.2f}s -> {core_new:.2f}s "
        f"({core_new / core_old - 1:+.1%})"
    )
    movers = sorted(ratios.items(), key=lambda kv: kv[1])
    print("-- improved --")
    for q, r in movers[:5]:
        print(f"  {q}: {old[q]:.2f}s -> {new[q]:.2f}s ({r:.2f}x)")
    print(f"-- regressed beyond {thr}x --")
    for q, r in movers[::-1]:
        if r < thr:
            break
        print(f"  {q}: {old[q]:.2f}s -> {new[q]:.2f}s ({r:.2f}x)")


if __name__ == "__main__":
    main()
