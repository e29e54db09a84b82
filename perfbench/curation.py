"""The curation_queries workload: the 11 bench query leaves over fixed testdata.

Each leaf runs once untimed (warm-up and output check), then once timed as
``.count()``.  The check compares each leaf's row count and an
order-independent hash of its rows with ``query_fingerprints.json``, which
``python3 perfbench/curation.py --sf-dir <dir>`` writes after validating
every leaf that has a DuckDB oracle (``__spark_entry__.oracle_sql()``)
against it.

The testdata directory is an argument (``--sf-dir``): it is fixed data, not
generated from the seed, so this workload is not part of BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_fingerprints.json")


def leaves() -> dict:
    """name -> fn(spark, sf_dir) for bench.BENCH_QUERIES, in bench order."""
    import __spark_entry__ as entry
    import bench

    qs = entry.queries()
    return {n: qs.get(n) or bench._BENCH_EXTRAS[n] for n in bench.BENCH_QUERIES}


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (bool, int)):
        return v
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def fingerprint(pdf) -> dict:
    """Row count and md5 of the sorted, normalized rows (floats to 6 places,
    columns by name), so row order does not matter."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(repr(tuple(_norm(v) for v in r)) for r in pdf.itertuples(index=False))
    return {"rows": len(rows), "md5": hashlib.md5("\n".join(rows).encode()).hexdigest()}


def _sf_key(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def run_curation(ctx, res) -> None:
    """Fill res with queries_total_s, and per-leaf times when tracing."""
    if not ctx.sf_dir:
        raise SystemExit("curation_queries needs --sf-dir <testdata directory>")
    with open(FINGERPRINTS) as fh:
        want = json.load(fh).get(_sf_key(ctx.sf_dir))
    if want is None:
        raise SystemExit(f"no fingerprints for {_sf_key(ctx.sf_dir)} in {FINGERPRINTS}")
    spark = ctx.session.restart()
    fns = leaves()
    for name, fn in fns.items():
        got = fingerprint(fn(spark, ctx.sf_dir).toPandas())
        res.op(got == want[name], f"{name}: {got} != recorded {want[name]}")
    if ctx.tracer is not None:
        # a fresh session so the stores hold only the timed pass
        spark = ctx.session.restart()
        for name in fns:  # warm again in the new session
            fns[name](spark, ctx.sf_dir).count()
    times = {}
    for name, fn in fns.items():
        with ctx.tracer.span(f"query.{name}") if ctx.tracer else nullcontext():
            t0 = time.perf_counter()
            fn(spark, ctx.sf_dir).count()
            times[name] = time.perf_counter() - t0
        res.attempted += 1
    res.put("queries_total_s", sum(times.values()), "s")
    if ctx.tracer is not None:
        ctx.tracer.collect(spark)
        stages = [st for j in ctx.tracer.jobs if (j["group"] or "").startswith("pb-")
                  for st in j["stages"]]
        for name, t in times.items():
            res.put(f"query.{name}_s", t, "s", layer=True)
        res.put("query.shuffle_bytes", sum(st["shuffle_write_bytes"] for st in stages),
                "bytes", layer=True)
        res.put("query.task_cpu_s", sum(st["cpu_s"] for st in stages), "s", layer=True)


def record(sf_dir: str) -> int:
    """Validate the leaves against the DuckDB oracle and store fingerprints."""
    import duckdb

    import __spark_entry__ as entry
    from ape_dts_spark.session import get_spark
    from perfbench.host import driver_memory_mb, host_memory_mb

    spark = get_spark(
        "perfbench-record",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={"spark.driver.memory": f"{driver_memory_mb(host_memory_mb())}m"},
    )
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    oracles = entry.oracle_sql()
    out, bad = {}, 0
    for name, fn in leaves().items():
        got = fingerprint(fn(spark, sf_dir).toPandas())
        if name in oracles:
            ref = fingerprint(con.execute(oracles[name]).fetchdf())
            status = "oracle match" if ref == got else f"ORACLE MISMATCH {ref}"
            bad += ref != got
        else:
            status = "no oracle"
        print(f"{name}: {got} {status}")
        out[name] = got
    spark.stop()
    if bad:
        return 1
    data = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as fh:
            data = json.load(fh)
    data[_sf_key(sf_dir)] = out
    with open(FINGERPRINTS, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description="record curation_queries fingerprints")
    ap.add_argument("--sf-dir", required=True)
    sys.exit(record(ap.parse_args().sf_dir))
