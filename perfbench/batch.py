"""Operator-suite workload: contract queries from ``__spark_entry__.queries()``
timed the way ``bench.py`` times them — construct the DataFrame, write it to
the ``noop`` sink, clear the cache — from one thread.

Each query is checked once per run against its ``oracle_sql()`` twin with
the type-sensitive comparison of ``tools/selfcheck.py``, before the timed
passes; that pass also warms the JVM.
"""

from __future__ import annotations

import importlib.util
import os
import time

import numpy as np

import stats
import spans

#: The mix, by family prefix.  Each one stands for a part of the suite:
#: dedup3 (MinHash LSH) and ann2 (sign-random-projection LSH top-k) the
#: hash-family kernels, s4/s6 the formats sink write plus re-read.  A warm pass takes about 3 s at sf0.1
#: and local[4]; a query's oracle check costs about twice its warm wall,
#: which is what keeps the mix this small.
MIX = ("dedup3", "ann2", "s4", "s6")


def resolve(queries: dict) -> dict[str, str]:
    """Family prefix → registered query name, for every query of the mix."""
    by_prefix = {name.split("_")[0]: name for name in queries}
    return {p: by_prefix[p] for p in MIX}


def load_selfcheck(root: str):
    """``tools/selfcheck.py`` as a module, for its comparison helpers."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(root, "tools", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle(data_dir: str):
    import duckdb

    from nlp_to_nosql_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    return con


def compare(selfcheck, spark_arrow, oracle_arrow) -> list[str]:
    """Row count, column names, Arrow type categories and the value
    multiset, as ``tools/selfcheck.py`` compares them."""
    scols, srows, ssigs = selfcheck.arrow_table_rows(spark_arrow)
    ocols, orows, osigs = selfcheck.arrow_table_rows(oracle_arrow)
    problems = []
    if len(srows) != len(orows):
        problems.append(f"row count {len(srows)} != {len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
    else:
        diffs = [c for c in scols if ssigs[c] != osigs[c]]
        if diffs:
            problems.append(f"arrow types differ on {diffs}")
    if not problems and selfcheck.row_multiset(scols, srows) != selfcheck.row_multiset(ocols, orows):
        problems.append("value multiset differs")
    return problems


def verify(spark, root: str, data_dir: str) -> dict[str, list[str]]:
    """Check every query of the mix against its oracle; returns the
    problems per query (empty lists when all agree)."""
    import __spark_entry__ as entrymod

    selfcheck = load_selfcheck(root)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = oracle(data_dir)
    out = {}
    for prefix, name in resolve(qs).items():
        try:
            got = qs[name](spark, data_dir).toArrow()
            out[prefix] = compare(selfcheck, got, con.execute(oracles[name]).arrow())
        except Exception as exc:  # noqa: BLE001 — a failing query fails the check
            out[prefix] = [f"{type(exc).__name__}: {exc}"[:300]]
        finally:
            spark.catalog.clearCache()
    con.close()
    return out


def warm_up(spark, data_dir: str) -> None:
    """``bench.py``'s warm-up: a scan + aggregate and a pandas UDF stage."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    li.filter(F.col("l_quantity") > 0).groupBy("l_returnflag").count().collect()

    @pandas_udf("double")
    def _warm(v):
        return v * 1.0

    spark.range(10_000).repartition(int(spark.sparkContext.defaultParallelism)).select(
        _warm(F.col("id").cast("double"))
    ).write.mode("overwrite").format("noop").save()


def timed_passes(spark, data_dir: str, seconds: float, seed: int, tracer: bool) -> list[dict]:
    """Timed passes over the mix, each in a seeded order, after one untimed
    pass: as many as fit ``seconds`` by the untimed pass's wall, and at
    least two.  The untimed pass still runs 15-25 % slower than the rest
    while the JIT settles after the cold oracle check.  The count is fixed
    once it ends, so a slightly faster or slower host does not change how
    many warm passes the median draws on.  Each pass holds its wall and one
    record per query: construct and action wall and, when traced, its jobs
    and stages."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = resolve(qs)
    rng = np.random.default_rng(seed)
    passes: list[dict] = []
    n_passes = 2
    while len(passes) < n_passes + 1:
        records = []
        pass_start = time.perf_counter()
        for prefix in rng.permutation(MIX):
            j0 = spans.total_jobs(spark) if tracer else 0
            t0 = time.time()
            df = qs[names[prefix]](spark, data_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            spark.catalog.clearCache()
            rec = {"query": str(prefix), "construct_s": t1 - t0, "action_s": t2 - t1,
                   "start": t0, "end": t2}
            if tracer:
                spans.drain_listener_bus(spark)
                rec["jobs"] = spans.total_jobs(spark) - j0
                rec["stages"] = spans.stages_of_jobs(spark, range(j0, j0 + rec["jobs"]))
            records.append(rec)
        passes.append({"wall_s": time.perf_counter() - pass_start, "queries": records})
        if len(passes) == 1:
            n_passes = max(2, round(seconds / passes[0]["wall_s"]))
    return passes[1:]


def end_to_end(passes: list[dict]) -> tuple[dict, dict]:
    """End-to-end metrics, with one pass of the mix as the operation: the
    mix's queries differ by 10x in wall, so a percentile over single
    queries jumps between neighbouring queries from run to run."""
    walls = [p["wall_s"] for p in passes]
    metrics = {
        "latency_p50_ms": stats.percentile(walls, 50) * 1000.0,
        "latency_p95_ms": stats.percentile(walls, 95) * 1000.0,
        "throughput_rps": len(walls) / sum(walls),
        "batch_wall_s": stats.median(walls),
    }
    detail = {
        "passes": len(walls),
        "pass_walls_s": walls,
        "tail_percentile_supported": stats.tail_percentile(len(walls)),
        "per_query_s": {
            q: stats.median(r["end"] - r["start"] for p in passes for r in p["queries"] if r["query"] == q)
            for q in MIX
        },
    }
    return metrics, detail


def layer_metrics(passes: list[dict]) -> dict:
    """Per-query and per-pass census of traced passes (medians over passes;
    job counts are exact and repeat)."""
    med = lambda xs: stats.median(list(xs))  # noqa: E731
    out = {}
    for q in MIX:
        recs = [r for p in passes for r in p["queries"] if r["query"] == q]
        out[f"batch.{q}.wall_s"] = med(r["end"] - r["start"] for r in recs)
        out[f"batch.{q}.construct_s"] = med(r["construct_s"] for r in recs)
        out[f"batch.{q}.jobs"] = med(r["jobs"] for r in recs)
    per_pass: dict[str, list[float]] = {}
    for p in passes:
        recs = p["queries"]
        stages = [s for r in recs for s in r["stages"]]
        gap = sum(
            stats.uncovered(r["start"], r["end"], spans.stage_intervals(r["stages"])) for r in recs
        )
        row = {
            "batch.construct_s": sum(r["construct_s"] for r in recs),
            "batch.action_s": sum(r["action_s"] for r in recs),
            "spark.jobs": float(sum(r["jobs"] for r in recs)),
            "spark.stages": float(len(stages)),
            "spark.tasks": float(sum(s.tasks for s in stages)),
            "spark.executor_run_s": sum(s.run_ms for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
            "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
            "spark.shuffle_read_mb": sum(s.shuffle_read for s in stages) / 2**20,
            "spark.shuffle_write_mb": sum(s.shuffle_write for s in stages) / 2**20,
            "spark.stage_gap_s": gap,
            # Per query of the mix, comparable with the served path's
            # per-request figures.
            "spark.executor_run_ms": sum(s.run_ms for s in stages) / len(recs),
            "spark.executor_cpu_ms": sum(s.cpu_ns for s in stages) / 1e6 / len(recs),
            "spark.stage_gap_ms": gap * 1e3 / len(recs),
        }
        for k, v in row.items():
            per_pass.setdefault(k, []).append(v)
    out.update({k: med(v) for k, v in per_pass.items()})
    return out
