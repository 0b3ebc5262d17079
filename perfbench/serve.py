"""Served NL path workloads: generated requests, their expected answers, and
a closed loop of client threads driving ``POST /query`` on the Flask app.

Every generated text is run through the rule compiler at set-up and must
compile to the IR the generator meant, so a phrasing the compiler reads
differently (it drops minus signs, and "older than 30" without the word
"age" falls back to find-all) never reaches the measured loop.  The
expected ``total_matching`` of every request comes from DuckDB over the same
parquet files, with the employees view defined by the contract's own SQL.
"""

from __future__ import annotations

import itertools
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from typing import Any

import numpy as np

import stats
import spans

POINT_LIMIT = 50
BULK_LIMIT = 1000
BULK_TABLES = ("lineitem", "orders", "events", "documents", "embeddings", "employees")
#: Distinct generated requests per run; clients cycle through them.
INPUTS = {"serve_point": 48, "serve_bulk": 24}
#: Requests sent, by every client together, to warm each fresh session.
WARMUP_REQUESTS = 12
#: Requests sent after the set-up and before the measured loop.  The point
#: mix keeps getting faster for hundreds of requests while the JVM compiles
#: the planner's hot paths; this takes the measured loop past the steepest
#: part of that slope, and no further, to keep a run short.
PRIME_REQUESTS = {"serve_point": 80, "serve_bulk": 24}

_SALARY_GT = (
    "Find employees with salary above {n}",
    "Which employees earn more than {n}",
    "Show staff with pay over {n}",
    "List employees whose income is greater than {n}",
)
_SALARY_EQ = (
    "Find employees with salary {n}",
    "Who earns exactly {n}",
    "Employees with an income of {n}",
)
_FIND_ALL = ("Find all records", "Show everything", "List all rows", "Get every entry")
_EMPLOYEE_BULK = (
    ("Show all engineering staff", {"department": {"$regex": "engineering", "$options": "i"}}, {}),
    ("Who works in marketing", {"department": {"$regex": "marketing", "$options": "i"}}, {}),
    ("List the sales team", {"department": {"$regex": "sales", "$options": "i"}}, {}),
    ("List employee names", {}, {"name": 1}),
)


@dataclass(frozen=True)
class Request:
    text: str
    table: str
    limit: int
    ir: dict
    total: int  # expected total_matching
    keys: frozenset  # expected keys of every result row

    def payload(self) -> dict:
        return {"input": self.text, "collection": self.table, "limit": self.limit}


def _where(ir_filter: dict) -> str:
    """SQL WHERE clause for the filter shapes the generators emit."""
    terms = []
    for col, cond in ir_filter.items():
        if not isinstance(cond, dict):
            terms.append(f"{col} = {cond}")
        elif "$gt" in cond:
            terms.append(f"{col} > {cond['$gt']}")
        elif "$regex" in cond:
            terms.append(f"regexp_matches({col}, '{cond['$regex']}', 'i')")
        else:
            raise ValueError(f"no SQL form for {cond!r}")
    return " AND ".join(terms) or "TRUE"


def oracle(data_dir: str):
    """DuckDB over the served tables, with the employees view."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in ("customer",) + BULK_TABLES[:-1]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    con.execute(f"CREATE VIEW employees AS {entrymod.EMPLOYEES_VIEW_SQL}")
    return con


def _count(con, table: str, ir_filter: dict) -> int:
    return con.execute(f"SELECT count(*) FROM {table} WHERE {_where(ir_filter)}").fetchone()[0]


def _columns(con, table: str) -> frozenset:
    return frozenset(r[0] for r in con.execute(f"DESCRIBE {table}").fetchall())


def generate(workload: str, seed: int, data_dir: str) -> list[Request]:
    """The run's distinct requests, validated against the rule compiler and
    answered by DuckDB."""
    from nlp_to_nosql_spark.compiler.rules import nl_to_ir

    rng = np.random.default_rng(seed)
    con = oracle(data_dir)
    specs: list[tuple[str, str, int, dict, dict]] = []
    if workload == "serve_point":
        # Integer thresholds whose `salary > n` set is non-empty and smaller
        # than the limit, and whole-number salaries for equality.
        top = [r[0] for r in con.execute(
            "SELECT salary FROM employees ORDER BY salary DESC LIMIT ?", [POINT_LIMIT]
        ).fetchall()]
        gt_values = list(range(int(top[-1]) + 1, int(top[0])))
        eq_values = [int(r[0]) for r in con.execute(
            "SELECT DISTINCT salary FROM employees WHERE salary = floor(salary) AND salary > 0"
        ).fetchall()]
        # A fixed share of each form, so seeds differ in thresholds, phrasing
        # and order but not in the mix.
        n_gt = round(0.7 * INPUTS[workload])
        for k in rng.permutation(INPUTS[workload]):
            if k < n_gt:
                n = int(rng.choice(gt_values))
                text = str(rng.choice(_SALARY_GT)).format(n=n)
                filt = {"salary": {"$gt": n}}
            else:
                n = int(rng.choice(eq_values))
                text = str(rng.choice(_SALARY_EQ)).format(n=n)
                filt = {"salary": n}
            specs.append((text, "employees", POINT_LIMIT, filt, {}))
    elif workload == "serve_bulk":
        # Every table equally often, and on employees each of its bulk
        # phrasings, so seeds differ in phrasing and order but not in the
        # work a pass does.
        per_table = INPUTS[workload] // len(BULK_TABLES)
        for table in BULK_TABLES:
            for k in range(per_table):
                if table == "employees":
                    text, filt, proj = _EMPLOYEE_BULK[k % len(_EMPLOYEE_BULK)]
                else:
                    text, filt, proj = str(rng.choice(_FIND_ALL)), {}, {}
                specs.append((text, table, BULK_LIMIT, filt, proj))
        specs = [specs[i] for i in rng.permutation(len(specs))]
    else:
        raise ValueError(f"unknown served workload {workload!r}")

    out = []
    for text, table, limit, filt, proj in specs:
        ir = {"filter": filt, "projection": proj}
        got = nl_to_ir(text)
        if got != ir:
            raise ValueError(f"generator drift: {text!r} compiles to {got}, meant {ir}")
        total = _count(con, table, filt)
        if workload == "serve_point" and not total < limit:
            raise ValueError(f"{text!r} matches {total} rows, not fewer than {limit}")
        if workload == "serve_bulk" and total < limit:
            raise ValueError(f"{text!r} on {table} matches {total} rows, fewer than {limit}")
        keys = frozenset(proj) if proj else _columns(con, table)
        out.append(Request(text, table, limit, ir, total, keys))
    con.close()
    return out


def check(status: int, body: Any, req: Request) -> str | None:
    """None when the envelope answers ``req`` correctly, else the reason."""
    if status != 200 or not isinstance(body, dict) or body.get("ok") is not True:
        return f"status {status}"
    if body["total_matching"] != req.total:
        return f"total_matching {body['total_matching']} != {req.total}"
    want = min(req.limit, req.total)
    if body["result_count"] != want or len(body["results"]) != want:
        return f"result_count {body['result_count']} != {want}"
    if body["mongo_query"] != req.ir:
        return f"mongo_query {body['mongo_query']} != {req.ir}"
    if any(frozenset(row) != req.keys for row in body["results"]):
        return "projected keys differ"
    return None


def register(spark, data_dir: str):
    """Engine over the served tables and the employees view: the catalog
    part of the set-up being timed."""
    from nlp_to_nosql_spark.api import Engine
    from nlp_to_nosql_spark.sources.catalog import register_tables

    import __spark_entry__ as entrymod

    engine = Engine(spark)
    for name, df in register_tables(spark, data_dir, ("customer",) + BULK_TABLES[:-1]).items():
        engine.register(name, df)
    engine.register("employees", spark.sql(entrymod.EMPLOYEES_VIEW_SQL))
    return engine


@dataclass
class Sample:
    index: int
    sent: float
    done: float
    error: str | None
    response_bytes: int


def closed_loop(app, requests: list[Request], clients: int, seconds: float | None,
                count: int | None = None, tracer: spans.Tracer | None = None) -> tuple[list[Sample], float]:
    """``clients`` threads, each sending its next request only when the
    previous answer is parsed, until ``seconds`` have passed (or ``count``
    requests were sent).  Returns the samples and the loop's start time."""
    counter = itertools.count()
    samples: list[Sample] = []
    start = time.perf_counter()
    deadline = start + seconds if seconds is not None else None

    def one(client, i: int) -> None:
        req = requests[i % len(requests)]
        sent = time.perf_counter()
        try:
            if tracer is None:
                resp = client.post("/query", json=req.payload())
                body = resp.get_json()
            else:
                with tracer.request(i):
                    with tracer.span("server") as attrs:
                        resp = client.post("/query", json=req.payload())
                        attrs["bytes"] = len(resp.data)
                    body = resp.get_json()
            error = check(resp.status_code, body, req)
            size = len(resp.data)
        except Exception:  # noqa: BLE001 — a failed request is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            error, size = "exception", 0
        if error:
            print(f"wrong answer for {req.text!r} on {req.table}: {error}", file=sys.stderr)
        samples.append(Sample(i, sent, time.perf_counter(), error, size))

    def worker() -> None:
        client = app.test_client()
        while True:
            i = next(counter)
            if (deadline is not None and time.perf_counter() >= deadline) or (
                count is not None and i >= count
            ):
                return
            one(client, i)

    threads = [threading.Thread(target=worker, name=f"client-{k}") for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, start


def pass_walls(samples: list[Sample], start: float, per_pass: int) -> list[float]:
    """Wall time of each full pass of ``per_pass`` consecutive completions."""
    done = sorted(s.done for s in samples)
    walls = []
    prev = start
    for k in range(len(done) // per_pass):
        end = done[(k + 1) * per_pass - 1]
        walls.append(end - prev)
        prev = end
    return walls


def end_to_end(samples: list[Sample], start: float, per_pass: int) -> tuple[dict, dict]:
    """End-to-end metrics of one measured loop, and the detail record."""
    lat_ms = [(s.done - s.sent) * 1000.0 for s in samples]
    wall = max(s.done for s in samples) - start
    walls = pass_walls(samples, start, per_pass)
    metrics = {
        "latency_p50_ms": stats.percentile(lat_ms, 50),
        "latency_p95_ms": stats.percentile(lat_ms, 95),
        "throughput_rps": len(samples) / wall,
        # One pass over the inputs at the run's rate: all samples count, where
        # the median of a run's three or four pass walls swings with them.
        "batch_wall_s": wall * per_pass / len(samples),
    }
    tail = stats.tail_percentile(len(samples))
    detail = {
        "requests": len(samples),
        "passes": len(walls),
        "requests_per_pass": per_pass,
        "pass_walls_s": walls,
        "tail_percentile_supported": tail,
        "latency_tail_ms": stats.percentile(lat_ms, tail) if tail else None,
        "response_kb_median": stats.median(s.response_bytes for s in samples) / 1024.0,
    }
    return metrics, detail


# -- traced run -----------------------------------------------------------------

def trace_targets(tracer: spans.Tracer, spark) -> list:
    """Patches for the served layers, each where its caller looks it up."""
    import nlp_to_nosql_spark.api as api_mod
    import nlp_to_nosql_spark.executor as executor_mod
    from nlp_to_nosql_spark.api import Engine

    sc = spark.sparkContext

    def wrap_compile(fn):
        def compile_(self, *args, **kwargs):
            with tracer.span("compiler") as attrs:
                spec = fn(self, *args, **kwargs)
                attrs["fallback"] = not spec.filter and not spec.projection
                return spec

        return compile_

    def wrap_run_with_timeout(fn):
        def run_with_timeout(spark_, action, timeout_s, group_desc=""):
            kind = "collect" if group_desc.startswith("execute:collect") else "count"
            with tracer.span("timeout", kind=kind):
                parent, rid = tracer.current(), tracer.request_id()

                def action_():
                    with tracer.span("action", parent=parent, rid=rid, kind=kind) as attrs:
                        attrs["group"] = sc.getLocalProperty("spark.jobGroup.id")
                        return action()

                return fn(spark_, action_, timeout_s, group_desc=group_desc)

        return run_with_timeout

    def wrap_sanitize(fn):
        def sanitize_row(row):
            start = time.time()
            out = fn(row)
            tracer.add("sanitize", start, time.time(), tracer.current(), tracer.request_id())
            return out

        return sanitize_row

    return [
        (Engine, "query", spans.traced_call(tracer, "api")),
        (Engine, "compile", wrap_compile),
        (api_mod, "execute", spans.traced_call(tracer, "executor")),
        (executor_mod, "apply_spec", spans.traced_call(tracer, "plans")),
        (executor_mod, "run_with_timeout", wrap_run_with_timeout),
        (executor_mod, "sanitize_row", wrap_sanitize),
    ]


def layer_metrics(tracer: spans.Tracer, spark, per_pass: int) -> tuple[dict, dict]:
    """Per-layer census of a traced loop: medians of per-request times,
    means of per-request counts, Spark work per request and per pass."""
    spans.drain_listener_bus(spark)
    by_rid: dict[Any, list[spans.Span]] = {}
    for s in tracer.spans:
        by_rid.setdefault(s.rid, []).append(s)
    self_t = stats.self_times([(s.sid, s.parent, s.start, s.end) for s in tracer.spans])

    per_req: dict[str, list[float]] = {}
    pass_totals = {"spark.executor_run_s": 0.0, "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
                   "spark.shuffle_read_mb": 0.0, "spark.shuffle_write_mb": 0.0,
                   "spark.stage_gap_s": 0.0}
    for rid, group in by_rid.items():
        if rid is None:
            continue
        named = lambda n: [s for s in group if s.name == n]  # noqa: E731
        server, api = named("server"), named("api")
        if not server or not api:
            continue  # the request failed before reaching the engine
        actions = {s.attrs["kind"]: s for s in named("action")}
        guards = {s.attrs["kind"]: s for s in named("timeout")}
        stages_all = []
        gap = 0.0
        jobs = 0
        for a in actions.values():
            job_ids = spans.jobs_of_group(spark, a.attrs["group"])
            jobs += len(job_ids)
            stages = spans.stages_of_jobs(spark, job_ids)
            stages_all += stages
            gap += stats.uncovered(a.start, a.end, spans.stage_intervals(stages))
        row = {
            "server.self_ms": self_t[server[0].sid] * 1e3,
            "server.response_kb": server[0].attrs["bytes"] / 1024.0,
            "api.self_ms": self_t[api[0].sid] * 1e3,
            "compiler.compile_ms": sum(s.end - s.start for s in named("compiler")) * 1e3,
            "compiler.fallback_share": float(any(s.attrs["fallback"] for s in named("compiler"))),
            "plans.apply_spec_ms": sum(s.end - s.start for s in named("plans")) * 1e3,
            "executor.collect_ms": (actions["collect"].end - actions["collect"].start) * 1e3,
            "executor.count_ms": (actions["count"].end - actions["count"].start) * 1e3
            if "count" in actions else 0.0,
            "executor.sanitize_ms": sum(s.end - s.start for s in named("sanitize")) * 1e3,
            "executor.rows": float(len(named("sanitize"))),
            "timeout.guard_ms": sum(
                (g.end - g.start) - (actions[k].end - actions[k].start)
                for k, g in guards.items() if k in actions
            ) * 1e3,
            "spark.jobs": float(jobs),
            "spark.stages": float(len(stages_all)),
            "spark.tasks": float(sum(s.tasks for s in stages_all)),
            "spark.executor_run_ms": float(sum(s.run_ms for s in stages_all)),
            "spark.executor_cpu_ms": sum(s.cpu_ns for s in stages_all) / 1e6,
            "spark.stage_gap_ms": gap * 1e3,
        }
        for k, v in row.items():
            per_req.setdefault(k, []).append(v)
        pass_totals["spark.executor_run_s"] += row["spark.executor_run_ms"] / 1e3
        pass_totals["spark.executor_cpu_s"] += row["spark.executor_cpu_ms"] / 1e3
        pass_totals["spark.gc_s"] += sum(s.gc_ms for s in stages_all) / 1e3
        pass_totals["spark.shuffle_read_mb"] += sum(s.shuffle_read for s in stages_all) / 2**20
        pass_totals["spark.shuffle_write_mb"] += sum(s.shuffle_write for s in stages_all) / 2**20
        pass_totals["spark.stage_gap_s"] += gap

    n = len(per_req.get("spark.jobs", ()))
    if n == 0:
        raise RuntimeError("traced run recorded no complete request")
    counts = {"compiler.fallback_share", "executor.rows", "spark.jobs", "spark.stages", "spark.tasks"}
    out = {
        k: (sum(v) / n if k in counts else stats.median(v)) for k, v in per_req.items()
    }
    # Totals per pass: one round over the run's generated requests.
    out.update({k: v / n * per_pass for k, v in pass_totals.items()})
    detail = {
        "traced_requests": n,
        "spark_jobs_per_request_values": sorted(set(per_req["spark.jobs"])),
    }
    return out, detail
