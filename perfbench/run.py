"""Benchmark of the served NL path and the operator suite.

    python3 perfbench/run.py --workload {serve_point,serve_bulk,batch_ops}
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One process sets up a local Spark session
(``local[nproc]``) the way a deployment would, checks its answers, measures
for ``--seconds`` and prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` its per-layer ones;
the line before it holds the run's details (sample counts, host noise).

Everything the run reads or writes stays under the repository root: the
synthetic tables are built once into ``.perfbench/`` and Spark's local
directories, the JVM's temp dir and the engine's temp files go to a per-process
directory there, removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("serve_point", "serve_bulk", "batch_ops")
#: Scale of every table: 15,000 employees behind the served path, and
#: bench.py's scale for the contract queries.
SF = 0.1
SETUP_LAYERS = ("session.start_s", "sources.register_s", "setup.warmup_s")
#: Layers a workload never enters: their census reads 0 there.
NOT_ENTERED = {
    "serve": ("batch.",),
    "batch": ("server.", "api.", "compiler.", "plans.", "executor.", "timeout."),
}


def process_start() -> float:
    """Epoch time at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("nlp_to_nosql_spark/__init__.py", "__spark_entry__.py", "tools/selfcheck.py")
    )


def ensure_data() -> str:
    """Build the synthetic tables once per version of the generator."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        key = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, f"data-{key}", f"sf{SF}")
    if not os.path.isdir(out):
        staging = f"{out}.tmp{os.getpid()}"
        datagen.build(staging, SF)
        try:
            os.replace(staging, out)
        except OSError:  # another run finished the same build first
            shutil.rmtree(staging, ignore_errors=True)
    return out


def isolate(tmp: str, traced: bool) -> None:
    """Point every temporary path of Python, the JVMs and Spark at
    ``tmp``, and let engine code run in Spark's Python workers."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own JVM
    args = ["--driver-java-options", jvm_opts]
    if traced:
        # The status store must keep every job and stage of the run until
        # the census reads them at the end.
        for conf in ("spark.ui.retainedJobs", "spark.ui.retainedStages"):
            args += ["--conf", f"{conf}=1000000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not stop is killed
            gateway.proc.kill()
            gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of the JVM (VmHWM) and of this Python process."""
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return {
        "jvm.peak_rss_mb": jvm_kb / 1024.0,
        "python.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }


class Run:
    """One benchmark run: set-up, answer checks, measurement, report."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool, started: float):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.started = started
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {"workload": workload, "seed": seed, "traced": traced}
        self.clients = len(os.sched_getaffinity(0))
        self.master = f"local[{self.clients}]"
        self.spark = None

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    # -- set-up --------------------------------------------------------------
    def set_up(self, register, warm_up) -> tuple:
        """Start the session, register the tables and warm up; returns the
        registered state and the set-up times.  ``setup_s`` counts from
        process start, so it includes the imports and the JVM launch."""
        from nlp_to_nosql_spark.session import get_spark

        t_sess = time.time()
        self.spark = get_spark("perfbench", master=self.master)
        self.spark.sparkContext.setLogLevel("ERROR")
        t_reg = time.time()
        state = register(self.spark)
        t_warm = time.time()
        warm_up(self.spark, state)
        t_end = time.time()
        return state, {
            "setup_s": t_end - self.started,
            "session.start_s": t_reg - t_sess,
            "sources.register_s": t_warm - t_reg,
            "setup.warmup_s": t_end - t_warm,
        }

    # -- workloads -------------------------------------------------------------
    def serve(self, data: str) -> tuple[dict, dict]:
        import serve
        import spans
        from nlp_to_nosql_spark.server import create_app

        requests = serve.generate(self.workload, self.seed, data)
        per_pass = len(requests)

        def warm_up(spark, engine):
            samples, _ = serve.closed_loop(
                create_app(engine), requests, self.clients, None, count=serve.WARMUP_REQUESTS
            )
            self.count(samples)

        engine, setup = self.set_up(lambda spark: serve.register(spark, data), warm_up)
        app = create_app(engine)
        primed, _ = serve.closed_loop(
            app, requests, self.clients, None, count=serve.PRIME_REQUESTS[self.workload]
        )
        self.count(primed)
        tracer = spans.Tracer() if self.traced else None
        if tracer is None:
            samples, start = serve.closed_loop(app, requests, self.clients, self.seconds)
        else:
            with spans.patched(serve.trace_targets(tracer, self.spark)):
                samples, start = serve.closed_loop(app, requests, self.clients, self.seconds, tracer=tracer)
        self.count(samples)
        e2e, detail = serve.end_to_end(samples, start, per_pass)
        self.detail.update(detail)
        layers = {}
        if tracer is not None:
            layers, tdetail = serve.layer_metrics(tracer, self.spark, per_pass)
            self.detail.update(tdetail)
        return {**setup, **e2e}, layers

    def count(self, samples) -> None:
        self.attempted += len(samples)
        for s in samples:
            if s.error:
                self.fail(f"request {s.index}: {s.error}")

    def batch(self, data: str) -> tuple[dict, dict]:
        import batch

        import __spark_entry__ as entrymod

        def register(spark):
            entrymod.register_tables(spark, data)

        _, setup = self.set_up(register, lambda spark, _: batch.warm_up(spark, data))
        t_check = time.time()
        checks = batch.verify(self.spark, ROOT, data)
        self.detail["oracle_check_s"] = time.time() - t_check
        self.attempted += len(checks)
        for q, problems in checks.items():
            if problems:
                self.fail(f"{q} differs from its oracle: {'; '.join(problems)}")
        passes = batch.timed_passes(self.spark, data, self.seconds, self.seed, self.traced)
        self.attempted += sum(len(p["queries"]) for p in passes)
        e2e, detail = batch.end_to_end(passes)
        self.detail.update(detail)
        layers = batch.layer_metrics(passes) if self.traced else {}
        return {**setup, **e2e}, layers

    # -- report ----------------------------------------------------------------
    def result(self, measured: dict, layers: dict, spec: dict) -> dict:
        """The final line: every metric of BENCHMARK.json for this mode.  A
        layer this workload never enters did no work and reads 0."""
        memory = peak_rss_mb(self.spark)
        self.detail.update(memory)
        if not self.traced:
            values, wanted = measured, spec["end_to_end"]
        else:
            wanted = spec["per_layer"]
            names = {m["name"] for m in wanted}
            unknown = set(layers) - names
            if unknown:
                raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
            skipped = NOT_ENTERED["batch" if self.workload == "batch_ops" else "serve"]
            values = {**layers, **memory, **{k: measured[k] for k in SETUP_LAYERS}}
            for name in names - set(values):
                if not name.startswith(skipped):
                    raise RuntimeError(f"per-layer metric {name} was not measured")
                values[name] = 0.0
            self.detail["traced_end_to_end"] = {
                m["name"]: measured[m["name"]] for m in spec["end_to_end"]
            }
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted
            },
        }


def main(argv: list[str] | None = None) -> int:
    started = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    # A first run builds the tables: that is the benchmark's work, not the
    # program's set-up.
    t_data = time.time()
    data = ensure_data()
    started += time.time() - t_data
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp)
    isolate(tmp, bool(args.trace))

    import stats

    noise = stats.HostNoise()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), started)
    try:
        if args.workload == "batch_ops":
            measured, layers = run.batch(data)
        else:
            measured, layers = run.serve(data)
        result = run.result(measured, layers, spec)
        run.detail["host"] = noise.record(run.master)
        run.detail["error_share"] = result["failed"] / max(result["attempted"], 1)
    finally:
        shutdown(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(run.detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report, print no result, fail the run
        traceback.print_exc()
        sys.exit(1)
