#!/usr/bin/env python3
"""Benchmark of the engine's two end-to-end surfaces.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 10 --trace 0

Workloads (closed loop: one client, one process, Spark ``local[nproc]``):

- ``ask``: natural-language questions through ``ClimateEngine.ask()``
  with an in-process stub LLM transport (``questions.py``): lookup
  questions over all four climate domains, trend questions and ERA5
  anomaly questions.
- ``registry``: registry queries (``registry.py``) over tables
  generated from the seed, each built and forced through the ``noop``
  sink; the write queries write into the run's own directory.

An operation is one question or one registry query. The loop runs whole
rounds (every template of ``questions.py`` once, in an order drawn from
the seed, or every query of ``registry.QUERIES`` once, in that order)
and starts no new round once ``--seconds`` have passed, so it measures
at least that long. The seed also draws the questions' entities and
the registry's input tables. Each output is checked outside the timed
region: answers against a pandas reference over the domain tables,
registry outputs against their DuckDB oracle twins. An operation that
raises or fails its check counts as failed.

``setup_s`` runs from process start: imports, the JVM and SparkSession
launch, building the surface (``ClimateEngine(spark)``, or the
registry) and the untimed warm-up (``questions.WARMUP``: one lookup per
climate domain, so each domain table's first use is paid here whatever
the seeded order; or ``pricing_summary``). Making the registry's seeded
input tables is not part of it. What the engine fills on first use of
any other template or query is paid inside the timed round.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
operations with spans around the public functions of each layer and
Spark job groups per operation, prints the per-layer metrics, and writes
the spans to ``.perfbench-work/spans/``. Per-layer times are self times
in seconds per operation unless the name says otherwise; layers a
workload does not reach read 0.

The last line of standard output is the result JSON; the line before it
holds the host record (nproc, load, versions, seed) and run details.
Everything else the program prints goes to standard error.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # the first set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("ask", "registry")
DRIVER_MEMORY = "3g"  # explicit: the session default (16g) exceeds small hosts
DOMAIN_TABLES = ["disasters_yearly", "fema_assistance", "era5_monthly", "emissions"]

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
}


def per_layer_units() -> dict[str, str]:
    from registry import QUERIES

    units = {
        "session.start_s": "s",
        "sources.views_s": "s",
        **{f"sources.{t}_exec_s": "s" for t in DOMAIN_TABLES},
        "sources.bytes_written_per_op": "bytes",
        "nl.route_s": "s",
        "nl.plan_s": "s",
        "nl.answer_s": "s",
        "nl.prompt_bytes": "bytes",
        "nl.fallbacks": "count",
        "plans.compile_s": "s",
        "operators.trend_s": "s",
        "queries.build_s": "s",
        **{f"queries.{q}_s": "s" for q in QUERIES},
        "spark.exec_s": "s",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.failed_tasks": "count",
        "spark.persisted_after_op": "count",
        "spark.jvm_peak_rss_mb": "MB",
        "cpu.driver_s_per_op": "s",
        "cpu.jvm_s_per_op": "s",
        "cpu.pyworker_s_per_op": "s",
        "trace.overhead_s_per_op": "s",
    }
    return units


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class StubTransport:
    """In-process LLM transport: no network, a deterministic reply, and
    a record of every prompt it was sent."""

    def __init__(self):
        self.prompts: list[str] = []
        self.prompt_bytes = 0

    def __call__(self, system_prompt: str, user_prompt: str) -> str:
        self.prompts.append(user_prompt)
        self.prompt_bytes += len(system_prompt.encode()) + len(user_prompt.encode())
        return f"{user_prompt.count(chr(10))} prompt lines."


def prompt_rows(user_prompt: str) -> list[dict]:
    body = user_prompt.split("Data rows (JSON, one per line):\n", 1)[1]
    body = body.rsplit("\n\nAnswer concisely", 1)[0]
    return [] if body == "(no rows)" else [json.loads(line) for line in body.splitlines()]


class Workload:
    """What the loop needs from a workload. ``run`` performs one timed
    operation and returns what ``check`` compares; the hooks below are
    no-ops unless a workload needs them."""

    def prepare_inputs(self) -> None:
        """Make the seeded inputs, before the first set-up is timed."""

    def after(self, out) -> None:
        """Release what one operation left behind, after its check."""

    def trace_layers(self, tracer) -> None:
        """Wrap the program's layer functions in spans (traced run)."""

    def source_probes(self) -> dict[str, float]:
        return {}

    def known_defects(self) -> list:
        return []

    def close(self) -> None:
        pass


class AskWorkload(Workload):
    def __init__(self, seed: int):
        import questions

        self.q = questions
        self.seed = seed
        self.stream = questions.QuestionStream(seed)
        self.transport = StubTransport()
        self.engine = None
        self.tables = None

    def build(self, spark) -> float:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl.pipeline import (
            ClimateEngine,
        )

        t = time.perf_counter()
        self.engine = ClimateEngine(spark, transport=self.transport)
        return time.perf_counter() - t

    def warmup(self) -> None:
        for text in self.q.WARMUP.values():
            self.engine.ask(text)

    def prepare_checks(self) -> None:
        self.tables = {n: self.engine.tables[n].toPandas() for n in DOMAIN_TABLES}

    def round(self) -> list:
        return self.stream.next_round()

    def label(self, op) -> str:
        return op.template

    def run(self, op, tracer=None):
        n = len(self.transport.prompts)
        self.engine.ask(op.text)
        return self.transport.prompts[n:]

    def check(self, op, out) -> str | None:
        if len(out) != 1:
            return f"{len(out)} transport calls"
        want = self.q.expected_rows(op, self.tables)
        return self.q.rows_match(prompt_rows(out[0]), want)

    def trace_layers(self, tracer) -> None:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl import (
            answer as answer_mod,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.nl import (
            pipeline,
        )
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.operators import (
            trend,
        )

        tracer.wrap(pipeline.ClimateEngine, "ask", "nl.plan")
        tracer.wrap(pipeline.ClimateEngine, "route", "nl.route")
        tracer.wrap(pipeline, "compile_spec", "plans.compile")
        tracer.wrap(trend, "holt_linear_state", "operators.trend")
        tracer.wrap(pipeline, "answer", "nl.answer")
        tracer.wrap(answer_mod, "rows_to_context", "spark.exec")
        tracer.wrap(answer_mod, "template_answer", "nl.fallback")
        # StubTransport instances are called through the class.
        tracer.wrap(StubTransport, "__call__", "llm.transport")

    def source_probes(self) -> dict[str, float]:
        out = {}
        for name in DOMAIN_TABLES:
            t = time.perf_counter()
            self.engine.tables[name].write.format("noop").mode("overwrite").save()
            out[f"sources.{name}_exec_s"] = time.perf_counter() - t
        return out

    def known_defects(self) -> list[dict]:
        return self.q.known_defects(self.engine)


class RegistryWorkload(Workload):
    def __init__(self, seed: int, work: str):
        import registry

        self.r = registry
        self.seed = seed
        self.data = os.path.join(work, "data", "sfgen")
        self.warehouse = os.path.join(work, "spark-warehouse")
        self.spark = None
        self.queries = None
        self.oracle = None
        self.written: list[int] = []

    def prepare_inputs(self) -> None:
        self.r.generate(self.data, self.seed)
        # The sqlite and excel sinks open files under spark-warehouse/
        # without creating it; Spark's own writers create it. A fresh
        # working directory gets it up front so the order of a pass
        # does not decide whether those two fail.
        os.makedirs(self.warehouse, exist_ok=True)

    def build(self, spark) -> float:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.queries import (
            all_queries,
        )

        t = time.perf_counter()
        self.spark = spark
        self.queries = all_queries()
        return time.perf_counter() - t

    def _force(self, name: str, tracer=None):
        from contextlib import nullcontext

        span = tracer.span if tracer else (lambda _n: nullcontext())
        with span("queries.build"):
            df = self.queries[name].builder(self.spark, self.data)
        with span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def warmup(self) -> None:
        self.r.release(self._force(self.r.WARMUP_QUERY))

    def prepare_checks(self) -> None:
        from optimized_climate_data_integration_with_real_time_llm_querying_spark.catalog import (
            TABLES,
        )

        self.oracle = self.r.Oracle(self.data, self.r.load_parity(ROOT), TABLES)

    def round(self) -> list:
        return list(self.r.QUERIES)

    def label(self, op) -> str:
        return op

    def run(self, op, tracer=None):
        self._t_wall = time.time()
        return self._force(op, tracer)

    def check(self, op, df) -> str | None:
        self.written.append(self.r.dir_bytes_since(self.warehouse, self._t_wall))
        sql = self.queries[op].oracle
        if sql is None:
            return "query has no oracle"
        return self.oracle.check(op, sql, df.columns, [tuple(r) for r in df.collect()])

    def after(self, df) -> None:
        self.r.release(df)

    # trace_layers stays a no-op: _force opens the build and noop spans.

    def known_defects(self) -> list[str]:
        return [f"rounding tie: {t}" for t in self.oracle.ties]

    def close(self) -> None:
        if self.oracle:
            self.oracle.close()


def _spark_versions(spark) -> dict:
    return {
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def _stop_jvm() -> None:
    """Stop the SparkContext and the JVM it launched; wait until every
    process this one started has ended."""
    from pyspark import SparkContext

    from spans import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def set_up(wl, get_spark, nproc: int, t_imported: float):
    """The run's one set-up, timed from process start; returns the
    session and the set-up's times."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    times = {"session": time.perf_counter() - t0, "surface": wl.build(spark)}
    wl.warmup()
    times["setup"] = time.perf_counter() - t0 + (t_imported - T_PROCESS)
    return spark, times


class Loop:
    """The closed loop: whole rounds until ``seconds`` have passed. Each
    operation is timed, its process-tree CPU read around it, and its
    output checked after the clock stops. With a tracer, each operation
    also gets a root span, a job group and a persisted-RDD count."""

    def __init__(self, wl, spark, tracer=None):
        import spans

        self.wl, self.tracer, self.spans = wl, tracer, spans
        self.jsc = spark.sparkContext._jsc
        self.jobs = spans.JobCounter(spark.sparkContext) if tracer else None
        self.lat: list[float] = []
        self.labels: list[str] = []
        self.cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
        self.counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        self.persisted: list[int] = []
        self.failures: list[str] = []

    def run(self, seconds: float) -> float:
        t_start = time.perf_counter()
        try:
            while time.perf_counter() - t_start < seconds:
                for op in self.wl.round():
                    self._one(op)
        finally:
            if self.tracer:
                self.tracer.restore()
        return time.perf_counter() - t_start

    def _one(self, op) -> None:
        wl, tracer, i = self.wl, self.tracer, len(self.lat)
        before = self.jsc.getPersistentRDDs().size() if tracer else 0
        group = self.jobs.start(i) if tracer else None
        c0 = self.spans.tree_cpu()
        out, err = None, None
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.op = i
                with tracer.span("op"):
                    out = wl.run(op, tracer)
            else:
                out = wl.run(op)
        except Exception as e:  # a failed operation is counted, not fatal
            err = f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
        c1 = self.spans.tree_cpu()
        if tracer:
            for k, v in self.jobs.finish(group).items():
                self.counts[k] += v
        self.lat.append(t1 - t0)
        self.labels.append(wl.label(op))
        for k in self.cpu:
            self.cpu[k] += c1[k] - c0[k]
        if err is None:
            try:
                err = wl.check(op, out)
            except Exception as e:  # a check that raises is a failed check
                err = f"check raised {type(e).__name__}: {e}"
            finally:
                wl.after(out)
        if err:
            self.failures.append(f"{wl.label(op)}: {err}")
        if tracer:
            self.persisted.append(self.jsc.getPersistentRDDs().size() - before)

    def by_label(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for lab, x in zip(self.labels, self.lat):
            out.setdefault(lab, []).append(x)
        return out


def end_to_end(loop: Loop, times: dict) -> dict[str, float]:
    n = len(loop.lat)
    return {
        "setup_s": times["setup"],
        "latency_p50_s": _median(loop.lat),
        "ops_per_s": n / sum(loop.lat),
        "cpu_s_per_op": sum(loop.cpu.values()) / n,
    }


def per_layer(loop: Loop, times: dict, wl, probes: dict, jvm_rss_mb: float) -> dict[str, float]:
    n = len(loop.lat)
    tracer = loop.tracer
    selfs = tracer.self_by_name()
    ask = isinstance(wl, AskWorkload)
    metrics = {k: 0.0 for k in per_layer_units()}
    metrics.update(probes)
    metrics.update({
        "session.start_s": times["session"],
        "sources.views_s": times["surface"] if ask else 0.0,
        "sources.bytes_written_per_op": 0.0 if ask else sum(wl.written) / n,
        "nl.prompt_bytes": wl.transport.prompt_bytes / n if ask else 0.0,
        "nl.fallbacks": tracer.count("nl.fallback"),
        "spark.jobs_per_op": loop.counts["jobs"] / n,
        "spark.stages_per_op": loop.counts["stages"] / n,
        "spark.tasks_per_op": loop.counts["tasks"] / n,
        "spark.failed_tasks": loop.counts["failed_tasks"],
        "spark.persisted_after_op": sum(loop.persisted) / n,
        "spark.jvm_peak_rss_mb": jvm_rss_mb,
        "cpu.driver_s_per_op": loop.cpu["driver"] / n,
        "cpu.jvm_s_per_op": loop.cpu["jvm"] / n,
        "cpu.pyworker_s_per_op": loop.cpu["pyworker"] / n,
        "trace.overhead_s_per_op": tracer.overhead_s / n,
    })
    for span_name, metric in (
        ("nl.route", "nl.route_s"), ("nl.plan", "nl.plan_s"),
        ("nl.answer", "nl.answer_s"), ("plans.compile", "plans.compile_s"),
        ("operators.trend", "operators.trend_s"), ("queries.build", "queries.build_s"),
        ("spark.exec", "spark.exec_s"),
    ):
        metrics[metric] = selfs.get(span_name, 0.0) / n
    if not ask:
        for name, xs in loop.by_label().items():
            metrics[f"queries.{name}_s"] = _median(xs)
    return metrics


def measure(args, work: str) -> dict:
    import spans

    from optimized_climate_data_integration_with_real_time_llm_querying_spark.session import (
        get_spark,
    )

    t_imported = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()[0]
    wl = AskWorkload(args.seed) if args.workload == "ask" else RegistryWorkload(args.seed, work)
    wl.prepare_inputs()  # inputs are not set-up: made before its clock resumes
    spark, times = set_up(wl, get_spark, nproc, t_imported)
    versions = _spark_versions(spark)
    wl.prepare_checks()

    tracer, probes = None, {}
    if args.trace:
        probes = wl.source_probes()
        tracer = spans.Tracer()
        wl.trace_layers(tracer)
    loop = Loop(wl, spark, tracer)
    measured_s = loop.run(args.seconds)
    jvm_rss_mb = spans.vm_hwm_mb(spans.jvm_pid())
    n = len(loop.lat)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "spark_master": f"local[{nproc}]",
        "driver_memory": DRIVER_MEMORY,
        "load1_before": load_before,
        "load1_after": os.getloadavg()[0],
        **versions,
        "operations": n,
        "measured_s": measured_s,
        "setup_parts_s": times,
        "latency_by_op_s": {k: _median(v) for k, v in sorted(loop.by_label().items())},
        "failures": loop.failures[:20],
        "known_defects": wl.known_defects(),
    }
    if args.trace:
        metrics = per_layer(loop, times, wl, probes, jvm_rss_mb)
        units = per_layer_units()
        info["traced_latency_p50_s"] = _median(loop.lat)
        info["self_s_by_layer"] = tracer.self_by_name()
        spans_path = os.path.join(
            ROOT, ".perfbench-work", "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.dump(spans_path, {"info": info, "labels": loop.labels})
        info["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics, units = end_to_end(loop, times), END_TO_END
    wl.close()
    result = {
        "correct": not loop.failures,
        "attempted": n,
        "failed": len(loop.failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return {"info": info, "result": result}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything written to fd 1 (Python, the JVM, the workers) goes to
    # stderr; only the two result lines go to the real stdout.
    out_fd = os.dup(1)
    os.dup2(2, 1)

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    os.chdir(work)  # the write queries write under os.getcwd()/spark-warehouse
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    rc = 1
    report = None
    try:
        report = measure(args, work)
        rc = 0
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        rc = 3
    except Exception:
        traceback.print_exc()
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if report is not None:
        os.write(out_fd, (json.dumps({"info": report["info"]}) + "\n").encode())
        os.write(out_fd, (json.dumps(report["result"]) + "\n").encode())
    os.close(out_fd)
    return rc


if __name__ == "__main__":
    sys.exit(main())
