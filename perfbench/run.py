#!/usr/bin/env python3
"""Layered benchmark for tscan_spark.

    python3 perfbench/run.py --workload doc_ladder --seed 1 --seconds 22 --trace 0

Builds the session several times (``setup_s``), checks every query's
output against ``reference.json`` in an untimed first pass, then runs
as many closed-loop passes of the workload's queries as fill about
``--seconds`` on a 4-core host. Each query's time is its median over
the timed passes.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced passes with passes on an event-logged session whose jobs are
tagged ``<query>:<phase>`` and reports the per-layer split. The last
stdout line is one JSON object; the full record (host fingerprint, one
row per query execution) is written to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
REFERENCE = os.path.join(HERE, "reference.json")
SETUPS = 5
# The JIT the measured JVM runs with. Under the default tiered JIT a
# query was still getting faster after 20 executions in one JVM, and
# where a run stopped on that slope varied from run to run by up to 1.7x.
# The client compiler alone, compiling early, reaches a plateau from a
# query's second execution. Alone it defaults to a 48 MB code cache,
# which a plain session fills; 240 MB is the tiered default. get_spark
# sets its own code cache size, which takes precedence.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.05 -XX:ReservedCodeCacheSize=240m"
)
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def now() -> float:
    return time.perf_counter()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; let Python workers
    import the package from the checkout."""
    for sub in ("tmp", "local", "warehouse", "eventlog", "out"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {JVM_OPTIONS}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false"
        f" --conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"
        " pyspark-shell"
    )


class Session:
    """Builds and tears down the workload's session kind in one JVM."""

    def __init__(self, kind: str, work: str):
        self.kind = kind
        self.work = work
        self.spark = None

    def build(self, traced: bool):
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        from tscan_spark.session import get_spark, tune

        if self.spark is not None:
            self.spark.stop()
        jvm = SparkContext._jvm
        if jvm is not None:
            # a context built in a running JVM reads spark.* system
            # properties, so tracing needs no change to the builders
            for k, v in EVENTLOG_CONF.items():
                if traced:
                    jvm.System.setProperty(k, v)
                else:
                    jvm.System.clearProperty(k)
            if traced:
                jvm.System.setProperty(
                    "spark.eventLog.dir", "file://" + os.path.join(self.work, "eventlog")
                )
        master = f"local[{nproc()}]"
        if self.kind == "get_spark":
            self.spark = get_spark(app_name="tscan_spark_perfbench", master=master)
        else:
            builder = SparkSession.builder.master(master).appName("tscan_spark_job")
            self.spark = tune(builder.getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def shutdown(self) -> None:
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def next_job_id(spark) -> int:
    v = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(v.get() if hasattr(v, "get") else v)


def persistent_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def set_phase(spark, tag: str | None) -> None:
    sc = spark.sparkContext
    if tag is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(tag, tag)


def warm_up(spark, data_dir: str) -> None:
    from tscan_spark import corpus

    corpus.load(spark, data_dir, "documents").write.format("noop").mode("overwrite").save()


def setup(session: Session, data_dir: str) -> list[dict]:
    rows = []
    for _ in range(SETUPS):
        t0 = now()
        spark = session.build(traced=False)
        t1 = now()
        warm_up(spark, data_dir)
        rows.append({"build_s": t1 - t0, "warmup_s": now() - t1})
    return rows


def sink(df, wl, out_dir: str, name: str) -> int | None:
    if wl.sink == "noop":
        df.write.format("noop").mode("overwrite").save()
        return None
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"rows_{name}")
    df.observe(obs, F.count(F.lit(1)).alias("rows_out")).write.mode("overwrite").parquet(
        os.path.join(out_dir, name)
    )
    return int(obs.get["rows_out"])


def describe(exc: Exception) -> str:
    first = str(exc).splitlines()[0][:300] if str(exc) else ""
    return f"{type(exc).__name__}: {first}"


def run_query(spark, wl, name: str, data_dir: str, out_dir: str, traced: bool) -> dict:
    from tscan_spark.cache import release_caches
    from tscan_spark.registry import QUERIES

    row = {"query": name}
    df = None
    held = persistent_rdds(spark)
    marks = [now()]
    jobs = [next_job_id(spark)]
    try:
        for phase in ("build", "plan", "exec"):
            if traced:
                set_phase(spark, f"{name}:{phase}")
            if phase == "build":
                df = QUERIES[name](spark, data_dir)
            elif phase == "plan":
                df._jdf.queryExecution().executedPlan()
            else:
                row["rows_out"] = sink(df, wl, out_dir, name)
            marks.append(now())
            jobs.append(next_job_id(spark))
        release_caches(df)
        spark.catalog.clearCache()
    except Exception as exc:  # a failing query is counted, not fatal
        row["error"] = describe(exc)
    finally:
        if traced:
            set_phase(spark, None)
    row["wall_s"] = now() - marks[0]
    for i, phase in enumerate(("construct", "plan", "exec")[: len(marks) - 1]):
        row[f"{phase}_s"] = marks[i + 1] - marks[i]
    row["job_ids"] = jobs
    row["leaked_rdds"] = persistent_rdds(spark) - held
    return row


def run_pass(spark, wl, order, data_dir, out_dir, traced, app) -> dict:
    t0 = now()
    rows = [run_query(spark, wl, name, data_dir, out_dir, traced) for name in order]
    return {"traced": traced, "app": app, "wall_s": now() - t0, "queries": rows}


def check_pass(spark, wl, order, data_dir, out_dir, reference: dict) -> dict:
    """First, untimed execution of every query: compare its schema and
    content hash with the reference. It also pays the JVM's JIT and
    codegen warm-up before the timed passes. A ``noop`` query's one
    execution here is the hash; a ``parquet`` query is written, then
    read back and hashed."""
    from tscan_spark.cache import release_caches
    from tscan_spark.registry import QUERIES

    from perfbench.outputs import content_hash, schema_string

    verdicts = {}
    for name in order:
        want = reference.get(wl.name, {}).get(name)
        try:
            df = QUERIES[name](spark, data_dir)
            rows_out, got = None, df
            if wl.sink == "parquet":
                rows_out = sink(df, wl, out_dir, name)
                got = spark.read.parquet(os.path.join(out_dir, name))
            got_schema, got_hash = schema_string(got), content_hash(got)
            release_caches(df)
            spark.catalog.clearCache()
        except Exception as exc:
            verdicts[name] = f"ERR {describe(exc)}"
            continue
        if want is None:
            verdicts[name] = "no reference"
        elif got_schema != want["schema"]:
            verdicts[name] = f"SCHEMA {got_schema}"
        elif got_hash != want["hash"]:
            verdicts[name] = f"HASH {got_hash}"
        elif rows_out is not None and str(rows_out) != got_hash.split(":")[0]:
            verdicts[name] = f"OBSERVED ROWS {rows_out}"
        else:
            verdicts[name] = "OK"
    return verdicts


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    total = 0
    for pid in (SparkContext._gateway.proc.pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def output_bytes(out_dir: str) -> int:
    total = 0
    for root, _, files in os.walk(out_dir):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.startswith("part-") and not f.endswith(".crc")
        )
    return total


def git_commit() -> str | None:
    """The checkout's commit, or None outside a git checkout."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def fingerprint(spark, seed: int, input_info: dict) -> dict:
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_gib": round(mem_kb / 1024**2, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "jvm_options": JVM_OPTIONS,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "inputs": input_info,
        "git_commit": git_commit(),
        "seed": seed,
    }


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS, pass_order

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tscan_spark", "__init__.py")):
        print("perfbench: no tscan_spark package next to perfbench/", file=sys.stderr)
        return 2
    started = now()
    wl = WORKLOADS[args.workload]
    work = os.path.join(WORK, f"{wl.name}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from perfbench import inputs, layers, metrics

    data_dir = os.path.join(work, "data")
    out_dir = os.path.join(work, "out")
    input_info = inputs.make_inputs(data_dir, args.seed, wl.copies, wl.tables)
    # the seed orders the queries of every pass, a new order each pass
    rng = random.Random(args.seed)

    with open(REFERENCE) as f:
        reference = json.load(f)

    session = Session(wl.session, work)
    timing = {"prepare_s": now() - started}
    try:
        t0 = now()
        setups = setup(session, data_dir)
        timing["setup_s"] = now() - t0
        spark = session.spark
        record = {"workload": wl.name, "host": fingerprint(spark, args.seed, input_info)}
        t0 = now()
        check_order = rng.sample(wl.queries, len(wl.queries))
        verdicts = check_pass(spark, wl, check_order, data_dir, out_dir, reference)
        timing["check_s"] = now() - t0
        traced_now = [False]

        def one(i: int) -> dict:
            traced = args.trace == 1 and i % 2 == 1
            if traced != traced_now[0]:
                session.build(traced=traced)
                warm_up(session.spark, data_dir)
                traced_now[0] = traced
            app = session.spark.sparkContext.applicationId
            order = pass_order(rng, wl.queries)
            return run_pass(session.spark, wl, order, data_dir, out_dir, traced, app)

        # A fixed number of passes, not a deadline: a faster build must
        # not be rewarded with more samples than its parent got.
        n_passes = max(2 if args.trace else 1, round(args.seconds / wl.pass_s))
        t0 = now()
        passes = [one(i) for i in range(n_passes)]
        timing["measure_s"] = now() - t0
        spark = session.spark
        prefixes = {}
        if args.trace and wl.name == "doc_ladder":
            prefixes = layers.flagship_prefixes(spark, data_dir, set_phase)
        rss = peak_rss_mb()
        shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        written = output_bytes(out_dir)
    finally:
        t0 = now()
        session.shutdown()
        timing["teardown_s"] = now() - t0

    attempted = sum(len(p["queries"]) for p in passes)
    failed = sum(
        1 for p in passes for r in p["queries"] if "error" in r or verdicts.get(r["query"]) != "OK"
    )
    summary = layers.end_to_end(passes, setups, input_info)
    summary.update(failed_ratio=failed / attempted, output_bytes=written, peak_rss_mb=rss)
    if args.trace:
        values = layers.per_layer(
            passes, setups, os.path.join(work, "eventlog"), prefixes, shuffle_partitions
        )
        values.update({k: summary[k] for k in ("failed_ratio", "output_bytes", "peak_rss_mb")})
        schema = metrics.PER_LAYER
    else:
        values, schema = summary, metrics.END_TO_END
    block = metrics.metric_block({k: values[k] for k in schema}, schema)

    record.update(
        timing=timing,
        setups=setups,
        passes=passes,
        checks=verdicts,
        summary=summary,
        metrics=block,
        trace=args.trace,
    )
    with open(os.path.join(WORK, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, v in sorted({**summary, **values}.items()):
        unit = (metrics.END_TO_END.get(name) or metrics.PER_LAYER.get(name) or ("",))[0]
        print(f"# {wl.name} {name} = {v:.6g} {unit}")
    problems = [f"{name}: {v}" for name, v in verdicts.items() if v != "OK"]
    if args.trace:
        problems += layers.trace_problems(values)
        if not values["trace.span_cover_min"] >= layers.MIN_SPAN_COVER:
            print(
                f"# note: construct + plan + Spark jobs cover only"
                f" {values['trace.span_cover_min']:.3f} of a query's wall time;"
                " exec.driver_s is the action's time with no job running"
            )
    for problem in problems:
        print(f"# check failed: {problem}")
    correct = failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": block}))
    return 0


if __name__ == "__main__":
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    sys.path.insert(0, ROOT)
    sys.exit(main())
