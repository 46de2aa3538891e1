#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload train_feed --seed 1 --seconds 1 --trace 0

Run from the root of a checkout; the package is imported from there.
Inputs are generated from ``--seed`` (cached in ``perfbench/.cache``),
checked against DuckDB references, and every artifact of the run
(Spark scratch, stream checkpoints, the full result with spans) stays
under ``perfbench/``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics of every layer (both batch
workloads' calls and the four stream queries, each once under spans)
and records the traced workload's own throughput, so tracing overhead
can be read off.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the full record goes to ``perfbench/.results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
WORKLOADS = ("train_feed", "corpus_curation")
SETUPS = 3  # set-ups per run; setup_s is their median


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it: it
    exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """State of one benchmark run: session, inputs, counts, record."""

    def __init__(self, args, run_id: str, work: str):
        self.args = args
        self.run_id = run_id
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.record: dict = {"run_id": run_id, "workload": args.workload,
                             "seed": args.seed, "seconds": args.seconds,
                             "trace": args.trace}
        self.spark = None
        self.tables: dict = {}

    def op(self, problems: list[str], what: str) -> None:
        """Count one checked operation; ``problems`` empty means correct."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.extend(f"{what}: {p}" for p in problems)

    # ------------------------------------------------------------ set-up

    def session(self):
        from hybridbackend_spark.session import get_session

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        # a deployment path only: Spark's scratch stays in the run dir
        spark = get_session(app_name="perfbench", master=f"local[{os.cpu_count()}]",
                            extra_conf={"spark.local.dir": local})
        spark.range(1).count()  # first trivial job
        return spark

    def register(self, spark, inputs: dict) -> dict:
        """Register the workloads' input tables as temp views."""
        from workloads import TABLES

        tables = {}
        for w, (d, _props) in inputs.items():
            if w in TABLES:
                tables[w] = TABLES[w](spark, d)
                for name, df in tables[w].items():
                    if name != "dir":
                        df.createOrReplaceTempView(f"{w}_{name}")
        return tables

    def setup(self, inputs: dict, excluded_s: float):
        """First set-up (JVM launch included, from process start) and, in
        an untraced run, SETUPS - 1 more in the same JVM; setup_s is the
        median. A traced run reports no setup_s and keeps its time."""
        self.spark = self.session()
        self.tables = self.register(self.spark, inputs)
        times = [process_age_s() - excluded_s]
        for _ in range(0 if self.args.trace else SETUPS - 1):
            self.spark.stop()
            t = time.perf_counter()
            self.spark = self.session()
            self.tables = self.register(self.spark, inputs)
            times.append(time.perf_counter() - t)
        self.record["setup_samples_s"] = times
        return statistics.median(times)

    # ---------------------------------------------------------- workloads

    def batch_passes(self, workload: str, ref, check) -> list[float]:
        """Closed loop, one client: passes back to back from the first,
        cold one (the JVM is fresh, so it pays code generation and JIT as
        a batch job does) until the run's seconds have passed. Each pass
        is checked after its timing."""
        from workloads import run_pass

        tables = self.tables[workload]
        first = None
        times: list[float] = []
        deadline = time.perf_counter() + self.args.seconds
        while not times or time.perf_counter() < deadline:
            t = time.perf_counter()
            out = run_pass(self.spark, workload, tables)
            times.append(time.perf_counter() - t)
            self.op(check(ref, out, first), f"{workload} pass {len(times) - 1}")
            first = first or out
        return times

    def stream(self, d: str, props: dict, listener) -> dict:
        """Run the four stream queries over the stream inputs, then check
        each stream result against the batch result over the same files."""
        import reference
        import stream

        work = os.path.join(self.work, "stream")
        spark = self.spark
        spark.streams.addListener(listener)
        try:
            res = stream.run(spark, d, work, props, props["files"])
        finally:
            spark.streams.removeListener(listener)
        self.op([] if res["committed"] >= res["files"] else
                [f"{res['committed']} of {res['files']} files committed"],
                "stream drain")

        con = reference.connect(os.cpu_count())
        try:
            for what, problems in stream.check(spark, work, con).items():
                self.op(problems, what)
        finally:
            con.close()
        res["state_bytes"] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(os.path.join(work, "dedup_state")) for f in fs)
        for name in stream.QUERIES[:3]:  # the memory sinks
            spark.catalog.dropTempView(name)
        shutil.rmtree(work, ignore_errors=True)
        return res


def references(inputs: dict, workload: str) -> tuple:
    """The workload's DuckDB reference and its check. A reference depends
    only on the inputs, so it is cached beside them."""
    import reference

    d = inputs[workload][0]
    path = os.path.join(d, "reference.json")
    if workload == "train_feed":
        build, check = reference.train_feed, reference.check_train_feed
    else:
        build, check = reference.corpus, reference.check_corpus
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
        return ({k: [tuple(r) for r in v] if isinstance(v, list) else v
                 for k, v in ref.items()}, check)
    con = reference.connect(os.cpu_count())
    try:
        ref = build(con, d)
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref, check


def end_to_end(run: Run, inputs: dict, setup_s: float) -> dict:
    import record
    import workloads

    w = run.args.workload
    t = time.perf_counter()
    ref, check = references(inputs, w)
    run.record["reference_s"] = time.perf_counter() - t
    passes = run.batch_passes(w, ref, check)
    run.record["pass_s"] = passes
    # recorded, not a metric: with the default 48g driver heap the JVM
    # grows its heap on GC timing, and the peak moved by ~17% between
    # runs of the same code
    run.record["peak_rss_mb"] = (record.rss_peak_mb(record.jvm_pid())
                                 + record.rss_peak_mb(os.getpid()))
    rows = inputs[w][1][workloads.INPUT_ROWS[w]]
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / statistics.median(passes), "rows/s"),
    }


UNITS = {"build_s": "s", "run_s": "s", "driver_s": "s", "executor_cpu_s": "s",
         "first_batch_s": "s", "add_batch_s": "s", "commit_s": "s",
         "build_jobs": "count", "jobs": "count", "shuffle_mb": "MiB",
         "state_mb": "MiB"}


def per_layer(run: Run, inputs: dict) -> dict:
    """Every layer once under spans: the traced workload's calls first,
    from the same cold start as an untraced pass, then the other
    workload's, then the four stream queries. The traced workload's rows
    over the wall time of its traced calls (input persists included) is
    ``traced_rows_per_s``, the tracing-overhead figure."""
    import stream
    import tracing
    import workloads

    tracer = tracing.Tracer(run.spark, run.run_id)
    w = run.args.workload
    out = {}
    with tracer.span("per_layer") as root:
        for name in sorted(WORKLOADS, key=lambda n: n != w):
            t = time.perf_counter()
            env = dict(run.tables[name])
            out.update(tracing.trace_steps(tracer, run.spark, workloads.STEPS[name],
                                           env, root["id"]))
            if name == w:
                run.record["traced_pass_s"] = time.perf_counter() - t
                ref, check = references(inputs, name)
                run.op(check(ref, workloads.CONSUME[name](env), None), f"{name} traced")
            run.spark.catalog.clearCache()
        with tracer.span("stream", root["id"]):
            listener = tracing.ProgressListener()
            d, props = inputs["stream"]
            res = run.stream(d, props, listener)
        for q in stream.QUERIES:
            state = res["state_bytes"] if q == "minhash_dedup_batch_apply" else None
            out.update({f"{stream.LAYER[q]}.{k}": v
                        for k, v in listener.measures(q, state).items()})
    run.record["traced_rows_per_s"] = (inputs[w][1][workloads.INPUT_ROWS[w]]
                                       / run.record["traced_pass_s"])
    run.record["spans"] = tracer.spans
    return {k: (v, UNITS[k.rsplit(".", 1)[1]]) for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hybridbackend_spark")):
        print(f"perfbench: no hybridbackend_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(WORK, run_id)
    os.makedirs(work)
    # temp files of pyspark and of every JVM it launches stay in the run dir
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"

    import gen
    import record

    run = Run(args, run_id, work)
    try:
        t = time.perf_counter()
        needed = WORKLOADS + ("stream",) if args.trace else (args.workload,)
        inputs, gen_s = {}, {}
        for w in needed:
            t0 = time.perf_counter()
            d, props, hit = gen.generate(w, args.seed)
            inputs[w] = (d, props)
            gen_s[w] = {"s": time.perf_counter() - t0, "cached": hit}
        host_before = record.scan_probe(gen.CACHE)
        setup_s = run.setup(inputs, excluded_s=time.perf_counter() - t)
        run.record.update({
            "inputs": {w: p for w, (_, p) in inputs.items()},
            "sizes": {w: gen.SIZES[w] for w in needed},
            "gen": gen_s,
            "run": record.run_record(run.spark, ROOT),
        })
        if args.trace:
            metrics = per_layer(run, inputs)
        else:
            metrics = end_to_end(run, inputs, setup_s)
        run.record["host"] = {"scan_rows_per_s_before": host_before,
                              "scan_rows_per_s_after": record.scan_probe(gen.CACHE)}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            run.spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    run.record["errors"] = run.errors
    run.record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{run_id}.json"), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    for e in run.errors[:20]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
