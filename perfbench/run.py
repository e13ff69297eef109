#!/usr/bin/env python3
"""Benchmark of the beats_spark pipeline: one workload, one seed.

    python3 perfbench/run.py --workload fanout_write --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run generates its input from the
seed (cached under ``.perfbench/cache``), starts Spark in this process
pinned to ``local[nproc]`` with a fixed driver heap, times the
workload's job, checks every pass's output, stops Spark and waits for
its JVM to exit, and prints each metric by name with its unit. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — with ``--trace 0`` the
end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its
per-layer metrics (the spans go to a trace file).

A run: the cold pass (its end gives ``setup_s``), warm-up passes for
``WARMUP_S`` of job time, then measured passes, at least two, for
``--seconds`` of job time; the fan-out then checks its in-memory route
tally and reruns with ``resume=True``. With ``--trace 1`` measured
passes alternate untraced / traced and the plan-prefix passes, layer
counts and the ``local[1]`` tally follow. Every attempted pass counts:
there is no retry, no best-of-N and no host probe. Workloads, the
layers each loads and bypasses, and the layer-to-end-to-end
predictions are in ``perfbench/SPEC.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

#: input size per workload: rows of the transcripts table, or events
#: of the access logs
SIZES = {
    "fanout_write": 250_000,
    "route_tally": 500_000,
    "ingest_access": 300_000,
    "ingest_multiline": 300_000,
}
GENERATORS = {
    "fanout_write": "transcripts",
    "route_tally": "transcripts",
    "ingest_access": "access",
    "ingest_multiline": "access_multiline",
}
HEAP = "3g"
#: job time spent on warm-up passes after the cold pass (at least one)
WARMUP_S = 4.0
#: no optional pass starts once a run is this old, so that a slow host
#: still ends the run well inside 180 s
SOFT_DEADLINE_S = 140.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- the Spark part of a run ---------------------------------------------


def pin_host(work: str, cores: int) -> None:
    """Environment of the JVM this process launches: Spark scratch and
    every temp file under the checkout, the pinned heap, and this
    Python for the Python workers."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # no perf-data file in the system temp dir, and the JVM's own
        # temp files (native libraries) under the checkout
        JAVA_TOOL_OPTIONS=f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip(),
        SPARK_GRAFT_CPUS=str(cores),
        BEATS_SPARK_DRIVER_MEM=HEAP,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
    )


def session(name: str, cores: int, work: str):
    from beats_spark.session import build_session

    return build_session(
        name,
        cores=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the JVM ends when
    its stdin, a pipe from this process, closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Runner:
    """Attempts passes, checks them, and keeps the record of each."""

    def __init__(self, wl, work: str, t_start: float):
        self.wl = wl
        self.out_root = os.path.join(work, "out")
        self.t_start = t_start
        self.passes: list[dict] = []
        self.last_out: str | None = None

    def late(self) -> bool:
        return time.monotonic() - self.t_start > SOFT_DEADLINE_S

    def attempt(self, kind: str, job, check) -> dict:
        rec = {"kind": kind}
        t0 = time.monotonic()
        try:
            result = job()
            rec["end"] = time.monotonic()
            problems = check(result)
        except Exception as e:  # noqa: BLE001 - every failure is recorded as a failed pass
            rec.setdefault("end", time.monotonic())
            result, problems = None, [f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:400]}"]
        rec["elapsed"] = rec["end"] - t0
        rec["ok"] = not problems
        if problems:
            rec["problems"] = problems[:5]
            print(f"perfbench: {kind} pass failed: {problems[0][:400]}", file=sys.stderr)
        rec["result"] = result
        self.passes.append(rec)
        return rec

    def job_pass(self, kind: str, tracer=None) -> dict:
        """One checked pass of the workload's job into a fresh output
        directory, inside a ``job`` span when a tracer is given."""
        from workloads import fresh_dir

        out = fresh_dir(os.path.join(self.out_root, f"{self.wl.name}-{len(self.passes)}"))
        job = lambda: self.wl.job(out)  # noqa: E731
        if tracer is not None:
            job = lambda: tracer_run(tracer, "job", lambda: self.wl.job(out))  # noqa: E731
        rec = self.attempt(kind, job, lambda r: self.wl.check(r, out))
        if self.last_out:
            fresh_dir(self.last_out)
        self.last_out = out
        return rec


def tracer_run(tracer, name, fn, **attrs):
    with tracer.span(name, **attrs):
        return fn()


def warm_passes(runner: Runner, seconds: float, tracer=None) -> None:
    """Warm-up passes until their summed job time reaches ``WARMUP_S``
    (JIT and caches still settle after the cold pass), then measured
    passes, at least two, until theirs reaches ``seconds``. With a
    tracer, measured passes alternate untraced / traced."""
    spent = 0.0
    while spent < WARMUP_S:
        spent += runner.job_pass("warmup")["elapsed"]
    spent, i = 0.0, 0
    while (spent < seconds or i < 2) and not (i >= 2 and runner.late()):
        traced = tracer is not None and i % 2 == 1
        rec = runner.job_pass("traced" if traced else "warm", tracer if traced else None)
        spent += rec["elapsed"]
        i += 1


def fanout_extras(runner: Runner, tracer=None) -> None:
    """Cross-check the in-memory route tally against the oracle, then
    rerun with resume=True over the last committed root."""
    from contextlib import nullcontext

    from beats_spark.operators.manifest import read_done_parts
    from workloads import check_tally

    wl, out = runner.wl, runner.last_out
    last = runner.passes[-1]
    runner.attempt("tally_check", wl.tally_rows, lambda r: check_tally(r, wl.expected))
    if not last["ok"]:
        return
    parts = wl.last_stats["parts"]

    def resume():
        with tracer.span("pipeline.resume") if tracer else nullcontext():
            return wl.resume(out)

    runner.attempt(
        "resume",
        resume,
        lambda r: [] if (r.events_total, r.skipped_parts) == (0, parts)
        else [f"resume reran {r.events_total} rows, skipped {r.skipped_parts} of {parts} parts"],
    )
    if tracer:
        for _ in range(2):
            with tracer.span("manifest.read"):
                read_done_parts(wl.spark, out)


def trace_layers(runner: Runner, tracer, steps, rounds: int) -> None:
    """Plan-prefix passes, in order, for a warm-up round and then
    ``rounds`` recorded rounds; a new plan shape compiles its code on
    first use."""
    for r in range(rounds + 1):
        if r > 1 and runner.late():
            break
        for name, fn in steps:
            runner.attempt(name, lambda: tracer_run(tracer, name, fn, warmup=r == 0), lambda res: [])


def layer_steps(runner: Runner, ml_input: str | None) -> list:
    """The traced run's prefix steps: the workload's plan prefixes to
    the noop sink, the fan-out's bare write, and the multiline layer
    alone over ``ml_input``."""
    from workloads import fresh_dir, multiline_steps, noop

    wl = runner.wl
    steps = [(name, lambda b=build: noop(b())) for name, build in wl.trace_prefixes()]
    if wl.name == "fanout_write":
        from beats_spark.operators.router import write_fanout

        root = os.path.join(runner.out_root, "bare-write")
        steps.append(("router.write", lambda: write_fanout(wl.routed(), fresh_dir(root))))
    if ml_input:
        steps += [(name, lambda b=build: noop(b())) for name, build in multiline_steps(wl.spark, ml_input)]
    return steps


def counted(runner: Runner, kind: str, count, check) -> dict:
    rec = runner.attempt(kind, count, check)
    return rec["result"] or {}


def tally_layer(runner: Runner, tracer, cores_1_session) -> None:
    """Time the in-memory route tally twice at local[nproc], then
    restart the session at local[1] (same JVM) and time it again after
    one warm-up: the metrics layer and scaling_eff."""
    from workloads import check_tally

    wl = runner.wl
    check = lambda r: check_tally(r, wl.expected)  # noqa: E731
    for _ in range(2):
        runner.attempt("metrics.tally", lambda: tracer_run(tracer, "metrics.tally", wl.tally_rows), check)
    wl.spark.stop()
    spark1 = cores_1_session()
    tracer.rebind(spark1)
    runner.wl = wl1 = type(wl)(spark1, wl.input, wl.expected)
    for r in range(3):
        runner.attempt("tally.local1", lambda: tracer_run(tracer, "tally.local1", wl1.tally_rows, warmup=r == 0),
                       check)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def measure(args, ctx: dict, t_start: float) -> dict:
    """The Spark part of a run: returns every attempted pass with its
    outcome, setup_s and, with ``--trace 1``, the spans and counts."""
    t0 = time.monotonic()
    spark = session(f"perfbench-{args.workload}", ctx["cores"], ctx["work"])
    out = {"session_start_s": time.monotonic() - t0, "spark_version": spark.version}
    runner = None
    try:
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](spark, ctx["input"], ctx["expected"])
        runner = Runner(wl, ctx["work"], t_start)
        out["setup_s"] = runner.job_pass("cold")["end"] - t0
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, f"{args.workload}-s{args.seed}-{os.getpid()}")
        warm_passes(runner, args.seconds, tracer)
        if wl.name == "fanout_write":
            fanout_extras(runner, tracer)
        if tracer is not None:
            trace(args, ctx, runner, tracer, out)
    finally:
        out["passes"] = [
            {k: v for k, v in p.items() if k not in ("result", "end")}
            | ({"stats": p["result"]} if isinstance(p.get("result"), dict) else {})
            for p in (runner.passes if runner else [])
        ]
        stop_session(runner.wl.spark if runner else spark)
    return out


def trace(args, ctx: dict, runner: Runner, tracer, out: dict) -> None:
    from tracing import stage_totals
    from workloads import check_multiline_counts, multiline_counts

    wl, spark = runner.wl, runner.wl.spark
    trace_layers(runner, tracer, layer_steps(runner, ctx.get("ml_input")), rounds=2)
    if hasattr(wl, "layer_counts"):
        out["layer_counts"] = counted(runner, "layer_counts", wl.layer_counts, wl.check_layer_counts)
    if ctx.get("ml_input"):
        out["multiline_counts"] = counted(
            runner, "multiline_counts", lambda: multiline_counts(spark, ctx["ml_input"]),
            lambda r: check_multiline_counts(r, ctx["ml_expected"]),
        )
    out["fanout_stats"] = getattr(wl, "last_stats", {})
    out["spark_totals"] = stage_totals(spark)
    out["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    if hasattr(wl, "tally_rows"):
        tally_layer(runner, tracer, lambda: session(f"perfbench-{args.workload}-1core", 1, ctx["work"]))
    out["spans"] = tracer.summary()
    tracer.dump(ctx["trace_file"], {"workload": args.workload, "seed": args.seed, "cores": ctx["cores"],
                                    "heap": HEAP, "spark": out["spark_version"]})


# -- metrics --------------------------------------------------------------


def warm_times(res: dict) -> list[float]:
    """Job times of the measured, untraced, passing warm passes."""
    return [p["elapsed"] for p in res["passes"] if p["kind"] == "warm" and p["ok"]]


def end_to_end(rows: int, res: dict) -> dict:
    warm = warm_times(res)
    return {"events_per_s": rows / median(warm) if warm else 0.0, "setup_s": res["setup_s"]}


def span_s(spans: dict, name: str) -> float:
    return median(spans.get(name, {}).get("s", []))


def span_counter(spans: dict, name: str, counter: str) -> float:
    return median([c[counter] for c in spans.get(name, {}).get("counters", [])])


def per_layer(workload: str, rows: int, expected: dict, res: dict, cores: int, attempted: int, failed: int) -> dict:
    """Per-layer metrics from one traced run. A layer the run does not
    load reads 0."""
    sp = res["spans"]
    passes = res["passes"]
    m = dict.fromkeys(
        [
            "actions.dissect_s", "actions.dissect_fail_frac", "enrich.lookup_s", "enrich.miss_frac",
            "selector.route_s", "selector.default_frac", "metrics.tally_s",
            "router.row_hash_s", "router.sort_s", "router.write_s", "router.shuffle_bytes",
            "router.files_written", "router.bucket_skew", "pipeline.commit_s", "manifest.read_s",
            "resume_s", "ingest.apply_s", "ingest.failure_frac", "ingest.input_read_ratio",
            "multiline.combine_s", "multiline.groups", "multiline.lines_per_event", "scaling_eff",
        ],
        0.0,
    )

    def self_s(name: str, prev: str | None) -> float:
        """Self time of a prefix: its median less the previous
        prefix's; 0 when its span never completed."""
        if name not in sp:
            return 0.0
        return span_s(sp, name) - (span_s(sp, prev) if prev else 0.0)

    m["sources.scan_s"] = span_s(sp, "sources.scan")
    # the status store's input bytes undercount parquet scans (footers
    # only), so the source size is the bytes of the input files
    m["sources.input_bytes"] = expected["input_bytes"]
    if GENERATORS[workload] == "transcripts":
        lc = res.get("layer_counts") or {}
        n = lc.get("rows") or 1
        m["actions.dissect_s"] = self_s("actions.dissect", "sources.scan")
        m["enrich.lookup_s"] = self_s("enrich.lookup", "actions.dissect")
        m["selector.route_s"] = self_s("selector.route", "enrich.lookup")
        m["actions.dissect_fail_frac"] = lc.get("dissect_failures", 0) / n
        m["enrich.miss_frac"] = lc.get("lookup_misses", 0) / n
        m["selector.default_frac"] = lc.get("default_rows", 0) / n
        m["metrics.tally_s"] = self_s("metrics.tally", "metrics.tally_input")
        one, many = span_s(sp, "tally.local1"), span_s(sp, "metrics.tally")
        if one and many:
            m["scaling_eff"] = one / (cores * many)
    if workload == "fanout_write":
        fs = res.get("fanout_stats") or {}
        m["router.row_hash_s"] = self_s("router.row_hash", "selector.route")
        m["router.sort_s"] = self_s("router.sort", "router.row_hash")
        m["router.write_s"] = self_s("router.write", "router.sort")
        m["pipeline.commit_s"] = self_s("job", "router.write")
        m["router.shuffle_bytes"] = span_counter(sp, "job", "shuffle_write_bytes")
        m["router.files_written"] = fs.get("files_written", 0)
        m["router.bucket_skew"] = fs.get("bucket_skew", 0.0)
        m["manifest.read_s"] = span_s(sp, "manifest.read")
        m["resume_s"] = span_s(sp, "pipeline.resume")
    if GENERATORS[workload].startswith("access"):
        m["ingest.apply_s"] = self_s("ingest.apply", "ingest.events")
        stats = [p["stats"] for p in passes if p["kind"] in ("warm", "traced") and p["ok"] and "stats" in p]
        if stats:
            m["ingest.failure_frac"] = stats[-1]["errors"] / stats[-1]["rows"]
        m["ingest.input_read_ratio"] = span_counter(sp, "job", "input_bytes") / expected["input_bytes"]
        # the multiline layer alone, over the multiline variant of the
        # input (module_ingest_job's own multiline path fails at the
        # commit that added the benchmark; see SPEC.json)
        m["multiline.combine_s"] = self_s("multiline.combine", "multiline.lines")
        mc = res.get("multiline_counts") or {}
        if mc.get("events"):
            m["multiline.groups"] = mc["groups"]
            m["multiline.lines_per_event"] = mc["lines"] / mc["events"]
    m["session.start_s"] = res["session_start_s"]
    m["session.jvm_peak_rss_mb"] = res["jvm_peak_rss_mb"]
    jobs = sp.get("job", {})
    task_s = [c["task_ms"] / 1000 for c in jobs.get("counters", [])]
    m["spark.task_s"] = median(task_s)
    m["spark.gc_s"] = median([c["gc_ms"] / 1000 for c in jobs.get("counters", [])])
    m["spark.core_util"] = median([t / (d * cores) for t, d in zip(task_s, jobs.get("s", [])) if d > 0])
    m["spark.failed_tasks"] = res["spark_totals"]["failed_tasks"]
    m["failed_frac"] = failed / attempted
    untraced = warm_times(res)
    traced = [p["elapsed"] for p in passes if p["kind"] == "traced" and p["ok"]]
    m["trace.overhead_events_per_s"] = (
        rows / median(traced) - rows / median(untraced) if traced and untraced else 0.0
    )
    return m


def declared(root: str, trace: bool) -> list[dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    root = os.getcwd()
    missing = [p for p in ("beats_spark", "jobs/parse_route_job.py", "jobs/module_ingest_job.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    metrics_spec = declared(root, bool(args.trace))

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench")
    cache = os.path.join(work, "cache")
    kind, size = GENERATORS[args.workload], SIZES[args.workload]
    n_files = 8 if kind == "transcripts" else 4 * cores
    input_dir, expected = gen.ensure_input(cache, kind, args.seed, size, n_files)
    ctx = {
        "work": work,
        "input": input_dir,
        "expected": expected,
        "trace_file": os.path.join(work, f"trace-{args.workload}-s{args.seed}.jsonl"),
        "cores": cores,
    }
    if args.trace and kind.startswith("access"):
        ctx["ml_input"], ctx["ml_expected"] = gen.ensure_input(cache, "access_multiline", args.seed, size, n_files)
    rows = expected["lines"] if kind.startswith("access") else expected["rows"]
    pin_host(work, cores)

    # the JVM inherits standard output: send it to standard error until
    # the JVM has exited, so that the result line is the last line
    sys.stdout.flush()
    stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        res = measure(args, ctx, t_start)
    except Exception as e:  # noqa: BLE001 - no result line without a run
        print(f"perfbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(stdout, 1)
        os.close(stdout)
        for d in ("out", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    passes = res["passes"]
    attempted, failed = len(passes), sum(not p["ok"] for p in passes)
    host = {
        "workload": args.workload, "seed": args.seed, "input_rows": rows, "input_bytes": expected["input_bytes"],
        "cores": cores, "master": f"local[{cores}]", "heap": HEAP, "spark": res["spark_version"],
        "warm_passes": len(warm_times(res)), "wall_s": round(time.monotonic() - t_start, 1),
    }
    if args.trace:
        values = per_layer(args.workload, rows, expected, res, cores, attempted, failed)
        host["trace_file"] = os.path.relpath(ctx["trace_file"], root)
    else:
        values = end_to_end(rows, res)
    print("perfbench passes " + " ".join(f"{p['kind']}:{p['elapsed']:.2f}" for p in passes), file=sys.stderr)
    for p in passes:
        if not p["ok"]:
            print(f"perfbench: failed {p['kind']} pass: {p['problems'][0][:300]}")
    print("perfbench host " + json.dumps(host))
    metrics = {}
    for spec in metrics_spec:
        name = spec["name"]
        metrics[name] = {"value": float(values[name]), "unit": spec["unit"]}
        print(f"perfbench {name} = {values[name]:.6g} {spec['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
