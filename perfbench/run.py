"""Benchmark of the engine, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload relational_queries --seed 1 --seconds 4 --trace 0

Workloads: ``relational_queries`` and ``reference_pipeline`` (see
README.md). One run:

1. set-up: process start → ``session.get_spark()`` with engine
   defaults on ``local[<usable cpus>]`` → one trivial job
   (``setup_s`` in CPU seconds, ``setup_wall_s``);
2. inputs: the query workload reads a catalog generated once with a
   fixed seed (the run's seed permutes the query order); the pipeline
   generates its raw inputs from the run's seed;
3. a cold pass (``cold_pass_cpu_s``, ``cold_pass_s``), written to the
   same sinks as the warm passes;
4. warm passes, as many as ``--seconds`` holds at the workload's
   nominal pass time (``pass_cpu_s`` and ``pass_s`` are their
   medians): the query workload first runs one unmeasured pass that
   collects its results for the oracle check. ``op_p50_s`` and
   ``op_tail_s`` are taken over every query, or pipeline step, of the
   warm passes and printed with their sample count, as are
   ``peak_rss_mb`` and ``op_fail_ratio``;
5. the correctness gate, outside every timed region.

CPU seconds are those of this process and its descendants (the JVM
and its Python workers), read from ``/proc``; the JSON line carries
them, and the wall times are printed above it.

``--trace 1`` alternates untraced and traced warm passes, records a
span around each layer call and reports the per-layer metrics instead;
the spans are written to ``.perfbench_work/traces/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when any operation
failed or any output was wrong, 2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from workloads import RELATIONAL, WORKLOADS

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# Wall time of one warm pass on an idle 4-vCPU host. A run measures
# round(--seconds / this) warm passes (at least one): the count
# follows from --seconds, not from the clock, because passes
# keep getting cheaper over the first passes while the JVM compiles
# hot paths and the Python workers warm up (pipeline: 25 → 18 CPU s
# over four passes), so a slow host that fitted fewer passes in the
# same time would report the dearer early passes.
NOMINAL_PASS_S = {"relational_queries": 3.5, "reference_pipeline": 8.0}

# The bounded end-to-end metrics: CPU seconds of this process and its
# descendants (the JVM and its Python workers). They leave out stolen
# time and time spent waiting for a core, which move the wall times of
# identical runs on a shared host (see README.md). The wall times
# (setup_wall_s, cold_pass_s, pass_s), op_p50_s, op_tail_s,
# peak_rss_mb and op_fail_ratio are printed on every run without a
# bound.
END_TO_END = {"setup_s": "s", "cold_pass_cpu_s": "s", "pass_cpu_s": "s"}


def pass_count(workload: str, seconds: float) -> int:
    """Measured warm passes of one run."""
    return max(1, round(seconds / NOMINAL_PASS_S[workload]))


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of a traced run, with its unit."""
    names = ["session.get_spark_s", "plans.build_s", "plans.build_jobs", "plans.exec_s",
             "plans.exec_jobs", "plans.tasks", "plans.failed_tasks"]
    for q in RELATIONAL:
        names += [f"plans.build_s.{q}", f"plans.exec_s.{q}"]
    for st in ("mesh", "pubtator", "pubmed", "merge_filter", "finalize"):
        names += [f"pipeline.{st}_s", f"pipeline.{st}.jobs", f"pipeline.{st}.rows_out"]
    names += ["pipeline.merge_filter.keep_ratio", "operators.llm.classify_s",
              "operators.llm.calls", "operators.llm.items", "operators.llm.retries",
              "operators.llm.service_wait_s", "sources.sinks.release_s",
              "sources.sinks.provenance_s", "sources.bytes_written",
              "sources.write_amplification", "plans.self_s", "operators.self_s",
              "pipeline.self_s", "sources.self_s", "bench.glue_s", "trace.pass_s",
              "trace.overhead_s"]

    def unit(name: str) -> str:
        if name.endswith(("_ratio", "amplification")):
            return "ratio"
        if name == "sources.bytes_written":
            return "B"
        return "s" if name.endswith("_s") or "_s." in name else "count"

    return {n: unit(n) for n in names}


# ---------------------------------------------------------------------------
# process bookkeeping (/proc)
# ---------------------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started."""
    start_ticks = int(_stat_fields("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _parents() -> dict[int, int]:
    """Parent pid of every live process."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent_of[int(d)] = int(_stat_fields(d)[1])
            except (OSError, ValueError, IndexError):
                continue
    return parent_of


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, children first."""
    parent_of = _parents()
    out, frontier = [], [pid]
    while frontier:
        kids = [c for c, p in parent_of.items() if p in frontier]
        out += kids
        frontier = kids
    return out


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus its direct children
    (the driver JVM)."""
    me = os.getpid()
    kids = [c for c, p in _parents().items() if p == me]
    return (_hwm_kb("self") + sum(_hwm_kb(p) for p in kids)) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants (the JVM and its Python workers), including
    children they have reaped."""
    ticks = 0
    for pid in ["self"] + descendants(os.getpid()):
        try:
            ticks += sum(int(x) for x in _stat_fields(pid)[11:15])
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def _running(pid: int) -> bool:
    """False once ``pid`` has exited; a child of ours counts as running
    until it is reaped here."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] != pid
    except ChildProcessError:
        pass
    try:
        return _stat_fields(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and its Python workers and
    wait until every one of them has exited."""
    procs = descendants(os.getpid())
    spark.stop()
    for sig, grace in ((signal.SIGTERM, 60.0), (signal.SIGKILL, 10.0)):
        for pid in procs:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if _running(p)]
            time.sleep(0.1)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it. Below 21 samples that percentile would not
    lie above the median, so the maximum is reported instead."""
    s = sorted(samples)
    if len(s) < 21:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def prepare_env(work: str) -> None:
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [os.getcwd(), BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def ensure_catalog(work: str) -> str:
    """The query workload's tables, generated once per checkout."""
    from catalog_gen import write_tables
    from verify import files_sha256

    data = os.path.join(work, "catalog")
    manifest = os.path.join(data, "MANIFEST.json")
    generator = files_sha256([os.path.join(BENCH_DIR, "catalog_gen.py")])
    parquet = lambda: [os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")]  # noqa: E731
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as f:
            if json.load(f) == {"generator": generator, "sha256": files_sha256(parquet())}:
                return data
    shutil.rmtree(data, ignore_errors=True)
    write_tables(data)
    with open(manifest, "w", encoding="utf-8") as f:
        json.dump({"generator": generator, "sha256": files_sha256(parquet())}, f)
    return data


def with_cpu(run_pass):
    """Run one pass and record the CPU seconds it used."""
    c0 = tree_cpu_s()
    res = run_pass()
    res.cpu_s = tree_cpu_s() - c0
    return res


def measure_warm(run_pass, tracer, n: int, trace: bool) -> list:
    """``n`` measured warm passes. With tracing, untraced and traced
    passes alternate (at least two, so there is one of each)."""
    passes = []
    for i in range(max(n, 2) if trace else n):
        tracer.enabled = trace and i % 2 == 1
        tracer.pass_id = f"warm{i}"
        res = with_cpu(run_pass)
        res.pass_id = tracer.pass_id
        passes.append(res)
        if tracer.enabled:
            tracer.count_jobs()
    tracer.enabled = False
    return passes


def layer_metrics(tracer, traced: list, untraced: list, extra: dict) -> dict[str, float]:
    """Per-layer metrics: medians over the traced warm passes."""
    from spans import duration, self_times, subtree

    per_pass: list[dict[str, float]] = []
    for res in traced:
        spans = [s for s in tracer.spans if s["pass"] == res.pass_id]
        m: dict[str, float] = {}

        def add(key: str, value: float) -> None:
            m[key] = m.get(key, 0.0) + value

        for s in spans:
            name, key = s["name"], s["key"]
            if name in ("plans.build", "plans.exec"):
                kind = name.split(".")[1]
                add(f"plans.{kind}_s", duration(s))
                add(f"plans.{kind}_s.{key}", duration(s))
                add(f"plans.{kind}_jobs", s["jobs"])
                add("plans.tasks", s["tasks"])
                add("plans.failed_tasks", s["failed_tasks"])
            elif name.startswith("pipeline."):
                add(f"{name}_s", duration(s))
                add(f"{name}.jobs", sum(c["jobs"] for c in subtree(tracer.spans, s)))
            elif name in ("operators.llm.classify", "sources.sinks.release", "sources.sinks.provenance"):
                add(f"{name}_s", duration(s))
        for layer, secs in self_times(spans).items():
            add("bench.glue_s" if layer == "bench" else f"{layer}.self_s", secs)
        for k, v in res.llm.items():
            add(f"operators.llm.{k}", v)
        add("trace.pass_s", res.seconds)
        per_pass.append(m)

    units = per_layer_units()
    out = {name: _median([m.get(name, 0.0) for m in per_pass]) for name in units}
    out.update(extra)
    out["trace.overhead_s"] = _median([r.seconds for r in traced]) - _median([r.seconds for r in untraced])
    return out


def run_workload(args, spark, tracer, work: str) -> tuple[dict, dict]:
    """Returns (measurements, report) for one run."""
    from workloads import QueryMix, ReferencePipeline

    failures: list[str] = []
    extra: dict[str, float] = {}
    n = pass_count(args.workload, args.seconds)
    if args.workload == "relational_queries":
        from aurora_mito_etl_spark.plans.queries import ORACLES
        from verify import OracleCache, check_query

        data = ensure_catalog(work)
        oracle = OracleCache(data, os.path.join(work, "oracle"))
        names = RELATIONAL
        for name in names:  # fill the cache before any timing
            oracle.expected(name, ORACLES[name])
        mix = QueryMix(spark, tracer, names, data, args.seed)
        tracer.pass_id = "cold"
        cold = with_cpu(lambda: mix.run_pass()[0])
        tracer.pass_id = "collect"
        collected, results = mix.run_pass(collect=True)
        unmeasured = [collected]

        def warm():
            return mix.run_pass()[0]

        passes = measure_warm(warm, tracer, n, args.trace)
        for name in names:
            if name in results:
                cols, rows = results[name]
                reason = check_query(oracle.expected(name, ORACLES[name]), rows, cols)
                if reason:
                    failures.append(f"{name}: {reason}")
        checks_failed = len(failures)
    else:
        from pipeline_gen import generate
        from verify import check_pipeline

        raw = os.path.join(work, "pipeline", "raw")
        shutil.rmtree(raw, ignore_errors=True)
        truth = generate(raw, args.seed).to_json()
        pipe = ReferencePipeline(spark, tracer, raw, os.path.join(work, "pipeline", "out"))
        tracer.pass_id = "cold"
        cold = with_cpu(pipe.run_pass)
        unmeasured = []
        passes = measure_warm(pipe.run_pass, tracer, n, args.trace)
        rows = pipe.rows_out()
        bad = check_pipeline(spark, truth, pipe.paths, rows)
        failures += [f"{step}: {msg}" for step, msgs in bad.items() for msg in msgs]
        checks_failed = len(bad)
        written = pipe.bytes_written()
        extra = {f"pipeline.{st}.rows_out": float(rows[st])
                 for st in ("mesh", "pubtator", "pubmed", "merge_filter", "finalize")}
        extra["pipeline.merge_filter.keep_ratio"] = rows["merge_filter"] / max(rows["pubmed"], 1)
        extra["sources.bytes_written"] = float(written)
        extra["sources.write_amplification"] = written / truth["raw_bytes"]

    all_passes = [cold] + unmeasured + passes
    for res in all_passes:
        failures += res.failures
    attempted = sum(r.attempted for r in all_passes)
    failed = min(attempted, sum(len(r.failures) for r in all_passes) + checks_failed)
    untraced = [r for r in passes if not r.traced]
    traced = [r for r in passes if r.traced]
    ops = [s for r in untraced for _, s in r.op_s]
    tail_s, tail_pct = tail(ops)
    measured = {"cold_pass_cpu_s": cold.cpu_s, "pass_cpu_s": _median([r.cpu_s for r in untraced])}
    if args.trace:
        measured = layer_metrics(tracer, traced, untraced, extra)
    report = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "cold_pass_s": cold.seconds,
        "pass_times": [r.seconds for r in untraced],
        "pass_cpu": [r.cpu_s for r in untraced],
        "op_p50_s": _median(ops),
        "op_tail_s": tail_s,
        "op_samples": len(ops),
        "tail_pct": tail_pct,
    }
    return measured, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "aurora_mito_etl_spark", "session.py")) or not os.path.isfile(
        os.path.join(root, "tools", "verify_local.py")
    ):
        print("perfbench: run from the repository root (engine package or tools/ missing)", file=sys.stderr)
        return 2
    sys.path[:0] = [root, BENCH_DIR]
    work = os.path.join(root, ".perfbench_work")
    prepare_env(work)

    from aurora_mito_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_wall_s = process_age_s()
    setup_s = tree_cpu_s()
    spark.sparkContext.setLogLevel("ERROR")

    from spans import Tracer

    tracer = Tracer(spark.sparkContext, enabled=False)
    try:
        measured, report = run_workload(args, spark, tracer, work)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    values = dict(measured)
    if args.trace:
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        values["session.get_spark_s"] = get_spark_s
        units = per_layer_units()
    else:
        values["setup_s"] = setup_s
        units = END_TO_END

    times, cpu = report["pass_times"], report["pass_cpu"]
    print(f"workload {args.workload} seed {args.seed}: {len(times)} untraced warm passes, "
          f"wall {' '.join(f'{s:.3f}' for s in times)} s, CPU {' '.join(f'{s:.2f}' for s in cpu)} s")
    for name, unit in units.items():
        print(f"  {name:<48} {values[name]:>14.6f} {unit}")
    print(f"  {'setup_wall_s':<48} {setup_wall_s:>14.6f} s")
    print(f"  {'cold_pass_s':<48} {report['cold_pass_s']:>14.6f} s")
    print(f"  {'pass_s':<48} {_median(times):>14.6f} s (median of {len(times)} passes)")
    n, pct = report["op_samples"], report["tail_pct"]
    print(f"  {'op_p50_s':<48} {report['op_p50_s']:>14.6f} s (median of {n} operations)")
    print(f"  {'op_tail_s':<48} {report['op_tail_s']:>14.6f} s (p{pct:.0f} of {n} operations)")
    print(f"  {'peak_rss_mb':<48} {rss:>14.6f} MB")
    ratio = report["failed"] / report["attempted"]
    print(f"  {'op_fail_ratio':<48} {ratio:>14.6f} ratio ({report['failed']}/{report['attempted']})")
    for msg in report["failures"]:
        print(f"  FAILED {msg}")
    result = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
