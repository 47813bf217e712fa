#!/usr/bin/env python3
"""The repository benchmark: one workload per process.

    python3 perfbench/run.py --workload kg-small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload once, tiny inputs

Run it from the root of a checkout.  It generates the workload's inputs from
the seed under ``.perfbench_work/``, starts Spark on ``local[nproc]``, sets
up (session, input generation, one untimed warm iteration), measures a
closed loop for ``--seconds``, checks every output, and prints a report
followed by one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``.  The full per-layer record of a
traced run is written to ``.perfbench_work/results/``.  See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.procs import descendants, peak_rss_mb  # noqa: E402
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# set-up is timed once per part that cannot repeat in one process (JVM
# start, the first warm iteration) and as the median of this many repeats
# for the part that can (input generation)
GEN_REPEATS = 3
# the pinned host probe (scripts/probe.py, unchanged) at a fortieth of
# its default size, once per run (the default takes ~15 s on 4 cores)
PROBE_DOCS = 100_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs, traced and untraced")
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (what --smoke runs)")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    return args


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def launch_env(work: str, trace: bool) -> None:
    """Everything Spark, the JVM and Python write goes under ``work``; the
    event log is switched on by launch config for the traced run."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # the session's default GC, plus a JVM temp dir inside the work dir and
    # no hsperfdata file in the system temp dir
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        time.sleep(0.1)


def q(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    best = None
    for p in (0.5, 0.75, 0.9, 0.95, 0.99):
        if n * (1 - p) >= 10:
            best = p
    return best


def summarize(xs: list[float]) -> dict:
    if not xs:
        return {"median": None, "iqr_share": None, "n": 0}
    med = statistics.median(xs)
    iqr = q(xs, 0.75) - q(xs, 0.25)
    return {"median": med, "iqr_share": iqr / med if med else 0.0, "n": len(xs)}


def run_workload(args) -> int:
    spec = load_spec()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_ROOT, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launch_env(work, bool(args.trace))
    try:
        from rdflib_r2r_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.trace import EventLog, Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    host = {"nproc": nproc(), "loadavg_start": loadavg()}

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - T_START
    try:
        tracer = Tracer(spark.sparkContext) if args.trace else None
        ctx = Ctx(spark, work, args.seed, args.seconds, tiny=args.tiny, tracer=tracer)
        wl = WORKLOADS[args.workload](ctx)
        gen_walls = []
        for k in range(GEN_REPEATS):
            out = os.path.join(work, "input" if k == 0 else f"input-repeat{k}")
            t0 = time.perf_counter()
            wl.generate(out)
            gen_walls.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(out)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_walls) + warm_s

        if tracer is not None:
            wl.trace_hooks(tracer)
        t_measure = time.perf_counter()
        its = wl.measure()
        measure_s = time.perf_counter() - t_measure
        if tracer is not None:
            tracer.unwrap()
        wl.check(its)

        from scripts.probe import PROBE_VERSION, probe_wall

        host["probe"] = {"version": PROBE_VERSION, "n_docs": PROBE_DOCS,
                         "wall_s": probe_wall(spark, PROBE_DOCS)}
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
    host["loadavg_end"] = loadavg()

    ops = ctx.ops
    failed = sum(1 for o in ops if not o.ok)
    units, items = wl.units()
    shared = {
        "setup_s": [setup_s],
        "wall_s": [sum(o.wall_s for o in u) for u in units],
        "cpu_s": [sum(o.info["cpu_s"] for o in u) for u in units],
        "items_per_s": items,
        "peak_rss_mb": [rss],
    }
    named = dict(wl.e2e())
    named["failed_ratio"] = [failed / len(ops)] if ops else [1.0]
    named["peak_rss_mb"] = [rss]
    named["setup_s"] = [setup_s]
    if "query_ms" in named:
        lat = named.pop("query_ms")
        named["query_p50_ms"] = [statistics.median(lat)] if lat else []
        p = tail_percentile(len(lat))
        named["query_tail_ms"] = [q(lat, p)] if p else []
        named["query_tail_percentile"] = [p * 100] if p else []

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "measure_s": measure_s,
        "setup": {"session_s": session_s, "gen_s": gen_walls, "warm_s": warm_s},
        "end_to_end": {k: summarize(v) for k, v in named.items()},
        "shared": {k: summarize(v) for k, v in shared.items()},
        "ops": [{"kind": o.kind, "wall_s": o.wall_s, "ok": o.ok, "error": o.error,
                 **{k: v for k, v in o.info.items() if k != "stage_walls"}} for o in ops],
    }

    if tracer is not None:
        log = EventLog.read(os.path.join(work, "eventlog"))
        layers = layer_metrics(wl, ctx, tracer, log)
        record["per_layer"] = layers
        record["spans_self_ms"] = tracer.self_ms()
        untraced = os.path.join(WORK_ROOT, "results", f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["shared"]["wall_s"]["median"]
            traced = record["shared"]["wall_s"]["median"]
            if base and traced:
                record["trace_overhead_share"] = (traced - base) / base

    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print_report(record)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    units_of = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    if args.trace:
        values = record["per_layer"]
    else:
        values = {k: v["median"] for k, v in record["shared"].items()}
    metrics = {n: {"value": values[n], "unit": units_of[n]} for n in names}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_metrics(wl, ctx, tracer, log) -> dict:
    from perfbench.trace import union_length

    ops = ctx.ops
    units = wl.units()[0]
    unit_ops = [o for u in units for o in u]
    n_units = max(len(units), 1)
    groups = {o.info["group"] for o in unit_ops}
    jobs = [j for j in log.jobs.values() if j.op in groups]
    ex = log.summary(jobs)
    out = {
        "spark.jobs": sum(o.info["jobs"] for o in unit_ops) / n_units,
        "spark.stages": sum(o.info["stages"] for o in unit_ops) / n_units,
        "spark.tasks": sum(o.info["tasks"] for o in unit_ops) / n_units,
        "spark.exec_ms": ex.get("exec_ms", 0.0) / n_units,
        "spark.executor_run_ms": ex.get("executor_run_ms", 0.0) / n_units,
        "spark.gc_ms": ex.get("gc_ms", 0.0) / n_units,
        "spark.shuffle_write_bytes": ex.get("shuffle_write_bytes", 0.0) / n_units,
        "spark.spill_bytes": ex.get("spill_bytes", 0.0) / n_units,
        "catalyst.analyze_ms": tracer.total_ms("catalyst.analyze") / n_units,
        "catalyst.optimize_ms": tracer.total_ms("catalyst.optimize") / n_units,
        "catalyst.plan_ms": tracer.total_ms("catalyst.plan") / n_units,
        # defaults for layers a workload does not exercise
        "compiler.compile_ms": 0.0, "pipeline.bytes_written": 0, "pipeline.stages_resumed": 0,
        "web.linking.candidate_pairs": 0, "web.linking.edges": 0,
        "web.linking.pairs_per_edge": 0.0, "web.components.rounds": 0,
        "web.mentions.pairs": 0, "sparql.store.plan_cache_hit_ratio": 0.0,
    }
    for kind in sorted({o.kind for o in ops}):
        of_kind = [o for o in ops if o.kind == kind]
        out[f"spark.jobs.{kind}"] = statistics.median(o.info["jobs"] for o in of_kind)
        out[f"spark.stages.{kind}"] = statistics.median(o.info["stages"] for o in of_kind)
        out[f"spark.stages_listed.{kind}"] = statistics.median(o.info["stages_listed"] for o in of_kind)
        out[f"spark.tasks.{kind}"] = statistics.median(o.info["tasks"] for o in of_kind)
    out.update(wl.trace_layers(tracer))
    # the share of each operation's wall no layer accounts for: not inside
    # a top-level program span and not inside a Spark job
    shares = []
    for o in unit_ops:
        g = o.info["group"]
        iv = [(s.start, s.end) for s in tracer.spans if s.op == g and s.parent is None]
        iv += [(j.start_ms / 1000 - tracer.epoch, j.end_ms / 1000 - tracer.epoch)
               for j in jobs if j.op == g and j.end_ms]
        iv = [(max(a, o.info["t0"]), min(b, o.info["t1"])) for a, b in iv if b > o.info["t0"] and a < o.info["t1"]]
        if o.wall_s > 0:
            shares.append(max(0.0, 1 - union_length(iv) / o.wall_s))
    out["trace.unaccounted_share"] = statistics.median(shares) if shares else 0.0
    # which layer submitted each job: the innermost job-tagging span
    for j in jobs:
        key = f"spark.jobs_in.{j.span.split(':', 1)[1] if j.span else 'untagged'}"
        out[key] = out.get(key, 0) + 1 / n_units
    return out


def print_report(rec: dict) -> None:
    host = rec["host"]
    print(f"perfbench {rec['workload']} seed={rec['seed']} seconds={rec['seconds']} "
          f"trace={rec['trace']} nproc={host['nproc']} load={host['loadavg_start']}->"
          f"{host['loadavg_end']} probe({host['probe']['n_docs']})={host['probe']['wall_s']:.3f}s")
    print(f"  {'metric':34s} {'median':>14s} {'iqr/med':>8s} {'n':>4s}")
    for k, v in rec["end_to_end"].items():
        med = "n/a" if v["median"] is None else f"{v['median']:.4f}"
        share = "" if v["iqr_share"] is None else f"{v['iqr_share']:.3f}"
        print(f"  {k:34s} {med:>14s} {share:>8s} {v['n']:>4d}")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"  FAILED {o['kind']}: {o['error']}")
    for k, v in sorted(rec.get("per_layer", {}).items()):
        print(f"  layer {k:40s} {v:.4f}" if isinstance(v, float) else f"  layer {k:40s} {v}")
    if "trace_overhead_share" in rec:
        print(f"  trace overhead (traced - untraced wall) / untraced: {rec['trace_overhead_share']:.3f}")


def smoke() -> int:
    """Every workload once on tiny inputs, untraced then traced, each in a
    fresh process; fails when any run fails or reports a failed operation."""
    ok = True
    for name in ("kg-small", "kg-large", "sparql-bsbm", "curation"):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            last = (p.stdout.strip().splitlines() or [""])[-1]
            good = p.returncode == 0 and last.startswith("{") and json.loads(last)["correct"]
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {name} trace={trace} rc={p.returncode} {last[:200]}")
            if not good:
                print(p.stdout[-3000:], p.stderr[-3000:], sep="\n")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.smoke:
        return smoke()
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
