"""sparkcrawl benchmark.

    python3 perfbench/run.py --workload {wave_bulk,crawl_resume} --seed N \
        --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the repository root. Builds the inputs from the seed, starts one
driver process on ``local[$SPARK_GRAFT_CPUS]`` (4 when unset) through
``librecrawl_spark.session.get_spark``, runs the workload's untimed
warm-up, then repeats the workload's operation until ``--seconds`` have
passed (at least once) and checks every output against an independent
oracle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). Lines before it
list every metric of the workload by name with its unit. Run artefacts
(inputs, checkpoints, Spark scratch, span dumps) go to ``.perfbench_run/``
at the repository root.

The gated end-to-end metrics are set-up and operation cost in CPU
seconds (``setup_s``, ``cpu_s``: the Python process, its JVM and the JVM's Python
workers together) and peak memory. On a shared host other tenants
stretch wall time by up to 2x from one run to the next but leave CPU time
nearly alone (wave_bulk on 4 loaded cores, ten seeds: quartile spread
0.066 of the median in CPU, 0.34 in wall). Throughput per wall and per
CPU second, operation and set-up wall time, the issue report's time and
the checkpoint size print on the summary lines. Per-CPU-second
throughput is left out of the gate because a crawl's pages vary from
seed to seed while its cost, fixed per wave, does not.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_run")
MB = 1024 * 1024


def _env(workdir: str) -> None:
    """Keep every file Spark, its Python workers and the JVM write inside
    the run's work directory, and let workers import the checkout."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = tmp
    os.environ["TMPDIR"] = tmp


def start_spark(cpus: int, workdir: str, trace: bool):
    from librecrawl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # a 3g heap (the session default is 8g) keeps peak RSS from
        # tracking G1's lazy heap growth, and the run small on a shared box
        "spark.driver.memory": "3g",
    }
    if trace:
        # job/stage counts per span come from the status store: keep all
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers,
    which exit with it) to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# metrics printed on the summary lines only (BENCHMARK.json keeps the
# end-to-end metrics every workload has)
EXTRA_UNITS = {"setup_wall_s": "s", "op_s": "s", "pages_per_s": "pages/s",
               "urls_per_s": "URLs/s", "pages_per_cpu_s": "pages/cpu-s",
               "urls_per_cpu_s": "URLs/cpu-s", "audit_s": "s", "ckpt_mb": "MB",
               "failed_frac": "ratio"}

# ---------------------------------------------------------------- per-layer
LAYERS = ("bench", "crawl", "frontier", "extract", "tableio", "issues", "trace")


def layer_metrics(tracer, root: dict, counts: dict, extra: dict) -> dict:
    """Per-layer metrics of one traced operation. ``<layer>.self_s`` is
    the self time of the layer's spans, so the layers' self times sum to
    ``trace.wall_s``; named times (``frontier.schedule_s`` ...) are the
    self times of the spans of that call, jobs/tasks are those launched
    under the layer's spans. Layers never exercised report 0."""
    spans = tracer.spans
    own = tracer.self_times()
    spark = tracer.spark_counts()

    def pick(*prefixes):
        return [i for i, s in enumerate(spans) if s["name"].startswith(prefixes)]

    def self_s(*prefixes):
        return sum(own[i] for i in pick(*prefixes))

    def total(key, *prefixes):
        return sum(spark[i][key] for i in pick(*prefixes))

    m = {}
    wall = root["end"] - root["start"]
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_s(layer + ".")
    # -- plans.crawl
    waves = counts.get("waves", 0)
    wave_ms = counts.get("wave_ms") or [0.0]
    crawl_spans = [i for i, s in enumerate(spans) if s["name"] in ("crawl.run", "crawl.count")]
    crawl_jobs = 0
    for i in crawl_spans:  # the crawl and every call it made
        crawl_jobs += sum(spark[j]["jobs"] for j in _subtree(spans, i))
    m["crawl.waves"] = waves
    m["crawl.wave_s"] = statistics.median(wave_ms) / 1000
    m["crawl.jobs"] = total("jobs", "crawl.")
    m["crawl.tasks"] = total("tasks", "crawl.")
    m["crawl.jobs_per_wave"] = crawl_jobs / waves if waves else 0.0
    m["crawl.restart_s"] = _restart_s(spans)
    m["crawl.fetch_ratio"] = (counts["pages"] / counts["discovered"]
                              if counts.get("discovered") else 0.0)
    # -- operators.frontier
    urls_in, urls_out = extra["urls_in"], counts["urls_out"]
    m["frontier.schedule_s"] = self_s("frontier.schedule")
    m["frontier.politeness_s"] = self_s("frontier.apply_politeness", "frontier.politeness")
    m["frontier.jobs"] = total("jobs", "frontier.")
    m["frontier.tasks"] = total("tasks", "frontier.")
    m["frontier.urls_in"] = urls_in
    m["frontier.urls_out"] = urls_out
    m["frontier.accept_ratio"] = urls_out / urls_in if urls_in else 0.0
    m["frontier.urls_per_s"] = (urls_in / m["frontier.self_s"]
                                if m["frontier.self_s"] else 0.0)
    # -- operators.extract
    docs = counts["docs"]
    m["extract.redirects_s"] = self_s("extract.resolve_redirects")
    m["extract.extract_s"] = self_s("extract.join_fetch", "extract.extract_pages",
                                    "extract.materialize")
    m["extract.jobs"] = total("jobs", "extract.")
    m["extract.tasks"] = total("tasks", "extract.")
    m["extract.docs_per_s"] = docs / m["extract.extract_s"] if m["extract.extract_s"] else 0.0
    m["extract.candidates_per_doc"] = urls_in / docs if docs else 0.0
    # -- storage.tableio
    m["tableio.commit_s"] = self_s("tableio.commit")
    m["tableio.commits"] = len(pick("tableio.commit"))
    m["tableio.checkpoint_s"] = self_s("tableio.checkpoint")
    m["tableio.compact_s"] = self_s("tableio.compact_small")
    m["tableio.expire_s"] = self_s("tableio.expire_snapshots")
    m["tableio.read_s"] = self_s("tableio.read")
    written = extra["written"]
    live_files, live_bytes = extra["live"]
    m["tableio.bytes_written_mb"] = sum(written.values()) / MB
    m["tableio.files_written"] = len(written)
    m["tableio.files_live"] = live_files
    m["tableio.ckpt_mb"] = live_bytes / MB
    m["tableio.write_amp"] = sum(written.values()) / live_bytes if live_bytes else 0.0
    # -- operators.issues
    m["issues.detect_s"] = self_s("issues.detect_all_issues")
    m["issues.materialize_s"] = self_s("issues.materialize")
    m["issues.jobs"] = total("jobs", "issues.")
    m["issues.tasks"] = total("tasks", "issues.")
    m["issues.rows"] = counts.get("issues", 0)
    # -- Spark scheduling
    m["spark.jobs"] = sum(c["jobs"] for c in spark)
    m["spark.stages"] = sum(c["stages"] for c in spark)
    m["spark.tasks"] = sum(c["tasks"] for c in spark)
    m["trace.wall_s"] = wall
    return m


def _subtree(spans, i):
    out, frontier = [i], [i]
    while frontier:
        p = frontier.pop()
        kids = [s["id"] for s in spans if s["parent"] == p]
        out += kids
        frontier += kids
    return out


def _restart_s(spans) -> float:
    """Leg 2 of a resumed crawl: from run() to its first fetch call."""
    for s in spans:
        if s["name"] == "crawl.run" and s.get("leg") == 2:
            fetches = [f["start"] for f in spans
                       if f["name"] == "extract.join_fetch" and f["start"] >= s["start"]
                       and f["end"] <= s["end"]]
            return (min(fetches) if fetches else s["end"]) - s["start"]
    return 0.0


# ---------------------------------------------------------------- the run
def _phase(name: str, since: float) -> float:
    """Log a phase's elapsed time on stderr; returns the current clock."""
    now = time.perf_counter()
    print(f"# {name}: {now - since:.2f}s", file=sys.stderr)
    return now


def measure_untraced(wl, want, pids) -> tuple[dict, list]:
    """One timed operation: the end-to-end metrics and failed checks.
    Throughputs come per wall second and per CPU second (Python process, JVM and
    Python workers together); for a crawl both cover seed to counted
    result, the issue report excluded."""
    from perfbench.procstat import dir_usage, peak_rss_mb, tree_cpu_s

    cpu, t = tree_cpu_s(), time.perf_counter()
    out = wl.op()
    op_s = time.perf_counter() - t
    cpu_s = tree_cpu_s() - cpu
    row = {"peak_rss_mb": peak_rss_mb(pids)}
    try:
        c = wl.counts(out)
        crawl_s = out.get("crawl_s", op_s)
        crawl_cpu_s = out.get("crawl_cpu_s", cpu_s)
        row.update(op_s=op_s, cpu_s=cpu_s,
                   pages_per_s=c["pages"] / crawl_s, urls_per_s=c["urls"] / crawl_s,
                   pages_per_cpu_s=c["pages"] / crawl_cpu_s,
                   urls_per_cpu_s=c["urls"] / crawl_cpu_s)
        if "audit_s" in out:
            row["audit_s"] = out["audit_s"]
        if "ckpt" in out:
            row["ckpt_mb"] = dir_usage(out["ckpt"])[1] / MB
        return row, wl.check(out, want)
    finally:
        wl.release(out)


def measure_traced(wl, want, pids) -> tuple[dict, list]:
    """One traced operation: the per-layer metrics and failed checks."""
    from perfbench.procstat import dir_usage
    from perfbench.tracing import Tracer

    tracer = Tracer(wl.spark)
    out, root, urls_in, written = traced_op(wl, tracer)
    try:
        live = dir_usage(out["ckpt"]) if "ckpt" in out else (0, 0)
        row = layer_metrics(tracer, root, wl.counts(out),
                            {"urls_in": urls_in, "written": written, "live": live})
        bad = wl.check(out, want)
    finally:
        wl.release(out)
    # the tracer's own time: span bookkeeping plus its hooks' spans
    own = tracer.bookkeeping_s + row["trace.self_s"]
    row["trace.overhead_frac"] = own / (row["trace.wall_s"] - own)
    if abs(sum(row[f"{layer}.self_s"] for layer in LAYERS) - row["trace.wall_s"]) > 1e-6:
        bad.append("self_times_do_not_sum_to_wall")
    tracer.dump(os.path.join(WORK_ROOT, "traces", f"{wl.name}-{time.time_ns()}.json"))
    return row, bad


def traced_op(wl, tracer):
    """One operation with every layer wrapped. Returns (output, root span,
    urls into the frontier, files written under the checkpoint)."""
    stash, written = [], {}

    def on_schedule(rec, args, kwargs, out):
        stash.append(args[0] if args else kwargs["candidates"])

    def on_write(rec, args, kwargs, out):
        root = args[0].root
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                written.setdefault(p, os.path.getsize(p))

    tracer.hooks.update({"frontier.schedule_wave": on_schedule,
                         "tableio.commit": on_write, "tableio.compact_small": on_write,
                         "tableio.checkpoint": on_write})
    tracer.install()
    try:
        with tracer.span("bench.op") as root:
            out = wl.op(tracer)
    finally:
        tracer.uninstall()
    sc = wl.spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    urls_in = sum(df.count() for df in stash)
    return out, root, urls_in, written


def run(args) -> dict:
    workdir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    _env(workdir)

    from perfbench.procstat import reset_peak, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    t_setup, cpu_setup = time.perf_counter(), tree_cpu_s()
    spark = start_spark(cpus, workdir, bool(args.trace))
    _phase("session", t_setup)
    attempted = failed = 0
    try:
        pids = [os.getpid(), int(spark._jvm.ProcessHandle.current().pid())]
        t = time.perf_counter()
        wl = cls(spark, args.seed, args.scale, os.path.join(workdir, "main"))
        t = _phase("generate", t)
        wl.load()
        t = _phase("load", t)
        # the oracle's answer, outside set-up and timing
        cpu = tree_cpu_s()
        want = wl.expect()
        oracle_s, oracle_cpu_s = time.perf_counter() - t, tree_cpu_s() - cpu
        t = _phase("oracle", t)
        wl.warm_up()
        _phase("warm-up", t)
        # set-up is gated in CPU seconds, which other tenants of a shared
        # host do not inflate; its wall time is printed beside it
        setup_wall_s = time.perf_counter() - t_setup - oracle_s
        setup_s = tree_cpu_s() - cpu_setup - oracle_cpu_s

        rows = []
        # open the peak-RSS window on collected heaps, so the peak does not
        # depend on how much memory set-up happened to leave committed
        gc.collect()
        spark._jvm.System.gc()
        reset_peak(pids)
        t_end = time.perf_counter() + args.seconds
        while True:
            attempted += 1
            t = time.perf_counter()
            try:
                measure = measure_traced if args.trace else measure_untraced
                row, bad = measure(wl, want, pids)
            except Exception:
                traceback.print_exc()
                row, bad = None, ["raised"]
            _phase(f"op {attempted}", t)
            if bad:
                failed += 1
                print(f"# {args.workload} op {attempted} failed: {', '.join(bad)}",
                      file=sys.stderr)
            else:
                rows.append(row)
            if time.perf_counter() >= t_end:
                break
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    # medians over the run's correct operations
    metrics = {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}
    metrics.update(setup_s=setup_s, setup_wall_s=setup_wall_s,
                   failed_frac=failed / attempted)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    r = run(args)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = r["metrics"]
    # every metric of the workload, by name and unit, then the result line
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(EXTRA_UNITS)
    for name, v in sorted(values.items()):
        print(f"{args.workload} {name} {v} {units.get(name, '')}")
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
