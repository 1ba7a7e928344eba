"""Repository benchmark: the arXiv pipeline and a registry query mix.

Run from the repository root:

    python3 perfbench/run.py --workload arxiv --seed 1 --seconds 5 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off, over
whole passes until ``--seconds`` have elapsed; a pass on a fresh JVM
takes longer than 5 s, so at the benchmark's setting a run measures one
cold pass, as one user run of the pipeline pays it.
``--trace 1`` is the separate traced run: it measures the workload with
spans and the Spark event log on, then one more pass with both off on a
fresh session, and prints the per-layer metrics (including the gap
between the two as ``trace.overhead_frac``). Metric names and units are
those of ``BENCHMARK.json``; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

One process, one Spark session on ``local[nproc]``, one client in a
closed loop over whole passes (see workloads.py). Inputs are generated
from ``--seed`` by tools/gen_arxiv.py and tools/gen_sf.py and pinned in
``pins.json`` (see inputs.py). Work files live under ``.perfbench/`` at
the repository root; result documents (host, environment, every
operation's time and CPU, failures) and span files are kept in
``.perfbench/results/``.

``--pin`` regenerates ``pins.json``. ``--toy`` runs the self-test sizes
(4000 papers, sf0.001); ``--inject-wrong`` corrupts the first
operation's observed output, to show that the check counts it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

ARXIV_PAPERS, TOY_PAPERS = 10_000, 4_000
SF, TOY_SF = 0.01, 0.001
SETUP_REPS = 3
# pure-CPU probe of bench.py (2e9 rows over 32 partitions), scaled to
# the core count so every core sums the same share
CALIB_ROWS_PER_CORE = 2_000_000_000 // 32


def fail(code: int, msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def session_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    Python driver, the Spark JVM and its Python workers (with the CPU
    of workers that already exited, through their parents' child
    times)."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    mine, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, (ppid, _) in stats.items() if ppid in mine} - mine
        grew = bool(kids)
        mine |= kids
    return sum(stats[p][1] for p in mine if p in stats) / os.sysconf("SC_CLK_TCK")


def host_env(run_dir: str) -> dict[str, str]:
    """The environment every number is recorded with: all cores, a
    driver heap that fits the box, and Spark and Python scratch space
    under the run directory, so stage directories are counted and
    removed with it."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    mem_gb = max(1, min(4, total_kb // (4 << 20)))
    return {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # every JVM the launcher starts keeps its scratch files here too,
        # and writes no performance-counter file to the system /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }


def code_version() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    import hashlib

    h = hashlib.sha256()
    for top in ("data_engineering_course_project_2023_spark", "tools"):
        for r, _d, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(r, f), "rb") as fh:
                        h.update(fh.read())
    return "tree-" + h.hexdigest()[:16]


class Session:
    """Owns the Spark session of the run: (re)starts it with the run's
    configuration and, at the end, stops it and the JVM it runs in."""

    def __init__(self, app: str, run_dir: str):
        self.app = app
        self.spark = None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # explicit, so a session restarted after a traced phase does
            # not inherit the event log from the JVM's launch properties
            "spark.eventLog.enabled": "false",
        }

    def start(self, extra: dict[str, str] | None = None):
        from data_engineering_course_project_2023_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name=self.app,
                               extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def warm_up(spark) -> None:
    """The first query of a session: one tiny job, which brings up the
    scheduler and task path. Whatever a workload's own code paths cost
    the first time stays in its (cold) pass."""
    spark.range(1).count()


def set_up(sess: Session, ctx, reps: int, extra=None) -> dict:
    """Start the session and run the warm-up query ``reps`` times, each
    time on a fresh SparkContext. Returns the median start, warm-up and
    set-up (start + warm-up) times."""
    tr = ctx.tracer
    starts, warms = [], []
    for _ in range(reps):
        tr.sc = None  # the previous context is stopped inside the span
        t0 = time.perf_counter()
        with tr.span("session.start", "session"):
            ctx.spark = sess.start(extra)
        t1 = time.perf_counter()
        tr.sc = ctx.spark.sparkContext
        with tr.span("session.warmup", "session"):
            warm_up(ctx.spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    setups = [a + b for a, b in zip(starts, warms)]
    return {"start_s": median(starts), "warmup_s": median(warms),
            "setup_s": median(setups)}


def measure(ctx, wl, seconds: float, min_passes: int = 1,
            max_passes: int | None = None, inject: bool = False):
    """Closed loop over whole passes until ``seconds`` of operation
    time have elapsed. Checks run between operations, outside their
    timed interval; a raised error or a wrong result counts the
    operation as failed and the loop goes on."""
    samples, passes = [], []
    busy = 0.0
    i = 0
    while (busy < seconds or i < min_passes) and (max_passes is None or i < max_passes):
        wl.begin_pass(ctx, i)
        try:
            for op in wl.ops(ctx):
                ctx.tracer.trace_id = f"op-{len(samples)}"
                err, result = None, None
                c0 = session_cpu_s()
                t0 = time.perf_counter()
                try:
                    with ctx.tracer.span(op.key, op.layer):
                        result = op.run()
                except Exception as e:  # noqa: BLE001 — counted, never aborts
                    err = f"{type(e).__name__}: {e}"[:500]
                dt = time.perf_counter() - t0
                cpu = session_cpu_s() - c0
                busy += dt
                extras = {}
                if err is None:
                    try:
                        observed = op.observe(result)
                        if inject and not samples:
                            k = next(iter(op.expected))
                            observed = {**observed, k: "injected-wrong"}
                        bad = sorted(k for k in op.expected
                                     if observed.get(k) != op.expected[k])
                        if bad:
                            err = f"mismatch at {bad}"
                        extras = {k: v for k, v in observed.items()
                                  if k not in op.expected}
                    except Exception as e:  # noqa: BLE001
                        err = f"check {type(e).__name__}: {e}"[:500]
                samples.append({"pass": i, "key": op.key, "layer": op.layer,
                                "seconds": dt, "cpu_s": cpu, "error": err,
                                "extras": extras})
        finally:
            passes.append(wl.end_pass(ctx, i))
        i += 1
    ctx.tracer.trace_id = "teardown"
    return samples, passes, busy


def by_key(samples):
    out: dict[str, list[float]] = {}
    for s in samples:
        out.setdefault(s["key"], []).append(s["seconds"])
    return out


def drift_ratio(samples) -> float:
    """Median over operations of (median time in the second half of the
    passes) / (median time in the first half); 1.0 with one pass."""
    n = 1 + max(s["pass"] for s in samples)
    if n < 2:
        return 1.0
    half = n // 2
    first = by_key([s for s in samples if s["pass"] < half])
    second = by_key([s for s in samples if s["pass"] >= n - half])
    return median([median(second[k]) / median(first[k]) for k in first])


def end_to_end(wl, setup, samples, passes, in_bytes) -> dict:
    """(value, sample count) of each end-to-end metric.

    Operation cost is CPU seconds of the whole session (driver, JVM and
    Python workers): what one user run of the workload costs in core
    time. Wall time is recorded in the result document but not bounded,
    because on a shared host it swings with other tenants' load
    (interquartile range 0.15-0.26 of the median over ten seeds on 4
    cores, against 0.07-0.13 for CPU seconds). Stored bytes are the six
    materialized stages per ingest (arxiv) or the staged directories
    per pass (registry_mix), over the input table bytes."""
    cpus = [s["cpu_s"] for s in samples]
    if wl.name == "arxiv":
        stored = median([
            sum(v for k, v in s["extras"].items() if k.startswith("bytes."))
            for s in samples if s["key"] == "ingest" and s["error"] is None
        ])
    else:
        stored = median([p["stage_bytes"] for p in passes])
    return {
        "setup_s": (setup["setup_s"], SETUP_REPS),
        "pass_cpu_s": (sum(cpus) / len(passes), len(cpus)),
        "op_cpu_geomean_s": (geomean(cpus), len(cpus)),
        "stored_bytes_per_input_byte": (stored / in_bytes, len(cpus)),
    }


def wall_figures(samples, passes, busy) -> dict:
    """Wall-clock figures of the untraced passes, for the result
    document."""
    times = [s["seconds"] for s in samples]
    return {
        "pass_s": busy / len(passes),
        "op_geomean_s": geomean(times),
        "op_p50_s": median(times),
        "op_max_s": max(times),
        "ops_per_min": 60.0 * len(times) / busy,
    }


def per_layer(ctx, tracer, setup, samples, passes, overhead, calib) -> dict:
    """Per-layer metrics of the traced measurement. Layer times are
    shares of the traced operation time (0 where the workload does not
    reach the layer); engine counters are per operation, or per pass
    where named so."""
    from workloads import (
        ANALYTICS_QUERIES, GRAPH_QUERIES, STAGE_LAYERS, STAGING_QUERIES,
    )

    ops = [s for s in tracer.spans
           if s.parent is None and s.trace_id.startswith("op-")]
    op_ids = {s.span_id for s in ops}
    traces = {s.trace_id for s in ops}
    spans = [s for s in tracer.spans if s.trace_id in traces]
    busy = sum(s.duration for s in ops)
    n_ops, n_passes = len(ops), len(passes)

    def share(pred):
        return sum(s.duration for s in spans if pred(s)) / busy

    def counter(pred, name, per):
        return sum(tracer.inclusive(s)[name] for s in spans if pred(s)) / per

    def root(pred):
        return lambda s: s.span_id in op_ids and pred(s)

    facts = getattr(ctx, "gold_facts", {})
    out = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "sources.input_bytes": counter(root(bool), "input_bytes", n_ops),
        "sources.input_records": counter(root(bool), "input_records", n_ops),
        "arxiv_enrich.shuffle_bytes": counter(
            lambda s: s.name == "stage.enriched", "shuffle_write_bytes", n_ops),
        "arxiv_enrich.hit_ratio":
            facts["enriched_rows"] / facts["silver_rows"] if facts else 0.0,
        "arxiv_graph.collab_pairs_per_edge":
            facts["collab_pairs"] / facts["authored_by_edges"] if facts else 0.0,
        "orchestrate.bytes_written": sum(
            v for k, v in facts.items() if k.startswith("bytes.")),
        "registry.build_share": share(lambda s: s.name == "registry.run_query"),
        "registry.action_share": share(lambda s: s.name == "registry.action"),
        "analytics.graph_jobs": counter(
            root(lambda s: s.layer == "analytics"), "jobs", n_passes),
        "dedup.stage_dirs": median([p.get("stage_dirs", 0) for p in passes]),
        "relational.tail_share": share(root(lambda s: s.layer == "relational")),
        "run.drift_ratio": drift_ratio(samples),
        "trace.overhead_frac": overhead,
        "host.calib_s": calib,
    }
    for st, (layer, _fn) in STAGE_LAYERS.items():
        out[f"{layer}.{st}_share"] = share(lambda s, st=st: s.name == f"stage.{st}")
        out[f"orchestrate.{st}_bytes"] = facts.get(f"bytes.{st}", 0)
    for q in ANALYTICS_QUERIES:
        out[f"arxiv_analytics.{q}_share"] = share(root(
            lambda s, q=q: s.name == q and s.layer == "arxiv_analytics"))
    for layer, names in (("analytics", GRAPH_QUERIES), ("dedup", STAGING_QUERIES)):
        for q in names:
            out[f"{layer}.{q}_share"] = share(root(lambda s, q=q: s.name == q))
    for name in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{name}"] = counter(root(bool), name, n_ops)
    return out


def calibrate(spark) -> float:
    n = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark.range(0, CALIB_ROWS_PER_CORE * n, 1, n).selectExpr(
        "sum(id % 1000007)").collect()
    return time.perf_counter() - t0


def make_workload(name: str, toy: bool):
    from workloads import (
        GRAPH_QUERIES, STAGING_QUERIES, TAIL_QUERIES, ArxivPipeline, RegistryMix,
    )

    if name == "arxiv":
        return ArxivPipeline(TOY_PAPERS if toy else ARXIV_PAPERS)
    return RegistryMix(TOY_SF if toy else SF,
                       GRAPH_QUERIES + STAGING_QUERIES + TAIL_QUERIES)


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench[kind]}


def run(args) -> dict:
    from inputs import input_bytes, pinned
    from tracing import Tracer, attribute
    from workloads import Context

    wl = make_workload(args.workload, args.toy)
    data, expected = pinned(ROOT, WORK, wl.spec(), args.seed)
    in_bytes = input_bytes(data, wl.tables)
    run_dir = os.environ["TMPDIR"].rsplit(os.sep, 1)[0]
    sess = Session(f"perfbench-{wl.name}", run_dir)
    doc = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
           "toy": args.toy, "input": os.path.relpath(data, WORK)}
    t_samples = []
    try:
        if not args.trace:
            ctx = Context(Tracer(False), data, expected, os.path.join(run_dir, "work"))
            setup = set_up(sess, ctx, SETUP_REPS)
            samples, passes, busy = measure(ctx, wl, args.seconds,
                                            inject=args.inject_wrong)
            doc["calib_s"] = calibrate(ctx.spark)
        else:
            # traced measurement: spans + event log, at least two passes
            # (the first runs cold)
            log_dir = os.path.join(run_dir, "events")
            os.makedirs(log_dir)
            tracer = Tracer(True)
            ctx = Context(tracer, data, expected, os.path.join(run_dir, "work"))
            setup = set_up(sess, ctx, SETUP_REPS, {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            t_samples, t_passes, _ = measure(ctx, wl, args.seconds, min_passes=2,
                                             inject=args.inject_wrong)
            sess.spark.stop()
            sess.spark = None
            unattributed = attribute(tracer, log_dir)
            # untraced twin: one pass on a fresh session in the same (now
            # warm) JVM, compared with the traced warm passes
            ctx.tracer = Tracer(False)
            ctx.spark = sess.start()
            warm_up(ctx.spark)
            samples, passes, busy = measure(ctx, wl, 0, max_passes=1)
            u = by_key(samples)
            t = by_key([s for s in t_samples if s["pass"] > 0])
            overhead = median([median(t[k]) / median(u[k]) for k in u]) - 1.0
            doc["calib_s"] = calibrate(ctx.spark)
            doc["per_layer"] = per_layer(ctx, tracer, setup, t_samples, t_passes,
                                         overhead, doc["calib_s"])
            doc["unattributed_jobs"] = unattributed
            # the same layer times in seconds per pass, under the _s names
            busy_t = sum(s["seconds"] for s in t_samples)
            doc["layer_seconds_per_pass"] = {
                k[: -len("_share")] + "_s": v * busy_t / len(t_passes)
                for k, v in doc["per_layer"].items() if k.endswith("_share")
            }
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            doc["spans_file"] = os.path.join(
                WORK, "results", f"{wl.name}-seed{args.seed}.spans.jsonl")
            tracer.write(doc["spans_file"])
            doc["traced_samples"] = [
                {k: s[k] for k in ("pass", "key", "layer", "seconds", "error")}
                for s in t_samples]
    finally:
        sess.close()
    e2e = end_to_end(wl, setup, samples, passes, in_bytes)
    attempted = t_samples + samples
    failed = [s for s in attempted if s["error"] is not None]
    doc.update({
        "setup": setup,
        "end_to_end": {k: {"value": v, "samples": n} for k, (v, n) in e2e.items()},
        "attempted": len(attempted),
        "failed": len(failed),
        "failed_frac": len(failed) / len(attempted),
        "failures": [{k: s[k] for k in ("pass", "key", "error")} for s in failed],
        "samples": [{k: s[k] for k in ("pass", "key", "layer", "seconds", "cpu_s")}
                    for s in samples],
        "stage_passes": passes,
        "drift_ratio": drift_ratio(samples),
        "wall": wall_figures(samples, passes, busy),
    })
    queries = [s["seconds"] for s in samples if s["key"] != "ingest"]
    doc["queries_per_min"] = 60.0 * len(queries) / sum(queries)
    doc["query_p50_s"], doc["query_max_s"] = median(queries), max(queries)
    if wl.name == "arxiv":
        ingest = [s["seconds"] for s in samples if s["key"] == "ingest"]
        doc["ingest_papers_per_s"] = wl.papers / median(ingest)
    return doc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload",
                    choices=("arxiv", "registry_mix"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--inject-wrong", action="store_true")
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    for rel in ("BENCHMARK.json", "data_engineering_course_project_2023_spark",
                "tools/gen_arxiv.py", "tools/gen_sf.py", "tests/parity.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(2, f"{rel} not found under {ROOT}: run from a full checkout")
    if not args.pin and args.workload is None:
        fail(2, "--workload is required")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    env = host_env(run_dir)
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    from inputs import PinError, write_pins

    try:
        if args.pin:
            specs = {}
            for toy in (False, True):
                for name in ("arxiv", "registry_mix"):
                    spec = make_workload(name, toy).spec()
                    specs[spec.key] = spec
            write_pins(ROOT, WORK, list(specs.values()))
            return
        try:
            doc = run(args)
        except PinError as e:
            fail(3, f"inputs do not match their pins: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    doc["host"] = {
        "code_version": code_version(), "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "calib_s": doc.pop("calib_s"), "python": platform.python_version(),
        "platform": platform.platform(),
    }
    doc["env"] = {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                     "SPARK_LOCAL_DIRS", "TMPDIR")}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{doc['workload']}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)

    if args.trace:
        units, values = declared("per_layer"), doc["per_layer"]
        counts = {k: doc["attempted"] for k in values}
    else:
        units = declared("end_to_end")
        values = {k: v["value"] for k, v in doc["end_to_end"].items()}
        counts = {k: v["samples"] for k, v in doc["end_to_end"].items()}
    if set(units) != set(values):
        fail(4, f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(values))}")
    for k in units:
        print(f"{doc['workload']} {k} = {values[k]!r} {units[k]} (n={counts[k]})")
    n = len(doc["samples"])
    for k, v in doc["wall"].items():
        print(f"{doc['workload']} wall {k} = {v!r} (n={n}, not bounded)")
    print(f"{doc['workload']} failed_frac = {doc['failed_frac']!r} "
          f"(n={doc['attempted']}); result document {out}")
    print(json.dumps({
        "correct": doc["failed"] == 0,
        "attempted": doc["attempted"],
        "failed": doc["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
