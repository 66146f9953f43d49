"""ccspark benchmark: seeded corpus-build workloads through the public API.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout.  One run generates (or reuses)
the seed's inputs and expected outputs, sets up a Spark session on
``local[nproc]`` once (a cold start: JVM launch included), runs the
workload's fixed number of checked warm-up repetitions, then timed
repetitions (closed loop: one client, one job at a time) for
``--seconds`` and at least MIN_REPS of them.  Every output is checked.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run instead.  The last stdout line is the
JSON result; the lines before it are a readable summary.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import this directory's modules as the perfbench package only (a bare
# ``trace`` module would shadow the standard library's)
if sys.path and os.path.abspath(sys.path[0]) == HERE:
    sys.path[0] = ROOT
CACHE = os.path.join(ROOT, ".perfbench_cache")
ORACLE_VERSION = 1
# timed repetitions per run, at least; their median (the mean of the
# middle two) is not moved by one outlier, such as the still-warming
# first one or one hit by a burst of host contention
MIN_REPS = 4
DEADLINE_S = 160.0   # start no repetition that would end after this
# driver heap capped well below the 15 GB of the 4-core reference host
# (the session default is 24g); the benchmark needs far less
DRIVER_MEM = "2g"

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("docs_per_s", "docs/s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("ok_rate", "ratio"),
]
PER_LAYER = [
    ("session.start_s", "s"), ("session.python_worker_start_s", "s"),
    ("scan.bytes", "B"), ("scan.s", "s"),
    ("geo.self_s", "s"), ("geo.pages_in", "count"),
    ("geo.pages_out", "count"), ("geo.broadcast_s", "s"),
    ("arrowkernel.self_s", "s"), ("arrowkernel.python_s", "s"),
    ("arrowkernel.bytes_to_python", "B"),
    ("arrowkernel.bytes_from_python", "B"),
    ("arrowkernel.lines_out", "count"), ("arrowkernel.us_per_line", "us"),
    ("arrowgate.c4_us_per_page", "us"),
    ("arrowgate.gopher_us_per_page", "us"),
    ("arrowgate.pages_kept_frac", "ratio"),
    ("dedup.exact.self_s", "s"), ("dedup.exact.rows_in", "count"),
    ("dedup.exact.rows_out", "count"), ("dedup.exact.partial_rows", "count"),
    ("dedup.exact.shuffle_bytes", "B"), ("dedup.exact.sort_s", "s"),
    ("dedup.exact.peak_mem_mb", "MB"), ("dedup.exact.spill_bytes", "B"),
    ("dedup.exact.task_skew", "ratio"),
    ("scrub.self_s", "s"), ("scrub.python_s", "s"),
    ("lid.self_s", "s"), ("lid.python_s", "s"), ("lid.docs", "count"),
    ("lid.reassembly_shuffle_bytes", "B"), ("lid.us_per_doc", "us"),
    ("finalize.self_s", "s"), ("finalize.cap_rows_dropped", "count"),
    ("write.s", "s"), ("write.files", "count"), ("write.bytes", "B"),
    ("write.bytes_per_row", "B"),
    ("dedup.near.shingle.self_s", "s"), ("dedup.near.signature.self_s", "s"),
    ("dedup.near.pairs.self_s", "s"), ("dedup.near.verify.self_s", "s"),
    ("dedup.near.components.self_s", "s"),
    ("dedup.near.removal.self_s", "s"),
    ("dedup.near.pre_exact_dropped", "count"),
    ("dedup.near.shingle_rows", "count"), ("dedup.near.buckets", "count"),
    ("dedup.near.max_bucket", "count"),
    ("dedup.near.pairs_emitted", "count"),
    ("dedup.near.pairs_verified_frac", "ratio"),
    ("dedup.near.cc_rounds", "count"), ("dedup.near.docs_removed", "count"),
    ("dedup.near.shuffle_bytes", "B"), ("dedup.near.spill_bytes", "B"),
    ("dedup.near.peak_mem_mb", "MB"), ("dedup.near.task_skew", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_failures", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.fetch_wait_s", "s"),
    ("spark.shuffle_bytes", "B"), ("spark.spill_bytes", "B"),
    ("spark.core_util", "ratio"),
    ("trace.overhead_s", "s"), ("trace.self_sum_ratio", "ratio"),
]
# traced layer self times must sum to within this share of untraced wall_s
RECONCILE_TOL = 0.25
RECONCILE_REPS = 2   # untraced repetitions after the traced pass
SPAN_REPS = 2        # runs of each cut point; its span is the fastest
MB = float(1 << 20)


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def setup_env(cores: int) -> None:
    """Everything the program and its Python workers need, inside the
    checkout: the package importable by workers from any directory,
    local[cores], a pinned driver heap, temp and shuffle dirs."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["CCSPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        'pyspark-shell')
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def source_stamp(cores: int) -> dict:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "ccspark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith((".py", ".csv", ".dat")):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    head = None
    git_head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(git_head):
        with open(git_head) as f:
            ref = f.read().strip()
        head = ref
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                with open(p) as f:
                    head = f.read().strip()
    return {"ccspark_sha1": h.hexdigest()[:12], "git_head": head,
            "nproc": cores, "loadavg": list(os.getloadavg()),
            "driver_mem": DRIVER_MEM, "master": f"local[{cores}]"}


def _identity(batches):
    yield from batches


def start_session(wl, cores: int):
    """One set-up: session start, Python worker pool boot, program-side
    preparation.  Returns (spark, total seconds, session seconds, worker
    boot seconds)."""
    from ccspark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    (spark.range(0, cores, 1, cores).mapInArrow(_identity, "id long")
     .write.format("noop").mode("overwrite").save())
    t2 = time.perf_counter()
    wl.prepare(spark)
    return spark, time.perf_counter() - t0, t1 - t0, t2 - t1


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def shutdown() -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python daemon/worker it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench import procmon
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = procmon.tree(proc.pid) if proc is not None else []
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    if gw is None:
        return
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # daemon and workers exit when the JVM closes their stdin; wait for
    # them (zombies count as gone), killing stragglers after 15 s
    t_kill = time.time() + 15
    while True:
        alive = [p for p in pids if procmon.running(p)]
        if not alive or time.time() > t_kill + 15:
            return
        if time.time() > t_kill:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


def expected_outputs(wl, inp: str, cores: int) -> tuple[dict, float]:
    """The workload's expected outputs for this input, cached beside it."""
    import pyarrow.parquet as pq

    from perfbench import oracle
    path = os.path.join(inp, f"expected-v{ORACLE_VERSION}")
    if os.path.exists(os.path.join(path, "done")):
        return ({f[:-8]: pq.read_table(os.path.join(path, f))
                 for f in os.listdir(path) if f.endswith(".parquet")}, 0.0)
    t0 = time.perf_counter()
    con = oracle.duck(cores, os.path.join(CACHE, "tmp"))
    try:
        want = wl.expected(con)
    finally:
        con.close()
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for k, t in want.items():
        pq.write_table(t, os.path.join(tmp, f"{k}.parquet"))
    open(os.path.join(tmp, "done"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return want, time.perf_counter() - t0


class Rep:
    __slots__ = ("wall", "cpu", "rss", "out", "execs", "error")


def run_rep(spark, wl, want, stores, jvm: int, sink: str,
            sampler=None, all_execs: bool = False) -> Rep:
    """One repetition plus its output check; an exception or a mismatch
    is recorded as the repetition's error, never raised.  ``r.execs``
    holds the repetition's SQL executions (only the last one unless
    *all_execs*); ``r.rss`` the tree's peak RSS during the job."""
    from perfbench import procmon
    r = Rep()
    r.out, r.execs, r.error, r.rss = None, [], None, 0
    last = stores.last_id()
    if sampler is not None:
        sampler.reset()
    c0 = procmon.cpu_seconds(jvm)
    t0 = time.perf_counter()
    try:
        r.out = wl.job(spark, sink)
    except Exception as e:  # a failed repetition counts, the run goes on
        r.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    r.wall = time.perf_counter() - t0
    r.cpu = procmon.cpu_seconds(jvm) - c0
    if sampler is not None:
        r.rss = sampler.reset()
    if r.error is None:
        try:
            r.execs = stores.since(last, only_last=not all_execs)
            rows = r.execs[-1].rows_out() if r.execs else -1
            r.error = wl.check(spark, want, r.out, rows)
        except Exception as e:
            r.error = f"check raised {type(e).__name__}: {e}"
    return r


def warm_up(spark, wl, want, stores, jvm: int, sampler=None) -> list:
    """The workload's fixed number of untimed repetitions (the JVM and
    the Python workers keep speeding up for several): the first collects
    its whole output for the content check, noop ones (row-count
    checked) follow."""
    reps = [run_rep(spark, wl, want, stores, jvm, "collect", sampler)]
    for _ in range(wl.warmup_reps - 1):
        reps.append(run_rep(spark, wl, want, stores, jvm, "noop", sampler))
    return reps


def timed_reps(spark, wl, want, stores, jvm: int, seconds: float,
               sampler) -> list:
    reps: list[Rep] = []
    t0 = time.perf_counter()
    while True:
        reps.append(run_rep(spark, wl, want, stores, jvm, "noop", sampler))
        now = time.perf_counter()
        if len(reps) >= MIN_REPS and now - t0 >= seconds:
            break
        if now - T_START + reps[-1].wall > DEADLINE_S:
            break
    return reps


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    setup_env(cores)
    try:
        import ccspark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    from perfbench import gen
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(WORKLOADS)})", file=sys.stderr)
        return 2

    inp, facts = gen.ensure(args.workload, args.seed, cores)
    scratch = os.path.join(CACHE, "out", f"{args.workload}-{os.getpid()}")
    wl = WORKLOADS[args.workload](inp, facts, scratch)
    want, oracle_s = expected_outputs(wl, inp, cores)
    stamp = source_stamp(cores)
    say(f"perfbench {args.workload} seed={args.seed} "
        f"trace={args.trace} seconds={args.seconds:g}")
    say("stamp " + json.dumps(stamp, sort_keys=True))
    say("inputs " + json.dumps(facts, sort_keys=True))
    say(f"generation_s={facts['gen_s']:.3f} oracle_s={oracle_s:.3f} "
        "(outside setup_s)")
    try:
        if args.trace:
            result = traced(wl, want, cores, args)
        else:
            result = untraced(wl, want, cores, args)
    finally:
        shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0


def _metric(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def untraced(wl, want, cores: int, args) -> dict:
    from perfbench import procmon
    from perfbench.sparkstats import Stores

    spark, setup_s, _, _ = start_session(wl, cores)
    jvm = jvm_pid()
    stores = Stores(spark)
    sampler = procmon.PeakRss(jvm).start()
    try:
        warm = warm_up(spark, wl, want, stores, jvm, sampler)
        steal0 = procmon.steal_seconds()
        reps = timed_reps(spark, wl, want, stores, jvm, args.seconds,
                          sampler)
        steal = procmon.steal_seconds() - steal0
    finally:
        sampler.stop()
    done = [r for r in reps if r.error is None] or reps
    errors = [r.error for r in warm + reps if r.error]
    attempted, failed = len(warm) + len(reps), len(errors)
    wall = statistics.median(r.wall for r in done)
    m = {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "cpu_s": statistics.median(r.cpu for r in done),
        "peak_rss_mb": statistics.median(r.rss for r in done) / MB,
        "ok_rate": 1.0 - failed / attempted,
    }
    n = len(done)
    say(f"setup_s      {setup_s:.4f} s      one cold set-up (JVM launch, "
        "Python worker boot, program preparation)")
    say(f"wall_s       {wall:.4f} s      median of {n} timed repetitions "
        f"({', '.join(f'{r.wall:.3f}' for r in reps)}; warm-up "
        f"{', '.join(f'{r.wall:.3f}' for r in warm)} not counted)")
    say(f"docs_per_s   {m['docs_per_s']:.1f} docs/s  {wl.n_docs} input "
        f"docs / wall_s")
    say(f"cpu_s        {m['cpu_s']:.4f} s      median of {n} "
        f"({', '.join(f'{r.cpu:.2f}' for r in reps)}; JVM + Python "
        "daemon/workers, reaped children included)")
    say(f"peak_rss_mb  {m['peak_rss_mb']:.1f} MB     median of {n} "
        f"per-repetition peaks (highest {max(r.rss for r in reps) / MB:.1f};"
        f" warm-up {max(r.rss for r in warm) / MB:.1f})")
    say(f"error_rate   {failed / attempted:.4f} ratio  {failed} failed "
        f"of {attempted} attempted")
    say(f"host: {steal:.2f} CPU-s stolen by other guests during the timed "
        "repetitions")
    say("output check: " + ("PASS" if not errors else
                            "FAIL: " + " | ".join(errors[:3])))
    return {"correct": not errors, "attempted": attempted,
            "failed": failed,
            "metrics": {k: _metric(m[k], u) for k, u in END_TO_END}}


def traced(wl, want, cores: int, args) -> dict:
    from perfbench import trace
    from perfbench.sparkstats import Stores

    spark, _, session_s, _ = start_session(wl, cores)
    stores = Stores(spark)
    py = [n for e in stores.since(-1) for n in e.named("MapInArrow")]
    boot = sum(n.m("time to start Python workers", "max")
               + n.m("time to initialize Python workers", "max")
               for n in py)
    jvm = jvm_pid()
    warm = warm_up(spark, wl, want, stores, jvm)
    # one repetition with all its SQL executions for the engine totals
    rep = run_rep(spark, wl, want, stores, jvm, "noop", all_execs=True)
    m = {"session.start_s": session_s,
         "session.python_worker_start_s": boot}
    m.update(trace.spark_rep(stores, rep.execs, rep.wall, rep.cpu, cores))

    tracer = trace.Tracer(spark)
    t_traced = time.perf_counter()
    for name, parent, thunk in wl.cut_points(spark):
        tracer.span(name, parent, thunk, SPAN_REPS)
    chain_s = time.perf_counter() - t_traced
    # the reference wall_s comes from untraced repetitions right after
    # the traced pass: the JVM and Python workers keep warming for
    # several repetitions, so repetitions before the pass run colder
    after = [run_rep(spark, wl, want, stores, jvm, "noop")
             for _ in range(RECONCILE_REPS)]
    errors = [r.error for r in warm + [rep] + after if r.error]
    wall = statistics.median(r.wall for r in after)
    last_span = tracer.spans[-1]["name"]
    traced_full = tracer.dur(last_span)
    if wl.name == "full_build":
        m.update(trace.full_build_layers(tracer, wl.write_dir))
        m.update(trace.kernel_timings(os.path.join(wl.inp, "pages"),
                                      args.seed, wl.model))
    else:
        m.update(trace.near_dup_layers(tracer, wl.max_bucket(spark)))
    m["trace.overhead_s"] = traced_full - wall
    m["trace.self_sum_ratio"] = traced_full / wall
    tracer.write(os.path.join(CACHE, "traces",
                              f"{wl.name}-seed{args.seed}-"
                              f"{tracer.run_id}.json"))
    ok = abs(m["trace.self_sum_ratio"] - 1.0) <= RECONCILE_TOL
    say(f"traced chain: {len(tracer.spans)} spans ({SPAN_REPS} runs each) "
        f"in {chain_s:.2f} s; "
        f"untraced wall_s {wall:.4f} s (median of {len(after)} after it: "
        f"{', '.join(f'{r.wall:.3f}' for r in after)}; before it: "
        f"{rep.wall:.3f})")
    for s in tracer.spans:
        say(f"  span {s['name']:<28} {s['end'] - s['start']:8.3f} s  "
            f"self {tracer.self_s(s['name']):8.3f} s  parent {s['parent']}")
    say(f"reconcile: layer self times sum to {traced_full:.3f} s = "
        f"{m['trace.self_sum_ratio']:.3f} x untraced wall_s (tolerance "
        f"+-{RECONCILE_TOL:.0%}): {'ok' if ok else 'OUTSIDE'}; "
        f"tracing overhead {m['trace.overhead_s']:+.3f} s")
    say("output check: " + ("PASS" if not errors else
                            "FAIL: " + " | ".join(errors[:3])))
    attempted = len(warm) + 1 + len(after)
    return {"correct": not errors, "attempted": attempted,
            "failed": len(errors),
            "metrics": {k: _metric(m.get(k, 0.0), u) for k, u in PER_LAYER}}


if __name__ == "__main__":
    sys.exit(main())
