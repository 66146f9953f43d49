"""The traced run: spans around calls into each layer, Spark's own SQL and
stage metrics folded into the layer that planned them, and direct
single-thread timings of the batch kernels.

Cut points: each prefix of a workload's public-function chain runs to a
noop sink inside its own span (the fastest of a few runs).  A span's
parent is the prefix it extends, so a layer's self time is its span
minus its parent span (the parent's work is re-executed inside the
child's job).  Additive operator metrics
(Python time, shuffle bytes, ...) split between layers the same way.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid

from perfbench.sparkstats import Stores


class Tracer:
    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.execs: dict[str, list] = {}
        self.stores = Stores(spark)

    def span(self, name: str, parent: str | None, thunk,
             reps: int = 1) -> float:
        """Run *thunk* *reps* times; keep the fastest run (its times and
        its SQL executions) as the span: noise on a busy host only ever
        adds time."""
        runs = []
        for _ in range(reps):
            last = self.stores.last_id()
            t0 = time.perf_counter()
            thunk()
            t1 = time.perf_counter()
            runs.append((t1 - t0, t0, t1, self.stores.since(last)))
        d, t0, t1, execs = min(runs, key=lambda r: r[0])
        self.spans.append({"name": name, "parent": parent, "start": t0,
                           "end": t1, "run_id": self.run_id})
        self.execs[name] = execs
        return d

    def dur(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        return s["end"] - s["start"]

    def self_s(self, name: str) -> float:
        s = next(s for s in self.spans if s["name"] == name)
        d = s["end"] - s["start"]
        return d - self.dur(s["parent"]) if s["parent"] else d

    def rows(self, name: str) -> int:
        return self.execs[name][-1].rows_out()

    def nodes(self, name: str, *ops: str) -> list:
        return [n for e in self.execs[name] for n in e.named(*ops)]

    def total(self, name: str, ops: tuple, metric: str,
              stat: str = "total") -> float:
        return sum(n.m(metric, stat) for n in self.nodes(name, *ops))

    def delta(self, name: str, ops: tuple, metric: str) -> float:
        """Additive metric of layer *name*: its prefix minus its parent."""
        s = next(s for s in self.spans if s["name"] == name)
        v = self.total(name, ops, metric)
        return v - self.total(s["parent"], ops, metric) if s["parent"] \
            else v

    def stage_ids(self, name: str) -> list[int]:
        return sorted({i for e in self.execs[name] for i in e.stage_ids})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


PY_OPS = ("MapInArrow", "ArrowEvalPython")
SORT_OPS = ("Sort",)
EXCH = ("Exchange",)
MB = float(1 << 20)


def dedup_exact(t: Tracer, name: str) -> dict:
    """Exact-dedup operators (partial+final aggregate on the line hash,
    its exchange and sorts) of prefix *name*."""
    ex = [n for n in t.nodes(name, *EXCH)
          if n.m("shuffle records written")]
    py = t.nodes(name, "MapInArrow")
    return {
        "dedup.exact.rows_in": sum(n.m("number of output rows") for n in py),
        "dedup.exact.rows_out": t.rows(name),
        "dedup.exact.partial_rows": sum(n.m("shuffle records written")
                                        for n in ex),
        "dedup.exact.shuffle_bytes": sum(n.m("shuffle bytes written")
                                         for n in ex),
        "dedup.exact.sort_s": t.total(name, SORT_OPS, "sort time"),
        "dedup.exact.peak_mem_mb": max(
            [n.m("peak memory", "max") for n in t.nodes(name, *SORT_OPS)]
            or [0.0]) / MB,
        "dedup.exact.spill_bytes": t.total(name, SORT_OPS, "spill size"),
        "dedup.exact.task_skew": t.stores.task_skew(t.stage_ids(name)),
    }


def common(t: Tracer, last: str) -> dict:
    return {
        "scan.bytes": t.total(last, ("Scan parquet",), "size of files read"),
        "scan.s": t.self_s("scan"),
    }


def geo_kernel(t: Tracer, kernel_span: str) -> dict:
    py = t.nodes(kernel_span, "MapInArrow")
    return {
        "geo.self_s": t.self_s("geo"),
        "geo.pages_in": t.rows("scan"),
        "geo.pages_out": t.rows("geo"),
        "geo.broadcast_s": sum(
            t.total("geo", ("BroadcastExchange",), k)
            for k in ("time to collect", "time to build",
                      "time to broadcast")),
        "arrowkernel.self_s": t.self_s(kernel_span),
        "arrowkernel.python_s": sum(n.m("time to run Python workers")
                                    for n in py),
        "arrowkernel.bytes_to_python": sum(
            n.m("data sent to Python workers") for n in py),
        "arrowkernel.bytes_from_python": sum(
            n.m("data returned from Python workers") for n in py),
        "arrowkernel.lines_out": sum(n.m("number of output rows")
                                     for n in py),
    }


def full_build_layers(t: Tracer, write_dir: str) -> dict:
    m = common(t, "write")
    m.update(geo_kernel(t, "arrowkernel"))
    m.update(dedup_exact(t, "dedup.exact"))
    m["dedup.exact.self_s"] = t.self_s("dedup.exact")
    lid_py = t.nodes("lid", "ArrowEvalPython")
    lid_docs = sum(n.m("number of output rows") for n in lid_py)
    files, size = 0, 0
    for d, _, names in os.walk(write_dir):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    from perfbench.workloads import read_partitioned
    rows = read_partitioned(write_dir).num_rows if files else 0
    m.update({
        "scrub.self_s": t.self_s("scrub"),
        "scrub.python_s": t.delta("scrub", PY_OPS,
                                  "time to run Python workers"),
        "lid.self_s": t.self_s("lid"),
        "lid.python_s": sum(n.m("time to run Python workers")
                            for n in lid_py),
        "lid.docs": lid_docs,
        "lid.reassembly_shuffle_bytes": t.delta(
            "lid", EXCH, "shuffle bytes written"),
        "finalize.self_s": t.self_s("finalize"),
        "finalize.cap_rows_dropped": lid_docs - t.rows("finalize.cap"),
        "write.s": t.self_s("write"),
        "write.files": files,
        "write.bytes": size,
        "write.bytes_per_row": size / rows if rows else 0.0,
    })
    return m


def near_dup_layers(t: Tracer, max_bucket: int) -> dict:
    p = "dedup.near."
    comp = t.execs[p + "components"]
    digests = sum(1 for e in comp if "bit_xor" in e.plan_text)
    last = p + "removal"
    stages = t.stage_ids(last)
    tot = t.stores.stage_totals(stages)
    buckets = t.nodes(p + "pairs", "ObjectHashAggregate")
    n_buckets = (min(buckets, key=lambda n: n.id).m("number of output rows")
                 if buckets else 0)
    pairs = t.rows(p + "pairs")
    m = common(t, last)
    m.update({f"{p}{k}.self_s": t.self_s(p + k) for k in (
        "shingle", "signature", "pairs", "verify", "components",
        "removal")})
    m.update({
        p + "pre_exact_dropped": t.rows("scan") - t.rows(p + "pre_exact"),
        p + "shingle_rows": t.rows(p + "shingle"),
        p + "buckets": n_buckets,
        p + "max_bucket": max_bucket,
        p + "pairs_emitted": pairs,
        p + "pairs_verified_frac": (t.rows(p + "verify") / pairs
                                    if pairs else 0.0),
        p + "cc_rounds": max(digests - 1, 0),
        p + "docs_removed": t.rows("scan") - t.rows(last),
        p + "shuffle_bytes": tot["shuffle_write_bytes"],
        p + "spill_bytes": tot["spill_bytes"],
        p + "peak_mem_mb": max(
            [n.m("peak memory", "max") for e in t.execs[last]
             for n in e.nodes] or [0.0]) / MB,
        p + "task_skew": t.stores.task_skew(stages),
    })
    return m


def spark_rep(stores: Stores, execs: list, wall_s: float, cpu_s: float,
              cores: int) -> dict:
    """Engine totals of one repetition (its SQL executions)."""
    stages = sorted({i for e in execs for i in e.stage_ids})
    tot = stores.stage_totals(stages)
    return {
        "spark.jobs": sum(e.n_jobs for e in execs),
        "spark.stages": len(stages),
        "spark.tasks": tot["tasks"],
        "spark.task_failures": tot["failed_tasks"] + tot["failed_attempts"],
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.fetch_wait_s": tot["fetch_wait_s"],
        "spark.shuffle_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.core_util": cpu_s / (wall_s * cores) if wall_s else 0.0,
    }


def _per_item_us(fn, batches, n_items: int, min_s: float = 0.5) -> float:
    """Median microseconds per item of fn over *batches*, looping the
    whole sample until *min_s* has passed (at least 3 passes)."""
    times = []
    t_end = time.perf_counter() + min_s
    while len(times) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        for b in batches:
            fn(b)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_items * 1e6


def kernel_timings(pages_dir: str, seed: int, model,
                   n_pages: int = 400) -> dict:
    """Single-thread timings of the batch kernels on a fixed seeded page
    sample (driver process, no Spark)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from ccspark import arrowgate, arrowkernel
    from ccspark.regexes import RE_LINE_SPLIT

    tbl = ds.dataset(pages_dir).to_table(columns=["text", "lang"])
    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(tbl.num_rows, min(n_pages, tbl.num_rows),
                             replace=False))
    sample = tbl.take(pa.array(idx))
    text = sample.column("text").combine_chunks()
    lang = sample.column("lang").combine_chunks()
    lines = pc.list_flatten(pc.split_pattern_regex(text, RE_LINE_SPLIT))
    out = {"arrowkernel.us_per_line": _per_item_us(
        arrowkernel.verdict_batch, [lines], len(lines))}
    out["arrowgate.c4_us_per_page"] = _per_item_us(
        arrowgate.c4_keep_batch, [text], len(text))
    out["arrowgate.gopher_us_per_page"] = _per_item_us(
        lambda t: arrowgate.gopher_keep_batch(t, lang), [text], len(text))
    keep = (arrowgate.c4_keep_batch(text)
            & arrowgate.gopher_keep_batch(text, lang))
    out["arrowgate.pages_kept_frac"] = float(keep.mean())
    docs = text.to_pylist()[:60]
    out["lid.us_per_doc"] = _per_item_us(
        lambda b: [model.predict(x) for x in b], [docs], len(docs),
        min_s=0.3)
    return out
