"""The workloads: how each one prepares, runs one repetition through
the program's public API, checks its output, and splits into cut points
for the traced run.

A repetition is one batch job from the stored input to a complete result
at the sink.  ``sink="noop"`` is the timed form; ``sink="collect"``
returns the full output for the content check (untimed warm-up).
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.dataset as ds

from perfbench import oracle


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    warmup_reps = 2   # untimed repetitions before the timed ones

    def __init__(self, inp: str, facts: dict, scratch: str):
        self.inp = inp
        self.facts = facts
        self.scratch = scratch
        self.n_docs = facts["rows"]

    def prepare(self, spark) -> None:
        """Program-side set-up (part of setup_s)."""

    def expected(self, con) -> dict[str, pa.Table]:
        raise NotImplementedError

    def job(self, spark, sink: str):
        raise NotImplementedError

    def check(self, spark, want: dict, out, last_rows: int) -> str | None:
        raise NotImplementedError

    def cut_points(self, spark) -> list:
        """[(span name, parent span name, thunk)] in pipeline order; the
        thunk runs the prefix to a noop sink (or, for the last one, the
        repetition itself)."""
        raise NotImplementedError


class FullBuild(Workload):
    """build_training_corpus (geo gate, then the C4 + Gopher page gates
    fused into the mapInArrow line stage, exact dedup, PII scrub) ->
    lid_pass -> finalize with a partitioned parquet write."""
    name = "full_build"
    # cap only the larger countries: a country keeps about 9.4% of the
    # gated pages on average, so the cap trims roughly half of them
    COUNTRY_CAP_FRAC = 0.035
    LID_SAMPLE = 40

    def __init__(self, inp, facts, scratch):
        super().__init__(inp, facts, scratch)
        self.country_limit = int(self.n_docs * self.COUNTRY_CAP_FRAC)
        self.model = None
        self._n_out = 0

    def pages(self, spark):
        return spark.read.parquet(os.path.join(self.inp, "pages"))

    def prepare(self, spark) -> None:
        from ccspark import geo, lid
        geo.cctld_dim(spark)
        geo.url_filter_dim(spark)
        train = (self.pages(spark).where("doc_id % 100 = 0")
                 .select("text", "lang"))
        self.model = lid.train(train)

    def expected(self, con) -> dict:
        exp = oracle.full_build(con, self.inp, self.country_limit)
        return {"pre_lid": exp["pre_lid"], "final": exp["final"]}

    def _lines(self, spark, scrub_pii: bool = True):
        from ccspark import queries as Q
        from ccspark.api import CCSparkCorpus
        cc = CCSparkCorpus(spark)
        return cc, cc.build_training_corpus(
            self.pages(spark), scrub_pii=scrub_pii,
            gopher_thresholds=Q.TRAINING_GOPHER_TH)

    def out_dir(self) -> str:
        self._n_out += 1
        path = os.path.join(self.scratch, f"finalize-{self._n_out}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def job(self, spark, sink: str):
        cc, lines = self._lines(spark)
        pre = lines.toArrow() if sink == "collect" else None
        path = self.out_dir()
        cc.finalize(cc.lid_pass(lines, self.model), out_path=path,
                    country_limit=self.country_limit)
        return pre, path

    def check(self, spark, want, out, last_rows):
        pre, path = out
        try:
            if pre is not None:
                err = oracle.diff(pre, want["pre_lid"], oracle.PRE_LID_COLS)
                if err:
                    return f"pre-LID frame: {err}"
            got = read_partitioned(path)
            err = oracle.diff(got, want["final"], oracle.FINAL_COLS)
            if err:
                return f"written corpus: {err}"
            rows = got.to_pylist()
            rng = random.Random(len(rows))
            for r in rng.sample(rows, min(self.LID_SAMPLE, len(rows))):
                if r["language"] != self.model.predict(r["text"]):
                    return (f"language {r['language']!r} != driver-side "
                            f"predict for {r['url']}")
            return None
        finally:
            shutil.rmtree(path, ignore_errors=True)

    def cut_points(self, spark) -> list:
        from ccspark import pipeline, skew
        from ccspark import queries as Q
        pages = self.pages(spark)
        cc, lines = self._lines(spark)
        _, lines_raw = self._lines(spark, scrub_pii=False)
        in_cols = ["domain", "tld", "country", "region", "url", "lang"]
        th = Q.TRAINING_GOPHER_TH

        def page_gate(chunk):
            # the composite's fused page gate: C4, then Gopher on the C4
            # survivors only
            import numpy as np
            import pyarrow as pa

            from ccspark import arrowgate
            text = chunk.column(chunk.schema.get_field_index("text"))
            lang = chunk.column(chunk.schema.get_field_index("lang"))
            mask = arrowgate.c4_keep_batch(text)
            idx = np.flatnonzero(mask)
            if idx.size:
                ia = pa.array(idx)
                mask[idx] = arrowgate.gopher_keep_batch(
                    text.take(ia), lang.take(ia), thresholds=th)
            return mask

        def kernel():
            # the gated kernel's kept lines, before the exact dedup
            geo_pages = pipeline.with_geo(pages).select(*in_cols, "text")
            return pipeline.explode_clean_fused(geo_pages,
                                                page_gate=page_gate)

        def lid():
            return cc.lid_pass(lines, self.model)

        def final(path=None):
            return cc.finalize(lid(), out_path=path,
                               country_limit=self.country_limit)

        self.write_dir = self.out_dir()
        return [
            ("scan", None, lambda: noop(pages.select("url", "text", "lang"))),
            ("geo", "scan", lambda: noop(
                pipeline.with_geo(pages).select(*in_cols, "text"))),
            ("arrowkernel", "geo", lambda: noop(kernel())),
            ("dedup.exact", "arrowkernel", lambda: noop(lines_raw)),
            ("scrub", "dedup.exact", lambda: noop(lines)),
            ("lid", "scrub", lambda: noop(lid())),
            ("finalize.cap", "lid", lambda: noop(
                skew.cap_per_key(lid(), "country", self.country_limit,
                                 "url"))),
            ("finalize", "lid", lambda: noop(final())),
            ("write", "finalize", lambda: final(self.write_dir)),
        ]


class NearDup(Workload):
    """dedup.dedup_near(pre_exact=True, verify_exact=True), md5 family,
    to a noop sink."""
    name = "near_dup"
    # its first repetition alone (~45 cold jobs) takes 2.5x a warm one;
    # a second warm-up would push a run past its share of the time
    warmup_reps = 1

    def docs(self, spark):
        return spark.read.parquet(os.path.join(self.inp, "docs"))

    def expected(self, con) -> dict:
        return {"survivors": oracle.near_dup(self.inp)}

    def job(self, spark, sink: str):
        from ccspark import dedup
        from ccspark import queries as Q
        out = dedup.dedup_near(self.docs(spark), threshold=Q.NEAR_DUP_TH,
                               pre_exact=True, verify_exact=True)
        if sink == "collect":
            return out.select("doc_id").toArrow()
        noop(out)

    def check(self, spark, want, out, last_rows):
        if out is not None:
            return oracle.diff(out, want["survivors"], ["doc_id"])
        n = want["survivors"].num_rows
        return None if last_rows == n else f"rows {last_rows} != {n}"

    def rep_docs(self, docs):
        """dedup_near's pre_exact step (min doc_id per exact text)."""
        from pyspark.sql import functions as F
        rep = (docs.select(F.xxhash64("text").alias("_th"), "doc_id")
               .groupBy("_th").agg(F.min("doc_id").alias("doc_id")))
        return docs.join(rep.select("doc_id"), "doc_id", "left_semi")

    def cut_points(self, spark) -> list:
        from pyspark.sql import functions as F

        from ccspark import dedup
        from ccspark import queries as Q
        th = Q.NEAR_DUP_TH
        docs = self.docs(spark)
        rep = self.rep_docs(docs)
        p = "dedup.near."
        return [
            ("scan", None, lambda: noop(docs.select("doc_id", "text"))),
            (p + "pre_exact", "scan", lambda: noop(rep)),
            (p + "shingle", p + "pre_exact",
             lambda: noop(dedup.shingles(rep))),
            (p + "signature", p + "shingle", lambda: noop(
                dedup.minhash_signatures(dedup.shingles(rep), 12))),
            (p + "pairs", p + "signature", lambda: noop(
                dedup.minhash_near_dups(rep, num_hashes=12, bands=4))),
            (p + "verify", p + "pairs", lambda: noop(
                dedup.jaccard_on_candidates(
                    rep, dedup.minhash_near_dups(rep, num_hashes=12,
                                                 bands=4))
                .where(F.col("jaccard") >= th))),
            (p + "components", p + "verify", lambda: noop(
                dedup.near_dup_clusters(rep, th, verify_exact=True))),
            (p + "removal", p + "components", lambda: noop(
                dedup.dedup_near(docs, th, pre_exact=True,
                                 verify_exact=True))),
        ]

    def max_bucket(self, spark) -> int:
        """Largest LSH bucket (documents sharing one band digest)."""
        from pyspark.sql import functions as F

        from ccspark import dedup
        rep = self.rep_docs(self.docs(spark))
        sig = dedup.minhash_signatures(dedup.shingles(rep), 12)
        banded = dedup.banded_signatures(sig, bands=4, hash_family="md5")
        row = (banded.groupBy("digest").count()
               .agg(F.max("count").alias("m")).collect()[0])
        return int(row["m"] or 0)


def read_partitioned(path: str) -> pa.Table:
    part = ds.HivePartitioning.discover(infer_dictionary=False)
    return ds.dataset(path, format="parquet", partitioning=part).to_table()


WORKLOADS = {w.name: w for w in (FullBuild, NearDup)}
