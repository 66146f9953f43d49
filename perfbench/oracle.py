"""Expected outputs, computed without Spark, once per (workload, seed).

* ``full_build``: the DuckDB twin ``training_corpus`` for the pre-LID
  frame, and, over it, a DuckDB rendering of ``finalize``'s documented
  semantics (newline-join lines per page in line order, per-country cap
  by (md5(url), url), keep-first text dedup by url) for the rows that
  must land in the written files.  LID labels have no twin; they are
  checked against the driver-side ``NgramLidModel.predict`` on a sample.
* ``near_dup``: an independent Python transcription of
  ``dedup_near(pre_exact=True, verify_exact=True)`` with the md5 hash
  family (shingles, affine min-hashes, banded LSH, exact Jaccard
  verification, union-find components).  The DuckDB twin
  ``near_dup_removal`` needs ~90 s per 5,000 documents on 4 cores, so it
  only vouches for this transcription on a small input (see the tests).

The twins are run with their kernel CTE materialized: DuckDB otherwise
inlines the cleaned-text expression into every rule predicate that
references it (about 10x slower, same result).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PRE_LID_COLS = ["domain", "tld", "country", "region", "url", "line_id",
                "text"]
FINAL_COLS = ["url", "domain", "country", "region", "text", "n_words"]


def duck(threads: int, tmp_dir: str):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _materialized(sql: str) -> str:
    return sql.replace("cleaned_lines AS (", "cleaned_lines AS MATERIALIZED (")


def full_build(con, inp: str, country_limit: int) -> dict:
    from ccspark import queries as Q
    from ccspark.sqlgen import DUCK
    con.register("documents", pq.read_table(os.path.join(inp, "docs.parquet")))
    sql = _materialized(Q.q_training_corpus(DUCK))
    con.execute(f"CREATE OR REPLACE TABLE tc AS {sql}")
    pre = con.execute(
        f"SELECT {', '.join(PRE_LID_COLS)} FROM tc").fetch_arrow_table()
    final = con.execute(f"""
WITH pages AS (
  SELECT url, domain, country, region,
         string_agg(text, chr(10) ORDER BY line_id) AS text
  FROM tc GROUP BY url, domain, country, region),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY country
                                 ORDER BY md5(url), url) AS rk
    FROM pages) WHERE rk <= {int(country_limit)}),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY text ORDER BY url) AS rn
    FROM capped) WHERE rn = 1)
SELECT url, domain, country, region, text,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
FROM kept""").fetch_arrow_table()
    pages = con.execute("SELECT count(DISTINCT url) FROM tc").fetchone()[0]
    return {"pre_lid": pre, "final": final, "lid_docs": int(pages)}


def _shingles(text: str, k: int) -> set:
    words = text.split(" ")
    sh = {" ".join(words[i:i + k])
          for i in range(max(len(words) - k, 0) + 1)}
    sh.discard("")
    return sh


def near_dup_survivors(doc_ids, texts, threshold: float, k: int = 3,
                       num_hashes: int = 12, bands: int = 4) -> list[int]:
    """Surviving doc ids of dedup_near(pre_exact=True, verify_exact=True,
    hash_family='md5')."""
    rep: dict[str, int] = {}
    for d, t in zip(doc_ids, texts):
        if t not in rep or d < rep[t]:
            rep[t] = d
    P = 2147483647
    a = np.array([1103515245 + 2 * i for i in range(num_hashes)], np.int64)
    b = np.array([12345 + 7 * i for i in range(num_hashes)], np.int64)
    per_band = max(1, num_hashes // bands)
    sets, buckets = {}, {}
    for t, d in rep.items():
        sh = _shingles(t, k)
        if not sh:
            continue
        sets[d] = sh
        h = np.array([int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                      for s in sh], np.int64)
        sig = ((a[:, None] * h[None, :] + b[:, None]) % P).min(axis=1)
        for bi in range(bands):
            key = (bi, tuple(sig[bi * per_band:(bi + 1) * per_band]))
            buckets.setdefault(key, []).append(d)
    cand = set()
    for ds in buckets.values():
        ds.sort()
        for i, x in enumerate(ds):
            for y in ds[i + 1:]:
                cand.add((x, y))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for x, y in cand:
        sx, sy = sets[x], sets[y]
        common = len(sx & sy)
        if common / (len(sx) + len(sy) - common) >= threshold:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    return sorted(d for d in rep.values() if find(d) == d)


def near_dup(inp: str) -> pa.Table:
    from ccspark import queries as Q
    docs = pq.read_table(os.path.join(inp, "docs"), columns=["doc_id", "text"])
    surv = near_dup_survivors(docs.column("doc_id").to_pylist(),
                              docs.column("text").to_pylist(),
                              Q.NEAR_DUP_TH)
    return pa.table({"doc_id": pa.array(surv, pa.int64())})


def sort_rows(t: pa.Table, cols: list[str]) -> pa.Table:
    t = t.select(cols)
    return t.sort_by([(c, "ascending") for c in cols])


def diff(got: pa.Table, want: pa.Table, cols: list[str]) -> str | None:
    """None when *got* and *want* hold the same multiset of rows over
    *cols*; else a one-line description of the first difference."""
    if got.num_rows != want.num_rows:
        return f"row count {got.num_rows} != expected {want.num_rows}"
    w = sort_rows(want, cols)
    g = got.select(cols)
    if g.schema != w.schema:
        g = g.cast(w.schema)
    g = sort_rows(g, cols)
    for c in cols:
        eq = pc.equal(g.column(c), w.column(c))
        bad = pc.invert(pc.fill_null(eq, False))
        if pc.any(bad).as_py():
            both_null = pc.and_(pc.is_null(g.column(c)),
                                pc.is_null(w.column(c)))
            bad = pc.and_(bad, pc.invert(both_null))
            if pc.any(bad).as_py():
                i = pc.index(bad, True).as_py()
                return (f"column {c} row {i}: {g.column(c)[i].as_py()!r} "
                        f"!= expected {w.column(c)[i].as_py()!r}")
    return None
