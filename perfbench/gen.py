"""Seeded input generator for the benchmark workloads.

The program under test only ever sees the stored parquet files written
here.  Inputs are a pure function of (workload, seed, GEN_VERSION):

* base documents mimic the repository's ``documents`` fixture table
  (doc_id, text, lang, source, n_chars): English-looking word salad over
  the fixture's own 31-word vocabulary, the fixture's language mix and
  its 44-577 character length range;
* ``full_build`` pages are those documents with a
  multi-line body whose lines are drawn with Zipf-like copy counts from a
  shared line pool (so exact line dedup removes a large share), passed
  through the repository's own page synthesis
  (``ccspark.fixtures_sql.pages_synthesis_sql`` rendered for DuckDB):
  ccTLD variety, non-geographic and multinational domains, one
  mega-domain carrying 20% of the pages, rule-hitting extra lines;
* ``near_dup`` documents are mostly unique, plus seeded groups of
  near-copies (one distinct word edit per copy) and exact copies.

Outputs are cached under ``<checkout>/.perfbench_cache`` keyed by
workload, seed, size and GEN_VERSION, so repeated runs on one seed skip
generation.  Generation time is reported on its own, never in setup_s.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 3

# the repository's documents fixture vocabulary (word salad, lang labels
# are decorative there too)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# input size per workload (documents before synthesis): one run of each
# (cold set-up, warm-up, timed repetitions) stays under a minute on 4
# cores, so that the benchmark's whole sequence of runs fits its time
SIZES = {"full_build": 1_000, "near_dup": 1_000}
PAGE_FILES = 8


def root_dir() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_root() -> str:
    return os.path.join(root_dir(), ".perfbench_cache")


def _words(rng: np.random.Generator, n_words: np.ndarray) -> list[str]:
    """One word-salad string per entry of *n_words*."""
    vocab = np.array(VOCAB, dtype=object)
    flat = vocab[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    starts = ends - n_words
    return [" ".join(flat[s:e]) for s, e in zip(starts, ends)]


def base_documents(rng: np.random.Generator, n: int) -> dict:
    """Columns of a documents-fixture-shaped table with *n* rows."""
    n_words = rng.integers(7, 96, n)
    text = _words(rng, n_words)
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": list(lang),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


SPAM_FRAC = 0.15     # pages carrying boilerplate the C4 page gate drops
SPAM_LINE = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"


def _page_bodies(rng: np.random.Generator, n: int) -> tuple[list, dict]:
    """Multi-line page bodies: 2-6 content lines each; 45% of the lines
    are fresh, the rest drawn from a shared pool by a Zipf(1.3) rank, so a
    few lines repeat thousands of times and most repeat a handful.  A
    seeded SPAM_FRAC of the pages also carry a lorem-ipsum line."""
    n_lines = rng.integers(2, 7, n)
    total = int(n_lines.sum())
    pool_size = max(1000, n // 2)
    pool = _words(rng, rng.integers(9, 20, pool_size))
    fresh_mask = rng.random(total) < 0.45
    fresh = _words(rng, rng.integers(9, 20, int(fresh_mask.sum())))
    rank = np.minimum(rng.zipf(1.3, total), pool_size) - 1
    lines = np.empty(total, dtype=object)
    lines[fresh_mask] = fresh
    pool_arr = np.array(pool, dtype=object)
    lines[~fresh_mask] = pool_arr[rank[~fresh_mask]]
    ends = np.cumsum(n_lines)
    starts = ends - n_lines
    bodies = ["\n".join(lines[s:e]) for s, e in zip(starts, ends)]
    spam = np.flatnonzero(rng.random(n) < SPAM_FRAC)
    for i in spam:
        bodies[i] += "\n" + SPAM_LINE
    distinct = len(set(lines.tolist()))
    return bodies, {"content_lines": total,
                    "distinct_line_frac": round(distinct / total, 4),
                    "spam_pages": int(len(spam))}


def _near_dup_docs(rng: np.random.Generator, n: int) -> tuple[dict, dict]:
    """Documents for near_dup: ~70% unique, ~24% in near-copy groups of
    2-10 (a long source plus copies that each change one distinct word),
    ~6% exact copies of other documents."""
    n_groups_docs = int(n * 0.24)
    n_exact = int(n * 0.06)
    n_unique = n - n_groups_docs - n_exact
    docs = base_documents(rng, n_unique)
    texts = list(docs["text"])
    group_sizes = []
    left = n_groups_docs
    while left > 1:
        m = int(min(left, rng.integers(2, 11)))
        group_sizes.append(m)
        left -= m
    for m in group_sizes:
        src = _words(rng, rng.integers(150, 260, 1))[0].split(" ")
        texts.append(" ".join(src))
        for _ in range(m - 1):
            w = list(src)
            pos = int(rng.integers(0, len(w)))
            repl = [v for v in VOCAB if v != w[pos]]
            w[pos] = repl[int(rng.integers(0, len(repl)))]
            texts.append(" ".join(w))
    while len(texts) < n - n_exact:
        texts.append(_words(rng, rng.integers(7, 96, 1))[0])
    n_exact = n - len(texts)
    copies = rng.integers(0, len(texts), n_exact)
    texts.extend(texts[i] for i in copies)
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), len(texts), p=LANG_P)]
    out = {
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": list(lang),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    sizes = np.bincount(np.array(group_sizes, dtype=np.int64))
    facts = {
        "near_copy_group_sizes": {str(k): int(v) for k, v in
                                  enumerate(sizes) if v},
        "exact_copy_rows": int(n_exact),
        "distinct_text_frac": round(len(set(texts)) / len(texts), 4),
    }
    return out, facts


def _duck(threads: int):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    return con


def _synthesize_pages(docs: pa.Table, threads: int) -> pa.Table:
    """The repository's page synthesis over *docs*, plus the stored
    table's warc_ts/html columns (deterministic, like pages_spark)."""
    from ccspark.fixtures_sql import pages_synthesis_sql
    from ccspark.sqlgen import DUCK
    con = _duck(threads)
    con.register("documents", docs)
    sql = (f"SELECT doc_id, url, "
           f"to_timestamp(1664032538 + doc_id) AS warc_ts, "
           f"encode('<html><body>' || text || '</body></html>') AS html, "
           f"text, lang FROM {pages_synthesis_sql(DUCK, 'documents')} p "
           f"ORDER BY doc_id")
    out = con.execute(sql).fetch_arrow_table()
    con.close()
    return out.cast(pa.schema([
        ("doc_id", pa.int64()), ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
        ("text", pa.string()), ("lang", pa.string())]))


def _write_files(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       compression="snappy")


def build(workload: str, seed: int, out_dir: str, threads: int = 4,
          n: int | None = None) -> dict:
    """Generate the inputs of *workload* for *seed* into *out_dir*:
    ``docs.parquet`` (base documents, what the DuckDB oracle reads) and,
    for page workloads, ``pages/`` (what the program reads).  *n*
    overrides the workload's document count.  Returns the input facts."""
    rng = np.random.default_rng([seed, GEN_VERSION,
                                 sorted(SIZES).index(workload)])
    n = n or SIZES[workload]
    os.makedirs(out_dir)
    if workload == "near_dup":
        cols, facts = _near_dup_docs(rng, n)
        docs = pa.table(cols)
        _write_files(docs, os.path.join(out_dir, "docs"), PAGE_FILES)
        text = docs.column("text").to_pylist()
        facts.update(rows=docs.num_rows,
                     text_bytes=sum(len(t.encode()) for t in text))
        return facts
    cols = base_documents(rng, n)
    bodies, facts = _page_bodies(rng, n)
    cols["text"] = [f"{b}\n{t}" for b, t in zip(bodies, cols["text"])]
    cols["n_chars"] = np.array([len(t) for t in cols["text"]], np.int64)
    docs = pa.table(cols)
    pq.write_table(docs, os.path.join(out_dir, "docs.parquet"))
    pages = _synthesize_pages(docs, threads)
    _write_files(pages, os.path.join(out_dir, "pages"), PAGE_FILES)
    urls = pages.column("url").to_pylist()
    hosts = collections.Counter(u.split("/")[2] for u in urls)
    top = max(hosts.values())
    facts.update(
        rows=pages.num_rows,
        text_bytes=sum(len(t.encode()) for t in
                       pages.column("text").to_pylist()),
        largest_domain_share=round(top / len(urls), 4))
    return facts


KEEP_SEEDS = 24   # cached seeds per workload; the oldest go first


def _evict(parent: str) -> None:
    dirs = [os.path.join(parent, d) for d in os.listdir(parent)
            if d.startswith("seed-") and ".tmp" not in d]
    dirs.sort(key=os.path.getmtime)
    for d in dirs[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)


def ensure(workload: str, seed: int, threads: int = 4) -> tuple[str, dict]:
    """Cached generation: returns (input dir, facts).  facts carries
    ``gen_s`` (0.0 on a cache hit) and ``cached``."""
    parent = os.path.join(cache_root(), f"gen-v{GEN_VERSION}", workload)
    path = os.path.join(parent, f"seed-{seed}-n{SIZES[workload]}")
    meta = os.path.join(path, "facts.json")
    if os.path.exists(meta):
        with open(meta) as f:
            facts = json.load(f)
        facts.update(gen_s=0.0, cached=True)
        return path, facts
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    facts = build(workload, seed, tmp, threads)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(parent)
    facts.update(gen_s=round(gen_s, 3), cached=False)
    return path, facts
