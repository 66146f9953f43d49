"""Tests of the benchmark's own machinery (not of the program):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from perfbench import gen, oracle, workloads


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(path):
        for f in names:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["full_build", "near_dup"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = gen.build(workload, 7, str(tmp_path / "a"), threads=2, n=400)
    b = gen.build(workload, 7, str(tmp_path / "b"), threads=2, n=400)
    c = gen.build(workload, 8, str(tmp_path / "c"), threads=2, n=400)
    fa, fb, fc = (_files(str(tmp_path / x)) for x in "abc")
    assert fa and fa == fb and a == b
    assert fa.keys() == fc.keys() and fa != fc


def test_page_inputs_repeat_lines_and_carry_skew(tmp_path):
    facts = gen.build("full_build", 1, str(tmp_path / "p"), threads=2,
                      n=2000)
    assert facts["rows"] == 2000
    assert 0.3 < facts["distinct_line_frac"] < 0.7
    assert facts["largest_domain_share"] > 0.05


def _table(cols: list[str], n: int = 5) -> pa.Table:
    return pa.table({c: [f"{c}{i}" for i in range(n)] for c in cols})


def _plant(t: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = t.column(col).to_pylist()
    vals[row] = value
    return t.set_column(t.schema.get_field_index(col), col,
                        pa.array(vals, t.schema.field(col).type))


class _Model:
    def predict(self, text: str) -> str:
        return "lang-" + text


def _write_partitioned(t: pa.Table, path) -> str:
    import pyarrow.dataset as ds
    ds.write_dataset(t, str(path), format="parquet",
                     partitioning=["country"], partitioning_flavor="hive")
    return str(path)


def test_full_build_check_catches_a_planted_one_row_difference(tmp_path):
    pre = _table(oracle.PRE_LID_COLS)
    final = _table(oracle.FINAL_COLS).set_column(
        oracle.FINAL_COLS.index("n_words"), "n_words",
        pa.array(range(5), pa.int32()))
    written = final.append_column(
        "language", pa.array(["lang-" + t for t in
                              final.column("text").to_pylist()]))
    want = {"pre_lid": pre, "final": final}
    wl = workloads.FullBuild.__new__(workloads.FullBuild)
    wl.model = _Model()

    def check(pre_out, table, name):
        path = _write_partitioned(table, tmp_path / name)
        err = wl.check(None, want, (pre_out, path), -1)
        assert not os.path.exists(path)   # the check removes the output
        return err

    assert check(pre, written, "ok") is None
    assert check(None, written.take(pa.array([4, 2, 0, 1, 3])),
                 "shuffled") is None
    err = check(_plant(pre, "text", 3, "text3 "), written, "pre")
    assert err and err.startswith("pre-LID frame") and "text" in err
    err = check(None, _plant(written, "url", 1, "url9"), "url")
    assert err and err.startswith("written corpus") and "url" in err
    assert check(None, written.slice(1), "short")
    err = check(None, _plant(written, "language", 2, "xx"), "lang")
    assert err and "driver-side predict" in err


def test_near_dup_check_catches_a_planted_one_row_difference():
    want = {"survivors": pa.table({"doc_id": pa.array([1, 4, 9],
                                                      pa.int64())})}
    wl = workloads.NearDup.__new__(workloads.NearDup)
    got = want["survivors"]
    assert wl.check(None, want, got.take(pa.array([2, 0, 1])), -1) is None
    err = wl.check(None, want, _plant(got, "doc_id", 1, 5), -1)
    assert err and "doc_id" in err
    assert wl.check(None, want, got.slice(1), -1)
    assert wl.check(None, want, None, 3) is None
    assert wl.check(None, want, None, 4)


def test_near_dup_transcription_matches_duckdb_twin(tmp_path):
    """The Python near-dup oracle agrees with the repository's DuckDB twin
    (query near_dup_removal, verified branch) on a small input with
    near-copy groups and exact copies."""
    import pyarrow.parquet as pq

    from ccspark import queries as Q
    gen.build("near_dup", 5, str(tmp_path / "nd"), threads=2, n=300)
    docs = pq.read_table(str(tmp_path / "nd" / "docs"))
    con = oracle.duck(2, str(tmp_path))
    con.register("documents", docs)
    twin = con.execute(
        f"SELECT doc_id FROM ({Q._near_dup_oracle()}) q "
        "WHERE path = 'ver' AND NOT survivor").fetchall()
    losers = {r[0] for r in twin}
    assert losers, "input must contain near-duplicates"
    want = sorted(set(docs.column("doc_id").to_pylist()) - losers)
    got = oracle.near_dup_survivors(docs.column("doc_id").to_pylist(),
                                    docs.column("text").to_pylist(),
                                    Q.NEAR_DUP_TH)
    assert got == want


def test_metric_lists_match_benchmark_json():
    import importlib.util
    import json
    here = os.path.dirname(os.path.abspath(__file__))
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, names in (("end_to_end", run.END_TO_END),
                       ("per_layer", run.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in bench[key]] == names
    assert {w["name"] for w in bench["workloads"]} <= set(
        workloads.WORKLOADS)
