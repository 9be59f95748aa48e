"""Tests for the benchmark's own code: generator determinism, the
independent ingest oracle, the checkers, and the output contract.

Run from the repository root: ``python3 -m pytest metrobench/tests -q``.
The last tests run the benchmark itself (a few minutes).
"""

from __future__ import annotations

import csv
import filecmp
import json
import os
import subprocess
import sys
from datetime import datetime

import pytest

from metrobench import check, gen

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs if f != "manifest.json")


def _metro(d, seed, sizes=(300, 300, 300, 300)):
    return gen.write_metro(str(d), seed, list(sizes), replay_at=2)


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a, b, c = (_metro(tmp_path / n, s) for n, s in (("a", 5), ("b", 5), ("c", 6)))
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") == _files(tmp_path / "c")
    for n in names:
        assert filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False), n
    assert any(not filecmp.cmp(tmp_path / "a" / n, tmp_path / "c" / n, shallow=False)
               for n in names)
    assert a["input_bytes"] == b["input_bytes"] and a["lines"] == b["lines"]
    # the re-landed chunk replays its predecessor byte for byte
    assert a["chunks"][2]["replay_of"] == a["chunks"][1]["name"]
    assert filecmp.cmp(a["chunks"][1]["path"], a["chunks"][2]["path"], shallow=False)


def test_star_generator_is_byte_identical_per_seed(tmp_path):
    for n, s in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_star(str(tmp_path / n), s, scale=0.001)
    for t in check.STAR_TABLES:
        f = f"{t}.parquet"
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet",
                           tmp_path / "c" / "lineitem.parquet", shallow=False)


def test_generated_chunks_carry_every_defect(tmp_path):
    m = _metro(tmp_path, 9, sizes=(2000, 2000))
    rows = []
    for c in m["chunks"]:
        with open(c["path"], newline="") as fh:
            rows += list(csv.reader(fh))[1:]
    lines = [tuple(r) for r in rows]
    assert len(lines) - len(set(lines)) >= 0.01 * len(lines)  # exact duplicates
    assert any(r[1].strip() in gen.BAD_DATES for r in rows)
    assert any(r[3].strip() in gen.BAD_QTYS for r in rows)
    assert any(r[2].strip().startswith("PX") for r in rows)
    assert any(r[4].strip().startswith("CX") for r in rows)
    years = {r[1].strip()[:4] for r in rows}
    assert {"2019", "2020"} <= years
    per_order = {}
    for i, c in enumerate(m["chunks"]):
        with open(c["path"], newline="") as fh:
            for r in list(csv.reader(fh))[1:]:
                per_order.setdefault(r[0].strip(), set()).add(i)
    assert any(len(v) > 1 for v in per_order.values())  # orders cross chunks


def _python_reference(masters, paths):
    """The reference rules in plain Python, to cross-check the DuckDB
    oracle: trim, skip bad dates/quantities, keep a line whose product
    or customer is known, first admission per order in landing order,
    the minimum line of that chunk."""
    def read(p):
        with open(p, newline="") as fh:
            return [[f.strip() for f in r] for r in list(csv.reader(fh))[1:]]

    prices = {}
    for r in read(masters["products"]):
        try:
            prices.setdefault(r[0], (float(r[2]), round(float(r[2]) * 100), r[3], r[5]))
        except ValueError:
            pass
    custs = {r[0] for r in read(masters["customers"]) if r[0]}
    admitted = {}
    for seq, p in enumerate(paths):
        best = {}
        for oid, date, prod, qty, cust, tid in read(p):
            try:
                ts = datetime.strptime(date, "%Y-%m-%d %H:%M:%S")
                q = int(qty)
            except ValueError:
                continue
            if not oid or (prod not in prices and cust not in custs):
                continue
            price, cents, sup, store = prices.get(prod, (None, None, None, None))
            key = (cust, prod, ts, q, tid)
            if oid not in best or key < best[oid][0]:
                best[oid] = (key, q, cents, store, ts)
        for oid, row in best.items():
            admitted.setdefault(oid, row)
    quarterly, rows, mills, qty = {}, 0, 0, 0
    for _, q, cents, store, ts in admitted.values():
        rows += 1
        qty += q
        m = None if cents is None else q * cents * 10
        mills += m or 0
        k = (store, (ts.month + 2) // 3, ts.year)
        pm, pq = quarterly.get(k, (None, 0))
        quarterly[k] = (pm if m is None else (pm or 0) + m, pq + q)
    return {"rows": rows, "mills": mills, "qty": qty, "quarterly": quarterly}


def test_ingest_oracle_matches_plain_python_reference(tmp_path):
    m = _metro(tmp_path, 11)
    paths = [c["path"] for c in m["chunks"]]
    oracle = check.IngestOracle(m["masters"]["products"], m["masters"]["customers"], paths)
    for k in (1, 2, 3, 4):
        assert oracle.after(k) == _python_reference(m["masters"], paths[:k])
    # the all-replay chunk admits nothing
    assert oracle.after(3)["rows"] == oracle.after(2)["rows"]


def _served(want):
    return [(s, q, y, None if m is None else m / 1000.0, n)
            for (s, q, y), (m, n) in want["quarterly"].items()]


def test_checkers_reject_a_wrong_aggregate(tmp_path):
    m = _metro(tmp_path, 12)
    want = check.IngestOracle(m["masters"]["products"], m["masters"]["customers"],
                              [c["path"] for c in m["chunks"]]).after(4)
    check.check_quarterly(_served(want), want)
    check.check_totals((want["mills"] / 1000.0, want["qty"]), want)

    wrong = _served(want)
    s, q, y, rev, n = next(r for r in wrong if r[3] is not None)
    wrong[wrong.index((s, q, y, rev, n))] = (s, q, y, rev + 0.001, n)  # one mill
    with pytest.raises(check.CheckFailed):
        check.check_quarterly(wrong, want)
    with pytest.raises(check.CheckFailed):
        check.check_quarterly(_served(want)[1:], want)  # a missing group
    with pytest.raises(check.CheckFailed):
        check.check_totals((want["mills"] / 1000.0 + 0.002, want["qty"]), want)
    with pytest.raises(check.CheckFailed):
        check.check_totals((want["mills"] / 1000.0, want["qty"] + 1), want)


def test_olap_comparison_is_bit_exact():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", 1.5)]
    want = check.normalize(rows, ["id", "name", "x"])
    check.compare_result("q", check.normalize(list(reversed(rows)), ["id", "name", "x"]), want)
    with pytest.raises(check.CheckFailed):
        check.compare_result("q", check.normalize([(1, "a", 0.3), (2, "b", 1.5)],
                                                  ["id", "name", "x"]), want)


def _bench(workload, trace):
    p = subprocess.run(
        [sys.executable, "-m", "metrobench.run", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_output_names_every_metric_of_benchmark_json(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    section = spec["per_layer" if trace else "end_to_end"]
    out = _bench("fresh_serve", trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in section} == {
        k: v["unit"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        for name in ("etl.load_batch_s", "etl.refresh_s", "streaming.batches",
                     "sinks.insert_if_absent_s.sales_fact", "self_s.sinks",
                     "trace.untraced_op_s"):
            assert out["metrics"][name]["value"] > 0, name


def test_stream_ingest_drains_and_checks():
    """stream_ingest is not listed in BENCHMARK.json; this keeps it run."""
    out = _bench("stream_ingest", 1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["streaming.batches"] >= 3
    for name in ("latency.throughput_per_s", "etl.load_batch_s",
                 "sinks.insert_if_absent_s.sales_fact", "trace.untraced_op_s"):
        assert m[name] > 0, name
    assert m["etl.refresh_s"] == 0  # the quarterly aggregate is not maintained
