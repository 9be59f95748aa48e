"""The three METRO workloads, driven through the package's public API.

Each workload function takes a ``Run`` (session, temp root, seed,
seconds, tracer, op counters), does its set-up, marks the first timed
operation with ``run.start_timing()``, measures, and returns its
end-to-end figures plus the per-layer figures a traced run reports.
Correctness checks are untimed; a failed check counts the operation as
failed, it never stops the run. A traced run also runs each timed
operation (a drain, for ``stream_ingest``) untraced, to report what
tracing costs against an untraced run.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext

from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.operators import (
    etl,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.plans import (
    oracles, queries, star,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.sources import (
    csv_inputs,
)
from near_real_time_data_warehouse_prototype_for_metro_shopping_store_in_pakistan_spark.streaming import (
    pipeline,
)

from . import check, gen

# The reference's OLAP suite: q00-q10, both q01 variants (12 builders).
OLAP_NAMES = [n for n in queries.OLAP_QUERIES if n[:3] <= "q10"]
STAR_SCALE = 0.002  # 12k lineitem rows
OLAP_SECONDS_PER_PASS = 10.0  # sizes the fixed olap_reads work from --seconds
INGEST_CHUNK_LINES = 25000
INGEST_WARM_LINES = 2000
INGEST_SECONDS_PER_CHUNK = 3.0  # sizes the fixed stream_ingest work from --seconds
FRESH_CHUNK_LINES = 2000
FRESH_SECONDS_PER_CYCLE = 10.0  # sizes the fixed fresh_serve work from --seconds


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _modes(run, i: int) -> tuple[bool, ...]:
    """Whether each run of operation ``i`` is untraced. An untraced run
    runs it once; a traced run runs it untraced and traced, untraced
    first for even ``i``, so neither side is always the warmer one."""
    if run.progress is None:
        return (False,)
    return (True, False) if i % 2 == 0 else (False, True)


def _maybe_untraced(run, untraced: bool):
    return run.untraced() if untraced else nullcontext()


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def _read_masters(run, data):
    """The two master relations, read and counted once (timed as the
    ``sources`` layer's set-up share)."""
    t = time.perf_counter()
    with run.tracer.span("sources.masters_read", "sources"):
        products = csv_inputs.read_products_master(run.spark, data["masters"]["products"])
        customers = csv_inputs.read_customers_master(run.spark, data["masters"]["customers"])
        products.count()
        customers.count()
    run.layer["sources.masters_read_s"] = time.perf_counter() - t
    run.layer["sources.input_bytes"] = data["input_bytes"]
    return products, customers


def _land(chunk: dict, tx_dir: str) -> None:
    """Move a pooled chunk into the watched directory in one rename."""
    os.replace(chunk["path"], os.path.join(tx_dir, chunk["name"]))


def _stream(run, tx_dir, wh_root, ckpt, products, customers, maintain):
    """One availableNow ``stream_etl`` run, one file per trigger;
    returns the finished query."""
    t = time.perf_counter()
    with run.tracer.span("streaming.start", "streaming"):
        q = pipeline.stream_etl(
            run.spark, tx_dir, wh_root, ckpt, products, customers,
            maintain_quarterly_agg=maintain, max_files_per_trigger=1,
        )
    if not run.paused:
        run.streaming_start.append(time.perf_counter() - t)
    with run.tracer.span("streaming.drain", "streaming"):
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream_etl failed: {q.exception()}")
    if run.t_first is not None and run.traced:
        run.measured_runs.add(str(q.runId))
        run.measured_batches += sum(p.numInputRows > 0 for p in q.recentProgress)
    return q


def _sink_layer(run, wh, input_bytes: int, input_lines: int) -> None:
    """End-of-run storage figures (untimed)."""
    fact = wh.read("sales_fact")
    admitted = fact.count() if fact is not None else 0
    agg = wh.read(etl.QUARTERLY_AGG_TABLE)
    run.layer["sinks.agg_partial_rows"] = agg.count() if agg is not None else 0
    run.layer["sinks.stored_bytes_per_input_byte"] = _dir_bytes(wh.root) / input_bytes
    run.layer["etl.admit_ratio"] = admitted / input_lines
    run.layer["etl.dropped_rows"] = input_lines - admitted


# --------------------------------------------------------------------------
# olap_reads
# --------------------------------------------------------------------------

def olap_reads(run) -> dict:
    star_dir = os.path.join(run.tmp, "star")
    gen.write_star(star_dir, run.seed, STAR_SCALE)
    spark = run.spark
    t = time.perf_counter()
    with run.tracer.span("star.fact_materialize", "star"):
        star.sales_fact(spark, star_dir).count()
    run.layer["star.fact_materialize_s"] = time.perf_counter() - t
    expected = check.olap_expected(star_dir, oracles.OLAP_ORACLES, OLAP_NAMES)

    def one_query(name):
        t0 = time.perf_counter()
        with run.tracer.span(f"queries.build.{name}", "queries"):
            df = queries.OLAP_QUERIES[name](spark, star_dir)
        t1 = time.perf_counter()
        with run.tracer.span(f"queries.exec.{name}", "queries"):
            rows = df.collect()
        t2 = time.perf_counter()
        return rows, df.columns, t1 - t0, t2 - t1

    def checked(name):
        run.attempted += 1
        try:
            rows, cols, build, exe = one_query(name)
            check.compare_result(name, check.normalize(rows, cols), expected[name])
            return build, exe
        except Exception as exc:  # counted, the run goes on
            run.fail(f"{name}: {exc}")
            return None

    rng = random.Random(run.seed)
    warm = list(OLAP_NAMES)
    rng.shuffle(warm)
    for name in warm:  # warm-up pass: plan analysis, codegen and JIT
        checked(name)

    per_query = {n: [] for n in OLAP_NAMES}
    builds, execs = [], []
    passes = max(1, round(run.seconds / OLAP_SECONDS_PER_PASS))
    run.start_timing()
    for p in range(passes):
        order = list(OLAP_NAMES)
        rng.shuffle(order)
        run.tracer.cycle = p
        for i, name in enumerate(order):
            for untraced in _modes(run, i):
                with _maybe_untraced(run, untraced):
                    r = checked(name)
                    if r is None:
                        continue
                    run.record(r[0] + r[1], name)
                if not untraced:
                    builds.append(r[0])
                    execs.append(r[1])
                    per_query[name].append(r[0] + r[1])
    run.stop_timing()
    for n, xs in per_query.items():
        run.layer[f"queries.{n}_s"] = _p50(xs)
    run.layer["queries.build_s"] = _p50(builds)
    run.layer["queries.exec_s"] = _p50(execs)
    per_pass = len(OLAP_NAMES) / max(run.timed_ops, 1)
    run.layer["queries.jobs"] = run.jobs * per_pass
    run.layer["queries.stages"] = run.stages * per_pass
    run.layer["queries.tasks"] = run.tasks * per_pass
    lat = run.ops
    return {"op_p50_s": _p50(lat), "throughput_per_s": len(lat) / sum(lat) if lat else 0.0}


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------

def stream_ingest(run) -> dict:
    n_chunks = max(3, round(run.seconds / INGEST_SECONDS_PER_CHUNK))
    modes = _modes(run, 0)  # one timed drain, or an untraced and a traced one
    # the warm-up drains chunk 0 and its byte copy (an all-replay
    # batch: the anti-join no-op path); it is checked, not timed
    sizes = [INGEST_WARM_LINES] * 2 + [INGEST_CHUNK_LINES] * (n_chunks * len(modes))
    data = gen.write_metro(os.path.join(run.tmp, "in"), run.seed, sizes, replay_at=1)
    chunks = data["chunks"]
    oracle = check.IngestOracle(data["masters"]["products"],
                                data["masters"]["customers"],
                                [c["path"] for c in chunks])
    products, customers = _read_masters(run, data)
    tx_dir, wh_root, ckpt = (os.path.join(run.tmp, d) for d in ("tx", "wh", "ckpt"))
    os.makedirs(tx_dir)

    for c in chunks[:2]:  # warm-up: small first batches (dims + JIT)
        _land(c, tx_dir)
    _stream(run, tx_dir, wh_root, ckpt, products, customers, maintain=False)

    run.start_timing()
    rate = 0.0
    for k, untraced in enumerate(modes):
        landing = chunks[2 + k * n_chunks:2 + (k + 1) * n_chunks]
        for c in landing:
            _land(c, tx_dir)
        with _maybe_untraced(run, untraced):
            t0 = time.perf_counter()
            q = _stream(run, tx_dir, wh_root, ckpt, products, customers, maintain=False)
            drain = time.perf_counter() - t0
            for p in q.recentProgress:
                if p.numInputRows > 0:  # each micro-batch is one operation
                    run.attempted += 1
                    run.record(p.durationMs["triggerExecution"] / 1000.0)
        if not untraced:
            rate = sum(c["lines"] for c in landing) / drain
    run.stop_timing()

    # untimed checks: the fact, its revenue, and the served aggregate
    wh = etl.warehouse_for(run.spark, wh_root, "manifest")
    try:
        want = oracle.after(len(chunks))
        fact = wh.read("sales_fact")
        n = fact.count()
        if n != want["rows"]:
            raise check.CheckFailed(f"fact rows {n} != {want['rows']}")
        mills = fact.selectExpr(
            "cast(sum(round(total_revenue * 1000, 0)) as bigint)").first()[0]
        if mills != want["mills"]:
            raise check.CheckFailed(f"fact revenue {mills} != {want['mills']} mills")
        etl.refresh_quarterly_agg(wh)
        check.check_quarterly(etl.quarterly_sales_serve(wh).collect(), want)
    except Exception as exc:
        run.fail(f"ingest check: {exc}")
    _sink_layer(run, wh, data["input_bytes"], data["lines"])
    return {"op_p50_s": _p50(run.ops), "throughput_per_s": rate}


# --------------------------------------------------------------------------
# fresh_serve
# --------------------------------------------------------------------------

def fresh_serve(run) -> dict:
    n_cycles = max(1, round(run.seconds / FRESH_SECONDS_PER_CYCLE))
    # the warm-up cycle lands chunk 0 and its byte copy (an all-replay
    # batch: the anti-join no-op path); it is checked, not timed
    sizes = [FRESH_CHUNK_LINES] * (2 + n_cycles * len(_modes(run, 0)))
    data = gen.write_metro(os.path.join(run.tmp, "in"), run.seed, sizes, replay_at=1)
    chunks = data["chunks"]
    oracle = check.IngestOracle(data["masters"]["products"],
                                data["masters"]["customers"],
                                [c["path"] for c in chunks])
    products, customers = _read_masters(run, data)
    tx_dir, wh_root, ckpt = (os.path.join(run.tmp, d) for d in ("tx", "wh", "ckpt"))
    os.makedirs(tx_dir)
    serve_wh = etl.warehouse_for(run.spark, wh_root, "manifest")
    serve, lines = [], []

    def cycle(landing: range) -> None:
        run.attempted += 1
        try:
            t_land = time.perf_counter()
            with run.tracer.span("cycle", "bench"):
                for i in landing:
                    _land(chunks[i], tx_dir)
                _stream(run, tx_dir, wh_root, ckpt, products, customers, maintain=True)
                t_serve = time.perf_counter()
                with run.tracer.span("etl.serve_quarterly", "etl"):
                    served = etl.quarterly_sales_serve(serve_wh).collect()
                with run.tracer.span("etl.totals", "etl"):
                    totals = serve_wh.totals().collect()[0]
            t_done = time.perf_counter()
            want = oracle.after(landing.stop)  # this cycle's chunk is visible
            check.check_quarterly(served, want)
            check.check_totals(tuple(totals), want)
            if run.t_first is not None:
                run.record(t_done - t_land)
                if not run.paused:
                    serve.append(t_done - t_serve)
                    lines.append(sum(chunks[i]["lines"] for i in landing))
        except Exception as exc:
            run.fail(f"cycle {landing}: {exc}")

    cycle(range(0, 2))
    run.start_timing()
    i = 2
    for k in range(n_cycles):
        for untraced in _modes(run, k):
            run.tracer.cycle = i
            with _maybe_untraced(run, untraced):
                cycle(range(i, i + 1))
            i += 1
    run.stop_timing()
    run.layer["fresh.serve_p50_s"] = _p50(serve)
    _sink_layer(run, serve_wh, data["input_bytes"], data["lines"])
    fresh = run.ops
    return {"op_p50_s": _p50(fresh),
            "throughput_per_s": sum(lines) / sum(fresh) if fresh else 0.0}


WORKLOADS = {
    "olap_reads": olap_reads,
    "stream_ingest": stream_ingest,
    "fresh_serve": fresh_serve,
}
