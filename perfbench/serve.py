"""The ``serve`` workload: read-only queries, one client, closed loop.

One pass issues, in the seeded order, four of the repo's headline driver
queries (each built, then executed through a noop sink) over a seeded
``events`` table shaped like the sf0.1 test corpus, and one pq program
through ``PqEngine.run_program(...).output_lines()`` over a seeded access
log. A
pass starts while fewer than ``--seconds`` have passed, so a run times at
least one whole pass.

Set-up runs the same queries once and checks them: each driver query's
rows against its ``oracle_sql()`` on DuckDB with the normalisation of
``tests/test_driver_contract.py``, and the program's output against
``tests/oracle_sim.Sim``. The DuckDB side runs in a thread while Spark
starts and runs that pass, and ends before the first timed pass. The
checked pass is the only warm-up: it fetches the driver queries' rows
rather than running them through the noop sink, and the first noop pass
after it is about 15% slower than the next (5-20% over ten runs). A second
warm-up pass would cost each run 15-20 s that the benchmark's time budget
does not have. The program's output is checked again in every timed pass.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time
import traceback
from concurrent.futures import Future, ThreadPoolExecutor
from statistics import median

import gen
from spans import Tracer

# The serve mix. On a 4-vCPU box every query costs 2-5 s warm and 2-3x that
# cold, and a run pays a cold checked pass plus a timed pass, so
# the mix keeps the headline queries the ROADMAP items aim at: the rate
# family's explode path, the composed topk-of-rate plan, tier routing, and
# the gap-fill query that leaves a persisted frame behind.
HEADLINE = ["pq_rate_1h", "pq_stress_topk_rate", "tier_routed_window", "gapfill_1m_day1"]

MIN = 60_000
# name -> (program, interval ms, Sim evaluation): regex decode, ``sum by``
# over ``count_over_time``, promapi output
PROGRAMS = {
    "log_count_by_method": (
        r'/^(\S+) (\S+) \S+ (\d+) (\d+)$/ | map {.0:ts "%Y-%m-%dT%H:%M:%S", '
        r".1:str as method, .2:str as status, .3:num as bytes} "
        "| select sum by (method) (count_over_time(bytes[2m])) | to_promapi",
        MIN,
        lambda s, q: s.aggregate(
            "sum", s.over_time("count_over_time", s.selector(q("bytes"), duration=2 * MIN)),
            ("by", {"method"}),
        ),
    ),
}


# -- output checks ---------------------------------------------------------------


def _canon(v: float):
    return "NaN" if math.isnan(v) else v


def _close(a, b) -> bool:
    if a == "NaN" or b == "NaN":
        return a == b
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def _promapi_cells(lines: list[str]) -> dict:
    """promapi vector lines -> {instant ms: [(labels json, value)]}."""
    out = {}
    for line in lines:
        doc = json.loads(line)
        if doc["result"]:
            inst = round(doc["result"][0]["value"][0] * 1000)
            out[inst] = sorted(
                (json.dumps(r["metric"], sort_keys=True), _canon(float(r["value"][1])))
                for r in doc["result"]
            )
    return out


def _sim_cells(cells: dict) -> dict:
    """Sim cells -> the shape ``_promapi_cells`` returns."""
    return {
        inst: sorted(
            (json.dumps({k: v for k, v in labels.items() if k != "__name__"}, sort_keys=True),
             _canon(v))
            for labels, v in series
        )
        for inst, series in cells.items() if series
    }


def _program_ok(lines: list[str], want: dict) -> bool:
    got = _promapi_cells(lines)
    if got.keys() != want.keys():
        return False
    return all(
        len(got[k]) == len(want[k])
        and all(gl == wl and _close(gv, wv) for (gl, gv), (wl, wv) in zip(got[k], want[k]))
        for k in got
    )


def _oracle_rows(data_dir: str) -> dict:
    """DuckDB side of every driver-query check: name -> (columns, rows)."""
    from pq_spark.driver_queries import ORACLES
    from tests.test_driver_contract import _duck

    con = _duck(data_dir)
    con.execute("SET threads = 1")  # leave the cores to Spark's checked pass
    out = {}
    for name in HEADLINE:
        res = con.execute(ORACLES[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
    return out


def prepare(seed: int, work_dir: str) -> dict:
    """Inputs and expected outputs, before Spark starts; the DuckDB oracles
    keep running in a thread while it does."""
    from tests.oracle_sim import NAME, SimExt

    data_dir = os.path.join(work_dir, "tables")
    gen.write_events(data_dir, seed)
    lines, samples = gen.access_log(seed)
    expected = {}
    for name, (_, interval, evaluate) in PROGRAMS.items():
        _, cells = evaluate(SimExt(samples, interval, interval),
                            lambda metric: [(NAME, "=", metric)])
        expected[name] = _sim_cells(cells)
    pool = ThreadPoolExecutor(max_workers=1)
    return {"data_dir": data_dir, "lines": lines, "expected": expected,
            "pool": pool, "oracles": pool.submit(_oracle_rows, data_dir)}


# -- queries -------------------------------------------------------------------------


class Client:
    """Issues one query at a time."""

    def __init__(self, spark, prep: dict):
        self.spark = spark
        self.data_dir = prep["data_dir"]
        self.lines = prep["lines"]
        self.expected = prep["expected"]

    def engine(self):
        from pq_spark.engine.runner import PqEngine

        return PqEngine(self.spark, strict=True, extensions=False)

    def query(self, name: str) -> bool:
        """Run one query untraced; True when it completed correctly."""
        if name in PROGRAMS:
            program, interval, _ = PROGRAMS[name]
            lines = self.engine().run_program(
                program, self.lines, interval_ms=interval, lookback_ms=interval
            ).output_lines()
            return _program_ok(lines, self.expected[name])
        from pq_spark.driver_queries import QUERIES

        QUERIES[name](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
        return True

    def rows(self, name: str) -> tuple[list, list]:
        """One driver query's columns and rows, for the oracle check."""
        from pq_spark.driver_queries import QUERIES

        # through Arrow: the same Python values as ``collect()`` for these
        # bigint/double/string/boolean columns, at a fraction of the
        # transfer cost (pq_rate_1h returns ~165k rows)
        tbl = QUERIES[name](self.spark, self.data_dir).toArrow()
        return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))

    def traced_query(self, tr: Tracer, name: str) -> dict:
        """The same query with one span per layer call; returns counts."""
        if name not in PROGRAMS:
            from pq_spark.driver_queries import QUERIES

            with tr.span("planner.build"):
                df = QUERIES[name](self.spark, self.data_dir)
            with tr.span("execute"):
                df.write.format("noop").mode("overwrite").save()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return {"ok": True, "exchanges": len(re.findall(r"Exchange", plan)), "lines": 0}

        from pq_spark.engine import ingest
        from pq_spark.engine.runner import ProgramResult
        from pq_spark.program import parse_program

        program, interval, _ = PROGRAMS[name]
        engine = self.engine()
        with tr.span("parser.parse"):
            ast = parse_program(program)
        with tr.span("ingest.decode_map"):
            entries = ingest.decode(ingest.lines_df(self.spark, self.lines), ast.decoder)
            samples = ingest.samples_from_records(ingest.map_records(entries, ast.mapper)).persist()
            samples.count()
        with tr.span("planner.build"):
            qr = engine.evaluate(ast.query, samples, interval_ms=interval, lookback_ms=interval)
        with tr.span("execute"):
            qr.grid, qr.facts, qr.dim = (f.persist() for f in (qr.grid, qr.facts, qr.dim))
            for f in (qr.grid, qr.facts, qr.dim):
                f.count()
        with tr.span("formatter"):
            lines = ProgramResult("query", ast.formatter, query_result=qr).output_lines()
        for f in (samples, qr.grid, qr.facts, qr.dim, *engine.last_persisted):
            f.unpersist()
        return {"ok": _program_ok(lines, self.expected[name]), "exchanges": 0,
                "lines": len(lines)}


def _guarded(fn, name: str) -> bool:
    try:
        ok = fn(name)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok = False
    if not ok:
        print(f"serve: {name} failed or differs from its oracle", file=sys.stderr)
    return ok


def _timed_pass(client: Client, order: list[str]) -> tuple[float, list[float], int]:
    lat, failed = [], 0
    t0 = time.perf_counter()
    for name in order:
        t = time.perf_counter()
        if _guarded(client.query, name):
            lat.append(time.perf_counter() - t)
        else:
            failed += 1
    return time.perf_counter() - t0, lat, failed


def _matches(got: tuple, want: tuple) -> bool:
    from tests.test_driver_contract import _normalize

    (scols, srows), (dcols, drows) = got, want
    return (sorted(scols) == sorted(dcols) and len(srows) == len(drows)
            and _normalize(srows, scols) == _normalize(drows, dcols))


def run(spark, prep: dict, seed: int, seconds: float, traced: bool) -> dict:
    order = gen.serve_order(HEADLINE + list(PROGRAMS), seed)
    client = Client(spark, prep)
    rows = {}

    def checked(name: str) -> bool:
        if name in PROGRAMS:
            return client.query(name)
        rows[name] = client.rows(name)
        return True

    try:
        failed = sum(not _guarded(checked, n) for n in order)
        # the oracles (DuckDB's pq_stress_topk_rate alone takes ~20 s) ran
        # beside the pass; they are done before anything is timed
        oracles: Future = prep["oracles"]
        failed += sum(not _guarded(lambda n: _matches(rows[n], oracles.result()[n]), n)
                      for n in rows)
    finally:
        prep["pool"].shutdown(wait=True)
    setup_end = time.perf_counter()
    attempted = len(order)
    report = {"order": order}

    walls, lats = [], []
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        wall, lat, bad = _timed_pass(client, order)
        walls.append(wall)
        lats += lat
        attempted += len(order)
        failed += bad
    if not lats:
        raise RuntimeError("no query completed")
    qps = len(lats) / sum(walls)
    # the median of one pass's few, unlike queries is one query's time, so
    # it goes in the report, not among the bounded metrics
    report.update({"walls_s": walls, "latencies_s": lats, "latency_p50_s": median(lats)})
    if not traced:
        return {"attempted": attempted, "failed": failed, "report": report, "setup_end": setup_end,
                "metrics": {"wall_s": {"value": median(walls), "unit": "s"},
                            "throughput_per_s": {"value": qps, "unit": "1/s"}}}

    # the timed pass was the second one of the session; an untraced pass
    # right before the traced one is the overhead's like-for-like baseline
    base_wall, _, bad = _timed_pass(client, order)
    attempted += len(order)
    failed += bad
    sc = spark.sparkContext
    tr = Tracer(spark)
    rdds_before = sc._jsc.getPersistentRDDs().size()
    per_query, exchanges, out_lines = {}, 0, 0
    with tr.span("serve.pass"):
        for name in order:
            with tr.span(f"query.{name}") as sp:
                try:
                    res = client.traced_query(tr, name)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    res = {"ok": False, "exchanges": 0, "lines": 0}
            per_query[name] = sp.duration
            exchanges += res["exchanges"]
            out_lines += res["lines"]
            attempted += 1
            failed += not res["ok"]
    root = 0
    wall = tr.spans[root].duration

    def total(name, key=None):
        return sum(
            s.duration if key is None else (s.jobs if key == "jobs" else sum(s.counters[k] for k in key))
            for s in tr.spans if s.name == name
        )

    layer = {
        "parser.parse_s": total("parser.parse"),
        "ingest.decode_map_s": total("ingest.decode_map"),
        "planner.build_s": total("planner.build"),
        "planner.build_jobs": total("planner.build", "jobs"),
        "planner.exchanges": exchanges,
        "execute.s": total("execute"),
        "execute.jobs": total("execute", "jobs"),
        "execute.shuffle_bytes": total("execute", ("shuffleWriteBytes",)),
        "execute.spill_bytes": total("execute", ("memoryBytesSpilled", "diskBytesSpilled")),
        **{f"query.{n}_s": v for n, v in per_query.items()},
        "formatter.s": total("formatter"),
        "formatter.lines": out_lines,
        "spark.cache_entries_growth": sc._jsc.getPersistentRDDs().size() - rdds_before,
        "spark.cached_bytes": sum(i.memSize() + i.diskSize()
                                  for i in sc._jsc.sc().getRDDStorageInfo()),
        "spark.gc_s": tr.under(root, "jvmGcTime") / 1000,
        "spark.executor_run_s": tr.under(root, "executorRunTime") / 1000,
        "spark.tasks": tr.under(root, "numTasks"),
        "trace.wall_s": wall,
        "trace.uncovered_s": tr.self_time(root),
        "trace.overhead_s": wall - base_wall,
    }
    report.update({"spans": tr.dump(), "untraced_wall_s": base_wall})
    return {"attempted": attempted, "failed": failed, "report": report, "layer": layer,
            "setup_end": setup_end}
