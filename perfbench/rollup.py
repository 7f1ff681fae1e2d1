"""The ``rollup`` workload: the paper's write-heavy headline.

Untraced: set-up (session, inputs), then exactly one timed
``run_pipeline`` over ``synth_pages(N_PAGES, seed)`` into an empty
``TierStore``. There is no warm-up: a rollup is a batch job that a
scheduler launches in a fresh session, so every real run pays the
session's first-run costs (JIT, code generation, Python workers), and that
cold run is the one measured; ``--seconds`` does not apply. Its rolled-up
point count is checked against the count derived from the generated pages,
and its Gorilla blocks are thawed and compared with the samples they
packed.

Traced: after the same untraced run, ``run_pipeline`` resumes its store
with a late batch of pages inside one date added (the lineage layer's skip
path). A from-scratch ``run_pipeline`` over the same pages is the reference
for the resumed store and the warm, untraced baseline for the tracing
overhead. Then the pipeline's layers are called one by one over those
pages, each inside its own span and forced to produce its output before
the next starts, and the store they write is compared with the reference
too.
"""

from __future__ import annotations

import glob
import os
import sys
import time

import gen
from spans import Tracer

BLOCK_MS = 6 * 3_600_000  # Gorilla block width, as in the repo's bench
TABLES = ("tier_1m", "tier_1h", "tier_1d", "gorilla_blocks")
# the key each table's commit metrics have in ``run_pipeline``'s stages
STAGES = {"tier_1m": "tier_1m", "tier_1h": "tier_1h", "tier_1d": "tier_1d",
          "gorilla_blocks": "gorilla"}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path) for f in fs
    )


def _data_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*", "data", "*", "date=*", "*.parquet")))


def _expected_points(pages) -> int:
    from pyspark.sql import functions as F

    rows = pages.select("url", "lang", F.unix_millis("warc_ts").alias("ts")).collect()
    return gen.expected_points([(r["url"], r["lang"], r["ts"]) for r in rows])


def _roundtrip_mismatches(spark, pages, store_dir: str) -> int:
    """Rows in either direction between the thawed Gorilla table and the
    samples the pipeline packed (both keyed by series signature)."""
    from pyspark.sql import functions as F

    from pq_spark.rollup.gorilla import unpack_blocks
    from pq_spark.rollup.lineage import TierStore
    from pq_spark.rollup.pages import page_samples

    thawed = unpack_blocks(TierStore(store_dir).read(spark, "gorilla_blocks"))
    thawed = thawed.select("sig", "ts", "value")
    packed = page_samples(pages).select(F.col("_sig").alias("sig"), "ts", "value")
    return thawed.exceptAll(packed).count() + packed.exceptAll(thawed).count()


def _pipeline(spark, pages, store_dir: str) -> tuple[float, dict]:
    from pq_spark.rollup.pipeline import run_pipeline

    t0 = time.perf_counter()
    m = run_pipeline(spark, pages, store_dir, gorilla_block_ms=BLOCK_MS, cache_pages=True)
    return time.perf_counter() - t0, m


def _traced_pipeline(spark, tr: Tracer, pages, store_dir: str) -> dict:
    """``run_pipeline``'s steps, one span per layer call, each output
    materialized before the next call. Returns counts the spans can't carry."""
    from pyspark.sql import functions as F

    from pq_spark.engine.ingest import samples_from_table
    from pq_spark.engine.runner import configure_session
    from pq_spark.rollup import gorilla
    from pq_spark.rollup.lineage import TierStore, with_date
    from pq_spark.rollup.pages import (
        _PAGE_TABLE_ARGS, _page_enriched, page_series_dim_from_enriched,
    )
    from pq_spark.rollup.tiers import (
        attach_series, series_key, tier_from_tier, tier_partials,
    )

    configure_session(spark)
    store = TierStore(store_dir)
    out = {"commits": {}}
    cached = [pages.persist()]

    with tr.span("pages.enrich"):
        enriched = _page_enriched(pages, verify=True).persist()
        cached.append(enriched)
        out["pages_rows"] = enriched.count()
        out["mismatches"] = enriched.agg(F.sum("_bad")).first()[0] or 0
    with tr.span("ingest.samples"):
        wide = samples_from_table(enriched, **_PAGE_TABLE_ARGS)
        samples = wide.select(
            series_key(F.col("_sig")).alias("skey"), "ts", "seq", "value"
        ).persist()
        dim = page_series_dim_from_enriched(enriched).persist()
        cached += [samples, dim]
        out["samples_rows"] = samples.count()
        dim.count()

    def commit(df, table):
        with tr.span(f"lineage.fingerprint.{table}"):
            TierStore.fingerprints(df)
        with tr.span(f"lineage.commit.{table}"):
            res = store.commit(df, table, publish=False)
        with tr.span(f"lineage.publish.{table}"):
            store.finalize_commit(res)
        out["commits"][table] = res

    lower = None
    for tier in ("1m", "1h", "1d"):
        with tr.span(f"tiers.{tier}"):
            part = (tier_partials(samples, tier, dim=dim) if lower is None
                    else tier_from_tier(lower, tier)).persist()
            table = with_date(attach_series(part, dim)).persist()
            cached += [part, table]
            part.count()
            table.count()
        commit(table, f"tier_{tier}")
        lower = part
    with tr.span("gorilla.pack"):
        packed = with_date(
            gorilla.pack_blocks(samples, block_ms=BLOCK_MS, dim=dim), ts_col="block_ts"
        ).persist()
        cached.append(packed)
        stats = packed.agg(F.count("*").alias("b"), F.sum("n").alias("p")).first()
        out["blocks"], out["block_points"] = stats["b"], stats["p"]
    commit(packed, "gorilla_blocks")
    for df in cached:
        df.unpersist()
    return out


def _kernel_probe(spark, store_dir: str) -> dict:
    """In-process Gorilla codec on one core over every committed block:
    unpack each blob, re-pack its points, and require identical bytes."""
    from pq_spark.rollup.gorilla import pack_block, unpack_block
    from pq_spark.rollup.lineage import TierStore

    blobs = [bytes(r["blob"]) for r in
             TierStore(store_dir).read(spark, "gorilla_blocks").select("blob").collect()]
    unpack_s, pack_s, diff = 0.0, 0.0, 0
    for blob in blobs:
        t0 = time.perf_counter()
        ts, vals = unpack_block(blob)
        t1 = time.perf_counter()
        again = pack_block(ts, vals)
        pack_s += time.perf_counter() - t1
        unpack_s += t1 - t0
        diff += again != blob
    return {"pack_us": 1e6 * pack_s / len(blobs), "unpack_us": 1e6 * unpack_s / len(blobs),
            "mismatches": diff}


def _manifests(store_dir: str) -> dict:
    """table -> {partition: manifest}; a rewritten partition gets a new one."""
    from pq_spark.rollup.lineage import TierStore

    store = TierStore(store_dir)
    return {t: {p: store.read_manifest(t, p) for p in store._scan_manifest_parts(t)}
            for t in TABLES}


def _fingerprints(manifests: dict) -> dict:
    return {t: {p: m["fingerprint"] for p, m in parts.items()}
            for t, parts in manifests.items()}


def _lineage_metrics(tr: Tracer, root: int, commits: dict) -> dict:
    spans = [s for s in tr.spans if s.parent == root]
    fp = sum(s.duration for s in spans if s.name.startswith("lineage.fingerprint."))
    commit = sum(s.duration for s in spans if s.name.startswith("lineage.commit."))
    written = sum(len(r.written) for r in commits.values())
    skipped = sum(len(r.skipped) for r in commits.values())
    return {
        "fingerprint_s": fp,
        "write_s": commit - fp,
        "publish_s": sum(s.duration for s in spans if s.name.startswith("lineage.publish.")),
        "jobs": sum(s.jobs for s in spans if s.name.startswith("lineage.")),
        "partitions_written": written,
        "partitions_skipped": skipped,
        "skip_ratio": skipped / max(written + skipped, 1),
    }


def run(spark, work_dir: str, seed: int, traced: bool) -> dict:
    pages = gen.pages(spark, seed)
    expected = _expected_points(pages)
    setup_end = time.perf_counter()

    store_dir = os.path.join(work_dir, "store")
    wall, m = _pipeline(spark, pages, store_dir)
    attempted, failed = 2, 0  # the point count and the Gorilla round trip
    if m["rolled_up_points"] != expected:
        print(f"rollup: {m['rolled_up_points']} points, expected {expected}", file=sys.stderr)
        failed += 1
    bad = _roundtrip_mismatches(spark, pages, store_dir)
    if bad:
        print(f"rollup: gorilla round trip differs in {bad} rows", file=sys.stderr)
        failed += 1
    pps = m["rolled_up_points"] / wall
    report = {
        "pages": gen.N_PAGES, "expected_points": expected, "wall_s": wall,
        "points_per_s": pps, "bytes_written": _dir_bytes(store_dir),
        "compression_ratio": m["gorilla_raw_bytes"] / m["gorilla_packed_bytes"],
    }
    if not traced:
        return {
            "attempted": attempted, "failed": failed, "report": report, "setup_end": setup_end,
            "metrics": {
                "wall_s": {"value": wall, "unit": "s"},
                "throughput_per_s": {"value": pps, "unit": "1/s"},
            },
        }
    res = _traced(spark, seed, pages, work_dir, store_dir, attempted, failed, report)
    res["setup_end"] = setup_end
    return res


def _traced(spark, seed, pages, work_dir, store_dir, attempted, failed, report) -> dict:
    # resume: ``run_pipeline`` over the untraced run's store, with a late
    # batch inside one date added to the pages
    all_pages = pages.unionByName(gen.late_pages(spark, seed))
    late_date = time.strftime("%Y-%m-%d", time.gmtime(gen.late_date_ms(seed) / 1000))
    before, bytes0 = _manifests(store_dir), _dir_bytes(store_dir)
    resume_wall, rm = _pipeline(spark, all_pages, store_dir)
    resume_bytes = _dir_bytes(store_dir) - bytes0
    after = _manifests(store_dir)
    rewritten = {t: sorted(p for p, m in after[t].items() if before[t].get(p) != m)
                 for t in TABLES}
    stages = [rm["stages"][STAGES[t]] for t in TABLES]
    r_written = sum(st["partitions_written"] for st in stages)
    r_skipped = sum(st["partitions_skipped"] for st in stages)

    # a from-scratch rollup of the same pages: the reference for the resumed
    # and the traced stores, and the untraced baseline of the traced run
    ref_dir = os.path.join(work_dir, "reference")
    untraced_wall, _ = _pipeline(spark, all_pages, ref_dir)
    expected = _expected_points(all_pages)

    sc = spark.sparkContext
    tr = Tracer(spark)
    traced_dir = os.path.join(work_dir, "traced")
    rdds_before = sc._jsc.getPersistentRDDs().size()
    with tr.span("rollup.run"):
        out = _traced_pipeline(spark, tr, all_pages, traced_dir)
    root = 0
    cache_growth = sc._jsc.getPersistentRDDs().size() - rdds_before
    cached_bytes = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    tier_rows = sum(out["commits"][f"tier_{t}"].metrics["rows_total"] for t in ("1m", "1h", "1d"))
    wall = tr.spans[root].duration
    # every span is a direct child of the root, so these add up to ``wall``
    self_sum = sum(tr.self_time(i) for i, s in enumerate(tr.spans) if s.parent == root)
    uncovered = tr.self_time(root)

    ref = _fingerprints(_manifests(ref_dir))
    checks = {
        "resumed store == from scratch": _fingerprints(after) == ref,
        f"resume rewrote only {late_date}": all(v == [late_date] for v in rewritten.values()),
        "traced store == from scratch": _fingerprints(_manifests(traced_dir)) == ref,
        "traced extraction mismatches == 0": out["mismatches"] == 0,
        "traced point count": tier_rows == expected,
    }
    kern = _kernel_probe(spark, store_dir)
    checks["gorilla re-pack == blob"] = kern["mismatches"] == 0
    attempted += len(checks)
    for name, ok in checks.items():
        if not ok:
            print(f"rollup --trace 1: check failed: {name}", file=sys.stderr)
            failed += 1

    lin = _lineage_metrics(tr, root, out["commits"])
    tiers = [i for i, s in enumerate(tr.spans) if s.parent == root and s.name.startswith("tiers.")]
    pack = next(i for i, s in enumerate(tr.spans) if s.parent == root and s.name == "gorilla.pack")

    def dur(name):
        return next(s.duration for s in tr.spans if s.parent == root and s.name == name)

    layer = {
        "pages.enrich_s": dur("pages.enrich"),
        "pages.rows": out["pages_rows"],
        "pages.extract_mismatches": out["mismatches"],
        "ingest.samples_s": dur("ingest.samples"),
        "ingest.samples_rows": out["samples_rows"],
        "tiers.1m_s": dur("tiers.1m"),
        "tiers.1h_s": dur("tiers.1h"),
        "tiers.1d_s": dur("tiers.1d"),
        "tiers.rows": tier_rows,
        "tiers.shuffle_write_bytes": sum(tr.spans[i].counters["shuffleWriteBytes"] for i in tiers),
        "tiers.spill_bytes": sum(tr.spans[i].counters["memoryBytesSpilled"]
                                 + tr.spans[i].counters["diskBytesSpilled"] for i in tiers),
        **{f"lineage.{k}": v for k, v in lin.items()},
        "lineage.files_written": _data_files(traced_dir),
        "resume.wall_s": resume_wall,
        "resume.partitions_written": r_written,
        "resume.partitions_skipped": r_skipped,
        "resume.skip_ratio": r_skipped / max(r_written + r_skipped, 1),
        "resume.bytes_written": resume_bytes,
        "gorilla.pack_s": tr.spans[pack].duration,
        "gorilla.kernel_us_per_block": kern["pack_us"],
        "gorilla.unpack_us_per_block": kern["unpack_us"],
        "gorilla.blocks": out["blocks"],
        "gorilla.points_per_block": out["block_points"] / max(out["blocks"], 1),
        "gorilla.shuffle_write_bytes": tr.spans[pack].counters["shuffleWriteBytes"],
        "spark.cache_entries_growth": cache_growth,
        "spark.cached_bytes": cached_bytes,
        "spark.gc_s": tr.under(root, "jvmGcTime") / 1000,
        "spark.executor_run_s": tr.under(root, "executorRunTime") / 1000,
        "spark.tasks": tr.under(root, "numTasks"),
        "trace.wall_s": wall,
        "trace.uncovered_s": uncovered,
        "trace.overhead_s": wall - untraced_wall,
    }
    report.update({"spans": tr.dump(), "self_s_sum": self_sum, "untraced_wall_s": untraced_wall,
                   "resume_rewritten": rewritten, "checks": checks})
    return {"attempted": attempted, "failed": failed, "report": report, "layer": layer}
