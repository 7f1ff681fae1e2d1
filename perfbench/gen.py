"""Seeded input generators. Every input of every workload is a pure function
of the one ``--seed`` argument; the program under test only ever sees the
generated inputs.

- pages: ``pq_spark.rollup.pages.synth_pages`` with the seed, plus a small
  batch of late pages whose ``warc_ts`` all fall inside one date;
- the ``events`` parquet table the driver queries read
  (``pq_spark.driver_queries``), shaped like the repo's sf0.1 test corpus;
- an access log for the pq program, with the samples a correct decode/map
  must produce from it;
- the order in which one serve pass issues its queries.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

import numpy as np

# page corpus: synth_pages' default window starts 2023-11-14T22:13:20Z and
# spans 3 days, so 2023-11-15 and 2023-11-16 are the two whole dates in it
N_PAGES = 20_000
N_LATE_PAGES = 400
PAGE_START_MS = 1_700_000_000_000
PAGE_SPAN_MS = 3 * 86_400_000
WHOLE_DATES_MS = (1_700_006_400_000, 1_700_092_800_000)
DAY_MS = 86_400_000

# events table: the shape of the sf0.1 test corpus (TESTDATA.md), measured
# on its events.parquet: 100,000 rows over 30 days from 2024-01-01, uniform
# in time (3,205-3,471 a day) and ordered by event_id; 1,500 users and 5
# event types, both uniform; value exponential with mean 50 (quantiles
# 10/50/90/99% = 5.35/34.77/114.3/228.1), two decimals; props {"k": 0..99}
N_EVENTS = 100_000
N_USERS = 1_500
VALUE_MEAN = 50.0
EVENTS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

# access log
N_LOG_LINES = 1_500
LOG_START_S = 1_706_745_600  # 2024-02-01T00:00:00Z
METHODS = ["GET", "POST", "PUT"]
STATUSES = ["200", "404", "500"]


def _rng(seed: int, stream: int) -> np.random.Generator:
    s = seed % (1 << 64)
    return np.random.default_rng([stream, s & 0xFFFFFFFF, s >> 32])


# -- pages -------------------------------------------------------------------


def pages(spark, seed: int):
    from pq_spark.rollup.pages import synth_pages

    return synth_pages(
        spark, N_PAGES, start_ts_ms=PAGE_START_MS, span_ms=PAGE_SPAN_MS, seed=seed,
        partitions=spark.sparkContext.defaultParallelism,
    )


def late_date_ms(seed: int) -> int:
    """Start of the one date the late pages land in."""
    return WHOLE_DATES_MS[int(_rng(seed, 1).integers(len(WHOLE_DATES_MS)))]


def late_pages(spark, seed: int):
    """A late-arriving batch: every ``warc_ts`` inside ``late_date_ms``."""
    from pq_spark.rollup.pages import synth_pages

    return synth_pages(
        spark, N_LATE_PAGES, start_ts_ms=late_date_ms(seed), span_ms=DAY_MS,
        seed=seed + 1, partitions=1,
    )


def expected_points(page_rows) -> int:
    """Rolled-up 1m+1h+1d points a correct cascade yields: three series
    (text_len, content_len, __line__) per (lang, domain) label pair, one
    point per series and occupied bucket. ``page_rows`` holds
    (url, lang, ts_ms) tuples collected from the page table."""
    dom = re.compile(r"^https?://([^/]+)/")
    keys = [(dom.match(u).group(1), lang, ts) for u, lang, ts in page_rows]
    total = 0
    for tier_ms in (60_000, 3_600_000, 86_400_000):
        total += 3 * len({(d, lang, ts - ts % tier_ms) for d, lang, ts in keys})
    return total


# -- events table --------------------------------------------------------------


def _events(rng: np.random.Generator) -> dict:
    base_us = int(EVENTS_START.timestamp()) * 1_000_000
    ts_us = np.sort(base_us + rng.integers(1_000_000, 30 * DAY_MS * 1000, size=N_EVENTS))
    return {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts_us,
        "user_id": rng.integers(0, N_USERS, size=N_EVENTS).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(len(EVENT_TYPES), size=N_EVENTS)],
        # two decimals, like the test corpora: 6-dp rounding stays exact
        "value": np.round(rng.exponential(VALUE_MEAN, size=N_EVENTS), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=N_EVENTS)],
    }


def write_events(out_dir: str, seed: int) -> None:
    """``events.parquet`` in ``out_dir``, with the schema
    ``pq_spark.driver_queries`` reads (``ts`` as a zone-less timestamp)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ev = _events(_rng(seed, 2))
    table = pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], type=pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
        "props": pa.array(ev["props"]),
    })
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))


# -- access logs -----------------------------------------------------------------


def access_log(seed: int) -> tuple[list[str], list[tuple]]:
    """A seeded access log, ``<iso ts> <method> <path> <status> <bytes>``
    per line with a few malformed lines the decoder must drop, and the
    ``bytes`` samples a correct decode/map derives from it:
    ``(seq, ts_ms, labels incl. __name__, value)`` with seq = 1-based line
    number, the shape ``tests/oracle_sim.Sim`` takes."""
    rng = _rng(seed, 5)
    lines, samples = [], []
    t = LOG_START_S
    for i in range(N_LOG_LINES):
        t += int(rng.integers(1, 9))
        if rng.random() < 0.01:
            lines.append(f"-- malformed line {i} --")
            continue
        method = METHODS[int(rng.integers(len(METHODS)))]
        status = STATUSES[int(rng.choice(3, p=[0.8, 0.15, 0.05]))]
        nbytes = int(rng.integers(100, 5000))
        iso = datetime.fromtimestamp(t, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        lines.append(f"{iso} {method} /p/{int(rng.integers(50))} {status} {nbytes}")
        samples.append(
            (i + 1, t * 1000, {"__name__": "bytes", "method": method, "status": status},
             float(nbytes))
        )
    return lines, samples


def serve_order(names: list[str], seed: int) -> list[str]:
    """The seeded order in which one serve pass issues its queries."""
    perm = _rng(seed, 6).permutation(len(names))
    return [names[i] for i in perm]
