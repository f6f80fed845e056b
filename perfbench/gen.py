"""Seeded input backlogs for the two streaming workloads, and the sink
contents each one must produce, computed in plain Python.

Nothing here imports `flinkproj_spark`: the expected outputs are an
independent statement of what the DataClean and DataReport pipelines
promise, so a fault in the engine cannot also shift the expectation.

    python3 perfbench/gen.py --workload clean_stream --seed 7 --out DIR

writes the backlog into DIR. The same seed gives the same bytes and the
same modification times: the file source orders files by mtime, so each
file gets a strictly larger mtime than the one before it, and one file
per trigger makes every micro-batch hold exactly one file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
from collections import Counter
from datetime import datetime, timedelta, timezone

# Wire vocabularies of the reference producers (kafkaProducer.java,
# kafkaProducerDataReport.java) and the Redis `areas` hash
# (MyRedisSource.java:16-19), restated so this module stays independent
# of the engine.
COUNTRIES = ["US", "TW", "HK", "PK", "KW", "SA", "IN"]
UNMAPPED_COUNTRIES = ["BR", "JP", "DE"]  # absent from the area hash -> 'other'
AREA_OF = {"US": "AREA_US", "TW": "AREA_CT", "HK": "AREA_CT", "PK": "AREA_AR",
           "KW": "AREA_AR", "SA": "AREA_AR", "IN": "AREA_IN"}
TYPES = ["s1", "s2", "s3", "s4", "s5"]
LEVELS = ["A", "A+", "B", "C", "D"]
SCORES = [0.1, 0.2, 0.3, 0.5, 0.8]
AUDIT_TYPES = ["shelf", "unshelf", "black", "chlid_shelf", "child_unshelf"]
AUDIT_AREAS = ["AREA_US", "AREA_CT", "AREA_AR", "AREA_IN", "AREA_ID"]

WATERMARK_S = 40  # stream_report's bound: 10 s disorder + 30 s lateness
WINDOW_S = 30
# Out-of-order records trail the newest event time by at most this much,
# far-late records by at least FAR_LATE_MIN_S: a 30 s margin on both
# sides of the watermark, so no record falls in the ambiguous band.
DISORDER_MAX_S = 10
FAR_LATE_MIN_S = 200
FILE_SPAN_S = 12  # event-time span of the in-order records of one file

MTIME_BASE = 1_500_000_000  # first file's mtime; +1 s per later file

# Backlog shapes: (files, lines per file). clean_stream drains a few
# large batches, report_stream many small ones.
SHAPES = {
    "clean_stream": (5, 5_000),
    "report_stream": (3, 150),
}
WARMUP_SHAPES = {
    "clean_stream": (2, 5_000),
    "report_stream": (2, 150),
}

_FMT = "%Y-%m-%d %H:%M:%S"
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _fmt(sec: int) -> str:
    return (_EPOCH + timedelta(seconds=sec)).strftime(_FMT)


def _corrupt(rng: random.Random, line: str) -> str:
    """A line the JSON parser rejects: truncated mid-record or garbage."""
    if rng.random() < 0.5:
        return line[: rng.randrange(1, len(line) - 1)]
    return "#" + "".join(rng.choice("xyz{[:,") for _ in range(rng.randrange(4, 24)))


def _t0(rng: random.Random) -> int:
    # a seeded start inside 2018, aligned to a window boundary
    start = int(datetime(2018, 1, 1, tzinfo=timezone.utc).timestamp())
    return start + rng.randrange(0, 300 * 86400, WINDOW_S)


# ---- clean_stream -------------------------------------------------------

def clean_backlog(seed: int, files: int, lines: int) -> list[list[str]]:
    """allData JSON lines (FIXTURES.md §1): ~1% corrupt, ~2% with an empty
    data array, ~15% with a country missing from the area hash."""
    rng = random.Random(f"clean_stream:{seed}")
    t = _t0(rng)
    out = []
    for _ in range(files):
        batch = []
        for _ in range(lines):
            t += rng.randrange(0, 2)
            u = rng.random()
            country = rng.choice(UNMAPPED_COUNTRIES if u < 0.15 else COUNTRIES)
            n = 0 if rng.random() < 0.02 else rng.randrange(1, 4)
            data = [{"type": rng.choice(TYPES), "score": rng.choice(SCORES),
                     "level": rng.choice(LEVELS)} for _ in range(n)]
            line = json.dumps({"dt": _fmt(t), "countryCode": country, "data": data})
            if rng.random() < 0.01:
                line = _corrupt(rng, line)
            batch.append(line)
        out.append(batch)
    return out


def _clean_key(rec: dict) -> tuple:
    return tuple(sorted(rec.items()))


def clean_expected(backlog: list[list[str]]) -> Counter:
    """The cleaned records as a multiset: one per element of `data`,
    area from the inverted hash or 'other'; corrupt lines yield none."""
    want: Counter = Counter()
    for batch in backlog:
        for line in batch:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            area = AREA_OF.get(rec["countryCode"], "other")
            for d in rec["data"]:
                want[_clean_key({**d, "area": area, "dt": rec["dt"]})] += 1
    return want


def clean_observed(values: list[str]) -> Counter:
    return Counter(_clean_key(json.loads(v)) for v in values)


# ---- report_stream ------------------------------------------------------

def report_backlog(seed: int, files: int, lines: int) -> list[list[str]]:
    """auditLog JSON lines (FIXTURES.md §3). Event time advances by
    FILE_SPAN_S per file. After the first file, ~10% of records trail the
    newest event time already seen by 1..DISORDER_MAX_S s (in-bound
    disorder, counted) and ~3% by FAR_LATE_MIN_S s or more (their window
    closed long before the watermark, dropped). ~2% carry a malformed
    `dt` and ~1% are corrupt JSON."""
    rng = random.Random(f"report_stream:{seed}")
    t0 = _t0(rng)
    newest = None  # newest event time of the files already written
    out = []
    for i in range(files):
        lo = t0 + i * FILE_SPAN_S
        batch, batch_max = [], None
        for _ in range(lines):
            u = rng.random()
            if newest is not None and u < 0.10:
                ts = newest - rng.randrange(1, DISORDER_MAX_S + 1)
            elif newest is not None and u < 0.13:
                ts = newest - rng.randrange(FAR_LATE_MIN_S, FAR_LATE_MIN_S + 300)
            else:
                ts = lo + rng.randrange(0, FILE_SPAN_S)
            batch_max = ts if batch_max is None else max(batch_max, ts)
            dt = _fmt(ts)
            v = rng.random()
            if v < 0.02:
                dt = rng.choice(["2018-13-99 xx", "", "yesterday", dt.replace(" ", "T") + "Z"])
            line = json.dumps({"dt": dt, "type": rng.choice(AUDIT_TYPES),
                               "username": f"u{rng.randrange(1000)}",
                               "area": rng.choice(AUDIT_AREAS)})
            if 0.02 <= v < 0.03:
                line = _corrupt(rng, line)
            batch.append(line)
        newest = batch_max if newest is None else max(newest, batch_max)
        out.append(batch)
    return out


def _parse_ts(dt) -> int | None:
    try:
        d = datetime.strptime(dt, _FMT)
    except (TypeError, ValueError):
        return None
    return int(d.replace(tzinfo=timezone.utc).timestamp())


def report_expected(backlog: list[list[str]]) -> tuple[set, int]:
    """The result store after draining the backlog one file per batch,
    and the number of records dropped by the watermark.

    Models stream_report on Spark's watermark semantics. The watermark
    of micro-batch b is the newest event time of the batches before b
    minus 40 s. Late records are dropped against the watermark of the
    batch before (Spark keeps one watermark for late rows and a newer one
    for state eviction), so the first two batches drop nothing: a
    record whose 30 s window ends at or before that watermark is dropped;
    every other record updates its (window, type, area) count and max time;
    each window updated in the batch is emitted with its running totals
    (update mode) and upserted under doc_id = max-time-type-area. A later
    update that raises the max time emits a new doc_id, so the store also
    keeps the earlier, partial row of that window."""
    state: dict[tuple, list[int]] = {}
    store: dict[str, tuple] = {}
    newest, dropped = None, 0
    wm_prev = wm = None  # watermarks of the previous and the current batch
    for batch in backlog:
        wm_prev, wm = wm, None if newest is None else newest - WATERMARK_S
        touched = []
        for line in batch:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            ts = _parse_ts(rec.get("dt"))
            if ts is None:
                continue
            newest = ts if newest is None else max(newest, ts)
            w = ts - ts % WINDOW_S
            if wm_prev is not None and w + WINDOW_S <= wm_prev:
                dropped += 1
                continue
            key = (w, rec["type"], rec["area"])
            cur = state.setdefault(key, [0, ts])
            cur[0] += 1
            cur[1] = max(cur[1], ts)
            touched.append(key)
        for key in dict.fromkeys(touched):
            n, mx = state[key]
            time_s = _fmt(mx)
            doc_id = "-".join((time_s.replace(" ", "_"), key[1], key[2]))
            store[doc_id] = (time_s, key[1], key[2], n, doc_id)
    return set(store.values()), dropped


# ---- files --------------------------------------------------------------

def write_backlog(backlog: list[list[str]], out_dir: str) -> list[str]:
    """One text file per batch, mtimes strictly increasing."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lines in enumerate(backlog):
        p = os.path.join(out_dir, f"part-{i:05d}.txt")
        with open(p, "w", encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(p, (MTIME_BASE + i, MTIME_BASE + i))
        paths.append(p)
    return paths


def backlog(workload: str, seed: int, warmup: bool = False) -> list[list[str]]:
    files, lines = (WARMUP_SHAPES if warmup else SHAPES)[workload]
    make = clean_backlog if workload == "clean_stream" else report_backlog
    # the warm-up backlog draws from its own seed stream
    return make(-1 - seed if warmup else seed, files, lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SHAPES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warmup", action="store_true")
    a = ap.parse_args()
    b = backlog(a.workload, a.seed, a.warmup)
    write_backlog(b, a.out)
    print(f"{len(b)} files, {sum(map(len, b))} lines -> {a.out}")


if __name__ == "__main__":
    main()
