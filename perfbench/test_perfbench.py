"""Self-tests of the benchmark: deterministic inputs, expected outputs
that match a hand-computed backlog, and output checks that reject a
perturbed sink. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _audit(dt, typ="shelf", area="AREA_US"):
    return json.dumps({"dt": dt, "type": typ, "username": "u", "area": area})


# ---- generator -----------------------------------------------------------

def test_generator_is_byte_and_mtime_identical(tmp_path):
    for w in ("clean_stream", "report_stream"):
        a, b = tmp_path / f"{w}-a", tmp_path / f"{w}-b"
        pa_ = gen.write_backlog(gen.backlog(w, 5), str(a))
        pb = gen.write_backlog(gen.backlog(w, 5), str(b))
        assert [os.path.basename(p) for p in pa_] == [os.path.basename(p) for p in pb]
        match, mismatch, errors = filecmp.cmpfiles(a, b, os.listdir(a), shallow=False)
        assert not mismatch and not errors
        mtimes = [os.stat(p).st_mtime for p in pa_]
        assert mtimes == [os.stat(p).st_mtime for p in pb]
        assert all(x < y for x, y in zip(mtimes, mtimes[1:]))  # strictly increasing
        assert gen.backlog(w, 5) != gen.backlog(w, 6)
        assert gen.backlog(w, 5) != gen.backlog(w, 5, warmup=True)


def test_report_backlog_keeps_clear_of_the_watermark_band():
    """In-bound disorder stays >= 30 s above the late-row watermark and
    far-late records' windows end >= 30 s below it."""
    backlog = gen.report_backlog(9, 12, 200)
    newest, late_wm, wm, n_far, n_ooo = None, None, None, 0, 0
    for batch in backlog:
        late_wm, wm = wm, None if newest is None else newest - gen.WATERMARK_S
        for line in batch:
            try:
                ts = gen._parse_ts(json.loads(line).get("dt"))
            except ValueError:
                continue
            if ts is None:
                continue
            if newest is not None and ts < newest:
                end = ts - ts % gen.WINDOW_S + gen.WINDOW_S
                if late_wm is not None:
                    assert end <= late_wm - 30 or end >= late_wm + 30
                n_far += ts < newest - 60
                n_ooo += ts >= newest - 60
            newest = ts if newest is None else max(newest, ts)
    assert n_far > 0 and n_ooo > 0


def test_clean_expected_by_hand():
    lines = [
        json.dumps({"dt": "2018-01-01 11:11:11", "countryCode": "TW", "data": [
            {"type": "s1", "score": 0.3, "level": "A"},
            {"type": "s2", "score": 0.5, "level": "B"}]}),
        json.dumps({"dt": "2018-01-01 11:11:12", "countryCode": "BR", "data": [
            {"type": "s1", "score": 0.3, "level": "A"}]}),
        json.dumps({"dt": "2018-01-01 11:11:13", "countryCode": "US", "data": []}),
        '{"dt": "2018-01-01 11:11:14", "countryCode": "US", "data": [{"ty',
    ]
    want = gen.clean_expected([lines[:2], lines[2:]])
    assert want == gen.clean_observed([
        '{"type":"s1","score":0.3,"level":"A","area":"AREA_CT","dt":"2018-01-01 11:11:11"}',
        '{"type":"s2","score":0.5,"level":"B","area":"AREA_CT","dt":"2018-01-01 11:11:11"}',
        '{"type":"s1","score":0.3,"level":"A","area":"other","dt":"2018-01-01 11:11:12"}',
    ])


def test_report_expected_by_hand():
    backlog = [
        [_audit("2018-01-01 10:00:05"), _audit("2018-01-01 10:00:29"),
         _audit("2018-01-01 10:00:31", "black"), _audit("2018-13-99 xx"), "{corrupt"],
        # in-bound disorder re-fires 10:00:00 under the same doc_id; a
        # far-late record in the second batch is still counted (late rows
        # are dropped against the watermark of the batch before)
        [_audit("2018-01-01 10:00:10"), _audit("2018-01-01 10:01:20"),
         _audit("2018-01-01 09:50:00", "black")],
        # a raised max time gives a new doc_id and leaves the partial row;
        # 09:58:00's window ends before 10:00:31 - 40 s: dropped
        [_audit("2018-01-01 10:01:25"), _audit("2018-01-01 09:58:00", "unshelf")],
    ]
    rows, dropped = gen.report_expected(backlog)

    def row(t, typ, n):
        return (f"2018-01-01 {t}", typ, "AREA_US", n, f"2018-01-01_{t}-{typ}-AREA_US")

    assert rows == {row("10:00:29", "shelf", 3), row("10:00:31", "black", 1),
                    row("10:01:20", "shelf", 1), row("09:50:00", "black", 1),
                    row("10:01:25", "shelf", 2)}
    assert dropped == 1


# ---- output checks ---------------------------------------------------------

def _write_clean_sink(path, values):
    os.makedirs(path)
    pq.write_table(pa.table({"value": values}), os.path.join(path, "part-0.parquet"))


def _write_report_store(path, rows):
    for kb in (0, 1):
        d = os.path.join(path, f"kb={kb}")
        os.makedirs(d)
        part = [r for i, r in enumerate(sorted(rows)) if i % 2 == kb]
        cols = {c: [r[i] for r in part] for i, c in enumerate(workloads.REPORT_COLUMNS)}
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))


def test_clean_check_rejects_a_dropped_row(tmp_path):
    backlog = gen.clean_backlog(3, 2, 50)
    want = gen.clean_expected(backlog)
    values = [json.dumps(dict(k)) for k, n in want.items() for _ in range(n)]
    _write_clean_sink(str(tmp_path / "ok"), values)
    assert workloads.sink_diff(workloads.read_clean_sink(str(tmp_path / "ok")), want) == ""
    _write_clean_sink(str(tmp_path / "bad"), values[1:])
    assert "1 expected rows missing" in workloads.sink_diff(
        workloads.read_clean_sink(str(tmp_path / "bad")), want)


def test_report_check_rejects_a_double_counted_window(tmp_path):
    rows, _ = gen.report_expected(gen.report_backlog(3, 4, 60))
    want = Counter(rows)
    _write_report_store(str(tmp_path / "ok"), rows)
    assert workloads.sink_diff(workloads.read_report_store(str(tmp_path / "ok")), want) == ""
    r = sorted(rows)[0]
    doubled = (rows - {r}) | {(r[0], r[1], r[2], 2 * r[3], r[4])}
    _write_report_store(str(tmp_path / "bad"), doubled)
    note = workloads.sink_diff(workloads.read_report_store(str(tmp_path / "bad")), want)
    assert "1 expected rows missing, 1 unexpected" in note
    _write_report_store(str(tmp_path / "dup"), rows | {(r[0], r[1], r[2], r[3] + 1, r[4])})
    assert workloads.sink_diff(workloads.read_report_store(str(tmp_path / "dup")), want)


def test_oracle_digest_is_order_insensitive_and_rejects_a_change():
    df = pd.DataFrame({"b": [1.0, 2.5, None], "a": ["x", "y", "z"]})
    want = oracles.canon(df)
    assert oracles.canon(df.iloc[::-1].reset_index(drop=True)) == want
    changed = df.copy()
    changed.loc[1, "b"] = 2.6
    assert oracles.canon(changed) != want
    assert oracles.canon(df.iloc[:2]) != want


def test_oracle_cache_is_keyed_on_the_sql_text(tmp_path):
    spill = str(tmp_path / "digests.json")
    one = oracles.expected_digests(["k"], {"k": "SELECT 1 AS x"}, spill)
    two = oracles.expected_digests(["k"], {"k": "SELECT 2 AS x"}, spill)
    assert one["k"] != two["k"]
    assert one == oracles.expected_digests(["k"], {"k": "SELECT 1 AS x"}, spill)
    entries = json.load(open(spill))["entries"]
    assert len(entries) == 2


def test_committed_oracle_cache_covers_the_key_list():
    cache = json.load(open(oracles.CACHE))
    assert cache["corpus"] == oracles.corpus_digest()
    assert sorted(e["key"] for e in cache["entries"].values()) == sorted(workloads.QUERY_KEYS)


# ---- benchmark definition --------------------------------------------------

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(w["name"] for w in bench["workloads"]) <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
