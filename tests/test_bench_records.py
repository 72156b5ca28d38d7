"""bench.py's run-record store: one append-only JSONL file per (round, cpus,
sf) key, the line a run prints, and its sim track. No Spark needed."""

from __future__ import annotations

import json
import math

import bench
from limeqo_spark.report import PUBLISHED
from limeqo_spark.workload import Workload


def _record(cpus: int, value: float, loaded: bool, round_tag: str = "rt") -> dict:
    return {
        "metric": "headline_query_wall",
        "value": value,
        "unit": "sec",
        "queries": {"q01": value},
        "counters_differ": {"q01": ["shuffle_write_bytes"]} if loaded else {},
        "loadavg_start": [3.5, 2.0, 1.0] if loaded else [0.1, 0.1, 0.1],
        "loadavg_end": [4.0, 2.5, 1.2] if loaded else [0.1, 0.1, 0.1],
        "sf": "/data/sf0.1",
        "cpus": cpus,
        "round": round_tag,
        "sim_error": "FileNotFoundError: reference dataset absent",
    }


def test_core_counts_get_separate_files_and_appends_leave_others_alone(tmp_path):
    p4, n4 = bench.append_run(str(tmp_path), _record(4, 10.0, False))
    before4 = open(p4, "rb").read()
    p32, n32 = bench.append_run(str(tmp_path), _record(32, 20.0, False))
    assert p4 != p32
    assert p4.endswith("bench/rt-cpus4-sf0.1.jsonl")
    assert p32.endswith("bench/rt-cpus32-sf0.1.jsonl")
    assert (n4, n32) == (1, 1)
    assert open(p4, "rb").read() == before4
    before32 = open(p32, "rb").read()
    bench.append_run(str(tmp_path), _record(4, 11.0, False))
    assert open(p32, "rb").read() == before32


def test_second_append_keeps_earlier_bytes_as_prefix(tmp_path):
    path, first = bench.append_run(str(tmp_path), _record(8, 10.0, False))
    before = open(path, "rb").read()
    same, second = bench.append_run(str(tmp_path), _record(8, 12.0, True))
    after = open(path, "rb").read()
    assert same == path
    assert (first, second) == (1, 2)
    assert after.startswith(before) and len(after) > len(before)
    lines = after.decode().splitlines()
    assert len(lines) == 2
    rec = json.loads(lines[1])
    assert rec["value"] == 12.0
    assert rec["commit"] is None or len(rec["commit"]) == 40
    assert rec["finished_at"].endswith("+00:00")


def test_contended_record_appends_and_prints(tmp_path, capsys):
    record = _record(4, 30.0, True)
    path, line_no = bench.append_run(str(tmp_path), record)
    print(json.dumps(bench.compact_line(record, path, line_no)))
    printed = json.loads(capsys.readouterr().out.strip())
    assert printed["loadavg_start"] == [3.5, 2.0, 1.0] and printed["loadavg_end"][0] == 4.0
    assert printed["counters_differ"] == {"q01": ["shuffle_write_bytes"]}
    assert printed["value"] == 30.0 and printed["queries"] == {"q01": 30.0}
    assert printed["record"] == path and printed["record_line"] == 1
    assert printed["sim_error"].startswith("FileNotFoundError: ")
    assert json.loads(open(path).read())["value"] == 30.0


def test_sim_track_reports_each_strategy_next_to_its_published_value(tmp_path):
    wl = Workload.synthetic_low_rank(n_rows=60, seed=1)
    sim = bench.sim_track({"job": wl}, str(tmp_path))
    for s in ("random", "greedy", "limeqo", "limeqo_plus"):
        ours = sim[f"sim_job_{s}"]
        # rounded to 3 decimals in the published unit (seconds for JOB)
        assert math.isfinite(ours)
        assert wl.opt_time - 5e-4 <= ours <= wl.default_time + 5e-4, s
        assert sim[f"sim_job_{s}_baseline"] == PUBLISHED["job"][s][0]
        assert len(list((tmp_path / "job").glob(f"{s}_[0-9]*.json"))) == bench.SIM_REPS
