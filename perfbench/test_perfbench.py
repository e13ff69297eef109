"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zlib

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _spec():
    with open(os.path.join(HERE, "SPEC.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("kind,size", [("transcripts", 3000), ("access", 800), ("access_multiline", 800)])
def test_same_seed_same_bytes_and_tallies(tmp_path, kind, size):
    a_dir, a_exp = gen.ensure_input(str(tmp_path / "a"), kind, 5, size, 3)
    b_dir, b_exp = gen.ensure_input(str(tmp_path / "b"), kind, 5, size, 3)
    c_dir, c_exp = gen.ensure_input(str(tmp_path / "c"), kind, 6, size, 3)
    assert _digest(a_dir) == _digest(b_dir)
    assert a_exp == b_exp
    assert _digest(a_dir) != _digest(c_dir)
    assert a_exp["rows"] == size


def test_cached_input_is_reused(tmp_path):
    d, exp = gen.ensure_input(str(tmp_path), "access", 1, 200, 2)
    marker = os.path.join(d, "access-000.log")
    before = os.stat(marker).st_mtime_ns
    assert gen.ensure_input(str(tmp_path), "access", 1, 200, 2) == (d, exp)
    assert os.stat(marker).st_mtime_ns == before
    for seed in (2, 3):
        gen.ensure_input(str(tmp_path), "access", seed, 200, 2, keep=2)
    assert sorted(os.listdir(tmp_path)) == ["access-s2-n200-f2", "access-s3-n200-f2"]


def _reference_tally(t) -> dict:
    """Row-at-a-time restatement of the oracle: logfmt dissect by
    delimiters, dim lookups, the 3-rule selector, crc32 per row."""
    sinks: dict[str, dict] = {}
    for row in t.to_pylist():
        level = caller = message = None
        text = row["text"]
        if text.startswith("level=") and " ts=" in text:
            level, rest = text[len("level="):].split(" ts=", 1)
            if " caller=" in rest and ' msg="' in rest and rest.endswith('"'):
                _, rest = rest.split(" caller=", 1)
                caller, message = rest.split(' msg="', 1)
                message = message[:-1]
            else:
                level = None
        if level == "error":
            sink = "errors"
        elif row["tool"] != "none":
            sink = f"tool-{row['tool']}"
        else:
            sink = f"conv-{row['role']}"
        key = gen.SEP.join((row["conv_id"], str(row["turn_idx"]), level or "", caller or "", message or "",
                            gen.ROLE_GROUP[row["role"]], gen.TOOL_FAMILY[row["tool"]]))
        acc = sinks.setdefault(sink, {"rows": 0, "crc": 0})
        acc["rows"] += 1
        acc["crc"] += zlib.crc32(key.encode())
    return dict(sorted(sinks.items()))


def test_vectorized_oracle_matches_row_reference():
    t = gen.transcripts_table(5000, 3)
    exp = gen.transcripts_expected(t)
    assert exp["sinks"] == _reference_tally(t)
    assert set(exp["sinks"]) == {
        "errors", "conv-user", "conv-assistant", "conv-system", "tool-bash", "tool-search", "tool-edit",
    }
    assert 0.04 < sum(r["text"].startswith("freeform") for r in t.to_pylist()) / t.num_rows < 0.06


def test_transcript_turns_are_dense_per_conversation():
    t = gen.transcripts_table(4000, 9).to_pylist()
    turns: dict[str, list[int]] = {}
    for r in t:
        turns.setdefault(r["conv_id"], []).append(r["turn_idx"])
    assert all(v == list(range(len(v))) for v in turns.values())
    # Zipf-ish skew: the hottest conversation holds far more than the mean
    sizes = sorted(len(v) for v in turns.values())
    assert sizes[-1] > 3 * len(t) / len(sizes)


def test_access_expected_counts_match_files(tmp_path):
    d, exp = gen.ensure_input(str(tmp_path), "access_multiline", 4, 1000, 4)
    lines = []
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f)) as fh:
            lines += fh.read().splitlines()
    assert len(lines) == exp["lines"]
    events = [x for x in lines if not re.match(r"^\s+at ", x)]
    assert len(events) == exp["rows"] == 1000
    assert sum(x.startswith("garbage") for x in events) == exp["errors"]
    assert sum(exp["status_counts"].values()) == exp["rows"] - exp["errors"]
    assert len(os.listdir(d)) == exp["files"] == 4
    merged = sum(not re.match(r"^\s+at ", a) and bool(re.match(r"^\s+at ", b)) for a, b in zip(lines, lines[1:]))
    assert merged == exp["multiline_events"] > 0


def test_metric_names_and_units_are_well_formed():
    b = _bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME_RE.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert {"setup_s", "events_per_s"} <= {m["name"] for m in b["end_to_end"]}


def _fake_trace_result(workload: str) -> dict:
    names = [
        "sources.scan", "actions.dissect", "enrich.lookup", "selector.route", "metrics.tally_input",
        "router.row_hash", "router.sort", "router.write", "job", "manifest.read", "pipeline.resume",
        "ingest.events", "ingest.apply", "multiline.lines", "multiline.combine", "metrics.tally", "tally.local1",
    ]
    counters = dict.fromkeys(("task_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "input_bytes",
                              "failed_tasks", "completed_tasks"), 1)
    passes = [
        {"kind": "warm", "elapsed": 2.0, "ok": True, "stats": {"rows": 10, "errors": 1}},
        {"kind": "traced", "elapsed": 2.1, "ok": True, "stats": {"rows": 10, "errors": 1}},
    ]
    return {
        "spans": {n: {"s": [1.0 + i / 10], "counters": [counters]} for i, n in enumerate(names)},
        "passes": passes,
        "layer_counts": {"rows": 10, "dissect_failures": 6, "lookup_misses": 0, "default_rows": 0},
        "multiline_counts": {"events": 10, "lines": 12, "groups": 4, "merged": 2},
        "fanout_stats": {"files_written": 3, "bucket_skew": 1.5, "parts": 2},
        "spark_totals": counters,
        "session_start_s": 5.0,
        "jvm_peak_rss_mb": 900.0,
    }


@pytest.mark.parametrize("workload", sorted(run.SIZES))
def test_every_declared_metric_is_produced(workload):
    b = _bench()
    exp = {"input_bytes": 100, "files": 4, "lines": 12, "rows": 10}
    layer = run.per_layer(workload, 10, exp, _fake_trace_result(workload), 4, 10, 1)
    assert {m["name"] for m in b["per_layer"]} == set(layer)
    e2e = run.end_to_end(10, {"setup_s": 3.0, "passes": [{"kind": "warm", "elapsed": 2.0, "ok": True}]})
    assert {m["name"] for m in b["end_to_end"]} <= set(e2e)
    for name in set(layer) | set(e2e):
        assert NAME_RE.match(name), name


def test_spec_covers_benchmark():
    b, spec = _bench(), _spec()
    assert set(spec["per_layer"]["predictions"]) == {m["name"] for m in b["per_layer"]}
    listed = {n for n, w in spec["workloads"].items() if w["in_benchmark_json"]}
    assert listed == {w["name"] for w in b["workloads"]}
    assert set(spec["workloads"]) == set(run.SIZES) == set(run.GENERATORS)
    for w in b["workloads"]:
        assert "\n" not in w["why"] and len(w["why"]) <= 200


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "route_tally", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
