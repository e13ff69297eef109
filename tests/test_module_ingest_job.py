"""jobs/module_ingest_job.run on self-generated access logs (no
reference checkout needed): the job is one Spark job whose row/error
stats come from an Observation on the write and match the written
parquet, and its multiline path keys lines by the long scan row id, so
inputs read as several scan partitions combine in file order."""

from __future__ import annotations

import json
import uuid

import duckdb
import pytest

from jobs.module_ingest_job import run

ACCESS = (
    "%{IPORHOST:source.address} - %{DATA:user.name} "
    "\\[%{HTTPDATE:apache.access.time}\\] "
    '"%{WORD:http.request.method} %{DATA:url.original} '
    'HTTP/%{NUMBER:http.version}" %{NUMBER:http.response.status_code:long} '
    "(?:%{NUMBER:http.response.body.bytes}|-)"
)
DATE = {
    "date": {
        "field": "apache.access.time",
        "target_field": "@timestamp",
        "formats": ["dd/MMM/yyyy:HH:mm:ss Z"],
    }
}
ON_FAILURE = [
    {"set": {"field": "error.message", "value": "{{ _ingest.on_failure_message }}"}}
]
MULTILINE = {"pattern": r"^\s+at ", "match": "after"}


def _pipeline(tmp_path, on_failure: bool) -> str:
    grok = {"field": "message", "patterns": [ACCESS]}
    if not on_failure:
        grok["ignore_failure"] = True
    doc = {"processors": [{"grok": grok}, DATE]}
    if on_failure:
        doc["on_failure"] = ON_FAILURE
    path = tmp_path / f"pipeline-{on_failure}.json"
    path.write_text(json.dumps(doc), encoding="utf-8")
    return str(path)


def _access_line(f: int, i: int) -> str:
    if i % 7 == 3:
        return f"garbage line {f}-{i}"
    status = (200, 404, 503)[i % 3]
    return (
        f"10.0.{f}.{i % 250} - user{i % 5} [10/Oct/2023:13:{i % 60:02d}:07 +0000] "
        f'"GET /f{f}/p{i} HTTP/1.1" {status} {100 + i}'
    )


def _write_logs(root, n_files: int, n_events: int, multiline: bool):
    """Write ``n_files`` access logs; with ``multiline`` every third
    event carries 1-3 ``   at ...`` continuation lines. Returns the
    events each file holds, as the combined (newline-joined) text."""
    root.mkdir()
    events = []
    for f in range(n_files):
        lines = []
        for i in range(n_events):
            ev = [_access_line(f, i)]
            if multiline and i % 3 == 0:
                ev += [f"   at com.example.F{f}.m{i}_{k}(F.java:{k})" for k in range(1 + i // 3 % 3)]
            lines += ev
            events.append("\n".join(ev))
        (root / f"access-{f}.log").write_text("\n".join(lines) + "\n", encoding="utf-8")
    return events


def _written(out: str) -> tuple[int, int]:
    cols = duckdb.sql(f"DESCRIBE SELECT * FROM parquet_scan('{out}/*.parquet')").fetchall()
    err = 'count("error.message")' if any(c[0] == "error.message" for c in cols) else "0"
    return duckdb.sql(f"SELECT count(*), {err} FROM parquet_scan('{out}/*.parquet')").fetchall()[0]


def _run_in_group(spark, *args, **kw) -> tuple[dict, int]:
    """Run the job under a fresh Spark job group; return its stats and
    the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"module-ingest-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "module_ingest_job.run")
    try:
        stats = run(spark, *args, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return stats, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("on_failure", [True, False], ids=["on_failure", "no_handler"])
def test_single_scan_stats_match_written_parquet(spark, tmp_path, on_failure):
    logs = tmp_path / "logs"
    events = _write_logs(logs, n_files=3, n_events=60, multiline=False)
    out = str(tmp_path / "out")
    stats, n_jobs = _run_in_group(spark, _pipeline(tmp_path, on_failure), str(logs), out)

    assert n_jobs == 1
    assert set(stats) == {"rows", "errors", "output"} and stats["output"] == out
    assert all(type(stats[k]) is int for k in ("rows", "errors"))
    rows, errors = _written(out)
    assert stats["rows"] == rows == len(events)
    assert stats["errors"] == errors
    if on_failure:
        assert errors == sum(e.startswith("garbage") for e in events) > 0
    else:
        assert errors == 0


def test_empty_log_file(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "empty.log").write_text("", encoding="utf-8")
    out = str(tmp_path / "out")
    stats, n_jobs = _run_in_group(spark, _pipeline(tmp_path, True), str(logs), out)

    assert n_jobs == 1
    assert stats == {"rows": 0, "errors": 0, "output": out}
    assert spark.read.parquet(out).count() == 0


@pytest.mark.parametrize("split_bytes", [None, 1024], ids=["file_per_partition", "split_files"])
def test_multiline_across_scan_partitions(spark, tmp_path, split_bytes):
    """Lines from several scan partitions carry row ids past the int
    range (partition index << 33); the combine must take them as its
    line order. ``split_bytes`` also cuts each file into several
    partitions, so continuation runs straddle split boundaries."""
    logs = tmp_path / "logs"
    events = _write_logs(logs, n_files=2, n_events=90, multiline=True)
    conf_key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(conf_key)
    if split_bytes:
        spark.conf.set(conf_key, str(split_bytes))
    try:
        n_parts = spark.read.text(str(logs)).rdd.getNumPartitions()
        out = str(tmp_path / "out")
        stats = run(spark, _pipeline(tmp_path, True), str(logs), out, multiline=MULTILINE)
    finally:
        spark.conf.set(conf_key, prev)

    assert n_parts >= (4 if split_bytes else 2)
    rows, errors = _written(out)
    assert stats["rows"] == rows == len(events)
    assert stats["errors"] == errors
    got = duckdb.sql(
        f"""SELECT message, "log.flags" FROM parquet_scan('{out}/*.parquet')"""
    ).fetchall()
    assert sorted(m for m, _ in got) == sorted(events)
    flagged = sorted(m for m, flags in got if flags == ["multiline"])
    assert flagged == sorted(e for e in events if "\n" in e)
    assert all(flags is None for m, flags in got if "\n" not in m)
