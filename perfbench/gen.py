"""Deterministic benchmark inputs and their expected results.

Every input is a pure function of (generator, seed, size) and is built
here, in Python, before any Spark process starts, so the program under
test only ever sees files on disk. Each generator also writes an
``expected.json`` that the output checks compare against:

- ``transcripts``: the (conv_id, turn_idx, role, text, tool, ts) table
  that ``beats_spark.synth.synth_transcripts`` describes — Zipf-ish
  conv_id skew from a squared uniform, ~5 % malformed text, logfmt /
  apache / tool templates — drawn from numpy's seeded generator with
  role, level and template independent of each other. (The Spark
  synthesizer derives all three from one multiplicative hash, so for
  odd seeds no logfmt row carries level=error and the ``errors`` route
  is never taken.) The expected tallies come from an independent
  regex parse of the generated ``text`` column, not from the values
  the generator drew.
- ``access``: apache access-log files (run.py writes 4 per core), with
  httpdate timestamps in four zone offsets and ~5 % garbage lines;
  ``multiline=True`` adds 1-4 ``    at ...`` continuation lines to ~20 %
  of events.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib

SEP = "\x1f"  # field separator of the per-row checksum string
T0 = 1704067200  # 2024-01-01T00:00:00Z

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("bash", "search", "edit")
LEVELS = ("info", "warn", "error", "debug")
ROLE_GROUP = {"user": "human", "assistant": "agent", "system": "control", "tool": "agent"}
TOOL_FAMILY = {"bash": "shell", "search": "retrieval", "edit": "fs", "none": "none"}


def _str(x):
    import pyarrow as pa

    return pa.array(x).cast(pa.string())


def _crc32(strings) -> "np.ndarray":
    """crc32 of each UTF-8 string of a pyarrow string array."""
    import numpy as np

    strings = strings.combine_chunks() if hasattr(strings, "combine_chunks") else strings
    offs = np.frombuffer(strings.buffers()[1], dtype=np.int32)[strings.offset: strings.offset + len(strings) + 1]
    data = memoryview(strings.buffers()[2] or b"")
    return np.fromiter(
        (zlib.crc32(data[a:b]) for a, b in zip(offs[:-1].tolist(), offs[1:].tolist())),
        dtype=np.int64, count=len(strings),
    )


def sink_tally(t) -> dict:
    """Rows and checksum per sink of a routed table (pyarrow) holding
    conv_id, turn_idx, level, caller, message, role_group, tool_family
    and sink. The checksum is the sum of the crc32 of each row's fields
    joined by \\x1f, a NULL field as the empty string — the same sum
    the Spark tally computes in-job."""
    import numpy as np
    import pyarrow.compute as pc

    key = pc.binary_join_element_wise(
        t["conv_id"], t["turn_idx"].cast("string"),
        *(pc.fill_null(t[c], "") for c in ("level", "caller", "message", "role_group", "tool_family")),
        SEP,
    )
    crc = _crc32(key)
    enc = pc.dictionary_encode(t["sink"]).combine_chunks()
    idx = enc.indices.to_numpy()
    rows = np.bincount(idx, minlength=len(enc.dictionary))
    sums = np.zeros(len(enc.dictionary), dtype=np.int64)
    np.add.at(sums, idx, crc)
    return {
        s: {"rows": int(rows[i]), "crc": int(sums[i])}
        for i, s in sorted(enumerate(enc.dictionary.to_pylist()), key=lambda x: x[1])
    }


def transcripts_expected(t) -> dict:
    """Oracle over the generated table: dissect-parse ``text`` with a
    regex, look up the role/tool dims, apply the 3-rule selector
    (errors / tool-<tool> / conv-<role>), and tally per sink."""
    import pyarrow as pa
    import pyarrow.compute as pc

    m = pc.extract_regex(t["text"], r'^level=(?P<level>.*?) ts=(?P<ts>.*?) caller=(?P<caller>.*?) msg="(?P<message>.*?)"$')
    ok = m.is_valid()
    null = pa.scalar(None, pa.string())
    level, caller, message = (pc.if_else(ok, pc.struct_field(m, f), null) for f in ("level", "caller", "message"))

    def lookup(col, table):
        keys = list(table)
        return pc.take(pa.array([table[k] for k in keys]), pc.index_in(col, value_set=pa.array(keys)))

    sink = pc.if_else(
        pc.fill_null(pc.equal(level, "error"), False),
        "errors",
        pc.if_else(
            pc.not_equal(t["tool"], "none"),
            pc.binary_join_element_wise("tool-", t["tool"], ""),
            pc.binary_join_element_wise("conv-", t["role"], ""),
        ),
    )
    role_group, tool_family = lookup(t["role"], ROLE_GROUP), lookup(t["tool"], TOOL_FAMILY)
    routed = pa.table({
        "conv_id": t["conv_id"], "turn_idx": t["turn_idx"], "level": level, "caller": caller,
        "message": message, "role_group": role_group, "tool_family": tool_family, "sink": sink,
    })
    return {
        "rows": t.num_rows,
        "dissect_failures": t.num_rows - pc.sum(ok).as_py(),
        "lookup_misses": role_group.null_count + tool_family.null_count,
        "default_rows": 0,
        "sinks": sink_tally(routed),
    }


def transcripts_table(n_rows: int, seed: int):
    """The transcripts input as a pyarrow table, in row-id order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng([seed, 0x7A5C])
    n_convs = max(n_rows // 200, 1)
    u = rng.random(n_rows)
    conv_n = np.floor(u * u * n_convs).astype(np.int64)
    # turn_idx: rank of the row within its conversation, in row order
    order = np.argsort(conv_n, kind="stable")
    starts = np.r_[0, np.flatnonzero(np.diff(conv_n[order])) + 1]
    turn = np.empty(n_rows, dtype=np.int64)
    turn[order] = np.arange(n_rows) - np.repeat(starts, np.diff(np.r_[starts, n_rows]))

    role_i = rng.integers(0, 4, n_rows)
    tool_i = rng.integers(0, 3, n_rows)
    level_i = rng.integers(0, 4, n_rows)
    bad = rng.random(n_rows) < 0.05
    alt = rng.integers(0, 2, n_rows)
    kv = _str(rng.integers(0, 1000, n_rows))
    aux = rng.integers(0, 1 << 30, n_rows)
    status = _str(rng.choice(np.array([200, 200, 200, 404, 500]), n_rows))
    ts = T0 + conv_n * 3600 + turn * 7

    is_tool = role_i == 3
    role = pc.take(pa.array(ROLES), pa.array(role_i))
    tool = pc.if_else(pa.array(is_tool), pc.take(pa.array(TOOLS), pa.array(tool_i)), "none")
    stamp = pc.binary_join_element_wise(
        pa.array(np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")), "Z", "")
    join = lambda *parts: pc.binary_join_element_wise(*parts, "")  # noqa: E731
    logfmt = join("level=", pc.take(pa.array(LEVELS), pa.array(level_i)), " ts=", stamp,
                  " caller=main.go:", _str(aux % 400 + 1), ' msg="processing step ', kv, ' of run"')
    apache = join("10.0.", _str(aux % 256), ".", _str((aux >> 8) % 256), " - user", _str(aux % 500),
                  " [", stamp, '] "GET /api/v1/item/', kv, ' HTTP/1.1" ', status, " ", _str(aux % 65536))
    tool_line = join("TOOL ", tool, " args=--target=item-", kv, " rc=",
                     pc.utf8_rpad(_str(aux % 3), width=4, padding=" "), " dur_ms=", _str(aux % 9000 + 10))
    freeform = join("freeform note ", _str(np.arange(n_rows)), " without any structure at all")
    text = pc.if_else(pa.array(bad), freeform,
                      pc.if_else(pa.array(is_tool), tool_line, pc.if_else(pa.array(alt == 0), logfmt, apache)))
    return pa.table({
        "conv_id": join("conv-", pc.utf8_lpad(_str(conv_n), width=6, padding="0")),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
    })


def write_transcripts(path: str, n_rows: int, seed: int, n_files: int) -> dict:
    import pyarrow.parquet as pq

    table = transcripts_table(n_rows, seed)
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))
    return transcripts_expected(table)


ZONES = ("+0000", "-0700", "+0530", "+0900")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
STATUSES = (200, 200, 200, 200, 301, 404, 500, 503)
METHODS = ("GET", "GET", "GET", "POST", "PUT", "DELETE")


_ZONE_OFFSET = {z: (1 if z[0] == "+" else -1) * (int(z[1:3]) * 3600 + int(z[3:5]) * 60) for z in ZONES}


def _httpdate(epoch: int, zone: str, days: dict[int, str]) -> str:
    """``dd/Mon/yyyy:HH:MM:SS +zzzz`` for ``epoch`` shown in ``zone``;
    ``days`` memoizes the date part per day number."""
    t = epoch + _ZONE_OFFSET[zone]
    day, sec = divmod(t, 86400)
    date = days.get(day)
    if date is None:
        d = dt.date(1970, 1, 1) + dt.timedelta(days=day)
        date = days[day] = f"{d.day:02d}/{MONTHS[d.month - 1]}/{d.year}"
    return f"{date}:{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d} {zone}"


def write_access(path: str, n_events: int, seed: int, n_files: int, multiline: bool) -> dict:
    """Write ``n_files`` access logs holding ``n_events`` events in
    total and return the counts the ingest job must report."""
    rng = random.Random(seed * 7919 + (1 if multiline else 0))
    os.makedirs(path, exist_ok=True)
    status_counts: dict[str, int] = {}
    garbage = lines = failure_outcomes = merged = 0
    ts_sum = 0
    days: dict[int, str] = {}
    per_file = -(-n_events // n_files)
    for k in range(n_files):
        out = []
        for j in range(min(per_file, n_events - k * per_file)):
            i = k * per_file + j
            epoch = T0 + i * 3 + rng.randrange(3)
            if rng.random() < 0.05:
                garbage += 1
                out.append(f"garbage line {i}: upstream connection reset by peer")
            else:
                st = rng.choice(STATUSES)
                size = str(rng.randrange(100, 60000)) if rng.random() < 0.9 else "-"
                user = f"user{rng.randrange(500)}" if rng.random() < 0.5 else "-"
                out.append(
                    f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                    f" - {user} [{_httpdate(epoch, rng.choice(ZONES), days)}]"
                    f' "{rng.choice(METHODS)} /api/v1/item/{rng.randrange(10000)}?page={rng.randrange(50)}'
                    f' HTTP/1.1" {st} {size}'
                )
                status_counts[str(st)] = status_counts.get(str(st), 0) + 1
                failure_outcomes += st >= 500
                ts_sum += epoch
            if multiline and rng.random() < 0.2:
                merged += 1
                for d in range(rng.randint(1, 4)):
                    out.append(f"    at com.example.svc.Handler.step{d}(Handler.java:{rng.randrange(1, 900)})")
        lines += len(out)
        with open(os.path.join(path, f"access-{k:03d}.log"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(out) + "\n")
    return {
        "rows": n_events,
        "lines": lines,
        "files": n_files,
        "multiline_events": merged,
        "errors": garbage,
        "status_counts": dict(sorted(status_counts.items())),
        "outcome_failure": failure_outcomes,
        "ts_sum": ts_sum,
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def ensure_input(cache_root: str, kind: str, seed: int, size: int, n_files: int,
                 keep: int = 6) -> tuple[str, dict]:
    """Return (input dir, expected) for one (generator, seed, size),
    generating it on a cache miss. A finished entry is marked by its
    expected.json, written last; only the ``keep`` most recently used
    entries stay on disk."""
    import shutil

    entry = os.path.join(cache_root, f"{kind}-s{seed}-n{size}-f{n_files}")
    data, exp_path = os.path.join(entry, "data"), os.path.join(entry, "expected.json")
    if os.path.exists(exp_path):
        os.utime(exp_path)
        with open(exp_path) as fh:
            return data, json.load(fh)
    shutil.rmtree(entry, ignore_errors=True)
    if kind == "transcripts":
        expected = write_transcripts(data, size, seed, n_files)
    elif kind in ("access", "access_multiline"):
        expected = write_access(data, size, seed, n_files, kind == "access_multiline")
    else:
        raise ValueError(f"unknown generator {kind!r}")
    expected["input_bytes"] = dir_bytes(data)
    tmp = exp_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(expected, fh)
    os.replace(tmp, exp_path)

    def last_used(e: str) -> float:
        try:
            return os.path.getmtime(os.path.join(cache_root, e, "expected.json"))
        except OSError:
            return 0.0

    for old in sorted(os.listdir(cache_root), key=last_used, reverse=True)[keep:]:
        shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    return data, expected
