"""The benchmark workloads, as seen from inside one Spark process.

Each workload drives the program through its public entry points only
(``Pipeline.run``, ``Pipeline.transform``, ``module_ingest_job.run``
and the operator calls they compose), times one *job* per pass, and
checks every pass's output against the generator's expected results.
For the traced run it also lists the *plan prefixes* that are sent to
Spark's ``noop`` sink: a lazily composed layer's self time is the
difference between consecutive prefixes.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

from pyspark.sql import functions as F

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ACCESS_PIPELINE = os.path.join(HERE, "access_pipeline.json")
MULTILINE = {"pattern": r"^\s+at ", "match": "after", "negate": False}
BUCKETS = 64

# per-row checksum of the parsed columns; gen.sink_tally sums the same in pyarrow
_CRC = (
    "crc32(concat_ws(char(31), conv_id, cast(turn_idx as string),"
    " coalesce(level, ''), coalesce(caller, ''), coalesce(message, ''),"
    " coalesce(role_group, ''), coalesce(tool_family, '')))"
)
# the historical parse-route tally checksum
_XXH = "bit_xor(xxhash64(conv_id, turn_idx, level, caller, message, role_group, tool_family))"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def tally(routed):
    """Per-sink row count and checksums of a routed frame."""
    return routed.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(_XXH).alias("xxh"),
        F.expr(f"sum({_CRC})").alias("crc"),
    )


def check_tally(rows, expected) -> list[str]:
    got = {r["sink"]: {"rows": r["n"], "crc": r["crc"]} for r in rows}
    if got != expected["sinks"]:
        return [f"route tally {got} != expected {expected['sinks']}"]
    return []


class Transcripts:
    """Shared part of the two workloads over the transcripts table:
    the parse-route job's processor chain and 3-rule selector."""

    def __init__(self, spark, input_dir: str, expected: dict):
        from jobs.parse_route_job import _default_pipeline

        self.spark, self.input, self.expected = spark, input_dir, expected
        self.pipe = _default_pipeline(spark, BUCKETS)

    def read(self):
        return self.spark.read.parquet(self.input)

    def prefixes(self) -> list[tuple[str, object]]:
        from beats_spark.operators.actions import apply_chain

        procs = list(self.pipe.processors)
        # the tally's own input: the routed frame cut to the columns it
        # reads, so the tally's self time is the tally less this prefix
        cols = ["conv_id", "turn_idx", "level", "caller", "message", "role_group", "tool_family", "sink"]
        return [
            ("sources.scan", lambda: self.read()),
            ("actions.dissect", lambda: apply_chain(self.read(), procs[:1])),
            ("enrich.lookup", lambda: apply_chain(self.read(), procs)),
            ("selector.route", lambda: self.pipe.transform(self.read())),
            ("metrics.tally_input", lambda: self.pipe.transform(self.read()).select(*cols)),
        ]

    def layer_counts(self) -> dict:
        """Rows that failed the dissect, missed a lookup, or fell to
        the default sink (one aggregate over the routed frame)."""
        return self.pipe.transform(self.read()).agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.array_contains("log_flags", "dissect_parsing_error")).alias("dissect_failures"),
            F.count_if(F.col("role_group").isNull() | F.col("tool_family").isNull()).alias("lookup_misses"),
            F.count_if(F.col("sink") == self.pipe.default_sink).alias("default_rows"),
        ).collect()[0].asDict()

    def check_layer_counts(self, counts: dict) -> list[str]:
        want = {k: self.expected[k] for k in counts}
        return [] if counts == want else [f"layer counts {counts} != expected {want}"]

    def tally_rows(self):
        return tally(self.pipe.transform(self.read())).collect()


class RouteTally(Transcripts):
    name = "route_tally"

    def job(self, out: str):
        return self.tally_rows()

    def check(self, result, out: str) -> list[str]:
        return check_tally(result, self.expected)

    def trace_prefixes(self):
        return self.prefixes()


class FanoutWrite(Transcripts):
    name = "fanout_write"

    def __init__(self, *a):
        super().__init__(*a)
        self.last_stats: dict = {}

    def job(self, out: str):
        return self.pipe.run(self.spark, self.read(), out, run_id=os.path.basename(out))

    def resume(self, out: str):
        return self.pipe.run(self.spark, self.read(), out, run_id="resume", resume=True)

    def routed(self):
        from beats_spark.operators.router import with_partition_id, with_row_hash

        return with_row_hash(self.pipe.transform(with_partition_id(self.read(), BUCKETS)))

    def trace_prefixes(self):
        from beats_spark.operators.router import sort_for_fanout

        return self.prefixes() + [
            ("router.row_hash", lambda: self.routed()),
            ("router.sort", lambda: sort_for_fanout(self.routed())),
        ]

    def check(self, result, out: str) -> list[str]:
        """Written sinks, manifest and metrics of one committed run
        against the oracle; every file ordered by (conv_id, turn_idx)."""
        import pyarrow.parquet as pq

        exp, run_id = self.expected, result.run_id
        problems = []
        if result.events_total != exp["rows"] or result.events_published != exp["rows"]:
            problems.append(f"run result {result} != {exp['rows']} rows")
        sinks, parts, files, bucket_rows = _read_sinks(f"{out}/data")
        if sinks != exp["sinks"]:
            problems.append(f"written sinks {sinks} != expected {exp['sinks']}")
        problems += [f"{f}: rows not ordered by (conv_id, turn_idx)" for f in files if not files[f]]
        man = pq.read_table(f"{out}/_manifest").to_pylist()
        man = {m["partition_id"]: m for m in man if m["run_id"] == run_id}
        if sum(m["rows_routed"] for m in man.values()) != exp["rows"]:
            problems.append("manifest rows != input rows")
        bad = [p for p, x in parts.items() if p not in man or int(man[p]["checksum"], 16) != x & (2**64 - 1)]
        if bad or set(man) != set(parts):
            problems.append(f"manifest checksums disagree with written data for parts {bad[:5]}")
        met = [m for m in pq.read_table(f"{out}/_metrics").to_pylist() if m["run_id"] == run_id]
        published = {m["sink"]: m["events_published"] for m in met}
        if published != {k: v["rows"] for k, v in exp["sinks"].items()}:
            problems.append(f"_metrics published {published} != expected")
        if any(m["events_total"] != exp["rows"] for m in met):
            problems.append("_metrics events_total != input rows")
        rows = list(bucket_rows.values())
        self.last_stats = {
            "files_written": len(files),
            "bucket_skew": max(rows) / (sum(rows) / len(rows)) if rows else 0.0,
            "parts": len(parts),
        }
        return problems


def _read_sinks(root: str):
    """Re-read a fan-out root with pyarrow, file by file. Returns the
    per-sink tally (gen.sink_tally), the xor of row_hash per part_id,
    whether each file is ordered by (conv_id, turn_idx), and the rows
    per (sink, part_id)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    cols = ["conv_id", "turn_idx", "level", "caller", "message", "role_group", "tool_family", "row_hash"]
    tables = []
    parts: dict[int, int] = defaultdict(int)
    files: dict[str, bool] = {}
    bucket_rows: dict[tuple, int] = defaultdict(int)
    for d, _, fs in os.walk(root):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(d, f)
            kv = dict(seg.split("=", 1) for seg in os.path.relpath(d, root).split(os.sep))
            sink, part = kv["sink"], int(kv["part_id"])
            t = pq.read_table(path, columns=cols)
            c, n = t["conv_id"], t["turn_idx"]
            later = pc.or_(pc.less(c[:-1], c[1:]),
                           pc.and_(pc.equal(c[:-1], c[1:]), pc.less_equal(n[:-1], n[1:])))
            files[path] = pc.all(later).as_py() is not False
            parts[part] ^= int(np.bitwise_xor.reduce(t["row_hash"].to_numpy(), initial=0))
            bucket_rows[(sink, part)] += t.num_rows
            tables.append(t.append_column("sink", pa.array([sink] * t.num_rows, pa.string())))
    sinks = gen.sink_tally(pa.concat_tables(tables)) if tables else {}
    return sinks, dict(parts), files, bucket_rows


class Ingest:
    """``module_ingest_job.run`` over generated access logs."""

    name = "ingest_access"
    multiline = None

    def __init__(self, spark, input_dir: str, expected: dict):
        self.spark, self.input, self.expected = spark, input_dir, expected

    def job(self, out: str):
        from jobs.module_ingest_job import run

        return run(self.spark, ACCESS_PIPELINE, self.input, out, multiline=self.multiline)

    def check(self, stats, out: str) -> list[str]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        exp = self.expected
        problems = []
        if stats["rows"] != exp["rows"] or stats["errors"] != exp["errors"]:
            problems.append(f"job stats {stats} != expected rows/errors {exp['rows']}/{exp['errors']}")
        t = pq.read_table(out, columns=["@timestamp", "http.response.status_code", "event.outcome", "error.message"])
        got = {
            "rows": t.num_rows,
            "errors": t.num_rows - t["error.message"].null_count,
            "status_counts": {
                str(r["values"]): r["counts"]
                for r in pc.value_counts(t["http.response.status_code"].drop_null()).to_pylist()
            },
            "outcome_failure": pc.sum(pc.equal(t["event.outcome"], "failure")).as_py() or 0,
        }
        ts = t["@timestamp"].drop_null()
        unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
        got["ts_sum"] = pc.sum(pc.divide(ts.cast("int64"), unit)).as_py() or 0
        got["status_counts"] = dict(sorted(got["status_counts"].items()))
        want = {k: exp[k] for k in got}
        if got != want:
            problems.append(f"written output {got} != expected {want}")
        return problems

    def _raw(self):
        # the job's own scan (module_ingest_job.run), restated so the
        # traced run can time each prefix of its plan
        return self.spark.read.text(self.input).select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("rowid"),
            F.col("value").alias("message"),
        )

    def events(self):
        raw = self._raw()
        if not self.multiline:
            return raw.select("rowid", "message")
        from beats_spark.streaming.multiline import multiline_batch

        lines = raw.select(
            F.col("file").alias("conv_id"),
            F.col("rowid").cast("int").alias("turn_idx"),
            F.col("message").alias("text"),
        )
        return multiline_batch(lines, **self.multiline).select(
            F.col("first_turn_idx").cast("long").alias("rowid"),
            F.col("doc").alias("message"),
        )

    def _applied(self):
        from beats_spark.operators.ingest import load_ingest_pipeline

        with open(ACCESS_PIPELINE, encoding="utf-8") as fh:
            pipe = load_ingest_pipeline(fh.read())
        df = self.events().filter(F.length("message") > 0)
        return pipe.apply(df.withColumn("@timestamp", F.lit(None).cast("string")))

    def trace_prefixes(self):
        return [("sources.scan", self._raw), ("ingest.events", self.events), ("ingest.apply", self._applied)]


def multiline_lines(spark, path: str):
    """Access-log lines keyed for ``multiline_batch``: the file, and the
    line's record number within its scan partition (the low 33 bits of
    ``monotonically_increasing_id``), which follows file order and fits
    an int whatever the partition index."""
    return spark.read.text(path).select(
        F.input_file_name().alias("conv_id"),
        F.expr("cast(monotonically_increasing_id() & 8589934591 as int)").alias("turn_idx"),
        F.col("value").alias("text"),
    )


def multiline_steps(spark, path: str):
    """Plan prefixes of the multiline layer alone over a multiline
    access-log input: the keyed lines, then their combine."""
    from beats_spark.streaming.multiline import multiline_batch

    return [
        ("multiline.lines", lambda: multiline_lines(spark, path)),
        ("multiline.combine", lambda: multiline_batch(multiline_lines(spark, path), **MULTILINE)),
    ]


def multiline_counts(spark, path: str) -> dict:
    """What the combine produced: events, the lines they hold, the
    per-file groups, and the events that merged continuation lines."""
    from beats_spark.streaming.multiline import multiline_batch

    return multiline_batch(multiline_lines(spark, path), **MULTILINE).agg(
        F.count(F.lit(1)).alias("events"),
        F.sum("n_lines").alias("lines"),
        F.count_distinct("conv_id").alias("groups"),
        F.count_if(F.col("n_lines") > 1).alias("merged"),
    ).collect()[0].asDict()


def check_multiline_counts(counts: dict, expected: dict) -> list[str]:
    want = {"events": expected["rows"], "lines": expected["lines"], "groups": expected["files"],
            "merged": expected["multiline_events"]}
    return [] if counts == want else [f"multiline counts {counts} != expected {want}"]


class IngestMultiline(Ingest):
    name = "ingest_multiline"
    multiline = MULTILINE


WORKLOADS = {w.name: w for w in (FanoutWrite, RouteTally, Ingest, IngestMultiline)}
