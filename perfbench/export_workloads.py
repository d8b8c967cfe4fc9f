"""The conduit workload, ``export_batch_stream``: the export as a batch
job, then, in traced runs, as a continuous stream, in one Spark session.
The two phases share the session because a cold set-up costs ~11 s on a
4-core box. The stream phase has per-layer metrics only (its commit
latency swings too far for a bound; see perfbench/README.md), so untraced
runs leave it out and spend their time on the batch exports."""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import reference
from perfbench.harness import Outcome, median, noop_write, percentile, timed_loop
from perfbench.inputs import (
    EXPORT_DDL,
    EXPORT_PROPERTIES,
    EXPORT_PARTITION_COL,
    EXPORT_TABLE,
    block_texts,
    export_rows,
    write_blocks,
)

OUTPUT_SCHEMA = f"json_payload string, {EXPORT_PARTITION_COL} string"
WARM_UP_EXPORTS = 2
MIN_EXPORTS = 3


def _engine(work_dir: str):
    from hive_export_spark.engine import ExportEngine

    return ExportEngine.from_properties(
        {
            "hive.uri": "file://" + os.path.join(work_dir, "warehouse"),
            "hive.db": "bench",
            "hive.table": EXPORT_TABLE,
            "hive.partition.columns": f"{EXPORT_TABLE}:{EXPORT_PARTITION_COL.upper()}",
        }
    )


def _read_back(spark, path: str, fmt: str) -> Counter:
    rows = spark.read.schema(OUTPUT_SCHEMA).format(fmt).load(path).collect()
    return Counter((r[EXPORT_PARTITION_COL], r["json_payload"]) for r in rows)


def _mismatched_ids(expected: Counter, got: Counter) -> set[int]:
    """Event ids whose (partition, payload) rows are not written exactly
    once each, or not at all."""
    bad = set()
    for key in (expected - got) + (got - expected):
        try:
            bad.add(json.loads(key[1])["event_id"])
        except (ValueError, KeyError, TypeError):
            bad.add(-1)
    return bad


def _data_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def export_batch_stream(ctx) -> Outcome:
    """The batch phase, then, in traced runs, the stream phase."""
    out = Outcome()
    batch_layers = _export_batch(ctx, out)
    if ctx.tracer.enabled:
        stream_layers = _export_stream(ctx, out)
        ctx.layer_probe = lambda: {**batch_layers(), **stream_layers()}
    return out


# --- batch phase ------------------------------------------------------------------


def _export_batch(ctx, out: Outcome):
    """Export-block NDJSON -> ``export_blocks`` source ->
    ``ExportEngine.export_batch(fmt="orc")`` into a fresh directory, the
    first Spark work after set-up. Sets throughput_per_s (rows/s) and
    latency_p50_ms (one export); returns the per-layer probe."""
    from hive_export_spark.operators.parity import export_pipeline, write_partitioned

    spark, tracer = ctx.spark, ctx.tracer
    n_rows, n_blocks = (2_000, 4) if ctx.smoke else (16_000, 8)
    rows = export_rows(ctx.rng, n_rows)
    blocks_dir = os.path.join(ctx.work_dir, "blocks")
    write_blocks(ctx.rng, rows, n_blocks, blocks_dir)
    engine = _engine(ctx.work_dir)
    out.info["batch_input"] = {"rows": n_rows, "blocks": n_blocks, **EXPORT_PROPERTIES}

    def read(path: str):
        return (
            spark.read.format("export_blocks").schema(EXPORT_DDL)
            .option("path", path).load()
        )

    def export(i: int) -> float | None:
        out.attempted += 1
        try:
            with tracer.span("engine.export_batch"):
                t0 = time.perf_counter()
                engine.export_batch(read(blocks_dir), os.path.join(ctx.work_dir, f"out-{i}"), fmt="orc")
                return time.perf_counter() - t0
        except Exception as exc:  # one failed export must not end the run
            out.fail(f"export {i}: {exc!r}")
            return None

    expected = Counter(reference.routed(r) for r in rows)

    def check(i: int) -> None:
        """Read export i back against the reference, then clear it."""
        path = os.path.join(ctx.work_dir, f"out-{i}")
        try:
            bad = _mismatched_ids(expected, _read_back(spark, path, "orc"))
            if bad:
                out.fail(f"export {i}: {len(bad)} rows differ from the reference")
        except Exception as exc:
            out.fail(f"export {i} read-back: {exc!r}")
        shutil.rmtree(path, ignore_errors=True)

    # warm-up: the first export pays the Python DataSource workers' and the
    # ORC writer's start, and the JIT keeps speeding the next one up (by
    # 10-30% on a busy host)
    out.info["export_first_s"] = export(0)
    check(0)
    done = []

    def export_and_clear(i: int) -> float | None:
        # the previous output is cleared untimed; the last one is checked
        if done:
            shutil.rmtree(os.path.join(ctx.work_dir, f"out-{done[-1]}"), ignore_errors=True)
        done.append(i)
        return export(i)

    out.info["export_warm_up_s"] = [export_and_clear(-i) for i in range(1, WARM_UP_EXPORTS)]
    walls = timed_loop(ctx, export_and_clear, min_samples=MIN_EXPORTS)
    check(done[-1])
    out.end_to_end["throughput_per_s"] = median(n_rows / w for w in walls)
    out.end_to_end["latency_p50_ms"] = median(walls) * 1000
    out.info["export_s"] = walls

    if not tracer.enabled:
        return dict
    with tracer.span("sources.export_blocks.decode"):
        noop_write(read(blocks_dir))
    decoded = read(blocks_dir).cache()
    decoded.count()
    pcols = [EXPORT_PARTITION_COL]
    with tracer.span("operators.parity.export_pipeline"):
        noop_write(export_pipeline(decoded, pcols, reference.UNSPECIFIED_TOKEN))
    path = os.path.join(ctx.work_dir, "out-layer")
    with tracer.span("operators.parity.write_partitioned"):
        write_partitioned(
            export_pipeline(decoded, pcols, reference.UNSPECIFIED_TOKEN),
            path, pcols, fmt="orc",
        )
    files = _data_files(path)
    shutil.rmtree(path, ignore_errors=True)
    decoded.unpersist()
    return lambda: _export_batch_layers(tracer, n_rows, files)


def _export_batch_layers(tracer, n_rows: int, files: int) -> dict[str, float]:
    (decode,) = tracer.named("sources.export_blocks.decode")
    (encode,) = tracer.named("operators.parity.export_pipeline")
    (write,) = tracer.named("operators.parity.write_partitioned")
    return {
        "sources.export_blocks.decode_s": decode.seconds,
        "sources.export_blocks.tasks": decode.spark["tasks"],
        "operators.parity.encode_s": encode.seconds,
        "operators.parity.write_s": write.seconds,
        "operators.parity.files_written": files,
        "operators.parity.rows_per_file": n_rows / files if files else 0.0,
        "operators.parity.write_tasks": write.spark["tasks"],
        "operators.parity.shuffle_bytes": write.spark["shuffle_bytes"],
    }


# --- stream phase -----------------------------------------------------------------


class _CommitLog:
    """Reads a file-source streaming checkpoint: which micro-batch took
    each landed file, and when each micro-batch committed."""

    def __init__(self, checkpoint: str) -> None:
        self._sources = os.path.join(checkpoint, "sources", "0")
        self._commits = os.path.join(checkpoint, "commits")
        self._parsed: set[str] = set()
        self.batch_of: dict[str, int] = {}

    def refresh(self) -> dict[int, float]:
        if os.path.isdir(self._sources):
            for name in sorted(os.listdir(self._sources)):
                if name.startswith(".") or name in self._parsed:
                    continue
                with open(os.path.join(self._sources, name), encoding="utf-8") as fh:
                    lines = fh.read().splitlines()[1:]   # first line: log version
                for line in lines:
                    entry = json.loads(line)
                    self.batch_of[os.path.basename(entry["path"])] = entry["batchId"]
                self._parsed.add(name)
        commits = {}
        if os.path.isdir(self._commits):
            for name in os.listdir(self._commits):
                if name.isdigit():
                    commits[int(name)] = os.stat(os.path.join(self._commits, name)).st_mtime
        return commits

    def wait(self, names: list[str], timeout_s: float, query) -> dict[str, float]:
        """Commit time of the micro-batch that holds each file."""
        deadline = time.time() + timeout_s
        while True:
            commits = self.refresh()
            done = {
                n: commits[self.batch_of[n]]
                for n in names
                if n in self.batch_of and self.batch_of[n] in commits
            }
            if len(done) == len(names):
                return done
            if query.exception() is not None or not query.isActive:
                raise RuntimeError(f"stream stopped: {query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"{len(names) - len(done)} blocks not committed")
            time.sleep(0.02)


def _export_stream(ctx, out: Outcome):
    """Open-loop block arrivals into a directory read by the JVM JSON file
    source and exported by ``ExportEngine.export_stream``; returns the
    per-layer probe."""
    spark, tracer = ctx.spark, ctx.tracer
    if ctx.smoke:
        rate, rows_per_block, n_open, cap = 10.0, 10, 20, 5
    else:
        # a micro-batch of a few 20-row blocks takes ~1 s, so most blocks
        # find the stream idle and latency measures the commit path
        rate, rows_per_block, cap = 3.0, 20, 30
        n_open = max(24, math.ceil(rate * ctx.seconds))
    n_warm = 4
    n_blocks = n_warm + n_open
    rows = export_rows(ctx.rng, n_blocks * rows_per_block)
    blocks = block_texts(ctx.rng, rows, rows_per_block)
    expected = Counter(reference.routed(r) for r in rows)
    out.info["stream_input"] = {
        "rate_blocks_per_s": rate, "rows_per_block": rows_per_block,
        "open_loop_blocks": n_open, "max_files_per_trigger": cap, **EXPORT_PROPERTIES,
    }

    landing = os.path.join(ctx.work_dir, "landing")
    staging = os.path.join(ctx.work_dir, "staging")
    checkpoint = os.path.join(ctx.work_dir, "checkpoint")
    sink = os.path.join(ctx.work_dir, "out")
    for d in (landing, staging):
        os.makedirs(d)

    def land(i: int) -> str:
        """Write block i where the source cannot see it, then rename it
        into the landing directory (an atomic appearance)."""
        name = f"block-{i:05d}.json"
        tmp = os.path.join(staging, name)
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(blocks[i][1])
        os.rename(tmp, os.path.join(landing, name))
        return name

    progress = _ProgressLog() if tracer.enabled else None
    if progress is not None:
        spark.streams.addListener(progress)
    log = _CommitLog(checkpoint)
    engine = _engine(ctx.work_dir)
    landed: list[str] = []
    query = None
    try:
        with tracer.span("engine.export_stream"):
            stream_df = (
                spark.readStream.schema(EXPORT_DDL)
                .option("maxFilesPerTrigger", cap).json(landing)
            )
            t_start = time.time()
            query = engine.export_stream(stream_df, sink, checkpoint, available_now=False)
            # warm-up: the first micro-batch pays codegen and worker start
            with tracer.span("stream.warm_up"):
                warm = [land(i) for i in range(n_warm)]
                landed += warm
                first = min(log.wait(warm, 120, query).values())
            out.info["stream_first_commit_s"] = first - t_start

            # open loop: block j is due at t0 + j/rate whether or not the
            # stream keeps up; latency runs from the due time
            due, land_at, names = [], [], []
            with tracer.span("stream.open_loop"):
                t0 = time.time() + 0.05
                for j in range(n_open):
                    t_due = t0 + j / rate
                    pause = t_due - time.time()
                    if pause > 0:
                        time.sleep(pause)
                    names.append(land(n_warm + j))
                    land_at.append(time.time())
                    due.append(t_due)
                landed += names
                committed = log.wait(names, 120, query)
        out.attempted += len(landed)

        latencies = [(committed[n] - d) * 1000 for n, d in zip(names, due)]
        commit_times = sorted(committed.values())
        backlog = [
            (j + 1) - sum(1 for c in commit_times if c <= t)
            for j, t in enumerate(land_at)
        ]
        out.info.update(
            {
                "stream_latency_p50_ms": median(latencies),
                "stream_latency_p95_ms": percentile(latencies, 95),
                "stream_latency_samples": len(latencies),
                "generator_late_ms_max": max(
                    (a - d) * 1000 for a, d in zip(land_at, due)
                ),
                "backlog_blocks_max": max(backlog),
            }
        )
    except Exception as exc:
        out.attempted += max(1, len(landed))
        out.fail(f"stream: {exc!r}", count=max(1, len(landed)))
        return dict
    finally:
        if query is not None:
            query.stop()
        if progress is not None:
            spark.streams.removeListener(progress)

    # exactly once: every landed row committed once, with the reference payload
    landed_ids = set()
    for name in landed:
        landed_ids.update(blocks[int(name[6:11])][0])
    want = Counter({k: v for k, v in expected.items() if json.loads(k[1])["event_id"] in landed_ids})
    bad = _mismatched_ids(want, _read_back(spark, sink, "parquet"))
    if bad:
        bad_blocks = {b for b, (ids, _) in enumerate(blocks) if bad & set(ids)}
        out.fail(f"stream: {len(bad)} rows not committed exactly once", len(bad_blocks) or 1)

    if not tracer.enabled:
        return dict
    files = _data_files(sink)
    n_rows = len(landed_ids)
    return lambda: _export_stream_layers(progress, out.info, n_rows, files)


class _ProgressLog(StreamingQueryListener):
    """Keeps each micro-batch's progress event."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {
                "rows": p.numInputRows,
                "trigger_ms": p.durationMs.get("triggerExecution", 0),
                "add_batch_ms": p.durationMs.get("addBatch", 0),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _export_stream_layers(progress, info, n_rows, files) -> dict[str, float]:
    batches = [b for b in progress.batches if b["rows"] > 0] or [
        {"rows": 0, "trigger_ms": 0, "add_batch_ms": 0}
    ]
    return {
        "streaming.pipeline.batch_ms": median(b["trigger_ms"] for b in batches),
        "streaming.pipeline.add_batch_ms": median(b["add_batch_ms"] for b in batches),
        "streaming.pipeline.overhead_ms": median(
            b["trigger_ms"] - b["add_batch_ms"] for b in batches
        ),
        "streaming.pipeline.rows_per_batch": median(b["rows"] for b in batches),
        "streaming.pipeline.rows_per_file": n_rows / files if files else 0.0,
        "streaming.pipeline.latency_p50_ms": info["stream_latency_p50_ms"],
        "streaming.pipeline.latency_p95_ms": info["stream_latency_p95_ms"],
        "streaming.pipeline.backlog_blocks_max": info["backlog_blocks_max"],
        "streaming.pipeline.generator_late_ms_max": info["generator_late_ms_max"],
    }
