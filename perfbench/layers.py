"""Per-layer metrics of a traced run (``--trace 1``).

Every workload reports every metric below. A layer that the workload
does not drive is measured by a probe over the workload's own blocks after
the window. Counts and times "per operation" are per catch-up (backfill)
or per micro-batch (tail_follow), over the measured window. Stage metrics come from the Spark
event log, attributed to the spans of ``spans.Recorder``.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

from .progress import batches, delivered
from .spans import read_event_logs, totals

PER_LAYER = {
    # sources.rpc, counted at the chain node over the measured window
    "rpc.get_logs_calls": "count",
    "rpc.block_number_calls": "count",
    "rpc.connections": "count",
    "rpc.bytes_sent": "bytes",
    "rpc.rows_per_call": "count",
    # the evm_logs reader alone into a noop sink, over the workload's range
    "source.scan_ms": "ms",
    "source.tasks": "count",
    "source.run_s": "s",
    "source.cpu_s": "s",
    # rows committed per second of the window: the offered rate while the
    # archive keeps up, lower when a backlog grows
    "ingest.rows_per_s": "1/s",
    # pipeline batch path and parquet sink
    "pipeline.run_batch_ms": "ms",
    "pipeline.rows_per_s": "1/s",
    "pipeline.jobs": "count",
    "pipeline.shuffle_bytes": "bytes",
    "pipeline.readback_ms": "ms",
    "sink.write_run_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    # pipeline streaming path, from StreamingQueryProgress
    "stream.latest_offset_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.busy_share": "ratio",
    "stream.jobs_per_batch": "count",
    "stream.rows_per_batch": "count",
    # graphql / views / functions.decode / operators.reorg, from the read
    # probe over the workload's sink
    **{f"graphql.request_ms.{k}": "ms" for k in ("point", "topn", "count", "raw")},
    **{f"graphql.execute_ms.{k}": "ms" for k in ("point", "topn", "count", "raw")},
    "graphql.jobs_per_request": "count",
    "read.scan_bytes_per_request": "bytes",
    "read.shuffle_bytes_per_request": "bytes",
    "read.files_per_request": "count",
    "archive.files": "count",
    "archive.bytes": "bytes",
    # session
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "proc.peak_rss_mb": "MB",
    "spark.start_s": "s",
    "warmup_s": "s",
    # generator validity
    "gen.late_ms": "ms",
    "gen.busy_share": "ratio",
    # the traced run's own end-to-end numbers: minus the untraced run's,
    # they are the tracing overhead
    "traced.freshness_p50_ms": "ms",
    "traced.setup_s": "s",
}
PROBES = 3  # repetitions of each traced probe; the median is reported


def _rpc(node_stats: dict, ops: int) -> dict:
    calls = node_stats["get_logs_calls"]
    return {
        "rpc.get_logs_calls": calls / ops,
        "rpc.block_number_calls": node_stats["block_number_calls"] / ops,
        "rpc.connections": node_stats["connections"] / ops,
        "rpc.bytes_sent": node_stats["bytes_sent"] / ops,
        "rpc.rows_per_call": node_stats["rows_sent"] / calls if calls else 0.0,
        "gen.late_ms": node_stats["late_ms_p99"],
        "gen.busy_share": node_stats["busy_share"],
    }


def _parquet(path: Path) -> tuple[int, int]:
    files = [f for f in path.rglob("*.parquet") if f.is_file()]
    return len(files), sum(f.stat().st_size for f in files)


def _source_probe(run, lo: int, hi: int) -> dict:
    """Time the evm_logs reader alone, into a noop sink, over [lo, hi]."""
    from evm_archive_spark.sources import rpc

    spark = run.sess.spark
    rpc.register(spark)
    times, ids = [], []
    for _ in range(PROBES):
        t = time.monotonic()
        with run.rec.span("source.scan") as s:
            (spark.read.format("evm_logs").option("endpoint", run.node.url)
             .option("fromBlock", str(lo)).option("toBlock", str(hi))
             .option("blockStep", "100").load().write.format("noop").mode("overwrite").save())
        times.append(time.monotonic() - t)
        ids.append(s.id)

    def from_stages(stages):
        per = [totals(stages, lambda st, i=i: st["span"] == i) for i in ids]
        return {
            "source.tasks": statistics.median(p["tasks"] for p in per),
            "source.run_s": statistics.median(p["run_s"] for p in per),
            "source.cpu_s": statistics.median(p["cpu_s"] for p in per),
        }

    run.stage_metrics.append(from_stages)
    return {"source.scan_ms": statistics.median(times) * 1000.0}


def _window_stages(run, ops: int) -> None:
    """Executor time and CPU of every stage submitted in the measured window,
    per operation; GC time of every stage of the run."""
    (m,) = run.rec.named("measure")

    def from_stages(stages):
        lo, hi = m.epoch_start, m.epoch_start + m.ms / 1000.0
        t = totals(stages, lambda st: lo <= st["submit_s"] <= hi)
        return {"spark.executor_run_s": t["run_s"] / ops, "spark.executor_cpu_s": t["cpu_s"] / ops,
                "spark.gc_s": totals(stages)["gc_s"]}

    run.stage_metrics.append(from_stages)


def _run_batch_stages(run, spans) -> None:
    ids = [s.id for s in spans]

    def from_stages(stages):
        per = [totals(stages, lambda st, i=i: st["span"] == i) for i in ids]
        writes = [totals(stages, lambda st, i=i: st["span"] == i and st["output_bytes"] > 0)
                  for i in ids]
        return {
            "pipeline.jobs": statistics.median(p["jobs"] for p in per),
            "pipeline.shuffle_bytes": statistics.median(p["shuffle_write_bytes"] for p in per),
            "sink.write_run_s": statistics.median(w["run_s"] for w in writes),
        }

    run.stage_metrics.append(from_stages)


def _ingest(rows: list[int], commits: list[float]) -> dict:
    """Rows committed after the first measured commit, per second until the
    last one. ``rows`` and ``commits`` are per operation."""
    return {"ingest.rows_per_s": sum(rows[1:]) / (commits[-1] - commits[0])}


def _stream(run, done: list[dict], rows: list[int], span_s: float) -> dict:
    """``rows`` are the rows the node delivered for each batch of ``done``;
    the batches ran over ``span_s`` seconds."""
    def mean(key):  # progress durations are whole milliseconds: a mean keeps the digits
        return statistics.fmean(p["durationMs"].get(key, 0) for p in done)

    ids = {p["batchId"] for p in done}

    def from_stages(stages):
        app = max(st["app"] for st in stages)  # the last session ran every stream
        return {"stream.jobs_per_batch": statistics.median(
            totals(stages, lambda st, b=b: st["app"] == app and st["batch"] == b)["jobs"]
            for b in ids)}

    run.stage_metrics.append(from_stages)
    return {
        "stream.latest_offset_ms": mean("latestOffset"),
        "stream.planning_ms": mean("queryPlanning"),
        "stream.add_batch_ms": mean("addBatch"),
        "stream.wal_commit_ms": mean("walCommit"),
        "stream.commit_ms": mean("commitOffsets"),
        "stream.trigger_ms": mean("triggerExecution"),
        "stream.busy_share": sum(p["durationMs"]["triggerExecution"] for p in done) / 1000.0 / span_s,
        "stream.rows_per_batch": statistics.median(rows),
    }


def _readback(run, sink: Path) -> dict:
    """``read_sink(...).count()`` over a sink, as ``run_batch`` ends."""
    from evm_archive_spark import pipeline

    times = []
    for _ in range(PROBES):
        t = time.monotonic()
        with run.rec.span("pipeline.read_sink"):
            pipeline.read_sink(run.sess.spark, str(sink / "logs")).count()
        times.append(time.monotonic() - t)
    return {"pipeline.readback_ms": statistics.median(times) * 1000.0}


def _batch_probe(run, lo: int, hi: int, rows: int, work: Path) -> dict:
    """The batch path alone over [lo, hi], which holds ``rows`` rows:
    PROBES ``run_batch`` catch-ups into fresh sinks, for a workload that
    does not drive it."""
    from evm_archive_spark import pipeline

    times, spans = [], []
    for i in range(PROBES):
        t = time.monotonic()
        with run.rec.span("pipeline.run_batch") as s:
            pipeline.run_batch(run.sess.spark, run.cfg(work / str(i), from_block=lo, to_block=hi))
        times.append(time.monotonic() - t)
        spans.append(s)
    _run_batch_stages(run, spans)
    return {"pipeline.run_batch_ms": statistics.median(times) * 1000.0,
            "pipeline.rows_per_s": rows / statistics.median(times), **_readback(run, work / "0")}


def _stream_probe(run, chain, lo: int, hi: int, work: Path) -> dict:
    """The streaming path alone over [lo, hi], for a workload that does not
    drive it: ``run_stream`` with an availableNow trigger, until it ends."""
    from evm_archive_spark import pipeline

    t = time.monotonic()
    with run.rec.span("pipeline.run_stream"):
        q = pipeline.run_stream(run.sess.spark, run.cfg(work, from_block=lo, to_block=hi),
                                available_now=True)
        q.awaitTermination()
    done = batches(q.recentProgress)
    return _stream(run, done, delivered(chain, done, lo), time.monotonic() - t)


def backfill(run, chain, outs: list[Path], ranges: list[tuple[int, int]], durations: list[float],
             rows: list[int], commits: list[float], node_stats: dict) -> dict:
    """Per measured catch-up: its sink, its ``[lo, hi)`` block range, its
    duration, the rows it carried and its commit instant."""
    out = _rpc(node_stats, len(durations))
    out.update(_ingest(rows, commits))
    out["pipeline.run_batch_ms"] = statistics.median(durations) * 1000.0
    out["pipeline.rows_per_s"] = sum(rows) / sum(durations)
    out.update(_readback(run, outs[-1]))
    files, size = _parquet(outs[-1] / "logs")
    out.update({"sink.files_written": files, "sink.bytes_written": size,
                "archive.files": files, "archive.bytes": size})
    lo, hi = ranges[0]  # the probes run over the first measured catch-up's blocks
    out.update(_source_probe(run, lo, hi - 1))
    spans = run.rec.named("pipeline.run_batch")[-len(durations):]
    _run_batch_stages(run, spans)
    _window_stages(run, len(durations))
    out.update(_stream_probe(run, chain, lo, hi - 1, run.work / "probe_stream"))
    lo, hi = ranges[-1]
    out.update(read_probe(run, chain, lo, hi - 1, outs[-1]))
    return out


def tail_follow(run, chain, done: list[dict], rows: list[int], commits: list[float], node_stats: dict,
                out_dir: Path, blocks: tuple[int, int], archived: tuple[int, int]) -> dict:
    """``done`` are the measured micro-batches, with the rows the node
    delivered for each and their commit instants; ``blocks`` were created
    in the measured window; ``archived`` are all the blocks the stream's
    sink holds."""
    out = _rpc(node_stats, len(done))
    out.update(_ingest(rows, commits))
    out.update(_stream(run, done, rows, commits[-1] - commits[0]))
    files, size = _parquet(out_dir / "logs")
    n_batches = len({p.name for p in (out_dir / "logs").glob("ingest_batch=*")}) or 1
    out.update({"sink.files_written": files / n_batches, "sink.bytes_written": size / n_batches,
                "archive.files": files, "archive.bytes": size})
    out.update(_source_probe(run, *blocks))
    _window_stages(run, len(done))
    out.update(_batch_probe(run, *blocks, len(chain.delivered_rows(*blocks)), run.work / "probe_batch"))
    out.update(read_probe(run, chain, *archived, out_dir))
    return out


def read_probe(run, chain, lo: int, hi: int, sink: Path) -> dict:
    """The read path over a sink that holds blocks [lo, hi]: ``read_sink``
    (reorg-resolved), the decode views and ``graphql.serve``. Each query
    kind runs once to warm up, then PROBES times, one request at a time:
    over HTTP, then the same document through ``graphql.execute``
    in-process. Every answer is checked against the generator."""
    import random

    from evm_archive_spark import graphql, pipeline, views
    from evm_archive_spark.schemas import LOGS_PK

    from .queries import EVENTS, KIND_NAMES, Oracle, post

    spark = run.sess.spark
    with run.rec.span("pipeline.read_sink"):
        logs = pipeline.read_sink(spark, str(sink / "logs"), LOGS_PK)
    tables = {"logs": logs}
    for spec in views.DEFAULT_EVENTS:
        if spec.name in EVENTS:
            with run.rec.span("views.event_view_df"):
                tables[spec.view_name] = views.event_view_df(logs, spec)
    with run.rec.span("graphql.serve"):
        srv = graphql.serve(tables)
    url = f"http://127.0.0.1:{srv.server_address[1]}/graphql"
    oracle = Oracle(chain, hi, lo)
    rng = random.Random(f"{run.args.seed}:read")
    out: dict = {}
    exec_ids = []
    try:
        for kind in KIND_NAMES:
            req, exe = [], []
            for i in range(PROBES + 1):
                doc, expected = oracle.make(kind, rng, i)
                t = time.monotonic()
                with run.rec.span("graphql.request", kind=kind):
                    res = post(url, doc)
                t_req = time.monotonic() - t
                t = time.monotonic()
                with run.rec.span("graphql.execute", kind=kind) as s:
                    res_in = graphql.execute(doc, tables)
                t_exe = time.monotonic() - t
                for how, r in (("HTTP", res), ("in-process", res_in)):
                    if r.get("errors") or r.get("data") != expected:
                        run.fail(f"{how} {kind} answer differs: {doc} -> {json.dumps(r)[:300]}")
                if i:  # the first request of each kind is warm-up
                    req.append(t_req)
                    exe.append(t_exe)
                    exec_ids.append(s.id)
            out[f"graphql.request_ms.{kind}"] = statistics.median(req) * 1000.0
            out[f"graphql.execute_ms.{kind}"] = statistics.median(exe) * 1000.0
    finally:
        srv.shutdown()
        srv.server_close()

    def from_stages(stages):
        t = totals(stages, lambda st: st["span"] in exec_ids)
        n = len(exec_ids)
        return {"graphql.jobs_per_request": t["jobs"] / n,
                "read.scan_bytes_per_request": t["input_bytes"] / n,
                "read.shuffle_bytes_per_request": t["shuffle_read_bytes"] / n,
                "read.files_per_request": t["files_read"] / n}

    run.stage_metrics.append(from_stages)
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sets of ``pids`` and all their descendants."""
    seen, todo, total_kb = set(), [p for p in pids if p], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
            for task in Path(f"/proc/{pid}/task").iterdir():
                todo += [int(c) for c in (task / "children").read_text().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0


def session(run, e2e: dict, pids: list) -> dict:
    return {
        "proc.peak_rss_mb": peak_rss_mb(pids),
        "spark.start_s": run.session_s[0],
        "warmup_s": run.warmup_s,
        "traced.freshness_p50_ms": e2e["freshness_p50_ms"],
        "traced.setup_s": e2e["setup_s"],
    }


def finish(run, trace_file: Path) -> dict:
    """After the Spark context stopped: attribute the event log to spans,
    write spans and stages to ``trace_file``, return every metric."""
    stages = read_event_logs(run.work / "events")
    for f in run.stage_metrics:
        run.layers.update(f(stages))
    run.rec.dump(trace_file, stages)
    return {k: {"value": float(run.layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
