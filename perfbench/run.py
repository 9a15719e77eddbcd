#!/usr/bin/env python3
"""Run one workload of the archive benchmark and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It starts the benchmark's chain node
(``node.py``) as a separate process, drives the archive only through its
public entry points (``pipeline.run_batch`` and ``pipeline.run_stream``; in
the traced run also ``pipeline.read_sink``, ``views.event_view_df`` and
``graphql.serve``) and checks every answer against the chain generator.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer metrics of a traced run). The exit code is 1
when a check failed and 2 when the archive's sources are not in the
checkout. README.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CPUS = len(os.sched_getaffinity(0))
SESSION_STARTS = 3  # the Spark session is started this often; the median counts
BLOCK_STEP = 100  # the pipeline's default eth_getLogs window
LOGS_PER_BLOCK = 10

# backfill: finalized history that exists before the clock starts; the
# warm-up catch-ups run over it, so it is one catch-up's worth
BF_HISTORY = 500
BF_RATE = 100.0  # blocks/s created once the clock starts: 1,000 logs/s
# a catch-up is due every 5 s: about 500 blocks, 5 blockStep windows. A
# warm one takes 1.3-2.6 s on a 4-core box, depending on the host's load.
# Freshness is about half the interval plus the catch-up, so the host's
# swings move it by about half as much as they move the catch-up. A longer
# interval fits fewer catch-ups in the window, and one slow catch-up then
# moves the median more: at 7.5 s the spread over ten runs was 0.19
BF_INTERVAL_S = 5.0
# catch-ups before the clock starts: the cold first one, then the four over
# which catch-up time still falls (about 2.5 s down to 1.7 s on a 4-core box)
BF_WARMUP = 5

TF_RATE = 20.0  # blocks/s created by the node: 40 blocks per micro-batch
# processingTime trigger; a steady batch takes 0.8-1.7 s on a 4-core box,
# depending on the host's load, so freshness is about 1 s plus the batch
TF_TRIGGER_S = 2.0
# micro-batches before the window: the cold first one, the one that absorbs
# the backlog built up during it, and one more
TF_WARMUP = 3
DRAIN_TIMEOUT_S = 60.0  # after the head stops, the stream must reach it within this

E2E = ("freshness_p50_ms", "freshness_tail_ms", "setup_s")
UNITS = {"setup_s": "s"}


def die(msg: str, code: int = 2):
    print(msg, file=sys.stderr)
    sys.exit(code)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# processes: the chain node and the Spark session
# --------------------------------------------------------------------------

class ChainNode:
    """The chain node process and a JSON-RPC client for its control methods.
    The process builds its payloads while the caller goes on; ``url`` waits
    until it is ready."""

    def __init__(self, env: dict, seed: int, blocks: int, reorg_from=None, head=None):
        cmd = [sys.executable, "-m", "perfbench.node", "--seed", str(seed), "--blocks", str(blocks),
               "--logs-per-block", str(LOGS_PER_BLOCK)]
        if reorg_from is not None:
            cmd += ["--reorg-from", str(reorg_from)]
        if head is not None:
            cmd += ["--head", str(head)]
        self.proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, text=True)
        self._url = None

    @property
    def url(self) -> str:
        if self._url is None:
            line = self.proc.stdout.readline()
            if not line.startswith("READY "):
                raise RuntimeError(f"chain node did not start: {line!r}")
            self._url = f"http://127.0.0.1:{int(line.split()[1])}"
        return self._url

    def call(self, method: str, *params):
        body = json.dumps({"jsonrpc": "2.0", "id": 1, "method": method, "params": list(params)})
        req = urllib.request.Request(self.url, data=body.encode(),
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as resp:
            out = json.loads(resp.read())
        if "error" in out:
            raise RuntimeError(out["error"])
        return out["result"]

    def head(self) -> int:
        """The head, without counting an ``eth_blockNumber`` call."""
        return self.call("bench_head")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


class Session:
    """The Spark session. ``restart`` stops the current context, if any, and
    starts a fresh one; after the first start it runs in the same JVM."""

    def __init__(self, work: Path, rec, trace: bool):
        self.conf = {
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if trace:
            (work / "events").mkdir()
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "events").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.rec = rec
        self.spark = None

    def restart(self):
        from evm_archive_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rec.sc = self.spark.sparkContext
        return self.spark

    def jvm_pid(self):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --------------------------------------------------------------------------
# streaming helpers
# --------------------------------------------------------------------------

def wait_commit(q, pred, timeout: float) -> list[dict]:
    """Poll until a micro-batch satisfying ``pred`` has committed, and
    return at once, so that a following ``stop`` falls between batches.
    A stream error is raised, never swallowed."""
    from perfbench.progress import batches

    deadline = time.monotonic() + timeout
    seen = -1
    while True:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if not q.isActive:
            raise RuntimeError("stream stopped by itself")
        prog = q.recentProgress
        if len(prog) != seen:
            seen = len(prog)
            done = batches(prog)
            if done and pred(done):
                return done
        if time.monotonic() > deadline:
            raise TimeoutError("no qualifying micro-batch committed in time")
        time.sleep(0.005)


def stop_stream(q) -> None:
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Run:
    """What every workload shares: arguments, work dir, recorder, session."""

    def __init__(self, args, work: Path, env: dict):
        from perfbench.spans import Recorder

        self.args, self.work, self.env = args, work, env
        self.trace = bool(args.trace)
        self.rec = Recorder(self.trace)
        self.sess = Session(work, self.rec, self.trace)
        self.node: ChainNode | None = None
        self.session_s: list[float] = []  # seconds per session start
        self.warmup_s = 0.0
        self.layers: dict[str, float] = {}  # per-layer metrics measured so far
        self.stage_metrics: list = []  # event-log readers, run once the log is complete
        self.failed = 0
        self.attempted = 0
        self._lock = threading.Lock()

    def cfg(self, out: Path, **kw) -> dict:
        from evm_archive_spark import pipeline

        c = pipeline.env_config({})
        c.update(endpoint=self.node.url, block_step=BLOCK_STEP, out=str(out), **kw)
        return c

    def set_up(self, warm_up) -> None:
        """Start the Spark session SESSION_STARTS times (the first start
        launches the JVM, the others restart the context inside it), then run
        ``warm_up(spark)`` once on the last session. setup_s is the median
        session start plus the warm-up. The chain node is ready before the
        first start, so that building its payloads does not slow set-up."""
        self.node.url  # blocks until the node is ready
        for i in range(SESSION_STARTS):
            t = time.monotonic()
            with self.rec.span("setup.session", start=i):
                spark = self.sess.restart()
            self.session_s.append(time.monotonic() - t)
        t = time.monotonic()
        with self.rec.span("setup.warmup"):
            warm_up(spark)
        self.warmup_s = time.monotonic() - t
        log("session starts " + ", ".join(f"{x:.2f}" for x in self.session_s)
            + f" s; warm-up {self.warmup_s:.2f} s")

    @property
    def setup_s(self) -> float:
        return statistics.median(self.session_s) + self.warmup_s

    def fail(self, what: str, n: int = 1) -> None:
        with self._lock:
            self.failed += n
        log(f"FAILED: {what}")


def _ms(values_s, units=None) -> tuple[float, float]:
    """(median, tail) in milliseconds."""
    from perfbench.stats import tail

    ms = [v * 1000.0 for v in values_s]
    return statistics.median(ms), tail(ms, units)[0]


def backfill(run: Run) -> dict:
    """Open loop of scheduled catch-ups: the node's head advances on the
    wall clock, and every BF_INTERVAL_S a ``run_batch`` catches up over
    the blocks created since the previous one."""
    from evm_archive_spark import pipeline
    from evm_archive_spark.schemas import LOGS_PK
    from perfbench.chain import Chain, ChainSpec
    from perfbench.schedule import block_freshness, next_slot
    from pyspark.sql import functions as F

    args = run.args
    # enough blocks for the window and the slot after it; a head that
    # reached the last block would only stop early, after the window
    n_blocks = BF_HISTORY + int(BF_RATE * (args.seconds + 2 * BF_INTERVAL_S))
    run.node = ChainNode(run.env, args.seed, n_blocks, head=BF_HISTORY - 1)
    chain = Chain(ChainSpec(args.seed, n_blocks, LOGS_PER_BLOCK))
    outs: list[Path] = []
    ranges: list[tuple[int, int]] = []  # [lo, hi) of each catch-up
    reported: list[int] = []  # run_batch's own log count, per catch-up

    def catch_up(spark, lo: int, hi: int) -> tuple[float, float]:
        """run_batch over blocks [lo, hi) into a fresh sink: (start, commit)."""
        out = run.work / "bf" / str(len(outs))
        outs.append(out)
        ranges.append((lo, hi))
        t = time.monotonic()
        with run.rec.span("pipeline.run_batch"):
            counts = pipeline.run_batch(spark, run.cfg(out, from_block=lo, to_block=hi - 1))
        reported.append(counts["logs"])
        return t, time.monotonic()

    def warm_up(spark) -> None:
        warm = [c - t for t, c in (catch_up(spark, 0, BF_HISTORY) for _ in range(BF_WARMUP))]
        log("warm-up catch-ups (s): " + " ".join(f"{d:.2f}" for d in warm))

    run.set_up(warm_up)
    first = len(outs)

    run.node.call("bench_stats", True)
    start = BF_HISTORY - 1  # the head when the clock starts
    t0 = run.node.call("bench_startClock", BF_RATE, start)
    w_end = t0 + args.seconds
    durations, commits = [], []
    end = BF_HISTORY  # the first block no catch-up has carried yet
    with run.rec.span("measure"):
        due = t0 + BF_INTERVAL_S
        while True:
            time.sleep(max(0.0, due - time.monotonic()))
            # the first slot at or after the window's end stops the head, so
            # this last catch-up carries every block created in the window
            last = due >= w_end
            started = time.monotonic()
            head = run.node.call("bench_stopClock") if last else run.node.head()
            if head >= end:
                t, c = catch_up(run.sess.spark, end, head + 1)
                durations.append(c - t)
                commits.append(c)
                end = head + 1
            if last:
                break
            due = next_slot(t0, BF_INTERVAL_S, started)
    node_stats = run.node.call("bench_stats", True)
    log("catch-ups (blocks, s): " + " ".join(
        f"{hi - lo}:{d:.2f}" for (lo, hi), d in zip(ranges[first:], durations)))

    # block b is created at t0 + (b - start) / rate
    measured = range(start + 1, start + int(args.seconds * BF_RATE) + 1)
    run.attempted = len(measured)
    fresh, missing = block_freshness(ranges[first:], commits, lambda b: t0 + (b - start) / BF_RATE,
                                     measured)
    for b in missing:
        run.fail(f"block {b} was never committed")

    # correctness: every catch-up's sink holds each generated log of its
    # range exactly once
    spark = run.sess.spark
    got = {r["i"]: (r["n"], r["pks"], r["s"]) for r in (
        spark.read.option("recursiveFileLookup", "true").parquet(str(run.work / "bf"))
        .withColumn("i", F.regexp_extract(F.input_file_name(), r"/bf/(\d+)/logs/", 1).cast("int"))
        .groupBy("i").agg(F.count(F.lit(1)).alias("n"),
                          F.count_distinct(*[F.col(c) for c in LOGS_PK]).alias("pks"),
                          F.sum(F.col("block_number") * 1000 + F.col("log_index")).alias("s"))
        .collect())}
    for i, (lo, hi) in enumerate(ranges):
        rows = chain.delivered_rows(lo, hi - 1)
        want = (len(rows), len(rows), sum(b * 1000 + li for b, li, _ in rows))
        if got.get(i) != want or reported[i] != want[0]:
            run.fail(f"catch-up {i} over [{lo}, {hi}): (rows, pks, checksum) {got.get(i)} != {want}, "
                     f"reported {reported[i]}", n=max(1, len(set(range(lo, hi)) & set(measured))))

    fr_p50, fr_tail = _ms(fresh, units=len(durations))
    e2e = {"freshness_p50_ms": fr_p50, "freshness_tail_ms": fr_tail}
    log(f"backfill: {len(durations)} catch-ups, {len(fresh)} blocks measured")
    if run.trace:
        from perfbench import layers

        rows = [len(chain.delivered_rows(lo, hi - 1)) for lo, hi in ranges[first:]]
        run.layers.update(layers.backfill(run, chain, outs[first:], ranges[first:], durations, rows,
                                          commits, node_stats))
    return e2e


def tail_follow(run: Run) -> dict:
    """Open loop: the node's head advances on the wall clock and run_stream
    follows it with a processingTime trigger."""
    from evm_archive_spark import pipeline
    from perfbench.chain import Chain, ChainSpec
    from perfbench.progress import batches, block_range, delivered, offsets
    from perfbench.schedule import block_freshness

    args = run.args
    # enough blocks that the head never stops during set-up and the run
    n_blocks = int(TF_RATE * (args.seconds + 240))
    run.node = ChainNode(run.env, args.seed, n_blocks, reorg_from=0, head=0)
    chain = Chain(ChainSpec(args.seed, n_blocks, LOGS_PER_BLOCK, reorg_from=0))
    state: dict = {}

    def start_stream(spark) -> None:
        state["t0"] = run.node.call("bench_startClock", TF_RATE, 0)
        from_block = run.node.head() + 1
        out = run.work / "tf"
        commits: list[float] = []
        with run.rec.span("pipeline.run_stream"):
            q = pipeline.run_stream(spark, run.cfg(out, from_block=from_block, sleep_seconds=TF_TRIGGER_S),
                                    publish=lambda topic: commits.append(time.monotonic()))
        # set-up ends with a fixed number of commits, so that a slower
        # program makes set-up and the window slower but never stalls them
        warm = wait_commit(q, lambda d: len(d) >= TF_WARMUP, timeout=120.0)
        log("warm-up micro-batches (s): " + " ".join(
            f"{p['durationMs']['triggerExecution'] / 1000.0:.2f}" for p in warm))
        state.update(q=q, commits=commits, out=out, from_block=from_block)

    run.set_up(start_stream)
    q, commits, t0, from_block = state["q"], state["commits"], state["t0"], state["from_block"]

    run.node.call("bench_stats", True)
    w_start = commits[TF_WARMUP - 1]  # the commit that ended set-up
    w_end = w_start + args.seconds
    first_block = int((w_start - t0) * TF_RATE) + 1  # blocks created in the window
    last_block = int((w_end - t0) * TF_RATE)
    with run.rec.span("measure"):
        time.sleep(max(0.0, w_end - time.monotonic()))
        # the head stops: the stream drains up to it and then has nothing
        # to read, so it is stopped right after that commit, between batches
        head = run.node.call("bench_stopClock")
        wait_commit(q, lambda d: offsets(d[-1])[1] > head, timeout=DRAIN_TIMEOUT_S)
        stop_stream(q)
    node_stats = run.node.call("bench_stats", True)
    done = batches(q.recentProgress)
    if len(done) != len(commits):
        run.fail(f"{len(commits)} publish calls for {len(done)} micro-batches")

    # each block's commit is that of the micro-batch whose offsets carried it
    ranges = [block_range(p, from_block) for p in done[:len(commits)]]
    end = from_block
    for p, (lo, hi) in zip(done, ranges):
        if lo != end:
            run.fail(f"batch {p['batchId']} starts at block {lo}, the previous one ended at {end}")
        end = hi
    measured = range(first_block, last_block + 1)
    run.attempted = len(measured)
    # block b is created at t0 + b/rate
    fresh, missing = block_freshness(ranges, commits, lambda b: t0 + b / TF_RATE, measured)
    for b in missing:
        run.fail(f"block {b} was never committed")

    # correctness: every delivered row up to the last committed offset,
    # exactly once, tombstones included, against the generator
    got = Counter(tuple(r) for r in run.sess.spark.read.parquet(str(state["out"] / "logs"))
                  .select("block_number", "log_index", "removed").collect())
    want = Counter(chain.delivered_rows(from_block, end - 1))
    if got != want:
        bad = {r[0] for r in (got - want) + (want - got)}
        run.fail(f"sink rows differ from the chain in blocks {sorted(bad)[:10]}",
                 n=len(bad & set(measured)) or 1)

    # the micro-batches that carried a block of the window
    iw = [i for i, (lo, hi) in enumerate(ranges) if hi > first_block and lo <= last_block]
    in_window = [done[i] for i in iw]
    fr_p50, fr_tail = _ms(fresh, units=len(in_window))
    e2e = {"freshness_p50_ms": fr_p50, "freshness_tail_ms": fr_tail}
    log(f"tail_follow: {len(in_window)} micro-batches, {len(fresh)} blocks measured")
    if run.trace:
        from perfbench import layers

        rows = delivered(chain, in_window, from_block)
        run.layers.update(layers.tail_follow(run, chain, in_window, rows, [commits[i] for i in iw],
                                             node_stats, state["out"], (first_block, last_block),
                                             (from_block, end - 1)))
    return e2e


WORKLOADS = {"backfill": backfill, "tail_follow": tail_follow}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Archive benchmark: one workload, one seed.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import evm_archive_spark  # the program under test, from this checkout
    except ImportError as e:
        die(f"the archive's sources are not in this checkout ({e})")
    if Path(evm_archive_spark.__file__).resolve().parent.parent != ROOT:
        die(f"evm_archive_spark was imported from outside this checkout: {evm_archive_spark.__file__}")

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM (Spark's launcher and the driver) keeps its temporary
        # files inside the checkout and writes no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
    })
    os.environ.update(env)  # the JVM and its Python workers inherit these

    run = Run(args, work, env)
    t_run = time.monotonic()
    try:
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] = run.setup_s
        if run.trace:
            from perfbench import layers

            run.layers.update(layers.session(run, e2e, [os.getpid(), run.sess.jvm_pid(),
                                                        run.node.proc.pid]))
            run.sess.close()  # the event log is complete once the context stopped
        if run.trace:
            trace_file = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-trace.json"
            metrics = layers.finish(run, trace_file)
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS.get(k, "ms")} for k in E2E}
    finally:
        if run.node is not None:
            run.node.close()
        run.sess.close()
        shutil.rmtree(work, ignore_errors=True)
    log(f"{args.workload}: {time.monotonic() - t_run:.1f} s in all, "
        + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1), "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
