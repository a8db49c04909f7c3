"""The benchmark's workloads and the measurements around them.

Each workload drives the package only through its public functions:
``session.get_spark``; ``streaming.job.raw_json_stream``,
``tick_stream_from_raw``, ``start_bar_aggregation``, ``start_dlq_sink``;
``sources.storage.write_ticks_partitioned``, ``write_bars_partitioned``,
``read_ticks``; ``sources.dlq.split_raw_stream``; ``operators.ohlcv.ohlcv_bars``;
and the ``operators.serving`` endpoints.

* ``backfill`` — bounded replays (``available_now``) of a seeded multi-day
  JSON-lines corpus through the bars and DLQ queries, repeated for the run.
* ``live``     — a publisher process drops one file every 0.5 s into the
  directory a 1-second-trigger bars query and a DLQ query watch, while an
  open-loop reader queries the live bars table once a second.
* ``serve``    — open-loop API requests at a fixed rate over partitioned
  ticks and bars tables written at set-up.

Each run reports the workload's own metrics by name (``ticks_per_s``,
``freshness_*``, ``read_*``, ``reads_per_s``, ``failed_ratio``, ...) and the
five end-to-end metrics every workload shares; ``perfbench/METRICS.md``
defines both and maps one onto the other.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from reference import Reference
from spans import NullTracer, ProgressListener, Tracer, median, peak_rss_mb, tail

from stockpulse_batch_realtime_etl_spark.operators import ohlcv, serving
from stockpulse_batch_realtime_etl_spark.session import get_spark
from stockpulse_batch_realtime_etl_spark.sources import storage
from stockpulse_batch_realtime_etl_spark.sources.dlq import split_raw_stream
from stockpulse_batch_realtime_etl_spark.streaming import job

HERE = Path(__file__).resolve().parent
SETUP_REPS = 3
CPUS = len(os.sched_getaffinity(0))

BACKFILL_TICKS = 120_000
BACKFILL_FILES = 20
WARMUP_TICKS = 5_000
ONE_CORE_TICKS = 40_000

LIVE_RATE = 1_000  # ticks/s offered; see perfbench/METRICS.md
LIVE_PERIOD_S = 0.5  # one file per period
LIVE_TRIGGER_S = 1
LIVE_READ_RATE = 1.0  # reads/s beside the writes

SERVE_TICKS = 60_000
SERVE_SYMBOLS = 25
SERVE_RATE = 3.0  # requests/s offered; see perfbench/METRICS.md
SERVE_MIX = {  # endpoint -> share of requests
    "latest_ticks": 0.30, "latest_bars": 0.30, "tick_summary": 0.10,
    "bar_summary": 0.15, "movers": 0.10, "symbols": 0.05,
}
ENDPOINTS = tuple(SERVE_MIX)
LAYER_PROBES = 3  # probe calls per endpoint a workload does not send
LAYER_PROBE_RATE = 2.0


# -- Spark session ------------------------------------------------------------

def start_spark(work: Path):
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# -- open-loop request dispatch -----------------------------------------------

def open_loop(requests, rate, start, workers, call, tracer):
    """Send ``requests`` at ``rate``/s from wall time ``start`` whether or
    not earlier ones finished; each is timed from its due time.  Returns the
    per-request records and how late the dispatcher ran (max, seconds)."""
    results: list[dict | None] = [None] * len(requests)
    late = 0.0

    def work(i: int, due: float) -> None:
        dispatch = time.time()
        endpoint = requests[i][0]
        with tracer.span("serving.request", endpoint=endpoint) as sid:
            res = call(requests[i], sid)
        results[i] = {"endpoint": endpoint, "params": requests[i][1],
                      "due": due, "dispatch": dispatch, "end": time.time(),
                      **res}

    with ThreadPoolExecutor(max_workers=workers) as ex:
        futures = []
        for i in range(len(requests)):
            due = start + i / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            late = max(late, time.time() - due)
            futures.append(ex.submit(work, i, due))
        for f in futures:
            f.result()
    return results, late


def build_request(endpoint: str, ticks, bars, params: dict):
    if endpoint == "latest_ticks":
        return serving.latest_ticks(ticks, params["symbol"], params["limit"])
    if endpoint == "tick_summary":
        return serving.tick_summary(ticks, params["symbol"], params["minutes"])
    if endpoint == "latest_bars":
        return serving.latest_bars(bars, params["symbol"], params["limit"])
    if endpoint == "bar_summary":
        return serving.bar_summary(bars, params["symbol"], params["minutes"])
    if endpoint == "movers":
        return serving.movers(bars, params["minutes"], params["limit"])
    if endpoint == "symbols":
        return serving.symbols(ticks)
    raise ValueError(endpoint)


def request_mix(rng, symbols, n: int, mix: dict) -> list[tuple[str, dict]]:
    """``n`` requests with exactly the mix's endpoint counts, shuffled;
    Zipf-chosen symbols, varied limits and windows."""
    names = list(mix)
    counts = [int(round(mix[k] * n)) for k in names]
    counts[0] += n - sum(counts)
    order = rng.permutation(np.repeat(np.arange(len(names)), counts))
    syms = rng.choice(len(symbols), n, p=gen.zipf_weights(len(symbols)))
    out = []
    for i, e in enumerate(order):
        ep = names[e]
        sym = str(symbols[syms[i]])
        pick = lambda xs: int(xs[rng.integers(len(xs))])  # noqa: E731
        params = {
            "latest_ticks": lambda: {"symbol": sym, "limit": pick([10, 50, 100])},
            "tick_summary": lambda: {"symbol": sym, "minutes": pick([15, 60, 240])},
            "latest_bars": lambda: {"symbol": sym, "limit": pick([30, 120, 390])},
            "bar_summary": lambda: {"symbol": sym, "minutes": pick([30, 180, 390])},
            "movers": lambda: {"minutes": pick([30, 180, 390]),
                               "limit": pick([5, 10, 20])},
            "symbols": lambda: {},
        }[ep]()
        out.append((ep, params))
    return out


def serving_call(tracer, open_tables):
    """A request: build the endpoint's DataFrame, then collect it."""

    def call(req, sid):
        endpoint, params = req
        try:
            ticks, bars = open_tables()
            with tracer.span("serving.build", sid, endpoint=endpoint):
                df = build_request(endpoint, ticks, bars, params)
            with tracer.span("serving.collect", sid, endpoint=endpoint):
                rows = df.collect()
            return {"rows": rows, "error": None}
        except Exception as e:  # a failed read is a measured outcome
            return {"rows": None, "error": repr(e)[:300]}

    return call


# -- streaming helpers --------------------------------------------------------

def start_pipeline(spark, src: str, out: Path, available_now: bool):
    ticks, failed = job.tick_stream_from_raw(job.raw_json_stream(spark, src))
    bars = job.start_bar_aggregation(
        ticks, str(out / "bars"), str(out / "ck_bars"),
        trigger_secs=LIVE_TRIGGER_S, available_now=available_now,
    )
    dlq = job.start_dlq_sink(
        failed, str(out / "dlq"), str(out / "ck_dlq"), available_now=available_now
    )
    return bars, dlq


def batch_files(ckpt: Path) -> dict[str, int]:
    """File name -> id of the query batch that read it.

    The file source logs each file under the source's own log id
    (``sources/0/<id>``, compacted into ``<id>.compact`` every 10th id).
    That id is not the query's batch id: a batch that only advances the
    watermark reads no files and takes no log id, so the two drift apart.
    The query's offset log (``offsets/<batch>``, third line) records the
    source log id each batch read up to; a file belongs to the first batch
    that reached its log id.  Files whose batch has not started are left
    out."""
    logged: dict[str, int] = {}
    for p in glob.glob(str(ckpt / "sources" / "0" / "*")):
        if p.endswith(".tmp") or os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                logged[os.path.basename(e["path"])] = int(e["batchId"])
    reached = []
    for p in glob.glob(str(ckpt / "offsets" / "*")):
        name = os.path.basename(p)
        if name.isdigit():
            with open(p) as fh:
                lines = fh.read().splitlines()
            if len(lines) >= 3:
                reached.append((int(name), int(json.loads(lines[2])["logOffset"])))
    reached.sort()
    out: dict[str, int] = {}
    for f, log_id in logged.items():
        for batch, offset in reached:
            if offset >= log_id:
                out[f] = batch
                break
    return out


def commit_times(ckpt: Path) -> dict[int, float]:
    out = {}
    for p in glob.glob(str(ckpt / "commits" / "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def progress_of(query, listener=None, last: int | None = None) -> list[dict]:
    """The query's progress events up to batch ``last`` (default: the
    latest reported): from the traced run's listener once it has caught up,
    else from the query's own recent list.  A batch's commit lands in the
    checkpoint shortly before its progress is reported, so wait for it."""
    deadline = time.time() + 10
    while True:
        recent = [json.loads(p.json) for p in query.recentProgress]
        if last is None and recent:
            last = recent[-1]["batchId"]
        source = listener.of(str(query.id)) if listener else recent
        if last is None or any(p["batchId"] >= last for p in source):
            return source
        if time.time() > deadline:
            return recent
        time.sleep(0.05)


def stream_layer_metrics(bars_prog: list[dict], dlq_prog: list[dict]) -> dict:
    """Per-batch figures from Spark's own ``StreamingQueryProgress``."""
    data = [p for p in bars_prog if p.get("numInputRows", 0) > 0]
    ddata = [p for p in dlq_prog if p.get("numInputRows", 0) > 0]
    d = lambda p, *ks: sum(p["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    ops = [op for p in bars_prog for op in (p.get("stateOperators") or [])]
    m = {
        "streaming.job.bars.batch_ms_p50": median(d(p, "triggerExecution") for p in data),
        "streaming.job.dlq.batch_ms_p50": median(d(p, "triggerExecution") for p in ddata),
        "streaming.job.bars.add_batch_ms_p50": median(d(p, "addBatch") for p in data),
        "streaming.job.dlq.add_batch_ms_p50": median(d(p, "addBatch") for p in ddata),
        "streaming.job.bars.plan_ms_p50": median(d(p, "queryPlanning") for p in data),
        "streaming.job.bars.offsets_ms_p50": median(
            d(p, "latestOffset", "getBatch") for p in data),
        "streaming.job.bars.commit_ms_p50": median(
            d(p, "walCommit", "commitOffsets") for p in data),
        "streaming.job.bars.batches": len(data),
        "streaming.job.bars.rows_per_batch_p50": median(p["numInputRows"] for p in data),
        "streaming.job.state_rows_max": max(op.get("numRowsTotal", 0) for op in ops),
        "streaming.job.state_bytes_max": max(op.get("memoryUsedBytes", 0) for op in ops),
        "streaming.job.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }
    emitted = sum(op.get("numRowsUpdated", 0) for op in ops)
    return m, emitted


class SinkMonitor:
    """Counts rows in every parquet file that appears in the bars table
    (read from footers), polling while the stream runs: the upsert
    rewrites whole day partitions, so rows written exceed rows emitted."""

    def __init__(self, table: Path, interval: float = 0.1) -> None:
        self.table, self.interval = table, interval
        self.seen: set[str] = set()
        self.rows = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _scan(self) -> None:
        for p in glob.glob(str(self.table / "*" / "*.parquet")):
            if p in self.seen:
                continue
            try:
                self.rows += pq.read_metadata(p).num_rows
                self.seen.add(p)
            except (OSError, ValueError):
                pass  # replaced under us; its successor is counted instead

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._scan()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._scan()


def files_in(table: Path) -> int:
    return len(glob.glob(str(table / "*" / "*.parquet")))


def serving_layer_metrics(results: list[dict], tracer) -> dict:
    m = {}
    for ep in ENDPOINTS:
        for kind, key in (("build", "build_ms_p50"), ("collect", "exec_ms_p50")):
            xs = [
                (s["end"] - s["start"]) * 1e3 for s in tracer.spans
                if s["name"] == f"serving.{kind}" and s["endpoint"] == ep
            ]
            if xs:
                m[f"operators.serving.{ep}.{key}"] = median(xs)
    return m


# -- workloads ----------------------------------------------------------------

class Workload:
    """One workload: inputs from the seed, a timed set-up, then passes that
    each measure for ``seconds`` and are checked against the reference."""

    name = ""
    streams = False  # runs streaming queries in its own measurement

    def __init__(self, work: Path, seed: int, seconds: float) -> None:
        self.work, self.seed, self.seconds = work, seed, seconds
        self.rng = np.random.default_rng(seed)
        self.dir = work / self.name
        self.dir.mkdir(parents=True, exist_ok=True)
        self.storage_metrics: dict = {}

    def inputs(self) -> None: ...
    def setup(self, spark, rep: int) -> None: ...
    def release(self) -> None: ...
    def reset(self, spark) -> None: ...

    def raw_dir(self) -> str:
        raise NotImplementedError

    def malformed(self) -> int:
        raise NotImplementedError


class Backfill(Workload):
    """Bounded replays of one corpus, back to back for the run."""

    name = "backfill"
    streams = True

    def inputs(self) -> None:
        self.ticks = gen.backfill_corpus(self.rng, BACKFILL_TICKS)
        self.symbols = self.ticks.symbols  # most frequent first
        gen.write_corpus(str(self.dir / "raw"), gen.render(self.ticks), BACKFILL_FILES)
        warm = gen.backfill_corpus(np.random.default_rng(self.seed + 1), WARMUP_TICKS)
        gen.write_corpus(str(self.dir / "warm"), gen.render(warm), 2)
        self.ref = Reference(self.ticks)
        self.n_rep = 0

    def raw_dir(self) -> str:
        return str(self.dir / "raw")

    def malformed(self) -> int:
        return int((self.ticks.kind != gen.VALID).sum())

    def setup(self, spark, rep: int) -> None:
        out = self.dir / f"warm-{rep}"
        bars, dlq = start_pipeline(spark, str(self.dir / "warm"), out, True)
        bars.awaitTermination()
        dlq.awaitTermination()
        shutil.rmtree(out)

    def replay(self, spark, listener) -> dict:
        out = self.dir / f"rep-{self.n_rep}"
        self.n_rep += 1
        start = time.time()
        t0 = time.perf_counter()
        bars, dlq = start_pipeline(spark, self.raw_dir(), out, True)
        bars.awaitTermination()
        dlq.awaitTermination()
        elapsed = time.perf_counter() - t0
        files = batch_files(out / "ck_bars")
        commits = commit_times(out / "ck_bars")
        a1, f1 = self.ref.check_bars(str(out / "bars"))
        a2, f2 = self.ref.check_dlq(str(out / "dlq"))
        rec = {"s": elapsed, "attempted": a1 + a2, "failed": f1 + f2,
               # every file is available when the replay starts
               "fresh_s": [commits[files[n]] - start
                           for n in os.listdir(self.raw_dir())],
               "bars_prog": progress_of(bars, listener),
               "dlq_prog": progress_of(dlq, listener),
               "bar_rows": sum(pq.read_metadata(p).num_rows for p in
                               glob.glob(str(out / "bars" / "*" / "*.parquet"))),
               "sink_files": files_in(out / "bars")}
        shutil.rmtree(out)
        return rec

    def measure(self, spark, tracer, listener) -> dict:
        reps = []
        # at least two replays: the first still warms the JVM up
        while len(reps) < 2 or sum(r["s"] for r in reps) < self.seconds:
            with tracer.span("backfill.replay"):
                reps.append(self.replay(spark, listener))
        return {
            # the median replay: steadier than the mean on a shared host
            "ticks_per_s": median(len(self.ticks) / r["s"] for r in reps),
            "fresh_s": [x for r in reps for x in r["fresh_s"]],
            "attempted": sum(r["attempted"] for r in reps),
            "failed": sum(r["failed"] for r in reps),
            "reps": reps,
            "generator_late_ms": None,
        }

    def check(self, p: dict) -> tuple[int, int]:
        p["checks"] = {"bars_and_dlq": [p["attempted"], p["failed"]],
                       "replay_s": [r["s"] for r in p["reps"]]}
        return p["attempted"], p["failed"]

    def layer(self, p: dict) -> dict:
        bars_prog = [x for r in p["reps"] for x in r["bars_prog"]]
        dlq_prog = [x for r in p["reps"] for x in r["dlq_prog"]]
        m, emitted = stream_layer_metrics(bars_prog, dlq_prog)
        m["streaming.job.upsert_rows_written_per_row_in"] = (
            sum(r["bar_rows"] for r in p["reps"]) / emitted)
        m["streaming.job.sink_files"] = p["reps"][-1]["sink_files"]
        m["streaming.job.backlog_files_max"] = BACKFILL_FILES
        return m


class Live(Workload):
    """A publisher process feeds a running 1-second-trigger stream while a
    reader queries the live bars table."""

    name = "live"
    streams = True

    def inputs(self) -> None:
        self.symbols = gen.symbol_universe(self.rng, 200)
        self.passes = 0

    def raw_dir(self) -> str:
        return str(self.rep_dir / "in")

    def malformed(self) -> int:
        return int(sum((t.kind != gen.VALID).sum() for t in self.fed))

    def _publish_now(self, ticks: gen.Ticks, name: str) -> None:
        stage = self.rep_dir / "stage" / name
        gen.write_lines(str(stage), gen.render(ticks))
        os.rename(stage, self.rep_dir / "in" / name)

    def setup(self, spark, rep: int) -> None:
        self.rep_dir = self.dir / f"rep-{rep}"
        for d in ("in", "stage"):
            (self.rep_dir / d).mkdir(parents=True)
        self.bars, self.dlq = start_pipeline(spark, self.raw_dir(), self.rep_dir, False)
        # one batch of current ticks commits before the timed files: the
        # watermark then drops every beyond-watermark tick of the run
        now = int(time.time() * gen.US)
        warm = gen.draw(
            np.random.default_rng(self.seed + 100 + rep), 500, self.symbols,
            now - np.random.default_rng(rep).integers(0, gen.US // 2, 500))
        gen.make_unique_times(warm)
        self._publish_now(warm, "warm-0000.json")
        self.fed = [warm]
        self._await_commit(["warm-0000.json"], timeout=180)

    def _await_commit(self, names, timeout: float) -> None:
        deadline = time.time() + timeout
        while True:
            done = True
            for ck in ("ck_bars", "ck_dlq"):
                files = batch_files(self.rep_dir / ck)
                commits = commit_times(self.rep_dir / ck)
                if not all(n in files and files[n] in commits for n in names):
                    done = False
            if done:
                return
            if time.time() > deadline:
                raise TimeoutError(f"live: files not committed within {timeout}s")
            time.sleep(0.05)

    def release(self) -> None:
        self.bars.stop()
        self.dlq.stop()

    def reset(self, spark) -> None:
        self.release()
        self.setup(spark, SETUP_REPS + self.passes)

    def measure(self, spark, tracer, listener) -> dict:
        self.passes += 1
        n_files = int(round(self.seconds / LIVE_PERIOD_S))
        t0 = time.time() + 1.5
        ticks, fidx = gen.live_schedule(
            self.rng, self.symbols, int(t0 * gen.US), LIVE_RATE, LIVE_PERIOD_S, n_files)
        stage = self.rep_dir / f"stage-{self.passes}"
        stage.mkdir()
        lines = gen.render(ticks)
        names = [f"p{self.passes}-{j:05d}.json" for j in range(n_files)]
        bounds = np.searchsorted(fidx, np.arange(n_files + 1))
        for j, name in enumerate(names):
            gen.write_lines(str(stage / name), lines[bounds[j]:bounds[j + 1]])
        self.fed.append(ticks)
        log = self.rep_dir / f"publish-{self.passes}.json"
        reads = request_mix(self.rng, self.symbols, int(self.seconds * LIVE_READ_RATE),
                            {"latest_bars": 0.4, "bar_summary": 0.3, "movers": 0.3})
        table = str(self.rep_dir / "bars")

        def read(req, sid):
            try:
                bars = spark.read.parquet(table)
                with tracer.span("serving.build", sid, endpoint=req[0]):
                    df = build_request(req[0], None, bars, req[1])
                with tracer.span("serving.collect", sid, endpoint=req[0]):
                    return {"rows": df.collect(), "error": None}
            except Exception as e:  # a failed read is a measured outcome
                return {"rows": None, "error": repr(e)[:300]}

        publisher = subprocess.Popen(
            [sys.executable, str(HERE / "publisher.py"), str(stage),
             str(self.rep_dir / "in"), repr(t0), repr(LIVE_PERIOD_S), str(log)])
        try:
            monitor = SinkMonitor(Path(table)) if tracer.enabled else None
            if monitor:
                monitor.__enter__()
            try:
                results, read_late = open_loop(
                    reads, LIVE_READ_RATE, t0, max(1, CPUS - 1), read, tracer)
                publisher.wait(timeout=self.seconds + 60)
                if publisher.returncode != 0:
                    raise RuntimeError("live publisher failed")
                self._await_commit(names, timeout=120)
            finally:
                if monitor:
                    monitor.__exit__(None, None, None)
        finally:
            if publisher.poll() is None:
                publisher.kill()
            publisher.wait()
        with open(log) as fh:
            published = {e["name"]: e for e in json.load(fh)}
        files = batch_files(self.rep_dir / "ck_bars")
        commits = commit_times(self.rep_dir / "ck_bars")
        fresh = [commits[files[n]] - published[n]["at"] for n in names]
        last_commit = max(commits[files[n]] for n in names)
        # backlog: files published but not yet committed, at every event
        events = sorted([(published[n]["at"], 1) for n in names]
                        + [(commits[files[n]], -1) for n in names])
        backlog = peak = 0
        for _, d in events:
            backlog += d
            peak = max(peak, backlog)
        bars_prog = progress_of(self.bars, listener, max(commits))
        dlq_prog = progress_of(
            self.dlq, listener, max(commit_times(self.rep_dir / "ck_dlq")))
        self.release()
        return {
            "ticks_per_s": len(ticks) / (last_commit - (t0 - LIVE_PERIOD_S)),
            "fresh_s": fresh,
            "reads": results,
            "window_s": len(reads) / LIVE_READ_RATE,
            "generator_late_ms": 1e3 * max(
                read_late, max(e["at"] - e["due"] for e in published.values())),
            "backlog_files_max": peak,
            "beyond": int(((ticks.late == gen.BEYOND_WATERMARK)
                           & (ticks.kind == gen.VALID)).sum()),
            "bars_prog": bars_prog,
            "dlq_prog": dlq_prog,
            "sink_rows": monitor.rows if monitor else None,
        }

    def check(self, p: dict) -> tuple[int, int]:
        fed = self.fed
        ticks = gen.Ticks(
            self.symbols,
            *(np.concatenate([getattr(t, f) for t in fed]) for f in (
                "sym", "event_us", "cents", "volume", "vol_null", "wide",
                "kind", "late")),
        )
        ref = Reference(ticks)
        a1, f1 = ref.check_bars(str(self.rep_dir / "bars"))
        a2, f2 = ref.check_dlq(str(self.rep_dir / "dlq"))
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for pr in p["bars_prog"] for op in (pr.get("stateOperators") or []))
        f3 = abs(dropped - p["beyond"])
        for r in p["reads"]:
            r["ok"] = r["error"] is None and ref.live_read_ok(
                r["endpoint"], r["params"], r["rows"])
        bad_reads = sum(not r["ok"] for r in p["reads"])
        p["checks"] = {"bars": [a1, f1], "dlq": [a2, f2],
                       "dropped_by_watermark": [p["beyond"], dropped],
                       "reads": [len(p["reads"]), bad_reads],
                       "reads_raised": sum(r["error"] is not None for r in p["reads"])}
        return (a1 + a2 + max(1, p["beyond"]) + len(p["reads"]),
                f1 + f2 + f3 + bad_reads)

    def layer(self, p: dict) -> dict:
        m, emitted = stream_layer_metrics(p["bars_prog"], p["dlq_prog"])
        m["streaming.job.upsert_rows_written_per_row_in"] = p["sink_rows"] / emitted
        m["streaming.job.sink_files"] = files_in(self.rep_dir / "bars")
        m["streaming.job.backlog_files_max"] = p["backlog_files_max"]
        return m


class Serve(Workload):
    """Open-loop API requests over static partitioned tables."""

    name = "serve"

    def inputs(self) -> None:
        self.ticks = gen.backfill_corpus(
            self.rng, SERVE_TICKS, n_symbols=SERVE_SYMBOLS, days=1)
        self.symbols = self.ticks.symbols
        gen.write_corpus(str(self.dir / "raw"), gen.render(self.ticks), 4)
        self.ref = Reference(self.ticks)

    def raw_dir(self) -> str:
        return str(self.dir / "raw")

    def malformed(self) -> int:
        return int((self.ticks.kind != gen.VALID).sum())

    def setup(self, spark, rep: int) -> None:
        ticks_path, bars_path = str(self.dir / "ticks"), str(self.dir / "bars")
        decoded = split_raw_stream(spark.read.text(self.raw_dir())).ticks
        t0 = time.perf_counter()
        storage.write_ticks_partitioned(
            decoded.select("symbol", "price", "volume", "event_time"), ticks_path)
        t1 = time.perf_counter()
        storage.write_bars_partitioned(
            ohlcv.ohlcv_bars(storage.read_ticks(spark, ticks_path)), bars_path)
        t2 = time.perf_counter()
        self.storage_metrics = {
            "sources.storage.write_ticks_s": t1 - t0,
            "sources.storage.write_bars_s": t2 - t1,
            "sources.storage.ticks_files": files_in(Path(ticks_path) / "*"),
            "sources.storage.bars_files": files_in(Path(bars_path) / "*"),
        }
        self.tables = (storage.read_ticks(spark, ticks_path),
                       spark.read.parquet(bars_path))
        # one request per endpoint, dispatched like the measured ones
        warm = request_mix(np.random.default_rng(rep), self.symbols[:1], len(ENDPOINTS),
                           {e: 1 / len(ENDPOINTS) for e in ENDPOINTS})
        with ThreadPoolExecutor(max_workers=max(1, CPUS - 1)) as ex:
            for f in [ex.submit(lambda r: build_request(r[0], *self.tables, r[1]).collect(), r)
                      for r in warm]:
                f.result()

    def measure(self, spark, tracer, listener) -> dict:
        n = int(round(self.seconds * SERVE_RATE))
        reqs = request_mix(self.rng, self.symbols, n, SERVE_MIX)
        t0 = time.time() + 0.2
        results, late = open_loop(
            reqs, SERVE_RATE, t0, max(1, CPUS - 1),
            serving_call(tracer, lambda: self.tables), tracer)
        return {
            "reads": results,
            "window_s": max(r["end"] for r in results) - t0,
            "generator_late_ms": late * 1e3,
        }

    def check(self, p: dict) -> tuple[int, int]:
        for r in p["reads"]:
            r["ok"] = r["error"] is None and self.ref.response_ok(
                r["endpoint"], r["params"], r["rows"])
        bad = sum(not r["ok"] for r in p["reads"])
        p["checks"] = {"reads": [len(p["reads"]), bad]}
        return len(p["reads"]), bad


WORKLOADS = {w.name: w for w in (Backfill, Live, Serve)}


# -- the layer pass (traced runs only) ----------------------------------------

def layer_pass(spark, wl: Workload, tracer, have: dict) -> tuple[dict, int, int]:
    """Batch passes over the workload's own input files, for the layers
    its measurement does not reach: decode, aggregate, storage writes,
    serving endpoints not sampled, and a bounded stream where the workload
    has none.  Returns (metrics, attempted, failed)."""
    m: dict = {"read_errors": 0}
    lp = wl.work / "layer"
    split = split_raw_stream(spark.read.text(wl.raw_dir()))
    with tracer.span("sources.dlq.decode"):
        t0 = time.perf_counter()
        split.ticks.write.format("noop").mode("overwrite").save()
        decode_s = time.perf_counter() - t0
    with tracer.span("operators.ohlcv.decode_agg"):
        t0 = time.perf_counter()
        ohlcv.ohlcv_bars(split.ticks).write.format("noop").mode("overwrite").save()
        agg_total = time.perf_counter() - t0
    m["sources.dlq.decode_s"] = decode_s
    m["operators.ohlcv.agg_s"] = agg_total - decode_s
    failed_rows = split.failed.count()
    m["sources.dlq.failed_rows"] = failed_rows
    m["operators.ohlcv.ticks_per_bar"] = (
        split.ticks.count() / ohlcv.ohlcv_bars(split.ticks).count())
    attempted, failed = 1, int(failed_rows != wl.malformed())

    if wl.storage_metrics:
        m.update(wl.storage_metrics)
        tables = wl.tables
    else:
        # as many symbols as the serve tables, from one input file: the
        # whole corpus spans hundreds of partitions
        first = sorted(glob.glob(os.path.join(wl.raw_dir(), "*")))[0]
        tp, bp = str(lp / "ticks"), str(lp / "bars")
        with tracer.span("sources.storage.write_ticks"):
            t0 = time.perf_counter()
            first_ticks = split_raw_stream(spark.read.text(first)).ticks
            storage.write_ticks_partitioned(
                first_ticks.filter(F.col("symbol").isin(
                    [str(x) for x in wl.symbols[:SERVE_SYMBOLS]])).select(
                    "symbol", "price", "volume", "event_time"), tp)
            t1 = time.perf_counter()
        with tracer.span("sources.storage.write_bars"):
            storage.write_bars_partitioned(
                ohlcv.ohlcv_bars(storage.read_ticks(spark, tp)), bp)
            t2 = time.perf_counter()
        m["sources.storage.write_ticks_s"] = t1 - t0
        m["sources.storage.write_bars_s"] = t2 - t1
        m["sources.storage.ticks_files"] = files_in(Path(tp) / "*")
        m["sources.storage.bars_files"] = files_in(Path(bp) / "*")
        tables = (storage.read_ticks(spark, tp), spark.read.parquet(bp))

    missing = [e for e in ENDPOINTS if f"operators.serving.{e}.exec_ms_p50" not in have]
    if missing:
        symbols = (tables[0].select("symbol").distinct().limit(8).toPandas()
                   ["symbol"].tolist())
        reqs = request_mix(np.random.default_rng(wl.seed), np.array(symbols),
                           LAYER_PROBES * len(missing),
                           {e: 1 / len(missing) for e in missing})
        results, late = open_loop(
            reqs, LAYER_PROBE_RATE, time.time() + 0.1, max(1, CPUS - 1),
            serving_call(tracer, lambda: tables), tracer)
        m.update(serving_layer_metrics(results, tracer))
        m["operators.serving.queue_ms_p50"] = median(
            (r["dispatch"] - r["due"]) * 1e3 for r in results)
        m["harness.probe_late_ms"] = late * 1e3
        m["read_errors"] = sum(r["error"] is not None for r in results)
        attempted += len(results)
        failed += sum(r["error"] is not None for r in results)

    if not wl.streams:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        try:
            out = lp / "stream"
            bars, dlq = start_pipeline(spark, wl.raw_dir(), out, True)
            bars.awaitTermination()
            dlq.awaitTermination()
        finally:
            spark.streams.removeListener(listener)
        sm, emitted = stream_layer_metrics(progress_of(bars), progress_of(dlq))
        m.update(sm)
        m["streaming.job.upsert_rows_written_per_row_in"] = sum(
            pq.read_metadata(p).num_rows
            for p in glob.glob(str(out / "bars" / "*" / "*.parquet"))) / emitted
        m["streaming.job.sink_files"] = files_in(out / "bars")
        m["streaming.job.backlog_files_max"] = len(os.listdir(wl.raw_dir()))
    return m, attempted, failed


def one_core_baseline(spark, wl: Workload):
    """Backfill ticks/s with Spark on one core: the session is restarted as
    ``local[1]`` in the same, already warm, JVM (a fresh process would
    spend most of its time warming up) and one bounded replay is timed.
    Returns (ticks/s, the new session)."""
    d = wl.work / "onecore"
    t = gen.backfill_corpus(np.random.default_rng(wl.seed + 7), ONE_CORE_TICKS)
    gen.write_corpus(str(d / "raw"), gen.render(t), 5)
    spark.stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = start_spark(wl.work)
    finally:
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    t0 = time.perf_counter()
    bars, dlq = start_pipeline(spark, str(d / "raw"), d / "out", True)
    bars.awaitTermination()
    dlq.awaitTermination()
    return len(t) / (time.perf_counter() - t0), spark


# -- one run ------------------------------------------------------------------

#: The end-to-end metrics of ``BENCHMARK.json``: one set every workload
#: reports.  ``throughput_per_s`` is ``ticks_per_s`` on the ingest
#: workloads and ``reads_per_s`` on ``serve`` (see ``perfbench/METRICS.md``).
E2E = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
#: The workload-specific metrics, by their own names; printed on the
#: details line of every run.
NAMED = {
    "setup_s": "s",
    "ticks_per_s": "ticks/s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "reads_per_s": "reads/s",
    "failed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
COUNT_UNITS = {
    "sources.dlq.failed_rows": "count",
    "operators.ohlcv.ticks_per_bar": "ratio",
    "streaming.job.bars.batches": "count",
    "streaming.job.bars.rows_per_batch_p50": "count",
    "streaming.job.state_rows_max": "count",
    "streaming.job.state_bytes_max": "bytes",
    "streaming.job.rows_dropped_by_watermark": "count",
    "streaming.job.upsert_rows_written_per_row_in": "ratio",
    "streaming.job.sink_files": "count",
    "streaming.job.backlog_files_max": "count",
    "operators.serving.read_errors": "count",
    "sources.storage.ticks_files": "count",
    "sources.storage.bars_files": "count",
    "harness.tracing_overhead": "ratio",
    "harness.backfill_1core_ticks_per_s": "ticks/s",
}


def unit_of(name: str) -> str:
    if name in COUNT_UNITS:
        return COUNT_UNITS[name]
    return "ms" if name.endswith(("_ms", "_ms_p50", "_ms_max")) else "s"


def named_metrics(p: dict) -> tuple[dict, dict]:
    """The workload-specific metrics a measurement yields, and the
    percentile each ``*_tail_*`` value was taken at."""
    m: dict = {}
    pct: dict = {}
    if "ticks_per_s" in p:
        m["ticks_per_s"] = p["ticks_per_s"]
    if p.get("fresh_s"):
        m["freshness_p50_s"] = median(p["fresh_s"])
        m["freshness_tail_s"], pct["freshness_tail_s"] = tail(p["fresh_s"])
    if "reads" in p:
        lat = [(r["end"] - r["due"]) * 1e3 for r in p["reads"] if r["error"] is None]
        if lat:
            m["read_p50_ms"] = median(lat)
            m["read_tail_ms"], pct["read_tail_ms"] = tail(lat)
        m["reads_per_s"] = sum(r["ok"] for r in p["reads"]) / p["window_s"]
    return m, pct


def end_to_end(named: dict) -> dict:
    """The shared throughput and p50 latency: ticks/s and file freshness on
    the ingest workloads, reads/s and read latency on ``serve``."""
    if "ticks_per_s" in named:
        return {"throughput_per_s": named["ticks_per_s"],
                "latency_p50_ms": named["freshness_p50_s"] * 1e3}
    return {"throughput_per_s": named["reads_per_s"],
            "latency_p50_ms": named["read_p50_ms"]}


def run(name: str, seed: int, seconds: float, trace: bool, work: Path,
        out_dir: Path) -> tuple[dict, dict]:
    """Set up, measure untraced (and, with ``trace``, traced), check every
    output; returns (result, details)."""
    wl = WORKLOADS[name](work, seed, seconds)
    wl.inputs()
    setup_s: list[float] = []
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                wl.release()
                spark.stop()
            t0 = time.perf_counter()
            spark = start_spark(work)
            if rep == 0:
                get_spark_s = time.perf_counter() - t0
                java = spark._jvm.java.lang.System.getProperty("java.version")
            wl.setup(spark, rep)
            setup_s.append(time.perf_counter() - t0)

        p = wl.measure(spark, NullTracer(), None)
        attempted, failed = wl.check(p)
        named, pct = named_metrics(p)
        named["setup_s"] = median(setup_s)
        named["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid(spark)])
        named["failed_ratio"] = failed / attempted
        e2e = end_to_end(named)
        metrics = {"setup_s": named["setup_s"],
                   "throughput_per_s": e2e["throughput_per_s"],
                   "peak_rss_mb": named["peak_rss_mb"]}
        details = {
            "metrics": {k: {"value": named[k], "unit": u}
                        for k, u in NAMED.items() if k in named},
            "tail_percentiles": pct,
            "failed_base": f"{failed} failed of {attempted} checked operations",
            "checks": p["checks"],
            "java": java,
            "setup_reps_s": setup_s,
        }
        if trace:
            tracer = Tracer()
            listener = ProgressListener()
            spark.streams.addListener(listener)
            wl.reset(spark)
            t = wl.measure(spark, tracer, listener)
            a, f = wl.check(t)
            attempted, failed = attempted + a, failed + f
            layer = {"session.get_spark_s": get_spark_s,
                     "harness.tracing_overhead":
                         end_to_end(named_metrics(t)[0])["latency_p50_ms"]
                         / e2e["latency_p50_ms"]}
            if wl.streams:
                layer.update(wl.layer(t))
            reads = t.get("reads") or []
            if reads:
                layer.update(serving_layer_metrics(reads, tracer))
                layer["operators.serving.queue_ms_p50"] = median(
                    (r["dispatch"] - r["due"]) * 1e3 for r in reads)
            lm, a, f = layer_pass(spark, wl, tracer, layer)
            attempted, failed = attempted + a, failed + f
            layer["operators.serving.read_errors"] = sum(
                r["error"] is not None for r in reads) + lm.pop("read_errors")
            late = [x for x in (t["generator_late_ms"], lm.pop("harness.probe_late_ms", None))
                    if x is not None]
            for k, v in lm.items():
                layer.setdefault(k, v)
            layer["harness.generator_late_ms_max"] = max(late)
            layer["harness.backfill_1core_ticks_per_s"], spark = one_core_baseline(
                spark, wl)
            metrics = layer
            details["traced_checks"] = t["checks"]
            details["failed_base"] = (
                f"{failed} failed of {attempted} checked operations "
                "(untraced and traced passes)")
            out_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(out_dir / f"trace-{name}-seed{seed}.json"),
                        {"workload": name, "seed": seed, "per_layer": layer})
    finally:
        if spark is not None:
            stop_jvm(spark)
    result = {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": E2E.get(k) or unit_of(k)}
                    for k, v in metrics.items()},
    }
    return result, details
