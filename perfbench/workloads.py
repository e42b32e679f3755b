"""The workloads: ``stream`` (drain + open-loop replay) and ``catalog``.

Each runs the engine only through its public functions, checks every op
against an independent reference outside the timed window, and fills a
``Run`` with end-to-end metrics, per-layer metrics (traced runs) and raw
samples.
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

import fixtures
import reference
from metrics import CATALOG_TRACED, STREAM_PHASES
from tracing import (RssSampler, Spans, batch_spans, batch_start, gc_seconds, median, pct,
                     shuffle_write, wrap_sink_handle)

CORES = 4
MIN_DRAINS = 2
MAX_DRAINS = 20
# replay: after LEAD_FILES untimed files, files of 5k turns are landed at
# REPLAY_RATE files/s (10k turns/s); at this rate the continuous job's
# backlog stays flat on 4 cores
REPLAY_RATE = 2.0
REPLAY_START_S = 0.5
REPLAY_TAIL_TIMEOUT_S = 30.0
LEAD_FILES = 2
LEAD_FILE_TIMEOUT_S = 30.0
WATERMARK_DELAY_US = 3_600_000_000
CATALOG_QUERIES = list(CATALOG_TRACED)
CATALOG_PRIMERS = ("mutate", "dedup_exact")
LADDER_REPS = 2
# the north-star job's grok template (streaming.jobs.parse_stage)
NORTH_STAR_GROK = ("status=%{INT:status:int} bytes=%{INT:bytes:int} "
                   "tool=%{WORD:tool_name} msg=%{WORD:msg}")


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.spans = Spans(f"{workload}-s{seed}-{os.getpid()}")
        self.rss = RssSampler()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict = {}

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)

    def start_session(self, master: str = f"local[{CORES}]",
                      span: str = "session.start") -> None:
        from logstash_spark.session import get_spark

        with self.spans.span(span, parent="bench.prepare"):
            self.spark = get_spark("perfbench", master=master, extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "2000",
            })
        # the driver JVM (and, under it, the Python workers)
        self.rss.watch(self.spark.sparkContext._gateway.proc.pid)

    def prepare(self, build_inputs):
        """Build the inputs in a background thread while the session
        starts; return what ``build_inputs`` returned."""
        box: dict = {}

        def build():
            try:
                with self.spans.span("sources.fixture", parent="bench.prepare"):
                    box["inputs"] = build_inputs()
            except BaseException as ex:  # re-raised in the calling thread
                box["error"] = ex

        with self.spans.span("bench.prepare"):
            th = threading.Thread(target=build, name="perfbench-fixture")
            th.start()
            try:
                self.start_session()
            finally:
                th.join()
        if "error" in box:
            raise box["error"]
        return box["inputs"]

    def setup_s(self) -> float:
        return self.spans.total("bench.prepare") + self.spans.total("bench.warmup")


# ---------------------------------------------------------------------------
# what a streaming run left in its checkpoint and sink directories
# ---------------------------------------------------------------------------

def commit_meta(sink_dir: str) -> dict[int, dict]:
    """Epoch id -> the exactly-once sink's commit record (rows, wall time)."""
    d = os.path.join(sink_dir, "_commits")
    out = {}
    if os.path.isdir(d):
        for f in os.listdir(d):
            if f.endswith(".json") and not f.startswith("."):
                with open(os.path.join(d, f)) as fh:
                    out[int(f[:-5])] = json.load(fh)
    return out


def commit_times(sink_dir: str) -> dict[int, float]:
    return {k: v["ts"] for k, v in commit_meta(sink_dir).items()}


def committed_rows(sink_dir: str) -> int:
    return sum(v["rows"] for v in commit_meta(sink_dir).values())


def source_batches(query_ckpt: str) -> dict[str, int]:
    """Input file name -> micro-batch that read it (file-source log)."""
    d = os.path.join(query_ckpt, "sources", "0")
    out: dict[str, int] = {}
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    out[name] = min(out.get(name, e["batchId"]), e["batchId"])
    return out


def session_emits(con, sink_dir: str) -> list[tuple[int, int]]:
    """(epoch id, session_end in epoch microseconds) per emitted session."""
    return con.execute(
        "SELECT batch_id, epoch_us(session_end) FROM read_parquet("
        f"'{sink_dir}/batch_id=*/*.parquet', hive_partitioning=true)").fetchall()


def sink_bytes(sink_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(sink_dir) for f in fs)


def dropped_by_watermark(handle) -> int:
    return sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
               for p in handle.queries[-1].recentProgress if p.get("stateOperators"))


def _progress(handle) -> dict[str, list[dict]]:
    return {"turns": handle.queries[0].recentProgress,
            "sessions": handle.queries[-1].recentProgress}


def drain_layers(spark, handle) -> dict[str, float]:
    """Per-layer numbers of one drain: summed durationMs per query, the
    gap between the queries, and the sessions query's shuffle."""
    prog = _progress(handle)
    out: dict[str, float] = {}
    for q, ps in prog.items():
        for ph in STREAM_PHASES:
            out[f"streaming.{q}.{ph}_s"] = sum(p["durationMs"].get(ph, 0) for p in ps) / 1000
    t, s = prog["turns"], prog["sessions"]
    if t and s:
        t_end = batch_start(t[-1]) + t[-1]["durationMs"].get("triggerExecution", 0) / 1000
        out["streaming.gap_s"] = max(batch_start(s[0]) - t_end, 0.0)
        out["streaming.sessions.no_data_batches"] = sum(
            1 for p in s if p["numInputRows"] == 0)
        nbytes, nrecs = shuffle_write(spark, {p["runId"] for p in s})
        out["streaming.sessions.shuffle_write_bytes"] = nbytes
        out["streaming.sessions.shuffle_write_records"] = nrecs
    return out


def replay_layers(prog: dict[str, list[dict]]) -> dict[str, float]:
    """Per-layer numbers of one replay's timed batches: per-batch p50 of
    each durationMs phase, batch counts and the sessions query's state."""
    out: dict[str, float] = {}
    for q, ps in prog.items():
        out[f"streaming.{q}.batches"] = len(ps)
        for ph in STREAM_PHASES:
            out[f"streaming.{q}.{ph}_p50_s"] = median(
                [p["durationMs"].get(ph, 0) / 1000 for p in ps] or [0.0])
    ops = [p["stateOperators"][0] for p in prog["sessions"] if p.get("stateOperators")]
    if ops:
        out["streaming.sessions.state_rows_total"] = ops[-1]["numRowsTotal"]
        out["streaming.sessions.state_rows_peak"] = max(o["numRowsTotal"] for o in ops)
        out["streaming.sessions.state_memory_bytes"] = max(o["memoryUsedBytes"] for o in ops)
        out["streaming.sessions.state_commit_s"] = sum(o["commitTimeMs"] for o in ops) / 1000
        out["streaming.sessions.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return out


# ---------------------------------------------------------------------------
# stream: the north-star job, drained and replayed
# ---------------------------------------------------------------------------

def _drain_once(run: Run, src: str, parent: str = "bench.measure") -> dict:
    from logstash_spark.streaming.jobs import run_north_star

    work = tempfile.mkdtemp(prefix="drain_", dir=run.work)
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    t0 = time.time()
    with run.spans.span("streaming.drain", parent=parent):
        handle = run_north_star(run.spark, src, out, ckpt, available_now=True)
        handle.awaitTermination()
    return {"wall": time.time() - t0, "handle": handle, "work": work,
            "out": out, "ckpt": ckpt}


def _drains(run: Run, src: str, ref, traced: bool) -> tuple[list[float], list[dict]]:
    """Drain the fixture at least MIN_DRAINS times and until ``seconds``
    have passed; check each drain.  Returns the walls and, when traced,
    one per-layer row per drain."""
    walls, rows, tries = [], [], 0
    t_start = time.time()
    while len(walls) < MIN_DRAINS or time.time() - t_start + walls[-1] <= run.seconds:
        if tries == MAX_DRAINS:
            break
        tries += 1
        run.attempted += 1
        gc0 = gc_seconds(run.spark) if traced else 0.0
        n_spans = len(run.spans.items)
        try:
            d = _drain_once(run, src)
        except Exception as ex:  # noqa: BLE001 - an op that raises is a failed op
            run.fail(f"drain raised: {ex!r}")
            continue
        walls.append(d["wall"])
        turns_dir, sess_dir = (os.path.join(d["out"], q) for q in ("turns", "sessions"))
        with run.spans.span("bench.check"):
            errs = ref.check_turns(os.path.join(turns_dir, "batch_id=*", "*.parquet"))
            errs += ref.check_sessions(os.path.join(sess_dir, "batch_id=*", "*.parquet"),
                                       dropped_by_watermark(d["handle"]))
        if errs:
            run.fail("drain: " + "; ".join(errs))
        if traced:
            row = drain_layers(run.spark, d["handle"])
            row["session.jvm_gc_s"] = gc_seconds(run.spark) - gc0
            row["sinks.bytes_written"] = sink_bytes(d["out"])
            row["sinks.handle_s"] = sum(s["end"] - s["start"] for s in run.spans.items[n_spans:]
                                        if s["name"].endswith(".handle"))
            row["operators.grok_fail_ratio"] = ref.grok_fail_ratio()
            rows.append(row)
            for q, ps in _progress(d["handle"]).items():
                batch_spans(run.spans, q, ps, parent="streaming.drain")
        shutil.rmtree(d["work"])
    if not walls:
        raise RuntimeError("no drain completed: " + "; ".join(run.errors))
    run.samples.setdefault("drain_wall_s", []).extend(walls)
    return walls, rows


def _await_turns(handle, turns_dir: str, rows: int, timeout: float) -> None:
    """Wait until the turns sink has committed ``rows``; raise if it does
    not within ``timeout`` or a query fails."""
    deadline = time.time() + timeout
    while committed_rows(turns_dir) < rows and time.time() < deadline \
            and all(q.exception() is None for q in handle.queries):
        time.sleep(0.05)
    errors = [repr(q.exception()) for q in handle.queries if q.exception() is not None]
    committed = committed_rows(turns_dir)
    if errors or committed < rows:
        for q in handle.queries:
            q.stop()
        raise RuntimeError(f"replay lead-in committed {committed} of {rows} turns"
                           + "".join("; " + e for e in errors))


def _replay(run: Run, staged: list[dict], ref, traced: bool) -> dict:
    """Open loop on one continuous north-star query.  The first LEAD_FILES
    files are landed one by one, each committed before the next, so the
    query's first batches pay its start-up costs before the clock starts.
    Then a separate process lands the rest on a fixed schedule, and every
    file is timed from when it was due."""
    from logstash_spark.streaming.jobs import run_north_star

    work = tempfile.mkdtemp(prefix="replay_", dir=run.work)
    src, stage = os.path.join(work, "src"), os.path.join(work, "stage")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    os.makedirs(src)
    os.makedirs(stage)
    for f in staged:
        shutil.copy(f["path"], stage)
    lead, timed = staged[:LEAD_FILES], staged[LEAD_FILES:]
    names = [os.path.basename(f["path"]) for f in timed]
    turns_dir, sess_dir = os.path.join(out, "turns"), os.path.join(out, "sessions")
    handle = run_north_star(run.spark, src, out, ckpt, available_now=False)
    with run.spans.span("bench.warmup"):
        rows = 0
        for f in lead:
            # renamed in whole: the polling source never lists a partly
            # written file
            name = os.path.basename(f["path"])
            os.rename(os.path.join(stage, name), os.path.join(src, name))
            rows += f["rows"]
            _await_turns(handle, turns_dir, rows, LEAD_FILE_TIMEOUT_S)
    n_spans = len(run.spans.items)
    with run.spans.span("streaming.replay", parent="bench.measure"):
        t0 = time.time() + REPLAY_START_S
        due = [t0 + i / REPLAY_RATE for i in range(len(timed))]
        plan = {"files": [[os.path.join(stage, n), os.path.join(src, n), d]
                          for n, d in zip(names, due)],
                "out": os.path.join(work, "landed.json")}
        with open(os.path.join(work, "plan.json"), "w") as fh:
            json.dump(plan, fh)
        lander = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "lander.py"), os.path.join(work, "plan.json")])
        try:
            lander.wait(timeout=len(timed) / REPLAY_RATE + 60)
        finally:
            if lander.poll() is None:
                lander.kill()
                lander.wait()
        with open(plan["out"]) as fh:
            landed = json.load(fh)
        deadline = time.time() + REPLAY_TAIL_TIMEOUT_S
        while time.time() < deadline and not (
                committed_rows(turns_dir) >= ref.turns
                and committed_rows(sess_dir) >= ref.closable_sessions):
            time.sleep(0.05)
        for q in handle.queries:
            q.stop()
    run.attempted += len(timed)
    with run.spans.span("bench.check"):
        errs = ref.check_turns(os.path.join(turns_dir, "batch_id=*", "*.parquet"))
        errs += ref.check_sessions(os.path.join(sess_dir, "batch_id=*", "*.parquet"),
                                   dropped_by_watermark(handle))
    if errs:
        run.fail("replay: " + "; ".join(errs), len(timed))

    turns_commit, sess_commit = commit_times(turns_dir), commit_times(sess_dir)
    files = source_batches(os.path.join(ckpt, "turns"))
    lat = [turns_commit[files[n]] - d for n, d in zip(names, due)
           if files.get(n) in turns_commit]
    # a session is closable once the landed input's max event time reaches
    # its end plus the watermark delay; sessions the lead-in closed are
    # not timed
    cum_max, m = [], 0
    for f in staged:
        m = max(m, f["max_ts_us"])
        cum_max.append(m)
    slat = []
    for batch, end_us in session_emits(ref.con, sess_dir):
        i = bisect.bisect_left(cum_max, end_us + WATERMARK_DELAY_US) - LEAD_FILES
        if 0 <= i < len(due) and batch in sess_commit:
            slat.append(sess_commit[batch] - due[i])
    if not lat or not slat:
        raise RuntimeError("replay committed nothing: " + "; ".join(run.errors))
    progress = {q: [p for p in ps if batch_start(p) >= due[0] - REPLAY_START_S]
                for q, ps in _progress(handle).items()}
    res = {"lat": lat, "slat": slat, **_backlog(progress["turns"], files, names, landed, due)}
    if traced:
        res.update(replay_layers(progress))
        res["streaming.session_latency_p50_s"] = median(slat)
        res["streaming.session_latency_p90_s"] = pct(slat, 0.9)
        handles = [s["end"] - s["start"] for s in run.spans.items[n_spans:]
                   if s["name"].endswith(".handle")]
        res["sinks.handle_p50_s"] = median(handles) if handles else 0.0
        timed_ids = {q: {p["batchId"] for p in ps} for q, ps in progress.items()}
        res["sinks.epochs_committed"] = (
            sum(b in timed_ids["turns"] for b in turns_commit)
            + sum(b in timed_ids["sessions"] for b in sess_commit))
        for q, ps in progress.items():
            batch_spans(run.spans, q, ps, parent="streaming.replay")
    shutil.rmtree(work)
    run.samples.update({"replay_file_latency_s": lat, "replay_session_latency_s": slat,
                        "replay_generator_late_s": [a - d for a, d in zip(landed, due)],
                        "replay_backlog_at_batch_start": res.pop("backlog")})
    return res


def _backlog(progress: list[dict], files: dict, names: list[str], landed: list[float],
             due: list[float]) -> dict:
    """Files landed but not yet in a started turns batch, at each batch
    start; and how late the generator landed files."""
    backlog = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        s, b = batch_start(p), p["batchId"]
        backlog.append(sum(1 for n, t in zip(names, landed)
                           if t <= s and files.get(n, b) >= b))
    late = [a - d for a, d in zip(landed, due)]
    return {"backlog": backlog,
            "sources.backlog_files_max": max(backlog, default=0),
            "sources.generator_late_p99_s": pct(late, 0.99)}


def stream(run: Run) -> None:
    n_files = LEAD_FILES + int(REPLAY_RATE * run.seconds)

    def inputs():
        src = os.path.join(run.work, "fixture")
        n = fixtures.transcripts(src, run.seed)
        staged = fixtures.replay_files(fixtures.read_table(src),
                                       os.path.join(run.work, "stage"), n_files)
        return src, n, staged

    src, n_turns, staged = run.prepare(inputs)
    drain_ref = reference.StreamReference(
        reference.connect(), [os.path.join(src, f) for f in sorted(os.listdir(src))])
    replay_ref = reference.StreamReference(reference.connect(), [f["path"] for f in staged])
    run.samples.update({"turns": n_turns, "replay_files": len(staged) - LEAD_FILES,
                        "replay_rate_files_per_s": REPLAY_RATE,
                        "replay_turns": replay_ref.turns,
                        "replay_sessions_closable": replay_ref.closable_sessions})

    # the replay's lead-in is the JVM's first streaming work, which pays
    # one-off costs (~15 s at local[4]): it is the run's warm-up
    undo = wrap_sink_handle(run.spans) if run.trace else (lambda: None)
    try:
        rp = _replay(run, staged, replay_ref, traced=run.trace)
    finally:
        undo()
    walls, _ = _drains(run, src, drain_ref, traced=False)
    wall = median(walls)
    run.e2e.update({
        "wall_s": wall, "turns_per_s": n_turns / wall,
        "latency_p50_s": median(rp["lat"]), "latency_p90_s": pct(rp["lat"], 0.9),
    })
    if not run.trace:
        return

    undo = wrap_sink_handle(run.spans)
    try:
        t_walls, rows = _drains(run, src, drain_ref, traced=True)
    finally:
        undo()
    layer = {k: median([r.get(k, 0.0) for r in rows]) for k in rows[0]} if rows else {}
    layer.update({k: v for k, v in rp.items() if "." in k})
    layer["bench.trace_overhead_s"] = median(t_walls) - wall
    layer.update(turns_ladder(run, src))
    layer["streaming.drain_local4_s"] = wall
    run.spark.stop()
    run.start_session(master="local[1]", span="bench.scaling.session")
    d = _drain_once(run, src, parent="bench.scaling")
    shutil.rmtree(d["work"])
    layer["streaming.drain_local1_s"] = d["wall"]
    layer["streaming.scaling_1_to_n"] = (d["wall"] / wall) / CORES
    run.layer.update(layer)


def turns_ladder(run: Run, src: str) -> dict[str, float]:
    """Separate noop-sink streaming runs of the turns path, one layer added
    per step; each step's increase over the previous is that layer's time."""
    from logstash_spark.operators.grok import grok
    from logstash_spark.sinks.exactly_once import ExactlyOnceParquetSink
    from logstash_spark.streaming.jobs import parse_stage, stream_transcripts

    steps = [
        ("sources.scan_s", lambda s: s, False),
        ("operators.grok_s", lambda s: grok(s, "text", NORTH_STAR_GROK), False),
        ("operators.mutate_flags_s", parse_stage, False),
        ("sinks.write_s", parse_stage, True),
    ]
    out, cumulative, prev = {}, {}, 0.0
    for name, build, to_sink in steps:
        times = []
        for _ in range(LADDER_REPS):
            work = tempfile.mkdtemp(prefix="ladder_", dir=run.work)
            w = (build(stream_transcripts(run.spark, src)).writeStream
                 .option("checkpointLocation", os.path.join(work, "ckpt"))
                 .trigger(availableNow=True))
            if to_sink:
                w = w.foreachBatch(ExactlyOnceParquetSink(
                    os.path.join(work, "turns")).foreach_batch())
            else:
                w = w.format("noop")
            t0 = time.time()
            with run.spans.span(f"ladder.{name}", parent="bench.ladder"):
                w.start().awaitTermination()
            times.append(time.time() - t0)
            shutil.rmtree(work)
        cumulative[name] = median(times)
        out[name] = cumulative[name] - prev
        prev = cumulative[name]
    run.samples["ladder_cumulative_s"] = cumulative
    return out


# ---------------------------------------------------------------------------
# catalog: batch queries, each built then collected
# ---------------------------------------------------------------------------

def catalog(run: Run) -> None:
    import __spark_entry__ as entry

    data = os.path.join(run.work, "catalog")
    turns = run.prepare(lambda: fixtures.catalog_tables(data, run.seed))
    spark = run.spark
    qs, oracle = entry.queries(), entry.oracle_sql()
    reads_turns = [q for q in CATALOG_QUERIES if not q.startswith("dedup_")]
    results: dict[str, tuple] = {}

    def one_pass(traced: bool, parent: str) -> dict[str, tuple]:
        """Build and collect each query once, in a fixed order; return its
        (build, exec) seconds per query."""
        times = {}
        run.attempted += len(CATALOG_QUERIES)
        with run.spans.span(parent):
            for q in CATALOG_QUERIES:
                spark.catalog.clearCache()
                try:
                    if traced:
                        spark.sparkContext.setJobGroup(f"build:{q}", q)
                    t0 = time.time()
                    df = qs[q](spark, data)
                    t1 = time.time()
                    if traced:
                        spark.sparkContext.setJobGroup(f"exec:{q}", q)
                    results[q] = (df.columns, df.collect())
                    t2 = time.time()
                except Exception as ex:  # noqa: BLE001 - a query that raises is a failed op
                    run.fail(f"{q} raised: {ex!r}")
                    continue
                finally:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                run.spans.add(f"catalog.{q}.build", t0, t1, parent)
                run.spans.add(f"catalog.{q}.exec", t1, t2, parent)
                times[q] = (t1 - t0, t2 - t1)
        return times

    def check() -> None:
        con = reference.catalog_connection(data)
        with run.spans.span("bench.check"):
            # a query that raised has no result: it counted as failed then
            for q in results:
                try:
                    why = reference.check_query(con, oracle[q], *results[q])
                except Exception as ex:  # noqa: BLE001 - the check itself failing fails the op
                    why = repr(ex)
                if why:
                    run.fail(f"{q}: {why}")
        results.clear()

    # two gate queries outside the measured set take the session's generic
    # first-use costs (Python workers, parquet scans, the transcripts view,
    # code generation); then one pass, in which every query pays its own
    # first-use costs (a warm-up pass would double the run's length), in
    # a fixed order that keeps those costs on the same queries from seed
    # to seed
    with run.spans.span("bench.warmup"):
        for q in CATALOG_PRIMERS:
            qs[q](spark, data).collect()
    measured = one_pass(traced=False, parent="catalog.pass")
    check()
    lat = [b + e for b, e in measured.values()]
    if not lat:
        raise RuntimeError("no catalog query completed: " + "; ".join(run.errors))
    wall = sum(lat)
    run.samples.update({"turns": turns,
                        "query_build_exec_s": {q: list(v) for q, v in measured.items()}})
    run.e2e.update({
        "wall_s": wall, "turns_per_s": turns * len(reads_turns) / wall,
        "latency_p50_s": median(lat), "latency_p90_s": pct(lat, 0.9),
    })
    if not run.trace:
        return

    # a second, untraced pass is the base the traced third pass is
    # compared with
    base = one_pass(traced=False, parent="catalog.pass")
    check()
    traced = one_pass(traced=True, parent="catalog.traced_pass")
    check()
    layer: dict[str, float] = {
        "plans.build_s": sum(b for b, _ in traced.values()),
        "plans.exec_s": sum(e for _, e in traced.values()),
    }
    tracker = spark.sparkContext.statusTracker()
    layer["plans.build_jobs"] = sum(len(tracker.getJobIdsForGroup(f"build:{q}"))
                                    for q in CATALOG_QUERIES)
    for q in CATALOG_TRACED:
        for i, part in enumerate(("build", "exec")):
            layer[f"catalog.{q}.{part}_s"] = traced[q][i] if q in traced else 0.0
    _, recs = shuffle_write(spark, {"exec:tumbling_sliding"})
    layer["catalog.tumbling_sliding.shuffle_write_records"] = recs
    layer["operators.grok_s"] = layer["catalog.grok.exec_s"]
    layer["bench.trace_overhead_s"] = (sum(b + e for b, e in traced.values())
                                       - sum(b + e for b, e in base.values()))
    run.layer.update(layer)


WORKLOADS = {"stream": stream, "catalog": catalog}
