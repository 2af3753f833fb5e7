"""The benchmark workloads. Each drives the engine only through its
public entry points (``pipeline.runner``, ``LakeTable``), times its
measured region with tracing off (or, with ``--trace 1``, alternates
traced and untraced operations), and checks every output outside the
timed region."""

from __future__ import annotations

import contextlib
import datetime as dt
import inspect
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq
from gear5_spark.pipeline import runner as rn

import oracle
import stats
from harness import Outcome, chunk_paths, med, stage_chunks

HERE = os.path.dirname(os.path.abspath(__file__))

# shared by every generated log and table
CONVS = 2000
BUCKETS = 8

# backfill: one seeded log, replayed whole. At 200k events a warm replay
# is mostly dedup and write; at 60k its fixed per-replay cost, which the
# JIT keeps shrinking for minutes, was near half of it
BACKFILL_EVENTS = 200000
BACKFILL_CHUNK_ROWS = 5000
BACKFILL_WARMUP_REPLAYS = 1
BACKFILL_MIN_TIMED = 3

# tail: prefix bulk load, staged backlog, then the open-loop files. The
# backlog is staged two chunks to a file, so at the engine's
# max_files_per_trigger (4) it drains as four 12k-event batches, 0-3.
# The open loop publishes four chunks to a file, one file per trigger;
# up to --seconds 24 its six files are batches 4-9, the restarted
# query's first batch included. The engine compacts after batch 7's
# commit (compact_every 8), which delays only file 8: with a 3 s trigger
# the delay spilled into the next two as well.
TAIL_CHUNK_ROWS = 1500
TAIL_MIN_FILES = 6
TAIL_PREFIX_CHUNKS = 8
TAIL_BACKLOG_CHUNKS = 32
TAIL_BACKLOG_PER_FILE = 2
TAIL_OPEN_PER_FILE = 4
TAIL_TRIGGER_MS = 4000  # pinned, not the engine default
TAIL_DUE_BEFORE_TICK_S = 0.3
TAIL_LEAD_S = 1.0  # from query start to the first due time, at least
TAIL_GRACE_S = 20  # wait after the last file is published
TAIL_FRESH_LIMIT_S = 30

# lake_reads: a MoR table with resident deltas and its CoW twin
READS_EVENTS = 24000
READS_CHUNK_ROWS = 1000
READS_PREFIX_CHUNKS = 8
READS_LOOKUP_KEYS = 8
READS_RANGES = 4


def _table_digest(table) -> tuple[int, str]:
    return oracle.row_digest(oracle.table_rows(table.read()))


def _read_layers(tr, spans, n_rows: int) -> dict:
    """read.* metrics, each the median over ``spans`` (full reads that
    return ``n_rows`` rows)."""
    tots = [tr.totals(s) for s in spans]
    return {
        "read.delta_files": med([s.attrs.get("delta_files", 0) for s in spans]),
        "read.files_opened": med([s.attrs.get("files_opened", 0) for s in spans]),
        "read.task_s": med([t.task_s for t in tots]),
        "read.rows_scanned_per_row_returned": med([t.input_records / n_rows for t in tots]),
    }


# ------------------------------------------------------------ layer maths
def _snapshot_kb(table_dir: str, version: int) -> float:
    return os.path.getsize(os.path.join(table_dir, "_lake", f"v{version:08d}.json")) / 1024.0


_COUNTS = {"batch.jobs", "batch.stages", "batch.tasks"}


def _engine_layers(tr, batches, table_dir: str, events_of) -> dict:
    """dedup / write / merge / commit / batch metrics, each the median
    over ``batches`` (root applier spans) of that batch's value;
    ``events_of(span)`` is the number of events the batch applied."""
    rows = []
    for b in batches:
        sub = tr.subtree(b)
        tot = tr.totals(b)
        r = {
            "batch.jobs": tot.jobs, "batch.stages": tot.stages,
            "batch.tasks": tot.tasks, "batch.apply_s": b.wall,
            "batch.driver_s": b.wall - tot.busy_s,
        }
        dd = [s for s in sub if s.name == "dedup"]
        if dd:
            t = tr.totals(dd[0])
            r.update({
                "dedup.wall_s": dd[0].wall, "dedup.task_s": t.task_s,
                "dedup.cpu_s": t.cpu_s, "dedup.shuffle_write_mb": t.shuffle_write_mb,
                "dedup.spill_mb": t.spill_mb, "dedup.max_task_s": t.max_task_s,
                "dedup.winners_per_event": dd[0].attrs["winners"] / events_of(b),
            })
        # writes and commits of the batch's own merge (compaction is
        # reported on its own)
        merges = [s for s in sub if s.name == "merge"]
        mine = [s for m in merges for s in tr.children(m)]
        wr = [s for s in mine if s.name == "write"]
        if wr:
            ts = [tr.totals(s) for s in wr]
            r.update({
                "write.wall_s": sum(s.wall for s in wr),
                "write.task_s": sum(t.task_s for t in ts),
                "write.cpu_s": sum(t.cpu_s for t in ts),
                "write.out_mb": sum(t.out_mb for t in ts),
                "write.files": sum(s.attrs.get("files", 0) for s in wr),
            })
        if merges:
            r["merge.self_s"] = sum(tr.self_time(m) for m in merges)
        cm = [s for s in mine if s.name == "commit"]
        if cm:
            r["commit.wall_ms"] = sum(s.wall for s in cm) * 1e3
            r["commit.snapshot_kb"] = _snapshot_kb(table_dir, cm[-1].attrs["snapshot_version"])
        rows.append(r)
    out = {}
    for k in {k for r in rows for k in r}:
        vals = [r[k] for r in rows if k in r]
        # exact counts stay exact: the low median is one batch's count
        out[k] = statistics.median_low(vals) if k in _COUNTS else stats.median(vals)
    return out


# --------------------------------------------------------------- backfill
def backfill(ctx) -> Outcome:
    """Closed loop of whole-log bulk replays into a fresh CoW table."""
    log, man = ctx.fixture(BACKFILL_EVENTS, BACKFILL_CHUNK_ROWS, CONVS)
    expect = oracle.row_digest(oracle.fold_log(log).values())
    out = Outcome()
    spark, tr = ctx.spark, ctx.tracer

    def replay(i: int, traced: bool):
        t0 = time.perf_counter()
        tdir = ctx.path(f"table{i}")
        table = rn.bootstrap_table(spark, tdir, n_buckets=BUCKETS)
        setup = time.perf_counter() - t0
        ctx.traced(traced)
        t0 = time.perf_counter()
        rn.replay_batch(spark, log, table, ctx.path(f"ckpt{i}"))
        wall = time.perf_counter() - t0
        ctx.traced(False)
        out.attempted += 1
        if table.read().count() != man["final_live_keys"]:
            out.failed += 1
        return wall, setup, table

    cold, setup0, _ = replay(0, False)
    setups = [setup0]
    # the replay after the cold one still runs slow while the JIT warms
    # (at 240k events on a loaded host: 8.7 s, then 6.0 s, then 4.7-5.5 s):
    # it runs untimed, so the loop measures the warm rate whatever the
    # host speed
    for i in range(1, BACKFILL_WARMUP_REPLAYS + 1):
        _, setup, _ = replay(i, False)
        setups.append(setup)
        shutil.rmtree(ctx.path(f"table{i - 1}"), ignore_errors=True)
    walls, traced_walls = [], []
    last = None
    t_end = time.perf_counter() + ctx.args.seconds
    i = BACKFILL_WARMUP_REPLAYS + 1
    timed = 0
    min_reps = 4 if tr else BACKFILL_MIN_TIMED
    while time.perf_counter() < t_end or timed < min_reps:
        traced = tr is not None and timed % 2 == 1
        ctx.phase(f"replay{i}")
        wall, setup, last = replay(i, traced)
        (traced_walls if traced else walls).append(wall)
        setups.append(setup)
        shutil.rmtree(ctx.path(f"table{i - 1}"), ignore_errors=True)
        i += 1
        timed += 1
    # peak memory of the replays, before the check collects a table
    peak = ctx.peak_rss_mb()
    if _table_digest(last) != expect:
        out.failed += 1

    n = man["n_events"]
    eps = [n / w for w in walls]
    out.e2e = {
        "setup_s": ctx.session_start_s + stats.median(setups),
        "peak_rss_mb": peak,
        "throughput_per_s": stats.median(eps),
        "latency_p50_s": stats.median(walls),
        "cold_s": cold,
    }
    out.named = [
        ("backfill_events_per_s", stats.median(eps), "1/s", len(eps)),
        ("backfill_cold_s", cold, "s", 1),
        ("setup_s", out.e2e["setup_s"], "s", len(setups)),
        ("failed_op_ratio", out.failed / out.attempted, "ratio", out.attempted),
    ]
    if tr:
        tr.collect()
        tr.require(("applier", "dedup", "normalize", "merge_into",
                    "write_data_files", "commit", "read_changelog"))
        batches = [s for s in tr.find("batch") if s.parent is None]
        out.layer_values = _engine_layers(tr, batches, last.table_dir, lambda b: n)
        out.layer_values["session.start_s"] = ctx.session_start_s
        out.layer_values["trace.overhead_ratio"] = (
            stats.median(traced_walls) / stats.median(walls))
    return out


# ------------------------------------------------------------------- tail
def _chunk_last_lsn(path: str) -> int:
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("lsn")
    return max(md.row_group(g).column(col).statistics.max for g in range(md.num_row_groups))


def _lineage(table) -> list[dict]:
    return [r.asDict() for r in table.lineage_df().collect()]


def tail(ctx) -> Outcome:
    """Bulk-load a prefix, drain a staged backlog (capacity), then tail
    an open-loop feed published at a fixed rate (freshness)."""
    spark, tr = ctx.spark, ctx.tracer
    rows = TAIL_CHUNK_ROWS
    # one file per trigger interval, due shortly before each tick of
    # the epoch-aligned processing-time trigger
    interval_s = TAIL_TRIGGER_MS / 1e3
    rate = rows * TAIL_OPEN_PER_FILE / interval_s
    n_open = max(TAIL_MIN_FILES, math.ceil(ctx.args.seconds / interval_s))
    n_total = TAIL_PREFIX_CHUNKS + TAIL_BACKLOG_CHUNKS + n_open * TAIL_OPEN_PER_FILE
    log, _ = ctx.fixture(n_total * rows, rows, CONVS)
    chunks = chunk_paths(log)
    prefix = chunks[:TAIL_PREFIX_CHUNKS]
    backlog = chunks[TAIL_PREFIX_CHUNKS: TAIL_PREFIX_CHUNKS + TAIL_BACKLOG_CHUNKS]
    opened = chunks[TAIL_PREFIX_CHUNKS + TAIL_BACKLOG_CHUNKS:]
    files = [opened[i:i + TAIL_OPEN_PER_FILE]
             for i in range(0, len(opened), TAIL_OPEN_PER_FILE)]
    out = Outcome()

    # set-up: stage the inputs and bulk-load the prefix
    t0 = time.perf_counter()
    feed, pending = ctx.path("feed"), ctx.path("pending")
    stage_chunks(prefix, ctx.path("prefix"))
    stage_chunks(backlog, feed, mtime0=time.time() - 3600, per_file=TAIL_BACKLOG_PER_FILE)
    stage_chunks(opened, pending, per_file=TAIL_OPEN_PER_FILE)
    table = rn.bootstrap_table(spark, ctx.path("table"), n_buckets=BUCKETS)
    t1 = time.perf_counter()
    rn.replay_batch(spark, ctx.path("prefix"), table, ctx.path("ckpt-bulk"))
    prefix_load = time.perf_counter() - t1
    setup = time.perf_counter() - t0
    ckpt = ctx.path("ckpt")

    # drain: the backlog under availableNow (capacity)
    ctx.phase("drain")
    ctx.traced(True)
    drain_t0 = time.time()
    rn.run_stream(spark, feed, table, ckpt, timeout_sec=150)
    drain_s = time.time() - drain_t0
    ctx.traced(False)
    out.attempted += 1
    drain_lsn = _chunk_last_lsn(backlog[-1])

    # open loop: a separate process publishes files on a fixed schedule
    ctx.phase("open")
    ctx.traced(True)
    query = rn.run_stream(
        spark, feed, table, ckpt, available_now=False,
        processing_time=f"{TAIL_TRIGGER_MS} milliseconds",
    )
    first_tick = math.ceil((time.time() + TAIL_LEAD_S) / interval_s) * interval_s
    start_ms = (first_tick - TAIL_DUE_BEFORE_TICK_S) * 1e3
    plan = {
        "start_ms": start_ms,
        "interval_ms": interval_s * 1e3,
        "moves": [[os.path.join(pending, os.path.basename(f[0])),
                   os.path.join(feed, os.path.basename(f[0]))] for f in files],
    }
    plan_path, sent_path = ctx.path("plan.json"), ctx.path("sent.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    schedule_s = first_tick - time.time() + n_open * interval_s
    with open(ctx.path("feeder.log"), "w") as log_fh:
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeder.py"), plan_path, sent_path],
            stdout=log_fh, stderr=subprocess.STDOUT,
        )
        try:
            gen.wait(timeout=schedule_s + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
    # numInputRows over-counts (the applier reads its batch more than
    # once), so completion is read from the table's own lineage
    final_lsn = _chunk_last_lsn(opened[-1])

    def caught_up() -> bool:
        return any(e["lsn_max"] >= final_lsn for e in oracle.lineage_entries(table.table_dir)
                   if e.get("lsn_max") is not None)

    deadline = time.time() + TAIL_GRACE_S
    while time.time() < deadline and not caught_up():
        time.sleep(0.1)
    # let the last batch finish its post-commit work before stopping
    while caught_up() and time.time() < deadline and query.status["isTriggerActive"]:
        time.sleep(0.05)
    progress = list(query.recentProgress)
    query.stop()
    query.awaitTermination(60)
    ctx.traced(False)
    with open(sent_path) as fh:
        sent = json.load(fh)
    lineage = _lineage(table)

    # catch up on anything the open loop left behind, then check the
    # final table against the serial fold of the whole log
    if not caught_up():
        rn.run_stream(spark, feed, table, ckpt, timeout_sec=150)
    peak = ctx.peak_rss_mb()
    # the final read doubles as the traced run's read layer: a full read
    # of a MoR table holding the last batch's deltas
    ctx.phase("read")
    ctx.traced(True)
    with tr.span("read.final") if tr else contextlib.nullcontext():
        final = _table_digest(table)
    ctx.traced(False)
    if final != oracle.row_digest(oracle.fold_log(log).values()):
        out.failed += 1

    recs = [{"last_lsn": _chunk_last_lsn(f[-1]), "due_ms": s["due_ms"]}
            for f, s in zip(files, sent)]
    fresh = stats.freshness(recs, lineage)
    print("tail: per-file freshness (s):", fresh, file=sys.stderr)
    out.attempted += len(fresh)
    done = [f for f in fresh if f is not None]
    miss = stats.miss_ratio(fresh, TAIL_FRESH_LIMIT_S)
    summ = stats.summarize(done)
    p90 = stats.percentile(done, 90.0) if done else None
    # the sample-count rule: flag a tail percentile with < 10 samples beyond
    p90_name = "tail_fresh_p90_s" if summ["tail_q"] else "tail_fresh_p90_s[<10 beyond]"
    # drain capacity: the events of every batch after the first over the
    # span between their commits, so stream start-up (cold_s) stays out
    prefix_lsn = _chunk_last_lsn(prefix[-1])
    drained = sorted((e for e in lineage if e.get("lsn_min") is not None
                      and prefix_lsn < e["lsn_min"] and e["lsn_max"] <= drain_lsn),
                     key=lambda e: e["committed_at_ms"])
    if len(drained) < 2:
        raise RuntimeError(f"backlog drained in {len(drained)} batches; the rate needs two")
    first_batch = drained[0]["committed_at_ms"] / 1e3 - drain_t0
    drain_rate = sum(e["event_count"] for e in drained[1:]) / (
        (drained[-1]["committed_at_ms"] - drained[0]["committed_at_ms"]) / 1e3)
    out.e2e = {
        "setup_s": ctx.session_start_s + setup,
        "peak_rss_mb": peak,
        "throughput_per_s": drain_rate,
        "latency_p50_s": summ["p50"] if done else float(TAIL_FRESH_LIMIT_S),
        # a cold start of the tail: the bulk load of the prefix, then the
        # streaming query's start-up and first merge-on-read commit
        "cold_s": prefix_load + first_batch,
    }
    out.named = [
        ("tail_drain_events_per_s", drain_rate, "1/s", len(drained) - 1),
        ("tail_drain_wall_s", drain_s, "s", 1),
        ("tail_fresh_p50_s", summ["p50"], "s", len(done)),
        (p90_name, p90, "s", len(done)),
        ("tail_fresh_max_s", max(done) if done else None, "s", len(done)),
        ("tail_fresh_miss_ratio", miss, "ratio", len(fresh)),
        ("tail_offered_events_per_s", rate, "1/s", len(recs)),
        ("tail_first_drain_batch_s", first_batch, "s", 1),
        ("tail_prefix_load_s", prefix_load, "s", 1),
        ("setup_s", out.e2e["setup_s"], "s", 1),
        ("failed_op_ratio", out.failed / out.attempted, "ratio", out.attempted),
    ]
    if tr:
        tr.collect()
        tr.require(("applier", "dedup", "normalize", "merge_delta", "compact",
                    "reconstruct", "read_file_entries", "write_data_files", "commit",
                    "stream_changelog"))
        drain_b = [s for s in tr.find("batch", "drain") if s.parent is None]
        drain_counts = {e["batch_id"]: e["event_count"] for e in drained}
        lv = _engine_layers(tr, drain_b, table.table_dir,
                            lambda b: drain_counts[b.batch])
        open_b = {s.batch: s for s in tr.find("batch", "open") if s.parent is None}
        over = [p["durationMs"]["triggerExecution"] / 1e3 - open_b[p["batchId"]].wall
                for p in progress
                if p["batchId"] in open_b and "addBatch" in p["durationMs"]]
        last_due = sent[-1]["due_ms"] if sent else start_ms
        comp = tr.find("compact")
        ct = [tr.totals(s) for s in comp]
        lv.update({
            "stream.trigger_overhead_s": med(over),
            "stream.events_per_batch": med([
                e["event_count"] for e in lineage
                if e.get("lsn_min") is not None and e["lsn_min"] > drain_lsn]),
            "stream.backlog_chunks_end": sum(
                1 for r, f in zip(recs, fresh)
                if f is None or r["due_ms"] + f * 1e3 > last_due),
            "gen.late_max_s": max((s["sent_ms"] - s["due_ms"]) / 1e3 for s in sent),
            "compact.wall_s": med([s.wall for s in comp]),
            "compact.task_s": med([t.task_s for t in ct]),
            "compact.rewritten_mb": med([t.out_mb for t in ct]),
            **_read_layers(tr, [s for s in tr.find("read.final") if s.parent is None],
                           final[0]),
            "session.start_s": ctx.session_start_s,
        })
        per_trigger = inspect.signature(rn.run_stream).parameters[
            "max_files_per_trigger"].default
        lv["trace.overhead_ratio"] = _mor_overhead_pair(ctx, backlog[:per_trigger])
        out.layer_values = lv
    return out


def _mor_overhead_pair(ctx, chunk_files: list[str], pairs: int = 2) -> float:
    """Traced / untraced wall of one micro-batch-sized MoR apply, from
    interleaved pairs on fresh tables."""
    src = ctx.path("pair-src")
    stage_chunks(chunk_files, src)
    walls = {False: [], True: []}
    for i in range(pairs * 2):
        traced = i % 2 == 1
        table = rn.bootstrap_table(ctx.spark, ctx.path(f"pair{i}"), n_buckets=BUCKETS)
        ctx.phase("pair")
        ctx.traced(traced)
        t0 = time.perf_counter()
        rn.replay_batch(ctx.spark, src, table, ctx.path(f"pair-ckpt{i}"), sink_mode="mor")
        walls[traced].append(time.perf_counter() - t0)
        ctx.traced(False)
    return stats.median(walls[True]) / stats.median(walls[False])


# ------------------------------------------------------------- lake_reads
_AGG_SQL = (
    "count(*) AS n, sum(turn_idx) AS s_turn, sum(length(text)) AS s_text, "
    "max(CAST(_cdc_lsn AS BIGINT)) AS max_lsn"
)


def _agg(df) -> tuple:
    r = df.selectExpr(*[e.strip() for e in _AGG_SQL.split(", ")]).first()
    return tuple(int(x) if x is not None else None for x in r)


def lake_reads(ctx) -> Outcome:
    """Closed-loop, single-client read mix over a MoR table left with
    resident deltas by the default streaming path, and its CoW twin."""
    spark, tr = ctx.spark, ctx.tracer
    log, _ = ctx.fixture(READS_EVENTS, READS_CHUNK_ROWS, CONVS)
    chunks = chunk_paths(log)
    out = Outcome()

    t0 = time.perf_counter()
    stage_chunks(chunks[:READS_PREFIX_CHUNKS], ctx.path("prefix"))
    stage_chunks(chunks[READS_PREFIX_CHUNKS:], ctx.path("feed"), mtime0=time.time() - 3600)
    mor = rn.bootstrap_table(spark, ctx.path("mor"), n_buckets=BUCKETS)
    t1 = time.perf_counter()
    rn.replay_batch(spark, ctx.path("prefix"), mor, ctx.path("ckpt-bulk"))
    prefix_load = time.perf_counter() - t1
    rn.run_stream(spark, ctx.path("feed"), mor, ctx.path("ckpt"), timeout_sec=150)
    cow = rn.bootstrap_table(spark, ctx.path("cow"), n_buckets=BUCKETS)
    rn.replay_batch(spark, log, cow, ctx.path("ckpt-cow"))
    setup = time.perf_counter() - t0
    deltas = sum(1 for f in oracle.snapshot_files(mor.table_dir) if f.get("kind") == "delta")
    if deltas == 0:
        raise RuntimeError("MoR table holds no resident deltas; the read mix needs them")

    # expected answers, from DuckDB over each snapshot's files
    import duckdb

    con = duckdb.connect()
    oracle.duck_snapshot(con, mor.table_dir, "mor")
    oracle.duck_snapshot(con, cow.table_dir, "cow")
    rng = random.Random(ctx.args.seed)
    keys = rng.sample(con.execute("SELECT conv_id, turn_idx FROM mor ORDER BY 1, 2").fetchall(),
                      READS_LOOKUP_KEYS)
    lo, hi = con.execute("SELECT min(ts), max(ts) FROM mor").fetchone()
    width_s = (hi - lo) // 20  # each range covers a twentieth of the ts span
    starts = [lo + rng.randrange(hi - lo - width_s) for _ in range(READS_RANGES)]
    ranges = [(a, a + width_s) for a in starts]

    def duck_agg(view, where="TRUE"):
        q = _AGG_SQL.replace("CAST(_cdc_lsn AS BIGINT)", "lsn")
        return tuple(int(x) if x is not None else None
                     for x in con.execute(f"SELECT {q} FROM {view} WHERE {where}").fetchone())

    want = {
        "mor_agg": duck_agg("mor"),
        "cow_agg": duck_agg("cow"),
    }
    for i, (conv, turn) in enumerate(keys):
        want[f"lookup{i}"] = con.execute(
            "SELECT text, lsn FROM mor WHERE conv_id = ? AND turn_idx = ?", [conv, turn]
        ).fetchall()
    for i, (a, b) in enumerate(ranges):
        want[f"range{i}"] = duck_agg("mor", f"ts >= {a} AND ts < {b}")
    want["lineage"] = sorted(
        (e["snapshot_version"], e["lsn_min"], e["lsn_max"])
        for e in oracle.lineage_entries(mor.table_dir) if e.get("lsn_max") is not None)
    con.close()

    def ts(v):
        return dt.datetime.fromtimestamp(v, tz=dt.timezone.utc).replace(tzinfo=None)

    ops = {
        "mor_agg": lambda r: _agg(mor.read()),
        "cow_agg": lambda r: _agg(cow.read()),
        "lookup": lambda r: [
            (x.text, int(x._cdc_lsn)) for x in mor.lookup(
                conv_id=keys[r % len(keys)][0], turn_idx=keys[r % len(keys)][1]).collect()],
        "range": lambda r: _agg(mor.scan(
            [("ts", ">=", ts(ranges[r % len(ranges)][0])),
             ("ts", "<", ts(ranges[r % len(ranges)][1]))])),
        "lineage": lambda r: sorted(
            (x.snapshot_version, x.lsn_min, x.lsn_max)
            for x in mor.lineage_df().collect() if x.lsn_max is not None),
    }

    # one round of the closed loop; the full MoR read, the op read
    # amplification hits hardest, runs twice per round
    mix = ("mor_agg", "lookup", "cow_agg", "mor_agg", "range", "lineage")

    def expected(op, r):
        if op == "lookup":
            return want[f"lookup{r % len(keys)}"]
        if op == "range":
            return want[f"range{r % len(ranges)}"]
        return want[op]

    lat = {op: [] for op in ops}
    traced_lat = {op: [] for op in ops}
    results = []

    def timed(op, r, traced):
        ctx.traced(traced)
        t = time.perf_counter()
        # the span is a no-op unless the tracer is active
        with tr.span(f"read.{op}") if tr else contextlib.nullcontext():
            got = ops[op](r)
        wall = time.perf_counter() - t
        ctx.traced(False)
        results.append((op, r, got))
        return wall

    # the session's first pass over the mix pays every read path's
    # one-time cost: it is cold_s. Latencies keep falling for another
    # pass or so while the JIT warms, so a second pass runs untimed too.
    ctx.phase("reads")
    t_cold = time.perf_counter()
    first_read = [timed(op, 0, False) for op in mix][0]
    cold = time.perf_counter() - t_cold
    for op in mix:
        timed(op, 1, False)
    loop_t0 = time.perf_counter()
    t_end = loop_t0 + ctx.args.seconds
    r = 0
    n_ops = 0
    min_rounds = 4 if tr else 2
    while time.perf_counter() < t_end or r < min_rounds:
        traced = tr is not None and r % 2 == 1
        for op in mix:
            (traced_lat if traced else lat)[op].append(timed(op, r, traced))
            n_ops += 1
        r += 1
    loop_s = time.perf_counter() - loop_t0

    out.attempted = len(results)
    out.failed = sum(1 for op, r, got in results if got != expected(op, r))
    out.e2e = {
        "setup_s": ctx.session_start_s + setup,
        "peak_rss_mb": ctx.peak_rss_mb(),
        "throughput_per_s": n_ops / loop_s,
        "latency_p50_s": stats.median(lat["mor_agg"]),
        "cold_s": cold,
    }
    out.named = [
        ("read_mor_scan_p50_s", stats.median(lat["mor_agg"]), "s", len(lat["mor_agg"])),
        ("read_cow_scan_p50_s", stats.median(lat["cow_agg"]), "s", len(lat["cow_agg"])),
        ("read_lookup_p50_ms", stats.median(lat["lookup"]) * 1e3, "ms", len(lat["lookup"])),
        ("read_range_p50_s", stats.median(lat["range"]), "s", len(lat["range"])),
        ("read_lineage_p50_s", stats.median(lat["lineage"]), "s", len(lat["lineage"])),
        ("read_mor_first_s", first_read, "s", 1),
        ("read_first_mix_s", cold, "s", 1),
        ("lake_prefix_load_s", prefix_load, "s", 1),
        ("mor_resident_delta_files", deltas, "count", 1),
        ("setup_s", out.e2e["setup_s"], "s", 1),
        ("failed_op_ratio", out.failed / out.attempted, "ratio", out.attempted),
    ]
    if tr:
        tr.collect()
        tr.require(("reconstruct", "read_file_entries"))
        spans = [s for s in tr.find("read.mor_agg") if s.parent is None]
        out.layer_values = {
            **_read_layers(tr, spans, want["mor_agg"][0]),
            "session.start_s": ctx.session_start_s,
            "trace.overhead_ratio": stats.median(traced_lat["mor_agg"]) / stats.median(lat["mor_agg"]),
        }
    return out
