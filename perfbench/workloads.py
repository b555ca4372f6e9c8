"""The benchmark's workloads. Each runs in a process of its own, on
``local[nproc]`` with ``nproc`` shuffle partitions, against the engine's
public API only.

Both are closed loops: one client, one call at a time, the next call
issued when the previous one returned. Inputs are generated with
``datagen`` from the seed before any timing and are excluded from every
metric. See README.md in this directory for why each workload exists.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time
import uuid
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager, nullcontext

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gamechanger_data_spark.datagen import (
    BATCH_PREFIX, READY_MARKER, FeedSpec, batch_id_for, generate_batch, pandas_oracle,
)
from gamechanger_data_spark.functions.text import normalize_text_pandas
from gamechanger_data_spark.session import get_spark
from gamechanger_data_spark.sinks.table import LakeTable
from gamechanger_data_spark.sources.feed import list_ready_batches, read_batch
from gamechanger_data_spark.streaming.cdc_source import register_lakecdc
from gamechanger_data_spark.streaming.driver import apply_batch

from spans import Tracer

# Set-up is repeated this many times per run; setup_s is the median.
SETUP_REPS = 3

# Generated feeds are kept under the work root and reused by later runs
# of the same seed and shape; this many per workload, most recent first.
# More than the ten seeds of a spread check, which would otherwise evict
# each feed before its seed comes round again.
INPUT_CACHE_KEEP = 12

# bulk_replay: dense multi-part batches, shaped like bench.py's CDC feed
# (Zipf 1.4 conversations, 5% duplicates, 3% deletes, 3% revokes). Batch
# 0 is the base table built in set-up; every cycle merges the others
# into a copy of it.
BULK_EVENTS = 450_000
BULK_BATCHES = 3
BULK_PARTS = 8
BULK_EVOLVE = 2  # this batch adds the tool_version column (timed range)
BULK_BUCKETS = 32
BULK_WARM_CYCLES = 2  # untimed: merge times still fall by ~20% from the 3rd to the 5th merge
BULK_MIN_CYCLES = 2

# trickle_serve: a resident table, then small batches, each followed by
# point lookups of keys it just wrote; maintenance and a tailing
# changefeed consumer once per round.
# ~8k live rows: a 1k-event batch stays under auto mode's 20% MOR threshold
TRICKLE_RESIDENT = 50_000
TRICKLE_EVENTS = 1_000
TRICKLE_CONVS = 4_000
TRICKLE_BUCKETS = 8
TRICKLE_ROUND = 3  # commits per maintain(): below the 8-delta forced fold
TRICKLE_MIN_ROUNDS = 2
TRICKLE_LOOKUPS = 1
TRICKLE_BATCHES = 40  # bounds the rounds a long --seconds can run
# the consumer's last position plus one round of commits and compaction
KEEP_SNAPSHOTS = TRICKLE_ROUND + 2
DRAIN_TIMEOUT_S = 120

ORACLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "event_seq", "is_revoked"]


class Clock:
    """Timed wall of the loop: only the ``running()`` blocks count, so
    bookkeeping and correctness checks between them are excluded."""

    def __init__(self):
        self.elapsed = 0.0

    @contextmanager
    def running(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.elapsed += time.perf_counter() - t0


class Run:
    """One workload run: options, its own workdir, the Spark session, the
    tracer and everything measured."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, nproc: int, cache_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.nproc = nproc
        self.cache_dir = cache_dir
        self.tracer = Tracer(f"{workload}-{seed}-{uuid.uuid4().hex[:8]}", trace)
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.events = 0
        self.clock = Clock()
        self.recording = True  # False while warming up
        self.stored_bytes_per_row = 0.0
        self.drains: list[dict] = []  # {"run_id", "progress"}
        self.seen_files: dict[str, set[str]] = {}  # table root -> live paths
        self.loop_t0 = self.loop_t1 = 0.0  # epoch seconds
        self.t0 = time.perf_counter()

    # ------------------------------------------------------------ helpers

    def log(self, msg: str) -> None:
        """Progress line on stderr, with seconds since the run began."""
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {msg}", file=sys.stderr, flush=True)

    def loop_started(self) -> None:
        self.loop_t0 = time.time()

    def loop_ended(self) -> None:
        self.loop_t1 = time.time()
        self.log(f"timed loop done: {self.clock.elapsed:.1f} s")

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def sample(self, name: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(name, []).append(value)

    def note(self, name: str, value: float) -> None:
        if self.recording:
            self.layer.setdefault(name, []).append(value)

    def timed(self):
        """Counts towards the loop's timed wall, unless warming up."""
        return self.clock.running() if self.recording else nullcontext()

    @contextmanager
    def warming_up(self):
        """The work inside runs in full, correctness gates included, but
        records no samples, notes, events, drains or timed wall."""
        self.recording = False
        try:
            yield
        finally:
            self.recording = True

    def gate(self, ok: bool, what: str) -> None:
        """Record one correctness gate; a failed gate counts as a failed op."""
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def start_session(self) -> None:
        """(Re)start the Spark session; every file it writes stays in the
        run's workdir. The JVM options only take effect at the first
        start of the process."""
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": "2g",
            "spark.memory.offHeap.size": "1g",
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} "
                f"-Dderby.system.home={self.path('derby')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.path("eventlog")
            # one plain JSON-lines file per SparkContext
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_conf=conf,
            )
            register_lakecdc(self.spark)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @contextmanager
    def job_group(self, span):
        """Tag the Spark jobs run inside ``span`` so the event log can be
        attributed to it (traced runs only)."""
        if span is None:
            yield
            return
        gid = f"perfbench-{len(self.tracer.spans)}-{uuid.uuid4().hex[:6]}"
        span.attrs["job_group"] = gid
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, span.name)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def commit(self, table: LakeTable, batch_id: str, batch_dir: str, events: int,
               span_name: str) -> dict:
        """read_batch -> apply_batch inside the clock; the commit's
        bookkeeping (traced only) outside it."""
        self.attempted += 1
        with self.timed(), self.tracer.span(span_name):
            with self.tracer.span("feed.read_batch"):
                df = read_batch(self.spark, batch_dir)
            with self.tracer.span("driver.apply_batch") as sp, self.job_group(sp):
                t0 = time.perf_counter()
                res = apply_batch(table, df, batch_id, batch_dir=batch_dir)
                wall = time.perf_counter() - t0
        self.sample("commit_s", wall)
        self.events += events if self.recording else 0
        self.gate(not res.get("skipped"), f"commit {batch_id} was skipped")
        if self.trace and self.recording:
            self.note("table.mode_cow", float(res.get("mode") == "cow"))
            self.note("table.mode_mor", float(res.get("mode") == "mor"))
            self.note("table.touched_buckets", float(res.get("touched_buckets") or 0))
            self.note("table.attempts", float(res.get("attempts") or 1))
            with self.tracer.span("bench.note_files"):
                self._note_files(table, res.get("version"), events)
        return res

    def _note_files(self, table: LakeTable, version, events: int) -> None:
        rows = table.files().collect()
        paths = {r["path"] for r in rows}
        new = paths - self.seen_files.get(table.root, set())
        self.seen_files[table.root] = paths
        written = sum(os.path.getsize(os.path.join(table.root, p)) for p in new)
        self.note("table.bytes_written_per_event", written / max(events, 1))
        self.note("table.delta_files_live", float(sum(r["kind"] == "delta" for r in rows)))
        self.note("table.base_files_live", float(sum(r["kind"] == "base" for r in rows)))
        if version is not None:
            mpath = os.path.join(table.root, "_meta", f"v{int(version):08d}.json")
            if os.path.exists(mpath):
                self.note("table.manifest_bytes", float(os.path.getsize(mpath)))

    def _start_stream(self, table: LakeTable, starting_version: int, sink: str,
                      name: str):
        """An availableNow lakecdc stream from ``starting_version`` into
        ``sink`` with a fresh checkpoint, started."""
        return (
            self.spark.readStream.format("lakecdc")
            .option("path", table.root)
            .option("startingVersion", starting_version)
            .load()
            .writeStream.format(sink)
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", self.path("checkpoints", name))
            .start()
        )

    def _await(self, q, what: str) -> None:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            self.gate(False, f"{what} did not finish in {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            self.gate(False, f"{what} raised {q.exception()}")

    def drain(self, table: LakeTable, starting_version: int) -> tuple[float, int]:
        """One drain of the lakecdc stream into a noop sink. Returns
        (wall, change rows)."""
        self.attempted += 1
        name = f"perfbench_{uuid.uuid4().hex[:12]}"
        with self.timed(), self.tracer.span("cdc_source.drain"):
            t0 = time.perf_counter()
            q = self._start_stream(table, starting_version, "noop", name)
            self._await(q, "drain")
            wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        rows = sum(int(p.get("numInputRows", 0)) for p in progress)
        if self.recording:
            self.drains.append({"run_id": str(q.runId), "progress": progress})
        shutil.rmtree(self.path("checkpoints", name), ignore_errors=True)
        return wall, rows

    def check_drain(self, table: LakeTable, start: int, end: int, timed_rows: int,
                    full: bool = True) -> None:
        """Correctness gate for a drain of versions (start, end], outside
        the clock: the same span drained once more, into a memory sink,
        must hold the rows of ``LakeTable.diff(start, end)`` (same count,
        same content hash over every shared column, change_op included),
        and as many rows as the timed drain delivered. Without ``full``,
        only the timed drain's row count is checked against the diff's."""
        what = f"drain ({start}, {end}]"
        if not full:
            with self.tracer.span("bench.check_drain"):
                want = table.diff(start, end).count()
            self.gate(timed_rows == want,
                      f"{what}: {timed_rows} rows drained, {want} in LakeTable.diff")
            return
        with self.tracer.span("bench.check_drain"):
            name = f"perfbench_{uuid.uuid4().hex[:12]}"
            q = self._start_stream(table, start, "memory", name)
            self._await(q, f"{what} re-drain")
            got = self.spark.table(name).toPandas()
            self.spark.catalog.dropTempView(name)
            shutil.rmtree(self.path("checkpoints", name), ignore_errors=True)
            want = table.diff(start, end).toPandas()
        self.gate(timed_rows == len(got) == len(want),
                  f"{what}: {timed_rows} rows drained, {len(got)} re-drained, "
                  f"{len(want)} in LakeTable.diff")
        cols = sorted(set(got.columns) & set(want.columns))
        self.gate("change_op" in cols and content_hash(got, cols) == content_hash(want, cols),
                  f"{what}: re-drained rows differ from LakeTable.diff")

    def copy_table(self, src: LakeTable, name: str) -> LakeTable:
        """A copy of ``src``'s files as a table of its own (paths in a
        table's manifests are relative to its root)."""
        dst = self.path(name)
        shutil.copytree(src.root, dst)
        return LakeTable(self.spark, dst, n_buckets=src.n_buckets)

    def finish_table(self, table: LakeTable, live_rows: int) -> None:
        """Stored bytes per live row of the table's current snapshot."""
        total = sum(
            os.path.getsize(os.path.join(table.root, r["path"]))
            for r in table.files().collect()
        )
        self.stored_bytes_per_row = total / max(live_rows, 1)


def cached_feed(cache_dir: str, name: str, spec: FeedSpec, parts: int) -> str:
    """The root of ``write_feed(spec)``, generated on first use (one batch
    per worker process) and reused
    by later runs of the same seed and shape. A feed is written to a
    scratch directory and renamed into place, so a cached feed is always
    whole; only the INPUT_CACHE_KEEP most recently used feeds of ``name``
    are kept."""
    key = hashlib.sha1(repr((spec, parts)).encode()).hexdigest()[:12]
    root = os.path.join(cache_dir, f"{name}-{spec.seed}-{key}")
    if os.path.isdir(root):
        os.utime(root)  # most recently used
        return root
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{root}.tmp-{os.getpid()}"
    try:
        workers = min(spec.n_batches, len(os.sched_getaffinity(0)))
        with ProcessPoolExecutor(workers) as pool:
            list(pool.map(write_batch, [tmp] * spec.n_batches, [spec] * spec.n_batches,
                          range(spec.n_batches), [parts] * spec.n_batches))
        os.rename(tmp, root)
    except OSError:
        if not os.path.isdir(root):
            raise
        # a concurrent run of the same seed finished first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    cached = sorted(
        (e.path for e in os.scandir(cache_dir)
         if e.name.startswith(f"{name}-") and ".tmp-" not in e.name),
        key=os.path.getmtime, reverse=True,
    )
    for old in cached[INPUT_CACHE_KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return root


def write_batch(root: str, spec: FeedSpec, batch_idx: int, parts: int) -> None:
    """Batch ``batch_idx`` of ``write_feed(root, spec, parts)``, the same
    files, so that batches can be generated in parallel: the bulk feed
    takes 10-20 s to generate one batch after another on a 4-core host."""
    pdf = generate_batch(spec, batch_idx)
    d = os.path.join(root, f"{BATCH_PREFIX}{batch_id_for(batch_idx)}")
    os.makedirs(d, exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    step = max(1, len(pdf) // parts)
    for i, lo in enumerate(range(0, len(pdf), step)):
        pq.write_table(tbl.slice(lo, step), os.path.join(d, f"part-{i:04d}.parquet"))
    with open(os.path.join(d, READY_MARKER), "w") as f:  # parts first, then ready
        f.write("ready\n")


def content_hash(df: pd.DataFrame, cols: list[str]) -> str:
    """Hash of the multiset of rows over ``cols``: independent of row
    order, and every kind of null (None, NaN, NaT) hashes alike."""
    rows = df[cols].astype(object)
    rows = rows.where(rows.notna(), None).astype(str)
    rows = rows.sort_values(cols).reset_index(drop=True)
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()


def cached_oracle(feed: str) -> pd.DataFrame:
    """``pandas_oracle`` over every batch of ``feed``: the expected final
    state, computed from the inputs alone on first use and kept beside
    them, so that later runs of the same seed skip it."""
    path = os.path.join(feed, "oracle.parquet")
    if not os.path.exists(path):
        events = pd.concat([_read_batch_pandas(d) for _, d in list_ready_batches(feed)],
                           ignore_index=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        pandas_oracle(events, normalize=normalize_text_pandas).to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return pd.read_parquet(path)


def _batch_rows(batch_dir: str) -> int:
    """Events in a batch, from its parquet footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in glob.glob(os.path.join(batch_dir, "part-*.parquet")))


def _read_batch_pandas(batch_dir: str) -> pd.DataFrame:
    return pd.concat(
        [pq.read_table(p).to_pandas()
         for p in sorted(glob.glob(os.path.join(batch_dir, "part-*.parquet")))],
        ignore_index=True,
    )


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = [c for c in ORACLE_COLS if c in want.columns and c in got.columns]
    g = got[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    w = want[cols].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False)
    except AssertionError:
        return False
    return True


# ------------------------------------------------------------ bulk_replay


def bulk_replay(run: Run) -> None:
    """A backlog of dense ready batches merged through
    ``read_batch -> apply_batch`` into a 32-bucket table built in set-up.
    Each cycle merges the backlog into a fresh copy of that base table,
    and cycles repeat until the time is up, so every run measures the
    same mix of commits. Every batch touches every bucket, so each commit
    is a copy-on-write rewrite: the LWW shuffle, bucket rewrite and commit
    stats do the work. No lookups, no drains."""
    spec = FeedSpec(
        n_convs=BULK_EVENTS // 50, max_turns=50, n_batches=BULK_BATCHES,
        events_per_batch=BULK_EVENTS, seed=run.seed, with_version_hash=False,
        evolve_batch=BULK_EVOLVE,
    )
    feed = cached_feed(run.cache_dir, "bulk_replay", spec, BULK_PARTS)
    batches = list_ready_batches(feed)
    rows = {bid: _batch_rows(d) for bid, d in batches}
    want = cached_oracle(feed)
    run.log("inputs ready")

    # each set-up (re)starts the session and inserts batch 0 into a fresh
    # table; the last one is the base every cycle copies
    base_id, base_dir = batches[0]
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        run.start_session()
        base = LakeTable(run.spark, run.path(f"base{rep}"), n_buckets=BULK_BUCKETS)
        apply_batch(base, read_batch(run.spark, base_dir), base_id, batch_dir=base_dir)
        setup.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(base.root)
    run.samples["setup_s"] = setup

    def cycle(name: str) -> LakeTable:
        with run.tracer.span("bench.copy_base"):
            table = run.copy_table(base, name)
        with run.timed(), run.tracer.span("feed.list"):
            merges = list_ready_batches(feed)[1:]  # batch 0 is in the base
        for bid, d in merges:
            run.commit(table, bid, d, rows[bid], "bulk.commit")
        return table

    with run.warming_up():
        for n in range(BULK_WARM_CYCLES):
            shutil.rmtree(cycle(f"warm{n}").root)
    run.log(f"set-up done: {[round(x, 2) for x in setup]}")

    checked = None
    n = 0
    run.loop_started()
    while n < BULK_MIN_CYCLES or run.clock.elapsed < run.seconds:
        table = cycle(f"cycle{n}")
        if checked is None:
            checked = table
        else:
            with run.tracer.span("bench.drop_table"):
                shutil.rmtree(table.root)
        n += 1

    run.loop_ended()
    got = checked.read().toPandas()
    run.gate(_frames_equal(got, want), "bulk_replay final state != pandas oracle")
    run.finish_table(checked, len(got))
    run.log("checks done")


# ------------------------------------------------------------ trickle_serve


def trickle_serve(run: Run) -> None:
    """A resident table, then small batches applied one at a time. Each
    commit is followed by point lookups of keys it just wrote; every
    TRICKLE_ROUND commits, ``maintain()`` compacts and expires, and a
    tailing changefeed consumer drains the span since its last position.
    One untimed round warms up; then whole rounds run until the time is
    up (at least TRICKLE_MIN_ROUNDS). Writes beside reads: per-commit
    driver cost, merge-on-read deltas, base+delta resolution, compaction
    and the lakecdc stream dominate."""
    res_spec = FeedSpec(
        n_convs=TRICKLE_CONVS, max_turns=50, n_batches=1,
        events_per_batch=TRICKLE_RESIDENT, seed=run.seed,
        with_version_hash=False, evolve_batch=None,
    )
    tr_spec = FeedSpec(
        n_convs=TRICKLE_CONVS, max_turns=50, n_batches=TRICKLE_BATCHES + 1,
        events_per_batch=TRICKLE_EVENTS, seed=run.seed,
        with_version_hash=False, evolve_batch=None,
    )
    resident = cached_feed(run.cache_dir, "trickle_resident", res_spec, 4)
    (res_id, res_dir), = list_ready_batches(resident)
    # batch 0 of the trickle spec shares the resident batch's id and time
    trickle = list_ready_batches(cached_feed(run.cache_dir, "trickle_batches", tr_spec, 1))[1:]
    frames = [_read_batch_pandas(res_dir)] + [_read_batch_pandas(d) for _, d in trickle]
    for i, f in enumerate(frames):
        f["_commit"] = i  # commit 0 is the resident batch
    all_events = pd.concat(frames, ignore_index=True)
    run.log("inputs ready")

    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        run.start_session()
        table = LakeTable(run.spark, run.path(f"table{rep}"), n_buckets=TRICKLE_BUCKETS)
        apply_batch(table, read_batch(run.spark, res_dir), res_id, batch_dir=res_dir)
        setup.append(time.perf_counter() - t0)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(table.root)
    run.samples["setup_s"] = setup
    run.log(f"set-up done: {[round(x, 2) for x in setup]}")

    # A changefeed consumer tails the table from the resident version.
    # Each drain is checked at once: maintain() later expires its span's
    # files.
    consumer_at = table.current_version()

    lookups = []  # (commit index, conv_id, turn_idx, rows)
    nxt = 0  # trickle batches applied so far
    redrained = False  # the first timed drain is drained again, the others counted

    def round_() -> None:
        nonlocal nxt, consumer_at, redrained
        for _ in range(TRICKLE_ROUND):
            bid, d = trickle[nxt]
            nxt += 1
            run.commit(table, bid, d, len(frames[nxt]), "trickle.commit")
            keys = frames[nxt].drop_duplicates(["conv_id", "turn_idx"]).head(TRICKLE_LOOKUPS)
            for k in keys.itertuples():
                run.attempted += 1
                with run.timed(), run.tracer.span("table.lookup"):
                    t0 = time.perf_counter()
                    with run.tracer.span("table.lookup_key"):
                        df = table.lookup_key(conv_id=k.conv_id, turn_idx=int(k.turn_idx))
                    t1 = time.perf_counter()
                    with run.tracer.span("table.lookup_collect"):
                        got = df.collect()
                    t2 = time.perf_counter()
                run.sample("lookup_s", t2 - t0)
                run.note("table.lookup_plan_s", t1 - t0)
                run.note("table.lookup_exec_s", t2 - t1)
                lookups.append((nxt, k.conv_id, int(k.turn_idx), [r.asDict() for r in got]))
        run.attempted += 1
        with run.timed(), run.tracer.span("table.maintain"):
            t0 = time.perf_counter()
            report = table.maintain(compact_min_deltas=TRICKLE_ROUND,
                                    keep_last=KEEP_SNAPSHOTS, grace_sec=0.0)
            run.sample("maintain_s", time.perf_counter() - t0)
        run.note("table.compacted_buckets", float(report.get("compacted_buckets", 0)))
        run.note("table.expired_files", float(report.get("expired_files", 0)))
        v = table.current_version()
        wall, n = run.drain(table, consumer_at)
        run.sample("drain_s", wall)
        if run.recording:  # the warm-up's drain only warms the stream up
            run.check_drain(table, consumer_at, v, n, full=not redrained)
            redrained = True
        consumer_at = v

    with run.warming_up():
        round_()
    run.log("warm-up round done")

    rounds = 0
    run.loop_started()
    while (rounds < TRICKLE_MIN_ROUNDS or run.clock.elapsed < run.seconds) and (
        nxt + TRICKLE_ROUND <= len(trickle)
    ):
        rounds += 1
        round_()

    run.loop_ended()
    # correctness gates, outside the timed region
    for commit_idx, conv, turn, got in lookups:
        ev = all_events[(all_events._commit <= commit_idx)
                        & (all_events.conv_id == conv) & (all_events.turn_idx == turn)]
        want = pandas_oracle(ev.drop(columns="_commit"), normalize=normalize_text_pandas)
        run.gate(_lookup_matches(got, want), f"lookup {conv}/{turn} after commit {commit_idx}")
    live = table.read().count()
    run.finish_table(table, live)
    run.log("checks done")


def _lookup_matches(got: list[dict], want: pd.DataFrame) -> bool:
    if len(got) != len(want):
        return False
    if not got:
        return True
    return _frames_equal(pd.DataFrame(got), want)


WORKLOADS = {"bulk_replay": bulk_replay, "trickle_serve": trickle_serve}
