"""The benchmark's workloads, run through the engine's public entry points.

``tail``: small one-file epochs, back to back (closed loop), on a table
pre-loaded by a larger first epoch. A feeder publishes the next file from
the engine's ``post_epoch`` hook, i.e. as soon as the previous epoch has
committed, into a directory an always-on ``CdcEngine.run_stream`` tails.
The per-epoch floor (epoch-stats job, batch persist, touched-bucket
rewrite, commit, streaming trigger) is nearly all of the time.

``backfill``: a backlog (Zipf hot keys, duplicates, disorder, the
generator's add/rename/widen schema events, a few malformed lines) that
``run_stream`` applies, one file per epoch, into an empty table, after a
half-size backlog of the same kind has warmed up a throwaway table. Parse,
schema events, LWW dedupe, the initial-load write and the dead-letter sink
do more of the work than in ``tail``; ``engine.bulk_share`` measures how
much.

Both workloads time a fixed number of epochs sized from ``--seconds`` and
check every table they wrote against ``oracle.apply_events_pandas``.
"""

from __future__ import annotations

import glob
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import types as T

from cdcbench import inputs, log, procstat
from nvimagecodec_spark.config import EngineConfig
from nvimagecodec_spark.lakehouse import incremental
from nvimagecodec_spark.lakehouse.table import LakeTable
from nvimagecodec_spark.operators.lww import lww_dedupe
from nvimagecodec_spark.operators.schema_events import reextract_payloads, split_schema_events
from nvimagecodec_spark.sources.avro_sobj import AVRO_B64_PREFIX
from nvimagecodec_spark.sources.changelog import parse_changes, with_lineage
from nvimagecodec_spark.sources.generator import generate_change_events
from nvimagecodec_spark.streaming import engine as engine_mod
from nvimagecodec_spark.streaming.engine import CdcEngine

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
KEYS = ["conv_id", "turn_idx"]
BUCKETS = 16

TAIL_PRELOAD_EVENTS = 4_000  # the first epoch: loads the table, warms up
TAIL_EPOCH_EVENTS = 2_000
TAIL_CONVS = 400
TAIL_EPOCH_S = 9.0  # wall time of one tail epoch after the pre-load, on 4 vCPUs
# epochs the generated frame covers whatever the window: traced and untraced
# runs of one seed then apply the same first epochs
TAIL_FRAME_EPOCHS = 12

BACKFILL_FILE_EVENTS = 8_000  # one backlog file = one epoch (before the generator's duplicates)
BACKFILL_EPOCH_S = 12.0  # wall time of one backfill epoch after the warm-up, on 4 vCPUs
# the warm-up file: the same generator settings (hot keys, duplicates,
# disorder, schema events, bad lines), half the size
BACKFILL_WARMUP_EVENTS = 4_000
BACKFILL_MALFORMED = 12

TRACED_EPOCHS = 2  # traced epochs whose counts are reported (exact per seed)
LOOKUPS = 6
CHANGE_READS = 3
ISOLATED_REPS = 2
STALL_S = 150.0


@dataclass
class Epoch:
    """One timed epoch of either workload."""

    label: str
    events: int
    start: float  # input published (tail); run_stream called or the previous commit (backfill)
    commit: float = 0.0  # post_epoch hook fired
    traced: bool = False
    lineage: dict = field(default_factory=dict)
    table: LakeTable | None = None
    meta_bytes: int = 0  # metadata bytes this epoch added (traced runs)
    commits: int = 1  # snapshots this epoch committed
    prev_commit: float = 0.0  # commit of the epoch before it, warm-up included
    metadata_json: int = 0  # size of the table's metadata file after the commit
    added: tuple[int, int, int] = (0, 0, 0)  # rows, files, bytes of added data files
    file: str = ""  # the input file this epoch applied


class Run:
    """State and metrics shared by both workloads."""

    def __init__(self, spark, workdir: str, seed: int, seconds: float, tracer, t_proc: float):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        # The window is a fixed amount of work sized from --seconds, so a
        # seed always times the same epochs whatever the host's load.
        self.seconds = seconds
        self.tracer = tracer
        self.t_proc = t_proc
        self.stage_s = 0.0
        self.timed: list[Epoch] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.t0 = self.t1 = 0.0
        self.grown_bytes = 0  # bytes the timed epochs added under the table dir
        self.cpu0 = self.cpu1 = 0.0
        self.jit_cpu0 = self.jit_cpu1 = 0.0  # of the JVM's JIT compiler threads
        self.steal0 = self.steal1 = 0.0  # host CPU time stolen by other guests
        self.jvm = procstat.JvmClock(spark)
        self.gc0 = self.gc1 = 0.0
        self.peak_rss_mb = 0.0
        self.isolated: dict[str, float] = {}
        self.reads: dict[str, list[float]] = {"lookup": [], "lookup_jobs": [], "changes": []}
        self.live_files: list[dict] = []

    # ------------------------------------------------------------ window
    def open_window(self) -> None:
        self.t0 = time.time()
        self.cpu0, self.jit_cpu0 = procstat.tree_cpu_s(), procstat.tree_jit_cpu_s()
        self.steal0 = procstat.host_steal_s()
        if self.tracer:
            self.gc0 = self.jvm.gc_s()

    def close_window(self) -> None:
        self.t1 = time.time()
        self.cpu1, self.jit_cpu1 = procstat.tree_cpu_s(), procstat.tree_jit_cpu_s()
        self.steal1 = procstat.host_steal_s()
        self.peak_rss_mb = procstat.tree_peak_rss_mb()
        if self.tracer:
            self.gc1 = self.jvm.gc_s()

    def settle(self) -> None:
        """After the window, before anything rewrites the tables: record the
        data files each timed unit's commit added."""
        for e in self.timed:
            e.added = added_rows(e)
        counted = [e for e in self.counted() if "snapshot_id" in e.lineage]
        if counted:
            last = counted[-1]
            self.live_files = list(last.table.snapshot(last.lineage["snapshot_id"]).files)

    # ------------------------------------------------------------ results
    def end_to_end(self) -> dict[str, float]:
        """The bounded metrics, then the window's timings (reported by the
        traced run; here they only go to standard error)."""
        if not self.timed:
            return {}
        events = sum(e.events for e in self.timed)
        written = sum(e.added[0] for e in self.timed)
        changed = sum((e.lineage.get("upserts") or 0) + (e.lineage.get("deletes") or 0) for e in self.timed)
        return {
            "setup_s": self.t0 - self.t_proc - self.stage_s,
            "write_amp": written / max(changed, 1),
            "bytes_written_per_event": self.grown_bytes / events,
            "peak_rss_mb": self.peak_rss_mb,
            **self.window_times(self.timed),
        }

    def window_times(self, epochs: list[Epoch]) -> dict[str, float]:
        """Wall time of ``epochs`` and CPU of the whole window. The CPU of
        the JVM's JIT compiler threads is reported apart: it is half the
        window's CPU and still falling when the window opens."""
        kevents = sum(e.events for e in self.timed) / 1e3
        walls = [e.commit - e.start for e in epochs]
        jit = self.jit_cpu1 - self.jit_cpu0
        return {
            "window.epoch_p50_s": statistics.median(walls),
            "window.events_per_s": sum(e.events for e in epochs) / sum(walls),
            "window.cpu_s_per_kevent": (self.cpu1 - self.cpu0 - jit) / kevents,
            "window.jit_cpu_s_per_kevent": jit / kevents,
        }

    def counted(self) -> list[Epoch]:
        """The traced epochs whose counts are reported: the first
        TRACED_EPOCHS, so two traced runs of one seed count the same work."""
        return [e for e in self.timed if e.traced][:TRACED_EPOCHS]

    def per_layer(self) -> dict[str, float]:
        tr = self.tracer
        traced = [e for e in self.timed if e.traced]
        labels = {e.label for e in traced}
        counted = self.counted()
        plain = [e for e in self.timed if not e.traced]
        if not counted or not plain or not self.isolated:
            return {}
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        dur = lambda name: [s.end - s.start for s in tr.of(name, labels)]  # noqa: E731

        apply_idx = [i for i, s in enumerate(tr.spans) if s.name == "engine.apply_epoch" and s.batch in labels]
        pre_write = []
        for label in labels:
            merges = [s.end - s.start for s in tr.of("merge.merge_into", {label})]
            writes = [s.end - s.start for s in tr.of("table.replace_buckets", {label})]
            if merges:
                pre_write.append(sum(merges) - sum(writes))
        entry = {s.batch: s.start for s in tr.of("engine.apply_epoch", labels)}
        pickup = [entry[e.label] - e.start for e in traced if e.label in entry]
        between = [entry[e.label] - e.prev_commit for e in traced if e.label in entry and e.prev_commit]
        jobs_tasks = [tr.jobs_and_tasks(e.label) for e in counted]
        rows_files_bytes = [e.added for e in counted]
        strategies = [e.lineage.get("strategy") for e in counted]
        per_bucket: dict[int, int] = {}
        for f in self.live_files:
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
        n_counted = len(counted)
        traced_wall = [e.commit - e.start for e in traced]
        plain_wall = [e.commit - e.start for e in plain]
        counted_labels = {e.label for e in counted}
        bulk_s = self.isolated["parse_s"] + self.isolated["dedupe_s"] + sum(
            s.end - s.start for s in tr.of("schema_events.apply", counted_labels)
        )
        return {
            "engine.apply_epoch_p50_s": med(dur("engine.apply_epoch")),
            "engine.apply_epoch_self_p50_s": med([tr.self_time(i) for i in apply_idx]),
            "engine.between_epochs_p50_s": med(between),
            "engine.pickup_p50_s": med(pickup),
            "engine.spark_jobs_per_epoch": sum(j for j, _ in jobs_tasks) / n_counted,
            "engine.spark_tasks_per_epoch": sum(t for _, t in jobs_tasks) / n_counted,
            "engine.bulk_share": bulk_s / sum(e.commit - e.start for e in counted),
            "sources.parse_s_per_kevent": self.isolated["parse"],
            "sources.avro_parse_s_per_kevent": self.isolated["avro_parse"],
            "sources.dead_letters": sum(e.lineage.get("dead_letters") or 0 for e in counted),
            "lww.dedupe_s_per_kevent": self.isolated["dedupe"],
            "lww.survivor_ratio": self.isolated["survivor_ratio"],
            "schema_events.apply_s": med(dur("schema_events.apply")),
            "schema_events.reextract_s": self.isolated["reextract"],
            "merge.merge_into_p50_s": med(dur("merge.merge_into")),
            "merge.pre_write_p50_s": med(pre_write),
            "merge.epochs_broadcast": strategies.count("broadcast"),
            "merge.epochs_sort_merge": strategies.count("sort-merge"),
            "merge.epochs_initial_load": strategies.count("initial-load"),
            "table.replace_buckets_p50_s": med(dur("table.replace_buckets")),
            "table.refresh_p50_s": med(dur("table.refresh")),
            "table.has_commit_tag_p50_s": med(dur("table.has_commit_tag")),
            "table.expire_snapshots_s": self.isolated["expire"],
            "table.rows_rewritten_per_epoch": sum(r for r, _, _ in rows_files_bytes) / n_counted,
            "table.files_written_per_epoch": sum(f for _, f, _ in rows_files_bytes) / n_counted,
            "table.data_bytes_per_epoch": sum(b for _, _, b in rows_files_bytes) / n_counted,
            "table.metadata_bytes_per_commit": sum(e.meta_bytes for e in counted)
            / max(sum(e.commits for e in counted), 1),
            "table.metadata_json_bytes_end": counted[-1].metadata_json,
            "table.live_files": len(self.live_files),
            "table.max_files_per_bucket": max(per_bucket.values(), default=0),
            "table.lookup_p50_s": med(self.reads["lookup"]),
            "table.lookup_spark_jobs": sum(self.reads["lookup_jobs"]) / max(len(self.reads["lookup_jobs"]), 1),
            "incremental.read_changes_p50_s": med(self.reads["changes"]),
            "incremental.changed_buckets_p50_s": med([s.end - s.start for s in tr.of("incremental.changed_buckets")]),
            "jvm.gc_s_per_epoch": (self.gc1 - self.gc0) / len(self.timed),
            "jvm.jit_s_in_window": self.jit_cpu1 - self.jit_cpu0,
            "trace.overhead_share": med(traced_wall) / med(plain_wall) - 1.0,
            **self.window_times(plain),
        }

    # ------------------------------------------------------------ traced extras
    def install_tracing(self) -> None:
        tr = self.tracer
        tr.patch(CdcEngine, "apply_epoch", "engine.apply_epoch")
        tr.patch(engine_mod, "merge_into", "merge.merge_into")
        tr.patch(engine_mod, "apply_schema_events", "schema_events.apply")
        tr.patch(engine_mod, "reextract_payloads", "schema_events.reextract")
        tr.patch(LakeTable, "replace_buckets", "table.replace_buckets")
        tr.patch(LakeTable, "refresh", "table.refresh")
        tr.patch(LakeTable, "has_commit_tag", "table.has_commit_tag")
        tr.patch(incremental, "changed_buckets", "incremental.changed_buckets")

    def isolated_layers(self, files: list[str], table: LakeTable, n_events: int) -> None:
        """Parse and dedupe forced alone (noop sink) on the timed files, then
        one snapshot expiry and one payload re-extraction of the final table."""
        spark, tr = self.spark, self.tracer
        tr.active, tr.batch = True, "isolated"

        def force(df) -> float:
            t = time.time()
            df.write.format("noop").mode("overwrite").save()
            return time.time() - t

        raw = spark.read.text(files)
        parsed = lambda r: parse_changes(with_lineage(r), keep_dead=True)  # noqa: E731
        avro_raw = raw.where(raw.value.startswith(AVRO_B64_PREFIX))
        n_avro = avro_raw.count()
        data, _ = split_schema_events(parsed(raw).where("src_format IS NOT NULL AND op IS NOT NULL"))
        deduped = lww_dedupe(data)
        parse = statistics.median(force(parsed(raw)) for _ in range(ISOLATED_REPS))
        avro = statistics.median(force(parsed(avro_raw)) for _ in range(ISOLATED_REPS))
        dedupe = statistics.median(force(deduped) for _ in range(ISOLATED_REPS))
        n_data = data.count()
        self.isolated.update(
            parse=parse / (n_events / 1e3),
            avro_parse=avro / (max(n_avro, 1) / 1e3),
            dedupe=(dedupe - parse) / (n_events / 1e3),
            parse_s=parse,
            dedupe_s=dedupe - parse,
            survivor_ratio=deduped.count() / max(n_data, 1),
        )
        t = time.time()
        tr.span("table.expire_snapshots", table.expire_snapshots, keep_last=2)
        self.isolated["expire"] = time.time() - t
        t = time.time()
        tr.span("schema_events.reextract", reextract_payloads, table)
        self.isolated["reextract"] = time.time() - t
        tr.active = False

    def read_phase(self, table: LakeTable, oracle: list[dict], frame: pd.DataFrame, pairs) -> None:
        """Point lookups on the hottest keys (live and tombstoned), each
        checked against the oracle row, and change reads over commits."""
        tr = self.tracer
        tr.active = True
        data = frame[frame["op"] != "S"]
        hot = data.groupby(["conv_id", "turn_idx"]).size().sort_values(ascending=False, kind="stable")
        by_key = {(r["conv_id"], r["turn_idx"]): r for r in oracle}
        keys = [(c, int(t)) for c, t in hot.index]
        chosen = [k for k in keys if k in by_key][: LOOKUPS - 2] + [k for k in keys if k not in by_key][:2]
        for i, (conv, turn) in enumerate(chosen):
            tr.batch = f"lookup{i}"
            self.attempted += 1
            t = time.time()
            try:
                rows = tr.span("table.lookup", lambda: table.lookup(conv_id=conv, turn_idx=turn).collect())
            except Exception as exc:  # noqa: BLE001 — a failed read is counted, not fatal
                self.failed += 1
                self.problems.append(f"lookup {conv}/{turn}: {exc!r}")
                continue
            self.reads["lookup"].append(time.time() - t)
            self.reads["lookup_jobs"].append(tr.jobs_and_tasks(tr.batch)[0])
            got = inputs.canon(pd.DataFrame([r.asDict() for r in rows]))
            want = by_key.get((conv, turn))
            ok = got == ([want] if want else [])
            if not ok:
                self.problems.append(f"lookup {conv}/{turn}: {rows} != oracle {want}")
        for i, (lo, hi, tbl) in enumerate(pairs):
            tr.batch = f"changes{i}"
            self.attempted += 1
            t = time.time()
            try:
                tr.span(
                    "incremental.read_changes",
                    lambda: incremental.read_changes(tbl, lo, hi).write.format("noop").mode("overwrite").save(),
                )
            except Exception as exc:  # noqa: BLE001
                self.failed += 1
                self.problems.append(f"read_changes {lo}->{hi}: {exc!r}")
                continue
            self.reads["changes"].append(time.time() - t)
        tr.active = False


def added_rows(e: Epoch) -> tuple[int, int, int]:
    """(rows, files, bytes) of the data files the epoch's commit added."""
    sid = e.lineage.get("snapshot_id")
    if sid is None:
        return 0, 0, 0
    snap = e.table.snapshot(sid)
    before = {f["path"] for f in e.table.snapshot(snap.parent_id).files} if snap.parent_id else set()
    added = [f for f in snap.files if f["path"] not in before]
    size = sum(os.path.getsize(os.path.join(e.table.path, f["path"])) for f in added)
    return sum(f.get("rows", 0) for f in added), len(added), size


def metadata_json_bytes(table_path: str) -> int:
    """Size of the newest ``v*.metadata.json`` (the table's commit log)."""
    versions = sorted(glob.glob(os.path.join(table_path, "metadata", "v*.metadata.json")))
    return os.path.getsize(versions[-1]) if versions else 0


def metadata_bytes(table_path: str) -> int:
    return procstat.dir_bytes(os.path.join(table_path, "metadata"))


def new_table(spark, path: str) -> LakeTable:
    return LakeTable.create(spark, path, SCHEMA, KEYS, bucket_count=BUCKETS)


# ---------------------------------------------------------------- workloads
def run_tail(run: Run) -> list[tuple[LakeTable, pd.DataFrame]]:
    """Closed-loop one-file epochs; returns the table and the applied events."""
    spark, tr, wd = run.spark, run.tracer, run.workdir
    t = time.time()
    timed = max(1, int(run.seconds // TAIL_EPOCH_S))
    if tr:  # at least four epochs, traced and untraced in turn
        timed = max(4, 2 * timed)
    epochs = 1 + timed  # the pre-load epoch first
    n = TAIL_PRELOAD_EVENTS + TAIL_EPOCH_EVENTS * max(epochs - 1, TAIL_FRAME_EPOCHS)
    frame = generate_change_events(n_events=n, n_convs=TAIL_CONVS, seed=run.seed, with_schema_events=False)
    bounds = [0] + [TAIL_PRELOAD_EVENTS + TAIL_EPOCH_EVENTS * i for i in range(epochs)]
    chunks = [frame.iloc[a:b] for a, b in zip(bounds, bounds[1:])]
    hold, src = os.path.join(wd, "hold"), os.path.join(wd, "src")
    os.makedirs(hold)
    os.makedirs(src)
    names = [f"epoch-{i:05d}.cdc" for i in range(len(chunks))]
    for i, (name, chunk) in enumerate(zip(names, chunks)):
        inputs.encode_file(chunk, os.path.join(hold, name), mtime=1.7e9 + i)
    run.stage_s = time.time() - t
    log(f"staged in {run.stage_s:.2f}s")

    first_timed = 1
    table = new_table(spark, os.path.join(wd, "table"))
    done = threading.Event()
    state = {"published": 0, "committed": 0, "progress": time.time(), "prev_commit": 0.0}
    pending: dict[int, Epoch] = {}

    def publish(i: int) -> None:
        # traced (T) and untraced (U) epochs go T U U T ...: the warm-up
        # trend then weighs on both sides of trace.overhead_share alike
        traced = bool(tr) and i >= first_timed and (i - first_timed) % 4 in (0, 3)
        if tr:
            tr.active, tr.batch = traced, str(i)
        epoch = Epoch(str(i), len(chunks[i]), time.time(), traced=traced, table=table,
                      prev_commit=state["prev_commit"], file=os.path.join(src, names[i]))
        if traced:
            epoch.meta_bytes = -metadata_bytes(table.path)
            epoch.commits = -table.current_snapshot().snapshot_id
        if i >= first_timed:
            pending[i] = epoch
        run.attempted += 1
        os.rename(os.path.join(hold, names[i]), epoch.file)
        state["published"] = i + 1

    def on_commit(_engine, batch_id: int) -> None:
        now = time.time()
        try:
            state["committed"] = batch_id + 1
            state["progress"] = state["prev_commit"] = now
            if batch_id in pending:
                epoch = pending.pop(batch_id)
                epoch.commit = now
                if epoch.traced:
                    epoch.meta_bytes += metadata_bytes(table.path)
                    epoch.commits += table.current_snapshot().snapshot_id
                    epoch.metadata_json = metadata_json_bytes(table.path)
                run.timed.append(epoch)
            nxt = batch_id + 1
            if nxt == first_timed:
                run.grown_bytes = -procstat.dir_bytes(table.path)
                run.open_window()
                log(f"window opened after {nxt} epochs")
            if nxt < len(chunks):
                publish(nxt)
                return
            run.close_window()
            run.grown_bytes += procstat.dir_bytes(table.path)
            done.set()
        except Exception as exc:  # noqa: BLE001 — must not kill the stream silently
            run.problems.append(f"feeder: {exc!r}")
            done.set()

    engine = CdcEngine(spark, table, source_id="tail", checkpoint_dir=os.path.join(wd, "ck"), post_epoch=on_commit)
    query = engine.run_stream(src, max_files_per_trigger=1, trigger_interval="0 seconds")
    try:
        publish(0)
        while not done.wait(0.5):
            if not query.isActive or time.time() - state["progress"] > STALL_S:
                break
    finally:
        query.stop()
    if not done.is_set() or state["committed"] < len(chunks):
        run.failed += len(chunks) - state["committed"]
        run.problems.append(f"stream stopped after {state['committed']} of {len(chunks)} epochs: {query.exception()}")
    lineage = {r["batch_id"]: r for r in engine.lineage()}
    for epoch in run.timed:
        epoch.lineage = lineage.get(int(epoch.label), {})
    run.settle()
    applied = pd.concat(chunks[: state["committed"]]) if state["committed"] else frame.iloc[:0]
    if tr and run.counted():
        oracle = inputs.canon_oracle(applied)
        pairs = [(snap_parent(table, e), e.lineage["snapshot_id"], table) for e in run.timed[-CHANGE_READS:]]
        run.read_phase(table, oracle, applied, pairs)
        counted = run.counted()
        run.isolated_layers([e.file for e in counted], table, sum(e.events for e in counted))
    return [(table, applied)]


def run_backfill(run: Run) -> list[tuple[LakeTable, pd.DataFrame]]:
    """A backlog of large files applied by one stream, one file per epoch,
    into a fresh table, after a smaller file of the same kind has warmed up
    a throwaway table."""
    spark, tr, wd = run.spark, run.tracer, run.workdir
    t = time.time()
    n_files = max(1, int(run.seconds // BACKFILL_EPOCH_S))
    frame = generate_change_events(n_events=BACKFILL_FILE_EVENTS * n_files, seed=run.seed)
    # the generator adds duplicates on top of n_events: split all its rows
    bounds = [len(frame) * i // n_files for i in range(n_files + 1)]
    chunks = [frame.iloc[a:b] for a, b in zip(bounds, bounds[1:])]
    junk = inputs.malformed_lines(run.seed, BACKFILL_MALFORMED)
    per_file = len(junk) // n_files
    backlog, warm = os.path.join(wd, "backlog"), os.path.join(wd, "warm")
    os.makedirs(backlog)
    os.makedirs(warm)
    files = [os.path.join(backlog, f"backlog-{i:05d}.cdc") for i in range(n_files)]
    for i, (path, chunk) in enumerate(zip(files, chunks)):
        inputs.encode_file(chunk, path, mtime=1.7e9 + i, junk=junk[i * per_file : (i + 1) * per_file])
    warm_frame = generate_change_events(n_events=BACKFILL_WARMUP_EVENTS, seed=run.seed + 1)
    warm_file = os.path.join(warm, "warm-00000.cdc")
    inputs.encode_file(warm_frame, warm_file, mtime=1.7e9, junk=junk[:per_file])
    run.stage_s = time.time() - t
    log(f"staged in {run.stage_s:.2f}s")

    out: list[tuple[LakeTable, pd.DataFrame]] = []
    # a traced run applies the backlog twice, traced then untraced
    streams = ["warm"] + (["traced", "plain"] if tr else ["plain"])
    for k, kind in enumerate(streams):
        source = warm if kind == "warm" else backlog
        if kind != "warm" and not run.timed and not run.t0:
            run.open_window()
            log("window opened after the warm-up epoch")
        table = new_table(spark, os.path.join(wd, f"table-{k}"))
        inputs_of = [(warm_file, warm_frame)] if kind == "warm" else list(zip(files, chunks))
        epochs = [
            Epoch(f"s{k}e{i}", len(events), 0.0, traced=kind == "traced", table=table, file=path)
            for i, (path, events) in enumerate(inputs_of)
        ]  # the warm-up stream's one epoch is never timed
        marks = {"meta": metadata_bytes(table.path), "snap": table.current_snapshot().snapshot_id}

        def on_commit(_engine, batch_id: int, epochs=epochs, table=table, marks=marks) -> None:
            now = time.time()
            e = epochs[batch_id]
            e.commit = now
            if batch_id + 1 < len(epochs):
                epochs[batch_id + 1].start = epochs[batch_id + 1].prev_commit = now
                if tr:
                    tr.batch = epochs[batch_id + 1].label
            if e.traced:
                meta, snap = metadata_bytes(table.path), table.current_snapshot().snapshot_id
                e.meta_bytes, e.commits = meta - marks["meta"], snap - marks["snap"]
                marks.update(meta=meta, snap=snap)
                e.metadata_json = metadata_json_bytes(table.path)

        engine = CdcEngine(
            spark, table, source_id="backfill", config=EngineConfig(dead_letter_dir=os.path.join(wd, f"dead-{k}")),
            checkpoint_dir=os.path.join(wd, f"ck-{k}"), post_epoch=on_commit,
        )
        if tr:
            tr.active, tr.batch = kind == "traced", epochs[0].label
        size0 = procstat.dir_bytes(table.path)
        expected = len(epochs)
        run.attempted += expected
        epochs[0].start = time.time()
        try:
            engine.run_stream(source, max_files_per_trigger=1)
        except Exception as exc:  # noqa: BLE001 — counted and reported, not fatal
            run.problems.append(f"{kind} stream: {exc!r}")
        if tr:
            tr.active = False
        lineage = {r["batch_id"]: r for r in engine.lineage()}
        committed = [e for e in epochs if e.commit]
        run.failed += expected - len(committed)
        if len(committed) < expected:
            run.problems.append(f"{kind} stream: {len(committed)} of {expected} epochs committed")
        if kind == "warm":
            out.append((table, warm_frame if committed else warm_frame.iloc[:0]))
            continue
        out.append((table, frame if len(committed) == n_files else pd.concat([frame.iloc[:0], *chunks[: len(committed)]])))
        for i, e in enumerate(committed):
            e.lineage = lineage.get(i, {})
            run.timed.append(e)
        run.grown_bytes += procstat.dir_bytes(table.path) - size0
    if run.t0:
        run.close_window()
    run.settle()
    if tr and run.counted():
        last = out[-1][0]
        pairs = [(snap_parent(e.table, e), e.lineage["snapshot_id"], e.table) for e in run.timed[-CHANGE_READS:]]
        run.read_phase(last, inputs.canon_oracle(out[-1][1]), out[-1][1], pairs)
        counted = run.counted()
        run.isolated_layers([e.file for e in counted], last, sum(e.events for e in counted))
    return out


def snap_parent(table: LakeTable, e: Epoch) -> int:
    return table.snapshot(e.lineage["snapshot_id"]).parent_id


WORKLOADS = {"tail": run_tail, "backfill": run_backfill}
