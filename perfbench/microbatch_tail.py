"""microbatch_tail: one caller drains a backlog of small landed files
through the streaming ingest into a merge-on-read table, one file per
trigger, and point-reads each batch's keys between commits.

Setup preloads the MOR table with `max_delta_depth`
set so inline compaction fires in fewer than one commit in ten. Then
`streaming.pipeline.start_ingest` (availableNow, max_files_per_trigger=1)
drains the landed files; each updates, deletes or re-inserts 500
zipf-skewed keys. The benchmark's `on_commit` hook stamps each commit,
then reads a seeded sample of that batch's keys with `read_keys`, timed
apart from the commit.

The fixed cost per commit dominates, not shuffle volume; reads beside
writes expose the MOR read-amplification trade, and inline compaction
lands in `events_per_s` and the commit tail.

The backlog is a fixed number of files rather than a time box: a
compaction then lands on the same commits in every run, so runs compare.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from harness import (
    Ctx, Outcome, StageStats, Tracer, jvm_layer, median, parquet_rows, read_keys_sha, snapshot_files,
)

SIZES = {
    # 6k keys x 5 versions: versions 0-1 are the preload, later ones are
    # landed 500 events per file: 1 warm-up file + 24 timed, so the tail
    # percentile (10 commits beyond it) is p58.3. The preload leaves
    # delta depth 1 in every bucket and each file touches every bucket,
    # so inline compaction (depth > 12) fires at epochs 11 and 24 (2 of
    # 25 commits); the second lies in the traced last 10 of a traced run
    "full": {
        "n_keys": 6_000, "versions": 5, "preload_versions": 2, "batch": 500,
        "warm": 1, "timed": 24, "traced": 10, "n_buckets": 8, "max_delta_depth": 12,
        "sample": 4,
    },
    "tiny": {
        "n_keys": 400, "versions": 5, "preload_versions": 2, "batch": 100,
        "warm": 1, "timed": 4, "traced": 2, "n_buckets": 4, "max_delta_depth": 4, "sample": 4,
    },
}


@dataclass
class State:
    table: object
    landing: str
    files: list[str]
    #: the landed files' contents (pyarrow tables), in log order
    slices: list
    #: per landed file: its repo_files events (pandas) and the read sample
    file_events: list = field(default_factory=list)
    samples: list = field(default_factory=list)
    #: the generated stream (lazy) and its pandas preload slice
    events: object = None
    preload_events: object = None


@dataclass
class Batch:
    epoch: int
    #: from the previous batch's hook end (or the query start) to the commit
    latency: float
    read_s: float
    read: dict
    metrics: dict
    end: float = 0.0
    prefix_s: float = 0.0


def setup(ctx: Ctx) -> State:
    """Preload the MOR table and land the backlog (one parquet file per
    micro-batch)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.synth import generate_events

    z = ctx.size
    n_files = z["warm"] + z["timed"]
    pre_end = z["preload_versions"] * z["n_keys"]
    if pre_end + n_files * z["batch"] > z["n_keys"] * z["versions"]:
        raise ValueError("tail size: backlog exceeds the generated versions")
    events = generate_events(
        ctx.spark, n_keys=z["n_keys"], versions_per_key=z["versions"], n_repos=50,
        seed=ctx.seed,
    )
    table = IcebergLiteTable(
        ctx.path("tail", "table"), n_buckets=z["n_buckets"], write_mode="mor",
        max_delta_depth=z["max_delta_depth"],
    )
    replay(events.filter(F.col("seq") < pre_end), table, batch_id="preload", tables=["repo_files"])

    # land with pyarrow: one collect, then one file per micro-batch,
    # modification times in log order (the file source's backlog order)
    backlog = events.filter(
        (F.col("seq") >= pre_end) & (F.col("seq") < pre_end + n_files * z["batch"])
    ).orderBy("seq").toArrow()
    landing = ctx.path("tail", "landing")
    os.makedirs(landing, exist_ok=True)
    files, slices = [], []
    base = time.time() - n_files - 10
    for i in range(n_files):
        dst = os.path.join(landing, f"batch-{i:05d}.parquet")
        part = backlog.slice(i * z["batch"], z["batch"])
        pq.write_table(part, dst)
        os.utime(dst, (base + i, base + i))
        files.append(dst)
        slices.append(part)
    return State(table=table, landing=landing, files=files, slices=slices, events=events)


def prepare(ctx: Ctx, st: State) -> State:
    """Load the oracle's inputs and pick each batch's seeded read sample."""
    from pyspark.sql import functions as F

    z = ctx.size
    pre_end = z["preload_versions"] * z["n_keys"]
    st.preload_events = st.events.filter(
        (F.col("seq") < pre_end) & (F.col("table") == "repo_files")
    ).toPandas()
    for i, part in enumerate(st.slices):
        pdf = part.to_pandas()
        pdf = pdf[pdf["table"] == "repo_files"]
        st.file_events.append(pdf)
        keys = sorted({_key(r) for r in pdf.itertuples()})
        rng = random.Random(ctx.seed * 1_000_003 + i)
        st.samples.append(sorted(rng.sample(keys, min(z["sample"], len(keys)))))
    return st


def _key(r) -> tuple[str, str]:
    img = r.after if r.after is not None else r.before
    return img["repo"], img["path"]


def expected_read(state: dict, keys) -> dict:
    """What a point read of `keys` must return given the oracle state."""
    return {
        k: hashlib.sha256((state[k].get("content") or "").encode()).hexdigest()
        for k in keys if k in state
    }


def check(st: State, batches: list[Batch], checksum: list[tuple] | None, out: Outcome) -> None:
    """Every point read must equal the oracle state after its commit, the
    final table checksum must equal the oracle's, and every landed file
    must have been committed."""
    from bingo2sql_spark import oracle

    state = oracle.sequential_apply(st.preload_events)
    by_epoch = {b.epoch: b for b in batches}
    for e in range(len(st.files)):
        state = oracle.sequential_apply(st.file_events[e], initial=state)
        b = by_epoch.get(e)
        if b is None:
            out.op(False, f"batch {e} never committed")
            out.op(False)
            continue
        want = expected_read(state, st.samples[e])
        out.op(not b.metrics.get("skipped"), f"batch {e} commit skipped")
        out.op(b.read == want, f"batch {e} read differs from oracle")
    if checksum is not None and checksum != oracle.state_checksum(state):
        out.op(False, "final state_checksum differs from oracle")
    else:
        out.op(checksum is not None, "final state_checksum unavailable")


def drain(
    ctx: Ctx, st: State, batches: list[Batch], tr: Tracer | None = None,
    trace_from: int | None = None,
) -> None:
    """Drain the backlog through start_ingest, appending the stamped
    batches. With a tracer, batches from epoch `trace_from` on are traced."""
    from bingo2sql_spark.streaming.pipeline import start_ingest

    prev_end = [time.perf_counter()]

    def on_commit(table, m) -> None:
        now = time.perf_counter()
        e = int(m["epoch_id"])
        traced = tr is not None and tr.enabled
        t0 = time.perf_counter()
        if traced:
            with tr.span("apply.read_keys"):
                got = read_keys_sha(ctx.spark, table, st.samples[e])
        else:
            got = read_keys_sha(ctx.spark, table, st.samples[e])
        b = Batch(e, now - prev_end[0], time.perf_counter() - t0, got, m)
        if traced:
            t1 = time.perf_counter()
            _prefix_spans(ctx, st.files[e], tr)
            b.prefix_s = time.perf_counter() - t1
        if tr is not None and trace_from is not None and e + 1 >= trace_from:
            tr.enabled = True
        batches.append(b)
        prev_end[0] = b.end = time.perf_counter()

    if tr is not None:
        tr.enabled = trace_from == 0
    q = start_ingest(
        ctx.spark, st.landing, st.table, ctx.path("tail", "checkpoint"),
        available_now=True, max_files_per_trigger=1, on_commit=on_commit,
        tables=["repo_files"],
    )
    try:
        q.awaitTermination()
    finally:
        if q.isActive:
            q.stop()


def _drain_checked(ctx: Ctx, st: State, tr: Tracer | None = None, trace_from: int | None = None):
    """drain, with a failed query counted against the batches it left
    uncommitted instead of aborting the run."""
    batches: list[Batch] = []
    t0 = time.perf_counter()
    try:
        drain(ctx, st, batches, tr, trace_from)
    except Exception as e:  # the check below counts what is missing
        print(f"microbatch_tail: ingest failed: {e!r}", file=sys.stderr)
    try:
        checksum = st.table.state_checksum(ctx.spark)
    except Exception as e:
        print(f"microbatch_tail: checksum failed: {e!r}", file=sys.stderr)
        checksum = None
    t1 = time.perf_counter()
    out = _outcome(ctx, st, batches)
    check(st, batches, checksum, out)
    print(f"perfbench: drain {t1 - t0:.1f}s check {time.perf_counter() - t1:.1f}s", file=sys.stderr)
    return batches, out


def _prefix_spans(ctx: Ctx, path: str, tr: Tracer) -> None:
    """The batch's path up to each layer, re-run over its landed file."""
    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.pipeline import project_upserts

    scan = ctx.spark.read.schema(S.ENVELOPE).parquet(path)
    tr.prefix("scan", scan)
    fil = FL.apply_filters(scan, tables=["repo_files"])
    tr.prefix("filters", fil)
    tr.prefix("resolve", project_upserts(R.with_key(fil.filter(F.col("op") != S.OP_DDL))))


def _outcome(ctx: Ctx, st: State, batches: list[Batch]) -> Outcome:
    z = ctx.size
    out = Outcome()
    timed = [b for b in batches if b.epoch >= z["warm"]]
    warm_end = max((b.end for b in batches if b.epoch < z["warm"]), default=None)
    if timed and warm_end is not None:
        out.timed_s = timed[-1].end - warm_end
        out.read_time_s = sum(b.read_s + b.prefix_s for b in timed)
        out.events = len(timed) * z["batch"]  # every landed event is consumed
        out.commit_lat = [b.latency for b in timed]
        out.read_lat = [b.read_s for b in timed]
    print("perfbench: commit s " + " ".join(f"{b.latency:.2f}" for b in batches)
          + " | read s " + " ".join(f"{b.read_s:.2f}" for b in batches), file=sys.stderr)
    return out


def run(ctx: Ctx, st: State, _exp: State, seconds: float) -> Outcome:
    return _drain_checked(ctx, st)[1]


def trace(ctx: Ctx, st: State, _exp: State, seconds: float, tr: Tracer) -> tuple[Outcome, dict]:
    """The last `traced` timed batches traced, the ones before untraced."""
    from bingo2sql_spark.operators.apply import bucket_col

    z = ctx.size
    first_traced = z["warm"] + z["timed"] - z["traced"]
    batches, out = _drain_checked(ctx, st, tr, first_traced)

    stats = StageStats(tr.sc)
    plain = [b for b in batches if z["warm"] <= b.epoch < first_traced]
    traced = [b for b in batches if b.epoch >= first_traced]
    commits = tr.named("apply.commit")
    compacts = tr.named("apply.compact")
    reads = tr.named("apply.read_keys")
    scans, fils, ress = tr.named("scan"), tr.named("filters"), tr.named("resolve")
    rows: dict[str, list[float]] = defaultdict(list)

    def put(k: str, v: float) -> None:
        rows[k].append(float(v))

    for b, com, sc, fi, re_ in zip(traced, commits, scans, fils, ress):
        nested = sum(c.wall for c in compacts if c.parent == com.tag)
        put("apply.commit_s", com.wall - nested)
        put("streaming.overhead_s", b.latency - com.wall)
        tot = stats.totals([com.tag])
        put("apply.jobs_per_commit", tot["jobs"])
        put("apply.tasks_per_commit", tot["tasks"])
        put("apply.shuffle_write_bytes", tot["shuffle_write_b"])
        put("apply.shuffle_read_bytes", tot["shuffle_read_b"])
        put("apply.spill_bytes", tot["spill_b"])
        put("apply.buckets_touched", b.metrics.get("buckets_rewritten", 0))
        files = snapshot_files(st.table, b.metrics["snapshot"])
        put("apply.bytes_written", sum(os.path.getsize(f) for f in files))
        put("apply.files_written", len(files))
        changed = len({_key(r) for r in st.file_events[b.epoch].itertuples()})
        put("apply.rows_rewritten_per_changed", parquet_rows(files) / max(changed, 1))
        put("filters.self_s", fi.wall - sc.wall)
        put("filters.rows_in", sc.rows)
        put("filters.rows_out", fi.rows)
        put("resolve.self_s", re_.wall - fi.wall)
        put("streaming.batch_s", b.latency)
    for sp in reads:
        put("apply.read_keys_s", sp.wall)
    for sp in compacts:
        put("apply.compact_s", sp.wall)
    layer = {k: median(v) for k, v in rows.items()}
    layer["apply.delta_depth_max"] = max(
        (b.metrics.get("delta_depth", 0) for b in batches if not b.metrics.get("compacted_to")),
        default=0,
    )
    layer["apply.compactions"] = sum(1 for b in batches if b.metrics.get("compacted_to"))
    layer["streaming.batches"] = len(batches)
    keyed = [(b.epoch, r, p) for b in traced for r, p in st.samples[b.epoch]]
    if keyed:
        per = (
            ctx.spark.createDataFrame(keyed, ["e", "repo", "path"])
            .select("e", bucket_col(z["n_buckets"]).alias("b")).distinct()
            .groupBy("e").count().collect()
        )
        layer["apply.buckets_read_per_lookup"] = median([r["count"] for r in per])
    tags = [s.tag for s in commits + compacts + reads]
    wall = sum(b.latency + b.read_s for b in traced)
    layer.update(jvm_layer(stats, tags, wall, ctx.cores, len(traced)))
    layer["trace.overhead_s"] = median(
        [b.latency + b.read_s + b.prefix_s for b in traced]
    ) - median([b.latency + b.read_s for b in plain])
    return out, layer
