"""bulk_replay: a cold replay of a typed-wire parquet landing into an
empty 64-bucket copy-on-write table.

Path: decode_events_typed -> pipeline.replay (apply_filters, with_key,
project_upserts) -> IcebergLiteTable.commit. Throughput-bound: the
last-writer-wins merge shuffle and the parquet write do the work; the
binary parser and the SQL renderer are never touched.

One unit of work is one replay into a fresh table followed by one point
read (`read_keys`) of a seeded key sample, timed apart.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict
import time
from dataclasses import dataclass

from harness import (
    PREFIX_REPEAT, Ctx, Outcome, StageStats, Tracer, fresh_dir, jvm_layer, median, parquet_rows,
    read_keys_sha, snapshot_files,
)

N_BUCKETS = 64
VERSIONS = 8
SIZES = {
    "full": {"n_keys": 10_000, "sample": 16},
    "tiny": {"n_keys": 300, "sample": 8},
}


@dataclass
class State:
    land: str
    n_events: int


@dataclass
class Expected:
    """The oracle's view of the replayed table."""

    live_count: int
    sample_keys: list[tuple[str, str]]
    #: (repo, path) -> sha256(content) of the live sample keys
    sample_sha: dict[tuple[str, str], str]
    changed_keys: int


def setup(ctx: Ctx) -> State:
    """Generate the landing: 8 versions per key, zipf-skewed repos, and
    a schema_ver 1 -> 2 switch halfway (synth's evolve_frac=0.5)."""
    from bingo2sql_spark.sources.synth import generate_events, to_raw_typed

    n_keys = ctx.size["n_keys"]
    land = ctx.path("bulk", "landing")
    events = generate_events(
        ctx.spark, n_keys=n_keys, versions_per_key=VERSIONS, n_repos=50, seed=ctx.seed
    )
    to_raw_typed(events).write.mode("overwrite").parquet(land)
    return State(land=land, n_events=n_keys * VERSIONS)


def prepare(ctx: Ctx, st: State) -> Expected:
    """Independent oracle: per-key last writer for the live-row count,
    and oracle.sequential_apply over the events of a seeded key sample."""
    from pyspark.sql import functions as F

    from bingo2sql_spark import oracle

    raw = ctx.spark.read.parquet(st.land).filter(F.col("table") == "repo_files")
    keyed = raw.select(
        "seq", "op",
        F.coalesce("after.repo", "before.repo").alias("repo"),
        F.coalesce("after.path", "before.path").alias("path"),
    ).toPandas()
    last = keyed.sort_values("seq").groupby(["repo", "path"]).tail(1)
    live_count = int((last["op"] != "delete").sum())
    keys = sorted(zip(last["repo"], last["path"]))
    sample = sorted(random.Random(ctx.seed).sample(keys, min(ctx.size["sample"], len(keys))))
    paths = [p for _, p in sample]
    ev = raw.filter(F.coalesce("after.path", "before.path").isin(paths)).toPandas()
    state = oracle.sequential_apply(ev)
    return Expected(
        live_count=live_count,
        sample_keys=sample,
        sample_sha={(r, p): h for r, p, h in oracle.state_checksum(state)},
        changed_keys=len(keys),
    )


def check_count(live_count: int, exp: Expected) -> list[str]:
    """A replayed table's live-row count must equal the oracle's exactly."""
    if live_count != exp.live_count:
        return [f"live rows {live_count} != oracle {exp.live_count}"]
    return []


def check_read(sample_read: dict, exp: Expected) -> list[str]:
    """A point read of the key sample must return exactly the oracle's
    live rows (deleted keys absent)."""
    if sample_read != exp.sample_sha:
        diff = set(sample_read.items()) ^ set(exp.sample_sha.items())
        return [f"sample read differs from oracle on {len(diff)} entries"]
    return []


def check_checksum(checksum: list[tuple], exp: Expected) -> list[str]:
    """IcebergLiteTable.state_checksum restricted to the key sample must
    equal oracle.state_checksum of the sample's sequential apply."""
    want = sorted((r, p, h) for (r, p), h in exp.sample_sha.items())
    keys = set(exp.sample_keys)
    got = sorted(t for t in checksum if (t[0], t[1]) in keys)
    return [] if got == want else ["state_checksum differs from oracle on the key sample"]


def _replay(ctx: Ctx, st: State, table_dir: str, batch_id: str):
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.decode import decode_events_typed

    table = IcebergLiteTable(table_dir, n_buckets=N_BUCKETS)
    events = decode_events_typed(ctx.spark.read.parquet(st.land))
    metrics = replay(events, table, batch_id=batch_id, tables=["repo_files"])
    return table, metrics


def _unit(ctx: Ctx, st: State, exp: Expected, i: int, done: list, tr: Tracer | None = None):
    """One replay + one point read; returns (commit_s, read_s)."""
    tdir = fresh_dir(ctx.path("bulk", f"t{i}"))
    t0 = time.perf_counter()
    if tr is None:
        table, m = _replay(ctx, st, tdir, f"bulk-{i}")
    else:
        with tr.span("op"):
            table, m = _replay(ctx, st, tdir, f"bulk-{i}")
    t1 = time.perf_counter()
    if tr is None:
        got = read_keys_sha(ctx.spark, table, exp.sample_keys)
    else:
        with tr.span("apply.read_keys"):
            got = read_keys_sha(ctx.spark, table, exp.sample_keys)
    t2 = time.perf_counter()
    done.append((table, m, got))
    return t1 - t0, t2 - t1


def _check_all(ctx: Ctx, exp: Expected, done: list, out: Outcome) -> None:
    for k, (table, _, got) in enumerate(done):
        try:
            count = table.read(ctx.spark).count()
        except Exception as e:  # a broken table is a failed commit, not a crash
            out.op(False, f"bulk unit {k}: read failed: {e!r}")
            out.op(False)
            continue
        bad = check_count(count, exp)
        if k == len(done) - 1:
            bad += check_checksum(table.state_checksum(ctx.spark), exp)
        out.op(not bad, f"bulk unit {k} commit: {bad}")
        bad_read = check_read(got, exp)
        out.op(not bad_read, f"bulk unit {k} read: {bad_read}")


def run(ctx: Ctx, st: State, exp: Expected, seconds: float) -> Outcome:
    out = Outcome()
    warm: list = []
    _unit(ctx, st, exp, 0, warm)  # JIT and caches; not measured
    done: list = []
    t_start = time.perf_counter()
    i = 1
    while True:
        c, r = _unit(ctx, st, exp, i, done)
        out.commit_lat.append(c)
        out.read_lat.append(r)
        i += 1
        if time.perf_counter() - t_start >= seconds:
            break
    out.timed_s = time.perf_counter() - t_start
    out.read_time_s = sum(out.read_lat)
    out.events = st.n_events * len(done)
    _check_all(ctx, exp, warm + done, out)
    return out


def trace(ctx: Ctx, st: State, exp: Expected, seconds: float, tr: Tracer) -> tuple[Outcome, dict]:
    """Alternate an untraced unit with a traced one until `seconds` pass;
    per-layer numbers are medians over the traced units."""
    from pyspark.sql import functions as F

    from bingo2sql_spark import schema as S
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators import resolve as R
    from bingo2sql_spark.operators.apply import bucket_col
    from bingo2sql_spark.pipeline import project_upserts
    from bingo2sql_spark.sources.decode import decode_events_typed

    out = Outcome()
    done: list = []
    tr.enabled = False
    _unit(ctx, st, exp, 0, done)  # warm-up
    plain, traced, per = [], [], []
    t_start = time.perf_counter()
    i = 1
    while True:
        tr.enabled = False
        c, r = _unit(ctx, st, exp, i, done)
        plain.append(c + r)
        tr.enabled = True
        t0 = time.perf_counter()
        scan = ctx.spark.read.parquet(st.land)
        p_scan = tr.prefix("scan", scan, PREFIX_REPEAT)
        dec = decode_events_typed(scan)
        p_dec = tr.prefix("decode", dec, PREFIX_REPEAT)
        fil = FL.apply_filters(dec, tables=["repo_files"])
        p_fil = tr.prefix("filters", fil, PREFIX_REPEAT)
        res = project_upserts(R.with_key(fil.filter(F.col("op") != S.OP_DDL)))
        p_res = tr.prefix("resolve", res, PREFIX_REPEAT)
        c, r = _unit(ctx, st, exp, i + 1, done, tr)
        traced.append(time.perf_counter() - t0)
        out.commit_lat.append(c)
        out.read_lat.append(r)
        per.append((p_scan, p_dec, p_fil, p_res, done[-1]))
        i += 2
        if time.perf_counter() - t_start >= seconds:
            break
    _check_all(ctx, exp, done, out)

    stats = StageStats(tr.sc)
    commits = tr.named("apply.commit")
    ops = tr.named("op")
    buckets = (
        ctx.spark.createDataFrame(exp.sample_keys, ["repo", "path"])
        .select(bucket_col(N_BUCKETS).alias("b")).distinct().count()
    )
    rows: dict[str, list[float]] = defaultdict(list)

    def put(k: str, v: float) -> None:
        rows[k].append(float(v))

    for (p_scan, p_dec, p_fil, p_res, (table, m, _)), com in zip(per, commits[-len(per):]):
        put("decode.self_s", p_dec.wall - p_scan.wall)
        put("decode.rows_out", p_dec.rows)
        put("filters.self_s", p_fil.wall - p_dec.wall)
        put("filters.rows_in", p_dec.rows)
        put("filters.rows_out", p_fil.rows)
        put("resolve.self_s", p_res.wall - p_fil.wall)
        put("trace.prefix_spread_s", median([p.spread for p in (p_scan, p_dec, p_fil, p_res)]))
        put("apply.commit_s", com.wall)
        tot = stats.totals([com.tag])
        put("apply.jobs_per_commit", tot["jobs"])
        put("apply.tasks_per_commit", tot["tasks"])
        put("apply.shuffle_write_bytes", tot["shuffle_write_b"])
        put("apply.shuffle_read_bytes", tot["shuffle_read_b"])
        put("apply.spill_bytes", tot["spill_b"])
        put("apply.buckets_touched", m.get("buckets_rewritten", 0))
        files = snapshot_files(table, m["snapshot"])
        put("apply.bytes_written", sum(os.path.getsize(f) for f in files))
        put("apply.files_written", len(files))
        put("apply.rows_rewritten_per_changed", parquet_rows(files) / max(exp.changed_keys, 1))
        put("apply.delta_depth_max", m.get("delta_depth", 0))
    for sp in tr.named("apply.read_keys"):
        put("apply.read_keys_s", sp.wall)
    put("apply.buckets_read_per_lookup", buckets)
    layer = {k: median(v) for k, v in rows.items()}
    tags = [s.tag for s in ops] + [s.tag for s in commits]
    layer.update(jvm_layer(stats, tags, sum(s.wall for s in ops), ctx.cores, len(ops)))
    layer["trace.overhead_s"] = median(traced) - median(plain)
    return out, layer
