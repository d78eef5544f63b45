"""binlog_rollback_sql: the reference tool's own job — real binlog v4
bytes in, a globally ordered rollback-SQL text artifact out.

Input: two CRC32-checksummed binlog files built with `BinlogWriter` in
setup, one large and one small rotated one. Every GTID transaction
carries INSERT, UPDATE (full before/after images) and DELETE rows
events on one table.

Path: binlog_raw_events -> decode_events -> apply_filters (GTID set and
file/pos range) -> write_sql_file(flashback=True). The Python parse and
the render/sort/text sink do the work and MERGE is bypassed; one file
decodes in one task, so the large file is a straggler.

One unit of work is one artifact plus one point read: the rollback SQL
of a single transaction of the small file, rendered and collected. A
unit's cost is mostly the driver building and planning the query (about
5,500 py4j calls per artifact), which the JVM's JIT speeds up over the
first units, so WARM_UNITS untimed units run before the timed window.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import re
import sys
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from harness import (
    PREFIX_REPEAT, Ctx, Outcome, StageStats, Tracer, fresh_dir, jvm_layer, median,
)

UUID = "8a2f1e60-0000-11ee-be56-0242ac120001"
COLUMNS = ["repo", "path", "commit", "lang", "content", "branch"]
#: VARCHAR max byte lengths (the TABLE_MAP metadata)
VARCHAR_META = [64, 255, 64, 16, 1024, 32]
LANGS = ["go", "py", "rs", "md", "java"]
TS0 = 1_704_067_200
ROWS_PER_TXN = {"insert": 8, "update": 6, "delete": 3}
SIZES = {
    "full": {"big_txns": 400, "small_txns": 40},
    "tiny": {"big_txns": 40, "small_txns": 12},
}
#: rollback inverts each row event: what statement each encoded op becomes
INVERTED = {"insert": "DELETE", "update": "UPDATE", "delete": "INSERT"}
#: untimed units before the timed window: the first pays Spark's and the
#: Python workers' start, the rest let the driver's JIT settle
WARM_UNITS = 3
_TIME_SUFFIX = re.compile(r" # \d{4}-\d\d-\d\d \d\d:\d\d:\d\d$")


@dataclass
class RowsEvent:
    file: str
    pos: int
    gno: int
    op: str
    rows: int


@dataclass
class State:
    dir: str
    files: list[str]
    n_bytes: int
    n_rows: int
    events: list[RowsEvent]
    filters: dict
    #: gnos of small-file transactions the artifact contains whole
    lookup_gnos: list[int]
    small_file: str


@dataclass
class Expected:
    statements: Counter
    #: GTID comment order of the artifact: reverse binlog order
    gtids: list[int]
    per_gno: dict[int, Counter] = field(default_factory=dict)


def _row(rng: random.Random, gno: int, i: int) -> list[str]:
    zipf = int(50 ** rng.random()) - 1  # skewed repos, as synth does
    return [
        f"repo-{zipf:04d}",
        f"src/{rng.randrange(64)}/t{gno}_{i}.txt",
        f"{gno:016x}",
        rng.choice(LANGS),
        f"{rng.getrandbits(512):0128x}" * 2,
        rng.choice(["main", "dev", "release"]),
    ]


def build_binlogs(out_dir: str, seed: int, big_txns: int, small_txns: int) -> State:
    """Write mysql-bin.000001 (large) and mysql-bin.000002 (small).
    Updates and deletes pick live rows, so every before image is the
    row's real current state."""
    from bingo2sql_spark.sources.binlog_binary import T_VARCHAR, BinlogWriter

    types = [T_VARCHAR] * len(COLUMNS)
    rng = random.Random(seed)
    live: dict[tuple[str, str], list[str]] = {}
    keys: list[tuple[str, str]] = []  # live keys, for O(1) sampling
    slot: dict[tuple[str, str], int] = {}  # key -> its index in `keys`
    events: list[RowsEvent] = []
    txn_start: dict[int, tuple[str, int]] = {}
    files, n_bytes, n_rows, gno = [], 0, 0, 1
    for ordinal, n_txn in ((1, big_txns), (2, small_txns)):
        name = f"mysql-bin.{ordinal:06d}"
        w = BinlogWriter(checksum=True)
        for _ in range(n_txn):
            ts = TS0 + gno
            txn_start[gno] = (name, len(w.buf))
            w.gtid(UUID, gno, ts=ts)
            w.query("BEGIN", db="test", thread_id=7, ts=ts)
            w.table_map("test", "repo_files", types, VARCHAR_META, ts=ts)
            ins = [_row(rng, gno, i) for i in range(ROWS_PER_TXN["insert"])]
            upd_keys = rng.sample(keys, min(ROWS_PER_TXN["update"], len(keys)))
            upd = []
            for k in upd_keys:
                after = list(live[k])
                after[2] = f"{gno:016x}"
                after[4] = f"{rng.getrandbits(512):0128x}" * 2
                upd.append((live[k], after))
                live[k] = after
            spare = [k for k in rng.sample(keys, min(len(keys), 3 * ROWS_PER_TXN["delete"]))
                     if k not in set(upd_keys)]
            dels = spare[: ROWS_PER_TXN["delete"]]
            for op, rows in (("insert", ins), ("update", upd), ("delete", [live[k] for k in dels])):
                if not rows:
                    continue
                events.append(RowsEvent(name, len(w.buf), gno, op, len(rows)))
                w.rows("test", "repo_files", op, types, VARCHAR_META, rows, ts=ts)
                n_rows += len(rows)
            for k in dels:
                del live[k]
                j = slot.pop(k)
                moved = keys.pop()
                if moved != k:
                    keys[j] = moved
                    slot[moved] = j
            for r in ins:
                live[(r[0], r[1])] = r
                slot[(r[0], r[1])] = len(keys)
                keys.append((r[0], r[1]))
            w.xid(gno, ts=ts)
            gno += 1
        path = os.path.join(out_dir, name)
        data = w.bytes()
        with open(path, "wb") as f:
            f.write(data)
        files.append(path)
        n_bytes += len(data)
    last = gno - 1
    # GTID set: skip the first 5% of transactions and the last eighth of
    # the small file; pos range: start at the GTID event of the tenth
    # percentile transaction and stop right after one transaction's
    # UPDATE event in the small file, cutting off its DELETE
    stop_gno = last - max(small_txns // 4, 1)
    stop_ev = next(e for e in events if e.gno == stop_gno and e.op == "update")
    start_file, start_pos = txn_start[1 + big_txns // 10]
    filters = {
        "gtids": f"{UUID}:{1 + big_txns // 20}-{last - max(small_txns // 8, 1)}",
        "start_file": start_file,
        "start_pos": start_pos,
        "stop_file": stop_ev.file,
        "stop_pos": stop_ev.pos,
        "tables": ["repo_files"],
    }
    small = os.path.basename(files[1])
    lookup = [g for g in range(big_txns + 1, stop_gno) if txn_start[g][0] == small]
    return State(out_dir, files, n_bytes, n_rows, events, filters, lookup, files[1])


def _passes(e: RowsEvent, f: dict) -> bool:
    lo, hi = (int(x) for x in f["gtids"].split(":")[1].split("-"))
    return (
        lo <= e.gno <= hi
        and (e.file, e.pos) >= (f["start_file"], f["start_pos"])
        and (e.file, e.pos) <= (f["stop_file"], f["stop_pos"])
    )


def prepare(ctx: Ctx, st: State) -> Expected:
    """Statement counts of the rollback artifact: the encoded row counts
    that pass the filters, each op inverted."""
    stmts: Counter = Counter()
    gnos = set()
    per_gno: dict[int, Counter] = {}
    for e in st.events:
        per_gno.setdefault(e.gno, Counter())[INVERTED[e.op]] += e.rows
        if _passes(e, st.filters):
            stmts[INVERTED[e.op]] += e.rows
            gnos.add(e.gno)
    return Expected(stmts, sorted(gnos, reverse=True), per_gno)


def setup(ctx: Ctx) -> State:
    z = ctx.size
    return build_binlogs(fresh_dir(ctx.path("binlog", "in")), ctx.seed, z["big_txns"], z["small_txns"])


def _kind(stmt: str) -> str:
    return stmt.split(" ", 1)[0]


def parse_artifact(text: str) -> tuple[list[int], dict[int, list[str]]]:
    """GTID comment order and each transaction's statements (time
    comments stripped)."""
    order: list[int] = []
    sections: dict[int, list[str]] = {}
    cur = None
    for line in text.splitlines():
        if line.startswith("# GTID "):
            cur = int(line.rsplit(":", 1)[1])
            order.append(cur)
            sections.setdefault(cur, [])
        elif line:
            sections.setdefault(cur, []).append(_TIME_SUFFIX.sub("", line))
    return order, sections


def check_artifact(text: str, exp: Expected) -> list[str]:
    """Statement counts per type equal the inverted encoded counts, and
    GTID comments run in reverse binlog order."""
    order, sections = parse_artifact(text)
    bad = []
    got = Counter(_kind(s) for stmts in sections.values() for s in stmts)
    if got != exp.statements:
        bad.append(f"statement counts {dict(got)} != expected {dict(exp.statements)}")
    if order != exp.gtids:
        bad.append("GTID comments are not the filtered transactions in reverse binlog order")
    return bad


def check_lookup(stmts: list[str], gno: int, exp: Expected, artifact_text: str) -> list[str]:
    """A single transaction's rollback SQL: its counts are that
    transaction's inverted counts, and its statements are exactly the
    artifact's section for that GTID."""
    bad = []
    if Counter(_kind(s) for s in stmts) != exp.per_gno.get(gno, Counter()):
        bad.append(f"gno {gno}: statement counts differ from the encoded transaction")
    section = parse_artifact(artifact_text)[1].get(gno, [])
    if sorted(stmts) != sorted(section):
        bad.append(f"gno {gno}: statements differ from the artifact's section")
    return bad


def read_artifact(out_dir: str) -> str:
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    return "".join(open(p, encoding="utf-8").read() for p in parts)


def _names() -> dict[str, list[str]]:
    return {"test.repo_files": COLUMNS}


def write_artifact(ctx: Ctx, st: State, out_dir: str) -> None:
    from bingo2sql_spark.functions import render
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.sources import binlog_binary
    from bingo2sql_spark.sources.decode import decode_events

    raw = binlog_binary.binlog_raw_events(ctx.spark, st.dir, _names())
    ev = FL.apply_filters(decode_events(raw), **st.filters)
    render.write_sql_file(ev, out_dir, flashback=True)


def lookup(ctx: Ctx, st: State, gno: int) -> list[str]:
    """Rollback SQL of one transaction of the small file, collected."""
    from bingo2sql_spark.functions import render
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.sources import binlog_binary
    from bingo2sql_spark.sources.decode import decode_events

    raw = binlog_binary.binlog_raw_events(ctx.spark, st.small_file, _names())
    ev = FL.apply_filters(decode_events(raw), gtids=f"{UUID}:{gno}")
    return [r["sql"] for r in render.render_sql(FB.invert(ev)).select("sql").collect()]


@dataclass
class Unit:
    out_dir: str
    gno: int
    stmts: list[str]
    commit_s: float
    read_s: float


def _unit(ctx: Ctx, st: State, i: int, tr: Tracer | None = None) -> Unit:
    out_dir = ctx.path("binlog", f"out{i}")
    gno = random.Random(ctx.seed * 7919 + i).choice(st.lookup_gnos)
    t0 = time.perf_counter()
    if tr is None:
        write_artifact(ctx, st, out_dir)
    else:
        with tr.span("op"):
            write_artifact(ctx, st, out_dir)
    t1 = time.perf_counter()
    if tr is None:
        stmts = lookup(ctx, st, gno)
    else:
        with tr.span("lookup"):
            stmts = lookup(ctx, st, gno)
    return Unit(out_dir, gno, stmts, t1 - t0, time.perf_counter() - t1)


def _check_all(exp: Expected, units: list[Unit], out: Outcome) -> None:
    ref = None
    for u in units:
        text = read_artifact(u.out_dir)
        digest = hashlib.sha256(text.encode()).hexdigest()
        ref = ref or digest
        bad = check_artifact(text, exp)
        if digest != ref:
            bad.append("artifact sha256 differs between repeats of one seed")
        out.op(not bad, f"artifact {u.out_dir}: {bad}")
        bad = check_lookup(u.stmts, u.gno, exp, text)
        out.op(not bad, f"lookup: {bad}")


def run(ctx: Ctx, st: State, exp: Expected, seconds: float) -> Outcome:
    out = Outcome()
    units = [_unit(ctx, st, i) for i in range(WARM_UNITS)]
    t_start = time.perf_counter()
    i = WARM_UNITS
    while True:
        u = _unit(ctx, st, i)
        units.append(u)
        out.commit_lat.append(u.commit_s)
        out.read_lat.append(u.read_s)
        i += 1
        if time.perf_counter() - t_start >= seconds:
            break
    out.timed_s = time.perf_counter() - t_start
    out.read_time_s = sum(out.read_lat)
    out.events = st.n_rows * (len(units) - WARM_UNITS)
    print("perfbench: warm s " + " ".join(f"{u.commit_s + u.read_s:.2f}" for u in units[:WARM_UNITS])
          + " | artifact s " + " ".join(f"{x:.2f}" for x in out.commit_lat)
          + " | lookup s " + " ".join(f"{x:.2f}" for x in out.read_lat), file=sys.stderr)
    _check_all(exp, units, out)
    return out


def trace(ctx: Ctx, st: State, exp: Expected, seconds: float, tr: Tracer) -> tuple[Outcome, dict]:
    """Alternate an untraced unit with a traced one until `seconds` pass."""
    from bingo2sql_spark.operators import filters as FL
    from bingo2sql_spark.operators import flashback as FB
    from bingo2sql_spark.sources import binlog_binary
    from bingo2sql_spark.sources.decode import decode_events

    out = Outcome()
    tr.enabled = False
    units = [_unit(ctx, st, i) for i in range(WARM_UNITS)]
    plain, traced, per = [], [], []
    format_errors = 0
    t_start = time.perf_counter()
    i = WARM_UNITS
    while True:
        tr.enabled = False
        u = _unit(ctx, st, i)
        units.append(u)
        plain.append(u.commit_s + u.read_s)
        tr.enabled = True
        t0 = time.perf_counter()
        try:
            scan = ctx.spark.read.format("binaryFile").load(st.dir)
            p_scan = tr.prefix("scan", scan, PREFIX_REPEAT)
            raw = binlog_binary.binlog_raw_events(ctx.spark, st.dir, _names())
            p_parse = tr.prefix("binlog_binary", raw, PREFIX_REPEAT)
        except Exception as e:  # counted, then re-raised: the run is invalid
            format_errors += "BinlogFormatError" in repr(e)
            raise
        dec = decode_events(raw)
        p_dec = tr.prefix("decode", dec, PREFIX_REPEAT)
        fil = FL.apply_filters(dec, **st.filters)
        p_fil = tr.prefix("filters", fil, PREFIX_REPEAT)
        p_fb = tr.prefix("flashback", FB.invert(fil), PREFIX_REPEAT)
        u = _unit(ctx, st, i + 1, tr)
        units.append(u)
        traced.append(time.perf_counter() - t0)
        out.commit_lat.append(u.commit_s)
        out.read_lat.append(u.read_s)
        per.append((p_scan, p_parse, p_dec, p_fil, p_fb, u))
        i += 2
        if time.perf_counter() - t_start >= seconds:
            break
    _check_all(exp, units, out)

    stats = StageStats(tr.sc)
    writes = tr.named("render.write_sql_file")
    ops = tr.named("op")
    rows: dict[str, list[float]] = defaultdict(list)

    def put(k: str, v: float) -> None:
        rows[k].append(float(v))

    for (p_scan, p_parse, p_dec, p_fil, p_fb, u), wr in zip(per, writes[-len(per):]):
        put("binlog_binary.parse_s", p_parse.wall - p_scan.wall)
        put("binlog_binary.bytes_in", st.n_bytes)
        put("binlog_binary.tasks", stats.totals([p_parse.tag])["tasks"])
        put("binlog_binary.max_task_s", stats.max_task_s([p_parse.tag]))
        put("decode.self_s", p_dec.wall - p_parse.wall)
        put("decode.rows_out", p_dec.rows)
        put("filters.self_s", p_fil.wall - p_dec.wall)
        put("filters.rows_in", p_dec.rows)
        put("filters.rows_out", p_fil.rows)
        put("flashback.self_s", p_fb.wall - p_fil.wall)
        put("trace.prefix_spread_s",
            median([p.spread for p in (p_scan, p_parse, p_dec, p_fil, p_fb)]))
        put("render.self_s", wr.wall - p_fb.wall)
        text = read_artifact(u.out_dir)
        put("render.bytes_out", len(text.encode()))
        put("render.statements_out", sum(len(s) for s in parse_artifact(text)[1].values()))
    layer = {k: median(v) for k, v in rows.items()}
    layer["binlog_binary.format_errors"] = format_errors
    tags = [s.tag for s in ops] + [s.tag for s in writes]
    layer.update(jvm_layer(stats, tags, sum(s.wall for s in ops), ctx.cores, len(ops)))
    layer["trace.overhead_s"] = median(traced) - median(plain)
    return out, layer
