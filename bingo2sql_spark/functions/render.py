"""T1-T3/T5/T6/T8/S6 — SQL-text generation (the reference's main output
mode) as vectorized transforms.

`render_sql` builds every statement from pure Column expressions (JVM,
whole-stage codegen): escaping via regexp_replace, statement assembly
via concat_ws, minimal-update SET lists via null-skipping concat_ws
(compareValue analog, core/parser.go:2184-2209). `render_sql_inline`
adds multi-row VALUES batching (--minimal-insert,
core/parser.go:1164-1240) on the same expressions. Per-type codecs
(unsigned/JSON/geometry, core/parser.go:1736-1874) run at decode time
(`decode_events_arrow(column_codecs=...)`), so rendering never needs
Python.

Flashback note: rollback SQL (T5, generateUpdateRollbackSQL
core/parser.go:1499-1623) is NOT a separate renderer — after
operators.flashback.invert swaps images and remaps ops, this forward
renderer emits exactly the reference's rollback statements.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bingo2sql_spark import schema as S

KEY_COLS = list(S.MERGE_KEYS)


def sql_escape(c: Column) -> Column:
    r"""Backslash escaping, full escapeBytesBackslash character set
    (core/parser.go:1894-1935): \\ ' " NUL(0x00) Ctrl-Z(0x1a) LF CR.
    Content containing NUL or Ctrl-Z would otherwise corrupt/truncate
    the replayed SQL text.

    The three keep-the-char escapes (\\ ' ") fuse into ONE capture-group
    pass — identical output to the sequential replaces (the inserted
    backslashes are untouched by the later control-char passes) — and a
    single rlike gate skips every replace when the value contains no
    escapable character at all, the overwhelmingly common case (one
    scan instead of five; values WITH specials pay the gate + escapes,
    ~20% over the ungated chain). NULL passes through NULL either way
    (sql_literal handles it)."""
    escaped = F.regexp_replace(c, "([\\\\'\"])", r"\\$1")
    escaped = F.regexp_replace(escaped, r"\n", r"\\n")
    escaped = F.regexp_replace(escaped, r"\r", r"\\r")
    escaped = F.regexp_replace(escaped, "\x00", r"\\0")
    escaped = F.regexp_replace(escaped, "\x1a", r"\\Z")
    specials = "[" + "\\\\" + "'\"\n\r\x00\x1a" + "]"
    return F.when(c.rlike(specials), escaped).otherwise(c)


def sql_literal(c: Column) -> Column:
    """NULL -> NULL, else '<escaped>' (InterpolateParams
    core/parser.go:1763-1766,1838-1841)."""
    return F.when(c.isNull(), F.lit("NULL")).otherwise(F.concat(F.lit("'"), sql_escape(c), F.lit("'")))


def _qualified(db: Column, table: Column) -> Column:
    """`db`.`table` backtick quoting (getTableName core/parser.go:2488-2496)."""
    return F.concat(F.lit("`"), db, F.lit("`.`"), table, F.lit("`"))


def _where_eq(img: str, col: str) -> Column:
    """PK predicate with IS NULL handling (generateDeleteSQL
    core/parser.go:1277-1305)."""
    c = F.col(f"{img}.{col}")
    return F.when(c.isNull(), F.lit(f"`{col}` IS NULL")).otherwise(
        F.concat(F.lit(f"`{col}`="), sql_literal(c))
    )


def render_sql(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    minimal_update: bool = True,
    no_primary_key: bool = False,
    extra_cols: list[str] | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    r"""Envelope -> (seq, sql) rows. Semantics per reference:

    - INSERT (T1): INSERT INTO `db`.`tbl`(`c1`,...) VALUES(v1,...);
      generated columns excluded upstream (T6); --no-primary-key drops
      key columns from the column list (core/parser.go:1196-1204).
    - DELETE (T2): WHERE on the key columns of the before image.
    - UPDATE (T3): SET <changed or all cols from after> WHERE <keys from
      before>; minimal_update diffs before/after per column
      (core/parser.go:1367-1497).
    - DDL (F8 upgraded to T): when the stream carries a `statement`
      column, op='ddl' rows emit `USE \`db\`;\n<ddl>;` (the reference's
      Query-event passthrough, core/parser.go:2314-2339) instead of
      being silently dropped from the SQL file. DDL is never inverted —
      flashback paths filter it out before rendering."""
    cols = payload_cols or [c for c in S.payload_columns() ]
    keys = key_cols or KEY_COLS  # a schema-file registry may override (ddl.py)
    ins_cols = [c for c in cols if not (no_primary_key and c in keys)]

    tbl = _qualified(F.col("db"), F.col("table"))
    col_list = F.lit("(" + ",".join(f"`{c}`" for c in ins_cols) + ")")
    values = F.concat_ws(",", *[sql_literal(F.col(f"after.{c}")) for c in ins_cols])
    insert_sql = F.concat(
        F.lit("INSERT INTO "), tbl, col_list, F.lit(" VALUES("), values, F.lit(");")
    )

    where = F.concat_ws(" AND ", *[_where_eq("before", k) for k in keys])
    delete_sql = F.concat(F.lit("DELETE FROM "), tbl, F.lit(" WHERE "), where, F.lit(";"))

    def set_frag(c: str) -> Column:
        frag = F.concat(F.lit(f"`{c}`="), sql_literal(F.col(f"after.{c}")))
        if not minimal_update:
            return frag
        changed = ~F.col(f"before.{c}").eqNullSafe(F.col(f"after.{c}"))
        return F.when(changed, frag)  # NULL when unchanged -> concat_ws skips

    set_list = F.concat_ws(",", *[set_frag(c) for c in cols])
    update_sql = F.concat(
        F.lit("UPDATE "), tbl, F.lit(" SET "), set_list, F.lit(" WHERE "), where, F.lit(";")
    )

    sql = (
        F.when(F.col("op") == S.OP_INSERT, insert_sql)
        .when(F.col("op") == S.OP_DELETE, delete_sql)
        .when(F.col("op") == S.OP_UPDATE, update_sql)
    )
    keep = F.col("op").isin(list(S.DML_OPS))
    if "statement" in events.columns:
        ddl_sql = F.concat(
            F.lit("USE `"),
            F.col("db"),
            F.lit("`;\n"),
            F.regexp_replace(F.col("statement"), r";\s*$", ""),
            F.lit(";"),
        )
        sql = sql.when(F.col("op") == S.OP_DDL, ddl_sql)
        keep = keep | ((F.col("op") == S.OP_DDL) & F.col("statement").isNotNull())
    return events.filter(keep).select(
        "seq", "gtid_uuid", "gno", "ts", "thread_id", sql.alias("sql"), *(extra_cols or [])
    )


#: super-block fan-in for the two-level block carry: block rows are
#: N/block_size (~1.5e7 at 10^12 events) — too many for one window task;
#: super rows are N/(block_size * SUPER_BLOCKS) (~230 at 10^12, still
#: metadata-scale at 10^21), so ONE extra level removes the documented
#: r2 ceiling instead of asserting it.
SUPER_BLOCKS = 1 << 16


def _block_lag_carry(blocks: DataFrame, col: str = "_c") -> DataFrame:
    """lag(col) over per-block rows ordered by _blk — the value of the
    nearest PRECEDING non-empty block — with no global single-partition
    window over the block rows: within-super lag (hash-partitioned,
    bounded by SUPER_BLOCKS rows) + a metadata-scale super-level lag.
    Returns (_blk, _prev)."""
    blocks = blocks.withColumn("_sblk", (F.col("_blk") / F.lit(SUPER_BLOCKS)).cast("long"))
    w = Window.partitionBy("_sblk").orderBy("_blk")
    sup = (
        blocks.groupBy("_sblk")
        .agg(F.max_by(F.col(col), F.col("_blk")).alias("_sc"))
        .select("_sblk", F.lag("_sc").over(Window.orderBy("_sblk")).alias("_sprev"))
    )
    out = (
        blocks.withColumn("_srn", F.row_number().over(w))
        .withColumn("_lagc", F.lag(col).over(w))
        .join(F.broadcast(sup), "_sblk", "left")
    )
    prev = F.when(F.col("_srn") == 1, F.col("_sprev")).otherwise(F.col("_lagc"))
    return out.select("_blk", prev.alias("_prev"))


def _block_running_last(blocks: DataFrame, col: str) -> DataFrame:
    """last(col, ignorenulls) over per-block rows STRICTLY BEFORE each
    block (ordered by _blk) — two-level like _block_lag_carry.
    Returns (_blk, _prev)."""
    blocks = blocks.withColumn("_sblk", (F.col("_blk") / F.lit(SUPER_BLOCKS)).cast("long"))
    w = Window.partitionBy("_sblk").orderBy("_blk")
    local = F.last(col, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    nn = F.when(F.col(col).isNotNull(), F.struct(F.col("_blk"), F.col(col).alias("v")))
    sup = (
        blocks.groupBy("_sblk")
        .agg(F.max(nn)["v"].alias("_sl"))
        .select(
            "_sblk",
            F.last("_sl", ignorenulls=True)
            .over(Window.orderBy("_sblk").rowsBetween(Window.unboundedPreceding, -1))
            .alias("_scarry"),
        )
    )
    out = blocks.withColumn("_local", local).join(F.broadcast(sup), "_sblk", "left")
    return out.select("_blk", F.coalesce("_local", "_scarry").alias("_prev"))


def decorate(
    rendered: DataFrame,
    show_gtid: bool = True,
    show_time: bool = True,
    time_mode: str = "second",
    show_thread: bool = False,
    block_size: int = 1 << 16,
) -> DataFrame:
    """S6 — output decoration (myWrite core/parser.go:674-724): a GTID
    comment line when the GTID changes, `; # <ts>` appended on the first
    row of each second (`time_mode="second"`) or on EVERY row
    (`time_mode="row"`, the reference's every-row option), and an
    optional ` # thread_id=N` suffix (`show_thread`, the reference's
    ShowThread flag).

    Scale shape: a global `Window.orderBy(seq)` funnels the whole
    dataset into ONE task — a single-task OOM at 100x. Instead the lag
    runs per seq-block (`partitionBy(floor(seq/block_size))`, a
    parallel hash-partitioned window), and each block's FIRST row is
    patched with a carry — the (gtid, sec) of the last row of the
    nearest preceding non-empty block, computed on the per-block
    aggregate with the TWO-LEVEL _block_lag_carry (no single-partition
    window over the block rows either: good past 10^12 events, the r2
    ceiling) and broadcast back. Identical output to the global window,
    including across block-spanning seq gaps."""
    out = rendered
    if show_thread:
        out = out.withColumn(
            "thread_comment",
            F.concat(F.lit(" # thread_id="), F.col("thread_id").cast("string")),
        )
    gtid = F.concat(F.col("gtid_uuid"), F.lit(":"), F.col("gno").cast("string"))
    sec = F.date_trunc("second", F.col("ts"))
    time_fmt = F.concat(F.lit("; # "), F.date_format(sec, "yyyy-MM-dd HH:mm:ss"))
    if show_time and time_mode == "row":
        out = out.withColumn("time_comment", time_fmt)
        show_time = False  # no lag needed for the every-row mode
    if not (show_gtid or show_time):
        return out

    out = (
        out.withColumn("_g", gtid)
        .withColumn("_s", sec)
        .withColumn("_blk", F.floor(F.col("seq") / F.lit(block_size)))
    )
    w = Window.partitionBy("_blk").orderBy("seq")
    # carry: last (gtid, sec) of each non-empty block, then shift to the
    # NEXT non-empty block (one row per block; two-level lag)
    carry = _block_lag_carry(
        out.groupBy("_blk").agg(
            F.max_by(F.struct(F.col("_g"), F.col("_s")), F.col("seq")).alias("_c")
        )
    )
    out = (
        out.withColumn("_rn", F.row_number().over(w))
        .withColumn("_lag_g", F.lag("_g").over(w))
        .withColumn("_lag_s", F.lag("_s").over(w))
        .join(F.broadcast(carry), "_blk", "left")
    )
    first = F.col("_rn") == 1
    prev_g = F.when(first, F.col("_prev._g")).otherwise(F.col("_lag_g"))
    prev_s = F.when(first, F.col("_prev._s")).otherwise(F.col("_lag_s"))
    if show_gtid:
        new_gtid = prev_g.isNull() | (prev_g != F.col("_g"))
        out = out.withColumn(
            "gtid_comment", F.when(new_gtid, F.concat(F.lit("# GTID "), F.col("_g")))
        )
    if show_time:
        new_sec = prev_s.isNull() | (prev_s != F.col("_s"))
        out = out.withColumn("time_comment", F.when(new_sec, time_fmt))
    return out.drop("_g", "_s", "_blk", "_rn", "_lag_g", "_lag_s", "_prev")


def _render_with_registry(ev: DataFrame, registry: dict, render_one) -> DataFrame:
    """Per-table rendering under a schema-file registry (ddl.py): one
    render branch per registered table, each with that table's
    valid_columns (generated excluded, T6) and key_columns (PRI > UNI,
    T9), unioned back into one seq-ordered stream — the Spark shape of
    the reference's per-TableID metadata lookup (tableCacheList,
    core/parser.go:2094-2108). Registry size is a handful of tables
    (metadata-scale); each branch's (db, table) filter pushes into the
    shared scan.

    A registered column missing from the stream's payload struct fails
    LOUDLY — silently rendering NULLs for a typo'd schema file is the
    drift bug the registry exists to prevent."""
    import logging

    payload_fields = [f.name for f in ev.schema["after"].dataType.fields]
    parts: list[DataFrame] = []
    seen = F.lit(False)
    # db-QUALIFIED entries claim their events first (ddl.lookup /
    # cacheNewTable precedence): an unqualified `t` declared before
    # `db1.t` must not swallow db1's events via the earlier ~seen guard
    ordered = sorted(registry.items(), key=lambda kv: (not kv[1].db, kv[0]))
    for key, meta in ordered:
        unknown = [c for c in meta.valid_columns if c not in payload_fields]
        if unknown:
            raise ValueError(
                f"schema file table {key!r} declares columns {unknown} that the "
                f"event stream's payload struct lacks (has {payload_fields})"
            )
        cond = F.lower(F.col("table")) == meta.table.lower()
        if meta.db:
            cond = cond & (F.lower(F.col("db")) == meta.db.lower())
        cond = cond & ~seen  # qualified/earlier entries take precedence
        seen = seen | cond
        parts.append(
            render_one(
                ev.filter(cond),
                payload_cols=meta.valid_columns,
                key_cols=meta.key_columns,
            )
        )
    logging.getLogger("bingo2sql_spark.render").info(
        "schema-file registry active: rendering %d table(s); events of "
        "unregistered tables are skipped (reference local-mode semantics)",
        len(registry),
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_sql_file(
    events: DataFrame,
    out_dir: str,
    *,
    flashback: bool = False,
    show_gtid: bool = True,
    show_time: bool = True,
    time_mode: str = "second",
    show_thread: bool = False,
    minimal_update: bool = True,
    minimal_insert: bool = False,
    no_primary_key: bool = False,
    batch_rows: int = 100,
    compression: str | None = None,
    table_registry: dict | None = None,
) -> None:
    """S5/S7 — the reference's user-facing artifact: an ordered SQL text
    file (single-writer funnel core/parser.go:844-857 replaced by a
    global sort; tar.gz Archive core/parser.go:2460-2485 replaced by the
    writer's codec option).

    Emits one text part per sorted range (repartitionByRange keeps the
    global order across files: part-00000 < part-00001 ...); pass the
    result of operators.flashback.invert for rollback files — ascending
    seq on inverted events IS reverse binlog order, so no special
    casing.

    `table_registry` (ddl.parse_schema_file output — the reference's
    local-mode schema resolution) renders each event with ITS table's
    metadata: generated columns excluded, that table's PRI/UNI key in
    the WHERE clause. Events whose (db, table) resolves to no registry
    entry are dropped, like the reference's uncached-table skip."""
    from bingo2sql_spark.operators import flashback as FB

    ev = FB.invert(events) if flashback else events

    def _render(part: DataFrame, payload_cols=None, key_cols=None) -> DataFrame:
        if minimal_insert and not flashback:
            return render_sql_inline(
                part,
                payload_cols,
                minimal_update=minimal_update,
                no_primary_key=no_primary_key,
                batch_rows=batch_rows,
                key_cols=key_cols,
            )
        # flashback inverts inserts into deletes, so there is nothing to
        # batch on the rollback path (reference likewise only batches
        # forward inserts)
        return render_sql(
            part,
            payload_cols,
            minimal_update=minimal_update,
            no_primary_key=no_primary_key,
            key_cols=key_cols,
        )

    if table_registry:
        rendered = _render_with_registry(ev, table_registry, _render)
    else:
        rendered = _render(ev)
    rendered = decorate(rendered, show_gtid, show_time, time_mode, show_thread)
    line = F.concat_ws(
        "\n",
        *( [F.col("gtid_comment")] if show_gtid else [] ),
        F.concat(
            F.col("sql"),
            F.coalesce(F.regexp_replace(F.col("time_comment"), "^; # ", " # "), F.lit(""))
            if show_time
            else F.lit(""),
            F.coalesce(F.col("thread_comment"), F.lit("")) if show_thread else F.lit(""),
        ),
    )
    out = rendered.select("seq", line.alias("value")).orderBy("seq").select("value")
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(out_dir)


def archive_sql_artifact(out_dir: str, remove_original: bool = True) -> tuple[str, int]:
    """S7 — the reference's Archive() (core/parser.go:2460-2485): pack
    the finished SQL artifact into `<out_dir>.tar.gz`, report its size,
    and delete the original (the reference's post-archive clear()).
    Part files are stored in lexicographic order, so extracting and
    concatenating part-* reproduces the globally ordered SQL text
    byte-for-byte.

    Driver-local by design: the artifact is the single ordered text
    output a human downloads (parse/bingo2sql.go:207-225 serves exactly
    this tar.gz); at cluster scale the parts live on shared storage and
    this runs wherever the download service does."""
    import shutil
    import tarfile

    if not os.path.isdir(out_dir):
        raise FileNotFoundError(f"no SQL artifact directory at {out_dir}")
    url = out_dir.rstrip("/") + ".tar.gz"
    base = os.path.basename(out_dir.rstrip("/"))
    with tarfile.open(url, "w:gz") as tar:
        for name in sorted(os.listdir(out_dir)):
            if name.startswith(("part-", "_SUCCESS")) or name.endswith(".txt"):
                tar.add(os.path.join(out_dir, name), arcname=f"{base}/{name}")
    size = os.stat(url).st_size
    if remove_original:
        shutil.rmtree(out_dir)
    return url, size


def with_insert_runs(events: DataFrame, block_size: int = 1 << 16) -> DataFrame:
    """Adds `_run`: an id shared by each maximal run of CONSECUTIVE
    (in seq order) same-(db,table) INSERT events — the unit the
    reference's `--minimal-insert` batches into one multi-row statement
    (core/parser.go:1164-1240). A run breaks on ANY intervening event
    (update/delete/ddl, or an insert into another table), so replaying
    the batched output in seq order can never reorder an insert past a
    statement it originally preceded.

    Scalable prefix computation (no global window): the break flag
    needs the PREVIOUS event, computed per seq-block with a
    hash-partitioned window, and block boundaries are patched from
    metadata-scale per-block aggregates broadcast back. Non-insert rows
    get singleton run ids and are simply never batched.

    The run id IS the run's starting seq (the nearest preceding break
    row's seq), not a break count: downstream batch chunking is then
    pure seq arithmetic — `floor((seq - _run)/batch_rows)` — and never
    needs a per-run window, so a bulk-load run of 10^10 inserts (ONE
    `_run` value) costs nothing beyond the bounded per-block windows."""
    ev = events.withColumn("_blk", F.floor(F.col("seq") / F.lit(block_size)))
    w = Window.partitionBy("_blk").orderBy("seq")
    prev_struct = F.struct(F.col("op"), F.col("db"), F.col("table"))
    carry = _block_lag_carry(
        ev.groupBy("_blk").agg(F.max_by(prev_struct, F.col("seq")).alias("_c"))
    ).withColumnRenamed("_prev", "_pc")
    ev = (
        ev.withColumn("_rn", F.row_number().over(w))
        .withColumn("_lagp", F.lag(prev_struct).over(w))
        .join(F.broadcast(carry), "_blk", "left")
    )
    prev = F.when(F.col("_rn") == 1, F.col("_pc")).otherwise(F.col("_lagp"))
    extends = (
        (F.col("op") == S.OP_INSERT)
        & (prev["op"] == S.OP_INSERT)
        & (prev["db"] == F.col("db"))
        & (prev["table"] == F.col("table"))
    )
    ev = ev.withColumn("_brk", F.when(F.coalesce(extends, F.lit(False)), 0).otherwise(1))
    # run-start seq: last non-null break seq within the block, patched on
    # blocks whose prefix has no break yet from a metadata-scale carry of
    # each preceding block's LAST run-start (one row per block).
    start_seq = F.when(F.col("_brk") == 1, F.col("seq"))
    local_start = F.last(start_seq, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    carry_start = _block_running_last(
        ev.groupBy("_blk").agg(F.max(start_seq).alias("_bs")), "_bs"
    ).withColumnRenamed("_prev", "_cs")
    ev = ev.join(F.broadcast(carry_start), "_blk", "left").withColumn(
        "_run", F.coalesce(local_start, F.col("_cs"))
    )
    return ev.drop("_blk", "_rn", "_lagp", "_pc", "_brk", "_cs")


def _batched_insert_stmts(
    runs: DataFrame,
    payload_cols: list[str],
    batch_rows: int,
    no_primary_key: bool = False,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Multi-row INSERT statements from a `with_insert_runs` stream:
    one statement per (run, batch_rows-chunk), anchored at the run
    chunk's first event (seq + header columns), tuples in seq order.

    Skew-proof chunking: `_run` is the run's starting seq, so the chunk
    id is pure arithmetic — `floor((seq - _run)/batch_rows)` — with NO
    per-run window. The only shuffle is the (run, chunk) groupBy, whose
    reduce-side groups hold at most batch_rows rows regardless of run
    length: the canonical CDC bulk load (one run of 10^9-10^10 inserts)
    spreads across ~10^7-10^8 chunk groups instead of one window task.
    Runs with dense seq (any unfiltered stream) chunk identically to
    row-count chunking; on a pre-filtered stream with seq gaps a chunk
    may hold FEWER than batch_rows tuples (never more, never crossing a
    run) — seq-aligned seams, an acceptable output difference."""
    ins_cols = [
        c for c in payload_cols if not (no_primary_key and c in (key_cols or KEY_COLS))
    ]
    values = F.concat_ws(",", *[sql_literal(F.col(f"after.{c}")) for c in ins_cols])
    ins = runs.filter(F.col("op") == S.OP_INSERT).select(
        "seq", "gtid_uuid", "gno", "ts", "thread_id", "db", "table", "_run",
        F.concat(F.lit("("), values, F.lit(")")).alias("_tuple"),
        F.floor((F.col("seq") - F.col("_run")) / F.lit(batch_rows)).alias("_chunk"),
    )
    col_list = F.lit("(" + ",".join(f"`{c}`" for c in ins_cols) + ")")
    anchor = F.min_by(
        F.struct("gtid_uuid", "gno", "ts", "thread_id", "db", "table"), F.col("seq")
    ).alias("_a")
    g = ins.groupBy("_run", "_chunk").agg(
        F.min("seq").alias("seq"),
        anchor,
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "_tuple"))),
                lambda x: x["_tuple"],
            ),
            ",",
        ).alias("_vals"),
    )
    sql = F.concat(
        F.lit("INSERT INTO "),
        _qualified(F.col("_a.db"), F.col("_a.table")),
        col_list,
        F.lit(" VALUES"),
        F.col("_vals"),
        F.lit(";"),
    )
    return g.select(
        "seq",
        F.col("_a.gtid_uuid").alias("gtid_uuid"),
        F.col("_a.gno").alias("gno"),
        F.col("_a.ts").alias("ts"),
        F.col("_a.thread_id").alias("thread_id"),
        sql.alias("sql"),
    )


def render_sql_inline(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    minimal_update: bool = True,
    no_primary_key: bool = False,
    batch_rows: int = 100,
    block_size: int = 1 << 16,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """The reference's default statement stream (`--minimal-insert` ON,
    core/parser.go:1164-1240): multi-row INSERT batches INLINE with
    updates/deletes/DDL, correctly interleaved by seq — a batch anchors
    at its first row's seq and never crosses a non-insert event or a
    table change (with_insert_runs), so replaying the file in order is
    equivalent to the per-row stream."""
    cols = payload_cols or S.payload_columns()
    runs = with_insert_runs(events, block_size)
    others = render_sql(
        runs.filter(F.col("op") != S.OP_INSERT),
        cols,
        minimal_update=minimal_update,
        no_primary_key=no_primary_key,
        key_cols=key_cols,
    )
    batched = _batched_insert_stmts(runs, cols, batch_rows, no_primary_key, key_cols)
    return batched.unionByName(others)


def render_multi_row_inserts(
    events: DataFrame,
    payload_cols: list[str] | None = None,
    batch_rows: int = 100,
) -> DataFrame:
    """T1 `--minimal-insert` statements only (the insert side of
    render_sql_inline). Pass the FULL event stream, not a pre-filtered
    insert set: run boundaries are computed from the intervening
    events, so same-table inserts separated by an UPDATE/DELETE land in
    separate statements (reference batches only within one RowsEvent,
    core/parser.go:1175-1240). Output: (seq of first row, sql)."""
    cols = payload_cols or S.payload_columns()
    # project early (guide §2.3): the run window shuffles its input, and
    # this insert-only renderer never reads the before image — dropping
    # it (and other unused columns) before with_insert_runs roughly
    # halves the window exchange's bytes on a full DML stream
    needed = ["seq", "gtid_uuid", "gno", "ts", "thread_id", "db", "table", "op", "after"]
    runs = with_insert_runs(events.select(*[c for c in needed if c in events.columns]))
    return _batched_insert_stmts(runs, cols, batch_rows).select("seq", "sql")
