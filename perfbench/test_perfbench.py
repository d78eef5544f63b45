"""The benchmark's own tests: `python -m pytest perfbench -q`.

- the tail-percentile helper;
- every name the benchmark prints is declared in BENCHMARK.json;
- a tiny-size run of each workload passes its check (untraced and traced);
- each correctness check fails on a deliberately wrong table or artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402

sys.path.insert(0, H.ROOT)
WORKLOADS = ("bulk_replay", "microbatch_tail", "binlog_rollback_sql")


def _bench_json() -> dict:
    with open(os.path.join(H.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert H.tail_percentile(10) is None
    assert H.tail_percentile(11) == (100 / 11, 0)
    assert H.tail_percentile(20) == (50.0, 9)
    assert H.tail_percentile(24) == (100 * 14 / 24, 13)
    assert H.tail_percentile(100) == (90.0, 89)
    for n in range(11, 300):
        p, idx = H.tail_percentile(n)
        assert n - 1 - idx == 10  # exactly ten samples above it ...
        # ... and one more step up the ranks would leave only nine
        assert H.tail_percentile(n, beyond=9)[0] > p
    xs = [float(i) for i in range(24)]
    assert H.tail_value(xs) == 13.0
    # below 20 samples the tail percentile would sit under the median
    assert H.tail_value([float(i) for i in range(19)]) == 9.0
    assert H.tail_value([3.0, 1.0, 2.0]) == 2.0


def test_metric_names_match_benchmark_json():
    bj = _bench_json()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bj["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in bj["per_layer"]}
    assert e2e == H.END_TO_END
    assert layer == H.PER_LAYER
    # bulk_replay stays runnable by hand but is not a listed workload (METRICS.md)
    assert [w["name"] for w in bj["workloads"]] == ["microbatch_tail", "binlog_rollback_sql"]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_passes_its_check(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=H.ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, proc.stderr[-3000:]
    bj = _bench_json()
    declared = bj["per_layer"] if trace else bj["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


# ---------------------------------------------------------------------------
# the checks reject wrong outputs


@pytest.fixture(scope="module")
def ctx_factory(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    H.prepare_environment(work)
    spark = H.start_spark(work, 2)

    def make(workload: str, seed: int = 5) -> H.Ctx:
        import importlib

        mod = importlib.import_module(workload)
        return H.Ctx(spark, os.path.join(work, workload), seed, 2, mod.SIZES["tiny"])

    yield make
    spark.stop()


def test_bulk_checks_reject_a_wrong_table(ctx_factory):
    from pyspark.sql import functions as F

    import bulk_replay as B
    from bingo2sql_spark.operators.apply import IcebergLiteTable
    from bingo2sql_spark.pipeline import replay
    from bingo2sql_spark.sources.decode import decode_events_typed

    ctx = ctx_factory("bulk_replay")
    st = B.setup(ctx)
    exp = B.prepare(ctx, st)
    good, _ = B._replay(ctx, st, ctx.path("good"), "b")
    assert not B.check_count(good.read(ctx.spark).count(), exp)
    assert not B.check_read(H.read_keys_sha(ctx.spark, good, exp.sample_keys), exp)
    assert not B.check_checksum(good.state_checksum(ctx.spark), exp)
    # a table that missed the second half of the log is wrong
    half = st.n_events // 2
    bad = IcebergLiteTable(ctx.path("bad"), n_buckets=B.N_BUCKETS)
    events = decode_events_typed(ctx.spark.read.parquet(st.land)).filter(F.col("seq") < half)
    replay(events, bad, batch_id="b", tables=["repo_files"])
    assert B.check_count(bad.read(ctx.spark).count(), exp)
    assert B.check_read(H.read_keys_sha(ctx.spark, bad, exp.sample_keys), exp)
    assert B.check_checksum(bad.state_checksum(ctx.spark), exp)


def test_tail_checks_reject_a_wrong_read_and_state(ctx_factory):
    import microbatch_tail as M

    ctx = ctx_factory("microbatch_tail")
    st = M.prepare(ctx, M.setup(ctx))
    batches: list = []
    M.drain(ctx, st, batches)
    checksum = st.table.state_checksum(ctx.spark)
    out = H.Outcome()
    M.check(st, batches, checksum, out)
    assert out.failed == 0 and out.attempted == 2 * len(st.files) + 1
    # one point read that does not match the state after its commit
    wrong = [M.Batch(**{**b.__dict__}) for b in batches]
    k = next(iter(wrong[-1].read), None) or st.samples[-1][0]
    wrong[-1].read = {**wrong[-1].read, k: "0" * 64}
    out = H.Outcome()
    M.check(st, wrong, checksum, out)
    assert out.failed == 1
    # a final table state that lost one row
    out = H.Outcome()
    M.check(st, batches, checksum[1:], out)
    assert out.failed == 1
    # a batch that never committed
    out = H.Outcome()
    M.check(st, batches[:-1], checksum, out)
    assert out.failed == 2


def test_binlog_checks_reject_a_wrong_artifact(ctx_factory):
    import binlog_rollback_sql as R

    ctx = ctx_factory("binlog_rollback_sql")
    st = R.setup(ctx)
    exp = R.prepare(ctx, st)
    out_dir = ctx.path("out")
    R.write_artifact(ctx, st, out_dir)
    text = R.read_artifact(out_dir)
    assert not R.check_artifact(text, exp)
    gno = st.lookup_gnos[0]
    stmts = R.lookup(ctx, st, gno)
    assert not R.check_lookup(stmts, gno, exp, text)
    assert Counter(R._kind(s) for s in stmts) == exp.per_gno[gno]

    lines = text.splitlines(keepends=True)
    stmt_at = next(i for i, ln in enumerate(lines) if not ln.startswith("#"))
    # one statement lost
    assert R.check_artifact("".join(lines[:stmt_at] + lines[stmt_at + 1:]), exp)
    # transactions in forward instead of reverse binlog order
    blocks, cur = [], []
    for ln in lines:
        if ln.startswith("# GTID ") and cur:
            blocks.append(cur)
            cur = []
        cur.append(ln)
    blocks.append(cur)
    assert R.check_artifact("".join(ln for b in reversed(blocks) for ln in b), exp)
    # a lookup missing one statement, or with one the artifact lacks
    assert R.check_lookup(stmts[1:], gno, exp, text)
    assert R.check_lookup(stmts + [stmts[0]], gno, exp, text)
