"""Tests of the benchmark's own arithmetic and bookkeeping (no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import ledger  # noqa: E402
import oracle  # noqa: E402
from ledger import Span, Tracer  # noqa: E402
from workloads import WORKLOADS, Ctx, block_rows  # noqa: E402


# ------------------------------------------------------ percentile rule ----


@pytest.mark.parametrize(
    "n,want",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert ledger.tail_percentile(n) == want


def test_latency_summary_reports_median_and_supported_tail():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    s = ledger.latency_summary(vals)
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == 90.0  # nearest rank
    assert sum(v > s["tail"] for v in vals) == 10
    few = ledger.latency_summary([3.0, 1.0, 2.0])
    assert few == {"n": 3, "p50": 2.0}  # no percentile has ten beyond it


# ---------------------------------------------------- self-time arithmetic --


def test_union_length_merges_overlaps_once():
    assert ledger.union_length([]) == 0.0
    assert ledger.union_length([(0, 1), (2, 3)]) == 2.0
    assert ledger.union_length([(0, 2), (1, 3)]) == 3.0
    assert ledger.union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert ledger.union_length([(1, 2), (0, 1)]) == 2.0  # touching
    assert ledger.union_length([(5, 5), (3, 2)]) == 0.0  # empty / reversed


def test_self_time_clips_children_to_the_span():
    assert ledger.self_time(0, 10, []) == 10
    assert ledger.self_time(0, 10, [(1, 3), (2, 4)]) == 7  # 3 s covered
    assert ledger.self_time(0, 10, [(-5, 2), (9, 20)]) == 7  # clipped
    assert ledger.self_time(0, 10, [(0, 10), (3, 4)]) == 0
    assert ledger.self_time(0, 10, [(12, 15)]) == 10


def test_tree_cpu_counts_this_process_busy_time():
    t0 = ledger.tree_cpu_s()
    end = time.perf_counter() + 0.3
    while time.perf_counter() < end:
        pass
    assert 0.15 <= ledger.tree_cpu_s() - t0 <= 1.0


# ------------------------------------------------- failure accounting -----


def _ctx():
    return Ctx(spark=None, seed=0, tracer=Tracer("t"), rng=np.random.default_rng(0))


def test_oracle_mismatch_counts_as_failed_op():
    ctx = _ctx()
    want = {"n": 3, "h_url": 7}
    out = ctx.op("mask", lambda: {"n": 5, "h_url": 7}, lambda got: oracle.diff(got, want))
    assert out == {"n": 5, "h_url": 7}
    assert (ctx.attempted, ctx.failed) == (1, 1)
    assert ctx.failures[0]["op"] == "mask" and "n" in ctx.failures[0]["why"]
    assert len(ctx.lat["mask"]) == 1  # it completed, so its latency counts

    ctx.op("mask", lambda: {"n": 3, "h_url": 7}, lambda got: oracle.diff(got, want))
    assert (ctx.attempted, ctx.failed) == (2, 1)


def test_raising_op_and_raising_check_count_as_failed():
    ctx = _ctx()

    def boom():
        raise ValueError("no such table")

    assert ctx.op("append", boom) is None
    ctx.op("append", lambda: 1, lambda _: 1 / 0)
    assert (ctx.attempted, ctx.failed) == (2, 2)
    assert "ValueError" in ctx.failures[0]["why"]
    assert "ZeroDivisionError" in ctx.failures[1]["why"]


def test_warmup_ops_are_not_counted_and_a_raise_aborts_the_run():
    ctx = _ctx()
    ctx.recording = False
    ctx.op("lookup", lambda: [], lambda rows: "checks run only when measuring")
    assert (ctx.attempted, ctx.failed, ctx.lat) == (0, 0, {})

    def boom():
        raise OSError("table missing")

    with pytest.raises(RuntimeError, match="warm-up"):
        ctx.op("lookup", boom)


def test_checksum_detects_a_duplicated_row():
    import pyarrow as pa

    t = pa.table({"url": ["a", "b"], "lang": ["en", None]})
    dup = pa.table({"url": ["a", "b", "b"], "lang": ["en", None, None]})
    want = oracle.checksum(t, ("url", "lang"))
    assert want["n"] == 2 and want["n_lang"] == 1
    assert oracle.diff(oracle.checksum(t, ("url", "lang")), want) is None
    assert oracle.diff(oracle.checksum(dup, ("url", "lang")), want) is not None


def test_row_digests_detect_a_row_decoded_twice():
    import pyarrow as pa

    from gen import SCHEMA

    t = pa.table(
        {
            "url": ["a", "b"],
            "warc_ts": pa.array([1, 2], pa.int64()).cast(SCHEMA.field("warc_ts").type),
            "html": [b"<p>x\xff", b"<p>y"],
            "text": ["x", "y"],
            "lang": ["en", None],
        },
        schema=SCHEMA,
    )
    want = oracle.row_digests(t)
    assert oracle.digests_diff(list(want), want) is None
    # a row decoded twice in place of another keeps the row count
    twice = [want[0], want[0]]
    assert "more than once" in oracle.digests_diff(sorted(twice), want)
    assert "3 rows decoded" in oracle.digests_diff(sorted(want + [want[1]]), want)
    changed = [want[0], ("b",) + want[1][1:3] + ("de",) + want[1][4:]]
    assert "1 rows differ" in oracle.digests_diff(changed, want)


def test_curate_oracles():
    assert oracle.shingles("a b") == {"a b"}
    assert oracle.jaccard("a b c d", "a b c e") == pytest.approx(1 / 3)
    assert oracle.components([(5, 3), (3, 9), (1, 2)]) == {5: 3, 3: 3, 9: 3, 1: 1, 2: 1}
    dup, top = oracle.repetition("x y x y")
    assert dup == 0.5 and top == pytest.approx(2 / 3)
    assert oracle.repetition("x") == (0.0, 0.0)
    assert oracle.round4(0.03125) == 0.0313  # half-up, not half-even
    assert oracle.quality("to be or", ["to"]) == (3, 2.0, 0.3333)


# ---------------------------------------------- event-log attribution -----

# a tiny log: jobs 0-1 under span r.1 (op encode_fast, via its child span
# r.2), job 2 under r.3 (op lookup), job 3 with no group (outside spans);
# stage 1 is listed again by job 1 as a skipped (reused) stage
FIXTURE = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_100,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r.2"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Metrics": {"Executor Run Time": 1000, "Input Metrics": {"Bytes Read": 2_000_000},
                      "Shuffle Write Metrics": {"Shuffle Bytes Written": 500_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
     "Task Metrics": {"Executor Run Time": 400,
                      "Shuffle Read Metrics": {"Local Bytes Read": 500_000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 100}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 200}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 11_100},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_600,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "r.2"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 300}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11_600},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20_500,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "r.3"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 50}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 20_700},
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 30_000,
     "Stage IDs": [4], "Properties": {}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {"Executor Run Time": 9000}},
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 31_000},
]
SPANS = [
    Span("r.2", "encode.encode_to_path", "encode_fast", "r.1", 10.05, 11.9, "r"),
    Span("r.1", "encode_fast", "encode_fast", None, 10.0, 12.0, "r"),
    Span("r.3", "lookup", "lookup", None, 20.0, 21.0, "r"),
]


def test_event_log_attribution_to_spans():
    log = ledger.read_event_log(json.dumps(e) for e in FIXTURE)
    recs = ledger.attribute(log, SPANS)
    assert set(recs) == {"r.1", "r.3"}  # top-level spans only
    enc = ledger.span_metrics(recs["r.1"])
    assert enc["jobs"] == 2
    # jobs cover [10.1, 11.6] of the span [10, 12]: 0.5 s self time
    assert enc["driver_self_s"] == pytest.approx(0.5)
    # stage 1 counted once, for job 0 that ran it: 1.0 + 0.7 + 0.3
    assert enc["task_s"] == pytest.approx(2.0)
    # longest stage is stage 0 (1 task): max/median = 1
    assert enc["task_skew"] == pytest.approx(1.0)
    assert enc["shuffle_mb"] == pytest.approx(0.5)
    assert enc["input_mb"] == pytest.approx(2.0)

    look = ledger.span_metrics(recs["r.3"])
    assert look["jobs"] == 1 and look["task_s"] == pytest.approx(0.05)
    assert look["driver_self_s"] == pytest.approx(0.8)

    led = ledger.op_ledger(log, SPANS, ["encode_fast", "lookup", "mask"])
    assert led["encode_fast.jobs"] == 2.0
    assert led["lookup.driver_self_s"] == pytest.approx(0.8)
    assert all(led[f"mask.{f}"] == 0.0 for f in ledger.OP_FIELDS)  # not run


def test_task_skew_is_max_over_median_of_the_longest_stage():
    rec = {
        "span": SPANS[1],
        "jobs": [],
        "stages": {7: [{"run_s": s, "shuffle_write": 0, "input": 0} for s in (1.0, 1.0, 4.0)],
                   8: [{"run_s": 0.1, "shuffle_write": 0, "input": 0}]},
    }
    assert ledger.span_metrics(rec)["task_skew"] == pytest.approx(4.0)


def test_tracer_nests_spans_and_inherits_the_op():
    tr = Tracer("r")
    with tr.span("delete"):
        with tr.span("encode.delete_rows"):
            pass
    child, top = tr.spans
    assert top.parent is None and child.parent == top.id
    assert child.op == "delete" and top.start <= child.start <= child.end <= top.end


# ------------------------------------------------ generator and kernels ---


def test_generator_is_seeded_and_keeps_its_traits():
    import gen

    a, b = gen.generate(3, 300), gen.generate(3, 300)
    assert gen.content_hash(a) == gen.content_hash(b)
    assert gen.content_hash(gen.generate(4, 300)) != gen.content_hash(a)
    delta = gen.generate(3, 50, start=300)
    urls = a["url"].to_pylist() + delta["url"].to_pylist()
    assert len(set(urls)) == len(urls)  # urls unique across appends
    texts = a["text"].to_pylist()
    assert texts[0] == "" and texts[2] == "x" and a["lang"][4].as_py() is None
    assert a["html"][5].as_py() == b"" and a["warc_ts"][6] == a["warc_ts"][7]
    assert any(b"\xff" in h for h in a["html"].to_pylist())  # invalid UTF-8
    assert len(set(texts)) < len(texts)  # exact duplicates present


def test_kernel_microbench_round_trips_every_column():
    import gen
    import kernels

    metrics, bad = kernels.kernel_metrics(gen.generate(1, 200))
    assert bad == []
    assert len(metrics) == 20 and all(v > 0 for v in metrics.values())


# ------------------------------------------------------- metric spec ------


def test_blocks_keep_the_1024_row_floor_and_ingest_stays_on_the_hash_side():
    assert block_rows(4_000) == 1024 and block_rows(1_000_000) == 1_000_000 // 256
    ing = WORKLOADS["ingest"]
    # encode.py plans LPT placement when est_rows >= 64 x target_rows_per_block
    assert ing.rows < 64 * block_rows(ing.rows)


def test_read_runs_serve_then_curate():
    read, serve, curate = WORKLOADS["read"], WORKLOADS["serve"], WORKLOADS["curate"]
    assert read.ops == {**serve.ops, **curate.ops}
    assert not set(serve.ops) & set(curate.ops)
    assert [type(w) for w in read.parts] == [type(serve), type(curate)]


def test_benchmark_json_matches_the_runner():
    import run

    path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == run.PER_LAYER
    assert len(layer) == 116
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
