"""Tests for the benchmark's own code: the event-log parser, the seeded
generator, the MinHash recomputation the checks use and the metric
names against BENCHMARK.json. None starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

EVENT_LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


# ---------------------------------------------------------------- parser


def test_event_log_counts_and_bytes():
    # recorded from a local[2] session: two write_table calls (create,
    # then write-then-swap), a collect, two parquet writes and a 4-file
    # foreachBatch stream; trimmed to the fields the parser reads
    log = tracing.EventLog(EVENT_LOG)
    m = log.window(0.0, 4e9, slots=2)
    assert m["spark.jobs"] == 10
    assert m["spark.stages"] == 10
    assert m["spark.tasks"] == 15
    assert m["spark.files_written"] == 8
    assert m["spark.shuffle_bytes"] == 728
    assert m["spark.input_bytes"] == 4223
    assert m["spark.output_bytes"] == 13311
    assert m["spark.spill_bytes"] == 0
    assert m["spark.executor_cpu_s"] == pytest.approx(1.154891638)
    # the four jobs under a write (two table writes, two parquet writes)
    assert m["sources.write_jobs"] == 4
    assert m["sources.write_s"] == pytest.approx(3.363, abs=1e-3)


def test_event_log_window_and_gaps():
    log = tracing.EventLog(EVENT_LOG)
    first = min(j["submit"] for j in log.jobs.values())
    last = max(j["end"] for j in log.jobs.values())
    m = log.window(first, last, slots=2)
    assert m["spark.jobs"] == 10
    busy = (last - first) - m["spark.job_gap_s"]
    assert 0 < busy <= last - first
    assert 0 < m["spark.slot_busy_ratio"] < 1
    # nothing starts in an empty window
    assert log.window(last + 10, last + 20, slots=2)["spark.jobs"] == 0


def test_event_log_streaming():
    log = tracing.EventLog(EVENT_LOG)
    assert [p["batch_id"] for p in log.progress] == [0, 1, 2, 3]
    assert all(p["rows"] == 5 for p in log.progress)
    assert log.jobs_per_batch(0.0, 4e9) == 1.0
    stats = tracing.batch_stats(log.progress)
    assert stats["addbatch_s"] == pytest.approx((0.083 + 0.097) / 2)
    # triggerExecution - addBatch: 346, 178, 132, 149 ms
    assert stats["overhead_s"] == pytest.approx((0.178 + 0.149) / 2)
    assert stats["growth"] == pytest.approx(0.077 / 0.196)


def test_union_seconds_merges_overlaps_and_clips():
    assert tracing._union_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing._union_seconds([(-5, 1), (9, 20)], 0, 10) == 2
    assert tracing._union_seconds([], 0, 10) == 0


def test_plan_root_strips_execute_and_codegen_markers():
    assert tracing._plan_root("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (4)") == (
        "InsertIntoHadoopFsRelationCommand"
    )
    assert tracing._plan_root("== Physical Plan ==\n* ColumnarToRow (2)") == "ColumnarToRow"


def test_tracer_spans_share_run_id_and_nest(tmp_path):
    t = tracing.Tracer()
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    t.add("added", 1.0, 2.0)
    path = tmp_path / "trace.json"
    t.write(str(path))
    spans = json.loads(path.read_text())["spans"]
    assert {s["run_id"] for s in spans} == {t.run_id}
    assert spans[1]["parent"] == outer["id"]
    assert spans[2]["parent"] is None
    assert all(s["end"] >= s["start"] for s in spans)


# ------------------------------------------------------------- generator


def _digest(paths):
    return [hashlib.sha256(open(p, "rb").read()).hexdigest() for p in paths]


def _rows(paths):
    return [tuple(r.values()) for p in paths for r in pq.read_table(p).to_pylist()]


@pytest.fixture(scope="module")
def docs():
    return gen.base_tables(("documents",))["documents"].slice(0, 200)


def test_base_tables_fixed_shaped_and_independent():
    names = ("customer", "lineitem", "documents")
    a, b = gen.base_tables(names), gen.base_tables(names)
    assert list(a) == list(names)
    assert all(a[n].equals(b[n]) for n in names)
    assert a["lineitem"].num_rows == gen.N_LINEITEM
    assert a["customer"].column("c_name")[0].as_py() == "Customer#000000000"
    # a table does not depend on which others are built with it
    assert gen.base_tables(("documents",))["documents"].equals(a["documents"])


def test_write_shuffled_same_seed_identical_files(tmp_path, docs):
    p1 = gen.write_shuffled(docs, str(tmp_path / "a"), seed=7)
    p2 = gen.write_shuffled(docs, str(tmp_path / "b"), seed=7)
    assert _digest(p1) == _digest(p2)


def test_write_shuffled_other_seed_same_rows_other_order(tmp_path, docs):
    p1 = gen.write_shuffled(docs, str(tmp_path / "a"), seed=7)
    p2 = gen.write_shuffled(docs, str(tmp_path / "b"), seed=8)
    r1, r2 = _rows(p1), _rows(p2)
    assert r1 != r2
    assert sorted(r1) == sorted(r2) == sorted(tuple(r.values()) for r in docs.to_pylist())
    assert 2 <= len(p1) <= 5


def test_near_dup_corpus_seeded(docs):
    a = gen.near_dup_corpus(docs, seed=3, copies=4)
    assert a.equals(gen.near_dup_corpus(docs, seed=3, copies=4))
    b = gen.near_dup_corpus(docs, seed=4, copies=4)
    assert a.num_rows == b.num_rows == 4 * docs.num_rows
    assert sorted(a.column("doc_id").to_pylist()) == list(range(4 * docs.num_rows))
    assert a.column("text").to_pylist() != b.column("text").to_pylist()
    # copy 0 is verbatim
    assert a.column("text").to_pylist()[: docs.num_rows] == docs.column("text").to_pylist()


def test_ingest_split_disjoint_and_seeded(docs):
    index, batches = gen.ingest_split(docs, seed=5, n_batches=2, batch_rows=10)
    ids = [i for b in batches for i in b.column("doc_id").to_pylist()]
    assert index.num_rows == docs.num_rows // 2
    assert [b.num_rows for b in batches] == [10, 10]
    assert len(ids) == len(set(ids)) == 20
    assert not set(ids) & set(index.column("doc_id").to_pylist())
    # two near copies per batch, with ids above every document's
    assert sorted(i for i in ids if i >= docs.num_rows) == list(range(docs.num_rows, docs.num_rows + 4))
    assert batches[0].schema == docs.schema
    index2, batches2 = gen.ingest_split(docs, seed=5, n_batches=2, batch_rows=10)
    assert index.equals(index2) and all(x.equals(y) for x, y in zip(batches, batches2))
    _, other = gen.ingest_split(docs, seed=6, n_batches=2, batch_rows=10)
    ids_of = [b.column("doc_id").to_pylist() for b in batches]
    assert [b.column("doc_id").to_pylist() for b in other] != ids_of
    with pytest.raises(ValueError):
        gen.ingest_split(docs, seed=5, n_batches=2, batch_rows=docs.num_rows)


# ----------------------------------------------------- MinHash recompute

LONG = " ".join(f"w{i}" for i in range(40))


def _edit(text: str, pos: int, word: str) -> str:
    words = text.split(" ")
    words[pos] = word
    return " ".join(words)


def test_signatures_seeded_and_null_without_shingles():
    a, b = check.signatures([LONG, "too short"], 3), check.signatures([LONG, "too short"], 3)
    assert a[0].dtype.name == "int64" and len(a[0]) == check.NUM_HASHES
    assert (a[0] == b[0]).all()
    assert a[1] is None
    # shingles are a set: "w38 w39 w0" is already in the doubled text
    twice = LONG + " " + LONG
    assert (check.signatures([twice], 3)[0] == check.signatures([twice + " w0"], 3)[0]).all()


def test_lsh_dedup_keeps_min_id_per_component():
    near = _edit(LONG, 20, "x")
    other = " ".join(f"v{i}" for i in range(40))
    ids = [7, 3, 5, 9, 4]
    texts = [LONG, near, LONG, other, "too short"]
    # 5 is an exact copy of 7 (the lower id of the pair, 5, stays), 3 is a
    # near copy of both, 9 and the shingle-less 4 are unique
    assert check.lsh_dedup_survivors(ids, texts) == [3, 4, 9]


def test_lsh_dedup_caps_hot_buckets_with_star_pairs():
    # 3 identical signatures share every bucket: over a cap of 2 they join
    # the min id without a threshold test
    ids, texts = [1, 2, 3], [LONG] * 3
    assert check.lsh_dedup_survivors(ids, [t + f" u{i}" for i, t in zip(ids, texts)],
                                     max_bucket_size=2) == [1]


def test_incremental_dedup_probes_index_and_batch_then_appends():
    other = " ".join(f"v{i}" for i in range(40))
    third = " ".join(f"z{i}" for i in range(40))
    survivors, rows = check.incremental_dedup(
        ([1], [LONG]),
        [([10, 11], [_edit(LONG, 39, "q"), other]),   # 10 matches the index
         ([12, 13], [_edit(other, 30, "q"), third])],  # 12 matches appended 11
    )
    assert survivors == [11, 13]
    assert sorted({r[0] for r in rows}) == [1, 11, 13]
    assert len(rows) == 3 * check.BANDS
    assert all(len(r[2]) == check.NUM_HASHES for r in rows)


def _index_table(rows):
    import pyarrow as pa

    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "band": pa.array([r[1] for r in rows], pa.int32()),
        "sig": pa.array([r[2] for r in rows], pa.list_(pa.int64())),
    })


def test_index_rows_compare_order_insensitively():
    import workloads

    sig = list(range(check.NUM_HASHES))
    rows = [(5, 1, sig), (2, 0, sig[::-1]), (5, 0, sig)]
    m = workloads._index_rows(_index_table(rows))
    assert m[:, :2].tolist() == [[2, 0], [5, 0], [5, 1]]
    assert (workloads._index_rows(_index_table(rows[::-1])) == m).all()
    changed = [(5, 1, sig[:-1] + [99]), *rows[1:]]
    assert not (workloads._index_rows(_index_table(changed)) == m).all()
    with pytest.raises(ValueError):
        workloads._index_rows(_index_table([(1, 0, sig[:-1])]))


# ------------------------------------------------------ BENCHMARK.json


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert list(run.END_TO_END) == [m["name"] for m in spec["end_to_end"]]


def test_workloads_match_benchmark_json(spec):
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_result_line_has_exactly_the_contract_keys():
    line = run.result_line(True, 3, 0, {"run_s": 1.5}, run.END_TO_END)
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert obj["metrics"] == {"run_s": {"value": 1.5, "unit": "s"}}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "medallion_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "{" not in proc.stdout
    assert not (tmp_path / ".perfbench_work").exists()

