"""Self-tests of the benchmark: seeded inputs, the output check, spans.

    python3 -m pytest perfbench -q -p no:cacheprovider

No Spark: the output check runs on a job-shaped output built in-process
with the kernel, the way ``filter_job`` lays it out (``bucket=b`` dirs of
``crc32(conv_id) % n`` plus one ``_progress`` JSON row per bucket).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import zlib

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import outcheck  # noqa: E402
import spans as sp  # noqa: E402
import workloads  # noqa: E402

RUN_ID = "t"
N_BUCKETS = 3


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads, "SYNTH_CONVS", 40)
    monkeypatch.setattr(workloads, "LONGTAIL_CONVS", 12)


@pytest.mark.parametrize("gen", ["synth", "longtail"])
def test_same_seed_same_input_other_seed_other_input(small, gen):
    make = workloads.GENERATORS[gen]
    assert make(3) == make(3)
    assert make(3) != make(4)


def test_materialized_input_is_a_function_of_the_seed(small, tmp_path):
    a, prof_a = workloads.materialize("longtail-b1", 5, str(tmp_path / "a"))
    b, prof_b = workloads.materialize("longtail-b1", 5, str(tmp_path / "b"))
    c, _ = workloads.materialize("longtail-b1", 6, str(tmp_path / "c"))
    assert workloads.read_input(a).equals(workloads.read_input(b))
    assert not workloads.read_input(a).equals(workloads.read_input(c))
    assert prof_a == prof_b
    assert prof_a["turns"] == workloads.read_input(a).num_rows
    assert len(os.listdir(a)) == workloads.N_PARTS


@pytest.fixture(scope="module")
def oracle():
    return outcheck.oracle()


@pytest.fixture
def job_output(tmp_path, monkeypatch):
    """A correct job output for a small synth input."""
    from languagedetection_spark.jobs.filter_job import build_model

    monkeypatch.setattr(workloads, "SYNTH_CONVS", 60)
    data, _ = workloads.materialize("resume-export", 9, str(tmp_path / "cache"))
    inp = workloads.read_input(data)
    res = build_model(None, None).decide_batch(inp.column("text").to_pylist())
    decided = pa.Table.from_pandas(res, preserve_index=False)
    table = inp
    for name in decided.column_names:
        table = table.append_column(name, decided.column(name))
    bucket = pa.array([zlib.crc32(c.encode()) % N_BUCKETS
                       for c in table.column("conv_id").to_pylist()])
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    os.makedirs(ckpt / "_progress")
    for b in range(N_BUCKETS):
        part = table.filter(pc.equal(bucket, b))
        os.makedirs(out / f"bucket={b}")
        pq.write_table(part, out / f"bucket={b}" / "part-00000.parquet")
        reasons = {}
        for r in part.column("drop_reason").to_pylist():
            if r is not None:
                reasons[r] = reasons.get(r, 0) + 1
        row = {"run_id": RUN_ID, "bucket": b, "status": "done",
               "n_rows": part.num_rows,
               "n_kept": sum(part.column("keep").to_pylist()),
               "drop_reasons": reasons}
        with open(ckpt / "_progress" / f"{RUN_ID}-{b}.json", "w") as f:
            f.write(json.dumps(row) + "\n")
    return inp, str(out), str(ckpt)


def _check(job_output, oracle):
    inp, out, ckpt = job_output
    return outcheck.check_job_output(inp, out, ckpt, RUN_ID, N_BUCKETS,
                                     oracle, seed=1, sample=50)


def _rewrite_bucket(out, b, edit):
    path = os.path.join(out, f"bucket={b}", "part-00000.parquet")
    pq.write_table(edit(pq.read_table(path)), path)


def test_check_accepts_a_correct_output(job_output, oracle):
    assert _check(job_output, oracle).num_rows == job_output[0].num_rows


def test_check_rejects_a_missing_bucket_dir(job_output, oracle):
    shutil.rmtree(os.path.join(job_output[1], "bucket=1"))
    with pytest.raises(outcheck.CheckError, match="missing bucket dir"):
        _check(job_output, oracle)


def test_check_rejects_a_duplicated_turn(job_output, oracle):
    _rewrite_bucket(job_output[1], 0,
                    lambda t: pa.concat_tables([t, t.slice(0, 1)]))
    with pytest.raises(outcheck.CheckError, match="duplicated"):
        _check(job_output, oracle)


def test_check_rejects_a_flipped_keep(job_output, oracle):
    def flip(t):
        keep = t.column("keep").to_pylist()
        keep[0] = not keep[0]
        i = t.column_names.index("keep")
        return t.set_column(i, "keep", pa.array(keep))

    _rewrite_bucket(job_output[1], 2, flip)
    with pytest.raises(outcheck.CheckError, match="keep disagrees"):
        _check(job_output, oracle)


def test_check_rejects_a_progress_row_with_wrong_n_rows(job_output, oracle):
    path = os.path.join(job_output[2], "_progress", f"{RUN_ID}-1.json")
    with open(path) as f:
        row = json.loads(f.read())
    row["n_rows"] += 1
    with open(path, "w") as f:
        f.write(json.dumps(row) + "\n")
    with pytest.raises(outcheck.CheckError, match="n_rows"):
        _check(job_output, oracle)


def test_self_time_on_a_hand_built_span_tree():
    def span(i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name, "start": start,
                "end": end, "error": None}

    tree = [
        span(0, None, "root", 0.0, 10.0),
        span(1, 0, "a", 1.0, 4.0),
        span(2, 0, "b", 3.0, 6.0),     # overlaps a: covered once
        span(3, 1, "c", 2.0, 3.0),
        span(4, None, "tail", 9.0, 12.0),
        span(5, 0, "a", 7.0, 8.0),     # a second "a": self times add up
    ]
    assert sp.self_times(tree) == {"root": 4.0, "a": 3.0, "b": 3.0,
                                   "c": 1.0, "tail": 3.0}
    assert sp.totals(tree)["a"] == 4.0
    assert sp.top_level_covered(tree, 0.0, 12.0) == 12.0
    assert sp.top_level_covered(tree, -2.0, 20.0) == 12.0
    assert sp.top_level_covered(tree, 5.0, 11.0) == 6.0


def test_tracer_nests_closes_on_error_and_ends_intervals():
    now = [0.0]
    t = sp.Tracer(clock=lambda: now[0])

    def tick(fn):
        def f(*a):
            now[0] += 1.0
            return fn(*a)
        return f

    inner = t.wrap(tick(lambda: None), "inner")
    t.wrap(tick(lambda: inner()), "outer")()
    t.wrap(tick(lambda: None), "plan", interval=True)()
    now[0] += 5.0                         # the caller runs the plan
    with pytest.raises(ValueError):
        t.wrap(tick(lambda: (t.begin("open"), int("x"))), "failing")()
    got = {s["name"]: s for s in t.finish()}
    assert got["inner"]["parent"] == got["outer"]["id"]
    assert (got["outer"]["start"], got["outer"]["end"]) == (0.0, 2.0)
    assert got["plan"]["parent"] is None
    assert (got["plan"]["start"], got["plan"]["end"]) == (2.0, 8.0)
    assert got["failing"]["error"] == "ValueError"
    assert got["open"]["end"] == got["failing"]["end"] == 9.0
    assert got["open"]["error"] == "parent ended"
