"""The benchmark's own tests, at a tiny input size.

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

The file is not named ``test_*.py``, so the repository's own pytest run
does not collect it. Every test that needs Spark runs it in a
subprocess (a few minutes in all); none starts a session in the pytest
process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _run(*args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.fixture(scope="module", params=sorted(workloads.WORKLOADS))
def traced_run(request):
    """One tiny traced run per workload: (stdout JSON, artifact record)."""
    w = request.param
    proc = _run("--workload", w, "--seed", "3", "--seconds", "0", "--trace", "1", "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench_out", f"{w}-seed3-trace1.json")) as fh:
        record = json.load(fh)
    return result, record


def test_every_workload_emits_every_metric_with_its_unit(traced_run):
    result, record = traced_run
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = dict(workloads.per_layer_names())
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert set(record["end_to_end"]) == {name for name, _unit in workloads.END_TO_END}
    assert all(v > 0 for v in record["end_to_end"].values())
    for key in ("nproc", "SPARK_GRAFT_CPUS", "KGPIPE_DRIVER_MEM", "spark", "java", "python"):
        assert record["env"][key]
    assert "load_1m_start" in record and "load_1m_end" in record


def test_traced_spans_nest_with_nonnegative_self_time(traced_run):
    _result, record = traced_run
    recorded = [spans.Span(**s) for s in record["spans"]]
    tracer = spans.Tracer()
    tracer.spans = recorded
    assert recorded
    for sp in recorded:
        assert sp.end is not None and sp.end >= sp.start
        assert tracer.self_time(sp) >= -1e-9
        if sp.parent is not None:
            parent = recorded[sp.parent]
            assert parent.start <= sp.start
            if parent.thread == sp.thread:
                assert sp.end <= parent.end


def test_benchmark_json_matches_the_code():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {(m["name"], m["unit"]) for m in spec["end_to_end"]} == set(workloads.END_TO_END)
    assert {(m["name"], m["unit"]) for m in spec["per_layer"]} == set(workloads.per_layer_names())


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "ops-suite", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


# -- gates ---------------------------------------------------------------------

_TRIPLES_GATE = """
import json
from gates import fingerprint, triples_fingerprint
from kgpipe.corpus import corpus_to_dataframes, generate_corpus
from kgpipe.golden import golden_triples
from kgpipe.pipeline import build_graph
from kgpipe.session import get_spark

spark = get_spark(app_name="perfbench-gate-test", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
corpus = generate_corpus(n_hanzi=12, n_words=10, n_idioms=8, seed=5)
cdf, sdf = corpus_to_dataframes(spark, corpus)
got = fingerprint(build_graph(spark, cdf, sdf).triples)
gold = golden_triples(corpus)
subj, pred, obj = sorted(gold)[0]
swapped = (gold - {(subj, pred, obj)}) | {(subj, pred, obj + "x")}
print(json.dumps({
    "golden": triples_fingerprint(spark, gold) == got,
    "swapped": triples_fingerprint(spark, swapped) == got,
    "dropped": triples_fingerprint(spark, gold - {(subj, pred, obj)}) == got,
}))
spark.stop()
"""


def test_triples_gate_trips_on_a_perturbed_triple_set():
    env = dict(os.environ, KGPIPE_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join([HERE, ROOT]))
    proc = subprocess.run([sys.executable, "-c", _TRIPLES_GATE], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    same = json.loads(proc.stdout.strip().splitlines()[-1])
    assert same == {"golden": True, "swapped": False, "dropped": False}


def test_ops_gate_trips_on_a_perturbed_row():
    import duckdb

    from gates import normalize_rows, oracle_rows

    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    con = duckdb.connect()
    try:
        sql = "SELECT * FROM (VALUES ({}), ('b', 1.25::DOUBLE, 2)) t(s, v, k)"
        same = oracle_rows(con, sql.format("'a', 0.5::DOUBLE, 1"), ["k", "s", "v"])
        assert same == normalize_rows(rows)  # columns matched by name, any row order
        off = oracle_rows(con, sql.format("'a', 0.5000001::DOUBLE, 1"), ["k", "s", "v"])
        assert off != normalize_rows(rows)
    finally:
        con.close()


# -- tracer and event-log fold ----------------------------------------------------

def test_spans_nest_across_threads():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)

        def work():
            with tr.span("in-thread"):
                time.sleep(0.01)

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    outer, inner, threaded = tr.spans
    assert inner.parent == outer.sid and threaded.parent == outer.sid
    assert threaded.thread != outer.thread
    assert 0 <= tr.self_time(outer) <= outer.duration - 0.015


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert spans.covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2)
    assert spans.covered([], 0, 10) == 0


def test_event_log_fold_attributes_jobs(tmp_path):
    tr = spans.Tracer()
    with tr.span("a") as a:
        time.sleep(0.02)
    t_mid = (a.start + a.end) / 2 * 1000

    def job(jid, stages, tag=None):
        props = {eventlog.SPAN_PROPERTY: str(tag)} if tag is not None else {}
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_mid,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_mid + 1},
        ]

    def task(stage, run_ms, write=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 1,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": 3},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": write}}}

    events = job(0, [0]) + job(1, [1], tag=7) + [task(0, 100, 10), task(0, 300), task(1, 5)]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    jobs = eventlog.read_jobs(str(log))
    eventlog.attribute(jobs, tr)
    assert jobs[0].span == a.sid and jobs[1].span == 7
    st = eventlog.stats_for(jobs, {a.sid})
    assert st.jobs == 1 and st.task_s == pytest.approx(0.4)
    assert st.shuffle_write_bytes == 10 and st.shuffle_read_bytes == 6
    assert st.task_skew == pytest.approx(300 / 200)
