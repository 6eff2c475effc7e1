"""The benchmark's own checks: the event-log fold on a tiny recorded log,
the span bookkeeping, the correctness gates and the input cache. No Spark
session is started.

  python3 -m pytest perfbench/tests -q

``tiny_eventlog`` was recorded at local[2] from one op ``t1``: a
``synth``-tagged ``mapInPandas`` materialized by ``localCheckpoint`` under
job description ``tiny:driver``, then a group-by count under
``tiny:clustering``; a last ``count`` ran outside any op. Only the event
fields the fold reads were kept.
"""

import inspect
import os
import pickle
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import eventlog
import run
import spans
from workloads import pairwise_f1

LOG = os.path.join(os.path.dirname(__file__), "tiny_eventlog")
LAYERS = ("driver", "synth", "clustering")


def test_fold_attributes_jobs_tasks_and_python_time():
    f = eventlog.fold(LOG, LAYERS, {"t1"})
    assert f.layers["driver"]["jobs"] == 1
    assert f.layers["driver"]["tasks"] == 2
    assert f.layers["clustering"]["jobs"] == 3
    assert f.layers["clustering"]["tasks"] == 4
    assert f.layers["clustering"]["shuffle_bytes"] == 407
    # the UDF ran in a driver-described job but was built under synth
    assert f.layers["driver"]["python_s"] == 0
    assert f.layers["synth"]["python_s"] == pytest.approx(4.294)
    assert all(b["failed_tasks"] == 0 for b in f.layers.values())


def test_fold_skips_ops_not_asked_for():
    f = eventlog.fold(LOG, LAYERS, {"t2"})
    assert all(v == 0 for b in f.layers.values() for v in b.values())


def test_no_job_s_is_op_time_outside_every_job():
    f = eventlog.fold(LOG, LAYERS, {"t1"})
    spans_ms = sorted(f.job_spans["t1"])
    t0, t1 = spans_ms[0][0] - 1000, spans_ms[-1][1] + 500
    covered = sum(b - a for a, b in spans_ms)  # the four jobs do not overlap
    assert f.no_job_s("t1", t0, t1) == pytest.approx((t1 - t0 - covered) / 1000)


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd CLI")
def test_fold_reads_zstd_compressed_parts(tmp_path):
    src = os.path.join(LOG, "eventlog_v2_local-0", "events_1_local-0")
    dst = tmp_path / "eventlog_v2_local-0"
    dst.mkdir()
    subprocess.run(["zstd", "-q", src, "-o", str(dst / "events_1_local-0.zstd")],
                   check=True)
    plain = eventlog.fold(LOG, LAYERS, {"t1"}).layers
    assert eventlog.fold(str(tmp_path), LAYERS, {"t1"}).layers == plain


def _kernel(key, pdf):
    return pdf


def test_renamed_udf_keeps_code_and_arity():
    g = spans._renamed(_kernel, "knn")
    assert g.__name__ == "knn___kernel"
    assert inspect.getfullargspec(g).args == ["key", "pdf"]
    assert g(1, "x") == "x"


class _FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, desc):
        self.descriptions.append(desc)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_traced_pickles_as_the_original_function():
    t = spans.Traced(spans.Tracer(_FakeSpark(), "w"), "knn", os.path.join)
    assert pickle.loads(pickle.dumps(t)) is os.path.join
    assert inspect.signature(t) == inspect.signature(os.path.join)


def test_traced_keeps_the_frames_lsh_useful_ratio_counts():
    tr = spans.Tracer(_FakeSpark(), "w")

    def _lsh_gated_pairs(x):
        return [x]

    t = spans.Traced(tr, "lsh", _lsh_gated_pairs)
    assert t(1) == [1] and t(2) == [2]
    assert tr.lsh_frames["_lsh_gated_pairs"] == [[1], [2]]
    assert tr.lsh_frames["lsh_candidates_from_index"] == []


def test_nested_operator_call_is_absorbed_by_the_caller():
    spark = _FakeSpark()
    tr = spans.Tracer(spark, "w")
    seen = []

    def inner():
        seen.append(tr.current())

    with tr.span("driver", "main"):
        with tr.span("lsh", "lsh_topk"):
            with tr.span("knn", "knn_join_blocked"):
                inner()
        with tr.span("checkpoint", "stage"):
            with tr.span("knn", "collect_index"):
                inner()
    assert seen == ["lsh", "knn"]
    assert "w:lsh" in spark.sparkContext.descriptions
    assert spark.sparkContext.descriptions[-1] == "w:driver"
    assert tr.self_s["knn"] >= 0 and tr.index_build_s >= tr.self_s["knn"]


def test_pairwise_f1():
    gold = pd.Series([1, 1, 1, 2, 3], index=[10, 11, 12, 13, 14])
    assert pairwise_f1(gold, gold) == 1.0
    split = pd.Series([1, 1, 5, 2, 3], index=[10, 11, 12, 13, 14])
    # one of three gold pairs found, no false pair: P=1, R=1/3
    assert pairwise_f1(split, gold) == pytest.approx(0.5)


def test_tree_cpu_counts_reaped_children():
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    c0 = run._tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert run._tree_cpu_s() - c0 >= 0.25


def test_cache_keeps_the_most_recently_used(tmp_path):
    for i, name in enumerate(("a", "b", "c")):
        (tmp_path / name).mkdir()
        os.utime(tmp_path / name, (i, i))
    run._evict(str(tmp_path), keep=2)
    assert sorted(os.listdir(tmp_path)) == ["b", "c"]
