"""The benchmark's workloads: inputs, one op, and the correctness gate.

Every part builds its inputs with ``synth.repos_files(seed=...)`` from the
benchmark's seed and writes them to parquet during set-up; the jobs only
ever see ``--input`` paths. One op calls each part's job ``main(argv)``
once, with fresh output, checkpoint and state directories.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

F1_BAR = 0.99
MAX_DIST = "12.0"  # the synth corpus's near-pair gate (run_linkage docs)


def call_main(main, argv):
    """Run a job's main(argv) and return the JSON reports it printed."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc not in (0, None):
        raise RuntimeError(f"main returned {rc}")
    return [
        json.loads(line) for line in buf.getvalue().splitlines()
        if line.startswith("{")
    ]


def _pairs(sizes):
    sizes = np.asarray(sizes, dtype=np.int64)
    return int((sizes * (sizes - 1) // 2).sum())


def pairwise_f1(pred: pd.Series, gold: pd.Series) -> float:
    """Pairwise F1 of two clusterings given as id-indexed label series
    (an id missing from one side is a singleton there)."""
    df = pd.DataFrame({"p": pred, "g": gold})
    singleton = -df.index.to_series() - 1
    df["p"] = df["p"].fillna(singleton)
    df["g"] = df["g"].fillna(singleton)
    tp = _pairs(df.groupby(["p", "g"]).size())
    p = _pairs(df.groupby("p").size())
    g = _pairs(df.groupby("g").size())
    return 1.0 if p + g == 0 else 2.0 * tp / (p + g)


def _gold(path):
    """Planted entity per row_id, read back from a written input."""
    meta = pq.read_table(
        path, columns=["row_id", "cluster_id", "is_clustered"]
    ).to_pandas()
    comp = np.where(meta["is_clustered"], meta["cluster_id"],
                    meta["row_id"] + 10_000_000)
    return pd.Series(comp, index=meta["row_id"].to_numpy())


def _write(files, path):
    """Write generated files as parquet; ``doc_id``/``text`` alias
    ``row_id``/``content`` so both job input schemas can read it."""
    from pyspark.sql import functions as F

    files.select(
        "*", F.col("row_id").alias("doc_id"), F.col("content").alias("text"),
    ).write.mode("overwrite").parquet(path)


def _resumed_stages(ckpt_dir):
    """Stages written by this op append one _metrics row each; a stage
    read back from an earlier run's directory appends none."""
    stages = {
        d for d in os.listdir(ckpt_dir)
        if not d.startswith("_")
        and os.path.exists(os.path.join(ckpt_dir, d, "_SUCCESS"))
    }
    written = set(pq.read_table(os.path.join(ckpt_dir, "_metrics"))
                  .column("stage").to_pylist())
    return [f"stage {s} resumed" for s in sorted(stages - written)]


def _f1_gate(f1):
    return [] if f1 >= F1_BAR else [f"f1 {f1:.4f} < {F1_BAR}"]


def _component_f1(out, gold):
    got = pq.read_table(out, columns=["id", "component"]).to_pandas()
    return pairwise_f1(got.set_index("id")["component"], gold)


class Part:
    """One job call of an op. ``n`` input records."""

    n = 0
    synth_kw: dict = {}

    def generate(self, spark, seed, in_dir):
        """Write the seed's inputs under ``in_dir``."""
        from kiez_spark import synth

        files = synth.repos_files(spark, n=self.n, seed=seed, **self.synth_kw)
        _write(files, os.path.join(in_dir, self.name))

    def attach(self, in_dir):
        """Point the part at inputs that ``generate`` wrote."""
        self.input = os.path.join(in_dir, self.name)
        self.gold = _gold(self.input)

    def dirs(self, op_dir):
        d = os.path.join(op_dir, self.name)
        return (os.path.join(d, "out"), os.path.join(d, "ckpt"),
                os.path.join(d, "state"))

    def check(self, op_dir, reports):
        """F1 against the planted clusters and the job's sha check."""
        out, _, _ = self.dirs(op_dir)
        f1 = _component_f1(out, self.gold)
        problems = _f1_gate(f1)
        if reports[-1].get("sha_violations") != 0:
            problems.append(f"sha_violations {reports[-1].get('sha_violations')}")
        return f1, problems


class LinkBatch(Part):
    """run_linkage batch path, exact Arrow kNN kernel + CSLS."""

    name = "link"
    n = 6000

    def run(self, jobs, op_dir):
        out, ckpt, _ = self.dirs(op_dir)
        return call_main(jobs.run_linkage.main, [
            "--input", self.input, "--output", out, "--checkpoint-dir", ckpt,
            "--tier", "pandas", "--hubness", "csls", "--max-dist", MAX_DIST,
        ])

    def check(self, op_dir, reports):
        out, ckpt, _ = self.dirs(op_dir)
        f1 = _component_f1(out, self.gold)
        problems = _f1_gate(f1) + _resumed_stages(ckpt)
        if reports[-1].get("sha_invariant_ok") is not True:
            problems.append("sha invariant failed")
        return f1, problems


class ErFs(Part):
    """run_er: shingle blocking, meta-blocking, Fellegi-Sunter, deep CC.
    No --checkpoint-dir: link-exact already measures stage checkpoints,
    and parquet stages make this part about 1.4x slower warm and 1.8x
    slower cold on a 4-vCPU host."""

    name = "er"
    n = 400
    synth_kw = {"cluster_size": 10}  # deep components: many star rounds

    def run(self, jobs, op_dir):
        out, _, _ = self.dirs(op_dir)
        return call_main(jobs.run_er.main, ["--input", self.input, "--output", out])


class LinkState(Part):
    """run_linkage --state-dir base run: LSH signature index, collision +
    distance pair rule, CC, append-only ver=N state deltas."""

    name = "lsh-state"
    n = 400

    def run(self, jobs, op_dir):
        out, _, state = self.dirs(op_dir)
        return call_main(jobs.run_linkage.main, [
            "--input", self.input, "--output", out, "--state-dir", state,
            "--max-dist", MAX_DIST,
        ])


class Workload:
    """An op = every part's job call, in order."""

    def __init__(self, name, parts):
        self.name = name
        self.parts = parts
        self.records = sum(p.n for p in parts)

    def generate(self, spark, seed, in_dir):
        for p in self.parts:
            p.generate(spark, seed, in_dir)

    def attach(self, in_dir):
        for p in self.parts:
            p.attach(in_dir)

    def run(self, jobs, op_dir):
        reports, self.part_walls = [], {}
        for p in self.parts:
            t0 = time.perf_counter()
            reports.append(p.run(jobs, op_dir))
            self.part_walls[p.name] = time.perf_counter() - t0
        return reports

    def check(self, op_dir, reports):
        """Lowest F1 of the parts and every part's gate failures."""
        f1s, problems = [], []
        for p, rep in zip(self.parts, reports):
            f1, more = p.check(op_dir, rep)
            f1s.append(f1)
            problems += [f"{p.name}: {m}" for m in more]
        return min(f1s), problems


WORKLOADS = {
    "link-exact": lambda: Workload("link-exact", [LinkBatch()]),
    "er-lsh-state": lambda: Workload("er-lsh-state", [ErFs(), LinkState()]),
}
