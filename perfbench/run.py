#!/usr/bin/env python3
"""Job benchmark for kiez_spark: whole linkage job runs on this host.

Run from the root of a checkout:

  python3 perfbench/run.py --workload link-exact --seed 1 --seconds 10 --trace 0

One process, one long-lived SparkSession at local[nproc], one client in a
closed loop: each op (a job's ``main(argv)`` on fresh directories) starts
after the previous one returns. ``--trace 0`` prints the end-to-end
metrics, timed as CPU seconds of the process tree; ``--trace 1``
alternates untraced and traced ops with the Spark event log on and prints
the per-layer metrics (see README.md). The last stdout line is the JSON
result; the line before it records the host.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")  # generated inputs by key
CACHE_KEEP = 8
DRIVER_MEM_MB = 2048  # capped below MemTotal/2 on smaller hosts
RSS_SAMPLE_S = 0.1


def _meminfo_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _cpu_jiffies():
    """(steal, total) CPU time of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _tree_cpu_s():
    """CPU seconds (user + system) used so far by this process and every
    process it started, reaped children included. The kernel counts time
    the hypervisor stole from a vCPU as steal, not as the task's time."""
    total = 0
    for pid in [os.getpid(), *_descendants()]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended between listing and reading
        total += sum(int(x) for x in fields[11:15])  # u/s time, own + reaped
    return total / os.sysconf("SC_CLK_TCK")


def _evict(cache, keep):
    """Remove all but the ``keep`` most recently used cache entries."""
    entries = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    for path in entries[keep:]:
        shutil.rmtree(path, ignore_errors=True)


def _nproc():
    return len(os.sched_getaffinity(0))


def _descendants():
    """Pids of every process this one started, directly or not."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def stop_jvm(timeout_s=60.0):
    """End the gateway JVM (it exits when its stdin closes) and wait until
    it and the Python workers it forked are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.active = threading.Event()
        self.done = threading.Event()
        self.page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self):
        total = 0
        for pid in [os.getpid(), *_descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass  # the process ended between listing and reading
        return total

    def run(self):
        while not self.done.wait(RSS_SAMPLE_S):
            if self.active.is_set():
                self.peak = max(self.peak, self._tree_rss())


def host_shape(cores, driver_mem_mb):
    import pyarrow
    import pyspark

    return {
        "nproc": cores, "master": f"local[{cores}]",
        "mem_total_mb": _meminfo_mb(),
        "driver_mem_mb": driver_mem_mb, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": platform.python_version(),
    }


def _metric(value, unit):
    return {"value": value, "unit": unit}


class Bench:
    def __init__(self, args, work):
        import jobs.run_er  # noqa: F401  (binds the job modules on jobs)
        import jobs.run_linkage
        from workloads import WORKLOADS

        self.jobs = jobs
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]()
        self.walls = {"cold": [], "untraced": [], "traced": []}
        self.cpus = {"cold": [], "untraced": [], "traced": []}
        self.f1 = []
        self.attempted = self.failed = 0
        self.op_bounds = {}  # traced op id -> (t0 ms, t1 ms)
        self.extras = []  # per traced op: dict of report-derived metrics
        self.steal = [0, 0]  # steal and total jiffies during timed ops

    # -- set-up ---------------------------------------------------------
    def start_session(self, cores, driver_mem_mb):
        from kiez_spark.session import get_spark

        conf = {
            "spark.driver.memory": f"{driver_mem_mb}m",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir(),
                "spark.eventLog.compress": "false",
            })
            os.makedirs(self.event_dir(), exist_ok=True)
        self.spark = get_spark(f"perfbench-{self.wl.name}", cores=cores,
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        # Python-worker warm-up: one Arrow UDF job before anything is timed
        self.spark.range(cores * 1000, numPartitions=cores).mapInPandas(
            lambda it: it, "id bigint"
        ).count()


    def event_dir(self):
        return os.path.join(self.work, "eventlog")

    def input_key(self):
        """Cache key: workload, size, seed and the generator's source."""
        h = hashlib.sha256()
        for f in ("kiez_spark/synth.py", "perfbench/workloads.py"):
            with open(os.path.join(ROOT, f), "rb") as fh:
                h.update(fh.read())
        return (f"{self.wl.name}-n{self.wl.records}-s{self.args.seed}-"
                f"{h.hexdigest()[:12]}")

    def setup_inputs(self):
        """Generate the seed's inputs and keep them in the input cache. A
        traced run reports no set-up time, so it reads the cache when the
        key is there. Returns whether the inputs were generated."""
        cached = os.path.join(CACHE, self.input_key())
        if self.args.trace and os.path.isdir(cached):
            os.utime(cached)
            self.wl.attach(cached)
            return False
        in_dir = os.path.join(self.work, "inputs")
        self.wl.generate(self.spark, self.args.seed, in_dir)
        if not os.path.isdir(cached):
            os.makedirs(CACHE, exist_ok=True)
            with contextlib.suppress(OSError):  # a concurrent run won
                os.rename(in_dir, cached)
                in_dir = cached
            _evict(CACHE, CACHE_KEEP)
        self.wl.attach(in_dir)
        return True

    # -- ops ------------------------------------------------------------
    def op(self, i, kind, tracer=None):
        sc = self.spark.sparkContext
        op_id = f"{kind[0]}{i}"
        op_dir = os.path.join(self.work, "ops", op_id)
        os.makedirs(op_dir)
        sc.setLocalProperty("perfbench.op", op_id)
        self.attempted += 1
        problems, reports = [], None
        j0 = _cpu_jiffies()
        c0 = _tree_cpu_s()
        t0_ms = time.time() * 1000.0
        p0 = time.perf_counter()
        if tracer:
            tracer.install()
        try:
            with tracer.span("driver", "main") if tracer else (
                contextlib.nullcontext()
            ):
                reports = self.wl.run(self.jobs, op_dir)
        except Exception as exc:  # an op that raises is a failed op
            problems.append(f"{type(exc).__name__}: {exc}")
        finally:
            wall = time.perf_counter() - p0
            t1_ms = time.time() * 1000.0
            steal, total = (b - a for a, b in zip(j0, _cpu_jiffies()))
            cpu = _tree_cpu_s() - c0
            if tracer:
                tracer.uninstall()
            sc.setLocalProperty("perfbench.op", None)
        if reports is not None:
            try:
                f1, more = self.wl.check(op_dir, reports)
                self.f1.append(f1)
                problems += more
            except Exception as exc:
                problems.append(f"check {type(exc).__name__}: {exc}")
        if tracer and reports is not None:
            self.op_bounds[op_id] = (t0_ms, t1_ms)
            self.extras.append(self._traced_extras(op_dir, reports))
        self.spark.catalog.clearCache()
        shutil.rmtree(op_dir, ignore_errors=True)
        if problems:
            self.failed += 1
            print(f"perfbench: op {op_id} failed: {problems}", file=sys.stderr)
        self.walls[kind].append(wall)
        self.cpus[kind].append(cpu)
        self.steal[0] += steal
        self.steal[1] += total
        parts = " ".join(f"{k}={v:.2f}s" for k, v in self.wl.part_walls.items())
        print(f"perfbench: op {op_id} {wall:.2f}s cpu {cpu:.2f}s ({parts}) "
              f"steal {100.0 * steal / max(total, 1):.0f}%", file=sys.stderr)

    def _traced_extras(self, op_dir, reports):
        from spans import LSH_COUNTED

        er = next((r[-1] for r in reports if "candidate_pairs" in r[-1]), {})
        cand = er.get("candidate_pairs", 0)
        state_bytes = 0
        for dirpath, _, files in os.walk(op_dir):
            if f"{os.sep}state" in dirpath:
                state_bytes += sum(
                    os.path.getsize(os.path.join(dirpath, f)) for f in files
                )
        # the op's own frames, counted outside its wall and outside every
        # folded op (perfbench.op is unset by now)
        frames = self.tracer.lsh_frames
        kept, scored = (sum(df.count() for df in frames[n]) for n in LSH_COUNTED)
        for dfs in frames.values():
            dfs.clear()
        return {
            "er.candidate_pairs": cand,
            "er.match_ratio": er.get("matched_pairs", 0) / cand if cand else 0.0,
            "state.write_bytes": state_bytes,
            "lsh.useful_ratio": kept / scored if scored else 0.0,
        }

    def loop(self, seconds, traced):
        """Closed loop for ``seconds``, at least one warm op. A traced run
        alternates traced and untraced ops in one session, at least one
        pair, swapping their order each pair. The traced op goes first in
        the first pair, so with one pair the warm-up the first op still
        pays counts as tracing overhead instead of hiding it."""
        from spans import Tracer

        self.tracer = Tracer(self.spark, self.wl.name) if traced else None
        kinds = ("traced", "untraced") if traced else ("untraced",)
        end = time.perf_counter() + seconds
        i = 1
        while not self.walls["untraced"] or time.perf_counter() < end:
            for kind in kinds if i % 2 else kinds[::-1]:
                self.op(i, kind, self.tracer if kind == "traced" else None)
            i += 1

    # -- results --------------------------------------------------------
    def end_to_end(self, setup_s):
        return {
            "cpu_s": _metric(statistics.median(self.cpus["untraced"]), "s"),
            "setup_s": _metric(setup_s, "s"),
            # 0 when no op got as far as its gate (the run is not correct)
            "f1": _metric(min(self.f1, default=0.0), "1"),
        }

    def per_layer(self, peak_rss):
        import eventlog
        from spans import LAYERS

        n = len(self.op_bounds)
        f = eventlog.fold(self.event_dir(), LAYERS, self.op_bounds)
        out = {}
        for layer in LAYERS:
            b = f.layers[layer]
            out[f"{layer}.s"] = _metric(self.tracer.self_s[layer] / n, "s")
            out[f"{layer}.jobs"] = _metric(b["jobs"] / n, "count")
            out[f"{layer}.tasks"] = _metric(b["tasks"] / n, "count")
            out[f"{layer}.python_s"] = _metric(b["python_s"] / n, "s")
            out[f"{layer}.shuffle_bytes"] = _metric(b["shuffle_bytes"] / n, "bytes")
            out[f"{layer}.spill_bytes"] = _metric(b["spill_bytes"] / n, "bytes")
            out[f"{layer}.failed_tasks"] = _metric(b["failed_tasks"] / n, "count")
        stages = self.tracer.stages_written
        out["checkpoint.jobs"] = _metric(
            f.layers["checkpoint"]["jobs"] / stages if stages else 0.0, "count"
        )
        out["driver.no_job_s"] = _metric(statistics.mean(
            f.no_job_s(op, *b) for op, b in self.op_bounds.items()
        ), "s")
        out["knn.index_build_s"] = _metric(self.tracer.index_build_s / n, "s")
        for key, unit in (("er.candidate_pairs", "count"),
                          ("er.match_ratio", "ratio"),
                          ("state.write_bytes", "bytes"),
                          ("lsh.useful_ratio", "ratio")):
            out[key] = _metric(
                statistics.mean(e[key] for e in self.extras), unit
            )
        out["host.peak_rss_mb"] = _metric(peak_rss / 2**20, "MB")
        out["host.steal_pct"] = _metric(
            100.0 * self.steal[0] / max(self.steal[1], 1), "%"
        )
        wall = statistics.median(self.walls["untraced"])
        out["host.wall_s"] = _metric(wall, "s")
        out["host.cold_wall_s"] = _metric(self.walls["cold"][0], "s")
        out["host.cold_cpu_s"] = _metric(self.cpus["cold"][0], "s")
        traced = statistics.median(self.walls["traced"])
        out["trace.wall_s"] = _metric(traced, "s")
        out["trace.overhead_s"] = _metric(traced - wall, "s")
        return out


def parse(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None):
    if not (os.path.isfile(os.path.join(ROOT, "kiez_spark", "__init__.py"))
            and os.path.isdir(os.path.join(ROOT, "jobs"))):
        print(f"perfbench: no kiez_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse(argv)
    cores = _nproc()  # local[nproc]: never wider than the host
    driver_mem_mb = min(DRIVER_MEM_MB, _meminfo_mb() // 2)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # workers and temp files stay in the checkout; BLAS single-threaded so
    # the Python workers do not oversubscribe the local[nproc] task slots
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    bench = Bench(args, work)
    sampler = RssSampler()
    if args.trace:  # untraced runs measure with nothing else running
        sampler.start()
    try:
        c0, t0 = _tree_cpu_s(), time.perf_counter()
        bench.start_session(cores, driver_mem_mb)
        generated = bench.setup_inputs()
        setup_s = _tree_cpu_s() - c0
        print(f"perfbench: set-up {time.perf_counter() - t0:.2f}s "
              f"cpu {setup_s:.2f}s, inputs "
              + ("generated" if generated else "from cache"), file=sys.stderr)
        sampler.active.set()
        bench.op(0, "cold")
        bench.loop(args.seconds, traced=bool(args.trace))
        sampler.active.clear()
        bench.spark.stop()  # flushes the event log
        if args.trace:
            metrics = bench.per_layer(sampler.peak)
        else:
            metrics = bench.end_to_end(setup_s)
    finally:
        sampler.done.set()
        if sampler.is_alive():
            sampler.join()
        with contextlib.suppress(Exception):
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only once no run uses it
    for name, m in sorted(metrics.items()):
        print(f"  {name:28s} {m['value']:>14.4f} {m['unit']}", file=sys.stderr)
    print(json.dumps({"host": host_shape(cores, driver_mem_mb),
                      "workload": args.workload, "seed": args.seed}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
