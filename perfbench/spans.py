"""Layer spans for the traced run, recorded from the benchmark's side.

Nothing under ``kiez_spark/`` or ``jobs/`` is edited. While tracing is on,
each layer's public functions are swapped, in the running process only,
for wrappers that

* time the call as a span (self time = span minus its child spans), and
* set the Spark job description to ``"<workload>:<layer>"`` for as long
  as the call runs, so every Spark job it submits is attributed to the
  layer in the event log.

Attribution rules (the benchmark names the layer instead of guessing):

* ``driver``, ``checkpoint`` and ``state`` are container layers: an
  operator layer called inside them opens its own span.
* An operator layer called inside another operator layer is counted
  under the caller (``lsh_topk`` -> ``knn_join_blocked`` stays ``lsh``).
* A ``StageCheckpointer.stage`` write runs the stage's whole lazy plan:
  it is counted under the first operator layer the stage's build called
  (``candidates`` -> ``knn``, ``forward`` -> ``lsh`` on the LSH tier,
  ``clusters`` -> ``clustering``), or ``driver`` if the build called
  none. The re-read jobs after the write stay ``checkpoint``.
* A Python UDF (``mapInPandas`` / ``applyInPandas``) is renamed
  ``<layer>__<name>`` when it is built, so its "time to run Python
  workers" is counted under the layer that built it even when the plan
  runs later under another layer's job.
"""

from __future__ import annotations

import contextlib
import copy
import importlib
import sys
import time
import types

CONTAINERS = ("driver", "checkpoint", "state")

# layer -> [(module, function names)]; None = every public function the
# module defines (minus names another layer claims)
LAYER_FUNCS = {
    "synth": [("kiez_spark.synth", ["derive_embeddings"])],
    "knn": [("kiez_spark.operators.knn", None)],
    "lsh": [
        ("kiez_spark.operators.lsh", None),
        ("jobs.run_linkage", ["_lsh_gated_pairs"]),
    ],
    "hubness": [
        ("kiez_spark.operators.hubness", None),
        ("kiez_spark.operators.knn", ["topk"]),
    ],
    "clustering": [("kiez_spark.operators.clustering", None)],
    "er": [
        ("kiez_spark.operators.er", None),
        ("kiez_spark.functions.text", None),
        ("jobs.run_er", ["_agreements"]),
    ],
    "curation": [("kiez_spark.operators.curation", None)],
    "dedup": [("kiez_spark.operators.dedup", None)],
    "state": [
        ("jobs.run_er", ["_write_state_delta", "_read_state"]),
        ("jobs.run_linkage", ["_write_link_state", "_read_link_state"]),
        ("jobs.run_curation", ["_write_state_delta", "_read_state"]),
    ],
}
CHECKPOINT_METHODS = (
    "metrics", "partition_metrics", "lineage_consistent",
    "sha_invariant_ok",
)
LAYERS = ("driver", *LAYER_FUNCS, "checkpoint")
# lsh.useful_ratio: rows of the pairs the state-mode pair rule keeps over
# rows of the collision candidates it scores (counted after the op)
LSH_COUNTED = ("_lsh_gated_pairs", "lsh_candidates_from_index")
UDF_TAG_SEP = "__"


class Traced:
    """Callable stand-in for one layer function. Pickles as the original,
    so a kernel closure that references it ships the plain function."""

    def __init__(self, tracer, layer, orig):
        self.tracer, self.layer, self.orig = tracer, layer, orig
        self.__name__ = getattr(orig, "__name__", "call")
        self.__wrapped__ = orig  # inspect.signature (F.transform) reads it

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.layer, self.__name__):
            out = self.orig(*args, **kwargs)
        if self.__name__ == "collect_index":
            self.tracer.last_index = out  # its broadcast is index build too
        elif self.__name__ in LSH_COUNTED:
            self.tracer.lsh_frames[self.__name__].append(out)
        return out

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return copy.copy, (self.orig,)


class _Span:
    __slots__ = ("layer", "name", "t0", "child", "stage")

    def __init__(self, layer, name):
        self.layer, self.name = layer, name
        self.t0 = time.perf_counter()
        self.child = 0.0
        self.stage = None


class Tracer:
    def __init__(self, spark, workload):
        self.sc = spark.sparkContext
        self.workload = workload
        self.stack: list[_Span] = []
        self.self_s = dict.fromkeys(LAYERS, 0.0)
        self.index_build_s = 0.0
        self.stages_written = 0
        self.last_index = None
        self.lsh_frames = {name: [] for name in LSH_COUNTED}
        self._watch: list[dict] = []
        self._undo: list = []

    # -- spans ----------------------------------------------------------
    def current(self):
        return self.stack[-1].layer if self.stack else "driver"

    def _describe(self):
        self.sc.setJobDescription(f"{self.workload}:{self.current()}")

    @contextlib.contextmanager
    def span(self, layer, name):
        s = self._open(layer, name)
        try:
            yield s
        finally:
            if s is not None:
                self._close(s)

    def _open(self, layer, name):
        if self.stack and layer not in CONTAINERS and (
            self.current() not in CONTAINERS
        ):
            return None  # absorbed by the calling operator layer
        if layer not in CONTAINERS and self._watch and (
            self._watch[-1]["producer"] is None
        ):
            self._watch[-1]["producer"] = layer
        s = _Span(layer, name)
        self.stack.append(s)
        self._describe()
        return s

    def _close(self, s):
        dur = time.perf_counter() - s.t0
        self.stack.pop()
        self.self_s[s.layer] += dur - s.child
        if self.stack:
            self.stack[-1].child += dur
        if s.name in ("collect_index", "index_broadcast"):
            self.index_build_s += dur
        self._describe()

    # -- install / uninstall -------------------------------------------
    def _swap(self, owner, attr, new):
        old = getattr(owner, attr)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, old))

    def install(self):
        from pyspark import SparkContext
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.group import GroupedData
        from pyspark.sql.pandas.group_ops import PandasCogroupedOps

        from kiez_spark.checkpoint import StageCheckpointer

        claimed = {
            (m, n) for specs in LAYER_FUNCS.values()
            for m, names in specs if names for n in names
        }
        swaps = {}  # original function -> wrapper
        for layer, specs in LAYER_FUNCS.items():
            for modname, names in specs:
                mod = importlib.import_module(modname)
                if names is None:
                    names = [
                        n for n, v in vars(mod).items()
                        if isinstance(v, types.FunctionType)
                        and not n.startswith("_")
                        and v.__module__ == modname
                        and (modname, n) not in claimed
                    ]
                for n in names:
                    orig = getattr(mod, n)
                    swaps[orig] = Traced(self, layer, orig)
        self._rebind(swaps)
        for meth in CHECKPOINT_METHODS:
            wrapper = Traced(self, "checkpoint", getattr(StageCheckpointer, meth))
            self._swap(StageCheckpointer, meth, wrapper)
        self._swap(StageCheckpointer, "stage", self._stage_wrapper(
            StageCheckpointer.stage
        ))
        self._swap(DataFrameWriter, "save", self._save_wrapper(DataFrameWriter.save))
        self._swap(SparkContext, "broadcast", self._broadcast_wrapper(
            SparkContext.broadcast
        ))
        for owner, attr in (
            (DataFrame, "mapInPandas"), (DataFrame, "mapInArrow"),
            (GroupedData, "applyInPandas"), (PandasCogroupedOps, "applyInPandas"),
        ):
            self._swap(owner, attr, self._udf_wrapper(getattr(owner, attr)))

    def _rebind(self, swaps):
        """Point every module-level name (and dict entry, e.g. hubness's
        TRANSFORMS table) that holds an original at its wrapper, so
        ``from x import f`` bindings are traced too."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(("kiez_spark", "jobs")) or mod is None:
                continue
            for n, v in list(vars(mod).items()):
                if isinstance(v, types.FunctionType) and v in swaps:
                    self._swap(mod, n, swaps[v])
                elif isinstance(v, dict):
                    for k, fv in list(v.items()):
                        if isinstance(fv, types.FunctionType) and fv in swaps:
                            v[k] = swaps[fv]
                            self._undo.append((v, k, fv))

    def uninstall(self):
        while self._undo:
            owner, attr, old = self._undo.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)
        self.sc.setJobDescription(None)

    # -- special wrappers ----------------------------------------------
    def _stage_wrapper(self, orig):
        tracer = self

        def stage(ckpt, name, build):
            rec = {"producer": None, "written": False}

            def watched_build():
                tracer._watch.append(rec)
                try:
                    return build()
                finally:
                    tracer._watch.pop()

            with tracer.span("checkpoint", "stage") as s:
                s.stage = rec
                return orig(ckpt, name, watched_build)

        return stage

    def _save_wrapper(self, orig):
        tracer = self

        def save(writer, *args, **kwargs):
            top = tracer.stack[-1] if tracer.stack else None
            rec = top.stage if top is not None else None
            if rec is not None and not rec["written"]:
                rec["written"] = True
                tracer.stages_written += 1
                # the stage write executes the producer's lazy plan
                with tracer.span(rec["producer"] or "driver", "stage_write"):
                    return orig(writer, *args, **kwargs)
            return orig(writer, *args, **kwargs)

        return save

    def _broadcast_wrapper(self, orig):
        tracer = self

        def broadcast(sc, value):
            if value is not None and value is tracer.last_index:
                with tracer.span("knn", "index_broadcast"):
                    return orig(sc, value)
            return orig(sc, value)

        return broadcast

    def _udf_wrapper(self, orig):
        tracer = self

        def wrapped(obj, func, *args, **kwargs):
            return orig(obj, _renamed(func, tracer.current()), *args, **kwargs)

        return wrapped


def _renamed(func, layer):
    """Same code, same signature (applyInPandas reads the arity), new
    name: the plan node then reads ``MapInPandas <layer>__kernel(...)``."""
    if not isinstance(func, types.FunctionType):
        return func
    name = f"{layer}{UDF_TAG_SEP}{func.__name__}"
    g = types.FunctionType(
        func.__code__, func.__globals__, name, func.__defaults__,
        func.__closure__,
    )
    g.__kwdefaults__ = func.__kwdefaults__
    g.__qualname__ = name
    g.__module__ = func.__module__
    return g
