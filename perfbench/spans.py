"""Traced-run instrumentation: spans around the engine's layers, the Spark
event log, and streaming progress.

Spans come from the benchmark's side only. :func:`install` replaces the
public functions of the engine's ``sources``, ``operators``, ``functions``
and ``streaming.jobs`` modules with wrappers that record a span per call,
and rebinds every ``from x import f`` copy of them in the package's loaded
modules. Eager checkpoints (``DataFrame.localCheckpoint``/``checkpoint``)
get a span too, wherever they are called from. Nothing is recorded in
Python workers: a wrapped function shipped to a worker is pickled by
reference and resolves to the unwrapped original there.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

PKG = "bridge_monitoring_pyspark_spark"

# Engine modules whose public functions get spans, with the layer prefix
# their metrics use. sources.readers is reported as plain "sources" so the
# metric reads sources.load_table.*.
LAYER_PACKAGES = ("sources", "operators", "functions")
LAYER_MODULES = ("streaming.jobs",)


def layer_name(module: str) -> str:
    """``bridge_monitoring_pyspark_spark.operators.dedup`` -> ``operators.dedup``;
    ``...sources.readers`` -> ``sources``."""
    rel = module[len(PKG) + 1:]
    return "sources" if rel == "sources.readers" else rel


class Tracer:
    """In-memory span recorder. Spans are plain dicts so the artifact and
    the pure helpers in :mod:`stats` share one shape."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "trace": self.trace_id,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _target_modules() -> list[str]:
    names = [f"{PKG}.{m}" for m in LAYER_MODULES]
    for pkg in LAYER_PACKAGES:
        mod = importlib.import_module(f"{PKG}.{pkg}")
        names += [f"{PKG}.{pkg}.{info.name}" for info in pkgutil.iter_modules(mod.__path__)]
    return names


def install(tracer: Tracer) -> int:
    """Wrap the layers' public functions and eager checkpoints; returns the
    number of functions wrapped. Call after the catalog is imported: the
    rebind pass then also reaches the plan modules' imported copies."""
    try:  # the class classic (non-Connect) sessions instantiate
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    originals: dict[int, object] = {}
    for modname in _target_modules():
        mod = importlib.import_module(modname)
        layer = layer_name(modname)
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                continue
            wrapped = tracer.wrap(fn, f"{layer}.{attr}")
            setattr(mod, attr, wrapped)
            originals[id(fn)] = wrapped
    # Rebind copies made by `from module import function`.
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            w = originals.get(id(val))
            if w is not None and val is not w:
                setattr(mod, attr, w)
    for meth in ("localCheckpoint", "checkpoint"):
        setattr(DataFrame, meth, tracer.wrap(getattr(DataFrame, meth), "functions.plan.checkpoint"))
    return len(originals)


def progress_listener(sink: list):
    """A StreamingQueryListener that appends each progress (as a dict, with
    the receive time) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append({"received": time.time(), **json.loads(event.progress.json)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --- Spark event log ---------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage->job map and finished tasks from a Spark event log dir.

    Times are epoch seconds (the JVM and Python share the wall clock)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                                 "stages": list(ev.get("Stage IDs", []))}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000.0,
                        "finish": info["Finish Time"] / 1000.0,
                        "failed": bool(info.get("Failed")),
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "py_sent": _num(acc.get(PY_SENT)),
                        "py_returned": _num(acc.get(PY_RETURNED)),
                    })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0
