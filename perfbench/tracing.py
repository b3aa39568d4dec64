"""Tracing for the benchmark's traced run: spans around the public calls
into each layer, a counting object-store proxy, and per-op Spark job-group
accounting.  Nothing here is installed in an untraced run.

A span is (name, start, end, parent span index, op id), kept in memory
and written out as JSON lines when the run ends.  Ops never overlap: the
wsgiref server handles one request at a time and a push step runs while
the server is idle, so one "current op" is enough, and spans are recorded
only from the thread that began it.  Store calls are counted from any
thread while an op is open, because the catalog promotes part files from
a thread pool.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict

from datalake_spark.store import ObjectStore

OP_HEADER = "HTTP_X_BENCH_OP"  # the client's "X-Bench-Op: <id>" header


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[list] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._op: dict | None = None
        self._thread: int | None = None

    # -- ops ----------------------------------------------------------------

    def begin(self, op_id: str, kind: str) -> None:
        self._op = {"op": op_id, "kind": kind, "store": defaultdict(float),
                    "counts": defaultdict(int)}
        self._thread = threading.get_ident()
        self.sc.setJobGroup(f"bench-{op_id}", kind)
        self._op["t0"] = time.perf_counter()

    def end(self) -> dict:
        op = self._op
        op["t1"] = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._op, self._thread = None, None
        self.ops.append(op)
        return op

    def _recording(self) -> bool:
        return self._op is not None and threading.get_ident() == self._thread

    def count(self, name: str, n: int = 1) -> None:
        op = self._op
        if op is not None:
            with self._lock:
                op["counts"][name] += n

    # -- spans ----------------------------------------------------------------

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            if not self._recording():
                return fn(*a, **kw)
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append([name, time.perf_counter(), None, parent,
                               self._op["op"]])
            self._stack.append(idx)
            try:
                return fn(*a, **kw)
            finally:
                self._stack.pop()
                self.spans[idx][2] = time.perf_counter()
        traced.__wrapped__ = fn
        return traced

    def wrap_methods(self, obj, layer: str, names) -> None:
        for n in names:
            setattr(obj, n, self.wrap(f"{layer}.{n}", getattr(obj, n)))

    def wsgi(self, app):
        """WSGI middleware: a request carrying the op header is one traced
        op whose root span is ``http_api.request``."""
        inner = self.wrap("http_api.request", app)

        def traced_app(environ, start_response):
            op_id = environ.get(OP_HEADER)
            if op_id is None:
                return app(environ, start_response)
            self.begin(op_id, "read")
            try:
                return inner(environ, start_response)
            finally:
                self.end()
        return traced_app

    def patch_collect(self, df_class) -> None:
        """Span every DataFrame.collect made inside an op."""
        df_class.collect = self.wrap("spark.collect", df_class.collect)

    # -- results ------------------------------------------------------------

    def spark_work(self, op: dict) -> tuple[int, int]:
        """(jobs, tasks) Spark ran under the op's job group."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"bench-{op['op']}")
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), tasks

    def self_times(self) -> dict[str, dict[str, float]]:
        """op id -> span name -> summed self time (ms) and ``<name>#total``
        -> summed duration (ms)."""
        child = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for i, (name, t0, t1, _parent, op) in enumerate(self.spans):
            if t1 is None:
                continue
            out[op][name] += (t1 - t0 - child[i]) * 1000.0
            out[op][name + "#total"] += (t1 - t0) * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(json.dumps({"name": name, "start": t0, "end": t1,
                                     "parent": parent, "op": op}) + "\n")


class CountingStore(ObjectStore):
    """ObjectStore proxy that counts verbs, bytes put and time spent while
    a traced op is open.  ``open_read``/``open_write`` count as get/put."""

    def __init__(self, inner: ObjectStore, tracer: Tracer,
                 label: str) -> None:
        self.inner, self.tracer, self.label = inner, tracer, label
        self.url = getattr(inner, "url", "")

    def _call(self, verb: str, fn, *a):
        op = self.tracer._op
        if op is None:
            return fn(*a)
        t0 = time.perf_counter()
        try:
            return fn(*a)
        finally:
            with self.tracer._lock:
                op["store"][f"{self.label}.{verb}"] += 1
                op["store"][f"{self.label}.ms"] += (
                    time.perf_counter() - t0) * 1000.0

    def get(self, key):
        return self._call("get", self.inner.get, key)

    def put(self, key, data):
        self.tracer.count("store.bytes_put", len(data))
        return self._call("put", self.inner.put, key, data)

    def put_if_absent(self, key, data):
        self.tracer.count("store.bytes_put", len(data))
        return self._call("put", self.inner.put_if_absent, key, data)

    def delete(self, key):
        return self._call("delete", self.inner.delete, key)

    def list(self, prefix):
        return self._call("list", self.inner.list, prefix)

    def subdirs(self, prefix):
        return self._call("list", self.inner.subdirs, prefix)

    def copy(self, src, dst):
        return self._call("copy", self.inner.copy, src, dst)

    def spark_url(self, key):
        return self.inner.spark_url(key)

    def open_read(self, key):
        return self._call("get", self.inner.open_read, key)

    def open_write(self, key, chunk_size=100 * 1024 * 1024):
        return _CountingWriter(
            self._call("put", self.inner.open_write, key, chunk_size),
            self.tracer)


class _CountingWriter:
    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner, self.tracer = inner, tracer

    def write(self, b) -> int:
        self.tracer.count("store.bytes_put", len(b))
        return self.inner.write(b)

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *a):
        return self.inner.__exit__(exc_type, *a)
