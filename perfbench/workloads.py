"""The benchmark's workloads.  Each drives the program only through its
public entry points: ``Catalog`` and ``ingest.push_file`` for writes, a
``DatalakeHttpApp`` built the way ``cli serve`` builds it and served by
``http_api.serve`` on loopback for reads.

``push_read``   one client, a fixed push sequence: push_file, then
                refresh_latest over the new row, then reads of the pushed
                file and of preloaded files through the long-lived app.
``curate_batch`` a fixed number of ``pipeline.curate_and_export`` passes
                over a seeded corpus, each output read back through
                ``export.read_training_shard`` and the quarantine.  No
                serving code.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.request
from collections import Counter, defaultdict

import gen
from oracle import REASONS, Oracle, classify
from stats import summary

# Every timed count below is fixed, not a time window.  Op latency is
# still falling when timing starts (the JVM keeps compiling for minutes),
# so in a window a slow run fits fewer, earlier and slower ops and a fast
# run more, later and faster ones, which widens the spread between runs;
# with fixed counts every run times the same ops.  The counts are held
# down because a run's fixed costs (session start, a cold catalog load or
# curation pass) take half of it, and 4 + 22 runs per workload must fit in
# 3420 s.  --seconds is only a cap for a very slow host: no timed op
# starts after twice that.
#
# push_read: untimed steps (pushes and reads of preloaded files) that warm
# the write and read paths, then the timed steps; all go into the served
# catalog
WARMUP_PUSHES = 2
TIMED_PUSHES = 5
MAX_PAGES = 64
# curate_batch: one cold pass, then the timed passes; shards per pass,
# and audit lookups of dropped documents per pass
WARMUP_PASSES = 1
TIMED_PASSES = 2
N_SHARDS = 4
AUDIT_LOOKUPS = 16


def timed_count(n: int, traced: bool) -> int:
    """Timed ops of a run: ``n``, or in a traced run the next odd count
    above ``n``, so that ops at odd positions are traced and sit between
    untraced ones, and a steady drift cancels out of the overhead."""
    return n + 1 + n % 2 if traced else n


def in_time(t_start: float, seconds: float) -> bool:
    """False once twice the run's --seconds have passed since timing
    began."""
    return time.perf_counter() - t_start < 2 * seconds


FAMILY = {"latest": "latest", "metadata": "lookup", "data": "lookup",
          "work_id": "list", "time": "list"}


class Env:
    """One run's program state: session, catalogs, archive and server."""

    def __init__(self, work: str, seed: int, trace: bool = False) -> None:
        self.work, self.seed, self.trace = work, seed, trace
        self.tracer = None
        self.storage_dir = os.path.join(work, "archive")
        self.server = self.thread = None
        self.catalog = None
        self.load_s = 0.0

    # -- inputs (untimed) -----------------------------------------------------

    def make_inputs(self, storage_url: str,
                    n_rows: int = gen.PRELOAD_ROWS) -> None:
        from datalake_spark.archive import Archive

        self.storage_url = storage_url
        self.rows = gen.preload_rows(self.seed, storage_url, n_rows)
        self.input_path = os.path.join(self.work, "preload.parquet")
        gen.write_preload(self.rows, self.input_path)
        arch = Archive(self.storage_dir)
        for r in gen.content_rows(self.rows):
            arch.store({k: r[k] for k in gen.META_FIELDS},
                       gen.content_for(r["id"]))

    def make_corpus(self) -> None:
        self.docs = gen.curate_corpus(self.seed)
        self.input_path = os.path.join(self.work, "corpus.parquet")
        gen.write_corpus(self.docs, self.input_path)

    # -- set-up (timed) -------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.perf_counter()
        from datalake_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.patch_collect(type(self.spark.range(1)))

    def load_catalog(self) -> None:
        """A fresh catalog from the preload file, timed from construction
        through append, refresh_latest and build_work_id_index."""
        from datalake_spark.catalog import Catalog
        from datalake_spark.schema import FILES_SCHEMA
        from datalake_spark.store import open_store

        root = os.path.join(self.work, "catalog")
        t0 = time.perf_counter()
        if self.tracer is not None:
            from tracing import CountingStore

            cat = Catalog(self.spark, root,
                          store=CountingStore(open_store(root),
                                              self.tracer, "catalog"))
            self.tracer.wrap_methods(cat, "catalog", (
                "append", "append_work_id_index", "refresh_latest"))
            cat.write_latest = self._count_conflicts(cat.write_latest)
        else:
            cat = Catalog(self.spark, root)
        cat.append(self.spark.read.schema(FILES_SCHEMA)
                   .parquet(self.input_path))
        cat.refresh_latest()
        cat.build_work_id_index()
        self.load_s = time.perf_counter() - t0
        self.catalog = cat

    def open_corpus(self) -> None:
        """The corpus as the DataFrame every pass curates, timed."""
        t0 = time.perf_counter()
        self.corpus = self.spark.read.schema(gen.CORPUS_SCHEMA).parquet(
            self.input_path)
        self.load_s = time.perf_counter() - t0

    def _count_conflicts(self, fn):
        from datalake_spark.catalog import CommitConflict

        traced = self.tracer.wrap("catalog.write_latest", fn)

        def write_latest(*a, **kw):
            try:
                return traced(*a, **kw)
            except CommitConflict:
                self.tracer.count("catalog.commit_conflicts")
                raise
        return write_latest

    @property
    def setup_s(self) -> float:
        return self.session_start_s + self.load_s

    # -- serving ----------------------------------------------------------------

    def start_server(self) -> None:
        """The app exactly as ``cli serve`` builds it, on loopback."""
        t0 = time.perf_counter()
        from datalake_spark.archive import Archive
        from datalake_spark.http_api import DatalakeHttpApp, serve
        from datalake_spark.query import QueryEngine

        catalog, storage = self.catalog, self.storage_url
        self.archive = Archive(storage) if storage else None
        app = DatalakeHttpApp(
            QueryEngine(catalog.files(), latest_table=catalog.latest_table(),
                        work_id_index=catalog.work_id_index()),
            archive=self.archive,
            storage_url=storage,
        )
        if self.tracer is not None:
            self.tracer.wrap_methods(app.engine, "query", (
                "by_time", "by_work_id", "by_id", "latest", "fetch_page"))
            self.tracer.wrap_methods(self.archive, "archive",
                                     ("fetch", "store_stream"))
            app = self.tracer.wsgi(app)
        self.server = serve(app, host="127.0.0.1", port=0)
        self.base = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       name="bench-server")
        self.thread.start()
        self.app_start_s = time.perf_counter() - t0

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=60)
        spark = getattr(self, "spark", None)
        if spark is not None:
            # the JVM exits when its stdin closes; wait for it rather than
            # leave it to outlive this process
            from pyspark import SparkContext

            spark.stop()
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    # -- end-of-run measurements (untimed) --------------------------------------

    def stored_bytes_per_row(self) -> float:
        """Bytes under the served catalog's root per live id (the ids the
        oracle's final state holds); on curate_batch, bytes of the last
        pass's shards per kept document."""
        root = (self.shard_dir if self.catalog is None
                else self.catalog.store.spark_url(""))
        return _du(root) / self.live_rows

    def live_mb(self) -> float:
        """This process's RSS plus the JVM's heap and non-heap in use
        after a full collection."""
        jl = self.spark._jvm.java.lang
        jl.System.gc()
        rt = jl.Runtime.getRuntime()
        nonheap = (jl.management.ManagementFactory.getMemoryMXBean()
                   .getNonHeapMemoryUsage().getUsed())
        kb = 0
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    kb = int(line.split()[1])
        return kb / 1024.0 + (rt.totalMemory() - rt.freeMemory()
                              + nonheap) / 2**20

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the Spark JVM.  Kept in the run
        record only, next to ``live_mb``: it follows the JVM's heap
        sizing, which moved it by up to a fifth between runs of the same
        code."""
        import resource

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024.0

    def env_record(self) -> dict:
        import pyspark

        jvm = self.spark._jvm.java.lang.System
        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "heap": self.spark.conf.get("spark.driver.memory"),
            "pyspark": pyspark.__version__,
            "java": jvm.getProperty("java.version"),
            "seed": self.seed,
            "preload_rows": len(getattr(self, "rows", ())),
            "corpus_docs": len(getattr(self, "docs", ())),
        }


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


# -- the HTTP client ----------------------------------------------------------


def http_get(url: str, op_id: str | None = None):
    """(status, body bytes) of one GET; HTTP errors are answers too."""
    req = urllib.request.Request(url)
    if op_id is not None:
        req.add_header("X-Bench-Op", op_id)
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def op_path(op: tuple) -> str:
    from urllib.parse import quote, urlencode

    kind = op[0]
    if kind == "latest":
        return f"/v0/archive/latest/{quote(op[1])}/{quote(op[2])}"
    if kind in ("metadata", "data"):
        return f"/v0/archive/files/{quote(op[1])}/{kind}"
    if kind == "work_id":
        q = {"what": op[2], "work_id": op[1]}
    else:
        q = {"what": op[1], "start": op[2], "end": op[3]}
        if op[4] is not None:
            q["where"] = op[4]
    return "/v0/archive/files/?" + urlencode(q)


class Recorder:
    """Per-family request latencies, per-op latencies and outcomes."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lat = defaultdict(list)        # family -> ms of ok requests
        self.op_ms: list[float] = []
        self.reasons = Counter()
        self.reads = 0
        self.writes = 0  # pushes, or curation passes
        self.traced_op_ms: list[float] = []
        self.rows_per_page: list[int] = []
        self.untraced_op_ms: list[float] = []

    def request(self, family: str, ms: float, reason: str) -> None:
        with self.lock:
            self.reads += 1
            if reason == "ok":
                self.lat[family].append(ms)
            else:
                self.reasons[reason] += 1

    @property
    def attempted(self) -> int:
        return self.reads + self.writes

    @property
    def failed(self) -> int:
        return sum(self.reasons.values())


def run_read(base: str, op: tuple, current: Oracle, earlier, rec,
             op_id: str | None = None) -> float:
    """Send ``op`` (draining every ``next`` page) and classify each
    response against the oracle's ``current`` state and the ``earlier``
    ones.  Returns the milliseconds spent in requests, the oracle's own
    time left out."""
    url, page, total = base + op_path(op), 0, 0.0
    while url is not None:
        t0 = time.perf_counter()
        rid = None if op_id is None else f"{op_id}-p{page}"
        try:
            status, raw = http_get(url, rid)
        except Exception:  # the server dropped or refused the request
            if rec is not None:
                rec.request(FAMILY[op[0]], 0.0, "exception")
            return total + (time.perf_counter() - t0) * 1000.0
        ms = (time.perf_counter() - t0) * 1000.0
        total += ms
        body, nxt = raw, None
        if op[0] != "data" or status != 200:
            try:
                body = json.loads(raw)
            except ValueError:
                body = None
        if op[0] in ("work_id", "time") and isinstance(body, dict):
            nxt = body.get("next")
            if rec is not None and op_id is not None:
                with rec.lock:
                    rec.rows_per_page.append(len(body.get("records") or ()))
        reason = classify(op, status, body, current, earlier, page)
        if rec is not None:
            rec.request(FAMILY[op[0]], ms, reason)
        page += 1
        url = nxt if page < MAX_PAGES else None
    return total


# -- workloads ------------------------------------------------------------------


def push_read(env: Env, seconds: float) -> dict:
    from datalake_spark import ingest
    from datalake_spark.schema import FILES_SCHEMA

    n_timed = timed_count(TIMED_PUSHES, env.tracer is not None)
    steps = gen.push_steps(env.seed, env.rows, WARMUP_PUSHES + n_timed)
    pushdir = os.path.join(env.work, "pushes")
    os.makedirs(pushdir)
    for k, s in enumerate(steps):
        with open(os.path.join(pushdir, f"{k}.log"), "wb") as fh:
            fh.write(s["content"])
    preload = Oracle(env.rows)
    with_content = gen.content_rows(env.rows)
    # preloaded work ids no push reuses, so their listings never change
    old_work_ids = sorted({r["work_id"] for r in env.rows if r["work_id"]}
                          - {s["work_id"] for s in steps})
    env.start_server()
    tracer = env.tracer
    push_file = ingest.push_file
    if tracer is not None:
        push_file = tracer.wrap("ingest.push_file", push_file)

    def push(catalog, k: int) -> dict:
        s = steps[k]
        url = push_file(
            env.spark, catalog, env.archive,
            os.path.join(pushdir, f"{k}.log"),
            **{f: s[f] for f in ("id", "what", "where", "start", "end",
                                 "work_id", "path", "create_time")})
        row = gen.pushed_row(s, url)
        catalog.refresh_latest(
            env.spark.createDataFrame([row], schema=FILES_SCHEMA))
        return row

    def preload_reads(k: int) -> list[tuple]:
        import random

        rng = random.Random(f"push-reads-{env.seed}-{k}")
        c1, c2 = rng.sample(with_content, 2)
        # a day before the last preloaded start, so no push can fall in it
        day = gen.T_BASE + rng.randrange(gen.DAYS - 1) * gen.DAY_MS

        def by_work_id():
            return ("work_id", rng.choice(old_work_ids),
                    rng.choice(gen.WHATS))
        # one time listing to three work-id listings: a time listing is
        # about 1.5 times slower, and with equal shares the list median
        # would fall between the two routes' medians and jump between them
        return [("metadata", c1["id"]), ("data", c1["id"]),
                ("time", rng.choice(gen.WHATS), day, day + gen.DAY_MS,
                 rng.choice(gen.WHERES)), by_work_id(),
                ("metadata", c2["id"]), ("data", c2["id"]),
                by_work_id(), by_work_id()]

    pushed: list[dict] = []
    t_warm = time.perf_counter()
    for k in range(WARMUP_PUSHES):
        pushed.append(push(env.catalog, k))
        for op in preload_reads(k):
            run_read(env.base, op, preload, (), None)
    # every catalog state the app could be serving: the preload, then the
    # state after each push so far
    states = [preload] + [preload.with_rows(pushed[:i + 1])
                          for i in range(len(pushed))]

    rec = Recorder()
    push_ms: list[float] = []
    t_start = time.perf_counter()
    warm_s = t_start - t_warm
    k = WARMUP_PUSHES
    while k < len(steps) and in_time(t_start, seconds):
        traced = tracer is not None and (k - WARMUP_PUSHES) % 2 == 1
        t0 = time.perf_counter()
        if traced:
            tracer.begin(f"push{k}", "push")
        try:
            pushed.append(push(env.catalog, k))
            outcome = "ok"
        except Exception:  # a failed push is a counted failure, not a crash
            outcome = "exception"
        finally:
            if traced:
                tracer.end()
        p_ms = (time.perf_counter() - t0) * 1000.0
        with rec.lock:
            rec.writes += 1
            if outcome == "ok":
                push_ms.append(p_ms)
            else:
                rec.reasons[outcome] += 1
        if len(pushed) > len(states) - 1:
            states.append(preload.with_rows(pushed))
        current, earlier = states[-1], states[:-1]
        s = steps[k]
        ops = [("metadata", s["id"]), ("work_id", s["work_id"], s["what"]),
               ("latest", s["what"], s["where"])] + preload_reads(k)
        # a step's time is the push plus its requests, without the
        # oracle's bookkeeping and checks in between
        ms = p_ms + sum(run_read(env.base, op, current, earlier, rec,
                                 f"p{k}-r{j}" if traced else None)
                        for j, op in enumerate(ops))
        rec.op_ms.append(ms)
        (rec.traced_op_ms if traced else rec.untraced_op_ms).append(ms)
        k += 1
    elapsed = time.perf_counter() - t_start
    env.live_rows = len(states[-1].rows)
    return finish(env, rec, elapsed, extra={
        "warmup_pushes": WARMUP_PUSHES, "pushes": k - WARMUP_PUSHES,
        "warmup_s": warm_s, "timed_s": elapsed,
        "push_ms": summary(push_ms),
        "push_p50_ms": statistics.median(push_ms) if push_ms else None,
    })


def curate_batch(env: Env, seconds: float) -> dict:
    """WARMUP_PASSES untimed then TIMED_PASSES timed
    ``curate_and_export`` passes over the corpus, each into a fresh
    output and quarantine.  After every pass the output is read back as
    its users read it: every shard through ``export.read_training_shard``
    (the ``list`` family) and AUDIT_LOOKUPS dropped documents looked up in
    the quarantine, the pipeline's answer to "why is doc X not in the
    training set" (the ``lookup`` family).  Shards, manifest and
    quarantine are checked against :func:`oracle.curate_expected`."""
    import random

    from pyspark.sql import functions as F

    from datalake_spark import export, pipeline
    from oracle import curate_expected

    keep, drops = curate_expected(env.docs)
    texts = {d["doc_id"]: d["text"] for d in env.docs}
    tracer = env.tracer
    curate = pipeline.curate_and_export
    if tracer is not None:
        for name, layer in (("curate_corpus", "pipeline"),
                            ("dedup_corpus", "operators"),
                            ("write_training_shards", "export")):
            setattr(pipeline, name,
                    tracer.wrap(f"{layer}.{name}", getattr(pipeline, name)))
    rec = Recorder()

    def check_shards(out: str, manifest: dict, recorder) -> bool:
        ok = (manifest["n_rows"] == len(keep)
              and manifest["curation"]["n_input"] == len(env.docs))
        seen = []
        for shard in range(N_SHARDS):
            t0 = time.perf_counter()
            try:
                rows = export.read_training_shard(env.spark, out,
                                                  shard).collect()
            except Exception:
                recorder.request("list", 0.0, "exception")
                ok = False
                continue
            ms = (time.perf_counter() - t0) * 1000.0
            good = (all(r[export.SHARD_COL] == shard
                        and r["text"] == texts.get(r["doc_id"]) for r in rows)
                    and [(r[export.KEY_COL], r["doc_id"]) for r in rows]
                    == sorted((r[export.KEY_COL], r["doc_id"]) for r in rows))
            seen += [r["doc_id"] for r in rows]
            recorder.request("list", ms, "ok" if good else "wrong_rows")
            ok = ok and good
        return ok and len(seen) == len(keep) and set(seen) == keep

    def check_quarantine(qpath: str, k: int, recorder) -> bool:
        q = env.spark.read.parquet(qpath)
        every = q.collect()
        ok = len(every) == len(drops) and drops == {
            r["doc_id"]: (r["drop_stage"],
                          tuple(r[c] for c in pipeline.RULE_COLS))
            for r in every}
        rng = random.Random(f"audit-{env.seed}-{k}")
        for doc_id in rng.sample(sorted(drops), AUDIT_LOOKUPS):
            t0 = time.perf_counter()
            try:
                rows = q.filter(F.col("doc_id") == doc_id).collect()
            except Exception:
                recorder.request("lookup", 0.0, "exception")
                ok = False
                continue
            ms = (time.perf_counter() - t0) * 1000.0
            good = (len(rows) == 1 and rows[0]["text"] == texts[doc_id]
                    and (rows[0]["drop_stage"], tuple(
                        rows[0][c] for c in pipeline.RULE_COLS))
                    == drops[doc_id])
            recorder.request("lookup", ms, "ok" if good else "wrong_rows")
            ok = ok and good
        return ok

    def one_pass(k: int, recorder: Recorder, traced: bool) -> None:
        out = os.path.join(env.work, f"shards{k}")
        qpath = os.path.join(env.work, f"quarantine{k}")
        if traced:
            tracer.begin(f"pass{k}", "pass")
        t0 = time.perf_counter()
        try:
            manifest = curate(env.corpus, out, N_SHARDS,
                              quarantine_path=qpath)
        except Exception:  # a failed pass is a counted failure
            manifest = None
        ms = (time.perf_counter() - t0) * 1000.0
        if traced:
            tracer.end()
        reason = "exception"
        if manifest is not None:
            ok = check_shards(out, manifest, recorder)
            ok = check_quarantine(qpath, k, recorder) and ok
            reason = "ok" if ok else "wrong_rows"
        with recorder.lock:
            recorder.writes += 1  # a pass is curate_batch's write op
            if reason != "ok":
                recorder.reasons[reason] += 1
            else:
                recorder.op_ms.append(ms)
                (recorder.traced_op_ms if traced
                 else recorder.untraced_op_ms).append(ms)
        env.shard_dir, env.live_rows = out, len(keep)

    # warm-up passes are read back and checked like the timed ones, so
    # that the timed reads do not pay the readers' own warm-up (a run's
    # first ten quarantine lookups fall from about 150 to 90 ms)
    warm = Recorder()
    t_warm = time.perf_counter()
    for k in range(WARMUP_PASSES):
        one_pass(k, warm, False)
    t_start = time.perf_counter()
    n_timed = timed_count(TIMED_PASSES, tracer is not None)
    k = WARMUP_PASSES
    while k < WARMUP_PASSES + n_timed and in_time(t_start, seconds):
        one_pass(k, rec, tracer is not None and (k - WARMUP_PASSES) % 2 == 1)
        k += 1
    elapsed = time.perf_counter() - t_start
    out = finish(env, rec, elapsed, extra={
        "warmup_passes": WARMUP_PASSES, "passes": k - WARMUP_PASSES,
        "warmup_s": t_start - t_warm, "timed_s": elapsed,
        "warmup_failures": dict(warm.reasons),
        "pass_ms": rec.op_ms, "docs": len(env.docs), "kept": len(keep),
        "docs_per_s": (len(env.docs) / (statistics.median(rec.op_ms) / 1000)
                       if rec.op_ms else None),
    })
    out["wrong"] += warm.reasons.get("wrong_rows", 0)
    return out


def finish(env: Env, rec: Recorder, elapsed: float, extra: dict) -> dict:
    """The run's outcome: end-to-end metrics plus the informational
    record (environment, failure reasons, per-family summaries)."""
    attempted = rec.attempted
    info = env.env_record()
    info.update(extra)
    info["session_start_s"] = env.session_start_s
    info["load_s"] = env.load_s
    info["app_start_s"] = getattr(env, "app_start_s", None)
    info["failures"] = {r: rec.reasons.get(r, 0) for r in REASONS}
    info["families"] = {f: summary(v) for f, v in sorted(rec.lat.items())}
    info["op_ms"] = summary(rec.op_ms)
    # every timed sample, for comparing statistics across runs offline
    info["samples"] = dict(rec.lat, op=rec.op_ms)
    info["reads_per_s"] = rec.reads / elapsed
    info["peak_rss_mb"] = env.peak_rss_mb()
    metrics = {
        "setup_s": (env.setup_s, "s"),
        "op_p50_ms": (statistics.median(rec.op_ms), "ms"),
        "lookup_p50_ms": (_median(rec.lat["lookup"]), "ms"),
        "list_p50_ms": (_median(rec.lat["list"]), "ms"),
        "ok_ratio": ((attempted - rec.failed) / attempted, "ratio"),
        "stored_bytes_per_row": (env.stored_bytes_per_row(), "B/row"),
        "live_mb": (env.live_mb(), "MB"),
    }
    return {"attempted": attempted, "failed": rec.failed,
            "wrong": rec.reasons.get("wrong_rows", 0), "info": info,
            "metrics": metrics, "rec": rec}


def _median(xs):
    if not xs:
        raise RuntimeError("no successful request of a reported family")
    return statistics.median(xs)
