"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload push_read --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout.  Inputs come only from ``--seed``; every
answer is checked against the pure-Python oracle.  Standard output ends
with two JSON lines: the run record (environment, sample counts, failure
reasons) and the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and counters installed and reports the per-layer
metrics instead.  Scratch files live under ``.perfbench/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def pin_environment(work: str) -> None:
    """Engine settings pinned for every run: one shuffle partition per
    core (as the tier-1 tests run) and a heap that fits the machine;
    every scratch path inside the checkout."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _median0(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean0(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(env, out: dict) -> dict:
    """Per-layer metrics from the traced ops of the run."""
    tracer, rec = env.tracer, out["rec"]
    time.sleep(1.0)  # let Spark's listener bus publish the last jobs
    selfs = tracer.self_times()
    reads = [o for o in tracer.ops if o["kind"] == "read"]
    pushes = [o for o in tracer.ops if o["kind"] == "push"]

    def per(ops, fn):
        return [fn(selfs[o["op"]], o) for o in ops]

    def has(ops, name):
        return [o for o in ops if name in selfs[o["op"]]]

    passes = [o for o in tracer.ops if o["kind"] == "pass"]
    read_work = [tracer.spark_work(o) for o in reads]
    push_work = [tracer.spark_work(o) for o in pushes]
    pass_work = [tracer.spark_work(o) for o in passes]
    m = {
        "session.start_s": (env.session_start_s, "s"),
        "catalog.load_s": (env.load_s if env.catalog else 0.0, "s"),
        "http_api.self_ms": (_median0(per(
            reads, lambda s, o: s["http_api.request"])), "ms"),
        "query.build_ms": (_median0(per(reads, lambda s, o: sum(
            v for k, v in s.items()
            if k.startswith("query.") and "#" not in k))), "ms"),
        "query.collect_ms": (_median0(per(
            reads, lambda s, o: s.get("spark.collect", 0.0))), "ms"),
        "query.spark_jobs_per_request": (
            _mean0([j for j, _ in read_work]), "count"),
        "query.spark_tasks_per_request": (
            _mean0([t for _, t in read_work]), "count"),
        "query.rows_per_page": (_mean0(rec.rows_per_page), "count"),
        "archive.fetch_ms": (_median0(per(
            has(reads, "archive.fetch"),
            lambda s, o: s["archive.fetch#total"])), "ms"),
        "store.ops_per_read": (_mean0(per(reads, lambda s, o: sum(
            v for k, v in o["store"].items()
            if k.startswith("catalog.") and not k.endswith(".ms")))),
            "count"),
        "ingest.self_ms": (_median0(per(
            pushes, lambda s, o: s.get("ingest.push_file", 0.0))), "ms"),
        "archive.store_ms": (_median0(per(
            pushes, lambda s, o: s.get("archive.store_stream#total", 0.0))),
            "ms"),
        "catalog.append_ms": (_median0(per(
            pushes, lambda s, o: s.get("catalog.append", 0.0))), "ms"),
        "catalog.index_append_ms": (_median0(per(
            pushes,
            lambda s, o: s.get("catalog.append_work_id_index#total", 0.0))),
            "ms"),
        "catalog.refresh_latest_ms": (_median0(per(
            pushes, lambda s, o: s.get("catalog.refresh_latest#total", 0.0))),
            "ms"),
        "catalog.commit_conflicts": (sum(
            o["counts"].get("catalog.commit_conflicts", 0)
            for o in tracer.ops), "count"),
        "ingest.spark_jobs_per_push": (
            _mean0([j for j, _ in push_work]), "count"),
        "ingest.spark_tasks_per_push": (
            _mean0([t for _, t in push_work]), "count"),
    }
    for verb in ("get", "put", "list", "copy", "delete"):
        m[f"store.{verb}_per_push"] = (_mean0([
            o["store"].get(f"catalog.{verb}", 0)
            + o["store"].get(f"archive.{verb}", 0) for o in pushes]),
            "count")
    m["store.bytes_put_per_push"] = (_mean0([
        o["counts"].get("store.bytes_put", 0) for o in pushes]), "B")
    m["store.ms_per_push"] = (_mean0([
        o["store"].get("catalog.ms", 0.0) + o["store"].get("archive.ms", 0.0)
        for o in pushes]), "ms")
    m["pipeline.curate_corpus_ms"] = (_median0(per(
        passes, lambda s, o: s.get("pipeline.curate_corpus#total", 0.0)
        - s.get("operators.dedup_corpus#total", 0.0))), "ms")
    m["operators.dedup_ms"] = (_median0(per(
        passes, lambda s, o: s.get("operators.dedup_corpus#total", 0.0))),
        "ms")
    m["export.write_shards_ms"] = (_median0(per(
        passes,
        lambda s, o: s.get("export.write_training_shards#total", 0.0))),
        "ms")
    m["spark.jobs_per_pass"] = (_mean0([j for j, _ in pass_work]), "count")
    m["spark.tasks_per_pass"] = (_mean0([t for _, t in pass_work]), "count")
    counts = (env.catalog.partition_file_counts() if env.catalog
              else {None: 0})
    m["catalog.data_files"] = (sum(counts.values()), "count")
    m["catalog.files_per_partition_max"] = (max(counts.values()), "count")
    m["trace.overhead_pct"] = ((
        statistics.median(rec.traced_op_ms)
        / statistics.median(rec.untraced_op_ms) - 1.0) * 100.0, "%")
    m["trace.spans_per_op"] = (len(tracer.spans) / max(1, len(
        rec.traced_op_ms)), "count")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("push_read", "curate_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import datalake_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    scratch = os.path.join(ROOT, ".perfbench")
    work = os.path.join(
        scratch, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)

    t_run = time.perf_counter()
    env = workloads.Env(work, args.seed, trace=bool(args.trace))
    storage_url = env.storage_dir
    if args.trace:
        from urllib.parse import urlparse

        from datalake_spark.store import LocalStore, register_scheme
        from tracing import CountingStore

        # the archive reaches its store through the scheme registry, so a
        # counting store is plugged in under a scheme of its own
        register_scheme("benchfs", lambda url: CountingStore(
            LocalStore(urlparse(url).path), env.tracer, "archive"))
        storage_url = "benchfs://" + env.storage_dir
    try:
        if args.workload == "curate_batch":
            env.make_corpus()
            env.start_session()
            env.open_corpus()
        else:
            env.make_inputs(storage_url)
            env.start_session()
            env.load_catalog()
        out = getattr(workloads, args.workload)(env, args.seconds)
        if args.trace:
            metrics = layer_metrics(env, out)
            env.tracer.dump(os.path.join(
                scratch, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = out["metrics"]
    finally:
        t_close = time.perf_counter()
        env.close()
        shutil.rmtree(work, ignore_errors=True)
    out["info"]["close_s"] = time.perf_counter() - t_close
    out["info"]["run_s"] = time.perf_counter() - t_run
    print(json.dumps(out["info"], sort_keys=True))
    print(json.dumps({
        "correct": out["wrong"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
