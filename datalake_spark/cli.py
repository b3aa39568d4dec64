"""CLI parity with the reference's ``datalake`` tool (O13/O22/O23).

Commands mirror client/datalake/scripts/cli.py: ``push`` (metadata into the
catalog; content upload is object-store IO outside the engine), ``list``
(time-interval or work-id query), ``latest``.  Output formats are the
reference's ``_list_result_formatters`` set (cli.py:229-241): url / json /
json-pretty / human.  Config cascade (O23, common/conf.py:20-70): CLI args
override ``DATALAKE_*`` environment variables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any

from pyspark.sql import functions as F

from datalake_spark.catalog import Catalog
from datalake_spark.ingest import prepare_metadata, push_metadata
from datalake_spark.query import QueryEngine, validate_query_params


def _env_default(name: str) -> str | None:
    return os.environ.get(f"DATALAKE_{name.upper()}")


def _fmt_human(rec: dict[str, Any]) -> str:
    from datetime import datetime, timezone

    def iso(ms):
        if ms is None:
            return "null"
        return (
            datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%S.%f"
            )[:-3]
            + "Z"
        )

    return (
        f"{rec.get('id')} {rec.get('what')} {rec.get('where')} "
        f"start: {iso(rec.get('start'))} end: {iso(rec.get('end'))} "
        f"work_id: {rec.get('work_id')}"
    )


def _evaluate_time(path: str | None, t: str | None):
    """'now'/'crtime' argument evaluation shared by push and enqueue
    (reference cli.py:146-158); crtime (O24) is the stdlib statx facility
    in datalake_spark.crtime."""
    import time as _time

    if t == "now":
        return int(_time.time() * 1000)
    if t == "crtime":
        if path is None:
            raise SystemExit(
                "--start/--end crtime requires a local file path "
                "(crtime is read from the file's inode)"
            )
        from datalake_spark.crtime import get_crtime

        return int(get_crtime(path) * 1000)
    return t


_FORMATTERS = {
    "url": lambda r: str(r.get("url")),
    "json": lambda r: json.dumps(r, sort_keys=True, default=str),
    "json-pretty": lambda r: json.dumps(r, sort_keys=True, indent=2, default=str),
    "human": _fmt_human,
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="datalake-spark")
    # defaults stay None here: the config cascade (file < env < args) is
    # resolved in run() AFTER load_config has populated the environment
    p.add_argument("-c", "--config", default=None,
                   help="config file (KEY=VALUE lines); DATALAKE_CONFIG or "
                        "/etc/datalake.env when omitted")
    p.add_argument("--catalog", default=None)
    sub = p.add_subparsers(dest="command", required=True)

    pp = sub.add_parser("push", help="validate + append metadata to the catalog "
                                     "(and store content when --storage-url is "
                                     "configured and --path is a local file)")
    for f in ("what", "where", "start", "end", "work-id", "path", "hash", "id"):
        pp.add_argument(f"--{f}")
    pp.add_argument("--translate", action="append", default=[],
                    help="field=<regex>~<fmt> translation applied to path")
    pp.add_argument("--storage-url", dest="storage_url", default=None)
    pp.add_argument("--compress", action="store_true",
                    help="gzip content on ingest (O21)")

    lp = sub.add_parser("list", help="query files")
    lp.add_argument("what")
    lp.add_argument("--start")
    lp.add_argument("--end")
    lp.add_argument("--where")
    lp.add_argument("--work-id", dest="work_id")
    lp.add_argument("--format", choices=sorted(_FORMATTERS), default="url")
    lp.add_argument("--at-version", dest="at_version", type=int, default=None,
                    help="time-travel: query a retained files-table "
                         "snapshot (see `versions`) instead of current")

    fp = sub.add_parser("fetch", help="fetch url(s) to templated filenames")
    fp.add_argument("urls", nargs="*")
    fp.add_argument("--filename-template", dest="filename_template", default=None)
    fp.add_argument("--storage-url", dest="storage_url",
                    default=None, help="content store root (DATALAKE_STORAGE_URL)")
    fp.add_argument("--http-url", dest="http_url", default=None,
                    help="http api base for http(s) urls (DATALAKE_HTTP_URL)")

    cp = sub.add_parser("cat", help="fetch url(s) and write content to stdout")
    cp.add_argument("urls", nargs="*")
    cp.add_argument("--storage-url", dest="storage_url", default=None)
    cp.add_argument("--http-url", dest="http_url", default=None)

    xp = sub.add_parser("translate",
                        help="apply a <regex>~<format> translation expression "
                             "to a path (reference cli translate)")
    xp.add_argument("translation_expression")
    xp.add_argument("file")

    tp = sub.add_parser("latest", help="newest file for (what, where)")
    tp.add_argument("what")
    tp.add_argument("where")
    tp.add_argument("--as-of", dest="as_of", default=None,
                    help="evaluate latest as of this time (default: now)")
    tp.add_argument("--lookback", type=int, default=14,
                    help="lookback window in days (reference default 14)")
    tp.add_argument("--format", choices=sorted(_FORMATTERS), default="url")

    mp = sub.add_parser("compact", help="rewrite the files table to bounded "
                                        "file counts per partition")
    mp.add_argument("--target-file-rows", dest="target_file_rows", type=int,
                    default=1_000_000)
    mp.add_argument("--keep-versions", dest="keep_versions", type=int,
                    default=2, help="retained snapshots incl. current")
    mp.add_argument("--if-over", dest="if_over", type=int, default=None,
                    help="only compact when some partition exceeds this "
                         "many files (cheap listing check; the streaming "
                         "small-file guard)")
    mp.add_argument("--layout", default="sort", choices=["sort", "zorder"],
                    help="within-partition clustering: single-key sort "
                         "(default) or Morton z-order on (start, "
                         "hash(work_id)) for two-dimensional row-group "
                         "skipping")

    vp = sub.add_parser("versions", help="list retained files-table versions")
    vp.add_argument("--keep-versions", dest="keep_versions", type=int,
                    default=2)

    ip = sub.add_parser("index", help="build (or rebuild) the work-id "
                                      "secondary index")
    ip.add_argument("--buckets", type=int, default=64,
                    help="hash buckets; size so one bucket ~ one task")

    dp = sub.add_parser("delete", help="hard-delete rows matching a SQL "
                                       "predicate (rewrites the table, "
                                       "cascades latest + work-id index)")
    dp.add_argument("predicate", help="SQL boolean over the files columns, "
                                      "e.g. \"id = 'abc'\"")

    ud = sub.add_parser("update", help="UPDATE ... SET: rewrite matching "
                                       "rows under the commit protocol "
                                       "(cascades latest + work-id index)")
    ud.add_argument("predicate", help="SQL boolean over the files columns")
    ud.add_argument("--set", dest="assignments", action="append",
                    required=True, metavar="COL=EXPR",
                    help="column assignment, repeatable; EXPR is a SQL "
                         "expression over the row")

    st = sub.add_parser("stats", help="ANALYZE: per-column null counts, "
                                      "approx NDV, min/max")

    fs = sub.add_parser("fsck", help="catalog invariant check: manifests, "
                                     "orphan version dirs, expired "
                                     "locks/leases, latest/index staleness")
    fs.add_argument("--shallow", action="store_true",
                    help="skip the join-based data checks")
    fs.add_argument("--gc-orphans", dest="gc_orphans", action="store_true",
                    help="delete unreferenced version dirs first (losing "
                         "optimistic-commit attempts; never touches dirs "
                         "at or beyond each table's current version)")

    ep = sub.add_parser("enqueue", help="spool a file+metadata bundle for "
                                        "the uploader (O20)")
    for f in ("what", "where", "start", "end", "work-id"):
        ep.add_argument(f"--{f}")
    ep.add_argument("--compress", action="store_true")
    ep.add_argument("--queue-dir", dest="queue_dir", default=None)
    ep.add_argument("file")

    up = sub.add_parser("uploader", help="drain + watch the spool queue, "
                                         "pushing bundles to the archive "
                                         "and catalog (O20)")
    up.add_argument("--timeout", type=float, default=None)
    up.add_argument("--workers", type=int, default=1)
    up.add_argument("--queue-dir", dest="queue_dir", default=None)
    up.add_argument("--storage-url", dest="storage_url", default=None)

    sp = sub.add_parser("serve", help="serve the reference's HTTP API "
                                      "(files/latest/health) over the "
                                      "query engine")
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8080)
    sp.add_argument("--storage-url", dest="storage_url", default=None)

    ln = sub.add_parser("listen", help="run the streaming metadata-ingest "
                                       "daemon: watch a landing dir of "
                                       "S3-event JSON and ingest into the "
                                       "catalog (files + latest + reports; "
                                       "the reference's `datalake_tool "
                                       "listen`, ingester/cli.py:36-39)")
    ln.add_argument("landing_dir", help="directory the event JSON lands in")
    ln.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default "
                         "<catalog>/_checkpoints/ingest — survives "
                         "restarts, exactly-once per event file)")
    ln.add_argument("--reports", default=None,
                    help="ingest-report side-output path "
                         "(default <catalog>/reports)")
    ln.add_argument("--once", action="store_true",
                    help="drain currently-visible events and exit "
                         "(availableNow trigger) instead of running "
                         "continuously")
    ln.add_argument("--interval", default="10 seconds",
                    help="micro-batch pacing in continuous mode")
    ln.add_argument("--timeout", type=float, default=None,
                    help="stop the daemon after this many seconds "
                         "(bounded runs/tests; default: run until killed)")

    cs = sub.add_parser("curate-stream", help="streaming curation daemon: "
                                             "watch a landing dir of "
                                             "document JSON, apply quality "
                                             "rules + watermark-bounded "
                                             "dedup, append training shards")
    cs.add_argument("landing_dir", help="directory document JSON lands in "
                                        "(doc_id, text, lang, ms)")
    cs.add_argument("shards", help="training-shard output directory")
    cs.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default "
                         "<shards>/_checkpoint)")
    cs.add_argument("--n-shards", dest="n_shards", type=int, default=8)
    cs.add_argument("--watermark", default="1 hour",
                    help="late-data horizon for exact-dup state")
    cs.add_argument("--scrub-pii", dest="scrub_pii", action="store_true",
                    help="redact emails/IPs/phones before hashing so "
                         "PII-only variants dedup")
    cs.add_argument("--near-dup", dest="near_dup", type=float, default=None,
                    metavar="JACCARD",
                    help="also near-dup each batch against the standing "
                         "MinHash signature store at this Jaccard "
                         "threshold (incremental: the corpus is never "
                         "re-paired)")
    cs.add_argument("--compact-every", dest="compact_every", type=int,
                    default=0, help="threshold-compact shards every N "
                                    "micro-batches (0 = off)")
    cs.add_argument("--lm-model", dest="lm_model", default=None,
                    metavar="PATH",
                    help="parquet path of a pretrained bigram LM model "
                         "(operators/lm.lm_train output): micro-batches "
                         "are scored statelessly and docs with "
                         "0 <= lm_score_micro < --lm-threshold drop "
                         "before the near-dup/index stages")
    cs.add_argument("--lm-threshold", dest="lm_threshold", type=int,
                    default=None, metavar="MICRO",
                    help="quality floor in micro units (with "
                         "--lm-model)")
    cs.add_argument("--ann-index", dest="ann_index", default=None,
                    metavar="ROOT",
                    help="also append curated survivors' embeddings to "
                         "the standing IVF-PQ index at ROOT (must be "
                         "built first: 'ann build ROOT seed.parquet'); "
                         "landing JSON must then carry an 'embedding' "
                         "array column — the composed ingest → curate "
                         "→ serve lifecycle under ONE checkpoint: the "
                         "checkpoint is registered in the index "
                         "manifest (stream id + epoch base), so a "
                         "fresh checkpoint starts a new collision-free "
                         "epoch range, and a checkpoint reused for a "
                         "different landing dir or index lifetime is "
                         "refused at start")
    cs.add_argument("--once", action="store_true",
                    help="drain visible documents and exit")
    cs.add_argument("--interval", default="10 seconds",
                    help="micro-batch pacing in continuous mode")
    cs.add_argument("--timeout", type=float, default=None,
                    help="stop the daemon after this many seconds")

    cu = sub.add_parser("curate", help="quality-filter + near-dup dedup a "
                                       "document table and write "
                                       "deterministic training shards")
    cu.add_argument("input", help="parquet path with (doc_id, text, lang)")
    cu.add_argument("output", help="shard output directory")
    cu.add_argument("--n-shards", dest="n_shards", type=int, default=8)
    cu.add_argument("--strategy", default="minhash",
                    choices=["exact", "fingerprint", "minhash", "simhash",
                             "semantic"])
    cu.add_argument("--embeddings", default=None,
                    help="parquet path of (doc_id, embedding) vectors — "
                         "required by --strategy semantic (SemDeDup: "
                         "k-means clusters, within-cluster cosine)")
    cu.add_argument("--semantic-k", dest="semantic_k", type=int, default=8,
                    help="k-means cluster count for --strategy semantic; "
                         "size so clusters hold ~sqrt(n) docs (pairs are "
                         "searched within clusters only)")
    cu.add_argument("--threshold", type=float, default=0.5)
    cu.add_argument("--seed", default="shuf42")
    cu.add_argument("--quarantine", default=None,
                    help="also write dropped docs with per-rule attribution")
    cu.add_argument("--fmt", default="parquet",
                    choices=["parquet", "jsonl", "webdataset"],
                    help="shard layout: parquet, line-delimited JSON, or "
                         "WebDataset tar shards — same seeded membership "
                         "in all three")
    cu.add_argument("--benchmark", default=None,
                    help="parquet path of an eval set: drop corpus docs "
                         "sharing any n-gram with it (decontamination; "
                         "quarantine stage 'contaminated')")
    cu.add_argument("--decon-n", dest="decon_n", type=int, default=13,
                    help="n-gram size for --benchmark decontamination "
                         "(default 13, the GPT-3 rule)")
    cu.add_argument("--quality-lm-threshold", dest="quality_lm_threshold",
                    type=int, default=None,
                    help="CCNet-style bigram-LM quality floor in micro "
                         "units (exact-integer mean token probability): "
                         "docs scoring below it are dropped (quarantine "
                         "stage 'low_lm_quality'); the model trains on "
                         "--lm-reference, else on the rule survivors")
    cu.add_argument("--lm-reference", dest="lm_reference", default=None,
                    help="parquet path of clean reference text the "
                         "--quality-lm-threshold model trains on")
    cu.add_argument("--dsir-target", dest="dsir_target", default=None,
                    help="parquet path of target-distribution text: keep "
                         "only the --dsir-top-n docs by DSIR importance "
                         "weight (hashed-n-gram log-ratio vs this target; "
                         "quarantine stage 'dsir_unselected')")
    cu.add_argument("--dsir-top-n", dest="dsir_top_n", type=int,
                    default=None,
                    help="how many docs the --dsir-target selection keeps")
    cu.add_argument("--dsir-after-dedup", dest="dsir_after_dedup",
                    action="store_true",
                    help="run the DSIR selection AFTER dedup/span stages "
                         "(scores the cleaned corpus; kept count equals "
                         "min(top-n, deduped size)) instead of the "
                         "cheaper pre-dedup default, whose top-n slots "
                         "duplicate clusters can consume")

    an = sub.add_parser("ann", help="standing IVF-PQ ANN index lifecycle "
                                    "(operators/ann_index.IvfPqIndex) "
                                    "under the catalog's marker-CAS "
                                    "commit protocol")
    an.add_argument("verb", choices=["build", "append", "search",
                                     "rebuild"])
    an.add_argument("root", help="index root URL (any registered store "
                                 "scheme; plain paths are file-local)")
    an.add_argument("vectors", help="parquet of (id, vector) rows — the "
                                    "corpus for build/append/rebuild, "
                                    "the queries for search")
    an.add_argument("--epoch", type=int, default=None,
                    help="append: the idempotency epoch (replaying a "
                         "committed epoch is a no-op; required)")
    an.add_argument("--k", type=int, default=None,
                    help="search: results per query (default 10)")
    an.add_argument("--nprobe", type=int, default=None,
                    help="search: probed coarse cells, default 4 "
                         "(>= num-centroids degrades gracefully to "
                         "exact PQ)")
    an.add_argument("--num-centroids", dest="num_centroids", type=int,
                    default=None,
                    help="coarse IVF cells (build default 16; on "
                         "rebuild an explicit value RESHAPES the index, "
                         "else manifest geometry is kept)")
    an.add_argument("--m", type=int, default=None,
                    help="PQ subspaces / codes per vector (build "
                         "default 8; rebuild: explicit value reshapes)")
    an.add_argument("--ksub", type=int, default=None,
                    help="codewords per subspace (build default 16; "
                         "rebuild: explicit value reshapes)")
    an.add_argument("--train-iters", dest="train_iters", type=int,
                    default=None, help="Lloyd rounds over the coreset "
                                       "seed (default 2)")
    an.add_argument("--residual", action="store_const", const=True,
                    default=None,
                    help="the IVFADC residual layout (codes quantize "
                         "vector - cell-centroid; wins on clustered "
                         "corpora — see ann_clustered_recall).  Build "
                         "default raw; rebuild keeps the manifest's "
                         "layout unless given")
    an.add_argument("--ids-buckets", dest="ids_buckets", type=int,
                    default=None,
                    help="hash-bucket fanout of the ids tree (the "
                         "append guard's partition prune; default 64, "
                         "rebuild rewrites the tree at this fanout)")
    an.add_argument("--id-col", dest="id_col", default="vec_id")
    an.add_argument("--vec-col", dest="vec_col", default="embedding")
    return p


def _validate_args(p, args) -> None:
    """Cross-flag contracts argparse can't express per-argument."""
    if args.command == "curate":
        # curate_corpus requires BOTH; one alone used to silently skip
        # the stage (and still read the target parquet)
        if (args.dsir_target is None) != (args.dsir_top_n is None):
            p.error("--dsir-target and --dsir-top-n must be given "
                    "together (one alone disables the DSIR stage)")
        if args.dsir_after_dedup and args.dsir_target is None:
            p.error("--dsir-after-dedup requires --dsir-target and "
                    "--dsir-top-n")
    if args.command == "curate-stream":
        # same contract as curate's --dsir pair: one flag alone used to
        # be a constructor-time error, now a parse-time one
        if (args.lm_model is None) != (args.lm_threshold is None):
            p.error("--lm-model and --lm-threshold must be given "
                    "together (one alone disables nothing silently — "
                    "the stage needs both)")
    if args.command == "ann":
        if args.verb == "append" and args.epoch is None:
            p.error("ann append requires --epoch (the idempotency key "
                    "that makes at-least-once delivery safe)")
        # verb-irrelevant flags ERROR instead of being silently parsed
        # and ignored ('ann build --epoch 2' used to give no feedback
        # that the flag did nothing)
        geometry = [("--num-centroids", args.num_centroids),
                    ("--m", args.m), ("--ksub", args.ksub),
                    ("--train-iters", args.train_iters),
                    ("--residual", args.residual),
                    ("--ids-buckets", args.ids_buckets)]
        probe = [("--k", args.k), ("--nprobe", args.nprobe)]
        epoch = [("--epoch", args.epoch)]
        irrelevant = {
            # append/search follow the MANIFEST's geometry
            "build": epoch + probe,
            "append": probe + geometry,
            "search": epoch + geometry,
            "rebuild": epoch + probe,
        }[args.verb]
        bad = [flag for flag, v in irrelevant if v is not None]
        if bad:
            p.error(f"ann {args.verb} does not use {', '.join(bad)} — "
                    "these flags apply to another verb and would be "
                    "silently ignored")


def run(argv: list[str], spark=None, out=sys.stdout) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    _validate_args(parser, args)

    # O23 cascade: file layer fills the environment (without clobbering it),
    # then env-backed defaults resolve, then explicit args win below.
    from datalake_spark.conf import load_config

    load_config(args.config)

    # translate is pure string work — no SparkSession needed
    if args.command == "translate":
        from datalake_spark.translator import Translator

        print(Translator(args.translation_expression).translate(args.file),
              file=out)
        return 0

    # fetch/cat are pure content-store IO — no SparkSession needed
    if args.command in ("fetch", "cat"):
        from datalake_spark.archive import Archive

        storage = args.storage_url or _env_default("storage_url")
        if not storage:
            print("fetch requires --storage-url or DATALAKE_STORAGE_URL",
                  file=sys.stderr)
            return 2
        archive = Archive(storage,
                          http_url=args.http_url or _env_default("http_url"))
        urls = args.urls or [line.rstrip("\n") for line in sys.stdin]
        for url in urls:
            if args.command == "fetch":
                print(archive.fetch_to_filename(
                    url, filename_template=args.filename_template), file=out)
            else:
                f = archive.fetch(url)
                out.write(f.read().decode("utf-8", errors="replace"))
        return 0

    # enqueue is pure local IO — no SparkSession needed
    if args.command == "enqueue":
        from datalake_spark.spool import Enqueuer

        meta = Enqueuer(args.queue_dir).enqueue(
            args.file,
            compress=args.compress,
            what=args.what,
            where=args.where,
            start=_evaluate_time(args.file, args.start),
            end=_evaluate_time(args.file, args.end),
            work_id=args.work_id,
        )
        print(f"Enqueued {args.file} as {meta['id']}", file=out)
        return 0

    if spark is None:
        from datalake_spark.session import get_spark

        spark = get_spark("datalake-cli")

    if args.command == "ann":
        # index-rooted, catalog-independent.  search output is bounded
        # by |queries| x k (CLI-requested rows, the list/stats print
        # discipline); build/append/rebuild print the committed
        # manifest.
        import json as _json

        from datalake_spark.operators.ann_index import IvfPqIndex

        def _dflt(v, d):
            return d if v is None else v

        idx = IvfPqIndex(
            spark, args.root,
            num_centroids=_dflt(args.num_centroids, 16),
            m=_dflt(args.m, 8), ksub=_dflt(args.ksub, 16),
            train_iters=_dflt(args.train_iters, 2),
            id_col=args.id_col, vec_col=args.vec_col,
            residual=bool(_dflt(args.residual, False)),
            ids_buckets=_dflt(args.ids_buckets, 64),
        )
        vecs = spark.read.parquet(args.vectors)
        if args.verb == "search":
            rows = idx.search(
                vecs, k=_dflt(args.k, 10), nprobe=_dflt(args.nprobe, 4)
            ).collect()
            for r in rows:
                print(_json.dumps(
                    {"q_id": r["q_id"], "c_id": r["c_id"],
                     "adc": r["adc"], "rk": r["rk"]}), file=out)
            return 0
        if args.verb == "build":
            man = idx.build(vecs)
        elif args.verb == "append":
            man = idx.append(vecs, args.epoch)
        else:
            # rebuild: explicit flags RESHAPE the index; absent flags
            # defer to the committed manifest (ann_index.rebuild)
            man = idx.rebuild(
                vecs, num_centroids=args.num_centroids, m=args.m,
                ksub=args.ksub, train_iters=args.train_iters,
                residual=args.residual,
            )
        print(_json.dumps(man, sort_keys=True), file=out)
        return 0

    catalog = Catalog(
        spark,
        args.catalog or _env_default("catalog") or "./catalog",
        keep_versions=getattr(args, "keep_versions", 2),
    )

    if args.command == "compact":
        if args.if_over is not None:
            ran = catalog.maybe_compact(
                max_files_per_partition=args.if_over,
                target_file_rows=args.target_file_rows,
                layout=args.layout,
            )
            print(f"compacted: {ran}", file=out)
        else:
            catalog.compact(
                target_file_rows=args.target_file_rows, layout=args.layout
            )
        for entry in catalog.table_versions():
            print(f"v{entry['version']} {entry['dir']}", file=out)
        return 0

    if args.command == "versions":
        for entry in catalog.table_versions():
            print(f"v{entry['version']} {entry['dir']}", file=out)
        return 0

    if args.command == "index":
        catalog.build_work_id_index(num_buckets=args.buckets)
        idx = catalog.work_id_index()
        n = idx[0].count() if idx else 0
        print(f"indexed {n} rows in {args.buckets} buckets", file=out)
        return 0

    if args.command == "delete":
        before = catalog.files().count()
        catalog.delete_where(args.predicate)
        after = catalog.files().count()
        print(f"deleted {before - after} rows", file=out)
        return 0

    if args.command == "update":
        sets = {}
        for a in args.assignments:
            if "=" not in a:
                print(f"bad --set {a!r}: want COL=EXPR", file=sys.stderr)
                return 2
            c, expr = a.split("=", 1)
            sets[c.strip()] = expr
        before = catalog.files().filter(args.predicate).count()
        catalog.update_where(args.predicate, sets)
        print(f"updated {before} rows", file=out)
        return 0

    if args.command == "stats":
        for r in catalog.collect_stats().collect():
            print(f"{r['column']}\tnulls={r['n_nulls']}\t"
                  f"ndv~{r['approx_ndv']}\tmin={r['min_str']}\t"
                  f"max={r['max_str']}", file=out)
        return 0

    if args.command == "fsck":
        if args.gc_orphans:
            for table, gone in sorted(catalog.gc_orphans().items()):
                print(f"gc {table}: removed {' '.join(gone)}", file=out)
        report = catalog.fsck(deep=not args.shallow)
        for p in report["problems"]:
            print(f"PROBLEM {p}", file=out)
        for k, v in sorted(report["info"].items()):
            print(f"info {k}={v}", file=out)
        print("ok" if report["ok"] else "NOT OK", file=out)
        return 0 if report["ok"] else 1

    if args.command == "uploader":
        from datalake_spark.archive import Archive
        from datalake_spark.spool import Uploader

        storage = args.storage_url or _env_default("storage_url")
        if not storage:
            print("uploader requires --storage-url or DATALAKE_STORAGE_URL",
                  file=sys.stderr)
            return 2
        n = Uploader(
            Archive(storage), args.queue_dir, catalog=catalog, spark=spark,
            callback=lambda p: print(f"Pushed {p}", file=out),
        ).listen(timeout=args.timeout, workers=args.workers)
        print(f"Uploaded {n}", file=out)
        return 0

    if args.command == "push":
        import hashlib
        import time as _time

        translations = dict(t.split("=", 1) for t in args.translate)
        # content half (O12/O15/O21): a local --path with a configured store
        # uploads bytes and infers the blake2b hash, like the reference's
        # prepare_metadata_and_push (archive.py:186-257)
        storage = args.storage_url or _env_default("storage_url")
        content = None
        if storage and args.path and os.path.isfile(args.path):
            with open(args.path, "rb") as fh:
                content = fh.read()
        rec = {
            "what": args.what,
            "where": args.where,
            "start": _evaluate_time(args.path, args.start),
            "end": _evaluate_time(args.path, args.end),
            "work_id": getattr(args, "work_id", None),
            "path": args.path,
            "hash": args.hash
            or (
                hashlib.blake2b(content, digest_size=16).hexdigest()
                if content is not None
                else "0" * 32
            ),
            "id": args.id,
        }
        if rec["id"] is None:
            del rec["id"]
        [prepared] = prepare_metadata(
            [rec], translations=translations, default_where=_env_default("default_where")
        )
        urls = None
        if content is not None:
            from datalake_spark.archive import Archive

            url = Archive(storage).store(prepared, content, compress=args.compress)
            urls = {prepared["id"]: url}
        push_metadata(spark, catalog, [prepared], urls=urls)
        print(prepared["id"], file=out)
        return 0

    # analysis-time validation first (O10) — before any catalog IO
    params = None
    if args.command == "list":
        params = validate_query_params(
            {
                "what": args.what,
                "start": args.start,
                "end": args.end,
                "work_id": args.work_id,
            }
        )
    if args.command == "listen":
        from datalake_spark.streaming.ingest import StreamingIngester

        ingester = StreamingIngester(spark, catalog, reports_path=args.reports)
        ckpt = args.checkpoint or os.path.join(
            catalog.root, "_checkpoints", "ingest"
        )
        query = ingester.start(
            args.landing_dir,
            ckpt,
            available_now=args.once,
            trigger_interval=args.interval,
        )
        if args.once:
            query.awaitTermination()
        elif args.timeout is not None:
            query.awaitTermination(args.timeout)
            query.stop()
            query.awaitTermination()
        else:  # daemon: run until killed
            query.awaitTermination()
        rep = ingester.reports()
        if rep is not None:
            agg = rep.agg(
                F.sum("n_records").alias("n"), F.sum("n_errors").alias("e")
            ).collect()[0]
            print(
                f"ingested {agg['n'] or 0} records "
                f"({agg['e'] or 0} errors) -> {catalog.root}",
                file=out,
            )
        else:
            print(f"ingested 0 records -> {catalog.root}", file=out)
        return 0

    if args.command == "curate-stream":
        from datalake_spark.streaming.curation import StreamingCurator

        ann_index = None
        if args.ann_index is not None:
            from datalake_spark.operators.ann_index import (
                IndexNotBuilt,
                IvfPqIndex,
            )

            ann_index = IvfPqIndex(
                spark, args.ann_index, id_col="doc_id",
            )
            if ann_index.manifest() is None:
                raise IndexNotBuilt(
                    f"{args.ann_index}: build the index first "
                    "('ann build ROOT seed.parquet') — append encodes "
                    "against the standing model and never retrains"
                )
        curator = StreamingCurator(
            spark, args.shards, n_shards=args.n_shards,
            compact_every=args.compact_every,
            near_dup_threshold=args.near_dup,
            ann_index=ann_index,
            lm_model_path=args.lm_model,
            lm_threshold=args.lm_threshold,
        )
        ckpt = args.checkpoint or os.path.join(args.shards, "_checkpoint")
        # checkpoint ↔ index binding is no longer a driver-local isdir
        # heuristic (r13's guard false-refused a fresh stream on a
        # manually-appended index and missed copied/foreign checkpoints
        # and store-URL checkpoints entirely): StreamingCurator.start()
        # registers the checkpoint IN the index manifest
        # (IvfPqIndex.register_stream) — fresh checkpoints get their own
        # epoch base above all committed epochs, known checkpoints are
        # verified (landing dir, index lifetime, no foreign epochs in
        # range), and every mismatch raises before the query starts.
        query = curator.start(
            args.landing_dir,
            ckpt,
            available_now=args.once,
            trigger_interval=args.interval,
            watermark=args.watermark,
            scrub_pii=args.scrub_pii,
        )
        if args.once:
            query.awaitTermination()
        elif args.timeout is not None:
            query.awaitTermination(args.timeout)
            query.stop()
            query.awaitTermination()
        else:  # daemon: run until killed
            query.awaitTermination()
        try:
            n = spark.read.parquet(args.shards).count()
        except Exception:
            n = 0
        print(f"curated shards hold {n} docs -> {args.shards}", file=out)
        return 0

    if args.command == "curate":
        import json as _json

        from datalake_spark.pipeline import curate_and_export

        semantic_kw = {}
        if args.strategy == "semantic":
            if not args.embeddings:
                print("curate --strategy semantic requires --embeddings",
                      file=out)
                return 2
            semantic_kw["embeddings"] = spark.read.parquet(args.embeddings)
            semantic_kw["k"] = args.semantic_k
        manifest = curate_and_export(
            spark.read.parquet(args.input),
            args.output,
            args.n_shards,
            seed=args.seed,
            dedup_strategy=args.strategy,
            dedup_threshold=args.threshold,
            quarantine_path=args.quarantine,
            fmt=args.fmt,
            benchmark=(
                spark.read.parquet(args.benchmark)
                if args.benchmark else None
            ),
            decontaminate_n=args.decon_n,
            quality_lm_threshold=args.quality_lm_threshold,
            lm_reference=(
                spark.read.parquet(args.lm_reference)
                if args.lm_reference else None
            ),
            dsir_target=(
                spark.read.parquet(args.dsir_target)
                if args.dsir_target else None
            ),
            dsir_top_n=args.dsir_top_n,
            dsir_after_dedup=args.dsir_after_dedup,
            **semantic_kw,
        )
        print(_json.dumps(manifest, sort_keys=True), file=out)
        return 0

    if args.command == "serve":
        from datalake_spark.archive import Archive
        from datalake_spark.http_api import DatalakeHttpApp, serve

        storage = args.storage_url or _env_default("storage_url")
        archive = Archive(storage) if storage else None
        app = DatalakeHttpApp(
            QueryEngine(catalog.files(), latest_table=catalog.latest_table(),
                        work_id_index=catalog.work_id_index()),
            archive=archive,
            storage_url=storage,
        )
        server = serve(app, host=args.host, port=args.port)
        print(f"Serving on http://{server.server_address[0]}:"
              f"{server.server_address[1]}", file=out)
        server.serve_forever()
        return 0

    at_version = getattr(args, "at_version", None)
    if at_version is not None:
        # snapshot read: no latest fast path or index (they track current)
        engine = QueryEngine(catalog.files_at(at_version))
    else:
        engine = QueryEngine(catalog.files(),
                             latest_table=catalog.latest_table(),
                             work_id_index=catalog.work_id_index())
    fmt = _FORMATTERS[args.format]
    if args.command == "list":
        if params.get("work_id") is not None:
            df = engine.by_work_id(params["work_id"], params["what"], where=args.where)
        else:
            df = engine.by_time(
                params["what"], params["start"], params["end"], where=args.where
            )
        for row in df.toLocalIterator():  # O13: full scan-all-pages generator
            print(fmt(row.asDict()), file=out)
        return 0

    if args.command == "latest":
        row = engine.latest(
            args.what, args.where, as_of=args.as_of, lookback_days=args.lookback
        )
        if row is None:
            print("null", file=out)
            return 1
        print(fmt(row.asDict()), file=out)
        return 0
    return 2


def main() -> None:
    sys.exit(run(sys.argv[1:]))


if __name__ == "__main__":
    main()
