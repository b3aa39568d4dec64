"""The benchmark's own checks: seeded inputs repeat, the reporting rule
for percentiles holds, and the oracle agrees with the real app over a
tiny catalog.

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

import gen
import stats
import workloads
from oracle import Oracle, classify, curate_expected, metadata_doc, paginate


# -- generator ------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a = gen.preload_rows(7, "/store")
    assert a == gen.preload_rows(7, "/store")
    assert a != gen.preload_rows(8, "/store")
    assert gen.push_steps(7, a, 4) == gen.push_steps(7, a, 4)
    assert gen.curate_corpus(7) == gen.curate_corpus(7)
    assert gen.curate_corpus(7) != gen.curate_corpus(8)


def test_generator_plants_edge_cases():
    rows = gen.preload_rows(3, "/store")
    assert any(r["end"] is None for r in rows)
    by_start = {}
    for r in rows:
        by_start.setdefault((r["what"], r["where"], r["start"]), []).append(r)
    ties = [g for g in by_start.values() if len(g) > 1]
    # ties on start decided by create_time, and ties on both by id
    assert any(len({r["create_time"] for r in g}) > 1 for g in ties)
    assert any(len({r["create_time"] for r in g}) == 1 for g in ties)
    steps = gen.push_steps(3, rows, 4)
    assert min(s["start"] for s in steps) > max(r["start"] for r in rows)


# -- percentile reporting rule -------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.reportable(100, 90)
    assert not stats.reportable(99, 90)
    assert stats.tail(list(range(19))) is None
    assert stats.tail(list(range(40)))[0] == 75
    assert stats.tail(list(range(100)))[0] == 90
    assert stats.tail(list(range(1000)))[0] == 99
    s = stats.summary([float(x) for x in range(30)])
    assert s["n"] == 30 and s["p50"] == 14.5 and "p90" not in s


# -- oracle semantics -------------------------------------------------------


def _r(fid, start, end, what="w", where="h", ct=0, work_id=None):
    return {"version": 0, "id": fid, "start": start, "end": end,
            "what": what, "where": where, "create_time": ct,
            "work_id": work_id, "hash": "0", "path": "/p", "url": "u",
            "size": 1}


def test_oracle_interval_overlap_treats_null_end_as_instant():
    o = Oracle([_r("a", 10, None), _r("b", 0, 20), _r("c", 30, 40)])
    assert [r["id"] for r in o.by_time("w", 11, 25)] == ["b"]
    assert [r["id"] for r in o.by_time("w", 10, 10)] == ["b", "a"]
    assert [r["id"] for r in o.by_time("w", 20, 30)] == ["b", "c"]


def test_oracle_latest_ranking():
    o = Oracle([_r("a", 5, None, ct=1), _r("b", 5, None, ct=2),
                _r("c", 5, None, ct=2), _r("d", 4, 99, ct=9)])
    assert o.latest("w", "h")["id"] == "c"  # start, create_time, then id


def test_keyset_pages_end_with_short_page():
    assert [len(p) for p in paginate(list(range(250)))] == [100, 100, 50]
    assert [len(p) for p in paginate(list(range(200)))] == [100, 100, 0]
    assert [len(p) for p in paginate([])] == [0]


def test_classifier_reasons():
    old = Oracle([_r("a", 1, None)])
    new = old.with_rows([_r("b", 2, None)])
    meta = ("metadata", "b")
    assert classify(meta, 404, {"code": "NoSuchFile"}, new, [old]) == \
        "stale_missing"
    assert classify(meta, 500, None, new, [old]) == "http_5xx"
    assert classify(meta, 400, {}, new, [old]) == "unexpected_4xx"
    assert classify(meta, 200, {"id": "x"}, new, [old]) == "wrong_rows"


def test_classifier_accepts_any_earlier_state_as_stale():
    # a server that lags by one push, not by all of them: its answer
    # matches neither the preload nor the current state
    s0 = Oracle([_r("a", 1, None, where="h")])
    s1 = s0.with_rows([_r("b", 2, None, where="h")])
    s2 = s1.with_rows([_r("c", 3, None, where="h")])
    lagging = {"url": "u", "create_time": 0, "size": 1,
               "http_url": "http://x/v0/archive/files/b/data",
               "metadata": metadata_doc(s1.by_id("b"))}
    op = ("latest", "w", "h")
    assert classify(op, 200, lagging, s2, [s0, s1]) == "stale_missing"
    assert classify(op, 200, lagging, s2, [s0]) == "wrong_rows"


# -- oracle against the real app ---------------------------------------------


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("bench"))
    e = workloads.Env(work, seed=5)
    e.make_inputs(os.path.join(work, "archive"), n_rows=400)
    e.spark, e.session_start_s = spark, 0.0
    e.load_catalog()
    e.start_server()
    yield e
    e.server.shutdown()
    e.server.server_close()
    e.thread.join(timeout=60)


def test_oracle_matches_app_on_every_route(env):
    oracle = Oracle(env.rows)
    keys = sorted({(r["what"], r["where"]) for r in env.rows})
    content = gen.content_rows(env.rows)
    ops = [("latest", w, h) for w, h in keys[:6]]
    ops += [("metadata", r["id"]) for r in env.rows[:5]]
    ops += [("data", r["id"]) for r in content[:3]]
    ops += [("work_id", r["work_id"], r["what"])
            for r in env.rows[:20] if r["work_id"]][:4]
    # the whole span for one producer: more than one page
    ops.append(("time", gen.WHATS[0], gen.T_BASE,
                gen.T_BASE + gen.DAYS * gen.DAY_MS, None))
    ops.append(("time", gen.WHATS[1], gen.T_BASE + gen.DAY_MS,
                gen.T_BASE + 3 * gen.DAY_MS, gen.WHERES[0]))
    ops.append(("metadata", "no-such-id"))
    rec = workloads.Recorder()
    for op in ops:
        workloads.run_read(env.base, op, oracle, (), rec)
    assert rec.failed == 0, rec.reasons
    assert len(oracle.pages(ops[-3])) > 1
    assert rec.reads > len(ops)


def test_pushed_file_is_fresh_or_classified_stale(env):
    from datalake_spark import ingest

    before = Oracle(env.rows)
    step = gen.push_steps(5, env.rows, 1)[0]
    path = os.path.join(env.work, "push0.log")
    with open(path, "wb") as fh:
        fh.write(step["content"])
    url = ingest.push_file(
        env.spark, env.catalog, env.archive, path,
        **{f: step[f] for f in ("id", "what", "where", "start", "end",
                                "work_id", "path", "create_time")})
    after = before.with_rows([gen.pushed_row(step, url)])
    rec = workloads.Recorder()
    for op in (("metadata", step["id"]),
               ("work_id", step["work_id"], step["what"])):
        workloads.run_read(env.base, op, after, [before], rec)
    assert set(rec.reasons) <= {"stale_missing"}


# -- curation oracle against the real pipeline ---------------------------


def test_curate_oracle_plants_every_drop_reason():
    keep, drops = curate_expected(gen.curate_corpus(3))
    stages = [v[0] for v in drops.values()]
    assert stages.count("near_dup") > 0
    flags = [v[1] for v in drops.values() if v[0] == "rules"]
    for rule in range(4):  # len_ok, stop_ok, lang_ok, is_canonical
        assert any(not f[rule] for f in flags)
    assert keep and not keep & set(drops)


def test_curate_oracle_matches_pipeline(spark, tmp_path):
    from datalake_spark import pipeline
    from datalake_spark.export import read_training_shard

    docs = gen.curate_corpus(4, n_base=60)
    keep, drops = curate_expected(docs)
    src = str(tmp_path / "corpus.parquet")
    gen.write_corpus(docs, src)
    out, qpath = str(tmp_path / "shards"), str(tmp_path / "quarantine")
    manifest = pipeline.curate_and_export(
        spark.read.parquet(src), out, 2, quarantine_path=qpath)
    assert manifest["n_rows"] == len(keep)
    got = [r["doc_id"] for k in range(2)
           for r in read_training_shard(spark, out, k).collect()]
    assert sorted(got) == sorted(keep)
    q = {r["doc_id"]: (r["drop_stage"],
                       tuple(r[c] for c in pipeline.RULE_COLS))
         for r in spark.read.parquet(qpath).collect()}
    assert q == drops
