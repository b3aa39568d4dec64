"""Seeded inputs for the benchmark: the preload catalog, archive content,
the push sequence of ``push_read`` and the corpus of ``curate_batch``.

Everything here is pure Python and depends only on the seed, never on the
wall clock, so the same seed always yields the same rows, blobs and
requests.  The program under test receives only what this module writes.
"""

from __future__ import annotations

import hashlib
import random

DAY_MS = 24 * 60 * 60 * 1000
HOUR_MS = 60 * 60 * 1000
# 2024-01-01T00:00:00Z: every timestamp is in the past, so the latest
# route's look-forward cap (start <= now + 24 h) never binds
T_BASE = 1_704_067_200_000
DAYS = 20

WHATS = ("syslog", "nginx", "camera", "telemetry")
WHERES = tuple(f"host{i:02d}" for i in range(12))
N_WORK_IDS = 240
PRELOAD_ROWS = 4000
# every CONTENT_EVERY-th preloaded row has a blob in the archive, so the
# files/<id>/data route has something to serve
CONTENT_EVERY = 10
NULL_END_SHARE = 0.2
PAGE_SIZE = 100  # http_api's default page (query.MAX_RESULTS)

META_FIELDS = ("version", "start", "end", "what", "where", "id", "hash",
               "path", "work_id")
FIELDS = META_FIELDS + ("url", "create_time", "size")


def _hex_id(rng: random.Random) -> str:
    return f"{rng.getrandbits(128):032x}"


def content_for(file_id: str) -> bytes:
    """The blob stored for ``file_id``: a few deterministic log lines."""
    n = int(file_id[:2], 16) % 7 + 2
    return b"".join(
        f"{file_id} line {i} status=ok\n".encode() for i in range(n)
    )


def blob_hash(content: bytes) -> str:
    """blake2b-16 hex, the hash Archive.store_stream records."""
    return hashlib.blake2b(content, digest_size=16).hexdigest()


def preload_rows(seed: int, storage_url: str,
                 n: int = PRELOAD_ROWS) -> list[dict]:
    """Catalog rows for ``seed``.  Rows with content point at
    ``{storage_url}/{id}/data``; the rest at an s3 url nothing fetches.

    Planted cases: ~20% NULL ``end`` (instant files, which the interval
    overlap treats as [start, start]); and per (what, where) key, extra
    rows that tie the key's newest ``start`` — once with a newer
    ``create_time`` and once with an identical one, so the latest ranking
    (start, create_time, id) is decided by each of its three fields."""
    rng = random.Random(f"preload-{seed}")
    work_ids = [f"job-{i:04d}" for i in range(N_WORK_IDS)]
    rows = []
    for i in range(n):
        fid = _hex_id(rng)
        start = T_BASE + rng.randrange(DAYS * DAY_MS)
        end = (None if rng.random() < NULL_END_SHARE
               else start + rng.randrange(2 * DAY_MS))
        rows.append(_row(
            rng, fid, start, end, rng.choice(WHATS), rng.choice(WHERES),
            rng.choice(work_ids) if rng.random() < 0.7 else None,
            storage_url if i % CONTENT_EVERY == 0 else None,
        ))
    newest: dict[tuple, dict] = {}
    for r in rows:
        k = (r["what"], r["where"])
        if k not in newest or r["start"] > newest[k]["start"]:
            newest[k] = r
    for j, (k, top) in enumerate(sorted(newest.items())):
        ct = top["create_time"] + (1 if j % 2 else 0)
        tie = _row(rng, _hex_id(rng), top["start"], top["end"], k[0], k[1],
                   top["work_id"], None)
        tie["create_time"] = ct
        rows.append(tie)
    return rows


def _row(rng, fid, start, end, what, where, work_id, storage_url) -> dict:
    if storage_url is not None:
        blob = content_for(fid)
        url, h, size = f"{storage_url}/{fid}/data", blob_hash(blob), len(blob)
    else:
        url, h, size = (f"s3://bench-archive/{fid}/data",
                        f"{rng.getrandbits(128):032x}", rng.randrange(1, 1 << 20))
    return {
        "version": 0, "start": start, "end": end, "what": what,
        "where": where, "id": fid, "hash": h,
        "path": f"/var/log/{what}/{fid[:8]}.log", "work_id": work_id,
        "url": url, "create_time": start + rng.randrange(1, 10_000),
        "size": size,
    }


def content_rows(rows: list[dict]) -> list[dict]:
    return [r for r in rows if not r["url"].startswith("s3://")]


def write_preload(rows: list[dict], path: str) -> None:
    """Rows as one parquet file with the catalog's column types."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("version", pa.int32()), ("start", pa.int64()), ("end", pa.int64()),
        ("what", pa.string()), ("where", pa.string()), ("id", pa.string()),
        ("hash", pa.string()), ("path", pa.string()),
        ("work_id", pa.string()), ("url", pa.string()),
        ("create_time", pa.int64()), ("size", pa.int64()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


# -- push_read: the fixed push sequence ----------------------------------


def push_steps(seed: int, rows: list[dict], n: int) -> list[dict]:
    """``n`` pushes, each newer than every preloaded row, so after step k
    the pushed file is the latest of its (what, where).  Even steps reuse
    a preloaded work id (a listing that grows), odd steps start a new one
    (a listing that only the push fills)."""
    rng = random.Random(f"push-{seed}")
    top = max(r["start"] for r in rows)
    known = sorted({r["work_id"] for r in rows if r["work_id"]})
    steps = []
    for k in range(n):
        fid = _hex_id(rng)
        start = top + (k + 1) * HOUR_MS
        blob = content_for(fid)
        steps.append({
            "id": fid, "what": rng.choice(WHATS), "where": rng.choice(WHERES),
            "start": start,
            "end": None if k % 3 == 0 else start + rng.randrange(HOUR_MS),
            "work_id": (rng.choice(known) if k % 2 == 0
                        else f"push-{seed % 1000}-{k:03d}"),
            "path": f"/var/log/pushed/{fid[:8]}.log",
            "create_time": start + 500,
            "content": blob, "hash": blob_hash(blob), "size": len(blob),
        })
    return steps


def pushed_row(step: dict, url: str) -> dict:
    """The catalog row a push of ``step`` produces (push_metadata's
    shape): the stored url, the seeded create_time, the stored size."""
    row = {f: step.get(f) for f in FIELDS}
    row.update(version=0, url=url)
    return row


# -- curate_batch: the seeded document corpus ----------------------------

CURATE_BASE_DOCS = 240
CORPUS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING"
STOPWORDS = ("the", "a")  # pipeline.DEFAULT_STOPWORDS


def _vocab(rng: random.Random, n: int = 3000) -> list[str]:
    letters = "bcdfghjklmnprstvwz"
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) + rng.choice(vowels)
                          for _ in range(rng.randrange(2, 5))))
    return sorted(words - set(STOPWORDS))


def _text(rng: random.Random, vocab: list[str], n_words: int,
          stop_every: int | None = 8) -> list[str]:
    """``n_words`` tokens; every ``stop_every``-th is a stopword, so the
    rule's 1/20 stopword floor holds (None: no stopwords at all)."""
    return [rng.choice(STOPWORDS) if stop_every and i % stop_every == 3
            else rng.choice(vocab) for i in range(n_words)]


def curate_corpus(seed: int, n_base: int = CURATE_BASE_DOCS) -> list[dict]:
    """Documents ``{doc_id, text, lang}`` for ``seed``.

    Planted cases beside the ``n_base`` distinct documents (40-90 words,
    English, enough stopwords): exact duplicates under a new id (caught
    by the rules' first-six-token fingerprint); near duplicates whose
    first token and one later token differ (3-shingle Jaccard about 0.85,
    so only the MinHash stage catches them), some in clusters of three;
    and documents that fail one rule each (too short, too long, no
    stopwords, another language).  Ids are a seeded shuffle, so a cluster's
    surviving min id is not always its original."""
    rng = random.Random(f"curate-{seed}")
    vocab = _vocab(rng)
    texts: list[tuple[list[str], str]] = []
    base = [_text(rng, vocab, rng.randrange(40, 91)) for _ in range(n_base)]
    texts += [(t, "en") for t in base]
    for t in rng.sample(base, n_base // 10):
        texts.append((list(t), "en"))
    for t in rng.sample(base, n_base // 10):
        for _ in range(rng.choice((1, 1, 2))):
            v = list(t)
            v[0] = rng.choice(vocab)
            v[rng.randrange(10, len(v) - 5)] = rng.choice(vocab)
            texts.append((v, "en"))
    for _ in range(n_base // 30):
        texts.append((_text(rng, vocab, rng.randrange(8, 20)), "en"))
        texts.append((_text(rng, vocab, rng.randrange(201, 240)), "en"))
        texts.append((_text(rng, vocab, rng.randrange(40, 91), None), "en"))
        texts.append((_text(rng, vocab, rng.randrange(40, 91)),
                      rng.choice(("de", "fr"))))
    ids = rng.sample(range(1, 10 * len(texts)), len(texts))
    return [{"doc_id": i, "text": " ".join(t), "lang": lang}
            for i, (t, lang) in zip(ids, texts)]


def write_corpus(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string())])
    pq.write_table(pa.Table.from_pylist(docs, schema=schema), path)
