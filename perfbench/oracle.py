"""Pure-Python oracle for every HTTP route the benchmark requests, and the
classifier that turns an answer into ``ok`` or a failure reason.

The oracle restates the reference's semantics independently of the Spark
engine:

- interval overlap: a file [start, end] matches [qstart, qend] when
  ``start <= qend`` and ``coalesce(end, start) >= qstart`` (a NULL end is
  an instant);
- latest: the newest file of a (what, where) by ``(start, create_time,
  id)``, the latest table's ranking;
- listings: deduplicated by id, ordered by the keyset ``(start, id)`` and
  cut into pages of ``PAGE_SIZE``; a full page always carries a ``next``
  link, so a listing whose size is a multiple of the page ends with an
  empty page.

Failure reasons (``REASONS``): ``stale_missing`` is an answer that equals
the oracle's answer over some earlier catalog state but not the current
one (the server has not seen the latest pushes, however many);
``wrong_rows`` is a 200 answer that matches no state; ``http_5xx`` and
``unexpected_4xx`` are statuses the current state does not explain;
``exception`` is a request that raised in the client.

:func:`curate_expected` is the oracle of ``curate_batch``: the documents
the curation pipeline keeps and the drop stage of every other one.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime, timedelta, timezone

from gen import META_FIELDS, PAGE_SIZE, content_for

REASONS = ("stale_missing", "wrong_rows", "http_5xx", "unexpected_4xx",
           "exception")

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def iso_ms(ms):
    if ms is None:
        return None
    t = _EPOCH + timedelta(milliseconds=ms)
    return t.isoformat(timespec="milliseconds").replace("+00:00", "Z")


def metadata_doc(row: dict) -> dict:
    """The files/<id>/metadata body for ``row``."""
    d = {k: row[k] for k in META_FIELDS}
    d["start_iso"], d["end_iso"] = iso_ms(row["start"]), iso_ms(row["end"])
    return d


def record_doc(row: dict) -> dict:
    """One listing/latest record for ``row``, without the host-dependent
    ``http_url`` (checked separately by :func:`same_record`)."""
    return {"url": row["url"], "create_time": row["create_time"],
            "size": row["size"], "metadata": metadata_doc(row)}


def same_record(got: dict, row: dict) -> bool:
    if not str(got.get("http_url", "")).endswith(
            f"/v0/archive/files/{row['id']}/data"):
        return False
    return {k: got.get(k) for k in ("url", "create_time", "size",
                                    "metadata")} == record_doc(row)


def paginate(rows: list[dict]) -> list[list[dict]]:
    return [rows[i:i + PAGE_SIZE]
            for i in range(0, len(rows) // PAGE_SIZE * PAGE_SIZE + 1,
                           PAGE_SIZE)]


class Oracle:
    """The expected answers over one catalog state (a list of rows)."""

    def __init__(self, rows: list[dict]) -> None:
        self.by_id_map: dict[str, dict] = {}
        for r in rows:
            self.by_id_map.setdefault(r["id"], r)
        self.rows = list(self.by_id_map.values())
        self._by_what: dict[str, list[dict]] = {}
        for r in self.rows:
            self._by_what.setdefault(r["what"], []).append(r)
        self._pages: dict[tuple, list] = {}
        self._latest: dict[tuple, dict] = {}
        for r in self.rows:
            k = (r["what"], r["where"])
            cur = self._latest.get(k)
            if cur is None or _rank(r) > _rank(cur):
                self._latest[k] = r

    def with_rows(self, extra: list[dict]) -> "Oracle":
        return Oracle(self.rows + extra)

    def by_id(self, file_id: str) -> dict | None:
        return self.by_id_map.get(file_id)

    def latest(self, what: str, where: str) -> dict | None:
        return self._latest.get((what, where))

    def by_time(self, what, qstart, qend, where=None) -> list[dict]:
        out = [
            r for r in self._by_what.get(what, ())
            if r["start"] <= qend
            and (r["end"] if r["end"] is not None else r["start"]) >= qstart
            and (where is None or r["where"] == where)
        ]
        return sorted(out, key=_keyset)

    def by_work_id(self, work_id, what, where=None) -> list[dict]:
        out = [
            r for r in self._by_what.get(what, ())
            if r["work_id"] == work_id
            and (where is None or r["where"] == where)
        ]
        return sorted(out, key=_keyset)

    def pages(self, op: tuple) -> list[list[dict]]:
        """Expected pages of a listing op, memoized per op."""
        if op not in self._pages:
            rows = (self.by_work_id(op[1], op[2]) if op[0] == "work_id"
                    else self.by_time(op[1], op[2], op[3], op[4]))
            self._pages[op] = paginate(rows)
        return self._pages[op]


def _rank(r: dict) -> tuple:
    return (r["start"], r["create_time"], r["id"])


def _keyset(r: dict) -> tuple:
    return (r["start"], r["id"])


# -- classification ------------------------------------------------------


def _page_matches(body, page: list[dict]) -> bool:
    recs = body.get("records") if isinstance(body, dict) else None
    if not isinstance(recs, list) or len(recs) != len(page):
        return False
    if (body.get("next") is None) != (len(page) < PAGE_SIZE):
        return False
    return all(same_record(g, r) for g, r in zip(recs, page))


def _answer_matches(op: tuple, status: int, body, oracle: Oracle,
                    page_no: int) -> bool:
    kind = op[0]
    if kind == "latest":
        want = oracle.latest(op[1], op[2])
        if want is None:
            return status == 404
        return status == 200 and isinstance(body, dict) and same_record(
            body, want)
    if kind in ("metadata", "data"):
        want = oracle.by_id(op[1])
        if want is None:
            return status == 404
        if status != 200:
            return False
        if kind == "metadata":
            return body == metadata_doc(want)
        return body == content_for(want["id"])
    pages = oracle.pages(op)
    return (status == 200 and page_no < len(pages)
            and _page_matches(body, pages[page_no]))


def classify(op: tuple, status: int, body, current: Oracle,
             earlier: Sequence[Oracle] = (), page_no: int = 0) -> str:
    """``ok`` or one of :data:`REASONS` for one response.  ``body`` is the
    decoded JSON (bytes for the data route); ``earlier`` holds every
    catalog state before ``current`` (the preload, then one per push), so
    a server that lags by any number of pushes is ``stale_missing``."""
    if _answer_matches(op, status, body, current, page_no):
        return "ok"
    if any(_answer_matches(op, status, body, e, page_no) for e in earlier):
        return "stale_missing"
    if status >= 500:
        return "http_5xx"
    if status >= 400:
        return "unexpected_4xx"
    return "wrong_rows"


# -- curation -------------------------------------------------------------


def curate_expected(docs: list[dict], min_words: int = 20,
                    max_words: int = 200, stop_ratio_den: int = 20,
                    fp_tokens: int = 6, threshold: float = 0.5):
    """What ``pipeline.curate_and_export`` with its defaults must keep and
    drop, restated in pure Python: the quality rules (word count, the
    integer stopword floor, language, min id per first-six-token md5
    fingerprint over the whole input), then near-duplicate removal over
    the survivors (3-word-shingle Jaccard >= ``threshold``, connected
    components, min id kept).  Returns ``(kept ids, {dropped id:
    (drop_stage, (len_ok, stop_ok, lang_ok, is_canonical, keep))})``."""
    import hashlib
    import re

    from gen import STOPWORDS

    keeper: dict[str, int] = {}
    facts = []
    for d in docs:
        toks = d["text"].split(" ")
        fp = hashlib.md5(" ".join(toks[:fp_tokens]).encode()).hexdigest()
        keeper[fp] = min(keeper.get(fp, d["doc_id"]), d["doc_id"])
        facts.append((d, toks, fp))
    drops: dict[int, tuple] = {}
    kept = []
    for d, toks, fp in facts:
        n = len(toks)
        flags = (min_words <= n <= max_words,
                 sum(t in STOPWORDS for t in toks) * stop_ratio_den >= n,
                 d["lang"] == "en", keeper[fp] == d["doc_id"])
        if all(flags):
            kept.append(d)
        else:
            drops[d["doc_id"]] = ("rules", flags + (False,))
    sh = {}
    for d in kept:
        w = re.split(r"\s+", d["text"].strip())
        sh[d["doc_id"]] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    postings: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            postings.setdefault(g, []).append(i)
    parent = {i: i for i in sh}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for ids in postings.values():
        for a in ids:
            for b in ids:
                if a < b and (a, b) not in seen:
                    seen.add((a, b))
                    common = len(sh[a] & sh[b])
                    if common / (len(sh[a]) + len(sh[b]) - common) >= \
                            threshold:
                        ra, rb = find(a), find(b)
                        parent[max(ra, rb)] = min(ra, rb)
    keep_ids = set()
    for i in sh:
        if find(i) == i:
            keep_ids.add(i)
        else:
            drops[i] = ("near_dup", (True,) * 5)
    return keep_ids, drops
