"""``rest_search``: the serving path. One closed-loop client calls the
WSGI app from ``rest.create_app`` directly (no socket) and waits for
each reply, as a UI does. Every request pays per-request Spark job
dispatch; the frames and the BM25 index are built once in set-up."""

from __future__ import annotations

import collections
import json
import os
import random
import time
from urllib.parse import quote

from common import SpanIndex, log, mean, median
from spec import (
    EVENTS_USER_FILTER_SHARE, JSONP_SHARE, JWT_HEADER_SHARE, PAGE_SIZES,
    PAGES, QUERY_TERM_MIN_DF, REPEAT_SHARE, ROUTE_SHARES,
)

KEY = "perfbench-private-key"
ROUTES = tuple(route for route, _n in ROUTE_SHARES)
# one block of requests, shuffled per block; a round is one block, so the
# route mix is the same from seed to seed
BLOCK = tuple(route for route, n in ROUTE_SHARES for _ in range(n))
MALFORMED = (
    ("/metastore/search", "size=abc"),
    ("/metastore/search", "q=unquoted%20text"),
    ("/metastore/search", "sort=sideways"),
    ("/metastore/search", "nosuch.field=%22x%22"),
    ("/metastore/search/events", "event_type=[1,2]"),
    ("/metastore/search/events", "from=-"),
    ("/metastore/search/nokind", "size=5"),
)


def _datasets(F, docs):
    """Documents wrapped into the reference's dataset shape, as in the
    ``api_dataset_envelope`` registry query."""
    mod3 = F.col("doc_id") % 3
    return docs.select(
        F.col("doc_id").alias("id"),
        F.concat_ws("-", "lang", "doc_id").alias("title"),
        F.struct(
            F.when(mod3 == 0, "published")
            .when(mod3 == 1, "unpublished")
            .otherwise("private")
            .alias("findability"),
            F.when(F.col("doc_id") % 7 == 0, "core")
            .otherwise(F.col("source"))
            .alias("ownerid"),
            F.col("source").alias("owner"),
            F.struct(F.col("n_chars").cast("double").alias("bytes")).alias(
                "stats"
            ),
        ).alias("datahub"),
        F.struct(F.col("text").alias("readme")).alias("datapackage"),
    )


def _events(F, events):
    """The events head in the reference's events-kind shape."""
    return events.select(
        F.col("event_id").alias("_event_id"),
        F.when(F.col("user_id") % 4 == 0, "private")
        .otherwise("published")
        .alias("findability"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("ownerid"),
        F.col("ts").alias("timestamp"),
        "event_type",
        "user_id",
        "value",
    )


class Request:
    __slots__ = ("route", "path", "qs", "token_header", "userid", "filters",
                 "size", "offset", "jsonp")

    def __init__(self, route, path, qs, userid=None, filters=None, size=50,
                 offset=0, jsonp=None, token_header=None):
        self.route, self.path, self.qs = route, path, qs
        self.userid, self.filters = userid, filters or {}
        self.size, self.offset = size, offset
        self.jsonp, self.token_header = jsonp, token_header

    def signature(self):
        return (self.path, self.qs, self.token_header)


class Vocabulary:
    """The values requests are drawn from, read from the fixture so that
    every filter names values the tables hold."""

    def __init__(self, sf_dir: str):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ev = pq.read_table(os.path.join(sf_dir, "events.parquet"),
                           columns=["user_id", "event_type"])
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                             columns=["source", "text"])
        self.user_ids = sorted(pc.unique(ev["user_id"]).to_pylist())
        self.event_types = sorted(pc.unique(ev["event_type"]).to_pylist())
        self.owners = sorted(pc.unique(docs["source"]).to_pylist())
        self.n_events = ev.num_rows
        df = collections.Counter(
            w for text in docs["text"].to_pylist() for w in set(text.split()))
        min_df = QUERY_TERM_MIN_DF * docs.num_rows
        self.terms = sorted(w for w, n in df.items() if n >= min_df)


class RequestStream:
    """Seeded request generator: blocks with the fixed route mix of
    ``BLOCK``; about one request in four repeats an earlier request of
    the same route exactly."""

    def __init__(self, seed: int, encode_jwt, vocab: Vocabulary):
        self.rng = random.Random(seed)
        self.encode_jwt = encode_jwt
        self.vocab = vocab
        self.history: dict[str, list[Request]] = {r: [] for r in ROUTES}
        self.block: list[str] = []

    def __iter__(self):
        return self

    def __next__(self) -> Request:
        if not self.block:
            self.block = list(BLOCK)
            self.rng.shuffle(self.block)
        route = self.block.pop()
        seen = self.history[route]
        if seen and self.rng.random() < REPEAT_SHARE:
            return self.rng.choice(seen)
        req = getattr(self, "_" + route)()
        seen.append(req)
        return req

    def _auth(self, qs: list[str], userid: str | None) -> str | None:
        """JWT for ``userid`` via the Auth-Token header or the ``jwt``
        query parameter (chosen at random); None = anonymous."""
        if userid is None:
            return None
        tok = self.encode_jwt({"userid": userid}, KEY)
        if self.rng.random() < JWT_HEADER_SHARE:
            return tok
        qs.append(f"jwt={tok}")
        return None

    def _finish(self, route, path, qs, header, **kw) -> Request:
        jsonp = None
        if self.rng.random() < JSONP_SHARE:
            jsonp = f"cb{self.rng.randrange(1000)}"
            qs.append(f"callback={jsonp}")
        return Request(route, path, "&".join(qs), jsonp=jsonp,
                       token_header=header, **kw)

    def _size_from(self, qs, route, offset=None):
        """A page of ``size`` rows at ``offset``; by default one of the
        first ``PAGES`` pages."""
        size = self.rng.choice(PAGE_SIZES[route])
        if offset is None:
            offset = size * self.rng.randrange(PAGES)
        qs += [f"size={size}", f"from={offset}"]
        return size, offset

    def _owner_user(self) -> str:
        """A dataset user: an owner, or ``core``, which owns every
        seventh dataset (see ``_datasets``)."""
        return self.rng.choice(["core"] + self.vocab.owners)

    def _events_user(self) -> str | None:
        """Anonymous or an events owner (``u<user_id>``)."""
        return self.rng.choice((None, f"u{self.rng.choice(self.vocab.user_ids)}"))

    def _dataset_q(self) -> Request:
        words = self.rng.sample(self.vocab.terms, self.rng.choice((1, 2, 3)))
        qs = ["q=" + quote(json.dumps(" ".join(words)))]
        size, offset = self._size_from(qs, "dataset_q")
        userid = self._owner_user()
        header = self._auth(qs, userid)
        return self._finish("dataset_q", "/metastore/search", qs, header,
                            userid=userid, size=size, offset=offset)

    def _dataset_filter(self) -> Request:
        owners = self.rng.sample(self.vocab.owners, self.rng.choice((1, 2)))
        qs = [f"datahub.owner={quote(json.dumps(o))}" for o in owners]
        size, offset = self._size_from(qs, "dataset_filter")
        userid = self.rng.choice((None, self._owner_user()))
        header = self._auth(qs, userid)
        return self._finish("dataset_filter", "/metastore/search", qs, header,
                            userid=userid, filters={"owner": owners},
                            size=size, offset=offset)

    def _events_page(self) -> Request:
        qs: list[str] = []
        # anywhere in the first half of the log, which every user sees
        # most of (three events in four are published)
        size, offset = self._size_from(
            qs, "events_page", self.rng.randrange(self.vocab.n_events // 2))
        userid = self._events_user()
        header = self._auth(qs, userid)
        return self._finish("events_page", "/metastore/search/events", qs,
                            header, userid=userid, size=size, offset=offset)

    def _events_filter(self) -> Request:
        types = self.rng.sample(self.vocab.event_types, self.rng.choice((1, 2)))
        qs = [f"event_type={quote(json.dumps(t))}" for t in types]
        filters = {"event_type": types}
        if self.rng.random() < EVENTS_USER_FILTER_SHARE:
            uid = self.rng.choice(self.vocab.user_ids)
            qs.append(f"user_id={uid}")
            filters["user_id"] = [uid]
        qs.append("sort=asc")
        size, offset = self._size_from(qs, "events_filter")
        userid = self._events_user()
        header = self._auth(qs, userid)
        return self._finish("events_filter", "/metastore/search/events", qs,
                            header, userid=userid, filters=filters,
                            size=size, offset=offset)

    def _error(self) -> Request:
        path, q = self.rng.choice(MALFORMED)
        return self._finish("error", path, [q], None)


class RestSearch:
    name = "rest_search"
    # after the first-use block, each of the next two blocks is 10-20%
    # faster than the one before, and the third still up to 10% (4-core
    # host)
    warm_rounds = 3

    def __init__(self, ctx):
        self.ctx = ctx
        from metastore_spark import rest

        self.vocab = Vocabulary(ctx.sf_dir)
        self.stream = RequestStream(ctx.seed, rest.encode_jwt, self.vocab)
        self.app = None
        self.records: list[tuple[Request, object]] = []

    def wrap(self, tracer) -> None:
        from metastore_spark import api

        tracer.wrap(api.SearchEngine, "search", "api.search", "api")
        tracer.wrap(api.SearchEngine, "index_for", "search.index_for", "search")
        tracer.wrap(api, "parse_params", "params.parse_params", "params")
        tracer.wrap(api, "run_envelope", "envelope.run_envelope", "envelope")
        tracer.wrap(api, "bm25_scores", "search.bm25_scores", "search")
        tracer.wrap(api, "build_index", "search.build_index", "search")

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from metastore_spark import api, catalog, rest

        spark, sf = self.ctx.spark, self.ctx.sf_dir
        ds = _datasets(F, catalog.load_table(spark, sf, "documents"))
        ev = _events(F, catalog.load_table(spark, sf, "events"))
        engine = api.dataset_events_engine(spark, ds, ev)
        engine.index_for("dataset")
        self.app = rest.create_app(engine, KEY)

    def _call(self, req: Request) -> bytes:
        env = {
            "REQUEST_METHOD": "GET",
            "PATH_INFO": req.path,
            "QUERY_STRING": req.qs,
        }
        if req.token_header:
            env["HTTP_AUTH_TOKEN"] = req.token_header
        status = []
        body = b"".join(self.app(env, lambda s, h: status.append(s)))
        if status != ["200 OK"]:
            raise RuntimeError(f"status {status} for {req.path}?{req.qs}")
        return body

    @staticmethod
    def _decode(req: Request, body: bytes) -> dict:
        text = body.decode()
        if req.jsonp:
            prefix, suffix = f"{req.jsonp}(", ");"
            if not (text.startswith(prefix) and text.endswith(suffix)):
                raise ValueError("JSONP wrapper missing")
            text = text[len(prefix):-len(suffix)]
        return json.loads(text)

    def warmup(self, tracer) -> None:
        """One block of requests from a stream of its own, so the timed
        stream starts at its first request."""
        from metastore_spark import rest

        warm = RequestStream(self.ctx.seed + 7919, rest.encode_jwt, self.vocab)
        for _ in BLOCK:
            self._call(next(warm))

    def round(self, tracer) -> list[tuple[str, float, bool]]:
        """One block of requests."""
        ops = []
        for _ in BLOCK:
            req = next(self.stream)
            tracer.key = f"r{len(self.records)}"
            t0 = time.perf_counter()
            try:
                with tracer.span("rest.app", "rest"):
                    body = self._call(req)
                dt = time.perf_counter() - t0
                out = self._decode(req, body)
            except Exception as e:  # a failed request is counted, not fatal
                log(f"request failed: {req.path}?{req.qs}: {e!r}")
                ops.append((req.route, time.perf_counter() - t0, False))
                continue
            self.records.append((req, out))
            ok = ("error" in out) == (req.route == "error")
            if not ok:
                log(f"unexpected envelope for {req.path}?{req.qs}: {body[:200]!r}")
            ops.append((req.route, dt, ok))
        tracer.key = None
        return ops

    def checks(self) -> list[tuple[str, bool]]:
        """Summary totals of filter-only requests against DuckDB over
        the same parquet, and page lengths against the totals."""
        import duckdb

        sf = self.ctx.sf_dir
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW ds AS SELECT doc_id AS id, "
            "CASE WHEN doc_id % 3 = 0 THEN 'published' WHEN doc_id % 3 = 1 "
            "THEN 'unpublished' ELSE 'private' END AS findability, "
            "CASE WHEN doc_id % 7 = 0 THEN 'core' ELSE source END AS ownerid, "
            "source AS owner, CAST(n_chars AS DOUBLE) AS bytes "
            f"FROM read_parquet('{sf}/documents.parquet')"
        )
        con.execute(
            "CREATE VIEW ev AS SELECT event_id, event_type, user_id, "
            "CASE WHEN user_id % 4 = 0 THEN 'private' ELSE 'published' END "
            "AS findability, 'u' || CAST(user_id AS VARCHAR) AS ownerid "
            f"FROM read_parquet('{sf}/events.parquet')"
        )
        expected: dict[tuple, tuple[int, float]] = {}
        out = []
        for req, env in self.records:
            if req.route == "error":
                continue
            total = env["summary"]["total"]
            n = len(env["results"])
            out.append((
                f"page length {req.route}",
                n == max(0, min(req.size, total - req.offset)),
            ))
            if req.route == "dataset_q":
                continue
            sig = req.signature()
            if sig not in expected:
                expected[sig] = self._oracle(con, req)
            want_total, want_bytes = expected[sig]
            got_bytes = env["summary"]["totalBytes"]
            out.append((
                f"summary {req.route}",
                total == want_total
                and abs(got_bytes - want_bytes) <= 1e-9 * max(1.0, abs(want_bytes)),
            ))
            if not out[-1][1]:
                log(f"summary mismatch {req.path}?{req.qs}: got "
                    f"{total}/{got_bytes}, want {want_total}/{want_bytes}")
        con.close()
        return out

    @staticmethod
    def _oracle(con, req: Request) -> tuple[int, float]:
        args: list = []
        vis = "findability = 'published'"
        if req.userid is not None:
            vis = f"({vis} OR ownerid = ?)"
            args.append(req.userid)
        conds = [vis]
        for field, values in req.filters.items():
            conds.append(f"{'lower(owner)' if field == 'owner' else field} IN "
                         f"({', '.join('?' for _ in values)})")
            args += [v.lower() if field == "owner" else v for v in values]
        table, agg = (("ds", "COALESCE(SUM(bytes), 0.0)")
                      if req.path == "/metastore/search" else ("ev", "0.0"))
        row = con.execute(
            f"SELECT COUNT(*), {agg} FROM {table} WHERE {' AND '.join(conds)}",
            args,
        ).fetchone()
        return int(row[0]), float(row[1])

    def layer_metrics(self, idx: SpanIndex, ops) -> dict[str, float]:
        by_key: dict[str, list] = {}
        for s in idx.all:
            by_key.setdefault(s.key, []).append(s)
        rest_self, api_self = [], []
        env_jobs, env_tasks = [], []
        for s in idx.named("rest.app"):
            rest_self.append(idx.self_time(s))
        for s in idx.named("api.search"):
            api_self.append(idx.self_time(s))
        for s in idx.named("envelope.run_envelope"):
            env_jobs.append(idx.inclusive(s, "jobs"))
            env_tasks.append(idx.inclusive(s, "tasks"))
        m = {
            "rest.self_ms": 1e3 * median(rest_self),
            "api.search_self_ms": 1e3 * median(api_self),
            "params.parse_ms": 1e3 * median(
                [s.dur for s in idx.named("params.parse_params")]),
            "search.bm25_ms": 1e3 * median(
                [s.dur for s in idx.named("search.bm25_scores")]),
            "envelope.run_ms": 1e3 * median(
                [s.dur for s in idx.named("envelope.run_envelope")]),
            "envelope.jobs_per_request": mean(env_jobs),
            "envelope.tasks_per_request": mean(env_tasks),
        }
        for route in ROUTES:
            m[f"rest.{route}_p50_ms"] = 1e3 * median(
                [dt for r, dt, _ in ops if r == route])
        return m

