"""What the benchmark measures. Workload names and reasons, and metric
names, units and directions, are read from BENCHMARK.json at the root of
the checkout, the one place they are written down. This module adds what
that file has no key for: the operation each workload times, the REST
traffic mix and where each of its shares comes from, and which
end-to-end metric each per-layer metric should move. ``python3
perfbench/run.py --describe`` prints all of it."""

from __future__ import annotations

import functools
import json
import os

from registry_cold import QUERIES

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json",
)


@functools.cache
def declared() -> dict:
    """BENCHMARK.json: the workloads and the metrics with their units."""
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def units(kind: str) -> dict[str, str]:
    """Metric name -> unit of ``kind`` ("end_to_end" or "per_layer")."""
    return {m["name"]: m["unit"] for m in declared()[kind]}

# The operation whose latency and rate the end-to-end metrics describe.
OPERATION = {
    "rest_search": (
        "one WSGI request (latency_p50_ms is the search p50, "
        "throughput_ops_s the search rate); a round is one block of ten"
    ),
    "registry_ingest": (
        "one registry query (build + noop execute), one commit (with "
        "maybe_compact) or one pruned read of the head; a round is one "
        "pass over the queries and six commit-then-read cycles"
    ),
}

END_TO_END_WHAT = {
    "setup_s": "median of 3 set-ups from an empty warehouse",
    "latency_p50_ms": "median operation latency",
    "throughput_ops_s": "operations per timed second",
}

# --------------------------------------------------------------------------
# REST traffic mix of rest_search
# --------------------------------------------------------------------------
# There is no production trace of this service to copy. The request kinds
# and the repeat share are requirements of this benchmark; every other
# share below is an explicit assumption, fixed here so that it is the
# same for every seed and any change to it is visible.
#
# Route shares in every block of ten requests (shuffled per block; a
# round is one block, so each round has the same mix). Assumption: the
# dataset search is the product's main page, so dataset requests are
# 6 of 10 and events requests 3 of 10; owner filters (the listing a user
# sees for an owner) outnumber free-text searches 2 : 1; one request in
# ten is malformed, enough to time the contained-error path every round.
ROUTE_SHARES = (
    ("dataset_q", 2),       # q= BM25 search, always with a JWT
    ("dataset_filter", 4),  # nested datahub.owner match filter
    ("events_page", 2),     # events page at a varying from
    ("events_filter", 1),   # events term filter, sort=asc
    ("error", 1),           # malformed request: a contained error
)
# Requested: about one request in four repeats an earlier request of the
# same route exactly, so a result or plan cache can show its effect.
REPEAT_SHARE = 0.25
# Assumption: about one request in seven asks for JSONP (callback=).
JSONP_SHARE = 0.15
# Assumption: half the requests that carry a JWT send it in the
# Auth-Token header and half as the jwt query parameter.
JWT_HEADER_SHARE = 0.5
# Assumption: a third of events term filters also filter on one user_id.
EVENTS_USER_FILTER_SHARE = 0.3
# Values are drawn from the fixture, read before set-up, never from
# fixed ranges: user ids from the distinct events.user_id, event types
# from the distinct events.event_type, owners from the distinct
# documents.source, and q= terms uniformly from the words that occur in
# at least QUERY_TERM_MIN_DF of the documents.
QUERY_TERM_MIN_DF = 0.02
# Assumptions on request parameters, as a list view asks: a page size per
# route from the tuples below and one of the first PAGES pages (events
# pages instead start anywhere in the first half of the events log);
# 1-3 q= terms; 1-2 owners or event types per filter.
PAGE_SIZES = {
    "dataset_q": (10, 20),
    "dataset_filter": (10, 20, 50),
    "events_page": (10, 25, 50),
    "events_filter": (10, 25),
}
PAGES = 3


# self-time layers: each span's time minus its children's, summed per
# layer, as a share of the timed wall time
LAYERS = (
    "rest", "api", "params", "search", "envelope", "catalog", "serve",
    "queries", "execute", "snapshots", "spark_source",
)


def _moves() -> dict[str, str]:
    """Per-layer metric -> the end-to-end metric (and workload) it
    should move. Every per-layer metric is better when lower."""
    setup = "setup_s"
    reg = "throughput_ops_s on registry_ingest (the query pass)"
    rest_p50 = "latency_p50_ms on rest_search"
    rest_tp = "throughput_ops_s on rest_search"
    ingest_p50 = "latency_p50_ms on registry_ingest (commits and reads)"
    ingest_tp = "throughput_ops_s on registry_ingest (commits and reads)"
    rows = {
        "session.get_spark_s": f"{setup} (all)",
        "session.peak_rss_mb": "memory: VmHWM of the JVM plus Python",
        "search.index_build_s": f"{setup} on rest_search",
        "serve.open_ms": f"{setup} (all)",
        "serve.builds": f"{setup}; must be 0 in the timed region",
        "catalog.load_table_ms": f"{reg} (schema inference)",
        "catalog.load_table_jobs": f"{reg} (schema inference)",
        "queries.build_s": f"{reg}; no change on rest_search",
        "queries.build_jobs": f"{reg}; no change on rest_search",
        "queries.execute_s": reg,
        "queries.execute_jobs": reg,
        "queries.execute_tasks": reg,
    }
    for q in QUERIES:
        rows[f"queries.{q}.build_s"] = reg
        rows[f"queries.{q}.execute_s"] = reg
    rows.update({
        "rest.self_ms": rest_p50,
        "rest.dataset_q_p50_ms": rest_tp,
        "rest.dataset_filter_p50_ms": rest_p50,
        "rest.events_page_p50_ms": rest_tp,
        "rest.events_filter_p50_ms": rest_tp,
        "rest.error_p50_ms": rest_tp,
        "api.search_self_ms": rest_p50,
        "params.parse_ms": rest_p50,
        "search.bm25_ms": f"rest.dataset_q_p50_ms, {rest_tp}",
        "envelope.run_ms": f"{rest_p50}, {rest_tp}",
        "envelope.jobs_per_request": rest_tp,
        "envelope.tasks_per_request": rest_tp,
        "snapshots.commit_append_ms": ingest_p50,
        "snapshots.commit_mor_upsert_ms": ingest_p50,
        "snapshots.commit_mor_delete_ms": ingest_tp,
        "snapshots.maybe_compact_ms": ingest_tp,
        "snapshots.compactions": ingest_tp,
        "snapshots.bytes_written_per_commit": ingest_p50,
        "snapshots.stored_bytes_per_user_byte": "storage on registry_ingest",
        "snapshots.read_snapshot_ms": f"{ingest_p50}; {reg}",
        "snapshots.read_jobs": f"{ingest_p50}; {reg}",
        "snapshots.live_files": ingest_p50,
        "snapshots.delete_files": ingest_p50,
        "spark_source.read_ms": ingest_p50,
        "spark_source.read_tasks": ingest_p50,
        "trace.overhead_pct": "traced minus untraced time per operation",
        "trace.unaccounted_pct": "timed wall time outside every span",
    })
    for layer in LAYERS:
        rows[f"self.{layer}_pct"] = "latency of the workload it runs in"
    return rows


MOVES = _moves()


def check(workloads) -> None:
    """Fail when the code and BENCHMARK.json disagree on a name."""
    names = {w["name"] for w in declared()["workloads"]}
    pairs = (
        ("workloads", set(workloads), names),
        ("operations", set(OPERATION), names),
        ("end-to-end metrics", set(END_TO_END_WHAT), set(units("end_to_end"))),
        ("per-layer metrics", set(MOVES), set(units("per_layer"))),
    )
    for what, code, listed in pairs:
        if code != listed:
            raise SystemExit(
                f"perfbench: {what} differ from BENCHMARK.json: only in code "
                f"{sorted(code - listed)}, only in BENCHMARK.json "
                f"{sorted(listed - code)}"
            )


def describe() -> dict:
    return {
        "workloads": {
            w["name"]: {"why": w["why"], "operation": OPERATION[w["name"]]}
            for w in declared()["workloads"]
        },
        "rest_search_traffic": {
            "route_shares_per_10": dict(ROUTE_SHARES),
            "repeat_share": REPEAT_SHARE,
            "jsonp_share": JSONP_SHARE,
            "jwt_header_share": JWT_HEADER_SHARE,
            "events_user_filter_share": EVENTS_USER_FILTER_SHARE,
            "query_term_min_df": QUERY_TERM_MIN_DF,
            "page_sizes": PAGE_SIZES,
            "pages": PAGES,
        },
        "end_to_end": [
            {**m, "what": END_TO_END_WHAT[m["name"]]}
            for m in declared()["end_to_end"]
        ],
        "per_layer": [
            {**m, "moves": MOVES[m["name"]]} for m in declared()["per_layer"]
        ],
    }
