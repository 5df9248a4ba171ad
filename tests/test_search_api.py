"""Port of the reference's controller behavior tests
(tests/test_controllers.py:295-609) against the Spark SearchEngine.

Pattern preserved: seed a small corpus → run one query → assert exact
counts / exact id sets / exact orderings. The harness invariant
len(results) <= summary.total (tests/test_controllers.py:96-99) is
checked in the helper.
"""

from __future__ import annotations

import pytest

from metastore_spark.api import dataset_events_engine
from tests import fixtures as fx


def run(engine, kind, userid=None, **params):
    out = engine.search(kind, userid, {k: v for k, v in params.items()})
    assert len(out["results"]) <= out["summary"]["total"]
    return out


def names(out):
    return {r["name"] for r in out["results"]}


@pytest.fixture()
def engine_factory(spark):
    def make(datasets=None, events=None):
        ds = datasets if datasets is not None else fx.empty_datasets(spark)
        ev = events if events is not None else fx.empty_events(spark)
        return dataset_events_engine(spark, ds, ev)

    return make


# -- basics (tests/test_controllers.py:295-310) -----------------------------


def test_empty_corpus(engine_factory):
    out = run(engine_factory(), "dataset")
    assert out["summary"]["total"] == 0
    assert out["summary"]["totalBytes"] == 0.0
    assert out["results"] == []


def test_all_published_counted(spark, engine_factory):
    out = run(engine_factory(fx.some_records(spark, 3)), "dataset")
    assert out["summary"]["total"] == 3
    assert out["summary"]["totalBytes"] == 30.0
    assert isinstance(out["summary"]["totalBytes"], float)


# -- typed filters (tests/test_controllers.py:312-358) ----------------------


def test_filter_string_quoted(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license='"str7"')
    assert out["summary"]["total"] == 1
    assert out["results"][0]["license"] == "str7"


def test_filter_numeric_title(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", title="7")
    assert out["summary"]["total"] == 1


def test_filter_boolean(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 4))
    out = run(e, "dataset", name="true")
    assert out["summary"]["total"] == 4


def test_filter_or_within_param(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license=['"str7"', '"str8"'])
    assert out["summary"]["total"] == 2


def test_filter_and_across_params(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", license='"str7"', title="7")
    assert out["summary"]["total"] == 1
    out = run(e, "dataset", license='"str7"', title="8")
    assert out["summary"]["total"] == 0


def test_filter_nested_path(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 5))
    out = run(e, "dataset", **{"datahub.name": '"innername"'})
    assert out["summary"]["total"] == 5
    out = run(e, "dataset", **{"datahub.name": '"wrong"'})
    assert out["summary"]["total"] == 0


# -- error envelope (tests/test_controllers.py:360-372) ---------------------


def test_unquoted_string_value_is_error(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 3))
    out = run(e, "dataset", license="str7")
    assert "error" in out
    assert out["summary"]["total"] == 0
    assert out["results"] == []


def test_unknown_field_is_error(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 3))
    out = run(e, "dataset", nosuchfield='"x"')
    assert "error" in out
    assert out["summary"]["total"] == 0


def test_unknown_kind_is_error(engine_factory):
    out = run(engine_factory(), "nope")
    assert "error" in out


# -- pagination (tests/test_controllers.py:374-393) -------------------------


def test_default_size_50(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 60))
    out = run(e, "dataset")
    assert out["summary"]["total"] == 60
    assert len(out["results"]) == 50


def test_size_clamped_to_100(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 105))
    out = run(e, "dataset", size="200")
    assert out["summary"]["total"] == 105
    assert len(out["results"]) == 100


def test_size_and_from(spark, engine_factory):
    e = engine_factory(fx.some_records(spark, 10))
    out = run(e, "dataset", size="3", **{"from": "8"})
    assert out["summary"]["total"] == 10
    assert len(out["results"]) == 2


# -- visibility (tests/test_controllers.py:416-464) -------------------------


def test_anonymous_sees_published_only(spark, engine_factory):
    e = engine_factory(fx.private_records(spark))
    out = run(e, "dataset")
    assert out["summary"]["total"] == 4
    assert all("published" in n for n in names(out))


def test_owner_sees_own_plus_published(spark, engine_factory):
    e = engine_factory(fx.private_records(spark))
    out = run(e, "dataset", userid="owner1")
    assert out["summary"]["total"] == 6
    got = names(out)
    assert "owner1-private-cat" in got
    assert "owner2-private-cat" not in got


def test_q_respects_visibility(spark, engine_factory):
    e = engine_factory(fx.private_records(spark, with_readme=True))
    out = run(e, "dataset", q='"cat"')
    assert out["summary"]["total"] == 2  # published cats only
    out = run(e, "dataset", userid="owner1", q='"cat"')
    assert out["summary"]["total"] == 3  # + owner1's private cat


# -- full-text search (tests/test_controllers.py:170-185,497-552) -----------


def test_q_matches_title_word(spark, engine_factory):
    e = engine_factory(fx.real_looking_records(spark, 10))
    out = run(e, "dataset", q='"alpha"')
    # word i=0 in title; word (i+1)%10 → i=9 in owner
    assert out["summary"]["total"] == 2
    out = run(e, "dataset", q='"nosuchword"')
    assert out["summary"]["total"] == 0


def test_q_does_not_search_not_readme(spark, engine_factory):
    e = engine_factory(fx.private_records(spark, with_readme=True))
    out = run(e, "dataset", q='"badword"')
    assert out["summary"]["total"] == 0


def test_core_boost_ranks_first(spark, engine_factory):
    e = engine_factory(fx.multiple_user_records(spark))
    out = run(e, "dataset", q='"readme"')
    assert out["summary"]["total"] == 4  # published only
    assert out["results"][0]["name"] == "core-dataset"


def test_stopwords(spark, engine_factory):
    e = engine_factory(fx.stopword_records(spark))
    out = run(e, "dataset", q='"the Mauna Loa"')
    assert out["summary"]["total"] == 2
    assert {r["title"] for r in out["results"]} == {
        "the Mauna Loa",
        "Mauna Loa",
    }


def test_stemming_relevance(spark, engine_factory):
    docs = [
        {
            "id": "a",
            "name": "a",
            "title": "list of countries",
            "datahub": fx._datahub(),
        },
        {
            "id": "b",
            "name": "b",
            "title": "unrelated",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "country data here", "not_readme": None},
        },
        {
            "id": "c",
            "name": "c",
            "title": "something else",
            "datahub": fx._datahub(),
        },
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"countries"')
    assert out["summary"]["total"] == 2
    # title boost (5) outranks readme boost (2)
    assert [r["name"] for r in out["results"]] == ["a", "b"]


def test_q_and_filter_conjunction(spark, engine_factory):
    """tests/test_controllers.py:153-168: q hits multiple docs, an
    owner filter narrows to one."""
    docs = [
        {
            "id": str(i),
            "name": f"d{i}",
            "title": f"shared topic plus word{i}",
            "datahub": fx._datahub(owner=f"BlaBla{i}@test2.com"),
        }
        for i in range(3)
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"topic"')
    assert out["summary"]["total"] == 3
    out = run(e, "dataset", q='"topic"', **{"datahub.owner": '"BlaBla1@test2.com"'})
    assert out["summary"]["total"] == 1
    assert out["results"][0]["name"] == "d1"


def test_most_fields_score_summation(spark, engine_factory):
    """multi_match most_fields: a doc matching in BOTH title and
    readme outranks a doc matching in title alone (scores sum —
    metastore/models.py:95 'most_fields')."""
    docs = [
        {
            "id": "both",
            "name": "both",
            "title": "fishing boats",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "all about fishing", "not_readme": None},
        },
        {
            "id": "title-only",
            "name": "title-only",
            "title": "fishing boats",
            "datahub": fx._datahub(),
            "datapackage": {"readme": "something else", "not_readme": None},
        },
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", q='"fishing"')
    assert [r["name"] for r in out["results"]] == ["both", "title-only"]


# -- events kind (tests/test_controllers.py:556-609) ------------------------


def test_events_visibility(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events")
    assert out["summary"]["total"] == 5  # odd i → published
    out = run(e, "events", userid="datahubid")
    assert out["summary"]["total"] == 10


def test_events_term_filters(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    uid = "datahubid"
    assert run(e, "events", userid=uid, event_entity='"flow"')["summary"]["total"] == 6
    assert (
        run(e, "events", userid=uid, event_action='"finished"')["summary"]["total"]
        == 7
    )
    out = run(
        e, "events", userid=uid, event_entity='"flow"', event_action='"finished"'
    )
    assert out["summary"]["total"] == 4


def test_events_sort_desc_default_and_asc(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events", userid="datahubid")
    stamps = [r["timestamp"] for r in out["results"]]
    assert stamps == sorted(stamps, reverse=True)
    out = run(e, "events", userid="datahubid", sort='"asc"')
    stamps = [r["timestamp"] for r in out["results"]]
    assert stamps == sorted(stamps)


def test_events_exact_keyword_match(spark, engine_factory):
    e = engine_factory(
        events=fx.event_records_with_datasets(
            spark, ["co2-fossil-by-nation", "co2-fossil-global", "co2-ppm"]
        )
    )
    out = run(e, "events", dataset='"co2-ppm"')
    assert out["summary"]["total"] == 1
    assert out["results"][0]["dataset"] == "co2-ppm"


def test_events_q_is_ignored(spark, engine_factory):
    """events has q_fields: [] (metastore/models.py:33) — a q param
    text-matches nothing, so all visible events return."""
    e = engine_factory(events=fx.some_event_records(spark, 10))
    out = run(e, "events", q='"anything"')
    assert out["summary"]["total"] == 5  # visibility only


def test_dynamic_bool_field_filter(spark, engine_factory):
    """tests/test_controllers.py:182: filter on a dynamic boolean
    field (loaded=true) not in the core mapping."""
    docs = [
        {"id": "a", "name": "a", "loaded": True, "datahub": fx._datahub()},
        {"id": "b", "name": "b", "loaded": False, "datahub": fx._datahub()},
        {"id": "c", "name": "c", "loaded": None, "datahub": fx._datahub()},
    ]
    e = engine_factory(fx.make_datasets(spark, docs))
    out = run(e, "dataset", loaded="true")
    assert out["summary"]["total"] == 1
    assert out["results"][0]["name"] == "a"


def test_events_totalbytes_zero(spark, engine_factory):
    e = engine_factory(events=fx.some_event_records(spark, 4))
    out = run(e, "events", userid="datahubid")
    assert out["summary"]["totalBytes"] == 0.0


# -- one-action envelope: edge cases, job count, concurrency, logging -------

# a request that hangs (an observation never reported) fails the test
# instead of the suite
REQUEST_TIMEOUT_S = 120


def _bytes_corpus(spark):
    """Visibility variety with distinct byte sizes, so a summary that
    drops or double-counts a row shows in totalBytes."""
    docs = [
        {
            "id": f"d{i:02d}",
            "name": f"d{i:02d}",
            "title": f"{'cat' if i % 2 else 'dog'} data number {i}",
            "datahub": fx._datahub(
                owner=f"owner{i % 3}",
                ownerid=f"owner{i % 3}",
                findability="published" if i % 4 else "private",
                bytes_=7 * i + 1,
            ),
        }
        for i in range(12)
    ]
    return fx.make_datasets(spark, docs)


def _search_with_timeout(engine, kind, userid, params):
    import threading

    out = {}
    t = threading.Thread(
        target=lambda: out.update(env=engine.search(kind, userid, params)),
        daemon=True,
    )
    t.start()
    t.join(REQUEST_TIMEOUT_S)
    assert not t.is_alive(), f"search hung: {kind} {params}"
    return out["env"]


def _plain_summary(df, visible, bytes_col=None):
    """count and sum over the visible rows, without the engine."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    if bytes_col:
        aggs.append(F.sum(F.col(bytes_col).cast("double")).alias("b"))
    row = df.filter(visible).agg(*aggs).first()
    total_bytes = float(row["b"] or 0.0) if bytes_col else 0.0
    return row["n"], total_bytes


# case → (kind, userid, params, bounded, expect). ``expect`` names the
# request's match set: "visible" (every visible row), "none" (no row),
# or "error" (a contained error). ``bounded`` builds the engine over
# frames whose row count Catalyst knows, where an offset at or past it
# prunes the page plan.
EDGE_CASES = {
    "size0-dataset": ("dataset", "owner1", {"size": "0"}, False, "visible"),
    "size0-events": ("events", None, {"size": "0"}, False, "visible"),
    "from-past-total-dataset": (
        "dataset", "owner1", {"from": "40", "size": "5"}, False, "visible"),
    "from-past-total-events": (
        "events", "datahubid", {"from": "10", "size": "5"}, False, "visible"),
    "from-past-known-bound-dataset": (
        "dataset", None, {"from": "40", "size": "5"}, True, "visible"),
    "from-past-known-bound-events": (
        "events", None, {"from": "10"}, True, "visible"),
    "owner-no-tokens": (
        "dataset", None, {"datahub.owner": '"the"'}, False, "none"),
    "q-only-stopwords": (
        "dataset", "owner1", {"q": '"the of and"'}, False, "none"),
    "size-negative-dataset": ("dataset", None, {"size": "-1"}, False, "error"),
    "size-negative-events": ("events", None, {"size": "-1"}, False, "error"),
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_envelope_edge_cases_match_plain_summary(spark, engine_factory, case):
    from pyspark.sql import functions as F

    kind, userid, params, bounded, expect = EDGE_CASES[case]
    ds, ev = _bytes_corpus(spark), fx.some_event_records(spark, 10)
    if bounded:
        # every row fits under the bound; each case's offset reaches it
        ds, ev = ds.limit(20), ev.limit(10)
    out = _search_with_timeout(engine_factory(ds, ev), kind, userid, params)
    if expect == "error":
        assert "INVALID_LIMIT_LIKE_EXPRESSION" in out["error"]
        assert out["summary"] == {"total": 0, "totalBytes": 0.0}
        assert out["results"] == []
        return
    assert "error" not in out, out

    if kind == "dataset":
        df, bytes_col = ds, "datahub.stats.bytes"
        visible = (F.col("datahub.findability") == "published") | (
            F.col("datahub.ownerid") == F.lit(userid))
    else:
        df, bytes_col = ev, None
        visible = (F.col("findability") == "published") | (
            F.col("ownerid") == F.lit(userid))
    if expect == "none":
        visible = visible & F.lit(False)
    total, total_bytes = _plain_summary(df, visible, bytes_col)
    assert out["summary"] == {"total": total, "totalBytes": total_bytes}
    assert isinstance(out["summary"]["totalBytes"], float)
    offset = int(params.get("from", 0))
    size = int(params.get("size", 50))
    assert len(out["results"]) == max(0, min(size, total - offset))


@pytest.mark.parametrize(
    "kind,params",
    [
        ("dataset", {"datahub.owner": '"owner1"', "size": "3"}),
        ("events", {"event_entity": '"flow"', "size": "3", "from": "1"}),
    ],
)
def test_filter_only_search_is_one_job_and_caches_nothing(
    spark, engine_factory, kind, params
):
    """The page job also yields the summary: one Spark job per
    filter-only request, and no relation is left cached."""
    import uuid

    sc = spark.sparkContext
    e = engine_factory(_bytes_corpus(spark), fx.some_event_records(spark, 10))
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rdds_before = set(sc._jsc.getPersistentRDDs().keys())
    assert cache.isEmpty()

    group = f"envelope-jobs-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = e.search(kind, "datahubid", params)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert "error" not in out, out
    assert out["summary"]["total"] > 0

    # the status tracker reads the listener-fed status store
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert cache.isEmpty()
    assert set(sc._jsc.getPersistentRDDs().keys()) == rdds_before


def test_concurrent_searches_match_sequential(spark, engine_factory):
    """Concurrent requests on one engine each get their own summary:
    every envelope equals the same request run alone."""
    import sys
    import threading

    e = engine_factory(_bytes_corpus(spark), fx.some_event_records(spark, 10))
    requests = [
        ("dataset", None, {}),
        ("dataset", "owner1", {"size": "4"}),
        ("dataset", None, {"datahub.owner": '"owner2"'}),
        ("dataset", "owner0", {"q": '"cat"'}),
        ("dataset", None, {"q": '"dog"', "from": "2", "size": "2"}),
        ("events", None, {}),
        ("events", "datahubid", {"event_action": '"finished"', "size": "3"}),
        ("events", "datahubid", {"event_entity": '"login"'}),
    ]
    sequential = [e.search(*r) for r in requests]
    assert len({str(s["summary"]) for s in sequential}) > 4  # distinct answers

    results: list = [None] * len(requests)

    def run(i):
        results[i] = e.search(*requests[i])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=run, args=(i,), daemon=True)
            for i in range(len(requests))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(REQUEST_TIMEOUT_S)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    for req, want, got in zip(requests, sequential, results):
        assert got == want, req


def test_contained_error_logged_to_stderr_only():
    """A contained error leaves a WARNING naming the kind and the
    exception class on stderr; stdout carries only what the caller
    prints, and the envelope is unchanged."""
    import json
    import os
    import subprocess
    import sys

    code = (
        "import json\n"
        "from metastore_spark.api import SearchEngine\n"
        "print(json.dumps(SearchEngine(None, {}, {}).search('nokind', None, {})))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=root, timeout=REQUEST_TIMEOUT_S,
    )
    assert proc.returncode == 0, proc.stderr
    env = json.loads(proc.stdout)
    assert env == {
        "results": [],
        "summary": {"total": 0, "totalBytes": 0.0},
        "error": "unknown kind: 'nokind'",
    }
    assert "contained search error" in proc.stderr
    assert "'nokind'" in proc.stderr and "ParamError" in proc.stderr
