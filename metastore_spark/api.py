"""The search engine facade: reference-parity query semantics.

Mirrors the whole pipeline of metastore/models.py:54-174 +
metastore/controllers.py:6-17, re-expressed as DataFrame composition:

    params → QuerySpec → visibility ∧ filters → (optional BM25 ranking
    + core boost) → sort → offset/limit page → envelope{results,
    summary:{total, totalBytes}} — errors contained, never raised.

A "kind" is the reference's ENABLED_SEARCHES entry
(metastore/models.py:14-35): a table plus per-kind field wiring.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metastore_spark.operators.envelope import Envelope, run_envelope
from metastore_spark.operators.filters import (
    filters_predicate,
    resolves_field,
    visibility_predicate,
)
from metastore_spark.params import ParamError, QuerySpec, parse_params
from metastore_spark.search.index import SearchIndex, build_index
from metastore_spark.search.scoring import bm25_scores

# Static relevance boost for 'core'-owned published datasets
# (metastore/models.py:65-73: should-clause with boost 4.5; only the
# resulting ORDERING is pinned by tests/test_controllers.py:516-520,
# so an additive constant reproduces the observable contract).
CORE_BOOST = 4.5

log = logging.getLogger(__name__)


@dataclass
class KindConfig:
    """Per-kind wiring (reference ENABLED_SEARCHES, metastore/models.py:14-35)."""

    table: str
    id_field: str
    findability_field: str | None = None
    owner_field: str | None = None
    # field → boost, e.g. title^5 (metastore/models.py:20-25)
    q_fields: dict[str, float] = dc_field(default_factory=dict)
    timestamp_field: str | None = None
    filter_mode: str = "match"  # 'match' (datasets) | 'term' (events)
    bytes_field: str | None = None
    # ownerid field for the core boost (datasets only)
    boost_owner_field: str | None = None
    # the findability value that marks a row public (reference
    # hardcodes 'published'; kinds bound to foreign schemas remap it)
    published_value: str = "published"


def _validate_filter_fields(df: DataFrame, filters: dict) -> None:
    """Unknown filter field → ParamError (reference: filtering on a
    nonexistent field is a contained error, not an empty success).
    Fields without values build no predicate, so they are not checked.
    """
    for field, values in filters.items():
        if values and not resolves_field(df, field):
            raise ParamError(f"unknown field: {field!r}")


class SearchEngine:
    """Query facade over a registry of kinds.

    ``dfs``: kind → DataFrame. Text indexes are built lazily per kind
    and cached (ES analyzes at ingest; so do we).
    """

    def __init__(self, spark, kinds: dict[str, KindConfig], dfs: dict[str, DataFrame]):
        self.spark = spark
        self.kinds = kinds
        self.dfs = dfs
        self._indexes: dict[str, SearchIndex] = {}

    # -- index management ---------------------------------------------------

    def index_for(self, kind: str) -> SearchIndex | None:
        cfg = self.kinds[kind]
        if not cfg.q_fields:
            return None
        if kind not in self._indexes:
            self._indexes[kind] = build_index(
                self.dfs[kind], cfg.id_field, list(cfg.q_fields)
            )
        return self._indexes[kind]

    def refresh(self, kind: str, df: DataFrame) -> None:
        """Replace a kind's data (and drop + release its cached index)."""
        self.dfs[kind] = df
        old = self._indexes.pop(kind, None)
        if old is not None:
            old.unpersist()

    def refresh_from_snapshot(
        self, kind: str, root: str, version: int | None = None
    ) -> int:
        """Re-bind a kind to a snapshot table's committed head (or a
        pinned ``version``) and return the version served. This is the
        serving loop for the reference's mutating ``events`` kind
        (/root/reference/metastore/models.py:82-85) over the default
        substrate: ingest commits versions concurrently; the engine
        flips atomically between committed heads and never observes a
        half-written directory."""
        from metastore_spark.sources import snapshots

        v = snapshots.current_version(root) if version is None else version
        self.refresh(kind, snapshots.read_snapshot(self.spark, root, v))
        return v

    # -- query --------------------------------------------------------------

    def search(self, kind: str, userid: str | None, params: dict) -> dict:
        """The controller contract (metastore/controllers.py:6-17):
        always returns the envelope; failures produce the empty
        envelope with an ``error`` key, never an exception. Each
        contained error is logged at WARNING (kind and exception class)
        so it leaves a trace; logging's defaults send it to stderr."""
        try:
            if kind not in self.kinds:
                raise ParamError(f"unknown kind: {kind!r}")
            spec = parse_params(params)
            env = self._run(kind, userid, spec)
        except Exception as e:  # noqa: BLE001 — error containment is the contract
            log.warning("contained search error: kind=%r error=%s",
                        kind, type(e).__name__)
            env = Envelope(error=str(e))
        return env.to_dict()

    def _run(self, kind: str, userid: str | None, spec: QuerySpec) -> Envelope:
        cfg = self.kinds[kind]
        df = self.dfs[kind]

        if cfg.findability_field:
            df = df.filter(
                visibility_predicate(
                    cfg.findability_field,
                    cfg.owner_field,
                    userid,
                    published_value=cfg.published_value,
                )
            )

        pred = filters_predicate(spec.filters, mode=cfg.filter_mode)
        if pred is not None:
            _validate_filter_fields(df, spec.filters)
            df = df.filter(pred)

        sort_cols: list[Column] = []
        if spec.q and cfg.q_fields:
            scores = bm25_scores(self.index_for(kind), spec.q, cfg.q_fields)
            df = df.join(
                F.broadcast(scores),
                df[cfg.id_field] == scores["doc_id"],
            ).drop("doc_id")
            df = self._with_core_boost(df, cfg, F.col("score"))
            sort_cols.append(F.desc("score"))
        elif cfg.q_fields:
            # no q: static relevance only (core-owned first, like the
            # always-attached boost clause at metastore/models.py:65-73)
            df = self._with_core_boost(df, cfg, F.lit(0.0))
            sort_cols.append(F.desc("score"))

        if cfg.timestamp_field:
            ts = F.col(cfg.timestamp_field)
            sort_cols.append(ts.desc() if spec.sort_desc else ts.asc())
        sort_cols.append(F.col(cfg.id_field).asc())  # deterministic tiebreak

        env = run_envelope(
            df, sort_cols, spec.offset, spec.size, bytes_col=cfg.bytes_field
        )
        if "score" in df.columns:
            for r in env.results:
                r.pop("score", None)
        return env

    @staticmethod
    def _with_core_boost(df: DataFrame, cfg: KindConfig, base: Column) -> DataFrame:
        if cfg.boost_owner_field is None:
            return df.withColumn("score", base)
        # the reference boost clause requires BOTH ownerid=='core' AND
        # findability=='published' (metastore/models.py:65-73) — an
        # authenticated core user's own unpublished rows are visible
        # but NOT boosted.
        cond = F.col(cfg.boost_owner_field) == "core"
        if cfg.findability_field:
            cond = cond & (
                F.col(cfg.findability_field) == cfg.published_value
            )
        bonus = F.when(cond, F.lit(CORE_BOOST)).otherwise(F.lit(0.0))
        return df.withColumn("score", base + bonus)


def dataset_events_engine(
    spark,
    datasets: DataFrame,
    events: DataFrame,
) -> SearchEngine:
    """The reference's two kinds, wired exactly as ENABLED_SEARCHES
    (metastore/models.py:14-35)."""
    kinds = {
        "dataset": KindConfig(
            table="datahub",
            id_field="id",
            findability_field="datahub.findability",
            owner_field="datahub.ownerid",
            q_fields={
                "title": 5.0,
                "datahub.owner": 2.0,
                "datahub.ownerid": 1.0,
                "datapackage.readme": 2.0,
            },
            filter_mode="match",
            bytes_field="datahub.stats.bytes",
            boost_owner_field="datahub.ownerid",
        ),
        "events": KindConfig(
            table="events",
            id_field="_event_id",
            findability_field="findability",
            owner_field="ownerid",
            q_fields={},
            timestamp_field="timestamp",
            filter_mode="term",
        ),
    }
    return SearchEngine(spark, kinds, {"dataset": datasets, "events": events})
