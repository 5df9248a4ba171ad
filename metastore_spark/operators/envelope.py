"""Result envelope: page of hits + corpus-wide summary aggregates.

The reference attaches to every query (a) the total matched count
(hits.total → summary.total, metastore/models.py:152) and (b) a sum
aggregation over all matched docs (summary.totalBytes,
metastore/models.py:116-117,153), regardless of pagination — both
come back with the page from ONE Elasticsearch request.

Spark-first shape, one action per request: ``count(1)`` and
``sum(bytes)`` are observed (``DataFrame.observe``) on the filtered
frame, and collecting the sorted ``offset/limit`` page is the action
that computes them. The page is a TakeOrderedAndProject over every
matched row, so the observed aggregates cover all matches at any
scale; no frame is persisted and no second job reads the matches
again. A plain one-job aggregate remains for requests that want no
rows (``size <= 0``) and for a page plan Catalyst pruned the
observation from (an offset past a row bound it knows).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from metastore_spark.operators.filters import resolves_field
from metastore_spark.operators.paging import paginate


@dataclass
class Envelope:
    results: list[dict] = field(default_factory=list)
    total: int = 0
    total_bytes: float = 0.0
    error: str | None = None

    def to_dict(self) -> dict:
        out = {
            "results": self.results,
            "summary": {"total": self.total, "totalBytes": self.total_bytes},
        }
        if self.error is not None:
            out["error"] = self.error
        return out


def _summary_cols(df: DataFrame, bytes_col: str | None) -> list[Column]:
    """count(*) and sum(bytes); a missing bytes field sums to 0.0."""
    if bytes_col is not None and resolves_field(df, bytes_col):
        total_bytes = F.sum(F.col(bytes_col).cast("double"))
    else:
        total_bytes = F.lit(0.0)
    return [F.count(F.lit(1)).alias("total"), total_bytes.alias("total_bytes")]


def _summary(values: dict) -> tuple[int, float]:
    # sum() over no rows is NULL; the reference's empty sum is 0
    return int(values["total"]), float(values["total_bytes"] or 0.0)


def summary_agg(filtered: DataFrame, bytes_col: str | None) -> tuple[int, float]:
    """count(*) + sum(bytes) in ONE aggregation job."""
    row = filtered.agg(*_summary_cols(filtered, bytes_col)).first()
    return _summary(row.asDict())


def run_envelope(
    filtered: DataFrame,
    sort_cols: list[Column],
    offset: int,
    size: int,
    bytes_col: str | None = None,
) -> Envelope:
    """Execute the canonical search shape: one page + the summary over
    every match, in one Spark job when a page is requested.

    ``sort_cols`` must be non-empty: without a sort the page compiles
    to a CollectLimit, which stops reading once it has ``size`` rows,
    and the observed count would cover only the rows read.
    """
    if not sort_cols:
        raise ValueError("run_envelope needs sort_cols: an unsorted page "
                         "stops early and would observe a partial count")
    if size <= 0:
        # no rows wanted, and limit(0) would let Catalyst drop an
        # observation from the plan: the summary alone is one aggregate
        # job. The page is still built, for its argument checks: a
        # negative size or offset fails analysis
        # (INVALID_LIMIT_LIKE_EXPRESSION) before any job runs.
        paginate(filtered, sort_cols, offset, size)
        total, total_bytes = summary_agg(filtered, bytes_col)
        return Envelope(total=total, total_bytes=total_bytes)

    # a fresh Observation per request: concurrent requests never share one
    name = f"envelope-{uuid.uuid4().hex}"
    obs = Observation(name)
    observed = filtered.observe(obs, *_summary_cols(filtered, bytes_col))
    page = paginate(observed, sort_cols, offset, size)
    results = [r.asDict(recursive=True) for r in page.collect()]
    # Catalyst prunes the observation where it knows a row bound (local
    # or range relations) and the offset reaches it: the page becomes
    # an empty relation and Observation.get holds no metrics. The
    # page's own query execution says whether its plan reported them.
    if page._jdf.queryExecution().observedMetrics().contains(name):
        total, total_bytes = _summary(obs.get)
    else:
        total, total_bytes = summary_agg(filtered, bytes_col)
    return Envelope(results=results, total=total, total_bytes=total_bytes)
