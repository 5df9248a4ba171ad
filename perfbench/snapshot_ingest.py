"""Writes beside reads on the snapshot table format: a seeded CDC loop on
a private copy of the events snapshot table. Every cycle makes one
commit (rotating append, merge-on-read upsert and merge-on-read delete,
each followed by ``maybe_compact``) and then one pruned
aggregate read of the head, through ``format("snapshot")`` (the Python
DataSource) after an upsert and through ``snapshots.read_snapshot`` (the
JVM scan) otherwise. A round is ``CYCLES`` cycles, the same number of
each commit, so the op mix is the same from seed to seed; each commit
and each read is one operation."""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

from common import SpanIndex, log, mean, median

SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)
COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
KINDS = ("append", "upsert", "delete")
# two of each commit per round: enough operations that the median of
# one round is not the slowest of a handful of cheap ones
CYCLES = 2 * len(KINDS)
# maybe_compact threshold: the delete's position files and the upsert's
# equality deletes pile up from one upsert to the next and fold at it, so
# every round does the same work
MAX_EQ_ENTRIES = 0
N_APPEND, N_UPSERT, N_DELETE, READ_WIDTH = 200, 100, 50, 2000


# file mtimes come from the kernel's coarse clock, which may lag
# time.time() by up to a scheduler tick
MTIME_SLACK_S = 0.02


def _files(path: str):
    for dp, _dirs, files in os.walk(path):
        for f in files:
            yield os.stat(os.path.join(dp, f))


def _dir_bytes(path: str) -> int:
    return sum(st.st_size for st in _files(path))


class Model:
    """The expected table: the base rows with the op log replayed, plus
    the merge-on-read debt the log implies."""

    def __init__(self, base_rows: list[dict]):
        self.rows = {r["event_id"]: tuple(r[c] for c in COLS) for r in base_rows}
        self.next_id = max(self.rows) + 1
        self.eq_entries = 0
        self.deletes = 0  # merge-on-read deletes since the last fold
        self.compactions = 0

    def after_commit(self) -> None:
        """``maybe_compact`` folds every delete once the equality-delete
        entries exceed the threshold."""
        if self.eq_entries > MAX_EQ_ENTRIES:
            self.eq_entries = self.deletes = 0
            self.compactions += 1

    def range_agg(self, lo: int, hi: int) -> tuple[int, float]:
        vals = [r[4] for k, r in self.rows.items() if lo <= k <= hi]
        return len(vals), sum(vals)


class SnapshotIngest:
    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        base = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))
        self.base_rows = base.to_pylist()
        # new and upserted rows take their values from the fixture's
        # own domains
        self.user_ids = sorted({r["user_id"] for r in self.base_rows})
        self.event_types = sorted({r["event_type"] for r in self.base_rows})
        self.ts_lo = min(r["ts"] for r in self.base_rows)
        self.ts_span = int(
            (max(r["ts"] for r in self.base_rows) - self.ts_lo).total_seconds())
        self.value_lo = min(r["value"] for r in self.base_rows)
        self.value_hi = max(r["value"] for r in self.base_rows)
        self.dir = os.path.join(ctx.paths.tmp, "ingest")
        self.cycle = 0
        self.commit_windows: list[tuple[float, float]] = []
        self.read_checks: list[tuple[str, bool]] = []

    def wrap(self, tracer) -> None:
        from metastore_spark.sources import snapshots

        for fn in ("commit_append", "commit_mor_upsert", "commit_mor_delete",
                   "maybe_compact", "compact"):
            tracer.wrap(snapshots, fn, f"snapshots.{fn}", "snapshots")

    def setup(self) -> None:
        """The catalog's events store, then the private copy (with
        pruning stats on ``event_id``)."""
        from metastore_spark import catalog
        from metastore_spark.sources import snapshots
        from metastore_spark.sources.spark_source import SnapshotDataSource

        spark = self.ctx.spark
        shutil.rmtree(self.dir, ignore_errors=True)
        store = catalog.snapshot_root(spark, self.ctx.sf_dir, "events")
        self.root = os.path.join(self.dir, "events")
        snapshots.commit_append(
            spark, self.root, snapshots.read_snapshot(spark, store),
            stats_cols=["event_id"],
        )
        spark.dataSource.register(SnapshotDataSource)
        self.model = Model(self.base_rows)
        self.cycle = 0

    def warmup(self, tracer) -> None:
        """An append read through the JVM scan and an upsert read through
        the DataSource: the calls whose first use in a JVM is slow."""
        ops: list = []
        for _ in range(2):
            self._cycle(tracer, ops)
        log("ingest warm-up " + ", ".join(
            f"{k}={1e3 * d:.0f}ms" for k, d, _ in ops))

    def round(self, tracer) -> list[tuple[str, float, bool]]:
        """``CYCLES`` cycles, rotating through the commit kinds."""
        ops: list[tuple[str, float, bool]] = []
        for _ in range(CYCLES):
            self._cycle(tracer, ops)
        tracer.key = None
        return ops

    # -- op log ------------------------------------------------------------

    def _new_row(self, event_id: int) -> tuple:
        rng = self.rng
        return (
            event_id,
            self.ts_lo + dt.timedelta(seconds=rng.randrange(self.ts_span + 1)),
            rng.choice(self.user_ids),
            rng.choice(self.event_types),
            round(rng.uniform(self.value_lo, self.value_hi), 2),
            f'{{"k": {rng.randrange(100)}}}',
        )

    def _fresh_rows(self, n: int) -> list[tuple]:
        rows = [self._new_row(self.model.next_id + i) for i in range(n)]
        self.model.next_id += n
        return rows

    def _live_keys(self, n: int) -> list[int]:
        return self.rng.sample(sorted(self.model.rows), n)

    # -- one cycle -----------------------------------------------------------

    def _op(self, ops, kind, tracer, fn, layer=None):
        """Run ``fn`` as one operation (in a span of ``layer`` when
        given); while tracing, record when a commit ran, so the bytes it
        wrote are found by file mtime after the timed region."""
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            if layer is None:
                out = fn()
            else:
                with tracer.span(f"ingest.{kind}", layer):
                    out = fn()
        except Exception as e:
            log(f"{kind} failed: {e!r}")
            ops.append((kind, time.perf_counter() - t0, False))
            return None
        ops.append((kind, time.perf_counter() - t0, True))
        if tracer.enabled and layer is None:
            self.commit_windows.append((w0, time.time()))
        return out

    def _cycle(self, tracer, ops) -> None:
        from pyspark.sql import functions as F

        from metastore_spark.sources import snapshots

        spark, m = self.ctx.spark, self.model
        kind = KINDS[self.cycle % len(KINDS)]
        tracer.key = f"c{self.cycle}"
        self.cycle += 1
        if kind == "delete":
            keys = self._live_keys(N_DELETE)
            commit = lambda: snapshots.commit_mor_delete(  # noqa: E731
                spark, self.root, F.col("event_id").isin(keys))
        else:
            if kind == "append":
                rows = self._fresh_rows(N_APPEND)
            else:
                rows = [self._new_row(k) for k in self._live_keys(N_UPSERT * 4 // 5)]
                rows += self._fresh_rows(N_UPSERT // 5)
            df = spark.createDataFrame(rows, SCHEMA)
            commit = (
                (lambda: snapshots.commit_append(spark, self.root, df))
                if kind == "append" else
                (lambda: snapshots.commit_mor_upsert(spark, self.root, df, ["event_id"]))
            )

        def write():
            commit()
            snapshots.maybe_compact(spark, self.root, max_eq_entries=MAX_EQ_ENTRIES)
            return True

        if self._op(ops, f"commit_{kind}", tracer, write) is not None:
            if kind == "delete":
                for k in keys:
                    del m.rows[k]
                m.deletes += 1
            else:
                m.rows.update((r[0], r) for r in rows)
                m.eq_entries += kind == "upsert"
            m.after_commit()
            self._read(tracer, ops, datasource=kind == "upsert")

    def _read(self, tracer, ops, datasource: bool) -> None:
        from pyspark.sql import functions as F

        from metastore_spark.sources import snapshots

        spark = self.ctx.spark
        lo = self.rng.randrange(0, max(1, self.model.next_id - READ_WIDTH))
        hi = lo + READ_WIDTH - 1

        def agg(df):
            row = (
                df.filter(F.col("event_id").between(lo, hi))
                .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
                .collect()[0]
            )
            return int(row["n"]), float(row["s"] or 0.0)

        if datasource:
            kind, layer = "read_source", "spark_source"
            fn = lambda: agg(  # noqa: E731
                spark.read.format("snapshot")
                .option("prune.event_id", f"{lo},{hi}").load(self.root))
        else:
            kind, layer = "read_jvm", "execute"
            fn = lambda: agg(snapshots.read_snapshot(  # noqa: E731
                spark, self.root, prune={"event_id": (lo, hi)}))
        got = self._op(ops, kind, tracer, fn, layer)
        if got is not None:
            want_n, want_s = self.model.range_agg(lo, hi)
            ok = got[0] == want_n and abs(got[1] - want_s) <= 1e-9 * max(1.0, abs(want_s))
            if not ok:
                log(f"{kind} [{lo},{hi}] got {got}, want {(want_n, want_s)}")
            self.read_checks.append((f"{kind} aggregate", ok))

    # -- checks --------------------------------------------------------------

    def _compactions(self) -> int:
        from metastore_spark.sources import snapshots

        head = snapshots.current_version(self.root)
        return sum(
            snapshots.read_manifest(self.root, v).get("op") == "compact"
            for v in range(1, head + 1)
        )

    def checks(self) -> list[tuple[str, bool]]:
        """The head's row set against the replayed op log, and the
        merge-on-read debt against the compactions the log implies."""
        from metastore_spark.sources import snapshots

        got = sorted(
            tuple(r[c] for c in COLS)
            for r in snapshots.read_snapshot(self.ctx.spark, self.root).collect()
        )
        want = sorted(self.model.rows.values())
        rows_ok = got == want
        if not rows_ok:
            log(f"head rows differ from the op log: {len(got)} vs {len(want)} rows")
        amp = snapshots.read_amplification(self.root)
        compactions = self._compactions()
        # a merge-on-read delete writes one position file per data file
        # it touches, so the op log bounds that count from below
        amp_ok = (
            amp["n_eq_delete_entries"] == self.model.eq_entries
            and amp["n_pos_delete_files"] >= self.model.deletes
            and (amp["n_pos_delete_files"] == 0) == (self.model.deletes == 0)
            and compactions == self.model.compactions
        )
        if not amp_ok:
            log(f"read amplification {amp} / {compactions} compactions, op log "
                f"implies {self.model.eq_entries} eq entries, "
                f"{self.model.deletes} deletes, "
                f"{self.model.compactions} compactions")
        return self.read_checks + [("head rows", rows_ok),
                                   ("read amplification", amp_ok)]

    def layer_metrics(self, idx: SpanIndex, ops) -> dict[str, float]:
        from metastore_spark.sources import snapshots

        spark = self.ctx.spark
        plain = os.path.join(self.ctx.paths.tmp, "plain")
        snapshots.read_snapshot(spark, self.root).coalesce(1).write.mode(
            "overwrite").parquet(plain)

        def window_of(t: float) -> int | None:
            for i, (w0, w1) in enumerate(self.commit_windows):
                if w0 - MTIME_SLACK_S <= t <= w1 + MTIME_SLACK_S:
                    return i
            return None

        written = sum(st.st_size for st in _files(self.root)
                      if window_of(st.st_mtime) is not None)
        # the head each traced commit left behind (a compaction commits a
        # version of its own), which the read after it plans over
        heads: dict[int, tuple[int, dict]] = {}
        for v in range(1, snapshots.current_version(self.root) + 1):
            man = snapshots.read_manifest(self.root, v)
            i = window_of(man["ts_us"] / 1e6)
            if i is not None:
                heads[i] = (v, man)  # versions ascend: the last one wins

        def med_ms(name):
            return 1e3 * median([s.dur for s in idx.named(name)])

        reads = idx.named("snapshots.read_snapshot")
        source_reads = idx.named("ingest.read_source")
        return {
            "snapshots.commit_append_ms": med_ms("snapshots.commit_append"),
            "snapshots.commit_mor_upsert_ms": med_ms("snapshots.commit_mor_upsert"),
            "snapshots.commit_mor_delete_ms": med_ms("snapshots.commit_mor_delete"),
            # a mean: most calls find nothing to fold
            "snapshots.maybe_compact_ms": 1e3 * mean(
                [s.dur for s in idx.named("snapshots.maybe_compact")]),
            "snapshots.compactions": len(idx.named("snapshots.compact")),
            "snapshots.bytes_written_per_commit":
                written / max(1, len(self.commit_windows)),
            "snapshots.stored_bytes_per_user_byte":
                _dir_bytes(self.root) / max(1, _dir_bytes(plain)),
            "snapshots.read_snapshot_ms": med_ms("snapshots.read_snapshot"),
            "snapshots.read_jobs": mean([idx.inclusive(s, "jobs") for s in reads]),
            "snapshots.live_files": mean(
                [len(snapshots.files_of(self.root, v)) for v, _m in heads.values()]),
            "snapshots.delete_files": mean(
                [len(m.get("delete_files") or []) + len(m.get("eq_delete_files") or [])
                 for _v, m in heads.values()]),
            "spark_source.read_ms": med_ms("ingest.read_source"),
            "spark_source.read_tasks": mean(
                [idx.inclusive(s, "tasks") for s in source_reads]),
        }
