"""Physical table layout for 100 TB: partitioning, bucketing,
incremental maintenance.

These writers encode the layout decisions every query in this engine
assumes:

- **events → date-partitioned parquet.** Time-range predicates become
  partition pruning (scan touches only matching days); the append
  pattern (one new partition per ingest window) never rewrites
  history.
- **postings → bucketed by term.** Query-time term lookups prune to
  the term's bucket; two tables bucketed the same way join without a
  shuffle (index refresh merges old+new postings shuffle-free).
- **incremental index refresh**: new event/doc files are drained with
  availableNow (streaming, bounded) and appended as new index
  partitions — the ES "analyze at ingest" pattern, restated as a
  Spark job you can run per window.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metastore_spark.search.analysis import analyze_udf


def write_events_by_day(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """events → parquet partitioned by event_date (ts normalized to
    canonical TIMESTAMP_NTZ whatever the physical input encoding)."""
    from metastore_spark.ts import normalize_ts

    (
        normalize_ts(df, ts_col)
        .withColumn(
            "event_date",
            F.date_format(F.col(ts_col), "yyyy-MM-dd"),
        )
        .repartition("event_date")  # one writer task per partition dir
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(path)
    )


def events_partitioned(
    spark: SparkSession, sf_dir: str, warehouse: str | None = None
):
    """Probe-or-build the date-partitioned events layout for ``sf_dir``.

    Returns ``(df, True)`` reading the partitioned layout (cached under
    the repo warehouse, keyed by the sf_dir name and invalidated on
    source size/mtime change), or ``(df, False)`` falling back to the
    flat parquet when the layout can't be materialized (read-only FS,
    concurrent writer, ...). Either way ``ts`` is canonical NTZ and the
    query result must be identical — the layout only changes WHAT the
    scan can prune, never the rows. The `_SOURCE.json` marker is
    underscore-prefixed so Spark's parquet reader ignores it.
    """
    import json

    from metastore_spark.ts import normalize_ts

    src = os.path.join(sf_dir, "events.parquet")
    flat = lambda: normalize_ts(spark.read.parquet(src))  # noqa: E731
    if warehouse is None:
        warehouse = os.environ.get(
            "SPARK_GRAFT_WAREHOUSE",
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "spark-warehouse",
            ),
        )
    key = os.path.basename(os.path.normpath(sf_dir)) or "default"
    dest = os.path.join(os.path.abspath(warehouse), "events_by_day", key)
    marker = os.path.join(dest, "_SOURCE.json")
    try:
        st = os.stat(src)
        sig = {"size": st.st_size, "mtime": int(st.st_mtime)}
        fresh = False
        if os.path.exists(marker):
            with open(marker) as fh:
                fresh = json.load(fh) == sig
        if not fresh:
            # Build in a process-private tmp dir and os.rename into
            # place (same protocol as serve.materialized): an in-place
            # overwrite lets two concurrent builders interleave Spark's
            # delete-then-write, leaving BOTH writers' part-files under
            # a fresh marker — silently doubled aggregates forever
            # after. rename is atomic; losing the race just means the
            # winner's identical layout serves.
            import shutil

            tmp = f"{dest}.build-{os.getpid()}"
            write_events_by_day(flat(), tmp)
            with open(os.path.join(tmp, "_SOURCE.json"), "w") as fh:
                json.dump(sig, fh)
            if os.path.exists(dest):  # stale layout: move aside, drop
                trash = f"{dest}.old-{os.getpid()}"
                try:
                    os.rename(dest, trash)
                    shutil.rmtree(trash, ignore_errors=True)
                except OSError:
                    pass  # another process already moved it
            try:
                os.rename(tmp, dest)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # lost the race
            # reclaim siblings orphaned by CRASHED builders (a dead
            # process's .build-<pid>/.old-<pid> has no cleanup path and
            # each holds a full-size copy); a day comfortably outlives
            # any live build
            import time as _time

            parent = os.path.dirname(dest)
            base = os.path.basename(dest)
            for entry in os.listdir(parent):
                if not (
                    entry.startswith(f"{base}.build-")
                    or entry.startswith(f"{base}.old-")
                ):
                    continue
                victim = os.path.join(parent, entry)
                try:
                    if _time.time() - os.stat(victim).st_mtime > 86400:
                        shutil.rmtree(victim, ignore_errors=True)
                except OSError:
                    pass
        return spark.read.parquet(dest), True
    except Exception:
        return flat(), False


def read_events_day_range(
    spark: SparkSession, path: str, start: str, end: str
) -> DataFrame:
    """Date-range scan — the predicate is on the partition column, so
    Spark prunes directories before reading a single row group."""
    return spark.read.parquet(path).filter(
        (F.col("event_date") >= start) & (F.col("event_date") <= end)
    )


def write_postings_bucketed(
    postings: DataFrame, table: str, buckets: int = 64
) -> None:
    """postings → bucketed+sorted managed table, keyed by term.

    Both sides of any postings⋈postings or postings⋈docfreq join that
    is bucketed identically co-locate without an exchange.
    """
    (
        postings.write.mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term")
        .format("parquet")
        .saveAsTable(table)
    )


def write_fact_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 32
) -> None:
    """Generic fact-table bucketing: hash-bucket (and sort) by the join
    key so identically-bucketed facts join with ZERO exchange on
    either side — the classic co-location layout for fact⋈fact joins
    (lineitem⋈orders on orderkey) where neither side can broadcast.
    At 100 TB this replaces the two largest shuffles of every
    order-grain query with bucket-local sort-merge tasks.

    Note Spark's bucketing metadata lives in the session catalog (no
    Hive metastore here), so co-location is per-session: callers build
    once per (session, corpus) — see ``ensure_bucketed_facts``.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def ensure_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    specs: list[tuple[str, str]],
    buckets: int = 32,
) -> dict[str, str]:
    """Idempotently materialize bucketed copies of the given
    ``(table, join_key)`` specs for this corpus; returns
    {table: bucketed_table_name}. Names carry a corpus fingerprint
    (path + mtime + size) so a refreshed corpus gets fresh buckets
    while repeat queries in one session reuse the catalog entry.
    """
    import hashlib

    out = {}
    for name, key in specs:
        src = os.path.join(sf_dir, f"{name}.parquet")
        st = os.stat(src)
        fp = hashlib.sha256(
            f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}|{buckets}".encode()
        ).hexdigest()[:12]
        tbl = f"{name}_bkt_{fp}"
        if not spark.catalog.tableExists(tbl):
            write_fact_bucketed(
                spark.read.parquet(src), tbl, key, buckets
            )
        out[name] = tbl
    return out


def refresh_postings_increment(
    spark: SparkSession,
    new_docs_dir: str,
    schema,
    out_path: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
) -> None:
    """Incremental index maintenance: drain newly-arrived document
    files (availableNow), analyze them (Arrow-batched stemmer), and
    append their postings as a new increment, in the SAME
    (term, doc_id, field, tf) shape the full index build writes so
    consumers can union increments with the base postings. docfreq and
    avgdl must be re-aggregated after a refresh (both are associative
    over postings/doclen — a groupBy away); this function maintains
    postings only.
    """
    stream = spark.readStream.schema(schema).format("parquet").load(new_docs_dir)

    def build_increment(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch: the micro-batch is a plain DataFrame, so the
        # postings aggregation runs with batch semantics (no watermark
        # needed) and appends one increment per drained batch.
        toks = batch_df.select(
            F.col(id_col).alias("doc_id"),
            analyze_udf(F.col(text_col).cast("string")).alias("toks"),
        )
        postings = (
            toks.select("doc_id", F.explode("toks").alias("term"))
            .groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("field", F.lit(text_col))
            .select("term", "doc_id", "field", "tf")
        )
        postings.write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(build_increment)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def zorder_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns:
    bit i of `a` lands at position 2i, bit i of `b` at 2i+1.

    Sorting by this single value clusters rows so that BOTH dimensions
    have locality — parquet row-group min/max stats then become tight
    on either column, and a predicate on just one of them skips most
    row groups. Pure codegen (shift/and/or chain, 2*bits terms); at
    more than two dimensions the same construction interleaves
    round-robin."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)), 2 * i
            )
        )
        z = z.bitwiseOR(
            F.shiftleft(
                F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)),
                2 * i + 1,
            )
        )
    return z


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_mb: int = 256,
    order_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_mb``-sized files. Returns the output file count.

    The operational fix for streaming/incremental ingest at scale —
    thousands of KB-sized files turn every scan into an open()/footer
    storm and bloat the driver's split planning. Sizing comes from the
    ACTUAL on-disk bytes (not row counts, which mispredict with
    compression); ``order_by`` uses repartitionByRange + sortWithin-
    Partitions so min/max row-group stats become selective for later
    range predicates (poor man's clustering). Write-then-swap isn't
    atomic here on purpose: production would write to a new dated dir
    and flip a catalog pointer (the events_by_day append pattern).
    """
    import math

    total = 0
    for root, _dirs, files in os.walk(src):
        for name in files:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, name))
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    if order_by:
        df = df.repartitionByRange(n, *order_by).sortWithinPartitions(
            *order_by
        )
    else:
        df = df.repartition(n)
    df.write.mode("overwrite").parquet(dest)
    return sum(
        1
        for f in os.listdir(dest)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def zorder_cell(a: Column, b: Column, a_shift: int, b_shift: int) -> Column:
    """8-bit Z-order (Morton) cell id from two non-negative dims: the
    top 4 bits of each dim (``dim >> shift``) bit-interleaved
    (a→even, b→odd positions). A pure codegen expression — 8 shifts
    and ORs — so the cell column costs nothing at scan speed.
    """
    ah = F.shiftright(a.cast("bigint"), a_shift)
    bh = F.shiftright(b.cast("bigint"), b_shift)
    cell = F.lit(0).cast("bigint")
    for i in range(4):
        # bitwiseOR, not `|` — PySpark's | is boolean OR
        cell = cell.bitwiseOR(
            F.shiftleft(F.shiftright(ah, i) % 2, 2 * i)
        ).bitwiseOR(F.shiftleft(F.shiftright(bh, i) % 2, 2 * i + 1))
    return cell


def zcells_for_box(
    a_lo: int, a_hi: int, b_lo: int, b_hi: int, a_shift: int, b_shift: int
) -> list[int]:
    """Driver-side Z-order range decomposition: the exact set of cells
    a query rectangle intersects — parameter-sized (≤256 cells), the
    classic 'z-ranges of a box' computation every Z-ordered store
    (Delta OPTIMIZE ZORDER, HBase salting schemes) performs at query
    planning time."""
    cells = []
    for ah in range(a_lo >> a_shift, (a_hi >> a_shift) + 1):
        for bh in range(b_lo >> b_shift, (b_hi >> b_shift) + 1):
            c = 0
            for i in range(4):
                c |= ((ah >> i) & 1) << (2 * i)
                c |= ((bh >> i) & 1) << (2 * i + 1)
            cells.append(c)
    return sorted(set(cells))


def zorder_shifts(a_max: int, b_max: int) -> tuple[int, int]:
    """Per-dim shifts putting each dim's top 4 OCCUPIED bits into the
    cell: derived from data stats, so build and probe agree by
    construction (both recompute from the same source)."""
    a_bits = max(4, (int(a_max)).bit_length())
    b_bits = max(4, (int(b_max)).bit_length())
    return a_bits - 4, b_bits - 4


def rewrite_cells(
    spark: SparkSession,
    store_path: str,
    cells: list[int],
    keep: Column,
) -> dict[str, int]:
    """Targeted row deletion on a ``zcell``-partitioned store: rewrite
    ONLY the cell directories the driver-side range decomposition
    names, keeping rows where ``keep`` holds. Everything outside the
    named cells is untouched on disk (asserted by mtime in
    tests/test_layout.py) — at 100 TB this is the difference between
    a full-table rewrite and touching a few hundred partitions.

    Scratch dirs live OUTSIDE the store (a sibling `.rewrite` dir):
    partition discovery must never see a half-swapped `zcell=5.old`
    entry — it would parse as a zcell VALUE, widen the partition
    column to string (breaking integer cell-pruning filters), and
    serve the dropped rows right back. Each cell's evacuated copy is
    deleted immediately after its swap (retention and peak disk stay
    one cell, not the whole rewrite), and the only crash window — a
    kill between the two renames, leaving the cell missing from the
    store — is self-healing: the next rewrite_cells on this store
    restores any evacuated cell found in leftover scratch dirs before
    doing new work. Erased rows are deleted-or-restored, never
    resurrected into discovery and never silently retained. Returns
    {"cells_rewritten": n, "rows_dropped": n}.
    """
    import glob as _glob
    import shutil
    import uuid as _uuid

    # recover from any prior crashed rewrite: restore evacuated cells
    # whose swap never completed, then clear the dead scratch. A
    # scratch dir whose owning pid is still alive belongs to a
    # CONCURRENT in-flight rewrite — sweeping it would rmtree the
    # peer's evacuated cells mid-swap and resurrect rows it is
    # erasing, so those are skipped (dead-pid and unparseable names
    # only). The uuid suffix keeps two rewrites in one process (or a
    # recycled pid) from ever sharing a scratch path.
    for stale in _glob.glob(f"{store_path.rstrip('/')}.rewrite-*"):
        pid_part = os.path.basename(stale).rpartition("rewrite-")[2]
        pid_str = pid_part.split("-", 1)[0]
        if pid_str.isdigit():
            try:
                os.kill(int(pid_str), 0)
                continue  # owner alive: its swap is in flight, hands off
            except ProcessLookupError:
                pass  # dead owner — safe to recover
            except PermissionError:
                continue  # alive under another uid — hands off
        for entry in os.listdir(stale):
            if not entry.startswith("old-"):
                continue
            cell_dir = os.path.join(
                store_path, f"zcell={entry[len('old-'):]}"
            )
            if not os.path.isdir(cell_dir):
                os.rename(os.path.join(stale, entry), cell_dir)
        shutil.rmtree(stale, ignore_errors=True)

    scratch = (
        f"{store_path.rstrip('/')}.rewrite-{os.getpid()}"
        f"-{_uuid.uuid4().hex[:8]}"
    )
    os.makedirs(scratch, exist_ok=True)
    rewritten = dropped = 0
    try:
        for c in cells:
            d = os.path.join(store_path, f"zcell={c}")
            if not os.path.isdir(d):
                continue
            df = spark.read.parquet(d)
            before = df.count()
            kept = df.filter(keep)
            after = kept.count()
            if after == before:
                continue  # nothing to drop — leave the cell untouched
            tmp = os.path.join(scratch, f"new-{c}")
            kept.write.mode("overwrite").parquet(tmp)
            old = os.path.join(scratch, f"old-{c}")
            os.rename(d, old)  # evacuate FIRST — store never shows .old
            try:
                os.rename(tmp, d)
            except BaseException:
                os.rename(old, d)  # put the cell back before scratch dies
                raise
            shutil.rmtree(old, ignore_errors=True)  # bound retention NOW
            rewritten += 1
            dropped += before - after
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return {"cells_rewritten": rewritten, "rows_dropped": dropped}


def forget_user(
    spark: SparkSession,
    store_path: str,
    user_id: int,
    u_shift: int,
    d_shift: int,
    rel_day_max: int,
    user_col: str = "user_id",
) -> dict[str, int]:
    """GDPR-style erasure on the Z-ordered store: a user's rows can
    only live in the cells whose user-range contains them, so the
    driver decomposes the (user, all-days) line into its cell set
    (zcells_for_box — parameter-sized) and rewrites just those.
    The layout that made box scans cheap makes targeted deletion
    cheap for the same reason — the clustering key bounds where any
    user's data can physically be.
    """
    cells = zcells_for_box(
        user_id, user_id, 0, rel_day_max, u_shift, d_shift
    )
    return rewrite_cells(
        spark, store_path, cells, F.col(user_col) != user_id
    )
