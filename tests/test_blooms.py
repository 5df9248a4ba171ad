"""Bloom-filter file skipping (Iceberg/Delta bloom parity): equality
probes skip files whose min/max range covers a scattered key that is
provably absent (metastore_spark/sources/snapshots.py _bloom_*)."""

import pytest
from pyspark.sql import functions as F

from metastore_spark.sources import snapshots as snap


def _store(spark, tmp_path, n=20000, parts=8):
    root = str(tmp_path / "t")
    df = spark.range(n).selectExpr("id as k", "id as uid").repartition(
        parts
    )
    snap.commit_append(
        spark, root, df, stats_cols=["uid"], bloom_cols=["uid"]
    )
    return root


def test_bloom_skips_scattered_point_lookups(spark, tmp_path):
    root = _store(spark, tmp_path)
    total = len(snap.files_of(root, 1))
    victims = [123, 4567, 19998]
    kept = snap.pruned_manifest_files(
        root, snap.read_manifest(root, 1), {"uid": victims}
    )
    # unique keys land in exactly one file each; round-robin layout
    # means every file's RANGE covers them — only the bloom can skip
    assert len(kept) <= len(victims) < total
    got = (
        snap.read_snapshot(spark, root, prune={"uid": victims})
        .filter(F.col("uid").isin(victims))
        .count()
    )
    assert got == len(victims)


def test_stats_alone_cannot_skip_this_layout(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(20000).selectExpr("id as k", "id as uid").repartition(
        8
    )
    snap.commit_append(spark, root, df, stats_cols=["uid"])  # no blooms
    kept = snap.pruned_manifest_files(
        root, snap.read_manifest(root, 1), {"uid": [123]}
    )
    assert len(kept) == len(snap.files_of(root, 1))


def test_bloom_never_false_negative(spark, tmp_path):
    root = _store(spark, tmp_path, n=5000)
    # probe EVERY key: pruned read must still return every row
    all_keys = list(range(0, 5000, 97))
    got = (
        snap.read_snapshot(spark, root, prune={"uid": all_keys})
        .filter(F.col("uid").isin(all_keys))
        .count()
    )
    assert got == len(all_keys)


def test_bloom_opt_in_inherits_and_compact_rebuilds(spark, tmp_path):
    root = _store(spark, tmp_path, n=10000)
    # plain append inherits the opt-in: new segment gets blooms too
    snap.commit_append(
        spark,
        root,
        spark.range(10000, 12000)
        .selectExpr("id as k", "id as uid")
        .repartition(4),
    )
    assert snap.read_manifest(root, 2)["bloom_cols"] == ["uid"]
    kept = snap.pruned_manifest_files(
        root, snap.read_manifest(root, 2), {"uid": [11999]}
    )
    assert len(kept) <= 1
    # compaction rebuilds blooms for the fold
    snap.compact(spark, root, target_files=6)
    m = snap.read_manifest(root, 3)
    assert m["bloom_cols"] == ["uid"]
    kept3 = snap.pruned_manifest_files(root, m, {"uid": [123]})
    assert len(kept3) < len(snap.files_of(root, 3))
    got = (
        snap.read_snapshot(spark, root, prune={"uid": [123]})
        .filter("uid = 123")
        .count()
    )
    assert got == 1


def test_bloom_survives_rename_probe_under_new_name(spark, tmp_path):
    root = _store(spark, tmp_path, n=5000)
    snap.rename_column(root, "uid", "user")
    m = snap.read_manifest(root, snap.current_version(root))
    kept = snap.pruned_manifest_files(root, m, {"user": [42]})
    assert len(kept) <= 1
    got = (
        snap.read_snapshot(spark, root, prune={"user": [42]})
        .filter("user = 42")
        .count()
    )
    assert got == 1


def test_unbloomed_rewrites_are_conservative(spark, tmp_path):
    """A COW rewrite builds blooms for the files it writes, like every
    commit; a pruned read across the rewrite must stay exact."""
    root = _store(spark, tmp_path, n=10000)
    snap.commit_delete_where(spark, root, F.col("uid") % 1000 == 7)
    m = snap.read_manifest(root, 2)
    assert m["bloom_cols"] == ["uid"]  # opt-in carried
    got = (
        snap.read_snapshot(spark, root, prune={"uid": [4321]})
        .filter("uid = 4321")
        .count()
    )
    assert got == 1


def test_bloom_rejects_float_probes_safely(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id as k", "cast(id as double) as x"
    )
    snap.commit_append(spark, root, df, bloom_cols=["x"])
    # float column: no bloom is built; nothing is ever skipped
    kept = snap.pruned_manifest_files(
        root, snap.read_manifest(root, 1), {"x": [5.0]}
    )
    assert len(kept) == len(snap.files_of(root, 1))


# --------------------------------------------------- sorted compaction


def test_sorted_compaction_makes_ranges_disjoint(spark, tmp_path):
    """compact(sort_by=[uid]) range-partitions the fold so file
    min/max ranges become disjoint — range probes then skip from
    stats alone, where the round-robin layout kept everything."""
    root = str(tmp_path / "t")
    df = spark.range(20000).selectExpr("id as k", "id as uid").repartition(
        8
    )
    snap.commit_append(spark, root, df, stats_cols=["uid"])
    before = snap.pruned_manifest_files(
        root, snap.read_manifest(root, 1), {"uid": (100, 200)}
    )
    assert len(before) == len(snap.files_of(root, 1))  # can't skip yet
    v = snap.compact(spark, root, target_files=8, sort_by=["uid"])
    m = snap.read_manifest(root, v)
    assert m["sort_spec"] == ["uid"]
    after = snap.pruned_manifest_files(root, m, {"uid": (100, 200)})
    assert len(after) <= 2 < len(snap.files_of(root, v))
    got = (
        snap.read_snapshot(spark, root, prune={"uid": (100, 200)})
        .filter("uid between 100 and 200")
        .count()
    )
    assert got == 101


def test_sorted_compaction_identical_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.range(5000).selectExpr("id as k", "id % 7 as uid")
    snap.commit_append(spark, root, df.repartition(4))
    v = snap.compact(spark, root, target_files=4, sort_by=["uid"])
    assert snap.read_snapshot(spark, root, v).count() == 5000
    assert (
        snap.read_snapshot(spark, root, v)
        .agg(F.sum("k"))
        .first()[0]
        == sum(range(5000))
    )


# --------------------------------------- evolution x layout interactions


def test_partition_spec_survives_column_rename(spark, tmp_path):
    """Renaming a partition-spec column keeps pruning AND appends
    working under the new name (prune bounds translate through the
    column-ID mapping to the files' write-time names)."""
    root = str(tmp_path / "t")
    df = spark.range(300).selectExpr(
        "id as k", "cast(id % 3 as string) as day"
    )
    snap.commit_append(spark, root, df, partition_by=["day"])
    snap.rename_column(root, "day", "dt")
    m = snap.read_manifest(root, snap.current_version(root))
    kept = snap.pruned_manifest_files(root, m, {"dt": ["1"]})
    assert len(kept) < len(snap.files_of(root, 2))
    got = (
        snap.read_snapshot(spark, root, prune={"dt": ["1"]})
        .filter("dt = '1'")
        .count()
    )
    assert got == 100
    snap.commit_append(
        spark,
        root,
        spark.range(300, 330).selectExpr(
            "id as k", "cast(id % 3 as string) as dt"
        ),
    )
    assert snap.read_snapshot(spark, root).count() == 330


def test_bloom_and_partition_prune_compose(spark, tmp_path):
    """One probe with a partition value-set AND a bloom equality set:
    both dimensions skip independently and the read stays exact."""
    root = str(tmp_path / "t")
    df = spark.range(3000).selectExpr(
        "id as k", "id as uid", "cast(id % 3 as string) as day"
    )
    snap.commit_append(
        spark, root, df, partition_by=["day"], bloom_cols=["uid"]
    )
    m = snap.read_manifest(root, 1)
    total = len(snap.files_of(root, 1))
    kept = snap.pruned_manifest_files(
        root, m, {"day": ["1"], "uid": [7, 1000]}
    )
    # day=1 alone keeps a third; uid blooms cut further (uid=7 is in
    # day '1'? 7%3=1 yes; 1000%3=1 yes — both in day 1, few files)
    assert len(kept) < total // 3 + 1
    got = (
        snap.read_snapshot(
            spark, root, prune={"day": ["1"], "uid": [7, 1000]}
        )
        .filter("day = '1' and uid in (7, 1000)")
        .count()
    )
    assert got == 2


# ------------------------------------------------ the carry rule, pinned


def _carry_rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id as k", "id as uid", "cast(id % 3 as string) as g", "id * 2 as v"
    )


def _carry_branch_publish(spark, root):
    snap.create_branch(root, "b")
    snap.commit_append(spark, root, _carry_rows(spark, 600, 610), ref="b")
    return snap.publish_branch(root, "b")


def _carry_rollback(spark, root):
    snap.commit_append(spark, root, _carry_rows(spark, 600, 610))
    return snap.rollback_to(root, 1)


_CARRY_VERBS = {
    "commit_append": lambda s, r: snap.commit_append(
        s, r, _carry_rows(s, 600, 620)
    ),
    "commit_mor_upsert": lambda s, r: snap.commit_mor_upsert(
        s, r, _carry_rows(s, 0, 10), ["k"]
    ),
    "commit_delete_where": lambda s, r: snap.commit_delete_where(
        s, r, F.col("k") == 5
    ),
    "commit_mor_delete": lambda s, r: snap.commit_mor_delete(
        s, r, F.col("k") == 5
    ),
    "commit_mor_delete_keys": lambda s, r: snap.commit_mor_delete_keys(
        s, r, s.range(5, 7).selectExpr("id as k")
    ),
    "commit_overwrite_where": lambda s, r: snap.commit_overwrite_where(
        s, r, _carry_rows(s, 0, 30).filter("g = '1'"), F.col("g") == "1"
    ),
    "commit_merge": lambda s, r: snap.commit_merge(
        s, r, _carry_rows(s, 590, 610), ["k"]
    ),
    "commit_delete_keys": lambda s, r: snap.commit_delete_keys(
        s, r, s.range(5, 7).selectExpr("id as k"), ["k"]
    ),
    "compact": lambda s, r: snap.compact(s, r),
    "rollback_to": _carry_rollback,
    "rename_column": lambda s, r: snap.rename_column(r, "v", "w"),
    "publish_branch": _carry_branch_publish,
}


@pytest.mark.parametrize("verb", sorted(_CARRY_VERBS))
def test_every_verb_carries_table_settings(spark, tmp_path, verb):
    """The carry rule: whatever the commit verb, the head keeps the
    table's stats, bloom and partition settings, so the NEXT append
    still builds blooms (the opt-in never silently lapses)."""
    root = str(tmp_path / "t")
    snap.commit_append(
        spark,
        root,
        _carry_rows(spark, 0, 600).repartition(2),
        stats_cols=["uid"],
        bloom_cols=["uid"],
        partition_by=["g"],
    )
    _CARRY_VERBS[verb](spark, root)
    m = snap.read_manifest(root, snap.current_version(root))
    assert m["stats_cols"] == ["uid"]
    assert m["bloom_cols"] == ["uid"]
    assert m["partition_spec"] == ["g"]
    names = [f["name"] for f in m["schema"]["fields"]]
    v = snap.commit_append(
        spark, root, _carry_rows(spark, 700, 720).toDF(*names)
    )
    seg = snap.read_manifest(root, v)["segments"][-1]
    assert snap._read_segment_obj(root, seg).get("blooms")
