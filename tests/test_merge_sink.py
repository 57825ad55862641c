"""MERGE append sink: diff application must equal a fresh import and
must rewrite only the touched hash partitions."""

import glob
import os

from pyspark.sql import functions as F

from osm2pgsql_spark.streaming.merge_sink import ParquetMergeTable


def _nodes(spark, n=200):
    return spark.range(1, n + 1).select(
        F.col("id"),
        (F.col("id") % 360 - 180).cast("double").alias("lon"),
        (F.col("id") % 170 - 85).cast("double").alias("lat"),
    )


def test_merge_equals_fresh_import(spark, tmp_path):
    base = _nodes(spark)
    t = ParquetMergeTable(str(tmp_path / "snap"), num_buckets=8)
    t.write_full(base)

    diff = (
        base.where(F.col("id") % 10 == 0)
        .select("id", (F.col("lon") + 1.0).alias("lon"), "lat")
        .withColumn("op", F.lit("modify"))
        .unionByName(
            base.where(F.col("id") % 10 == 1).withColumn("op", F.lit("delete"))
        )
        .unionByName(
            spark.range(1000, 1010)
            .select(
                F.col("id"),
                F.lit(0.5).alias("lon"),
                F.lit(0.5).alias("lat"),
            )
            .withColumn("op", F.lit("create"))
        )
    )
    rewritten = t.merge_diff(spark, diff)
    assert 0 < len(rewritten) <= 8

    got = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}
    # fresh-import expectation
    want = {}
    for r in base.collect():
        if r.id % 10 == 1:
            continue
        want[r.id] = (r.lon + 1.0, r.lat) if r.id % 10 == 0 else (r.lon, r.lat)
    for i in range(1000, 1010):
        want[i] = (0.5, 0.5)
    assert got == want


def test_merge_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "snap2")
    t = ParquetMergeTable(path, num_buckets=8)
    t.write_full(_nodes(spark))

    before = {
        d: set(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }
    # touch exactly one id -> at most one bucket rewritten
    diff = spark.createDataFrame(
        [(7, 0.0, 0.0, "modify")], "id bigint, lon double, lat double, op string"
    )
    rewritten = t.merge_diff(spark, diff)
    assert len(rewritten) == 1
    after = {
        d: set(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }
    changed = [d for d in before if before[d] != after.get(d)]
    assert changed == [f"__bucket={rewritten[0]}"]


def test_merge_drops_fully_deleted_bucket(spark, tmp_path):
    path = str(tmp_path / "snap3")
    t = ParquetMergeTable(path, num_buckets=4)
    # one row per bucket at most
    base = _nodes(spark, n=6)
    t.write_full(base)
    # delete EVERYTHING -> all buckets gone
    diff = base.withColumn("op", F.lit("delete"))
    t.merge_diff(spark, diff)
    assert t.read(spark).count() == 0
    assert not glob.glob(os.path.join(path, "__bucket=*", "*.parquet"))


def test_merge_swap_crash_recovery(spark, tmp_path):
    """ADVICE r3: the partition swap is journaled — a crash at any
    point of the move loop must be completable by recover() with the
    post-merge state, including emptied buckets."""
    import json
    import shutil

    base = _nodes(spark)
    t = ParquetMergeTable(str(tmp_path / "snap"), num_buckets=8)
    t.write_full(base)
    diff = base.select(
        "id", (F.col("lon") + 1.0).alias("lon"), "lat"
    ).withColumn("op", F.lit("modify"))
    t.merge_diff(spark, diff)
    want = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}

    # redo the merge, but simulate a crash mid-swap: stage tmp +
    # journal by hand, move only SOME buckets, leave marker behind
    t2 = ParquetMergeTable(str(tmp_path / "snap2"), num_buckets=8)
    t2.write_full(base)
    diff2 = diff
    merged = t2._bucketed(
        base.select("id", (F.col("lon") + 1.0).alias("lon"), "lat")
    )
    tmp = t2.path + ".merge-tmp"
    merged.write.partitionBy("__bucket").mode("overwrite").parquet(tmp)
    touched = list(range(8))
    staged = [
        b for b in touched if os.path.isdir(os.path.join(tmp, f"__bucket={b}"))
    ]
    with open(t2._marker_path(), "w", encoding="utf-8") as fh:
        json.dump({"touched": touched, "staged": staged}, fh)
    # partial swap: first three staged buckets moved, then "crash"
    for b in staged[:3]:
        dst = os.path.join(t2.path, f"__bucket={b}")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.move(os.path.join(tmp, f"__bucket={b}"), dst)

    assert os.path.exists(t2._marker_path())
    got = {r.id: (r.lon, r.lat) for r in t2.read(spark).collect()}  # auto-recovers
    assert got == want
    assert not os.path.exists(t2._marker_path())
    assert not os.path.isdir(tmp)


def _parts(spark, n=60):
    """An OUTPUT-shaped table: several rows per osm_id (split parts)."""
    return spark.range(1, n + 1).select(
        F.col("id").alias("osm_id"),
        F.explode(
            F.sequence(F.lit(0), (F.col("id") % 3).cast("int"))
        ).alias("part"),
        (F.col("id") * 10).cast("double").alias("v"),
    )


def test_merge_refresh_multi_row_per_id(spark, tmp_path):
    """merge_refresh: delete-matching + insert keeps UNTOUCHED rows
    (several per id) and replaces every row of a touched id — the
    output-table contract, not the middle's one-row upsert."""
    base = _parts(spark)
    t = ParquetMergeTable(str(tmp_path / "out"), id_col="osm_id",
                          num_buckets=8)
    t.write_full(base)

    touched = spark.createDataFrame([(3,), (7,), (9,)], "osm_id bigint")
    new_rows = spark.createDataFrame(
        [(3, 0, 999.0), (7, 0, 777.0), (7, 1, 778.0)],
        "osm_id bigint, part int, v double",
    )
    buckets = t.merge_refresh(spark, touched, new_rows, ["osm_id"])
    assert 0 < len(buckets) <= 8

    got = t.read(spark)
    rows = {(r["osm_id"], r["part"]): r["v"] for r in got.collect()}
    # id 9 deleted entirely (touched, no new rows); 3 and 7 replaced
    assert not any(k[0] == 9 for k in rows)
    assert {k for k in rows if k[0] == 3} == {(3, 0)}
    assert rows[(3, 0)] == 999.0
    assert {k for k in rows if k[0] == 7} == {(7, 0), (7, 1)}
    # an untouched multi-part id keeps every part
    assert {k for k in rows if k[0] == 5} == {(5, 0), (5, 1), (5, 2)}

    # equality with a from-scratch rebuild
    want = (
        base.join(touched, "osm_id", "left_anti").unionByName(new_rows)
    )
    a = sorted(tuple(r) for r in want.collect())
    b = sorted(tuple(r) for r in got.select(*want.columns).collect())
    assert a == b


def test_merge_refresh_crash_recovery(spark, tmp_path):
    """An interrupted merge_refresh swap completes via the same
    journal recover() path merge_diff uses."""
    import json as _json
    import shutil

    base = _parts(spark)
    path = str(tmp_path / "out")
    t = ParquetMergeTable(path, id_col="osm_id", num_buckets=8)
    t.write_full(base)
    before = {(r["osm_id"], r["part"]): r["v"] for r in t.read(spark).collect()}

    touched = spark.createDataFrame([(4,), (8,)], "osm_id bigint")
    new_rows = spark.createDataFrame(
        [(4, 0, 444.0)], "osm_id bigint, part int, v double")
    # stage the merge by hand: run it fully, then reconstruct the
    # "crashed after staging, before swap" state from a second table
    t.merge_refresh(spark, touched, new_rows, ["osm_id"])
    after = {(r["osm_id"], r["part"]): r["v"] for r in t.read(spark).collect()}
    assert after != before and after[(4, 0)] == 444.0

    # crash simulation: stage tmp dirs + journal marker, leave swap undone
    t2 = ParquetMergeTable(str(tmp_path / "out2"), id_col="osm_id",
                           num_buckets=8)
    t2.write_full(base)
    tmp = t2.path + ".merge-tmp"
    # stage: what the rewrite would have produced for bucket of id 4
    from pyspark.sql import functions as FF
    b4 = int(spark.range(1).select(
        FF.pmod(FF.xxhash64(FF.lit(4).cast("bigint")), FF.lit(8))
    ).collect()[0][0])
    staged_df = (
        base.withColumn(
            "__bucket", FF.pmod(FF.xxhash64(FF.col("osm_id")), FF.lit(8)))
        .where(FF.col("__bucket") == b4)
        .join(touched, "osm_id", "left_anti")
        .unionByName(new_rows.withColumn("__bucket", FF.lit(b4)))
    )
    staged_df.write.partitionBy("__bucket").mode("overwrite").parquet(tmp)
    with open(t2._marker_path(), "w", encoding="utf-8") as fh:
        _json.dump({"touched": [b4], "staged": [b4]}, fh)

    got = {(r["osm_id"], r["part"]): r["v"] for r in t2.read(spark).collect()}
    assert not os.path.exists(t2._marker_path())  # recover() ran
    assert got[(4, 0)] == 444.0
    assert {k for k in got if k[0] == 4} == {(4, 0)}


def test_merge_refresh_planet_shaped(spark, tmp_path):
    """THE append-at-scale claim, pinned at a size where a full-table
    rewrite would visibly fail the file-level assertion: 10^6 rows
    across 256 hash buckets, a 10-object diff.  merge_refresh must
    (a) report <= 10 touched buckets, (b) leave every untouched
    bucket's parquet files physically untouched on disk (same names,
    sizes, mtimes — the swap moves touched bucket dirs only), and
    (c) produce exactly the plain-format result (old rows minus
    touched keys, plus the new rows)."""
    path = str(tmp_path / "planet")
    t = ParquetMergeTable(path, id_col="osm_id", num_buckets=256)
    base = spark.range(0, 1_000_000).select(
        F.col("id").alias("osm_id"),
        (F.col("id") * 7 % 1000).cast("int").alias("v"),
    )
    t.write_full(base)

    def snapshot_files():
        out = {}
        for d in glob.glob(os.path.join(path, "__bucket=*")):
            b = int(d.rsplit("=", 1)[1])
            out[b] = sorted(
                (os.path.basename(p), os.stat(p).st_size,
                 os.stat(p).st_mtime_ns)
                for p in glob.glob(os.path.join(d, "*.parquet"))
            )
        return out

    before = snapshot_files()
    assert len(before) == 256

    diff_ids = [3, 99_999, 123_456, 250_000, 333_333, 500_000,
                777_777, 888_888, 999_999, 1_000_001]  # one create
    touched_keys = spark.createDataFrame(
        [(i,) for i in diff_ids], "osm_id long")
    new_rows = spark.createDataFrame(
        [(i, -1) for i in diff_ids if i != 99_999],  # 99999: delete
        "osm_id long, v int")

    rewritten = t.merge_refresh(spark, touched_keys, new_rows, ["osm_id"])
    assert 0 < len(rewritten) <= len(diff_ids)

    after = snapshot_files()
    untouched = set(before) - set(rewritten)
    assert len(untouched) >= 246
    for b in untouched:
        assert after[b] == before[b], f"bucket {b} was rewritten"

    # plain-format (full-rewrite) semantics, computed independently
    expected = base.join(touched_keys, "osm_id", "left_anti").unionByName(
        new_rows)
    got = t.read(spark)
    # net count: one delete (99999) offset by one create (1000001)
    assert got.count() == expected.count() == 1_000_000
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_torn_journal_marker_recovery(spark, tmp_path):
    """r13 VERDICT #1: recover() must survive an UNPARSEABLE marker
    (torn write from a pre-atomic-rename writer, or fs corruption).
    The swap starts only after the marker is durable, so a torn marker
    means the swap never began: recovery keeps the intact OLD state,
    discards marker + staging dir, and never raises."""
    base = _nodes(spark)
    t = ParquetMergeTable(str(tmp_path / "snap"), num_buckets=8)
    t.write_full(base)
    want_old = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}

    # staged tmp dir + torn marker (truncated mid-JSON)
    merged = t._bucketed(
        base.select("id", (F.col("lon") + 1.0).alias("lon"), "lat")
    )
    merged.write.partitionBy("__bucket").mode("overwrite").parquet(
        t.path + ".merge-tmp"
    )
    with open(t._marker_path(), "w", encoding="utf-8") as fh:
        fh.write('{"touched": [0, 1, 2, 3')  # torn mid-write

    assert t.recover() is True  # handled, not raised
    assert not os.path.exists(t._marker_path())
    assert not os.path.isdir(t.path + ".merge-tmp")
    got = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}
    assert got == want_old  # old state intact — swap never began


def test_kill_mid_journal_write(spark, tmp_path):
    """Kill injected DURING the marker write: with the write-beside +
    os.replace commit, the journal path never holds partial bytes —
    only marker.tmp does.  recover() discards it, the table reads back
    the OLD state, and a clean re-run of the merge lands the NEW
    state.  Either-old-or-new, never a crash."""
    base = _nodes(spark)
    t = ParquetMergeTable(str(tmp_path / "snap"), num_buckets=8)
    t.write_full(base)
    want_old = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}
    diff = base.select(
        "id", (F.col("lon") + 1.0).alias("lon"), "lat"
    ).withColumn("op", F.lit("modify"))

    class Killed(RuntimeError):
        pass

    real_replace = os.replace

    def kill_before_replace(src, dst):  # power cut before the rename
        if dst == t._marker_path():
            raise Killed("kill injected between tmp write and rename")
        return real_replace(src, dst)

    os.replace = kill_before_replace
    try:
        try:
            t.merge_diff(spark, diff)
            raise AssertionError("kill injection did not fire")
        except Killed:
            pass
    finally:
        os.replace = real_replace

    # crash state: partial/complete marker.tmp, NO marker, staged tmp dir
    assert os.path.exists(t._marker_path() + ".tmp")
    assert not os.path.exists(t._marker_path())
    t.recover()
    assert not os.path.exists(t._marker_path() + ".tmp")
    got = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}
    assert got == want_old  # OLD state — marker never became durable

    # retry of the batch succeeds and lands the NEW state
    t.merge_diff(spark, diff)
    got2 = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}
    assert got2 == {i: (lon + 1.0, lat) for i, (lon, lat) in want_old.items()}


def test_kill_after_marker_before_swap(spark, tmp_path):
    """Kill injected AFTER the atomic marker rename but before any
    bucket move: the journal is durable, so recover() completes the
    swap to the NEW state."""
    base = _nodes(spark)
    t = ParquetMergeTable(str(tmp_path / "snap"), num_buckets=8)
    t.write_full(base)
    diff = base.select(
        "id", (F.col("lon") + 1.0).alias("lon"), "lat"
    ).withColumn("op", F.lit("modify"))

    class Killed(RuntimeError):
        pass

    real_swap = ParquetMergeTable._swap_from_tmp

    def kill_before_swap(self, tmp, touched, staged):
        raise Killed("kill injected after journal commit, before swap")

    ParquetMergeTable._swap_from_tmp = kill_before_swap
    try:
        try:
            t.merge_diff(spark, diff)
            raise AssertionError("kill injection did not fire")
        except Killed:
            pass
    finally:
        ParquetMergeTable._swap_from_tmp = real_swap

    assert os.path.exists(t._marker_path())  # durable journal
    got = {r.id: (r.lon, r.lat) for r in t.read(spark).collect()}  # auto-recover
    want_new = {
        r.id: (r.lon + 1.0, r.lat) for r in base.collect()
    }
    assert got == want_new  # swap completed from the journal


def _files_per_bucket(path):
    return {
        os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(path, "__bucket=*"))
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_full_one_file_per_bucket(spark, tmp_path):
    """Four input partitions would put four files in every bucket if
    each input task wrote its own; the table gets one per bucket."""
    path = str(tmp_path / "snap")
    t = ParquetMergeTable(path, num_buckets=8)
    base = _nodes(spark).repartition(4)
    t.write_full(base)
    files = _files_per_bucket(path)
    assert len(files) == 8 and set(files.values()) == {1}, files
    assert _rows(t.read(spark)) == _rows(base)


def test_merge_diff_one_file_per_bucket(spark, tmp_path):
    path = str(tmp_path / "snap")
    t = ParquetMergeTable(path, num_buckets=8)
    base = _nodes(spark)
    t.write_full(base)
    diff = (
        base.select("id", (F.col("lon") + 1.0).alias("lon"), "lat")
        .withColumn("op", F.lit("modify"))
        .repartition(4)
    )
    assert t.merge_diff(spark, diff) == list(range(8))
    files = _files_per_bucket(path)
    assert len(files) == 8 and set(files.values()) == {1}, files
    assert _rows(t.read(spark)) == _rows(diff.drop("op"))


def test_merge_refresh_one_file_per_bucket(spark, tmp_path):
    path = str(tmp_path / "out")
    t = ParquetMergeTable(path, id_col="osm_id", num_buckets=8)
    base = _parts(spark)
    t.write_full(base)
    touched = base.select("osm_id").where(F.col("osm_id") % 2 == 0)
    new_rows = (
        base.join(touched, "osm_id")
        .select("osm_id", "part", (F.col("v") + 1.0).alias("v"))
        .repartition(4)
    )
    t.merge_refresh(spark, touched, new_rows, ["osm_id"])
    files = _files_per_bucket(path)
    assert len(files) == 8 and set(files.values()) == {1}, files
    want = base.join(touched, "osm_id", "left_anti").unionByName(new_rows)
    assert _rows(t.read(spark).select(*want.columns)) == _rows(want)


def test_bucket_above_advisory_size_is_split(spark, tmp_path):
    """The rebalance does not cap write parallelism at the bucket
    count: a bucket larger than AQE's advisory partition size is
    written by several tasks, so as several files."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        path = str(tmp_path / "big")
        t = ParquetMergeTable(path, num_buckets=1)
        base = spark.range(0, 100_000).repartition(4)
        t.write_full(base)
    finally:
        spark.conf.set(key, old)
    files = _files_per_bucket(path)
    assert list(files) == ["__bucket=0"] and files["__bucket=0"] > 1, files
    got = t.read(spark)
    assert got.count() == 100_000
    assert got.exceptAll(base).count() == 0
