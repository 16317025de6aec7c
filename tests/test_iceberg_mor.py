"""Iceberg v2 merge-on-read READS (sources/iceberg_native.py:
read_iceberg_native): position and equality delete files applied at scan
time. The tables are authored from scratch here (metadata.json, manifest
list avro, manifest avro via sources/avro_lite.py, delete parquets via
pyarrow) — the same layer external v2 writers produce."""

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from glaredb_spark.sources.avro_lite import write_avro
from glaredb_spark.sources.iceberg_native import (
    IcebergError,
    read_iceberg_native,
)

_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                ],
            },
        },
    ],
}
_ML_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
    ],
}


def _write_parquet(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _author_v2(tmp_path, data_files, delete_files, late_data_files=()):
    """data_files: [(relpath, pa.Table)] at sequence 1; delete_files:
    [(relpath, pa.Table, content, equality_ids)] at sequence 2 (the
    spec's shape: deletes scope data with strictly older sequence
    numbers); late_data_files at sequence 3 (inserted AFTER the
    deletes — equality deletes must not touch them). Returns root."""
    root = str(tmp_path / "mor")
    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)

    def _entries(files, content_of, eq_of):
        out = []
        for item in files:
            rel, tbl = item[0], item[1]
            full = os.path.join(root, rel)
            _write_parquet(full, tbl)
            out.append(
                {"status": 1, "data_file": {
                    "content": content_of(item), "file_path": full,
                    "file_format": "PARQUET",
                    "record_count": tbl.num_rows,
                    "file_size_in_bytes": os.path.getsize(full),
                    "equality_ids": eq_of(item)}}
            )
        return out

    ml_entries = []
    groups = [
        (1, 0, _entries(data_files, lambda i: 0, lambda i: None)),
        (2, 1, _entries(delete_files, lambda i: i[2], lambda i: i[3])),
    ]
    if late_data_files:
        groups.append(
            (3, 0, _entries(late_data_files, lambda i: 0, lambda i: None))
        )
    for seq, ml_content, entries in groups:
        if not entries:
            continue
        manifest = os.path.join(mdir, f"manifest-{seq}.avro")
        write_avro(manifest, _MANIFEST_SCHEMA, entries)
        ml_entries.append(
            {"manifest_path": manifest,
             "manifest_length": os.path.getsize(manifest),
             "content": ml_content, "sequence_number": seq}
        )
    ml = os.path.join(mdir, "snap-1.avro")
    write_avro(ml, _ML_SCHEMA, ml_entries)
    meta = {
        "format-version": 2,
        "table-uuid": "0b2cde12-8a52-4a2c-a7f3-0b6d2b1f2a01",
        "location": root,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
        ]}],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 0, "manifest-list": ml}],
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    return root


def _data(lo, hi):
    return pa.table({
        "id": pa.array(range(lo, hi), pa.int64()),
        "val": pa.array([f"v{i}" for i in range(lo, hi)]),
    })


def test_position_deletes_applied(spark, tmp_path):
    root = str(tmp_path / "mor")
    f1, f2 = os.path.join(root, "data/a.parquet"), os.path.join(
        root, "data/b.parquet")
    pos_del = pa.table({
        "file_path": pa.array([f1, f1, f2]),
        "pos": pa.array([0, 3, 9], pa.int64()),
    })
    _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10)), ("data/b.parquet", _data(10, 20))],
        [("data/del-pos.parquet", pos_del, 1, None)],
    )
    got = sorted(r["id"] for r in read_iceberg_native(spark, root).collect())
    # file a loses rows at positions 0 and 3 (ids 0, 3); file b loses
    # position 9 (id 19)
    assert got == [i for i in range(20) if i not in (0, 3, 19)]


def test_equality_deletes_applied(spark, tmp_path):
    eq_del = pa.table({"id": pa.array([2, 5, 17], pa.int64())})
    root = _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10)), ("data/b.parquet", _data(10, 20))],
        [("data/del-eq.parquet", eq_del, 2, [1])],
    )
    got = sorted(r["id"] for r in read_iceberg_native(spark, root).collect())
    assert got == [i for i in range(20) if i not in (2, 5, 17)]


def test_position_and_equality_combined(spark, tmp_path):
    root = str(tmp_path / "mor")
    f1 = os.path.join(root, "data/a.parquet")
    pos_del = pa.table({
        "file_path": pa.array([f1]), "pos": pa.array([1], pa.int64()),
    })
    eq_del = pa.table({"id": pa.array([8, 12], pa.int64())})
    _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10)), ("data/b.parquet", _data(10, 20))],
        [("data/del-pos.parquet", pos_del, 1, None),
         ("data/del-eq.parquet", eq_del, 2, [1])],
    )
    got = sorted(r["id"] for r in read_iceberg_native(spark, root).collect())
    assert got == [i for i in range(20) if i not in (1, 8, 12)]
    # schema and values survive the anti-joins
    row = read_iceberg_native(spark, root).filter("id = 4").collect()[0]
    assert row["val"] == "v4"


def test_equality_delete_without_ids_uses_file_columns(spark, tmp_path):
    eq_del = pa.table({"val": pa.array(["v3", "v14"])})
    root = _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10)), ("data/b.parquet", _data(10, 20))],
        [("data/del-eq.parquet", eq_del, 2, None)],
    )
    got = sorted(r["id"] for r in read_iceberg_native(spark, root).collect())
    assert got == [i for i in range(20) if i not in (3, 14)]


def test_dml_still_rejected_on_mor_tables(spark, tmp_path):
    from glaredb_spark.sources.iceberg_native import delete_iceberg_native

    eq_del = pa.table({"id": pa.array([2], pa.int64())})
    root = _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10))],
        [("data/del-eq.parquet", eq_del, 2, [1])],
    )
    with pytest.raises(IcebergError, match="merge-on-read"):
        delete_iceberg_native(spark, root, "id = 1")


def test_equality_delete_scoped_by_sequence_number(spark, tmp_path):
    """A row re-inserted AFTER an equality delete (higher data sequence
    number) survives the scan — deletes scope strictly-older data."""
    eq_del = pa.table({"id": pa.array([4, 15], pa.int64())})
    root = _author_v2(
        tmp_path,
        [("data/a.parquet", _data(0, 10)), ("data/b.parquet", _data(10, 20))],
        [("data/del-eq.parquet", eq_del, 2, [1])],
        late_data_files=[("data/c.parquet", _data(4, 5))],  # re-insert id 4
    )
    got = sorted(r["id"] for r in read_iceberg_native(spark, root).collect())
    # ids 4 and 15 deleted from seq-1 data; the seq-3 re-insert of 4 survives
    assert got == sorted(
        [i for i in range(20) if i not in (4, 15)] + [4]
    )


def test_many_upsert_batches_bounded_plan_then_purge(spark, tmp_path):
    """The r8 scale-killer, fixed: 22 micro-batch upserts leave 21
    equality-delete files that all share one equality-id set, so the MoR
    read plans exactly ONE anti-join (was one PER delete file — the plan
    grew with batch count); REORG PURGE then materializes the equality
    deletes and returns the table to plain COW (was refused)."""
    from glaredb_spark.sources.iceberg_native import (
        _manifest_entries,
        purge_iceberg_native,
        table_metadata,
        upsert_iceberg_native,
    )

    path = str(tmp_path / "many")
    expect = {}
    for b in range(22):
        batch = [(k, f"b{b}") for k in range(b, b + 5)]
        upsert_iceberg_native(
            spark,
            path,
            spark.createDataFrame(batch, "k long, v string"),
            on=["k"],
        )
        expect.update({k: v for k, v in batch})
    out = read_iceberg_native(spark, path)
    assert {r["k"]: r["v"] for r in out.collect()} == expect
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one eq-delete anti-join total, NOT one per micro-batch
    assert plan.count("LeftAnti") == 1, plan
    meta = table_metadata(path)
    n_eq = sum(
        1
        for e in _manifest_entries(meta, path)
        if (e["data_file"].get("content", 0) or 0) == 2
    )
    assert n_eq == 21  # batch 0 created the table, 1..21 upserted
    purged, rows = purge_iceberg_native(spark, path)
    assert purged >= 1
    meta2 = table_metadata(path)
    assert all(
        (e["data_file"].get("content", 0) or 0) == 0
        for e in _manifest_entries(meta2, path)
    )
    out2 = read_iceberg_native(spark, path)
    assert {r["k"]: r["v"] for r in out2.collect()} == expect
    # post-purge plan is a plain scan: no joins at all
    assert "Join" not in out2._jdf.queryExecution().optimizedPlan().toString()


_PART_MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {
                        "name": "partition",
                        "type": {"type": "record", "name": "r102", "fields": [
                            {"name": "val",
                             "type": ["null", "string"], "default": None},
                        ]},
                    },
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "default": None,
                    },
                ],
            },
        },
    ],
}
_PART_ML_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
    ],
}


def test_equality_delete_scoped_by_partition(spark, tmp_path):
    """Spec rule (ADVICE r8): a delete file committed under a
    PARTITIONED spec applies only to data files with the same partition
    tuple. An externally-authored eq-delete scoped to val='x' kills ids
    in the x partition only — the same ids in y survive."""
    root = str(tmp_path / "scoped")
    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)

    def _tbl(lo, hi, val):
        return pa.table({
            "id": pa.array(range(lo, hi), pa.int64()),
            "val": pa.array([val] * (hi - lo)),
        })

    def _entry(rel, tbl, content, eq_ids, part):
        full = os.path.join(root, rel)
        _write_parquet(full, tbl)
        return {"status": 1, "data_file": {
            "content": content, "file_path": full,
            "file_format": "PARQUET", "partition": {"val": part},
            "record_count": tbl.num_rows,
            "file_size_in_bytes": os.path.getsize(full),
            "equality_ids": eq_ids}}

    # both partitions contain ids 0..9; the delete names ids 1 and 3
    data_entries = [
        _entry("data/x.parquet", _tbl(0, 10, "x"), 0, None, "x"),
        _entry("data/y.parquet", _tbl(0, 10, "y"), 0, None, "y"),
    ]
    eq_del = pa.table({"id": pa.array([1, 3], pa.int64())})
    del_entries = [
        _entry("data/del-eq.parquet", eq_del, 2, [1], "x"),
    ]
    ml_entries = []
    for seq, content, entries, name in [
        (1, 0, data_entries, "manifest-1.avro"),
        (2, 1, del_entries, "manifest-2.avro"),
    ]:
        manifest = os.path.join(mdir, name)
        write_avro(manifest, _PART_MANIFEST_SCHEMA, entries)
        ml_entries.append(
            {"manifest_path": manifest,
             "manifest_length": os.path.getsize(manifest),
             "partition_spec_id": 0,
             "content": content, "sequence_number": seq}
        )
    ml = os.path.join(mdir, "snap-1.avro")
    write_avro(ml, _PART_ML_SCHEMA, ml_entries)
    meta = {
        "format-version": 2,
        "table-uuid": "1c3cde12-8a52-4a2c-a7f3-0b6d2b1f2a02",
        "location": root,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "id", "required": True, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
        ]}],
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "sequence-number": 1,
                       "timestamp-ms": 0, "manifest-list": ml}],
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "val", "transform": "identity",
             "source-id": 2, "field-id": 1000},
        ]}],
        "default-spec-id": 0,
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    got = sorted(
        (r["val"], r["id"])
        for r in read_iceberg_native(spark, root).collect()
    )
    expect = sorted(
        [("x", i) for i in range(10) if i not in (1, 3)]
        + [("y", i) for i in range(10)]
    )
    assert got == expect


def test_writer_commits_deletes_under_unpartitioned_spec(spark, tmp_path):
    """Our writer's delete manifests on a PARTITIONED table go under a
    dedicated unpartitioned spec (global scope, spec-conformant for
    external readers — ADVICE r8) and still apply across partitions."""
    from glaredb_spark.sources.iceberg_native import (
        _manifest_list_entries,
        table_metadata,
        upsert_iceberg_native,
        write_iceberg_native,
    )

    path = str(tmp_path / "partup")
    rows = [(k, "x" if k % 2 == 0 else "y", "old") for k in range(10)]
    write_iceberg_native(
        spark.createDataFrame(rows, "k long, p string, v string"),
        path, partition_by=["p"], format_version=2,
    )
    up = [(3, "y", "new3"), (4, "x", "new4")]
    upsert_iceberg_native(
        spark, path,
        spark.createDataFrame(up, "k long, p string, v string"),
        on=["k"],
    )
    got = {r["k"]: r["v"] for r in read_iceberg_native(spark, path).collect()}
    assert got == {k: ("new3" if k == 3 else "new4" if k == 4 else "old")
                   for k in range(10)}
    meta = table_metadata(path)
    specs = {int(s.get("spec-id", 0) or 0): s
             for s in meta["partition-specs"]}
    del_mls = [
        ml for ml in _manifest_list_entries(meta, path)
        if int(ml.get("content", 0) or 0) == 1
    ]
    assert del_mls, "expected a delete manifest"
    for ml in del_mls:
        spec = specs[int(ml["partition_spec_id"])]
        assert spec.get("fields") == []  # unpartitioned delete spec
    # the table's default spec stays partitioned
    assert specs[int(meta.get("default-spec-id", 0))]["fields"]


def _upserted_table(spark, path, batches=3):
    """Writer-created v2 table: keys 0..19 at v0, then ``batches``
    upserts of five keys each (one equality-delete file per upsert)."""
    from glaredb_spark.sources.iceberg_native import upsert_iceberg_native

    expect = {k: "v0" for k in range(20)}
    upsert_iceberg_native(
        spark, path,
        spark.createDataFrame(list(expect.items()), "k long, v string"),
        on=["k"],
    )
    for b in range(1, batches + 1):
        batch = [(k, f"v{b}") for k in range(3 * b, 3 * b + 5)]
        upsert_iceberg_native(
            spark, path, spark.createDataFrame(batch, "k long, v string"),
            on=["k"],
        )
        expect.update(batch)
    return expect


def test_mor_table_path_with_uri_chars(spark, tmp_path):
    """A table whose path holds URI-escapable characters (space, %, #)
    and a literal '+': Spark reports ``_metadata.file_path``
    URI-encoded, so every per-file match (position deletes, equality
    delete sequence scoping, the position-delete DML probe and PURGE)
    must key on that exact string or deleted rows resurrect — the
    Iceberg twin of test_dv_partition_values_with_uri_chars."""
    from glaredb_spark.sources.iceberg_native import (
        _manifest_entries,
        delete_iceberg_native,
        purge_iceberg_native,
        table_metadata,
        upsert_iceberg_native,
        write_iceberg_native,
    )

    path = str(tmp_path / "t a%25b#c+d" / "tbl")
    write_iceberg_native(
        spark.createDataFrame([(k, "v0") for k in range(20)],
                              "k long, v string"),
        path, format_version=2,
    )
    expect = {k: "v0" for k in range(20)}
    # position deletes, twice: the second probe must apply the first
    # delete file's positions through the same per-file key
    for pred, gone in (("k % 5 = 0", {0, 5, 10, 15}), ("k = 7", {7})):
        deleted, _ = delete_iceberg_native(spark, path, pred,
                                           strategy="mor")
        assert deleted == len(gone)
        for k in gone:
            expect.pop(k)

    def _read():
        return {r["k"]: r["v"]
                for r in read_iceberg_native(spark, path).collect()}

    assert _read() == expect
    # equality deletes on top (upsert): re-inserted keys survive by
    # sequence number, replaced keys die in every older file
    batch = [(k, "v1") for k in (1, 2, 5, 19)]
    upsert_iceberg_native(
        spark, path, spark.createDataFrame(batch, "k long, v string"),
        on=["k"],
    )
    expect.update(batch)
    assert _read() == expect
    contents = {
        e["data_file"].get("content", 0) or 0
        for e in _manifest_entries(table_metadata(path), path)
    }
    assert contents == {0, 1, 2}
    purged, rows = purge_iceberg_native(spark, path)
    assert purged >= 1 and rows == len(expect) - len(batch)
    assert _read() == expect
    assert all(
        (e["data_file"].get("content", 0) or 0) == 0
        for e in _manifest_entries(table_metadata(path), path)
    )


def test_scan_file_keys_refuses_unlisted_file(spark, tmp_path):
    """A data or delete file the scan does not list has no key; the
    read must raise rather than let its rows miss every match."""
    from glaredb_spark.sources.files import scan_file_keys

    a = str(tmp_path / "a b" / "a.parquet")
    _write_parquet(a, _data(0, 3))
    df = spark.read.schema("id long, val string").parquet(a)
    key = scan_file_keys(df, [a], IcebergError)[a]
    assert key == df.select("_metadata.file_path").first()[0]
    with pytest.raises(IcebergError, match="lists no such file"):
        scan_file_keys(df, [str(tmp_path / "other.parquet")], IcebergError)


def _initial_plan(df) -> str:
    # the AQE root before any stage runs: its tree is the initial plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_delete_side_broadcasts_in_initial_plan(spark, tmp_path):
    """Manifest record counts size the equality-delete side: a small one
    is broadcast in the INITIAL plan, so the data rows stream through a
    broadcast hash anti-join and are never shuffled."""
    path = str(tmp_path / "small")
    expect = _upserted_table(spark, path)
    out = read_iceberg_native(spark, path)
    plan = _initial_plan(out)
    assert "isFinalPlan=false" in plan, plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert {r["k"]: r["v"] for r in out.collect()} == expect


def test_broadcast_disabled_keeps_shuffle_join(spark, tmp_path):
    """With ``spark.sql.autoBroadcastJoinThreshold=-1`` the delete side
    is never broadcast statically: the shuffle anti-join stays."""
    path = str(tmp_path / "nobcast")
    expect = _upserted_table(spark, path)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = read_iceberg_native(spark, path)
        plan = _initial_plan(out)
        assert re.search(r"SortMergeJoin .*LeftAnti", plan), plan
        assert {r["k"]: r["v"] for r in out.collect()} == expect
    finally:
        spark.conf.set(key, old)


def test_building_mor_read_starts_no_job(spark, tmp_path):
    """An all-primitive table scans with its declared schema, so
    building the MoR read (position and equality deletes) reads no
    parquet footer and starts no Spark job; running it does."""
    from glaredb_spark.sources.iceberg_native import delete_iceberg_native

    path = str(tmp_path / "nojob")
    expect = _upserted_table(spark, path, batches=1)
    # position deletes need a table without equality deletes: a second
    # table keeps both kinds in play across the two reads
    path2 = str(tmp_path / "nojob_pos")
    from glaredb_spark.sources.iceberg_native import write_iceberg_native

    write_iceberg_native(
        spark.createDataFrame([(k, "x") for k in range(10)],
                              "k long, v string"),
        path2, format_version=2,
    )
    delete_iceberg_native(spark, path2, "k < 3", strategy="mor")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("mor_build", "build the MoR reads")
    try:
        eq_read = read_iceberg_native(spark, path)
        pos_read = read_iceberg_native(spark, path2)
        assert list(tracker.getJobIdsForGroup("mor_build")) == []
        assert {r["k"]: r["v"] for r in eq_read.collect()} == expect
        assert sorted(r["k"] for r in pos_read.collect()) == list(
            range(3, 10))
        assert list(tracker.getJobIdsForGroup("mor_build"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
