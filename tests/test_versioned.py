"""Versioned parquet store: snapshot isolation, time travel, append
reuse, vacuum retention, and crash-orphan collection."""

from __future__ import annotations

import os

import pytest

from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
    commit_version,
    list_versions,
    read_version,
    vacuum,
)


def _df(spark, pairs):
    return spark.createDataFrame(
        [(int(k), str(v)) for k, v in pairs], "k long, v string")


def _rows(df):
    return {(r["k"], r["v"]) for r in df.collect()}


def test_commit_read_time_travel(spark, tmp_path):
    store = str(tmp_path / "store")
    st = commit_version(_df(spark, [(1, "a"), (2, "b")]), store)
    assert st == {"version": 0, "dirs": ["data/v000000"],
                  "mode": "overwrite"}
    commit_version(_df(spark, [(1, "a2"), (3, "c")]), store)
    assert list_versions(spark, store) == [0, 1]
    # latest is v1; v0 still reads bit-stable
    assert _rows(read_version(spark, store)) == {(1, "a2"), (3, "c")}
    assert _rows(read_version(spark, store, 0)) == {(1, "a"), (2, "b")}


def test_append_reuses_prior_directories(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_version(_df(spark, [(1, "a")]), store)
    st = commit_version(_df(spark, [(2, "b")]), store, mode="append")
    # the append manifest references the v0 dir + one new dir
    assert st["dirs"] == ["data/v000000", "data/v000001"]
    assert _rows(read_version(spark, store)) == {(1, "a"), (2, "b")}
    assert _rows(read_version(spark, store, 0)) == {(1, "a")}


def test_vacuum_retention_and_orphans(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_version(_df(spark, [(1, "a")]), store)           # v0
    commit_version(_df(spark, [(2, "b")]), store)           # v1 (new full)
    commit_version(_df(spark, [(3, "c")]), store, "append")  # v2 = v1+new
    # crashed commit: data dir written, manifest never landed
    _df(spark, [(9, "zz")]).write.parquet(
        os.path.join(store, "data", "v000099"))
    st = vacuum(spark, store, keep_last=2)
    assert st["kept_versions"] == [1, 2]
    # v0's dir and the orphan die; v1's dir survives (v2 references it)
    assert st["deleted_dirs"] == ["data/v000000", "data/v000099"]
    assert list_versions(spark, store) == [1, 2]
    assert _rows(read_version(spark, store, 2)) == {(2, "b"), (3, "c")}
    with pytest.raises(FileNotFoundError, match="no version 0"):
        read_version(spark, store, 0)


def test_next_commit_after_vacuum_continues_numbering(spark, tmp_path):
    store = str(tmp_path / "store")
    commit_version(_df(spark, [(1, "a")]), store)
    commit_version(_df(spark, [(2, "b")]), store)
    vacuum(spark, store, keep_last=1)
    st = commit_version(_df(spark, [(3, "c")]), store)
    assert st["version"] == 2
    assert _rows(read_version(spark, store)) == {(3, "c")}


def test_guards(spark, tmp_path):
    store = str(tmp_path / "store")
    with pytest.raises(FileNotFoundError, match="no commits"):
        read_version(spark, store)
    with pytest.raises(ValueError, match="mode"):
        commit_version(_df(spark, [(1, "a")]), store, mode="merge")
    commit_version(_df(spark, [(1, "a")]), store)
    with pytest.raises(ValueError, match="keep_last"):
        vacuum(spark, store, keep_last=0)


def test_snapshot_survives_source_mutation(spark, tmp_path):
    """The committed snapshot is decoupled from its source DataFrame's
    storage: rewriting the source parquet does not change any version."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    _df(spark, [(1, "a")]).write.parquet(src)
    commit_version(spark.read.parquet(src), store)
    _df(spark, [(8, "x")]).write.mode("overwrite").parquet(src)
    assert _rows(read_version(spark, store, 0)) == {(1, "a")}


def test_snapshot_diff_between_versions(spark, tmp_path):
    """corpus_diff over two committed snapshots: the promotion-gate
    composition (versioned store x incremental audit)."""
    from public_transit_data_platform_sql_nosql_spark.jobs.versioned import (
        snapshot_diff,
    )

    store = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(0, "alpha"), (1, "bravo"), (2, "charlie")],
        "doc_id long, text string")
    commit_version(docs, store)
    docs2 = spark.createDataFrame(
        [(0, "alpha"), (1, "bravo EDITED"), (3, "delta")],
        "doc_id long, text string")
    commit_version(docs2, store)
    got = {r["doc_id"]: r["status"]
           for r in snapshot_diff(spark, store, 0, 1).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed", 3: "added"}
    summ = {r["status"]: r["n_docs"]
            for r in snapshot_diff(spark, store, 0, summary=True).collect()}
    assert summ == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_commit_version_reclaims_orphan_dir(spark, tmp_path):
    """A crash between the data write and the manifest rename leaves an
    orphan data/v<N> dir; the next commit at that version reclaims it
    instead of wedging on the mode('error') write."""
    store = str(tmp_path / "store")
    commit_version(spark.range(3).toDF("n"), store)
    # orphan from a crashed second commit (manifest never landed)
    spark.range(100, 103).toDF("n").write.parquet(
        f"{store}/data/v000001")
    assert list_versions(spark, store) == [0]

    commit_version(spark.range(10, 13).toDF("n"), store, mode="append")
    assert list_versions(spark, store) == [0, 1]
    got = sorted(r["n"] for r in read_version(spark, store).collect())
    assert got == [0, 1, 2, 10, 11, 12]    # orphan rows are GONE


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).
pytestmark = pytest.mark.slow
