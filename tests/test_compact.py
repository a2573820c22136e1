"""Small-file compaction: an appended-to parquet sink collapses to the
target file count with identical rows, survives repeat (idempotent
no-op), and composes with the streaming incremental sink."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from public_transit_data_platform_sql_nosql_spark.jobs.compact import (
    compact_parquet_dir,
    parquet_dir_stats,
)
from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (
    INDEX_KINDS,
    _index_manifest,
    compact_index,
    index_topk,
    index_upsert,
    ivf_sq8_index_topk,
    ivf_sq8_index_upsert,
    read_index_codes,
    write_index,
    write_ivf_sq8_index,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return E._emb(spark, SF_DIR)


def _qvec(emb, vid):
    return [float(x)
            for x in emb.filter(f"vec_id = {vid}").head()["embedding"]]


def _fragmented_sink(spark, path: str, appends: int = 3,
                     files_per_append: int = 16) -> int:
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k"))
    for _ in range(appends):
        df.repartition(files_per_append).write.mode("append").parquet(path)
    return 2000 * appends


def test_compact_collapses_files_and_keeps_rows(spark, tmp_path):
    sink = str(tmp_path / "sink")
    n_rows = _fragmented_sink(spark, sink)
    files_before, total_bytes = parquet_dir_stats(spark, sink)
    assert files_before == 48
    checksum = spark.read.parquet(sink).agg(
        F.sum("id"), F.count(F.lit(1))).collect()[0]

    stats = compact_parquet_dir(spark, sink, target_file_bytes=total_bytes)
    assert stats["compacted"] is True
    assert stats["files_before"] == 48
    assert stats["files_after"] == 1

    after = spark.read.parquet(sink)
    assert after.count() == n_rows
    assert after.agg(F.sum("id"), F.count(F.lit(1))).collect()[0] == checksum

    # second pass is a no-op: already at (or under) the target count
    again = compact_parquet_dir(spark, sink, target_file_bytes=total_bytes)
    assert again["compacted"] is False
    assert again["files_after"] == 1


def test_compact_respects_target_size(spark, tmp_path):
    import math

    sink = str(tmp_path / "sink")
    _fragmented_sink(spark, sink)
    _, total_bytes = parquet_dir_stats(spark, sink)
    target = max(1, total_bytes // 4)
    stats = compact_parquet_dir(spark, sink, target_file_bytes=target)
    assert stats["compacted"] is True
    assert stats["files_after"] == math.ceil(total_bytes / target)


def test_compact_streaming_sink(spark, tmp_path):
    """The motivating composition: the streaming incremental sink's
    per-batch files compact without losing a row."""
    from public_transit_data_platform_sql_nosql_spark.streaming.jobs import (
        incremental_refresh,
        read_events_stream,
    )
    from tests.conftest import SF_DIR

    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    q = incremental_refresh(
        read_events_stream(spark, SF_DIR),
        lambda df: df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")),
        sink, chk,
    )
    q.awaitTermination()
    before = spark.read.parquet(sink).agg(F.sum("n")).collect()[0][0]
    compact_parquet_dir(spark, sink, target_file_bytes=1 << 30, min_files=1)
    files_after, _ = parquet_dir_stats(spark, sink)
    assert files_after == 1
    assert spark.read.parquet(sink).agg(F.sum("n")).collect()[0][0] == before


def test_compact_preserves_partitioned_layout(spark, tmp_path):
    """Compacting the bucketed doc store must keep the stop_bucket=NN/
    directory layout (and therefore point_read's partition pruning),
    not flatten it into plain files."""
    from public_transit_data_platform_sql_nosql_spark.jobs.compact import (
        partition_columns,
    )
    from public_transit_data_platform_sql_nosql_spark.plans.inspect import (
        executed_plan,
    )

    sink = str(tmp_path / "store")
    df = spark.range(500).select(
        F.col("id").cast("string").alias("stop_id"),
        (F.col("id") % 13).cast("int").alias("stop_bucket"),
        (F.col("id") * 7).alias("payload"))
    # fragment: several appends, many files per bucket
    for _ in range(3):
        df.repartition(8).write.mode("append") \
            .partitionBy("stop_bucket").parquet(sink)
    assert partition_columns(spark, sink) == ["stop_bucket"]
    before = spark.read.parquet(sink).count()

    stats = compact_parquet_dir(spark, sink, target_file_bytes=1 << 30,
                                min_files=1)
    assert stats["compacted"] is True
    assert partition_columns(spark, sink) == ["stop_bucket"]
    assert stats["files_after"] == 13  # one per bucket directory

    store = spark.read.parquet(sink)
    assert store.count() == before
    plan = executed_plan(store.filter(F.col("stop_bucket") == 3))
    assert "PartitionFilters" in plan and "stop_bucket" in plan

    # idempotence holds for the partitioned layout too: already at one
    # file per directory -> no rewrite
    again = compact_parquet_dir(spark, sink, target_file_bytes=1 << 30,
                                min_files=1)
    assert again["compacted"] is False
    assert again["files_after"] == 13


def test_compact_splits_hot_partitions(spark, tmp_path):
    """A partition directory holding more than target_file_bytes gets
    salt-split into several files instead of one giant file."""
    sink = str(tmp_path / "store")
    df = spark.range(20_000).select(
        F.col("id"),
        F.when(F.col("id") % 100 == 0, F.lit(1)).otherwise(F.lit(0))
        .cast("int").alias("part"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"))
    for _ in range(2):
        df.repartition(16).write.mode("append") \
            .partitionBy("part").parquet(sink)
    _, total = parquet_dir_stats(spark, sink)
    # target sized so each of the 2 dirs' share needs ~4 files
    stats = compact_parquet_dir(spark, sink,
                                target_file_bytes=max(1, total // 8),
                                min_files=1)
    assert stats["compacted"] is True
    per_dir: dict[str, int] = {}
    import os

    for root, _dirs, files in os.walk(sink):
        n = sum(1 for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_")))
        if n:
            per_dir[os.path.basename(root)] = n
    # the hot partition (part=0 holds ~99% of rows) got multiple files
    assert per_dir["part=0"] > 1, per_dir
    assert spark.read.parquet(sink).count() == 40_000


def test_compact_recovers_stranded_old_dir(spark, tmp_path):
    """ADVICE r4: a crash between the two swap renames leaves the sink
    path missing and the data stranded in ._compact_old.  The next run
    must restore it before proceeding instead of throwing from
    listFiles — and then compact normally."""
    import os
    import shutil

    sink = str(tmp_path / "store")
    _fragmented_sink(spark, sink, appends=3)
    want = spark.read.parquet(sink).count()
    # simulate the mid-swap crash: first rename done, second never ran
    shutil.move(sink, sink + "._compact_old")
    assert not os.path.exists(sink)
    stats = compact_parquet_dir(spark, sink, target_file_bytes=1 << 30,
                                min_files=1)
    assert stats["compacted"] is True
    assert not os.path.exists(sink + "._compact_old")
    assert spark.read.parquet(sink).count() == want


def test_compact_preserves_stringy_partition_values(spark, tmp_path):
    """ADVICE r4: partition values that LOOK numeric (part=00) must not
    be re-inferred and rewritten with mutated directory names — the
    rewrite read disables partitionColumnTypeInference."""
    import os

    sink = str(tmp_path / "store")
    df = spark.range(500).select(
        F.col("id"),
        F.format_string("%02d", (F.col("id") % 3).cast("int")).alias("part"))
    for _ in range(3):
        df.repartition(4).write.mode("append") \
            .partitionBy("part").parquet(sink)
    before = {d for d in os.listdir(sink) if d.startswith("part=")}
    assert before == {"part=00", "part=01", "part=02"}
    stats = compact_parquet_dir(spark, sink, target_file_bytes=1 << 30,
                                min_files=1)
    assert stats["compacted"] is True
    after = {d for d in os.listdir(sink) if d.startswith("part=")}
    assert after == before, after
    # conf restored for the rest of the session
    assert spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled") == "true"
    assert spark.read.parquet(sink).count() == 1500


def test_compact_index_folds_appended_dirs(spark, emb, tmp_path,
                                           capsys):
    """Append-fragmented indexes fold back to ONE codes dir with
    identical content; ivf_sq8 keeps its cluster partitioning (and the
    serving plan keeps pruning); vacuum then collects the old dirs."""
    from pyspark.sql import functions as F

    from public_transit_data_platform_sql_nosql_spark.__main__ import (
        main,
    )
    from public_transit_data_platform_sql_nosql_spark.pipeline.similarity import (  # noqa: E501
        compact_index,
    )
    from public_transit_data_platform_sql_nosql_spark.plans import (
        executed_plan,
    )

    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / "ivfsq8")
    write_ivf_sq8_index(base, path)
    for lo in (0, 3):   # two appended batches -> three dirs
        batch = emb.filter(f"vec_id >= {lo + 10} AND vec_id < {lo + 13}") \
            .select((F.col("vec_id") + 50_000 + lo * 1000).alias("vec_id"),
                    "embedding")
        assert ivf_sq8_index_upsert(spark, path, batch)["decision"] \
            == "appended"
    m0 = _index_manifest(spark, path)
    assert len(m0["codes"]) == 3
    before = sorted(map(tuple, read_index_codes(spark, path)
                        .select("vec_id", "cluster_id", "codes")
                        .collect()))

    st = compact_index(spark, path)
    assert st == {"decision": "compacted", "dirs_before": 3,
                  "version": st["version"]}
    m1 = _index_manifest(spark, path)
    assert m1["kind"] == "ivf_sq8" and len(m1["codes"]) == 1
    assert m1["centroids"] == m0["centroids"]
    after = sorted(map(tuple, read_index_codes(spark, path)
                       .select("vec_id", "cluster_id", "codes")
                       .collect()))
    assert after == before
    qvec = _qvec(emb, 10)
    plan = executed_plan(
        ivf_sq8_index_topk(spark, path, qvec, emb, k=3, nprobe=1))
    assert "PartitionFilters" in plan

    # idempotent: a single-dir manifest is a noop
    assert compact_index(spark, path)["decision"] == "noop"

    # CLI wiring + vacuum collects the superseded dirs
    assert main(["vector-index", "compact", "--path", path]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["decision"] == "noop"
    assert main(["vector-index", "vacuum", "--path", path,
                 "--keep-last", "1"]) == 0
    vac = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vac["removed_dirs"]            # the folded-away append dirs
    assert sorted(map(tuple, read_index_codes(spark, path)
                      .select("vec_id", "cluster_id", "codes")
                      .collect())) == before


@pytest.mark.parametrize(
    "kind", sorted(k for k, s in INDEX_KINDS.items() if not s.ivf))
def test_compact_flat_kind(spark, emb, tmp_path, kind):
    """compact_index's flat branch: an append-fragmented flat index
    folds to ONE dir with identical codes, keeps its trained
    artifacts, stays servable, and a single-dir manifest is a noop."""
    base = emb.filter("vec_id >= 10").select("vec_id", "embedding")
    path = str(tmp_path / kind)
    write_index(base, path, kind)
    for i in range(2):
        batch = emb.filter(f"vec_id >= {10 + 3 * i} "
                           f"AND vec_id < {13 + 3 * i}").select(
            (F.col("vec_id") + 50_000 + i * 1000).alias("vec_id"),
            "embedding")
        assert index_upsert(spark, path, batch)["decision"] == "appended"
    m0 = _index_manifest(spark, path)
    assert m0["kind"] == kind and len(m0["codes"]) == 3
    before = sorted(map(tuple, read_index_codes(spark, path).collect()))

    st = compact_index(spark, path)
    assert st["decision"] == "compacted" and st["dirs_before"] == 3
    m1 = _index_manifest(spark, path)
    assert m1["kind"] == kind and len(m1["codes"]) == 1
    for art in INDEX_KINDS[kind].codec.artifacts:
        assert m1[art] == m0[art]
    after = sorted(map(tuple, read_index_codes(spark, path).collect()))
    assert after == before
    assert compact_index(spark, path)["decision"] == "noop"
    top = sorted(index_topk(spark, path, _qvec(emb, 10), base,
                            k=3).collect(), key=lambda r: r["rank"])
    assert len(top) == 3 and top[0]["cos_sim"] == 1.0


# SLOW TIER (pytest.ini): stored-index/tune/streaming/CLI e2e --
# excluded from the driver's default gate; run with -m slow after
# touching this family (see the verify skill).

pytestmark = pytest.mark.slow
