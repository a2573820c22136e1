"""Incremental MERGE (upsert) into parquet sinks.

The reference's only write path is a destructive full reload
(`/root/reference/Mongo/denormalization.py` drops and rebuilds the doc
store; SURVEY.md S10).  A daily GTFS feed update touches a tiny fraction
of rows — at 100 TB a full rewrite per feed drop is absurd, so this
module adds the incremental twin: copy-on-write MERGE with the rewrite
scope bounded by the data actually touched.

``upsert_parquet_dir(spark, path, updates, key_cols)``:

  new keys are appended, matching keys are replaced, everything else is
  rewritten only when its storage partition is touched:

- **flat layout**: survivors = store LEFT ANTI updates on key;
  write survivors ∪ updates to tmp; two-rename swap (same
  crash-recovery contract as jobs/compact.py — see that module's
  docstring for the atomic-rename scoping).
- **hive-partitioned layout** (``partition_col=``): only the partition
  directories present in ``updates`` are read (partition pruning does
  the bounding — the anti-join never sees untouched partitions), and
  only those directories are swapped.  An upsert touching 3 of 10 000
  partitions reads and rewrites 3.  The partition column must be stable
  per key: a key whose partition value changes leaves its old copy in
  the untouched partition.

Updates must be key-unique (the merge would otherwise be ambiguous);
violations raise before anything is written.  Concurrent writers must be
paused during the swap, same as compaction.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compact import _fs

_OLD_SUFFIX = "._upsert_old"
_TMP_SUFFIX = "._upsert_tmp"


_SAFE_PART = re.compile(r"^[A-Za-z0-9._-]+$")


def _touched_values(df: DataFrame, partition_col: str) -> list:
    """Distinct partition values of ``df``, validated for naive
    ``{col}={value}`` directory formatting.  NULL and hive-escaped
    values (``=``, ``/``, ``%``, spaces ...) would make the formatted
    name diverge from what Spark actually writes
    (``__HIVE_DEFAULT_PARTITION__``, percent-escapes) and silently
    strand or lose rows in the swap loop — raise eagerly instead."""
    vals = [r[0] for r in df.select(partition_col).distinct().collect()]
    bad = [v for v in vals
           if v is None or not _SAFE_PART.match(str(v))]
    if bad:
        raise ValueError(
            f"partition-scoped rewrite: unsupported {partition_col} "
            f"value(s) {bad[:5]!r} — null or hive-escaped values do not "
            f"round-trip the col=value directory naming; clean the "
            f"partition column or use the flat (partition_col=None) path")
    # the swap suffixes are RESERVED: a live partition named
    # 'p=x._upsert_old' would be indistinguishable from a stranded swap
    # of 'p=x' and deleted by the recovery sweep — silent data loss —
    # so no managed sink may ever contain such a value
    reserved = [v for v in vals
                if str(v).endswith((_OLD_SUFFIX, _TMP_SUFFIX))]
    if reserved:
        raise ValueError(
            f"partition-scoped rewrite: {partition_col} value(s) "
            f"{reserved[:5]!r} end with a reserved swap suffix "
            f"({_OLD_SUFFIX!r}/{_TMP_SUFFIX!r}); such directories would "
            f"collide with crash-recovery markers")
    return sorted(vals, key=str)


def _has_data(fs, hpath) -> bool:
    """True when the sink directory holds any data entry (a partition
    dir or a parquet file).  A sink whose rows were ALL deleted is a
    legitimately EMPTY directory (only markers like _SUCCESS remain) —
    reading it as parquet raises UNABLE_TO_INFER_SCHEMA, so the
    partition-scoped paths must treat it like a missing sink instead."""
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def _check_key_unique(updates: DataFrame, key_cols: list[str]) -> None:
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"upsert: updates are not unique on {key_cols}: "
            f"{tuple(dup[0][c] for c in key_cols)} appears {dup[0]['n']}x")


def _recover(fs, jvm, path: str) -> bool:
    """Restore ``path`` from a stranded ``._upsert_old`` left by a crash
    between the two swap renames.  Returns True if a recovery happened."""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    old = jvm.org.apache.hadoop.fs.Path(path + _OLD_SUFFIX)
    if not fs.exists(hpath) and fs.exists(old):
        if not fs.rename(old, hpath):
            raise IOError(f"upsert: recovery rename {old} -> {path} failed")
        return True
    return False


def _recover_all_strands(fs, jvm, path: str) -> None:
    """Recover EVERY stranded ``._upsert_old`` partition swap under
    ``path``, not just the touched ones: a strand in an UNTOUCHED
    partition still participates in ``spark.read.parquet`` partition
    discovery — widening the partition column to string and leaving the
    renamed-out rows invisible — so every partition-scoped read sweeps
    the whole sink first.  (A live partition cannot legitimately carry
    the suffix: ``_touched_values`` rejects reserved-suffix values, so
    a suffixed directory here is always a crash artifact.)"""
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(hpath):
        return
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.endswith(_OLD_SUFFIX):
            live = f"{path}/{name[:-len(_OLD_SUFFIX)]}"
            if not _recover(fs, jvm, live):
                # swap completed, cleanup didn't: finish it — the stale
                # dir would otherwise be read by partition discovery
                fs.delete(st.getPath(), True)


def _swap(fs, jvm, target: str, tmp: str) -> None:
    """Two-rename swap of ``target`` with ``tmp`` (``target`` may not
    exist yet — then this is a plain move)."""
    htarget = jvm.org.apache.hadoop.fs.Path(target)
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    old = jvm.org.apache.hadoop.fs.Path(target + _OLD_SUFFIX)
    if fs.exists(old):
        fs.delete(old, True)
    had_target = fs.exists(htarget)
    if had_target and not fs.rename(htarget, old):
        raise IOError(f"upsert: rename {target} -> {old} failed")
    if not fs.rename(htmp, htarget):
        if had_target:
            fs.rename(old, htarget)  # roll back; sink never disappears
        raise IOError(f"upsert: rename {tmp} -> {target} failed (rolled back)")
    if had_target:
        fs.delete(old, True)


def upsert_parquet_dir(spark: SparkSession, path: str, updates: DataFrame,
                       key_cols: list[str],
                       partition_col: str | None = None) -> dict:
    """MERGE ``updates`` into the parquet directory ``path`` on
    ``key_cols``: matching keys replaced, new keys appended, all other
    rows untouched.  Returns a stats dict.

    With ``partition_col`` (a column of ``updates`` that is also the
    sink's hive partition column), the read AND the rewrite are scoped
    to the partition values present in ``updates`` — the scale path.
    The column must functionally determine the row's partition (a key
    whose partition value CHANGES between versions would leave the old
    copy stranded in the untouched partition; merge on a stable
    partition column such as ingest date or bucket).
    """
    _check_key_unique(updates, key_cols)
    fs, hpath, jvm = _fs(spark, path)

    if partition_col is None:
        _recover(fs, jvm, path)
        if not fs.exists(hpath) or not _has_data(fs, hpath):
            updates.write.mode("overwrite").parquet(path)
            n = updates.count()
            return {"created": True, "rows_upserted": n, "partitions": None}
        store = spark.read.parquet(path)
        survivors = store.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = survivors.unionByName(updates)
        tmp = path + _TMP_SUFFIX
        htmp = jvm.org.apache.hadoop.fs.Path(tmp)
        if fs.exists(htmp):
            fs.delete(htmp, True)
        merged.write.mode("overwrite").parquet(tmp)
        _swap(fs, jvm, path, tmp)
        return {"created": False, "rows_upserted": updates.count(),
                "partitions": None}

    # --- partition-scoped path ---------------------------------------
    # touched partition values: a bounded collect (one row per touched
    # partition, not per updated row)
    touched = _touched_values(updates, partition_col)
    if not touched:
        return {"created": False, "rows_upserted": 0, "partitions": []}

    _recover_all_strands(fs, jvm, path)
    sink_exists = fs.exists(hpath) and _has_data(fs, hpath)

    tmp = path + _TMP_SUFFIX
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(htmp):
        fs.delete(htmp, True)

    if sink_exists:
        # partition-pruned read: the IN-filter on the partition column
        # prunes directories at plan time — untouched partitions are
        # never opened
        store = spark.read.parquet(path).filter(
            F.col(partition_col).isin(*touched))
        survivors = store.join(
            updates.select(*key_cols).distinct(), key_cols, "left_anti")
        merged = survivors.unionByName(
            updates.select(*store.columns))
    else:
        merged = updates
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)

    n_up = updates.count()
    fs.mkdirs(hpath)
    swapped = []
    for v in touched:
        part_dir = f"{partition_col}={v}"
        src = f"{tmp}/{part_dir}"
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(src)):
            continue  # updates had the value but wrote no rows (empty df)
        _swap(fs, jvm, f"{path}/{part_dir}", src)
        swapped.append(v)
    fs.delete(htmp, True)
    return {"created": not sink_exists, "rows_upserted": n_up,
            "partitions": swapped}


def _rewrite_flat(spark, fs, jvm, path: str, survivors: DataFrame) -> None:
    tmp = path + _TMP_SUFFIX
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(htmp):
        fs.delete(htmp, True)
    survivors.write.mode("overwrite").parquet(tmp)
    _swap(fs, jvm, path, tmp)


def delete_keys_parquet_dir(spark: SparkSession, path: str,
                            keys: DataFrame, key_cols: list[str],
                            partition_col: str | None = None) -> dict:
    """DELETE by key list from a parquet directory — the
    right-to-be-forgotten / retention twin of the MERGE above (at 100 TB
    a GDPR erasure request cannot be a full rewrite any more than a feed
    update can).  Copy-on-write with the same two-rename swap and crash
    recovery as upsert; returns ``{"rows_deleted", "partitions"}``.

    With ``partition_col`` (must be a column of ``keys`` and the sink's
    hive partition column — same stable-partition contract as upsert),
    the read AND rewrite are scoped to the partition values present in
    ``keys``.  A partition whose rows are ALL deleted is removed, not
    left stale.  Key rows outside their stated partition are NOT found
    — that is the contract's point (the partition value bounds the
    search), not a limitation.
    """
    fs, hpath, jvm = _fs(spark, path)
    if partition_col is None:
        _recover(fs, jvm, path)
        if not fs.exists(hpath) or not _has_data(fs, hpath):
            return {"rows_deleted": 0, "partitions": None}
        store = spark.read.parquet(path)
        kd = keys.select(*key_cols).distinct()
        n = store.join(kd, key_cols, "left_semi").count()
        if n:
            _rewrite_flat(spark, fs, jvm, path,
                          store.join(kd, key_cols, "left_anti"))
        return {"rows_deleted": n, "partitions": None}

    touched = _touched_values(keys, partition_col)
    _recover_all_strands(fs, jvm, path)
    if (not touched or not fs.exists(hpath)
            or not _has_data(fs, hpath)):
        return {"rows_deleted": 0, "partitions": []}
    store = spark.read.parquet(path).filter(
        F.col(partition_col).isin(*touched))
    # the partition column JOINS too: a key deletes only inside its
    # stated partition (the docstring contract — without this, a key
    # would over-delete its matches in every other touched partition)
    join_cols = (key_cols if partition_col in key_cols
                 else [*key_cols, partition_col])
    kd = keys.select(*join_cols).distinct()
    n = store.join(kd, join_cols, "left_semi").count()
    if not n:
        return {"rows_deleted": 0, "partitions": []}
    survivors = store.join(kd, join_cols, "left_anti")
    return {"rows_deleted": n,
            "partitions": _swap_partitions(
                spark, fs, jvm, path, partition_col, touched, survivors)}


def delete_where_parquet_dir(spark: SparkSession, path: str,
                             condition: str,
                             partition_col: str | None = None) -> dict:
    """DELETE WHERE ``condition`` (a SQL boolean expression over the
    sink's columns) — the retention-sweep shape (``ts < cutoff``).

    Unlike the key variant, the touched-partition set is DISCOVERED from
    the data: one partition-column-only aggregate over the matching rows
    (a predicate on ``partition_col`` itself prunes that scan at plan
    time — a retention sweep on a date-partitioned sink reads only the
    expiring directories).  Only partitions containing matches are
    rewritten; fully-expired partitions are removed.
    """
    fs, hpath, jvm = _fs(spark, path)
    cond = F.expr(condition)
    if partition_col is None:
        _recover(fs, jvm, path)
        if not fs.exists(hpath) or not _has_data(fs, hpath):
            return {"rows_deleted": 0, "partitions": None}
        store = spark.read.parquet(path)
        n = store.filter(cond).count()
        if n:
            # NULL-predicate rows survive: ~cond is NULL for them, and a
            # bare filter would silently drop rows the count never saw
            _rewrite_flat(spark, fs, jvm, path,
                          store.filter(~F.coalesce(cond, F.lit(False))))
        return {"rows_deleted": n, "partitions": None}

    if not fs.exists(hpath):
        return {"rows_deleted": 0, "partitions": []}
    # recover ALL stranded partition swaps BEFORE discovery — a
    # partition left renamed-out by a crash would otherwise be invisible
    # to the matching-rows scan below
    _recover_all_strands(fs, jvm, path)
    if not _has_data(fs, hpath):
        return {"rows_deleted": 0, "partitions": []}
    store_all = spark.read.parquet(path)
    touched = _touched_values(store_all.filter(cond), partition_col)
    if not touched:
        return {"rows_deleted": 0, "partitions": []}
    store = spark.read.parquet(path).filter(
        F.col(partition_col).isin(*touched))
    n = store.filter(cond).count()
    survivors = store.filter(~F.coalesce(cond, F.lit(False)))
    return {"rows_deleted": n,
            "partitions": _swap_partitions(
                spark, fs, jvm, path, partition_col, touched, survivors)}


def _swap_partitions(spark, fs, jvm, path: str, partition_col: str,
                     touched: list, survivors: DataFrame) -> list:
    """Write ``survivors`` partitioned under a tmp dir, then per touched
    partition: swap in the rewritten directory, or REMOVE the live one
    when every row of it was deleted (no survivor dir was written)."""
    tmp = path + _TMP_SUFFIX
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if fs.exists(htmp):
        fs.delete(htmp, True)
    survivors.write.mode("overwrite").partitionBy(partition_col).parquet(tmp)
    swapped = []
    for v in touched:
        part_dir = f"{partition_col}={v}"
        src = jvm.org.apache.hadoop.fs.Path(f"{tmp}/{part_dir}")
        live = jvm.org.apache.hadoop.fs.Path(f"{path}/{part_dir}")
        if fs.exists(src):
            _swap(fs, jvm, f"{path}/{part_dir}", f"{tmp}/{part_dir}")
            swapped.append(v)
        elif fs.exists(live):
            fs.delete(live, True)  # partition fully deleted
            swapped.append(v)
    fs.delete(htmp, True)
    return swapped
