"""Batch/streaming sinks: partitioned parquet layout + compaction.

The reference's only sink is a Go channel (lib/send.go — covered by
streaming.ChannelSink). A real engine also owns its storage layout;
these helpers encode the two rules that matter at 100 TB:

- partition by the pruning key (almost always event date): queries
  with a date predicate read only their partitions (PartitionFilters
  in the scan, verified in tests);
- keep file counts sane: streaming and fine-grained partitioning
  produce small files; compaction rewrites a partition to target-size
  files in one distributed pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: str | list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write with directory partitioning. With dynamic partition
    overwrite, re-running a day's pipeline replaces only that day's
    directories — the idempotent-backfill contract. The mode is a
    writer option (it takes precedence over the session conf), so the
    session's own ``partitionOverwriteMode`` is left as it was."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .format(fmt)
        .save(path)
    )


def add_date_partition(df: DataFrame, ts_col: str = "ts", name: str = "dt") -> DataFrame:
    """Derive the standard date partition column from an event-time
    timestamp (kept as DATE so pruning predicates stay sargable)."""
    return df.withColumn(name, F.to_date(F.col(ts_col)))


def partition_columns(df: DataFrame) -> list[str]:
    """Partition columns as encoded in the dataset's actual directory
    layout (``.../col=value/...`` segments of its input files), in
    nesting order. Empty for an unpartitioned dataset. Works on any
    filesystem the scan does — no driver-side listing."""
    import re

    files = df.inputFiles()
    if not files:
        return []
    cols: list[str] = []
    for seg in files[0].split("/")[:-1]:
        m = re.fullmatch(r"([^=/]+)=[^/]*", seg)
        if m:
            cols.append(m.group(1))
    return cols


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
    fmt: str = "parquet",
    where: str | None = None,
) -> None:
    """Rewrite (a slice of) a dataset into ``target_files`` files per
    partition directory: one distributed read + repartition + dynamic
    overwrite. Run on cold partitions; readers see the swap atomically
    per partition directory.

    Safety contract: partition columns are derived from the dataset's
    real directory layout (not assumed). A ``where`` slice is accepted
    only when the dataset is partitioned AND the predicate references
    partition columns alone — then dynamic partition overwrite rewrites
    exactly the selected whole partitions. Anything else (unpartitioned
    data, or a predicate touching data columns) would silently replace
    the dataset with the filtered slice, so it raises instead."""
    import re

    df = spark.read.format(fmt).load(path)
    pcols = partition_columns(df)
    if where:
        if not pcols:
            raise ValueError(
                "compact(where=...) on an unpartitioned dataset would overwrite "
                "the whole dataset with the filtered slice; compact it in full "
                "or partition it first"
            )
        data_cols = {f.name for f in df.schema.fields} - set(pcols)
        referenced = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", where))
        bad = sorted(referenced & data_cols)
        if bad:
            raise ValueError(
                f"compact(where=...) predicate references non-partition "
                f"column(s) {bad}; only whole-partition slices "
                f"(predicates on {pcols}) can be rewritten losslessly"
            )
        df = df.where(where)
    out = df.repartition(target_files)
    w = out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").format(fmt)
    if pcols:
        w = w.partitionBy(*pcols)
    w.save(path)


def _zvalue(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative int
    columns into a Z-order (Morton) value — pure JVM bit arithmetic,
    no UDF. Columns must be pre-scaled to [0, 2^bits)."""
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        # Column & / | are LOGICAL and/or in PySpark — bitwise ops
        # must go through bitwiseAND/bitwiseOR
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(one)
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(one)
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_files: int = 8,
    bits: int = 6,
    mode: str = "overwrite",
) -> None:
    """Write parquet laid out along a Z-order (Morton) curve of two
    numeric columns, so per-file min/max footer statistics are tight
    on BOTH columns and a predicate on EITHER prunes most files —
    the multi-column answer to single-key range layout (the effect of
    Delta/Iceberg OPTIMIZE ZORDER, from first principles on plain
    parquet).

    Scale shape: per-column equi-depth bucket boundaries come from
    ``approxQuantile`` (the distributed Greenwald-Khanna sketch; only
    2^bits+1 doubles reach the driver — deliberately NOT a global
    window rank, which would single-partition the write). Bucket
    assignment is a literal comparison chain (codegen-friendly at the
    default 64 buckets → 4096 z-cells), bit interleave is JVM
    arithmetic, and the only shuffle is the repartitionByRange on the
    z-value that any sorted layout needs. Pruning granularity is the
    z-cell; raise ``bits`` with file count."""
    a, b = cols

    def _bucket(col_name: str):
        qs = [i / (1 << bits) for i in range(1, 1 << bits)]
        bounds = df.stat.approxQuantile(col_name, qs, 0.001)
        expr = F.lit(0)
        for bd in bounds:
            expr = expr + (F.col(col_name) > F.lit(bd)).cast("int")
        return expr.cast("long")

    with_z = df.withColumn("_z", _zvalue(_bucket(a), _bucket(b), bits))
    (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
