"""Bucketed / partitioned storage layouts for the 100 TB posture.

The reference has no storage engine (SURVEY §2.1: in-memory pandas in,
figures out). At cluster scale the dominant cost of this workload's two
join families — (date, asset) equi-joins and per-asset window shuffles —
is the Exchange. Two layout tools remove it at the source:

- month-partitioned parquet (datasets.write_factor_data_partitioned):
  partition pruning for every date-range query;
- asset-bucketed tables (here): both sides of an (asset, …) join or a
  per-asset window read pre-hashed into the same bucket files, so Spark
  plans the join/window with NO shuffle (verified by plan assertion in
  tests/test_storage.py).

Bucketing requires the session catalog (`saveAsTable`) — bucketed
layout is metadata the path-based reader cannot carry.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from alphalens_spark.session import checkpoint


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet data at ``path``, or None when nothing is there yet —
    the one place a store's "first write" is decided. Existence is asked
    of the path's Hadoop FileSystem, so a missing store costs no failed
    scan, and a store that exists but cannot be read (or does not fit
    its update) fails loudly instead of being mistaken for an empty one."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return spark.read.parquet(path) if fs.exists(p) else None


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table.

    ``n_buckets`` sizes the parallelism of every downstream shuffle-free
    join/window over ``bucket_cols``: pick ≈ cluster cores at the target
    scale (buckets are the unit of task granularity once the Exchange is
    gone). Sorting within buckets additionally lets sort-merge joins skip
    their sort, and per-asset windows read presorted runs.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with its bucket spec intact."""
    return spark.table(table)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "date_month",
    target_file_bytes: int = 128 * 1024 * 1024,
    partitions: Sequence[str] | None = None,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction for a partitioned parquet store.

    Streaming/incremental maintenance (incremental.py, foreachBatch)
    appends one file per micro-batch per partition; after months of
    operation a partition holds thousands of KB-sized files and every
    scan pays per-file open/footer costs. Compaction rewrites each
    affected partition as ceil(bytes / target_file_bytes) files via
    coalesce — a metadata-only repartitioning (no shuffle: coalesce only
    merges read splits) — using dynamic partition overwrite so untouched
    partitions keep their files and concurrent readers never see a
    partial directory.

    Only partitions whose file count exceeds the target are rewritten
    (pass ``partitions`` to restrict further — e.g. the pending tail the
    incremental maintainer just wrote). Returns
    {partition: (files_before, files_after)}.

    File inventory uses the local filesystem (this environment's store);
    on HDFS/S3 swap the listdir for the Hadoop FileSystem API — the
    rewrite plan itself is storage-agnostic.
    """
    import math
    import os

    before: dict[str, tuple[int, int]] = {}
    root = path
    todo = []
    for d in sorted(os.listdir(root)):
        if not d.startswith(f"{partition_col}="):
            continue
        val = d.split("=", 1)[1]
        if partitions is not None and val not in partitions:
            continue
        files = [
            f for f in os.listdir(os.path.join(root, d))
            if f.endswith(".parquet")
        ]
        nbytes = sum(
            os.path.getsize(os.path.join(root, d, f)) for f in files
        )
        n_target = max(1, math.ceil(nbytes / target_file_bytes))
        if len(files) > n_target:
            todo.append((val, len(files), n_target))

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for val, n_before, n_target in todo:
            # checkpoint materializes the partition OFF the source
            # path before the overwrite — Spark (correctly) refuses to
            # overwrite a path an active plan still reads from
            part = (
                spark.read.parquet(path)
                .where(f"{partition_col} = '{val}'")
                .coalesce(n_target)
                .transform(checkpoint)
            )
            (
                part.write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(path)
            )
            before[val] = (n_before, n_target)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    return before


def zorder_values(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> DataFrame:
    """Attach a Z-order (Morton) key over ``cols`` — the multi-column
    locality layout (Delta OPTIMIZE ZORDER BY lineage, Morton 1966) that
    bucketed/partitioned layouts can't give: sorting by z-value makes
    every file cover a tight hyper-rectangle of the key space, so
    parquet min/max stats skip files for range predicates on ANY of the
    interleaved columns, not just the leading sort key.

    Scale shape: one O(1) min/max aggregate (broadcast back), then a pure
    per-row projection. The per-column scaling uses exact integer
    arithmetic — ``(v - min) * (2^bits - 1) DIV (max - min)`` — and the
    bit interleave is a statically unrolled sum of shift/mask terms
    (bits × |cols| codegen'd integer ops, no HOF, no UDF), so the key is
    bit-identical on any engine. Constant columns scale to 0.

    Linear scaling assumes roughly uniform key distributions (true of
    surrogate ids); heavily skewed columns would want a rank/quantile
    scale at the cost of one extra shuffle.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("need at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*len(cols) = {bits * len(cols)} exceeds a signed long")
    scale_max = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"_min_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"_max_{c}"))
    j = df.crossJoin(F.broadcast(df.agg(*aggs)))
    scaled = {
        c: F.coalesce(
            F.expr(
                f"CAST((({c} - _min_{c}) * {scale_max})"
                f" DIV nullif(_max_{c} - _min_{c}, 0) AS BIGINT)"
            ),
            F.lit(0).cast("long"),
        )
        for c in cols
    }
    z = F.lit(0).cast("long")
    for i in range(bits):
        for ci, c in enumerate(cols):
            z = z + F.shiftleft(
                F.shiftright(scaled[c], i).bitwiseAND(F.lit(1)),
                i * len(cols) + ci,
            ).cast("long")
    return j.select(*df.columns, z.alias("zvalue"))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 12,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` Z-ordered on ``cols``: range-partition by z-value
    (sampling exchange — balanced output files regardless of key skew),
    sort within partitions, drop the key. Each output file then holds a
    contiguous z-range = a small hyper-rectangle in (cols) space, so
    range scans on any of the z-columns skip most files on footer stats
    alone. The z-key is layout-only; the stored schema is unchanged."""
    z = zorder_values(df, cols, bits)
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        z.repartitionByRange(n, "zvalue")
        .sortWithinPartitions("zvalue")
        .drop("zvalue")
        .write.mode(mode)
        .parquet(path)
    )


def collect_file_stats(
    path: str,
    cols: Sequence[str],
) -> list[dict]:
    """Per-file min/max column statistics from parquet footers — the
    data-skipping manifest a lakehouse table format (Delta/Iceberg)
    maintains transactionally, rebuilt here for a plain parquet
    directory. Footer reads are metadata-only (no row groups touch
    disk); cost is O(files), so pair with compact_partitions to keep the
    file count sane. Stats aggregate over every row group in the file.
    """
    import os

    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    out = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        entry: dict = {"file": fp, "n_rows": md.num_rows}
        for c in cols:
            if c not in idx:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if mins:
                entry[f"min_{c}"] = min(mins)
                entry[f"max_{c}"] = max(maxs)
        out.append(entry)
    return out


def read_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    stats: list[dict] | None = None,
) -> DataFrame:
    """Range-scan a parquet directory reading ONLY the files whose
    footer [min, max] interval intersects [lo, hi] — file-level data
    skipping on top of :func:`collect_file_stats`. With a Z-ordered or
    range-partitioned layout (write_zordered) each file covers a narrow
    value range, so a selective predicate prunes nearly all of them
    BEFORE Spark plans the scan (the pruned files never even enter the
    file index — stronger than row-group skipping, which still lists
    and opens every footer on every query).

    The predicate is re-applied after the read: skipping is an
    optimization, never a correctness dependency.
    """
    stats = stats if stats is not None else collect_file_stats(path, [col])
    mn, mx = f"min_{col}", f"max_{col}"
    keep = [
        s["file"]
        for s in stats
        if (lo is None or mn not in s or s[mx] >= lo)
        and (hi is None or mx not in s or s[mn] <= hi)
    ]
    from pyspark.sql import functions as F

    if not keep:
        # empty relation with the right schema
        empty = spark.read.parquet(path).limit(0)
        return empty
    df = spark.read.parquet(*keep)
    c = F.col(col)
    if lo is not None:
        df = df.where(c >= lo)
    if hi is not None:
        df = df.where(c <= hi)
    return df


def collect_file_blooms(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 4096,
    k_hashes: int = 5,
) -> dict[str, list[int]]:
    """Per-file Bloom filters over ``col`` — the point-lookup complement
    to :func:`collect_file_stats`: min/max intervals prune RANGE scans,
    but an equality probe on a high-cardinality key (user_id, doc_id)
    intersects almost every [min,max] while its Bloom bit-test prunes
    any file that provably lacks the key (no false negatives; false
    positives just read one extra file).

    Built distributedly in ONE scan: every value emits its k md5 bit
    positions, `collect_set` per (file) bounds the state at m_bits ints.
    The manifest is tiny (files × m_bits/8 bytes) and, because the hash
    is salted md5 on the value string, any engine can recompute probe
    bits. Returns {file: sorted set-bit positions}.
    """
    from pyspark.sql import functions as F

    from alphalens_spark.scale.dedup import md5_long

    df = spark.read.parquet(path).select(
        F.input_file_name().alias("_f"), F.col(col).cast("string").alias("_v")
    )
    bits = F.explode(
        F.array(
            *[
                F.pmod(
                    md5_long(F.concat(F.lit(f"{i}:"), F.col("_v")), 15),
                    F.lit(m_bits),
                ).cast("int")
                for i in range(k_hashes)
            ]
        )
    ).alias("bit")
    agg = (
        df.select("_f", bits)
        .groupBy("_f")
        .agg(F.sort_array(F.collect_set("bit")).alias("bits"))
        .collect()
    )
    # normalize the file:// URI Spark reports to the plain path
    return {r["_f"].removeprefix("file:"): list(r["bits"]) for r in agg}


def read_bloom_skipping(
    spark: SparkSession,
    path: str,
    col: str,
    value,
    blooms: dict[str, list[int]],
    m_bits: int = 4096,
    k_hashes: int = 5,
) -> DataFrame:
    """Equality scan reading only files whose Bloom filter CAN contain
    ``value`` (all k probe bits set). The filter is re-applied after the
    read — skipping is an optimization, never a correctness dependency.

    The probe bits are computed THROUGH Spark on a literal cast to the
    column's actual type: the build side hashed ``CAST(col AS STRING)``,
    and Python's ``str()`` renders floats/timestamps/decimals differently
    (1e20 → '1e+20' vs Spark's '1.0E20') — a divergent rendering would be
    a Bloom FALSE NEGATIVE, silently pruning a file that holds the value.
    """
    from pyspark.sql import functions as F

    from alphalens_spark.scale.dedup import md5_long

    dt = spark.read.parquet(path).schema[col].dataType
    probe_row = (
        spark.range(1)
        .select(
            *[
                F.pmod(
                    md5_long(
                        F.concat(
                            F.lit(f"{i}:"), F.lit(value).cast(dt).cast("string")
                        ),
                        15,
                    ),
                    F.lit(m_bits),
                )
                .cast("int")
                .alias(f"b{i}")
                for i in range(k_hashes)
            ]
        )
        .first()
    )
    probe = {probe_row[f"b{i}"] for i in range(k_hashes)}
    keep = [f for f, bits in blooms.items() if probe <= set(bits)]
    if not keep:
        return spark.read.parquet(path).limit(0).where(F.col(col) == value)
    return spark.read.parquet(*keep).where(F.col(col) == value)


def hilbert_values(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> DataFrame:
    """Attach a 2-D Hilbert-curve key over exactly two columns — the
    space-filling layout with strictly better locality than Z-order
    (every curve step is distance 1; Morton jumps across the domain at
    quadrant boundaries), so range scans on either column touch even
    fewer files once files hold contiguous key ranges.

    Same exact-integer scaling as :func:`zorder_values`; the classic
    xy→d quadrant-rotation recurrence then runs as ONE ``aggregate``
    fold over the descending bit sequence with a (x, y, d) struct
    accumulator — a single expression tree (a naive per-bit unroll
    duplicates the x/y subtrees ~4× per level → 4^bits nodes). The fold
    is interpreted, but it is bits (=8) integer steps per row with no
    Python involved, and the key is engine-reproducible (the oracle
    replays the identical recurrence as chained SQL CTEs).
    """
    from pyspark.sql import functions as F

    if len(cols) != 2:
        raise ValueError("hilbert_values is 2-D: pass exactly two columns")
    if bits * 2 > 62:
        raise ValueError("bits too large for a signed long key")
    scale_max = (1 << bits) - 1
    cx, cy = cols
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("long").alias(f"_min_{c}"))
        aggs.append(F.max(c).cast("long").alias(f"_max_{c}"))
    j = df.crossJoin(F.broadcast(df.agg(*aggs)))
    scaled = {
        c: F.coalesce(
            F.expr(
                f"CAST((({c} - _min_{c}) * {scale_max})"
                f" DIV nullif(_max_{c} - _min_{c}, 0) AS BIGINT)"
            ),
            F.lit(0).cast("long"),
        )
        for c in cols
    }
    zero = F.lit(0).cast("long")
    init = F.struct(
        scaled[cx].alias("x"), scaled[cy].alias("y"), zero.alias("d")
    )

    def step(acc, s):
        x, y, d = acc.getField("x"), acc.getField("y"), acc.getField("d")
        rx = F.when(x.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ry = F.when(y.bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        d2 = d + s * s * (F.lit(3) * rx).bitwiseXOR(ry)
        # rotate the quadrant: reflect when rx==1&ry==0, then swap x/y
        xr = F.when((ry == 0) & (rx == 1), s - 1 - x).otherwise(x)
        yr = F.when((ry == 0) & (rx == 1), s - 1 - y).otherwise(y)
        xn = F.when(ry == 0, yr).otherwise(xr)
        yn = F.when(ry == 0, xr).otherwise(yr)
        return F.struct(xn.alias("x"), yn.alias("y"), d2.alias("d"))

    # descending quadrant sizes as literals (shift amounts must be
    # Python ints in the shiftleft API, so fold over the s values)
    sizes = F.array(*[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)])
    key = F.aggregate(sizes, init, step).getField("d")
    return j.select(*df.columns, key.alias("hvalue"))
