package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout keys for multi-dimensional clustering at rest.
  *
  * A 100 TB table is pruned or not at PLANNING time by how its files
  * are laid out: range-partitioning by a Morton (Z-order) key keeps
  * rows that are close in BOTH dimensions in the same files, so
  * min/max file statistics prune 2-D predicates (the classic
  * Delta/Iceberg OPTIMIZE ZORDER trick, built from plain Spark ops).
  *
  * The interleave is pure 64-bit integer arithmetic (magic-number bit
  * spread), whole-stage-codegen'd, and reproducible in any engine
  * with shifts — which makes the key itself oracle-checkable.
  */
object Layout {

  /** Spread the low 16 bits of `c` to even bit positions 0,2,..,30. */
  def spreadBits16(c: Column): Column = {
    val a = c.bitwiseAND(lit(0xFFFFL))
    val b = (a.bitwiseOR(shiftleft(a, 8))).bitwiseAND(lit(0x00FF00FFL))
    val d = (b.bitwiseOR(shiftleft(b, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val e = (d.bitwiseOR(shiftleft(d, 2))).bitwiseAND(lit(0x33333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** DuckDB twin of [[spreadBits16]] — same shifts, same masks. */
  def spreadBits16Sql(x: String): String = {
    val a = s"(($x) & 65535)"
    val b = s"((($a | ($a << 8)) & 16711935))"
    val d = s"((($b | ($b << 4)) & 252645135))"
    val e = s"((($d | ($d << 2)) & 858993459))"
    s"((($e | ($e << 1)) & 1431655765))"
  }

  /** 32-bit Morton key interleaving two 16-bit dimensions: x gets the
    * even bits, y the odd bits. Monotone in the Z-curve order.
    */
  def zorderKey(x: Column, y: Column): Column =
    spreadBits16(x).bitwiseOR(shiftleft(spreadBits16(y), 1))

  /** DuckDB twin of [[zorderKey]]. */
  def zorderKeySql(x: String, y: String): String =
    s"(${spreadBits16Sql(x)} | (${spreadBits16Sql(y)} << 1))"

  /** Hilbert d-index of an (x, y) cell on a 2^order × 2^order grid —
    * the published iterative xy2d mapping (rx/ry quadrant bits,
    * quadrant offset s²·((3·rx) xor ry), rotate-and-reflect per
    * level). Hilbert beats Z-order for layout because consecutive
    * indices are ALWAYS Manhattan-adjacent cells (no Z-curve jumps),
    * so each written file covers one compact blob in (x, y) space and
    * min/max stats prune tighter on both dimensions. Pure integer
    * arithmetic — the DuckDB twin ([[hilbertRoundsSql]]) replays the
    * same rounds and matches bit for bit.
    */
  def hilbertXY2D(x0: Long, y0: Long, order: Int): Long = {
    val mask = (1L << order) - 1L
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** DuckDB twin of [[hilbertXY2D]]: the same rounds as nested
    * subqueries rebinding (x, y, d). `inner` must produce
    * `passCols`, `x`, `y`, and `d` = 0.
    */
  def hilbertRoundsSql(inner: String, passCols: String, order: Int): String =
    (0 until order).foldLeft(inner) { (acc, i) =>
      val s = 1L << (order - 1 - i)
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""SELECT $passCols,
         |  CASE WHEN $ry = 0
         |    THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END)
         |    ELSE x END AS x,
         |  CASE WHEN $ry = 0
         |    THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END)
         |    ELSE y END AS y,
         |  d + ${s * s}::BIGINT * xor(3 * $rx, $ry) AS d
         |FROM ($acc)""".stripMargin
    }

  /** Cluster a frame for writing: range-partition by the Z-key of two
    * (bucketized 16-bit) dimensions, sort within partitions. Each
    * output file then owns a compact Z-range ⇒ tight min/max stats on
    * BOTH source columns ⇒ 2-D scan pruning. `nFiles` sizes the write
    * parallelism (pick targetBytes/file at scale, not a constant).
    */
  def zorderCluster(df: DataFrame, x: Column, y: Column, nFiles: Int): DataFrame = {
    val keyed = df.withColumn("__zkey", zorderKey(x, y))
    keyed
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }

  /** Per-file zone map over `cols`: min/max of each column keyed by
    * `input_file_name()` — the manifest a lakehouse keeps beside the
    * data. One aggregation, file-cardinality output (bounded by file
    * count, never row count).
    */
  def zoneMap(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "zoneMap needs at least one stats column")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max")))
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Write `df` Z-order-clustered on (x, y) to `dir` and persist its
    * zone map under `dir/_zonemap` (the `_` prefix keeps parquet
    * readers from treating the stats as data). Write-time work: the
    * read side never re-scans the table to learn its file ranges.
    */
  def writeZoneMapped(df: DataFrame, x: Column, y: Column, nFiles: Int,
                      dir: String, statsCols: Seq[String]): Unit = {
    zorderCluster(df, x, y, nFiles).write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    zoneMap(spark.read.parquet(dir), statsCols)
      .repartition(1)
      .write.mode("overwrite").parquet(dir + "/_zonemap")
  }

  /** Compaction that preserves the skipping contract: rewrite a
    * zone-mapped layout into ceil(bytes/targetBytes) files that are
    * RE-Z-ORDERED during the rewrite (each output file again owns a
    * compact Z-range), then regenerate `_zonemap` from the files at
    * rest. A plain byte-packing compaction shuffle-scrambles rows
    * across files, widening every file's min/max box until the zone
    * map prunes nothing — compaction would silently destroy the
    * layout's reason to exist. Rides [[Lakehouse.compact]]'s
    * crash-safe rename protocol; the stale zone map leaves with the
    * renamed-aside original and the new one is written only after the
    * swap, so a reader never pairs new files with old stats.
    * Returns the number of data files written.
    */
  def compactZoneMapped(spark: org.apache.spark.sql.SparkSession, dir: String,
                        targetBytes: Long, x: Column, y: Column,
                        statsCols: Seq[String]): Int = {
    val n = Lakehouse.compact(spark, dir, targetBytes,
      recluster = Some((df, nFiles) => zorderCluster(df, x, y, nFiles)))
    zoneMap(spark.read.parquet(dir), statsCols)
      .repartition(1)
      .write.mode("overwrite").parquet(dir + "/_zonemap")
    n
  }

  /** Scan-time data skipping from the persisted zone map: keep only
    * the files whose [min, max] box overlaps EVERY predicate interval
    * (bounds inclusive), then read just those and apply the exact
    * filter. The file-list collect is manifest-cardinality driver work
    * — the same shape as a Delta/Iceberg planning step; correctness
    * never depends on how well the layout clustered (a file missed by
    * clustering still overlaps and is read).
    */
  def statsPrunedRead(spark: org.apache.spark.sql.SparkSession, dir: String,
                      ranges: Seq[(String, Long, Long)]): (DataFrame, Int, Int) = {
    val zm = spark.read.parquet(dir + "/_zonemap")
    val kept = ranges.foldLeft(zm) { case (acc, (c, lo, hi)) =>
      acc.where(col(s"${c}_min") <= hi && col(s"${c}_max") >= lo)
    }
    val files = kept.select(col("file")).collect().map(_.getString(0)).sorted
    val total = zm.count().toInt
    val base =
      if (files.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    val exact = ranges.foldLeft(base) { case (acc, (c, lo, hi)) =>
      acc.where(col(c).between(lo, hi))
    }
    (exact, files.length, total)
  }
}
