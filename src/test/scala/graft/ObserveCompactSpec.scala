package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Lakehouse, Observe}

class ObserveCompactSpec extends SparkSpec {

  test("observed quality metrics ride the job's own pass") {
    val obs = Observation("ingest_q")
    val df = Observe.withQualityMetrics(
      Tables.events(spark, sfDir)
        .withColumn("user_id", when(col("event_id") % 100 === 0, null)
          .otherwise(col("user_id"))),
      obs, "user_id", "value")
    val n = df.count() // the one and only action
    val m = Observe.decode(obs.get)
    assert(m.rows === n)
    assert(m.nullKeys === df.where(col("user_id").isNull).count())
    assert(m.negValues === 0)
    val exact = df.select("user_id").distinct().count()
    assert(math.abs(m.distinctApprox - exact) <= math.max(2L, exact / 10))
  }

  test("decode survives a zero-row pass (null sums)") {
    val obs = Observation("ingest_empty")
    val df = Observe.withQualityMetrics(
      Tables.events(spark, sfDir).where(lit(false)), obs, "user_id", "value")
    assert(df.count() === 0)
    val m = Observe.decode(obs.get)
    assert(m.rows === 0 && m.nullKeys === 0 && m.negValues === 0)
  }

  test("snapshot diff is null-safe and delta-sized") {
    import spark.implicits._
    val old = Seq((1L, Option("a"), Option(10L)), (2L, Option("b"), None),
      (3L, Option("c"), Option(30L)), (4L, Option("d"), Option(40L)))
      .toDF("id", "s", "v")
    val neu = Seq((1L, Option("a"), Option(10L)),        // unchanged → dropped
      (2L, Option("b"), Option(20L)),                    // null → value: changed
      (3L, Option.empty[String], Option(30L)),           // value → null: changed
      (5L, Option("e"), Option(50L)))                    // added; 4 removed
      .toDF("id", "s", "v")
    val d = Lakehouse.snapshotDiff(old, neu, Seq("id"), Seq("s", "v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d === Set((2L, "changed", "v"), (3L, "changed", "s"),
      (4L, "removed", ""), (5L, "added", "")))
  }

  test("compaction sizes partitioned layouts from the recursive file listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_part").toString + "/t"
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), (col("event_id") % 4).as("p"))
      .orderBy("event_id").limit(40)
      .repartition(16)
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val beforeRows = spark.read.parquet(dir).count()
    assert(beforeRows === 40)
    // data files live under p=*/ subdirs; a top-level-only listing
    // would see 0 bytes and collapse everything to 1 file. A one-byte
    // target asks for more files than rows, so the row cap decides.
    val n = Lakehouse.compact(spark, dir, targetBytes = 1L)
    assert(n === beforeRows, s"recursive sizing or row cap failed: $n files")
    assert(spark.read.parquet(dir).count() === beforeRows)
  }

  test("partition-scoped compaction preserves layout, rows, and values") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_scoped").toString + "/t"
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"),
        (col("event_id") % 3).as("p"))
      .repartition(12)
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.count()
    // partition columns come back type-inferred (int) — compare as strings
    val beforeByPart = before.groupBy("p").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(before.inputFiles.length >= 30) // ~12 files per partition

    val results = Lakehouse.compactPartitioned(spark, dir, targetBytes = Long.MaxValue)
    // one result per leaf, layout preserved on disk
    assert(results.map(_._1).sorted === Seq("p=0", "p=1", "p=2"))
    assert(results.forall(_._2 === 1))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).count(_.startsWith("p=")) === 3)
    // no scratch/backup leftovers
    assert(!fs.listStatus(new Path(dir)).exists(_.getPath.getName.startsWith(".")))

    val after = spark.read.parquet(dir)
    assert(after.count() === beforeRows)
    assert(after.groupBy("p").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap === beforeByPart)
    assert(after.inputFiles.length === 3) // one file per partition now
    // partition pruning still works post-compaction
    val pruned = after.where(col("p") === 1)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"))
    // content identical — compare against a FRESH derivation (the
    // pre-compaction `before` frame holds now-replaced file paths)
    val expected = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    assert(after.select("event_id", "user_id", "value").exceptAll(expected).isEmpty)
  }

  test("partition-scoped compaction self-heals a per-leaf crash window") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_scoped_heal").toString + "/t"
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), (col("event_id") % 2).as("p"))
      .repartition(4)
      .write.partitionBy("p").mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash between the two renames of leaf p=0: only the
    // dot-prefixed backup exists. Root reads skip the dot dir — a
    // reader mid-crash sees a consistent (if partial) table, and the
    // next compactPartitioned restores the leaf before compacting.
    assert(fs.rename(new Path(dir + "/p=0"), new Path(dir + "/.p=0__old")))
    assert(spark.read.parquet(dir).count() < rows) // backup invisible to readers
    val results = Lakehouse.compactPartitioned(spark, dir, targetBytes = Long.MaxValue)
    assert(results.map(_._1).sorted === Seq("p=0", "p=1"))
    assert(spark.read.parquet(dir).count() === rows)
    assert(!fs.exists(new Path(dir + "/.p=0__old")))
  }

  test("compaction self-heals a crash between the two swap renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_heal").toString + "/t"
    Tables.events(spark, sfDir).repartition(8).write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).count()
    // simulate the crash window: table moved aside, rewrite never landed
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(p.getParent, ".t__old")
    assert(fs.rename(p, backup))
    // next compact() restores the backup first, then compacts normally
    val n = Lakehouse.compact(spark, dir, targetBytes = Long.MaxValue)
    assert(n === 1)
    assert(spark.read.parquet(dir).count() === rows)
    assert(!fs.exists(backup))
  }

  test("compaction bin-packs small files to the byte target") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // simulate an incremental writer: 64 tiny files
    Tables.events(spark, sfDir).repartition(64)
      .write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeRows = before.count()
    val beforeFiles = before.inputFiles.length
    assert(beforeFiles >= 60)

    val totalBytes = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }
    val n = Lakehouse.compact(spark, dir, targetBytes = totalBytes / 4)
    val after = spark.read.parquet(dir)
    assert(after.count() === beforeRows)
    assert(after.inputFiles.length === n)
    assert(n <= 6, s"expected ~4-5 output files, got $n")
    // content identical, not just counts (scalar projection: set ops
    // reject map-typed columns like events.props)
    val proj = Seq("event_id", "user_id", "event_type", "value")
    assert(after.select(proj.head, proj.tail: _*)
      .exceptAll(Tables.events(spark, sfDir).select(proj.head, proj.tail: _*))
      .isEmpty)
  }
}
