package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.io.Sinks
import graft.tools.FailPublishFs

/** The one rename-aside publish every directory writer shares
  * (`Sinks.heal` + `Sinks.swap`): a failed publish rename restores the
  * live directory, and a crash between the renames is healed.
  */
class PublishSwapSpec extends SparkSpec {

  private def failFs(): FailPublishFs = {
    val fs = new FailPublishFs
    fs.initialize(java.net.URI.create("failpub:///"), spark.sparkContext.hadoopConfiguration)
    fs
  }

  private def touch(fs: FailPublishFs, dir: Path, name: String): Unit =
    fs.create(new Path(dir, name), true).close()

  private def names(fs: FailPublishFs, dir: Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSet

  test("swap publishes rename-aside; a failed publish rename restores the live table") {
    val fs = failFs()
    val root = new Path("failpub://" + Files.createTempDirectory("graft_swap"))
    val target = new Path(root, "t")
    // fresh target: one rename, nothing existed
    val first = new Path(root, ".t_stage")
    touch(fs, first, "v1")
    assert(!Sinks.swap(fs, first, target))
    assert(names(fs, target) === Set("v1"))
    // live target: swapped aside and back out, backup dropped
    val second = new Path(root, ".t_stage2")
    touch(fs, second, "v2")
    assert(Sinks.swap(fs, second, target))
    assert(names(fs, target) === Set("v2"))
    assert(names(fs, root) === Set("t"))
    // the publish rename fails: the original is renamed back, staging
    // is left for inspection, and the call throws
    val failing = new Path(root, ".t_staging")
    touch(fs, failing, "v3")
    val e = intercept[java.io.IOException](Sinks.swap(fs, failing, target))
    assert(e.getMessage.contains("cannot publish"), e.getMessage)
    assert(names(fs, target) === Set("v2"))
    assert(names(fs, root) === Set("t", ".t_staging"))
  }

  test("heal restores a backup whose target is missing and drops a stale one") {
    val fs = failFs()
    val root = new Path("failpub://" + Files.createTempDirectory("graft_heal"))
    val target = new Path(root, "t")
    val backup = new Path(root, ".t__old")
    assert(Sinks.backupOf(target) === backup)
    touch(fs, backup, "v1")
    Sinks.heal(fs, target)
    assert(names(fs, root) === Set("t") && names(fs, target) === Set("v1"))
    touch(fs, backup, "v0")
    Sinks.heal(fs, target)
    assert(names(fs, root) === Set("t") && names(fs, target) === Set("v1"))
  }

  test("writeDatamart: a failed publish rename keeps yesterday's mart") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.failpub.impl", classOf[FailPublishFs].getName)
    val dir = Files.createTempDirectory("graft_sink_fail").toString + "/dm"
    assert(!Sinks.writeDatamart(Seq((1L, "old"), (2L, "old")).toDF("id", "v"), dir))
    // same directory through the rename-failing scheme: the staged
    // write lands, the publish rename of the staging dir fails
    intercept[java.io.IOException] {
      Sinks.writeDatamart(Seq((3L, "new")).toDF("id", "v"), "failpub://" + dir)
    }
    val rows = spark.read.parquet(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "old"), (2L, "old")))
    assert(!new java.io.File(new java.io.File(dir).getParent, ".dm__old").exists())
  }

  test("writeDatamart: the next clean write clears a failed write's staging dir") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.failpub.impl", classOf[FailPublishFs].getName)
    val root = Files.createTempDirectory("graft_sink_stage").toFile
    val dir = root.toString + "/dm"
    intercept[java.io.IOException] {
      Sinks.writeDatamart(Seq((1L, "failed")).toDF("id", "v"), "failpub://" + dir)
    }
    assert(!Sinks.writeDatamart(Seq((2L, "clean")).toDF("id", "v"), dir))
    assert(root.list().toSet === Set("dm"))
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq === Seq((2L, "clean")))
  }
}
