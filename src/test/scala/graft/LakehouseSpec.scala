package graft

import org.apache.spark.sql.functions._
import graft.operators.Lakehouse

class LakehouseSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("mergeUpsert: source overwrites, inserts, and keeps by key") {
    import spark.implicits._
    val target = Seq((1L, 10, "a"), (2L, 20, "b")).toDF("k", "n", "s")
    val source = Seq((2L, 99, "b2"), (3L, 30, "c")).toDF("k", "n", "s")
    val out = Lakehouse.mergeUpsert(target, source, Seq("k"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq ===
      Seq((1L, 10, "a", "keep"), (2L, 99, "b2", "update"), (3L, 30, "c", "insert")))
  }

  test("mergeUpsert: null source data column falls back to target value") {
    import spark.implicits._
    val target = Seq((1L, Some("old"))).toDF("k", "v")
    val source = Seq((1L, Option.empty[String])).toDF("k", "v")
    val out = Lakehouse.mergeUpsert(target, source, Seq("k")).collect()(0)
    assert(out.getAs[String]("v") === "old" && out.getAs[String]("merge_action") === "update")
  }

  test("mergeUpsert rejects mismatched schemas") {
    import spark.implicits._
    val t = Seq((1L, 1)).toDF("k", "a")
    val s = Seq((1L, 1)).toDF("k", "b")
    intercept[IllegalArgumentException](Lakehouse.mergeUpsert(t, s, Seq("k")))
  }

  test("scd2 collapses runs, closes intervals with the next change, flags current") {
    import spark.implicits._
    val log = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "low"),
      (1L, ts("2024-01-02 00:00:00"), 2L, "low"),   // unchanged — collapsed
      (1L, ts("2024-01-03 00:00:00"), 3L, "high"),
      (2L, ts("2024-01-01 00:00:00"), 4L, "mid")
    ).toDF("uid", "t", "eid", "band")
    val out = Lakehouse.scd2(log, "uid", "t", "eid", col("band"))
      .orderBy("uid", "valid_from").collect()
    assert(out.length === 3)
    val r0 = out(0)
    assert(r0.getAs[String]("attr_value") === "low" &&
      r0.getAs[java.sql.Timestamp]("valid_to") === ts("2024-01-03 00:00:00") &&
      !r0.getAs[Boolean]("is_current"))
    assert(out(1).getAs[String]("attr_value") === "high" && out(1).getAs[Boolean]("is_current"))
    assert(out(2).getAs[Long]("uid") === 2L && out(2).getAs[Boolean]("is_current"))
  }

  test("scd2 breaks equal-timestamp ties deterministically by the tie column") {
    import spark.implicits._
    val t0 = ts("2024-01-01 00:00:00")
    val log = Seq((1L, t0, 2L, "b"), (1L, t0, 1L, "a")).toDF("uid", "t", "eid", "band")
    val out = Lakehouse.scd2(log, "uid", "t", "eid", col("band"))
      .orderBy("valid_from", "attr_value").collect()
    // eid 1 ("a") sorts first, eid 2 ("b") is the change row and current
    assert(out.map(_.getAs[String]("attr_value")).toSeq === Seq("a", "b"))
    assert(out.map(_.getAs[Boolean]("is_current")).toSeq === Seq(false, true))
  }

  test("scd2 plans a single exchange for both window passes") {
    import spark.implicits._
    val log = (1 to 200).map(i =>
      (i.toLong % 7, ts(f"2024-01-01 ${i % 24}%02d:00:00"), i.toLong, s"v${i % 3}"))
      .toDF("uid", "t", "eid", "band")
    val p = Lakehouse.scd2(log, "uid", "t", "eid", col("band"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(1200))
  }

  test("changeDataFeed emits both update images, nothing for unchanged rows") {
    import spark.implicits._
    val old = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("k", "s", "n")
    val neu = Seq((2L, "b", 21), (3L, "c", 30), (4L, "d", 40)).toDF("k", "s", "n")
    val out = Lakehouse.changeDataFeed(old, neu, Seq("k"), Seq("s", "n"))
      .orderBy(col("k"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(out.toSeq === Seq(
      (1L, "delete", "a", 10),
      (2L, "update_postimage", "b", 21),
      (2L, "update_preimage", "b", 20),
      (4L, "insert", "d", 40)))
  }

  test("evolvePartitionSpec: rows bit-identical, new layout prunes, crash-safe restore") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    val df = (1 to 200).map(i => (i.toLong, s"y${i % 3}", s"m${i % 4}", i * 1.5))
      .toDF("id", "yr", "mn", "v")
    df.write.partitionBy("yr", "mn").parquet(dir)
    def snap() = spark.read.parquet(dir).select("id", "yr", "mn", "v")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    val before = snap()
    val nParts = Lakehouse.evolvePartitionSpec(spark, dir, Seq("mn"))
    assert(nParts === 4)
    // same rows, new single-level layout
    assert(before === snap())
    val leaves = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(leaves.forall(_.startsWith("mn=")) && leaves.length === 4, leaves.toSeq)
    // the new column now prunes at PLANNING time (PartitionFilters)
    val plan = { val q = spark.read.parquet(dir).where(col("mn") === "m1")
      q.collect(); q.queryExecution.executedPlan.toString }
    assert(plan.contains("PartitionFilters") && plan.contains("mn#"),
      plan.take(600))
    // crash simulation: live dir gone, .t__old present → next call heals
    val p = new java.io.File(dir)
    val old = new java.io.File(p.getParent, ".t__old")
    assert(p.renameTo(old))
    val n2 = Lakehouse.evolvePartitionSpec(spark, dir, Seq("yr"))
    assert(n2 === 3)
    assert(spark.read.parquet(dir).count() === 200)
  }

  test("writer lock: a concurrent second caller fails loudly, table intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString + "/t"
    (1 to 50).map(i => (i.toLong, i * 2)).toDF("id", "v").write.parquet(dir)
    // simulate a swap in flight: the lock marker exists
    val lock = new java.io.File(dir + "__lock")
    assert(lock.createNewFile())
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    val e1 = intercept[java.util.ConcurrentModificationException] {
      Lakehouse.compact(spark, dir, targetBytes = 1L << 20)
    }
    assert(e1.getMessage.contains("__lock"), e1.getMessage)
    val e2 = intercept[java.util.ConcurrentModificationException] {
      Lakehouse.evolvePartitionSpec(spark, dir, Seq("v"))
    }
    assert(e2.getMessage.contains("writer lock"), e2.getMessage)
    // blocked callers mutated NOTHING: same rows, no scratch siblings
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).sorted.toSeq ===
      Seq("t", "t__lock"), parent.listFiles().map(_.getName).toSeq)
    // the holder finishes (marker released) → next caller proceeds and
    // releases its own marker
    assert(lock.delete())
    assert(Lakehouse.compact(spark, dir, targetBytes = 1L << 20) === 1)
    assert(!lock.exists(), "lock must be released after a clean swap")
    assert(spark.read.parquet(dir).count() === 50)
  }

  test("changeDataFeed treats null→value and value→null as updates") {
    import spark.implicits._
    val old = Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("k", "s")
    val neu = Seq((1L, Some("y")), (2L, Option.empty[String])).toDF("k", "s")
    val types = Lakehouse.changeDataFeed(old, neu, Seq("k"), Seq("s"))
      .groupBy("k").count().orderBy("k").collect().map(_.getLong(1))
    assert(types.toSeq === Seq(2L, 2L)) // pre+post image per key
  }

  test("write-audit-publish: clean audit swaps in, failing audit leaves table untouched") {
    import spark.implicits._
    import graft.operators.Expectations
    import graft.operators.Expectations.RowCheck
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_wap_" + System.nanoTime()).toString
    def audit(df: org.apache.spark.sql.DataFrame) =
      Expectations.suite(Expectations.rowChecks(df,
        Seq(RowCheck("non_negative", col("v") < 0))))
    // first publish: clean data goes live
    val good = Seq((1L, 10), (2L, 20)).toDF("k", "v")
    val (r1, ok1) = Lakehouse.writeAuditPublish(spark, good, dir, audit)
    assert(ok1 && r1.where(!col("passed")).isEmpty)
    assert(spark.read.parquet(dir).count() === 2)
    // second publish violates the audit: table must keep v1
    val bad = Seq((3L, -5)).toDF("k", "v")
    val (r2, ok2) = Lakehouse.writeAuditPublish(spark, bad, dir, audit)
    assert(!ok2)
    assert(r2.where(!col("passed")).count() === 1)
    val live = spark.read.parquet(dir).orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(live === Seq(1L, 2L), "failed audit must not touch the live table")
    // third publish with clean data replaces v1
    val next = Seq((7L, 70)).toDF("k", "v")
    val (_, ok3) = Lakehouse.writeAuditPublish(spark, next, dir, audit)
    assert(ok3)
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).toSeq === Seq(7L))
  }

  test("write-audit-publish heals a crash between the publish renames, even on a failing audit") {
    import spark.implicits._
    import graft.operators.Expectations
    import graft.operators.Expectations.RowCheck
    val dir = java.nio.file.Files.createTempDirectory("graft_wap_heal").toString + "/t"
    def audit(df: org.apache.spark.sql.DataFrame) =
      Expectations.suite(Expectations.rowChecks(df,
        Seq(RowCheck("non_negative", col("v") < 0))))
    val (_, ok1) = Lakehouse.writeAuditPublish(spark, Seq((1L, 10), (2L, 20)).toDF("k", "v"), dir, audit)
    assert(ok1)
    // crash window: the live table moved to its backup, staging never renamed in
    val live = new java.io.File(dir)
    assert(live.renameTo(new java.io.File(live.getParent, ".t__old")))
    val (_, ok2) = Lakehouse.writeAuditPublish(spark, Seq((3L, -5)).toDF("k", "v"), dir, audit)
    assert(!ok2)
    assert(spark.read.parquet(dir).orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(live.getParentFile.list().toSet === Set("t", ".t__wap_staging"))
  }

  test("threeWayMerge: full outcome taxonomy on a constructed base/A/B triple") {
    import spark.implicits._
    // key: 1 untouched, 2 A-mod, 3 B-mod, 4 identical concurrent mod,
    // 5 divergent concurrent mod, 6 A-del B-same, 7 A-del B-mod,
    // 8 A-add, 9 both-add identical, 10 both-add divergent,
    // 11 both-del
    val base = Seq((1L, 10), (2L, 20), (3L, 30), (4L, 40), (5L, 50),
      (6L, 60), (7L, 70), (11L, 110)).toDF("k", "v")
    val a = Seq((1L, 10), (2L, 21), (3L, 30), (4L, 41), (5L, 51),
      (8L, 80), (9L, 90), (10L, 100)).toDF("k", "v")
    val b = Seq((1L, 10), (2L, 20), (3L, 31), (4L, 41), (5L, 52),
      (6L, 60), (7L, 71), (9L, 90), (10L, 101)).toDF("k", "v")
    val out = Lakehouse.threeWayMerge(base, a, b, Seq("k"), Seq("v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(3),
        if (r.isNullAt(4)) -1 else r.getInt(4)))
    assert(out.toSeq === Seq(
      (1L, "base", true, 10),
      (2L, "a", true, 21),
      (3L, "b", true, 31),
      (4L, "both", true, 41),
      (5L, "conflict", false, -1),
      (6L, "a", false, -1),      // deletion in A wins over unchanged B
      (7L, "conflict", false, -1), // mod-vs-del
      (8L, "a", true, 80),
      (9L, "both", true, 90),
      (10L, "conflict", false, -1), // divergent adds
      (11L, "both", false, -1)))   // identical concurrent deletes
    // conflicts carry both candidate images
    val c5 = Lakehouse.threeWayMerge(base, a, b, Seq("k"), Seq("v"))
      .where(col("k") === 5L).head()
    assert(c5.getAs[Int]("a_v") === 51 && c5.getAs[Int]("b_v") === 52)
  }

  test("timeTravel: latest version <= asOf wins; tombstones remove; asOf 0 = base") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val v1 = Seq((2L, "b1", false), (3L, "c", true)).toDF("k", "v", "deleted")
    val v2 = Seq((2L, "b2", false), (1L, "a", true)).toDF("k", "v", "deleted")
    def read(asOf: Long) =
      Lakehouse.timeTravel(base, Seq(1L -> v1, 2L -> v2), Seq("k"), asOf)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(read(0L) === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(read(1L) === Seq((1L, "a"), (2L, "b1")))
    assert(read(2L) === Seq((2L, "b2")))
  }

  test("timeTravel resolves the whole log in one per-key shuffle, not per version") {
    import spark.implicits._
    val base = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val v1 = (1 to 50).map(i => (i.toLong, s"w$i", false)).toDF("k", "v", "deleted")
    val v2 = (25 to 75).map(i => (i.toLong, s"x$i", i % 10 == 0)).toDF("k", "v", "deleted")
    // un-executed plan: AQE's finalized toString would print the
    // Initial Plan section too and double the exchange count
    val p = Lakehouse.timeTravel(base, Seq(1L -> v1, 2L -> v2), Seq("k"), 2L)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p.take(1500))
  }

  test("writer lock: soundness policy — capability probe first, scheme " +
      "allowlist as fallback, refusal otherwise unless forced") {
    // branch 1: conditional-create capability admits ANY scheme — the
    // S3A-on-recent-Hadoop path (verdict r14 task 8)
    assert(Lakehouse.lockSound("s3a", conditionalCreate = true, force = false))
    assert(Lakehouse.lockSound("gs", conditionalCreate = true, force = false))
    // branch 2: HDFS-semantics allowlist (stores predating the
    // capability) still admits without the probe
    assert(Lakehouse.lockSound("hdfs", conditionalCreate = false, force = false))
    assert(Lakehouse.lockSound("viewfs", conditionalCreate = false, force = false))
    assert(Lakehouse.lockSound("FILE", conditionalCreate = false, force = false),
      "scheme is case-blind")
    // branch 3: no capability, not allowlisted -> refused...
    assert(!Lakehouse.lockSound("s3a", conditionalCreate = false, force = false))
    assert(!Lakehouse.lockSound("gs", conditionalCreate = false, force = false))
    assert(!Lakehouse.lockSound("abfs", conditionalCreate = false, force = false))
    // branch 4: ...unless the deployment forces best-effort locking
    assert(Lakehouse.lockSound("s3a", conditionalCreate = false, force = true))
    // the capability constant is the Hadoop 3.4 CreateFileOptionKeys key
    assert(Lakehouse.ConditionalCreateCapability ===
      "fs.option.create.conditional.overwrite")
  }

  test("writer lock: the conditional acquire's MANDATORY builder option " +
      "is rejected loudly by a filesystem that does not honor it") {
    // the capability-admitted acquire path sets
    // fs.option.create.conditional.overwrite via must(): per the
    // FileSystem builder contract, an implementation that does not
    // recognize a mandatory key MUST reject it at build() — so a
    // store that advertises the capability but routes create through
    // a non-conditional path can never silently hand back an advisory
    // lock; it errors. Local FS does not honor the option: pin the
    // rejection.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft_caplock").toString + "/m__lock")
    val b = fs.createFile(p).overwrite(false)
    b.must(Lakehouse.ConditionalCreateCapability, true)
    val e = intercept[Exception] { val out = b.build(); out.close() }
    assert(e.getMessage != null &&
      e.getMessage.toLowerCase.contains("mandatory"), e.toString)
  }

  test("writer lock: a racing conditional create maps to contention, " +
      "other I/O errors stay loud") {
    // object-store contention surfaces as exceptions at PUT time, not
    // as createNewFile's `false` — these must read as "lock held"
    class RemoteFileChangedException(m: String) extends java.io.IOException(m)
    class FileAlreadyExistsException(m: String) extends java.io.IOException(m)
    assert(Lakehouse.isLockContention(new RemoteFileChangedException("etag")))
    assert(Lakehouse.isLockContention(new FileAlreadyExistsException("exists")))
    assert(Lakehouse.isLockContention(
      new java.io.IOException("PUT rejected: PreconditionFailed (412)")))
    assert(Lakehouse.isLockContention(new java.io.IOException(
      "PreconditionFailed: At least one of the pre-conditions you " +
        "specified did not hold (If-None-Match)")))
    // a genuine failure must NOT be mistaken for contention
    assert(!Lakehouse.isLockContention(new java.io.IOException("connection reset")))
    assert(!Lakehouse.isLockContention(
      new java.nio.file.AccessDeniedException("/t__lock")))
    // the bare error-code token WITHOUT the conditional-PUT context
    // (412 / If-None-Match) is an unrelated precondition failure on a
    // retried request — it must stay a loud failure, not "lock held"
    assert(!Lakehouse.isLockContention(new java.io.IOException(
      "copyObject failed: PreconditionFailed on x-amz-copy-source-if-match")))
  }

  test("writer lock: holder identity in the message; stale markers reclaimable") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString + "/t"
    (1 to 50).map(i => (i.toLong, i * 2)).toDF("id", "v").write.parquet(dir)
    val lock = new java.io.File(dir + "__lock")
    java.nio.file.Files.write(lock.toPath, "crashed-host:999@123".getBytes("UTF-8"))
    // without stale reclaim configured: fail, and NAME the holder
    val e = intercept[java.util.ConcurrentModificationException] {
      Lakehouse.compact(spark, dir, targetBytes = 1L << 20)
    }
    assert(e.getMessage.contains("crashed-host:999@123"), e.getMessage)
    // a FRESH marker is never reclaimed even with reclaim configured
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong("graft.lock.stale.ms", 60_000L)
    try {
      intercept[java.util.ConcurrentModificationException] {
        Lakehouse.compact(spark, dir, targetBytes = 1L << 20)
      }
      // age the marker past the threshold: reclaim logs, retries, wins
      assert(lock.setLastModified(System.currentTimeMillis() - 600_000L))
      assert(Lakehouse.compact(spark, dir, targetBytes = 1L << 20) === 1)
      assert(!lock.exists(), "reclaimed lock must be released after the swap")
      assert(spark.read.parquet(dir).count() === 50)
    } finally hconf.unset("graft.lock.stale.ms")
  }
}
