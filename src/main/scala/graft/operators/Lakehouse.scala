package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.GraftSession.LineageOps
import graft.io.Sinks

/** Lakehouse-style table-maintenance operators the reference's daily
  * datamart rewrite (SURVEY §2.1 S6: errorifexists→overwrite) implies
  * but never implements: keyed upsert (MERGE INTO semantics) and SCD
  * Type-2 historization. Both are single-shuffle plans — the upsert is
  * one full-outer hash join on the merge key, the historization one
  * window partitioning — so they scale linearly with the delta size.
  */
object Lakehouse {

  /** Filesystem schemes whose create-if-absent is genuinely atomic —
    * the set the writer lock is sound on. Object stores (s3a, gs,
    * abfs, oss, …) give read-after-write consistency but NOT an
    * atomic exclusive create, so a marker there is advisory only; the
    * acquisition refuses those schemes unless the deployment opts in
    * with `graft.lock.force=true` (settable as
    * `spark.hadoop.graft.lock.force`), surfacing the caveat at call
    * time instead of in a comment.
    */
  private[graft] val AtomicCreateSchemes: Set[String] =
    Set("file", "local", "hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Hadoop 3.4.2 path capability advertised by stores whose
    * create-if-absent is a CONDITIONAL PUT (If-None-Match) — S3A with
    * conditional writes enabled, and any future connector that adopts
    * `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`.
    * On such stores `create(path, overwrite = false)` fails atomically
    * on a racing object, which is exactly the primitive the writer
    * lock needs — so the capability, when present, admits the store
    * without the static scheme allowlist.
    */
  private[graft] val ConditionalCreateCapability =
    "fs.option.create.conditional.overwrite"

  /** True when the writer lock is sound on this filesystem: the
    * scheme's create-if-absent is natively atomic (HDFS semantics,
    * the [[AtomicCreateSchemes]] FALLBACK), OR the store advertises
    * conditional-create ([[ConditionalCreateCapability]] probe), OR
    * the deployment explicitly forced best-effort locking. Factored
    * out so the policy is unit-testable per branch without
    * instantiating an object-store connector.
    */
  private[graft] def lockSound(scheme: String, conditionalCreate: Boolean,
                               force: Boolean): Boolean =
    force || conditionalCreate ||
      AtomicCreateSchemes.contains(scheme.toLowerCase)

  /** A failed CONDITIONAL create on a capability-advertising store
    * surfaces as an exception at stream close (the PUT races another
    * writer's marker), not as createNewFile's `false` — map those to
    * "lock held" so contention on an object store behaves like
    * contention on HDFS. Matched structurally (class name / message)
    * because connector jars (hadoop-aws) are not on the compile
    * classpath; every other IOException still PROPAGATES as a real
    * failure.
    */
  private[graft] def isLockContention(e: Throwable): Boolean = {
    // takeWhile strips compiler suffixes ($1) so structurally-named
    // test doubles match like the real connector classes
    val n = e.getClass.getSimpleName.takeWhile(_ != '$')
    n == "RemoteFileChangedException" ||
      n == "FileAlreadyExistsException" ||
      // the message fallback requires the CONDITIONAL-PUT contention
      // shape, not the bare token: "PreconditionFailed" alone also
      // rides genuine non-lock failures (a 412 from an unrelated
      // precondition on a retried request) whose wrapped message
      // carries the service error code — mapping those to "lock held"
      // would send an operator hunting for a phantom writer. A losing
      // create-if-absent PUT surfaces the 412 status / If-None-Match
      // context alongside the code (the S3 conditional-write error
      // shape), so require both.
      Option(e.getMessage).exists(m => m.contains("PreconditionFailed") &&
        (m.contains("412") || m.contains("If-None-Match")))
  }

  /** Writer-lock marker for the rename-swap protocols
    * ([[compact]], [[compactPartitioned]], [[evolvePartitionSpec]],
    * [[writeAuditPublish]]): created atomically (create-if-absent) as
    * a SIBLING of the table directory before any mutation, removed
    * when the swap finishes. A concurrent second writer fails loudly
    * at acquisition instead of mistaking the swap's brief
    * read-unavailability window for a crash and racing the publisher
    * through the [[graft.io.Sinks.heal]] restore branch.
    *
    * The marker carries the holder's identity and acquisition
    * timestamp (host, pid, epoch millis — written AFTER the atomic
    * create, by the owner, so acquisition atomicity is untouched), so
    * a failed acquirer's error message names who holds it and since
    * when. A writer that CRASHES inside the critical section leaves
    * the marker behind: by default later callers keep failing until
    * an operator confirms no writer is alive and deletes it — only
    * then does the protocol's [[graft.io.Sinks.heal]] run.
    * Deployments that prefer availability can set
    * `graft.lock.stale.ms=N` (`spark.hadoop.graft.lock.stale.ms`): an
    * acquirer finding a marker older than N ms deletes it and retries
    * ONCE. Stale reclaim is inherently racy between two simultaneous
    * reclaimers (no compare-and-swap in a filesystem API); N should
    * comfortably exceed the longest swap, and the reclaim is logged
    * to stderr so the operator trail survives.
    *
    * Schemes without atomic create-if-absent are refused up front —
    * see [[AtomicCreateSchemes]].
    */
  private def withWriterLock[T](fs: org.apache.hadoop.fs.FileSystem,
                                conf: org.apache.hadoop.conf.Configuration,
                                dir: String, op: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "__lock")
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    // capability probe first: a store that advertises conditional
    // create (S3A on recent Hadoop) is admitted regardless of scheme;
    // the static allowlist is the fallback for HDFS-semantics stores
    // that predate the capability
    val conditionalCreate =
      try fs.hasPathCapability(lock, ConditionalCreateCapability)
      catch { case _: Exception => false }
    if (!lockSound(scheme, conditionalCreate,
        conf.getBoolean("graft.lock.force", false)))
      throw new IllegalStateException(
        s"$op: filesystem scheme '$scheme' has no atomic create-if-absent " +
          s"(no '$ConditionalCreateCapability' capability either), so the " +
          "writer lock would be advisory only; set " +
          "spark.hadoop.graft.lock.force=true to accept best-effort " +
          "locking, or run rename-swap maintenance on an HDFS-semantics " +
          "or conditional-put filesystem")
    val staleMs = conf.getLong("graft.lock.stale.ms", -1L)
    // Acquisition primitive depends on HOW the store was admitted.
    // Allowlisted schemes: plain createNewFile (create-if-absent is
    // natively atomic there). Capability-admitted stores: the
    // capability advertises the createFile BUILDER option, not that
    // the default create path is conditional — so the acquire goes
    // through the builder with the option MANDATORY (`must`): a
    // connector that advertises but does not honor it fails loudly at
    // build() instead of silently degrading to a HEAD+PUT advisory
    // lock. A racing conditional create surfaces as an exception at
    // PUT/close time and maps to "held" ([[isLockContention]]); any
    // other genuine I/O error (permissions, connection reset)
    // PROPAGATES — mapping it to "lock held" would send an operator
    // hunting for a phantom crashed writer instead of the real failure.
    val viaCapability =
      conditionalCreate && !AtomicCreateSchemes.contains(scheme.toLowerCase)
    def acquire(): Boolean =
      try {
        if (viaCapability) {
          if (fs.exists(lock)) false // cheap pre-check; the PUT is the arbiter
          else {
            val b = fs.createFile(lock).overwrite(false)
            b.must(ConditionalCreateCapability, true)
            b.build().close() // conditional PUT completes on close
            true
          }
        } else if (scheme.equalsIgnoreCase("file") ||
                   scheme.equalsIgnoreCase("local")) {
          // Hadoop's local createNewFile is exists-then-create (two
          // separate steps through ChecksumFileSystem, not an O_EXCL
          // open), so two SIMULTANEOUS acquirers can both win — caught
          // by the cross-process race spec once its children were
          // actually synchronized. java.io.File.createNewFile IS the
          // atomic O_EXCL open; the marker path is unchanged, so the
          // identity stamp and the release keep flowing through the
          // Hadoop API.
          val local = new java.io.File(lock.toUri.getPath)
          Option(local.getParentFile).foreach(_.mkdirs())
          local.createNewFile()
        } else fs.createNewFile(lock)
      } catch { case e: java.io.IOException if isLockContention(e) => false }
    def holderInfo(): String =
      try {
        val st = fs.getFileStatus(lock)
        val in = fs.open(lock)
        val id = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
        val who = if (id.nonEmpty) id else "<no identity written yet>"
        s"held by $who (marker mtime ${st.getModificationTime})"
      } catch { case _: java.io.IOException => "held (holder unreadable)" }
    var acquired = acquire()
    if (!acquired && staleMs > 0) {
      val age = try System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (age > staleMs) {
        System.err.println(
          s"[graft] $op: reclaiming stale writer lock $lock " +
            s"(age ${age}ms > graft.lock.stale.ms=$staleMs; ${holderInfo()})")
        try fs.delete(lock, false)
        catch { case _: java.io.FileNotFoundException => }
        acquired = acquire()
      }
    }
    if (!acquired)
      throw new java.util.ConcurrentModificationException(
        s"$op: writer lock $lock is ${holderInfo()} — another swap is in " +
          "flight on this table (or a crashed writer left the marker; " +
          "verify no writer is alive, then delete the marker — or set " +
          "graft.lock.stale.ms — to let the crash self-heal run)")
    // we own the marker now; stamping identity over our own empty file
    // is safe and makes the next contender's error message actionable
    try {
      val out = fs.create(lock, true)
      try out.write(
        (s"${java.net.InetAddress.getLocalHost.getHostName}:" +
          s"${ProcessHandle.current().pid()}@${System.currentTimeMillis()}")
          .getBytes("UTF-8"))
      finally out.close()
    } catch { case _: java.io.IOException => () /* identity is best-effort */ }
    var primary: Throwable = null
    try body
    catch { case t: Throwable => primary = t; throw t }
    finally {
      val released =
        try fs.delete(lock, false)
        catch { case e: java.io.IOException =>
          if (primary == null) throw e else primary.addSuppressed(e); false
        }
      // a silently-leaked marker wedges every future swap — fail loudly
      // unless a primary failure is already propagating
      if (!released && primary == null && fs.exists(lock))
        throw new java.io.IOException(
          s"$op: could not release writer lock $lock — remove it manually")
    }
  }

  /** Test seam: run `body` under the writer lock for `dir` — the exact
    * acquire/identity-stamp/release protocol every rename-swap
    * operation uses, minus the swap itself — so cross-PROCESS race
    * proofs (two JVMs racing `acquire` on one dir; verdict r15 item 5)
    * can drive the lock without standing up a Spark session per
    * process. Resolves the FileSystem from the dir's scheme like the
    * real callers do.
    */
  private[graft] def withTableLock[T](conf: org.apache.hadoop.conf.Configuration,
                                      dir: String, op: String)(body: => T): T = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    withWriterLock(fs, conf, dir, op)(body)
  }

  /** One side of a keyed full-outer compare: the `keys`, each of
    * `cols` renamed `__<side>_<col>`, and a `__<side>_present` flag
    * that is null exactly where the join found no row on this side.
    */
  private def tag(df: DataFrame, side: String, keys: Seq[String],
                  cols: Seq[String]): DataFrame =
    df.select((keys.map(col) ++ cols.map(c => col(c).as(s"__${side}_$c")) :+
      lit(true).as(s"__${side}_present")): _*)

  /** MERGE INTO semantics over two snapshots with identical schemas:
    * source rows overwrite target rows on the key, unmatched source
    * rows insert, unmatched target rows are kept. Emits the merged
    * table plus a `merge_action` tag (insert/update/keep) so callers
    * can audit or filter the change set.
    *
    * Scale: one full-outer shuffle join on the key columns; with a
    * bucketed/pre-partitioned target the exchange on the target side
    * disappears. Source columns win via coalesce — a null in a source
    * data column therefore means "no new value", matching the
    * update-set-all-columns MERGE shape.
    */
  def mergeUpsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(target.columns.sameElements(source.columns),
      s"mergeUpsert needs identical schemas; got ${target.columns.mkString(",")} vs ${source.columns.mkString(",")}")
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    tag(target, "t", keys, dataCols).join(tag(source, "s", keys, dataCols), keys, "full_outer")
      .select((keys.map(col) ++
        dataCols.map(c => coalesce(col(s"__s_$c"), col(s"__t_$c")).as(c)) :+
        when(col("__t_present").isNull, lit("insert"))
          .when(col("__s_present").isNull, lit("keep"))
          .otherwise(lit("update")).as("merge_action")): _*)
  }

  /** Snapshot reconciliation: row-level diff of two table versions on
    * a key — added / removed / changed, plus exactly WHICH columns
    * changed — the audit a corpus-versioning pipeline runs between a
    * nightly re-crawl and yesterday's lake before deciding what to
    * reprocess.
    *
    * `changed_cols` lists differing columns in the caller's
    * `compareCols` order (null-safe comparison, so null→value and
    * value→null both count as changes). Unchanged rows are dropped —
    * the output is delta-sized, not corpus-sized.
    *
    * Scale: ONE full-outer hash join shuffled by the key; the change
    * mask is a projection on the joined row. At lake scale, run it
    * per changed partition (partition pruning on both sides) and —
    * when payload columns are wide — compare a persisted per-row
    * digest first so the wide columns never move for unchanged rows;
    * the column-wise mask here is the explain-what-changed form.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    // concat_ws skips nulls, so the mask concatenates exactly the
    // differing column names in compareCols order
    val mask = concat_ws(",", compareCols.map(c =>
      when(not(col(s"__o_$c") <=> col(s"__n_$c")), lit(c))): _*)
    tag(oldDf, "o", keys, compareCols).join(tag(newDf, "n", keys, compareCols), keys, "full_outer")
      .withColumn("changed_cols", mask)
      .withColumn("status",
        when(col("__o_present").isNull, lit("added"))
          .when(col("__n_present").isNull, lit("removed"))
          .when(col("changed_cols") =!= "", lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .select((keys.map(col) :+ col("status") :+
        when(col("status") === "changed", col("changed_cols"))
          .otherwise(lit("")).as("changed_cols")): _*)
  }

  /** Write-Audit-Publish: stage the frame to the `.<name>__wap_staging`
    * sibling, audit the READ-BACK files with an expectation suite
    * (auditing what was actually written, not the plan that produced
    * it), and only on a clean report publish the staging directory
    * with [[graft.io.Sinks.swap]] (rename-aside via the shared
    * `.<name>__old` backup). A failing audit leaves the current table
    * untouched and the staging directory behind for inspection — the
    * Iceberg/Nessie WAP contract from plain filesystem renames. Every
    * call first heals a crash between a previous publish's renames
    * ([[graft.io.Sinks.heal]]), audit outcome aside. Returns the
    * audit report and whether it published.
    */
  def writeAuditPublish(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
                        dir: String,
                        audit: DataFrame => DataFrame): (DataFrame, Boolean) = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(dir)
    val staging = new Path(target.getParent, "." + target.getName + "__wap_staging")
    withWriterLock(fs, spark.sparkContext.hadoopConfiguration, dir, "WAP") {
      Sinks.heal(fs, target)
      fs.delete(staging, true)
      df.write.parquet(staging.toString)
      // materialize BEFORE any rename — the lazy plan reads staging,
      // which moves away on publish
      val report = audit(spark.read.parquet(staging.toString))
        .select(col("check_name"), col("violations"), col("total"), col("passed"))
        .truncateLineage()
      val clean = report.where(!col("passed")).isEmpty
      if (clean) Sinks.swap(fs, staging, target)
      (report, clean)
    }
  }

  /** Three-way branch merge — git-style reconciliation of two corpus
    * branches against their common base (the collaboration primitive
    * a curation lake needs once two teams edit the same snapshot).
    * Per key, a side's state vs base is `same`, `mod`, `add`, or
    * `del`; the merge keeps the side that changed, keeps identical
    * concurrent changes once, and flags divergent concurrent changes
    * (mod≠mod, mod-vs-del, add-vs-add with different values) as
    * conflicts with both candidate images — resolution policy stays
    * with the caller, exactly like a VCS.
    *
    * Scale: TWO key-shuffled full-outer joins (base⋈A⋈B) and a pure
    * projection — delta-sized output when branches are passed as
    * deltas. Null-safe comparisons throughout.
    */
  def threeWayMerge(base: DataFrame, a: DataFrame, b: DataFrame,
                    keys: Seq[String], valCols: Seq[String]): DataFrame = {
    def present(s: String): Column = col(s"__${s}_present").isNotNull
    def eqSides(s1: String, s2: String): Column =
      valCols.map(c => col(s"__${s1}_$c") <=> col(s"__${s2}_$c"))
        .reduce(_ && _)
    def state(s: String): Column =
      when(present(s) && present("base") && eqSides(s, "base"), "same")
        .when(present(s) && present("base"), "mod")
        .when(present(s) && !present("base"), "add")
        .when(!present(s) && present("base"), "del")
        .otherwise("absent") // in neither base nor this branch
    val j = tag(base, "base", keys, valCols)
      .join(tag(a, "a", keys, valCols), keys, "full_outer")
      .join(tag(b, "b", keys, valCols), keys, "full_outer")
      .withColumn("__sa", state("a"))
      .withColumn("__sb", state("b"))
    val bothSame = col("__sa") === col("__sb") && eqSides("a", "b")
    val outcome =
      when(col("__sa").isin("same", "absent") && col("__sb").isin("same", "absent"), "base")
        .when(col("__sb").isin("same", "absent"), "a")
        .when(col("__sa").isin("same", "absent"), "b")
        .when(bothSame, "both")
        .otherwise("conflict")
    def pick(c: String): Column =
      when(col("__outcome") === "base", col(s"__base_$c"))
        .when(col("__outcome").isin("a", "both"), col(s"__a_$c"))
        .when(col("__outcome") === "b", col(s"__b_$c"))
    val merged = j.withColumn("__outcome", outcome)
      .withColumn("__present",
        when(col("__outcome") === "base", present("base"))
          .when(col("__outcome").isin("a", "both"), present("a"))
          .when(col("__outcome") === "b", present("b"))
          .otherwise(lit(false)))
    merged.select((keys.map(col) :+
      col("__outcome").as("outcome") :+
      (col("__outcome") === "conflict").as("is_conflict") :+
      col("__present").as("merged_present")) ++
      valCols.map(c => pick(c).as(s"merged_$c")) ++
      valCols.map(c => when(col("__outcome") === "conflict",
        col(s"__a_$c")).as(s"a_$c")) ++
      valCols.map(c => when(col("__outcome") === "conflict",
        col(s"__b_$c")).as(s"b_$c")): _*)
  }

  /** Change-data-feed between two table versions — the Delta-CDF /
    * Iceberg-changelog shape: one row per change with `_change_type`
    * in {insert, delete, update_preimage, update_postimage}, updates
    * emitting BOTH images so a downstream consumer can retract the old
    * aggregate contribution and apply the new one (the streaming
    * materialized-view maintenance contract). Unchanged rows emit
    * nothing — the feed is delta-sized, not corpus-sized.
    *
    * Scale: ONE full-outer hash join shuffled by the key; the
    * per-row change classification and the 0/1/2-row expansion are a
    * projection + generate inside the same stage (the conditional
    * array never materializes more than two structs per row). Same
    * envelope as [[snapshotDiff]] — at lake scale run it partition-
    * pruned per changed partition.
    */
  def changeDataFeed(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                     valueCols: Seq[String]): DataFrame = {
    val changed = valueCols.map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    def image(side: String, op: String) =
      struct((lit(op).as("_change_type") +:
        valueCols.map(c => col(s"__${side}_$c").as(c))): _*)
    // filter(...) over a one-element array types the empty branch
    // without spelling the struct DDL
    val none = filter(array(image("o", "x")), _ => lit(false))
    val feed = when(col("__o_present").isNull, array(image("n", "insert")))
      .when(col("__n_present").isNull, array(image("o", "delete")))
      .when(changed, array(image("o", "update_preimage"),
        image("n", "update_postimage")))
      .otherwise(none)
    tag(oldDf, "o", keys, valueCols).join(tag(newDf, "n", keys, valueCols), keys, "full_outer")
      .select(keys.map(col) :+ explode(feed).as("__c"): _*)
      .select(keys.map(col) ++ (col("__c._change_type").as("_change_type") +:
        valueCols.map(c => col(s"__c.$c").as(c))): _*)
  }

  /** Time-travel read over a base snapshot plus an ordered delta log
    * (the MVCC replay every table format performs): reconstruct the
    * table AS OF `asOfVersion`. Each delta carries upserts and
    * tombstones (`deleted = true`); the latest version ≤ asOfVersion
    * wins per key, and a winning tombstone removes the row.
    *
    * Scale: the replay is NOT iterative — base (version 0) and all
    * in-range deltas union into one frame and a single per-key
    * max-version selection (TopKPerKey shape: one shuffle by key,
    * bounded partitions) resolves every key. A real lake keeps deltas
    * partition-pruned so the union reads only versions ≤ asOf and the
    * shuffle carries delta-sized data plus the base.
    */
  def timeTravel(base: DataFrame, deltas: Seq[(Long, DataFrame)],
                 keys: Seq[String], asOfVersion: Long): DataFrame = {
    require(deltas.map(_._1).forall(_ > 0), "delta versions must be > 0 (0 is the base)")
    val dataCols = base.columns.filterNot(keys.contains).toSeq
    def shape(df: DataFrame, v: Long, del: Column): DataFrame =
      df.select((keys.map(col) ++ dataCols.map(col) :+
        lit(v).as("__v") :+ del.as("__del")): _*)
    val inRange = deltas.filter(_._1 <= asOfVersion)
      .map { case (v, d) => shape(d, v,
        if (d.columns.contains("deleted")) col("deleted") else lit(false)) }
    val all = inRange.foldLeft(shape(base, 0L, lit(false)))(_ unionByName _)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)
    all.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && !col("__del"))
      .select(keys.map(col) ++ dataCols.map(col): _*)
  }

  /** SCD Type-2 historization of a change log: collapse consecutive
    * rows with an unchanged tracked attribute, keep one row per
    * attribute run with its validity interval
    * [valid_from, valid_to) and an is_current flag (open interval).
    *
    * Determinism: ordering is (tsCol, tieCol) — callers must pass a
    * tie-breaking column so equal-timestamp rows collapse identically
    * on every engine. Scale: two window passes over the SAME
    * (key, ts, tie) partitioning+ordering — Catalyst plans one
    * exchange and one sort, the second WindowExec reuses both.
    */
  def scd2(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           attr: Column): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol).asc, col(tieCol).asc)
    df.withColumn("__attr", attr)
      .withColumn("__prev", lag(col("__attr"), 1).over(w))
      .where(col("__prev").isNull || col("__attr") =!= col("__prev"))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col("__attr").as("attr_value"),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Partition-spec EVOLUTION: rewrite a partitioned table under a
    * new partition column set (e.g. year=/month= → month= only, or
    * adding a bucket column as query patterns change) so readers never
    * see a MIXED old/new layout. The full table rewrites into
    * a staging sibling (`<name>__respec`) under the NEW spec, then
    * publishes it with [[graft.io.Sinks.swap]], the rename-aside
    * protocol every publisher shares: live → `.<name>__old`, staging
    * → live, backup dropped — a crash between renames is healed on
    * the next call ([[graft.io.Sinks.heal]]).
    *
    * Concurrency contract (same as [[compact]]): SINGLE WRITER —
    * enforced by the [[withWriterLock]] marker, so a concurrent
    * second writer fails loudly at acquisition instead of mistaking
    * the swap window for a crash and racing the publisher through the
    * restore branch — and the swap has a brief READ-UNAVAILABILITY
    * window: between the two renames the live path does not exist, so
    * a concurrent reader gets path-not-found (never partial data) and
    * should retry (two directory renames cannot be made jointly
    * atomic on a plain filesystem). Rows are bit-identical before
    * and after (spec-pinned); only the directory layout — and thus
    * which predicates prune — changes. Scale: one full-table
    * read+write (the floor for any respec) shuffled by the new
    * partition columns so each output partition is written by its
    * own tasks. Returns the number of leaf partitions under the new
    * spec.
    */
  def evolvePartitionSpec(spark: org.apache.spark.sql.SparkSession,
                          dir: String, newPartitionCols: Seq[String]): Long = {
    require(newPartitionCols.nonEmpty, "new partition spec must be non-empty")
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, spark.sparkContext.hadoopConfiguration, dir, "evolve") {
      Sinks.heal(fs, path)
      val staging = new org.apache.hadoop.fs.Path(dir + "__respec")
      if (fs.exists(staging)) fs.delete(staging, true)
      val df = spark.read.option("mergeSchema", "true").parquet(dir)
      df.repartition(newPartitionCols.map(org.apache.spark.sql.functions.col): _*)
        .write.partitionBy(newPartitionCols: _*)
        .mode("overwrite").parquet(staging.toString)
      Sinks.swap(fs, staging, path)
      spark.read.parquet(dir)
        .select(newPartitionCols.map(org.apache.spark.sql.functions.col): _*)
        .distinct().count()
    }
  }

  /** Small-file compaction (OPTIMIZE): rewrite a parquet directory
    * into ceil(bytes/targetBytes) files. The perpetual lakehouse
    * problem — streaming/incremental writers leave thousands of KB
    * files whose open/footer cost dominates scans; bin-packing by
    * TOTAL BYTES (not file count) keeps output files near the target
    * regardless of input skew. The rewrite publishes through
    * [[graft.io.Sinks.swap]]: the ORIGINAL renames aside to
    * `.<name>__old` first, then the rewrite into place, then the
    * backup is deleted; a failed rename restores the original and
    * throws instead of silently reporting success. A crash BETWEEN
    * the two renames leaves the table only in the backup — readers
    * see path-not-found until the next compact() call, which
    * self-heals ([[graft.io.Sinks.heal]]) before doing anything else
    * (two directory renames cannot be made jointly atomic on a plain
    * filesystem; the data itself is never lost). The backup name is
    * the one [[compactPartitioned]] uses on a flat root, so either
    * call heals the other's crash.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetBytes: Long,
              recluster: Option[(org.apache.spark.sql.DataFrame, Int) =>
                org.apache.spark.sql.DataFrame] = None): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withWriterLock(fs, spark.sparkContext.hadoopConfiguration, dir, "compact") {
      Sinks.heal(fs, path)
      // recursive listing: partitioned layouts keep data files under
      // partition subdirectories (note the rewrite itself flattens the
      // layout — [[compactPartitioned]] is the layout-preserving form)
      compactLeaf(spark, fs, path,
        new org.apache.hadoop.fs.Path(dir + "__compacting"), targetBytes, recluster)
    }
  }

  /** One directory's crash-safe rewrite: size by total parquet bytes,
    * rewrite into `tmp`, publish with [[graft.io.Sinks.swap]].
    * Shared by the flat [[compact]] and the per-leaf passes of
    * [[compactPartitioned]]. `recluster` (frame, nFiles) replaces the
    * default shuffle-repartition with a layout-producing partitioning
    * (e.g. Z-order range clustering) so compaction can TIGHTEN data
    * skipping instead of scrambling it.
    */
  private def compactLeaf(spark: org.apache.spark.sql.SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem,
                          path: org.apache.hadoop.fs.Path,
                          tmp: org.apache.hadoop.fs.Path,
                          targetBytes: Long,
                          recluster: Option[(org.apache.spark.sql.DataFrame, Int) =>
                            org.apache.spark.sql.DataFrame] = None): Int = {
    val it = fs.listFiles(path, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val frame = spark.read.parquet(path.toString)
    // capped at the row count: past one row per file, a smaller target
    // only adds empty tasks (targetBytes = 1 would ask one per byte)
    val byBytes = math.ceil(bytes.toDouble / targetBytes).toLong
    val nFiles = math.max(1L, if (byBytes <= 1) byBytes else math.min(byBytes, frame.count())).toInt
    recluster.map(f => f(frame, nFiles)).getOrElse(frame.repartition(nFiles))
      .write.mode("overwrite").parquet(tmp.toString)
    Sinks.swap(fs, tmp, path)
    nFiles
  }

  /** VACUUM for a zone-mapped layout: delete data files the
    * `dir/_zonemap` manifest no longer references — overwrite/
    * compaction leftovers and failed-write debris — once they are
    * older than `retentionMs`. The retention window is the same
    * contract every table format ships: a reader that planned its
    * file list before a rewrite must be able to finish, so only files
    * BOTH unreferenced and old get removed. Metadata (`_`/`.`-prefixed
    * names) is never touched. Driver-side work is one directory
    * listing plus the manifest read — planning cardinality, no data
    * I/O. Returns the deleted paths.
    */
  def vacuumZoneMapped(spark: org.apache.spark.sql.SparkSession, dir: String,
                       retentionMs: Long): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manifest `file` values are input_file_name() URIs; compare
    // scheme-free paths so file:/ vs file:/// spellings can't differ
    val live = spark.read.parquet(dir + "/_zonemap")
      .select(col("file")).collect()
      .map(r => new Path(r.getString(0)).toUri.getPath).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".") &&
          !live.contains(st.getPath.toUri.getPath) &&
          st.getModificationTime < cutoff
      }
      .map { st => fs.delete(st.getPath, false); st.getPath.toUri.getPath }
  }

  /** Partition-scoped OPTIMIZE: compact each LEAF partition directory
    * of a Hive-layout table (`k1=v1/k2=v2/...`) in place, preserving
    * the layout — the form a real lake needs, since the flat
    * [[compact]] would fold the partition columns into the data files
    * and destroy partition pruning. Each leaf gets the same crash-safe
    * [[graft.io.Sinks.swap]]; scratch/backup siblings are dot-prefixed so
    * Spark's file listing (which skips `.`/`_` names) NEVER sees a
    * half-written rewrite or a crash leftover when reading the root —
    * readers of an in-progress table see either the old or the new
    * files of a leaf, nothing else.
    *
    * Self-healing: a crash between a leaf's two renames leaves only
    * `.leaf__old`; the next call runs [[graft.io.Sinks.heal]] on every
    * such orphan (restoring it, or clearing a stale backup whose swap
    * DID complete) before compacting.
    * Driver-side work is one directory walk — manifest cardinality,
    * the same class as the zone-map planner.
    *
    * Returns (relative leaf path → files written).
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession, root: String,
                         targetBytes: Long): Seq[(String, Int)] = {
    import org.apache.hadoop.fs.Path
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Self-heal the ROOT itself first: when the root directory IS a
    // leaf (non-partitioned layout), its crash backup lands as a
    // dot-prefixed SIBLING outside the tree healTree() scans — a crash
    // between that leaf's two renames would otherwise strand the table
    // in `.root__old` with every later call failing the existence
    // require below.
    withWriterLock(fs, spark.sparkContext.hadoopConfiguration, root, "compactPartitioned") {
    Sinks.heal(fs, rootPath)
    require(fs.exists(rootPath), s"compactPartitioned: no such dir $root")

    def healTree(d: Path): Unit =
      fs.listStatus(d).filter(_.isDirectory).foreach { st =>
        val n = st.getPath.getName
        // a dir is a leaf backup iff it is the backup name of the
        // leaf its name strips to
        val orig = new Path(d, n.stripPrefix(".").stripSuffix("__old"))
        if (Sinks.backupOf(orig).getName == n) Sinks.heal(fs, orig)
        else if (n.startsWith(".") && n.endsWith("__compacting"))
          fs.delete(st.getPath, true) // half-written rewrite, safe to drop
        else if (!n.startsWith(".")) healTree(st.getPath)
      }
    healTree(rootPath)

    def leaves(d: Path): Seq[Path] = {
      val entries = fs.listStatus(d)
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
      val (dirs, files) = entries.partition(_.isDirectory)
      if (files.exists(_.getPath.getName.endsWith(".parquet"))) Seq(d)
      else dirs.flatMap(st => leaves(st.getPath)).toSeq
    }
    val rootUri = rootPath.toUri.getPath
    leaves(rootPath).map { leaf =>
      val parent = leaf.getParent
      val n = compactLeaf(spark, fs, leaf,
        new Path(parent, "." + leaf.getName + "__compacting"), targetBytes)
      leaf.toUri.getPath.stripPrefix(rootUri).stripPrefix("/") -> n
    }
    } // withWriterLock
  }
}
