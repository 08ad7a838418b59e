package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's source layer: partitioned parquet directories
  * read with schema merging (reference src/spark/collector.py:300-305).
  * The testdata tables are single parquet files, but the loader accepts
  * any parquet path/dir so the same code serves a partitioned lake.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. mergeSchema mirrors the
    * reference's raw-layer reads (S2 in SURVEY §2.1); harmless on
    * single files, essential under schema drift across partitions.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .parquet(path(dir, name))

  /** The parquet path of one table — also what a memoized artifact
    * names as its input (see [[ArtifactMemo]]).
    */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts is TIMESTAMP(MICROS) on every shipped tier (sf0.001,
    * sf0.01, sf0.1). A lake that stores TIMESTAMP(NANOS) — Spark has
    * no ns type — reads as long (nanosAsLong), truncated to micros
    * here. Downstream queries must still never emit a raw ts (DuckDB
    * would keep ns there); emit derived dates/strings/epoch-seconds.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable SQL conf: the driver may hand us a session that
    // wasn't built by GraftSession, so pin it here before the read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    if (df.schema("ts").dataType == LongType)
      // Integer division (DIV), not `/`: epoch-ns (~1.7e18) exceeds
      // double's 2^53 mantissa, so fp divide-then-cast is off by 1us
      // for ~1.6% of values and flips second-boundary-derived dates.
      df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else df
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  /** Declared dimensionality of the embeddings collection. Every
    * vector store pins one dimension per collection; the fixture
    * tables ship 64. A deployment with a different model sets its own
    * constant — the point is that dimensionality is a SCHEMA fact,
    * not a per-row observation.
    */
  val EmbeddingDim = 64

  /** Embeddings scan behind the admissibility quarantine (the geo
    * coordinate-quarantine precedent, applied to vectors): NULL
    * vectors, dimension drift (a model-version mix-up), and NaN /
    * ±Infinity / NULL components cannot be allowed into a vector
    * operator — EmbeddingsDirtySpec showed each one either aborts
    * the job (codebook Seq indexing NPE / IndexOutOfBounds, ANSI
    * overflow after fixed-point floor() silently saturates non-finite
    * to ±Long.MaxValue) or corrupts results silently. The guard is
    * one codegen'd forall per row and the identity on admissible
    * corpora. Zero vectors PASS (a legitimate padding row — cosine
    * ops null them out at their divisions instead).
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings").where(
      col("embedding").isNotNull &&
        size(col("embedding")) === EmbeddingDim &&
        forall(col("embedding"), c =>
          c.isNotNull && !isnan(c) && abs(c) =!= Float.PositiveInfinity))

  /** DuckDB twin of the engine's strict integer parse
    * `try_cast(get_json_object(col, path) AS long)`: DuckDB's
    * TRY_CAST(VARCHAR AS BIGINT) goes through the numeric path and
    * ROUNDS a decimal string ('36.97' → 37) where Spark's try_cast is
    * NULL — the integral-string regexp restores strict semantics.
    * Used by every oracle that derives integer keys from JSON props.
    */
  def jsonBigintSql(col: String, path: String): String = {
    // The parse reads a SANITIZED argument, not the raw column:
    // json_extract_string ERRORS on malformed JSON, and DuckDB's
    // vectorized evaluation can reach an AND's right conjunct (or a
    // CASE branch) on rows the json_valid guard excluded — the sf0.1
    // fuzz corpus hit exactly that. json_extract_string(NULL) is NULL,
    // so nulling invalid JSON INSIDE the argument is order-immune.
    val safe = s"(CASE WHEN json_valid($col) THEN $col END)"
    s"CASE WHEN regexp_matches(" +
      s"coalesce(json_extract_string($safe, '$path'), ''), '^-?[0-9]+$$')" +
      s" THEN TRY_CAST(json_extract_string($safe, '$path') AS BIGINT) END"
  }

  /** DuckDB twin of the [[embeddings]] admissibility quarantine —
    * interpolated into every vector oracle's embeddings read by
    * SparkEntry.oracleSql, so both engines see the same admissible
    * rows (isfinite is false for NaN and ±Inf; NULL components fail
    * the explicit IS-NULL arm).
    */
  val embeddingsAdmissibleSql: String =
    s"embedding IS NOT NULL AND len(embedding) = $EmbeddingDim" +
      " AND coalesce(list_aggregate(list_transform(embedding," +
      " x -> CASE WHEN x IS NULL THEN false ELSE isfinite(x) END)," +
      " 'bool_and'), false)"

  /** Split a coarse-grained scan for CPU-bound downstream work (gram
    * explosion, hashing): a single-row-group parquet file cannot be
    * split by the reader, so everything narrow behind it runs in ONE
    * task. When the plan yields fewer partitions than the session's
    * shuffle width, redistribute; at lake scale input splits >> cores,
    * so the guard makes this a no-op and the corpus is never shuffled.
    *
    * Measured guidance: worth it ONLY when the expansion feeds a
    * broadcast join / narrow pipeline (text_contamination: 1.6→0.8 s,
    * blocked-jaccard: 0.8→0.5 s at sf0.1). When a shuffle already
    * follows the expansion (groupBy/window), that exchange re-spreads
    * the work anyway and the extra repartition only adds a
    * materialization — minhash/simhash/tf-idf/unigram regressed
    * 1.5-2.5× with it and keep the plain scan.
    */
  def widen(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }
}
