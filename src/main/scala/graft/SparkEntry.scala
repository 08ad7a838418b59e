package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("dm_users_demographic")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ RelationalQueries.queries ++
      JoinQueries.queries ++ AggWindowQueries.queries ++
      ParityQueries.queries ++ TextQueries.queries ++ VectorQueries.queries ++
      MultimodalQueries.queries ++ StreamingQueries.queries ++
      TpchQueries.queries ++ LakehouseQueries.queries ++ SamplingQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * The engine drops inadmissible rows at the scan
    * ([[graft.core.Tables.embeddings]] for every embeddings read,
    * [[graft.operators.Multimodal.admissibleDocs]] for the asset
    * builders), while the oracle runs on raw parquet views. Each oracle
    * therefore reads those tables through an admissibility CTE
    * ([[withAdmissible]]): every oracle that names `embeddings`, and
    * every [[MultimodalQueries]] oracle for `documents`. Centralized
    * here so a future oracle can't forget the mirror. The CTE reads
    * `main.<table>`: the oracle's views must live in DuckDB's default
    * `main` schema, which is where `tools/check.py` creates them.
    */
  private[graft] def rawOracles: Map[String, String] =
    CoreQueries.oracles ++ RelationalQueries.oracles ++
      JoinQueries.oracles ++ AggWindowQueries.oracles ++
      ParityQueries.oracles ++ TextQueries.oracles ++ VectorQueries.oracles ++
      MultimodalQueries.oracles ++ StreamingQueries.oracles ++
      TpchQueries.oracles ++ LakehouseQueries.oracles ++ SamplingQueries.oracles

  def oracleSql: Map[String, String] = rawOracles.map { case (name, sql) =>
    val docs =
      if (!MultimodalQueries.oracles.contains(name)) sql
      else withAdmissible(sql, "documents", graft.operators.Multimodal.docsAdmissibleSql)
    // a false positive (a column or word containing the name) only adds
    // an unused CTE; every read of the table names it, so none is missed
    name -> (
      if (!sql.toLowerCase.contains("embeddings")) docs
      else withAdmissible(docs, "embeddings", graft.core.Tables.embeddingsAdmissibleSql))
  }

  /** Prepends `table AS (SELECT * FROM main.table WHERE admissible)` to
    * `sql`'s CTE list — merged into a leading `WITH` / `WITH RECURSIVE`
    * (any case), else as a new `WITH` — so every unqualified read of
    * `table` in the statement resolves to the admissible rows. The body
    * after the prefix is the input verbatim. The CTE's own read is
    * schema-qualified because an unqualified one would name the CTE
    * itself (DuckDB: "Circular reference to CTE").
    */
  private[graft] def withAdmissible(sql: String, table: String, admissible: String): String = {
    val cte = s"$table AS (SELECT * FROM main.$table WHERE $admissible)"
    def afterKeyword(s: String, kw: String): Option[String] =
      if (s.regionMatches(true, 0, kw, 0, kw.length) && s.lift(kw.length).exists(_.isWhitespace))
        Some(s.drop(kw.length).dropWhile(_.isWhitespace))
      else None
    afterKeyword(sql.dropWhile(_.isWhitespace), "WITH") match {
      case None => s"WITH $cte\n$sql"
      case Some(rest) => afterKeyword(rest, "RECURSIVE") match {
        case Some(ctes) => s"WITH RECURSIVE $cte,\n$ctes"
        case None => s"WITH $cte,\n$rest"
      }
    }
  }
}
