package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[SparkEntry.withAdmissible]], the one way an oracle mirrors
  * the engine's scan quarantines: an admissibility CTE named after the
  * table, placed ahead of the statement's own CTEs, with the statement
  * itself passed through byte-identical. DuckDB resolves every TABLE
  * reference of `embeddings` (FROM, JOIN, comma form, subqueries) to the
  * CTE; column references, qualified refs, calls and literals are
  * untouched text.
  */
class QuarantineMirrorSpec extends AnyFunSuite {

  private val Cte = "embeddings AS (SELECT * FROM main.embeddings WHERE " +
    graft.core.Tables.embeddingsAdmissibleSql + ")"
  private val DocsCte = "documents AS (SELECT * FROM main.documents WHERE " +
    graft.operators.Multimodal.docsAdmissibleSql + ")"
  private def quarantined(sql: String) =
    SparkEntry.withAdmissible(sql, "embeddings", graft.core.Tables.embeddingsAdmissibleSql)

  /** A statement with no CTE of its own gains a leading WITH and
    * otherwise stays byte-identical.
    */
  private def assertPlain(sql: String): Unit =
    assert(quarantined(sql) === s"WITH $Cte\n$sql", sql)

  test("FROM / JOIN / FROM-list-comma reads are rewritten, alias kept") {
    Seq(
      "SELECT vec_id FROM embeddings",
      "SELECT e.vec_id FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id",
      "SELECT x FROM t, embeddings e WHERE t.id = e.vec_id",
      "SELECT x FROM embeddings AS em",
      "SELECT count(*) FROM t, embeddings",
      "SELECT count(*) FROM t,embeddings",
      "SELECT 1 FROM a JOIN b ON a.x = b.x, embeddings WHERE a.y = vec_id",
      "SELECT 1 FROM (SELECT 1 AS z) q, embeddings",
      "SELECT 1 FROM embeddings JOIN embeddings ON a = b",
      "SELECT (SELECT max(a) FROM embeddings) FROM t"
    ).foreach(assertPlain)
  }

  test("comma-preceded COLUMN references named embeddings pass through") {
    Seq(
      "SELECT a, embeddings FROM t",
      "SELECT a, embeddings AS e2 FROM t",
      "SELECT sum(x) FROM t GROUP BY a, embeddings",
      "SELECT x FROM t ORDER BY a, embeddings",
      "SELECT coalesce(a, embeddings) FROM t",
      "SELECT row_number() OVER (PARTITION BY a, embeddings ORDER BY b) FROM t",
      "SELECT CASE WHEN x THEN a ELSE b END, embeddings FROM t",
      "SELECT x FROM t WHERE y IN (a, embeddings)"
    ).foreach(assertPlain)
  }

  test("qualified columns / function calls / string literals never match") {
    Seq(
      "SELECT embeddings.vec_id FROM t",
      "SELECT embeddings(x) FROM t",
      "SELECT 'FROM embeddings in a literal, embeddings too' AS s FROM t",
      "SELECT 'it''s, embeddings' AS s FROM embeddings"
    ).foreach(assertPlain)
  }

  test("the CTE merges into a leading WITH, WITH RECURSIVE or lower-case with") {
    val body = "r AS (SELECT 1 AS n) SELECT n FROM r, embeddings"
    assert(quarantined(s"WITH $body") === s"WITH $Cte,\n$body")
    assert(quarantined(s"with\n  $body") === s"WITH $Cte,\n$body")
    assert(quarantined(s"  With $body") === s"WITH $Cte,\n$body")
    assert(quarantined(s"WITH RECURSIVE $body") === s"WITH RECURSIVE $Cte,\n$body")
    assert(quarantined(s"with recursive\n$body") === s"WITH RECURSIVE $Cte,\n$body")
    // a name that merely starts with the keyword is not the keyword
    val withy = "SELECT * FROM without_rows"
    assert(quarantined(withy) === s"WITH $Cte\n$withy")
    // a second table merges ahead of the first; both reach every CTE
    val both = SparkEntry.withAdmissible(quarantined(s"WITH RECURSIVE $body"),
      "documents", graft.operators.Multimodal.docsAdmissibleSql)
    assert(both === s"WITH RECURSIVE $DocsCte,\n$Cte,\n$body")
  }

  test("every shipping oracle that names embeddings or is multimodal carries its CTE") {
    val mm = graft.queries.MultimodalQueries.oracles.keySet
    assert(mm.nonEmpty)
    val quarantinedOracles = SparkEntry.oracleSql
    assert(quarantinedOracles.keySet === SparkEntry.rawOracles.keySet)
    var embeddingReaders = 0
    for ((name, raw) <- SparkEntry.rawOracles) {
      val got = quarantinedOracles(name)
      val ctes = Seq(
        raw.toLowerCase.contains("embeddings") -> Cte,
        mm.contains(name) -> DocsCte).collect { case (true, c) => c }
      if (ctes.contains(Cte)) embeddingReaders += 1
      if (ctes.isEmpty) assert(got === raw, name)
      else {
        val recursive = raw.trim.toLowerCase.startsWith("with recursive")
        val head = (if (recursive) "WITH RECURSIVE " else "WITH ") + ctes.mkString(",\n")
        assert(got.startsWith(head), s"oracle $name lacks its admissibility CTE")
        // after the prefix comes the raw oracle verbatim, less only a
        // leading WITH [RECURSIVE] that the prefix now carries
        val tail = got.substring(head.length)
        if (tail.startsWith("\n")) assert(tail.tail === raw, name)
        else {
          val rest = tail.stripPrefix(",\n")
          assert(tail.startsWith(",\n") && raw.endsWith(rest), name)
          val keyword = raw.dropRight(rest.length).trim.toLowerCase.split("\\s+").mkString(" ")
          assert(keyword === (if (recursive) "with recursive" else "with"), name)
        }
      }
    }
    assert(embeddingReaders > 0)
  }

  test("no raw oracle reads main.embeddings or main.documents past the CTE") {
    for ((name, raw) <- SparkEntry.rawOracles; t <- Seq("main.embeddings", "main.documents"))
      assert(!raw.toLowerCase.contains(t),
        s"oracle $name reads $t, which bypasses the admissibility CTE")
  }
}
