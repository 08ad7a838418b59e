package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Generator-composed differential for the oracle-side quarantine
  * ([[SparkEntry.withAdmissible]]): QuarantineMirrorSpec pins curated
  * forms; this suite COMPOSES random SELECT/FROM/JOIN/IN/CASE/OVER
  * shapes, with `embeddings` appearing as both a TABLE reference and a
  * COLUMN reference, under an optional leading `WITH` / `WITH
  * RECURSIVE` list in mixed case. The admissibility CTE binds exactly
  * the table references (DuckDB name resolution), so the property is
  * that the prefix lands in the right place and everything else of the
  * statement is byte-identical: the expected rendering is assembled from
  * the generated parts, not from the helper's own logic.
  */
object QuarantineRewriteProperties extends Properties("QuarantineRewrite") {

  private val cte = "embeddings AS (SELECT * FROM main.embeddings WHERE " +
    s"${graft.core.Tables.embeddingsAdmissibleSql})"

  private val ident: Gen[String] = Gen.oneOf("a", "b2", "val3", "x_y")

  /** SELECT-list items: column uses of `embeddings`, plus a subquery
    * whose FROM read is a table reference.
    */
  private val selItem: Gen[String] = Gen.oneOf(
    ident,
    Gen.const("embeddings"),
    ident.map(i => s"embeddings.$i"),
    Gen.const("embeddings(1)"),
    ident.map(i => s"f($i, embeddings)"),
    ident.map(i => s"CASE WHEN $i > 0 THEN embeddings ELSE 0 END"),
    ident.map(i => s"$i IN (1, embeddings)"),
    Gen.const("'str, with comma'"),
    ident.map(i => s"sum($i) OVER (PARTITION BY $i, embeddings)"),
    ident.map(i => s"(SELECT max($i) FROM embeddings)"))

  /** FROM-list items: table references, bare or aliased. */
  private val fromItem: Gen[String] = Gen.oneOf(
    Gen.oneOf("t1", "t2", "docs"),
    Gen.const("embeddings"),
    Gen.oneOf("embeddings e", "embeddings emb", "embeddings AS ali"),
    Gen.const("(SELECT x FROM embeddings) q"))

  private val sepG: Gen[String] = Gen.oneOf(", ", ",", " , ", ",  ")

  private val joinClause: Gen[String] = Gen.oneOf(
    "", " JOIN embeddings ON a = b", " LEFT JOIN embeddings x ON a = x.v",
    " CROSS JOIN embeddings", " JOIN t2 ON t2.k = a AND b = 1, embeddings")

  private val whereClause: Gen[String] =
    Gen.oneOf("", " WHERE x IN (a, embeddings)", " WHERE a > 0")

  private val tailClause: Gen[String] =
    Gen.oneOf("", " GROUP BY a, embeddings", " ORDER BY b, embeddings")

  private def list(item: Gen[String]): Gen[String] = for {
    n <- Gen.choose(1, 3)
    items <- Gen.listOfN(n, item)
    seps <- Gen.listOfN(n - 1, sepG)
  } yield items.head + seps.zip(items.tail).map { case (s, i) => s + i }.mkString

  private val statement: Gen[String] = for {
    s <- list(selItem)
    f <- list(fromItem)
    jc <- joinClause
    wc <- whereClause
    tc <- tailClause
  } yield s"SELECT $s FROM $f$jc$wc$tc"

  /** (leading keyword as written, canonical keyword or "" for none,
    * the statement's own CTE list).
    */
  private val head: Gen[(String, String, String)] = Gen.oneOf(
    ("", "", ""),
    ("\n  ", "", ""),
    ("WITH ", "WITH", "t1 AS (SELECT 1 AS a) "),
    ("with\n", "WITH", "t1 AS (SELECT 1 AS a),\nt2 AS (SELECT * FROM embeddings) "),
    ("WITH RECURSIVE ", "WITH RECURSIVE",
      "r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 3) "),
    ("  With Recursive\n\t", "WITH RECURSIVE",
      "r(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r, embeddings WHERE n < 3) "))

  property("rewrite-iff-table-reference over composed statements") =
    forAll(head, statement) { case ((written, keyword, ctes), stmt) =>
      val in = written + ctes + stmt
      val expected =
        if (keyword.isEmpty) s"WITH $cte\n$in"
        else s"$keyword $cte,\n$ctes$stmt"
      val got = SparkEntry.withAdmissible(in, "embeddings",
        graft.core.Tables.embeddingsAdmissibleSql)
      if (got != expected)
        println(s"input:    $in\nexpected: $expected\ngot:      $got")
      got == expected
    }
}
