package graft.expressions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, and graft's optimizer rules and
  * planner strategy. Activate with
  * `.config("spark.sql.extensions", "graft.expressions.GraftExtensions")`
  * (GraftSession does this). The [[GraftFunctions]] Column wrappers of
  * the registered functions resolve through that registration; the
  * expressions that carry driver-held tables (k-means centroids, PQ
  * codebooks, BPE ranks, bloom bits) are built directly through
  * [[org.apache.spark.sql.graft.ColumnBridge]] and need none.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.IntegerType

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def inject(ext: SparkSessionExtensions, name: String, clazz: Class[_],
                     builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => builder(children)
    ): (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollectSizeToCount)
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
    ext.injectPlannerStrategy(_ => new graft.plans.TopKStrategy)
    inject(ext, "token_fingerprint", classOf[TokenFingerprint], { cs =>
      require(cs.size == 1, "token_fingerprint takes exactly one argument")
      TokenFingerprint(cs.head)
    })
    inject(ext, "hashed_shingles", classOf[HashedShingles], { cs =>
      require(cs.size == 2, "hashed_shingles(text, n)")
      HashedShingles(cs.head, intArg(cs(1), "shingle size"))
    })
    inject(ext, "explode_shingles", classOf[ShingleGenerator], { cs =>
      require(cs.size == 2, "explode_shingles(text, n)")
      ShingleGenerator(cs.head, intArg(cs(1), "shingle size"))
    })
    inject(ext, "token_hashes", classOf[TokenHashes], { cs =>
      require(cs.size == 1, "token_hashes takes exactly one argument")
      TokenHashes(cs.head)
    })
    inject(ext, "top_ngram_ratio", classOf[TopNgramRatio], { cs =>
      require(cs.size == 2, "top_ngram_ratio(text, n)")
      TopNgramRatio(cs.head, intArg(cs(1), "ngram size"))
    })
    inject(ext, "simhash64", classOf[SimHash64], { cs =>
      require(cs.size == 1, "simhash64 takes exactly one argument")
      SimHash64(cs.head)
    })
    inject(ext, "hilbert_index", classOf[HilbertIndex], { cs =>
      require(cs.size == 3, "hilbert_index(x, y, order)")
      HilbertIndex(cs.head, cs(1), intArg(cs(2), "hilbert order"))
    })
    inject(ext, "minhash_sig", classOf[MinHashSig], { cs =>
      require(cs.size == 2, "minhash_sig(shingles, k)")
      MinHashSig(cs.head, intArg(cs(1), "signature length"))
    })
    inject(ext, "dot_product", classOf[DotProduct], { cs =>
      require(cs.size == 2, "dot_product(a, b)")
      DotProduct(cs.head, cs(1))
    })
    inject(ext, "sorted_intersect_count", classOf[SortedIntersectCount], { cs =>
      require(cs.size == 2, "sorted_intersect_count(a, b)")
      SortedIntersectCount(cs.head, cs(1))
    })
    inject(ext, "varint_encode", classOf[VarintEncode], { cs =>
      require(cs.size == 1, "varint_encode(array<bigint>)")
      VarintEncode(cs.head)
    })
    inject(ext, "varint_decode", classOf[VarintDecode], { cs =>
      require(cs.size == 1, "varint_decode(binary)")
      VarintDecode(cs.head)
    })
  }
}

/** Column-API wrappers for graft's native expressions. Requires the
  * session to be built with the [[GraftExtensions]] extension
  * (GraftSession does this) — resolution goes through the session
  * function registry.
  */
object GraftFunctions {
  def tokenFingerprint(c: Column): Column =
    org.apache.spark.sql.functions.call_function("token_fingerprint", c)

  def hashedShingles(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "hashed_shingles", c, org.apache.spark.sql.functions.lit(n))

  def tokenHashes(c: Column): Column =
    org.apache.spark.sql.functions.call_function("token_hashes", c)

  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)

  def hilbertIndex(x: Column, y: Column, order: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "hilbert_index", x, y, org.apache.spark.sql.functions.lit(order))

  def topNgramRatio(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "top_ngram_ratio", c, org.apache.spark.sql.functions.lit(n))

  def minhashSig(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_sig", c, org.apache.spark.sql.functions.lit(k))

  def dotProduct(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_product", a, b)

  /** struct(cluster, qdist) argmin assignment of a quantized
    * array<bigint> column against driver-held centroids, bound into
    * the expression through [[org.apache.spark.sql.graft.ColumnBridge]].
    */
  def kmeansArgmin(q: Column, cents: Seq[Seq[Long]], labels: Seq[Long]): Column =
    ColumnBridge.column(KmeansArgmin(ColumnBridge.expression(q), cents, labels))

  /** struct(cluster, qdist) argmin of the quantized vector against the
    * fine-centroid slice its coarse cell selects (two-level k-means).
    */
  def kmeansArgmin2l(cell: Column, q: Column, cents: Seq[Seq[Seq[Long]]],
                     labels: Seq[Seq[Long]]): Column =
    ColumnBridge.column(KmeansArgmin2L(ColumnBridge.expression(cell),
      ColumnBridge.expression(q), cents, labels))

  def sortedIntersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sorted_intersect_count", a, b)

  def varintEncode(c: Column): Column =
    org.apache.spark.sql.functions.call_function("varint_encode", c)

  def varintDecode(c: Column): Column =
    org.apache.spark.sql.functions.call_function("varint_decode", c)
}
