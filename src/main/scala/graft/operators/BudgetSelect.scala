package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality-ranked selection to a token budget — "take the best
  * documents until the budget is spent", the final gate of a curation
  * pipeline sizing a training mix. Semantically: order the corpus by
  * (score DESC, id ASC), keep the longest prefix whose token sum fits
  * the budget.
  *
  * The naive form is a corpus-wide ordered running sum — one
  * unpartitioned window through a single task. This implementation
  * splits the cumsum by SCORE BUCKET instead: per-score token totals
  * (a map-side-combinable agg to score-cardinality rows), a running
  * sum over that tiny frame to classify each score as fully-in,
  * fully-out, or THE boundary, and an ordered window only over the
  * single boundary score's documents. At any corpus size the
  * unpartitioned work is score-cardinality + one score's documents —
  * never the corpus. Integer scores and token counts keep the result
  * identical to the naive global cumsum (the DuckDB oracle runs
  * exactly that naive form).
  */
object BudgetSelect {

  /** @param scoreCol integral quality score (higher = better)
    * @param tokCol   integral token count, > 0 for countable docs
    * @return input columns + `selected` (the budget-prefix membership)
    */
  def selectToTokenBudget(docs: DataFrame, idCol: String, tokCol: String,
                          scoreCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val d = docs.select(col(idCol), col(tokCol).cast("long").as(tokCol),
      col(scoreCol).cast("long").as(scoreCol))
    // per-score totals: score-cardinality rows; the running sum below
    // runs over THIS frame, not the corpus
    val byScore = d.groupBy(col(scoreCol)).agg(sum(col(tokCol)).as("_bs_tot"))
    val wDesc = Window.orderBy(col(scoreCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byScore.withColumn("_bs_before",
      coalesce(sum(col("_bs_tot")).over(wDesc), lit(0L)))
    val classified = cum.select(col(scoreCol), col("_bs_before"),
      (col("_bs_before") + col("_bs_tot") <= budget).as("_bs_full"),
      (col("_bs_before") < budget &&
        col("_bs_before") + col("_bs_tot") > budget).as("_bs_boundary"))
    val joined = d.join(broadcast(classified), Seq(scoreCol))
    val settled = joined.where(!col("_bs_boundary"))
      .select(col(idCol), col(tokCol), col(scoreCol),
        col("_bs_full").as("selected"))
    // the ordered window runs ONLY over the single boundary score's
    // documents (filtered first — id-ordered, the same tie order as
    // the naive global cumsum)
    val wIn = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.where(col("_bs_boundary"))
      .withColumn("_bs_within", sum(col(tokCol)).over(wIn))
      .select(col(idCol), col(tokCol), col(scoreCol),
        (col("_bs_before") + col("_bs_within") <= budget).as("selected"))
    settled.unionByName(boundary)
  }
}
