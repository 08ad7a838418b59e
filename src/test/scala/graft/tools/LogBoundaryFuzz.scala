package graft.tools

import org.apache.spark.sql.functions._

/** Engine side of the quantized-log boundary fuzz
  * (`tools/log_boundary_fuzz.py`): reads a parquet of (nc, ncv)
  * integer pairs, applies EXACTLY the per-term kernel
  * [[graft.operators.Privacy.entropyLDiversityAudit]] folds —
  * `floor(1e6 * log(nc / ncv))` evaluated through Spark expressions
  * (so codegen'd `java.lang.Math.log` semantics, not a driver-side
  * reimplementation) — and writes (nc, ncv, q_spark) for the Python
  * driver to compare against DuckDB libm and a 40-digit Decimal
  * ground truth. Also prints the driver-side threshold constant
  * `math.floor(1e6 * math.log(l))` for l in [2, 1024], the other
  * half of the audit's comparison, as one CSV line per l on stdout
  * prefixed `THRESH,` (the Python driver parses these).
  */
object LogBoundaryFuzz {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: LogBoundaryFuzz <pairsParquet> <outParquet>")
    val spark = graft.core.GraftSession.local("graft-log-boundary-fuzz")
    spark.read.parquet(args(0))
      // the SHIPPING kernel, by reference — including the round-15
      // snap-to-integer guard band
      .withColumn("q_spark",
        graft.operators.Privacy.quantizedLogTerm(col("nc"), col("ncv")))
      .write.mode("overwrite").parquet(args(1))
    (2 to 1024).foreach { l =>
      println(s"THRESH,$l,${math.floor(1e6 * math.log(l.toDouble)).toLong}")
    }
    spark.stop()
  }
}
