package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Registry of every driver-pull site in `src/main` — the
  * "every `.collect()` is bounded" invariant, codified (verdict r15
  * item 4: the claim was re-audited by hand each round; now an
  * UNREGISTERED pull fails this spec instead of waiting for the
  * audit).
  *
  * Mechanics: grep `src/main/scala` for `.collect(` / `.head(` /
  * `.first(` / `.take(` and compare per-file match counts against the
  * allowlist below. Each entry cites the BOUND that makes its pulls
  * driver-safe at 100 TB (scalar aggregate, ≤ k centroids, file
  * manifest, plain Scala collection). Adding a pull without
  * registering it — or removing one and leaving the registry stale —
  * fails with the file and the delta, so the registry can never drift
  * from the code. Count-based, not line-based, so unrelated edits
  * never break it; a same-file swap of one bounded pull for an
  * unbounded one is what the per-entry bound NOTE is for — reviewers
  * check the note against the diff when the count moves.
  */
class BoundedCollectRegistrySpec extends AnyFunSuite {

  /** file (relative to src/main/scala/graft) -> (expected sites, bound). */
  private val registry: Map[String, (Int, String)] = Map(
    "Bench.scala" -> (4,
      "plain Scala collection .take on driver-side result lists (top-8/12 report slices of the one record renderer, plus the top-8 retry log line); no Spark pull"),
    "cli/Main.scala" -> (1,
      "args.take(3) on the CLI argument array; no Spark pull"),
    "operators/HeavyHitters.scala" -> (1,
      "single-row scalar aggregate (global count) — 1 row"),
    "operators/Similarity.scala" -> (4,
      "aggregator finish .take(k) per group (k ≤ 64); memoized quantizer training sample (≤ max(nCodes·32, 512) rows); corpus fingerprint scalar agg (1 row); distinct probe cells (≤ nCells ≤ 64)"),
    "operators/Clustering.scala" -> (4,
      "k-center seed (1 row); k-center round argmax (scalar agg); dim probe take(1); power-iteration round (dim rows); the Lloyd fits' seeds and rounds pull through treeAggregate (≤ kc·kf vectors per merge), which the pattern does not match"),
    "operators/Dedup.scala" -> (1,
      "fixed-point convergence check: scalar sum aggregate (1 row)"),
    "operators/Dsir.scala" -> (1,
      "corpus totals: scalar aggregate (1 row)"),
    "operators/Lakehouse.scala" -> (1,
      "compaction file manifest (≤ files-per-table, a metadata-scale list)"),
    "operators/Retrieval.scala" -> (1,
      "BM25 corpus stats: scalar aggregate (1 row)"),
    "operators/Export.scala" -> (2,
      "max(shard)/max(id) scalar aggregates (1 row each)"),
    "operators/Layout.scala" -> (1,
      "kept-file manifest (≤ files-per-table, a metadata-scale list)"),
    "operators/PairStrategy.scala" -> (1,
      "distinct-entity count: scalar aggregate (1 row)"),
    "operators/GeoBlocking.scala" -> (1,
      "max(|lat|) scalar aggregate (1 row)"),
    "functions/Bpe.scala" -> (2,
      "learned vocab (≤ vocabSize merges); best-pair pull limit(1)"),
    "queries/SamplingQueries.scala" -> (3,
      "corpus fingerprints / id-range midpoint: scalar aggregates (1 row each)"),
    "queries/MultimodalQueries.scala" -> (2,
      "max(asset_id) scalar aggregates (1 row each)"),
    "queries/TextQueries.scala" -> (2,
      "max(doc_id) scalar aggregate (1 row); corpus token total: scalar aggregate over the vocab-sized memoized unigram artifact (1 row)")
  )

  private val pullPattern = """\.(collect|head|first|take)\(""".r

  test("every driver-pull site in src/main is registered with its bound") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"expected to run from the repo root; missing $root")
    val counts: Map[String, Int] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .map { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        // strip line comments so a commented-out pull doesn't register;
        // block comments/scaladoc lines rarely contain call syntax and
        // the conservative direction (counting them) only over-reports
        val src = Files.readString(p).linesIterator
          .map(l => l.indexOf("//") match { case -1 => l; case i => l.substring(0, i) })
          .mkString("\n")
        rel -> pullPattern.findAllIn(src).size
      }
      .filter(_._2 > 0).toMap

    val unregistered = counts.filterNot { case (f, _) => registry.contains(f) }
    assert(unregistered.isEmpty,
      s"driver-pull sites in UNREGISTERED files — add them to the registry " +
        s"with the bound that makes each pull driver-safe, or make the " +
        s"operator distributed: $unregistered")

    val stale = registry.keys.filterNot(counts.contains).toSeq.sorted
    assert(stale.isEmpty,
      s"registry entries with no remaining pull sites — remove them so the " +
        s"registry stays exact: $stale")

    val drifted = registry.flatMap { case (f, (expected, bound)) =>
      counts.get(f).filter(_ != expected).map(actual =>
        s"$f: expected $expected pull sites, found $actual (registered bound: $bound)")
    }.toSeq.sorted
    assert(drifted.isEmpty,
      "per-file pull-site counts drifted — re-audit the file's pulls and " +
        "update both the count and the bound note:\n" + drifted.mkString("\n"))
  }
}
