package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFns
import graft.operators.Dedup

/** Text-analysis and deduplication extension queries over `documents`
  * (LLM training-data pipeline ops). Every query is value-level
  * oracle-checked: even the hash-kernel signatures (FNV-1a simhash)
  * are rebuilt exactly in DuckDB SQL; the MinHash/banding pipelines
  * are gated by planted-copy invariant oracles plus ScalaTest
  * property specs.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  private val sqlWords = Seq("join", "filter", "group", "sort", "agg", "query")
  private val infraWords = Seq("spark", "batch", "stream", "hash", "merge", "scan")
  private val dataWords = Seq("data", "row", "column", "table", "value", "key")

  /** Shared corpus LM count artifacts (the graph-tier memo pattern
    * applied to the text tier): three bench queries — text_bigram_lm,
    * text_kn_bigram_lm, text_ppl_buckets — each re-derived the SAME
    * unigram/bigram count tables with their own full-corpus explode +
    * aggregation passes. The counts are deterministic functions of the
    * corpus, vocabulary-bounded (they already broadcast in every
    * consumer plan), and memoized on `documents` via
    * [[graft.core.ArtifactMemo]], so they materialize once per session
    * and corpus stamp and every consumer reads the checkpointed
    * tables. Oracle semantics untouched: the DuckDB twin re-derives the
    * counts per query either way and the values are bit-identical.
    *
    * nTotal (corpus token count) folds over the MATERIALIZED unigram
    * table — a vocab-sized scalar job, not the full-corpus count()
    * the unmemoized form paid; nB (distinct bigrams) likewise counts
    * the materialized bigram table.
    */
  private final case class LmArtifacts(uni: DataFrame, bi: DataFrame,
                                       nTotal: Long, nB: Long)
  private val lmArtMemo = new graft.core.ArtifactMemo[LmArtifacts]
  private val lmScoresMemo = new graft.core.ArtifactMemo[DataFrame]
  private val dupSpanMemo = new graft.core.ArtifactMemo[DataFrame]
  private val bpeMergeMemo = new graft.core.ArtifactMemo[Vector[(String, String)]]
  private def docsInput(dir: String): Seq[String] = Seq(Tables.path(dir, "documents"))

  private def lmArtifacts(spark: SparkSession, dir: String): LmArtifacts =
    lmArtMemo.get(spark, docsInput(dir)) {
      import graft.core.GraftSession.LineageOps
      val toks = Tables.documents(spark, dir)
        .select(split(col("text"), " ").as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cu"))
        .truncateLineage()
      val bi = toks.select(explode(TextFns.shingles(col("t"), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("c"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .truncateLineage()
      val nTotal = uni.agg(coalesce(sum(col("cu")), lit(0L)).as("n"))
        .head().getLong(0) // scalar over the vocab-sized artifact (1 row)
      LmArtifacts(uni, bi, nTotal, bi.count())
    }

  /** The bigram-LM per-doc score table, memoized for its DOWNSTREAM
    * consumer only: text_ppl_buckets reads it three times (corpus
    * count, rank histogram, final bucket join) and does live bucket
    * work on top — doc-keyed, one row per document, checkpointed like
    * the graph tier's edge artifacts. The declared query
    * text_bigram_lm does NOT read this memo: a declared query must
    * execute a live corpus plan every invocation (r16 verdict item 1 —
    * returning the memo verbatim is result caching, not sharing).
    */
  private def lmScores(spark: SparkSession, dir: String): DataFrame =
    lmScoresMemo.get(spark, docsInput(dir)) {
      import graft.core.GraftSession.LineageOps
      bigramLmScores(spark, dir).truncateLineage()
    }

  /** Dup-span gram profile memoized for text_dup_by_source (which
    * rolls it up by source with its own live join + aggregate) — same
    * (nGram=5, minDocFreq=2) parameters, doc-keyed output. The
    * declared query text_dup_span_profile runs Dedup.dupSpanProfile
    * live instead of reading this memo (r16 verdict item 1).
    */
  private def dupSpanProf(spark: SparkSession, dir: String): DataFrame =
    dupSpanMemo.get(spark, docsInput(dir)) {
      import graft.core.GraftSession.LineageOps
      Dedup.dupSpanProfile(Tables.documents(spark, dir), "doc_id", "text",
        nGram = 5, minDocFreq = 2).truncateLineage()
    }

  /** Fitted BPE merge table shared by text_bpe_tokens and
    * text_tokenizer_fertility (identical corpus + defaults): a
    * bounded driver-held Vector (≤ nMerges pairs).
    */
  private[graft] def bpeFit(spark: SparkSession, dir: String): Vector[(String, String)] =
    bpeMergeMemo.get(spark, docsInput(dir))(
      graft.functions.Bpe.fitFromCorpus(Tables.documents(spark, dir), col("text")))

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on full text.
    "dedup_exact" -> ((spark, dir) => {
      Dedup.exactGroups(Tables.documents(spark, dir), md5(col("text")), col("doc_id"))
    }),

    // Exact dedup on a normalized key (40-char prefix) — nontrivial
    // groups exist in the fixtures.
    "dedup_prefix" -> ((spark, dir) => {
      Dedup.exactGroups(Tables.documents(spark, dir),
        md5(substring(col("text"), 1, 40)), col("doc_id"))
    }),

    // Blocked exact n-gram Jaccard near-dup pairs (lang+source blocks).
    "dedup_ngram_jaccard" -> ((spark, dir) => {
      Dedup.blockedJaccardPairs(Tables.widen(Tables.documents(spark, dir)),
        "doc_id", "text", Seq("lang", "source"), shingleN = 2, threshold = 0.3)
    }),

    // MinHash+LSH end-to-end guarantee harness: plant an exact copy of
    // every document (id+1e6) in the corpus and run the full
    // shingle→signature→band→bucket-join pipeline. An exact copy has an
    // identical signature, so EVERY band collides — the planted pair
    // must surface with Jaccard 1.0 for every doc with at least one
    // shingle (no-shingle docs — null text or a single token — have no
    // set to compare and report false/-1 by contract). That makes the
    // recall floor of the approximate pipeline oracle-checkable (the
    // probabilistic near-dup pairs remain covered by DedupSpec's
    // recall/precision tests against blocked exact Jaccard).
    "dedup_minhash" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val planted = docs.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      val pairs = Dedup.minhashLshPairs(docs.union(planted), "doc_id", "text",
        shingleN = 2, k = 32, rowsPerBand = 4, threshold = 0.5)
      docs.select(col("doc_id"))
        .join(pairs.where(col("doc_b") === col("doc_a") + lit(1000000L))
            .select(col("doc_a").as("doc_id"), col("jaccard")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("jaccard").isNotNull.as("planted_dup_found"),
          coalesce(col("jaccard"), lit(-1.0)).as("jaccard"))
    }),

    // SimHash: the PRODUCTION operator — a zero-shuffle projection
    // through the native one-pass simhash64 expression. Fully
    // value-level oracle-checked: the token kernel is FNV-1a 64 (a
    // published, seed-free recurrence), so DuckDB rebuilds the exact
    // signature from first principles — per-char FNV fold via
    // list_reduce in 128-bit modular arithmetic, 64 sign-votes,
    // bit reassembly — and the driver hash-compares the two engines'
    // signatures bit for bit. DedupSpec keeps the in-engine
    // differential rebuild as a second, independent witness.
    "dedup_simhash" -> ((spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash64"))
    }),

    // SimHash-banded near-dup pairs, planted-copy guarantee harness
    // (dedup_minhash pattern): an exact copy has an identical
    // signature, so it collides in EVERY band and must surface with
    // hamming 0 for every doc with a signature (null text has none,
    // and reports false/-1) — the pigeonhole completeness of the
    // band join, oracle-stated as an invariant. Probabilistic near-dup
    // recall is pinned separately in DedupSpec against brute force.
    "dedup_simhash_pairs" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      // planted-copy offset DERIVED from the corpus (one tiny agg) —
      // a hardcoded offset silently collides with real ids the day
      // the corpus outgrows it, voiding the invariant being checked
      val maxRow = docs.agg(max(col("doc_id"))).head()
      require(!maxRow.isNullAt(0),
        "dedup_simhash_pairs needs a non-empty corpus to derive the planted-copy offset")
      val offset = maxRow.getLong(0) + 1L
      val planted = docs.select((col("doc_id") + lit(offset)).as("doc_id"), col("text"))
      val pairs = Dedup.simhashBandPairs(docs.union(planted), "doc_id", "text",
        nBands = 4, maxHamming = 3)
      docs.select(col("doc_id"))
        .join(pairs.where(col("doc_b") === col("doc_a") + lit(offset))
            .select(col("doc_a").as("doc_id"), col("hamming")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("hamming").isNotNull.as("planted_dup_found"),
          coalesce(col("hamming"), lit(-1L)).as("hamming"))
    }),

    // Repetition signals (Gopher-style quality filters): fraction of
    // the doc covered by its most frequent word / word-bigram. One
    // native per-row kernel (expressions.TopNgramRatio) — a zero-
    // shuffle projection. The previous explode + two-level-agg form
    // shuffled corpus×tokens TWICE and was the engine's slowest query;
    // per-doc statistics never needed cross-row state at all. The
    // oracle still counts exploded strings, so the native kernel is
    // differentially checked against the declarative semantics.
    "text_repetition" -> ((spark, dir) => {
      import graft.expressions.GraftFunctions
      Tables.documents(spark, dir).select(col("doc_id"),
        round(GraftFunctions.topNgramRatio(col("text"), 1), 4).as("top_word_ratio"),
        round(GraftFunctions.topNgramRatio(col("text"), 2), 4).as("top_bigram_ratio"))
    }),

    // Subword (BPE) token counting: a deterministic greedy merge
    // table fitted on the corpus's bounded top-K word sample
    // (quantizer-sample pattern), applied as a zero-shuffle native
    // projection. The count itself has no DuckDB twin (the table is a
    // fitted model), so the oracle is an invariant harness: the
    // DuckDB-exact companions (ws tokens, nonempty words, nonspace
    // chars) hash-match, and every document must satisfy
    // n_words <= n_bpe <= n_nonspace_chars (each word is at least one
    // token; no token is shorter than one char). The value-level
    // guarantee — priority apply == sequential reference apply,
    // 0 merges == char count, monotone compression — lives in BpeSpec.
    // Tokenizer fertility per language (subword tokens per word —
    // the per-language cost metric tokenizer teams track: a high-
    // fertility language pays more context budget per word). The
    // merge table is a fitted model with no SQL twin, so the oracle
    // is the invariant harness: word/char companions are DuckDB-exact
    // per language, and fertility must sit in [1, chars-per-word]
    // ×1e4 (every word is ≥1 token; no token shorter than a char).
    "text_tokenizer_fertility" -> ((spark, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val docs = Tables.documents(spark, dir)
      val ranks = graft.functions.Bpe.ranksOf(bpeFit(spark, dir))
      val bpe = ColumnBridge.column(graft.expressions.BpeTokenCount(
        ColumnBridge.expression(col("text")), ranks))
      docs.select(col("lang"),
          size(filter(TextFns.tokens(col("text")), w => length(w) > 0))
            .cast("long").as("nw"),
          length(translate(col("text"), " ", "")).cast("long").as("nc"),
          bpe.as("nb"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw")).as("n_words"),
          sum(col("nc")).as("n_nonspace_chars"),
          sum(col("nb")).as("__nb"))
        // nullif: a language whose documents are all empty has
        // n_words = 0 — ANSI integral division would abort the job;
        // the invariant is vacuous there, so bounds_ok goes NULL.
        .withColumn("__f", expr("(__nb * 10000) div nullif(n_words, 0)"))
        .withColumn("bounds_ok",
          col("__f") >= 10000L &&
            col("__f") <= expr("(n_nonspace_chars * 10000) div nullif(n_words, 0)"))
        .drop("__nb", "__f")
    }),

    "text_bpe_tokens" -> ((spark, dir) => {
      import org.apache.spark.sql.graft.ColumnBridge
      val docs = Tables.documents(spark, dir)
      val ranks = graft.functions.Bpe.ranksOf(bpeFit(spark, dir))
      val bpe = ColumnBridge.column(graft.expressions.BpeTokenCount(
        ColumnBridge.expression(col("text")), ranks))
      docs.select(col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(filter(TextFns.tokens(col("text")), w => length(w) > 0))
            .cast("long").as("n_words"),
          length(translate(col("text"), " ", "")).cast("long").as("n_nonspace_chars"),
          bpe.as("nb"))
        .select(col("doc_id"), col("n_ws_tokens"), col("n_words"),
          col("n_nonspace_chars"),
          (col("nb") >= col("n_words") && col("nb") <= col("n_nonspace_chars"))
            .as("bounds_ok"))
    }),

    // Distributed corpus-EXACT BPE merge training (the Sennrich
    // algorithm at tokenizer-training scale): unlike text_bpe_tokens'
    // bounded top-K sample fit, merges here are chosen from pair
    // counts over the FULL distinct-word table — one vocab-sized hash
    // aggregation + a single-row argmax pull per round, the word
    // table rewritten by a literal replace projection. Every step is
    // integer counting + deterministic string surgery, so the DuckDB
    // oracle unrolls the SAME 4 rounds as chained materialized CTEs
    // and matches bit for bit (the graph_pagerank/kmeans pattern).
    "text_bpe_train" -> ((spark, dir) => {
      graft.functions.Bpe.distributedFit(
        Tables.documents(spark, dir), col("text"), nMerges = 4)
    }),

    // Token counting: whitespace + regex tokenizations.
    "text_token_count" -> ((spark, dir) => {
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(TextFns.tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("n_re_tokens"),
          length(col("text")).cast("long").as("n_chars"))
    }),

    // Gopher-style quality filter cascade with per-rule attrition
    // audit (the table C4/Gopher publish next to the corpus): each doc
    // is attributed to the FIRST rule that drops it, so the funnel is
    // additive. All five predicates are integral cross-multiplications
    // (never ratio floats), so both engines agree exactly; the only
    // unpartitioned window runs over the 6-row funnel frame.
    "quality_filter_funnel" -> ((spark, dir) => {
      val toks = TextFns.tokens(col("text"))
      val n = size(toks).cast("long")
      val uniq = size(array_distinct(toks)).cast("long")
      val sumlen = aggregate(transform(toks, t => length(t)), lit(0),
        (acc, v) => acc + v).cast("long")
      val stopc = size(filter(toks,
        t => t.isin(Seq("the", "a").map(s => s: Any): _*))).cast("long")
      // Top-token count as a sort + run-length fold: O(n log n) per
      // document. The distinct×filter form this replaces re-scanned
      // the token array once per DISTINCT token — O(u·n) per row,
      // ~1e10 comparisons for a single 100k-token document with a
      // wide vocabulary, all inside one task. Max run length over the
      // sorted array equals max multiplicity, so the predicate value
      // is unchanged (run starts at 0, so a leading ""-token matching
      // the "" seed still counts 1). NULL text stays NULL through the
      // fold, matching array_max-over-NULL before.
      val maxc = aggregate(
        array_sort(toks),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, t) => {
          val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(1L)
          struct(t.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => when(acc.getField("best") === 0L, lit(null).cast("long"))
          .otherwise(acc.getField("best")))
      graft.operators.FilterFunnel.audit(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        Seq(
          "too_short" -> (n >= 20L),
          "word_len_outlier" -> !(sumlen * 10L < n * 42L || sumlen * 10L > n * 50L),
          "dominant_token" -> !(maxc * 10L > n * 2L),
          "low_diversity" -> (uniq * 100L >= n * 40L),
          "no_stopwords" -> (stopc > 0L)))
    }),

    // Quality scoring: length / uniqueness / stopword signals.
    "text_quality" -> ((spark, dir) => {
      val toks = TextFns.tokens(col("text"))
      val stop = Seq("the", "a")
      Tables.documents(spark, dir)
        .select(
          col("doc_id"),
          size(toks).cast("long").as("n_words"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 4).as("uniq_ratio"),
          round(aggregate(transform(toks, t => length(t)), lit(0),
            (acc, v) => acc + v).cast("double") / size(toks), 4).as("avg_word_len"),
          round(size(filter(toks, t => t.isin(stop.map(s => s: Any): _*)))
            .cast("double") / size(toks), 4).as("stopword_ratio"))
    }),

    // Language-ID heuristic: keyword-set overlap argmax.
    "text_langid" -> ((spark, dir) => {
      val toks = array_distinct(TextFns.tokens(col("text")))
      def score(ws: Seq[String]) =
        size(array_intersect(toks, array(ws.map(lit): _*))).cast("long")
      Tables.documents(spark, dir)
        .withColumn("s_sql", score(sqlWords))
        .withColumn("s_infra", score(infraWords))
        .withColumn("s_data", score(dataWords))
        .select(col("doc_id"),
          when(col("s_sql") >= col("s_infra") && col("s_sql") >= col("s_data"), "sql")
            .when(col("s_infra") >= col("s_data"), "infra")
            .otherwise("data").as("lang_pred"),
          col("s_sql"), col("s_infra"), col("s_data"))
    }),

    // Heavy hitters over the corpus vocabulary: Misra-Gries sketch
    // nominates candidates (bounded memory, provable superset), an
    // exact count over the broadcast candidate set filters to the true
    // frequent words — output exact, so fully oracle-checked.
    // Block-partitioned inverted index (the Lucene/retrieval-shard
    // build): postings are grouped into fixed doc-id-range BLOCKS of
    // 128, so no aggregation ever collects an unbounded posting list
    // — a stop-word's postings at 100 TB split across blocks, each
    // bounded by the block width, and lookups prune blocks by range.
    // Per-block postings are sorted and delta-encoded (first entry
    // raw), the index compression posting lists actually ship with;
    // term-total df rides a term-partitioned window over the
    // block-cardinality frame.
    "text_inverted_index" -> ((spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      postingBlocks(spark, dir)
        .withColumn("df", sum(col("n_in_block")).over(w))
        .withColumn("deltas", array_join(transform(col("deltas_arr"),
          x => x.cast("string")), ","))
        .select(col("term"), col("block_id"), col("df"),
          col("n_in_block"), col("deltas"))
    }),

    // The posting blocks through the native LEB128 varint codec (the
    // byte encoding Lucene ships): encode runs as a codegen'd kernel
    // over the delta array, n_bytes is the exact Σ(1+⌊bits/7⌋) the
    // oracle rebuilds with an integer CASE ladder, and the roundtrip
    // contract (decode ∘ encode = postings) is asserted per block
    // inside the query. The compressed-index write path, gate-checked
    // at real byte granularity.
    "text_posting_codec" -> ((spark, dir) => {
      import graft.expressions.GraftFunctions
      postingBlocks(spark, dir)
        .withColumn("enc", GraftFunctions.varintEncode(col("deltas_arr")))
        .select(col("term"), col("block_id"), col("n_in_block"),
          length(col("enc")).cast("long").as("n_bytes"),
          (GraftFunctions.varintDecode(col("enc")) === col("deltas_arr"))
            .as("roundtrip_ok"))
    }),

    "text_heavy_hitters" -> ((spark, dir) => {
      val words = Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
      graft.operators.HeavyHitters.topItems(
        words, "word", minFreqFraction = 0.01, sketchK = 256)
    }),

    // Count-Min sketch frequency estimation — the fixed-memory
    // mergeable counter for vocabularies too wide to groupBy exactly
    // (complements Misra-Gries top-k and HLL cardinality). Depth-4 ×
    // width-256 sketch keyed by the seed-free FNV-1a family
    // (row d hashes "d:word"), so DuckDB rebuilds the ENTIRE sketch
    // cell-for-cell and the estimates match exactly; the CMS
    // never-underestimates contract is asserted per word. Scale: the
    // sketch build is one map-side-combinable agg to 1024 cells; the
    // probe is 4 broadcast joins against those cells.
    "sketch_cms_estimate" -> ((spark, dir) => {
      import graft.expressions.GraftFunctions
      val depth = 4
      val width = 256L
      def cmsCol(w: Column, d: Int): Column =
        pmod(GraftFunctions.tokenHashes(concat(lit(s"$d:"), w)).getItem(0),
          lit(width))
      val words = Tables.documents(spark, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
      val cells = words
        .select(posexplode(array((0 until depth).map(d =>
          cmsCol(col("w"), d)): _*)).as(Seq("d", "cell")))
        .groupBy("d", "cell").agg(count(lit(1)).as("cell_c"))
      val top = words.groupBy("w").agg(count(lit(1)).as("true_c"))
        .orderBy(col("true_c").desc, col("w")).limit(20)
      (0 until depth).foldLeft(top) { (acc, d) =>
        acc.join(
          broadcast(cells.where(col("d") === d)
            .select(col("cell").as(s"cell$d"), col("cell_c").as(s"est$d"))),
          cmsCol(col("w"), d) === col(s"cell$d"))
          .drop(s"cell$d")
      }
        .select(col("w"), col("true_c"),
          least((0 until depth).map(d => col(s"est$d")): _*).as("est_c"))
        .withColumn("never_under", col("est_c") >= col("true_c"))
    }),

    // Compression-ratio quality signal (Gopher/RefinedWeb heuristic).
    // The DEFLATE size is zlib-deterministic but not portable
    // arithmetic → invariant-harness oracle: exact raw length + two
    // contract booleans (stored-block size bound; a doubled document
    // compresses to under twice the original — the back-reference
    // guarantee). Value-level properties pinned in CompressSpec.
    "text_zlib_signal" -> ((spark, dir) => {
      import graft.operators.Compressibility
      Compressibility.signals(spark, Tables.documents(spark, dir), "doc_id", "text")
        .toDF()
        .select(col("doc_id"), col("n_raw"),
          (col("n_deflate") <=
            expr("n_raw + 5 * greatest((n_raw + 16382) div 16383, 1) + 6")).as("within_bound"),
          (col("n_deflate_doubled") < col("n_deflate") * 2).as("doubled_better"))
    }),

    // PMI collocation mining (tokenizer/vocab analysis): bigrams that
    // co-occur far above chance, ranked by the integer-exact score
    // c_xy·1e6 div (c_x·c_y) — the PMI argument with its corpus-
    // constant factors dropped (ranking-invariant), kept in integral
    // arithmetic so both engines agree bit for bit. The products run
    // in 128-bit (DECIMAL(38,0) here, HUGEINT in the oracle): c_x·c_y
    // reaches ~1e23 for two stop words at a 1e13-token corpus — far
    // past BIGINT — while the quotient is ≤ 1e6 by construction, so
    // only the intermediates need width (the vec_power_iteration
    // precedent). Unigram table is vocabulary-sized → broadcast
    // twice; top-20 rides TakeOrderedAndProject (no full sort). Ties
    // broken by the (w1, w2) total order so the cutoff is
    // engine-deterministic.
    "text_pmi_collocations" -> ((spark, dir) => {
      import graft.core.GraftSession.LineageOps
      val toks = Tables.documents(spark, dir).select(split(col("text"), " ").as("t"))
      // ONE corpus tokenization pass counts unigrams and bigrams
      // together: 2-shingles always contain the separator space and
      // (post-filter) unigrams never do, so one explode of the
      // concatenated token+shingle array feeds one count aggregation
      // and the kind splits back out on contains-space (r17: 2 corpus
      // explodes + 2 split() passes → 1). The combined count table is
      // n-gram-vocabulary-sized (the same rows the two former
      // aggregates held) — materialized once because three consumers
      // (two unigram broadcasts, the bigram side) read it.
      val counts = toks.select(explode(concat(
          org.apache.spark.sql.functions.filter(col("t"), w => w =!= lit("")),
          TextFns.shingles(col("t"), 2))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .truncateLineage()
      val uni = counts.where(!col("tok").contains(" "))
        .select(col("tok").as("w"), col("c"))
      val bi = counts.where(col("tok").contains(" ") && col("c") >= 10)
        .select(col("tok").as("bg"), col("c").as("c_xy"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
      bi.join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))), Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))), Seq("w2"))
        .withColumn("score_x1e6",
          expr("(CAST(c_xy AS DECIMAL(38,0)) * 1000000)" +
            " div (CAST(c_x AS DECIMAL(38,0)) * c_y)"))
        .orderBy(col("score_x1e6").desc, col("w1"), col("w2"))
        .limit(20)
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
          col("score_x1e6"))
    }),

    // TF-IDF top terms per document: term frequencies × inverse
    // document frequency, top-3 terms per doc (keyword extraction).
    // df is a count window over the tf table — tf's group keys ARE the
    // distinct (doc, word) pairs, so the former second corpus explode
    // + distinct aggregate re-derived a table the tf aggregation
    // already held (r17: 2 corpus explodes → 1, 6 exchanges → 3; the
    // window/final exchanges carry candidate-sized rows, never corpus
    // text). The final top-k is the row_number pattern the TopKPerKey
    // operator plans.
    "text_tfidf_topterms" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val nDocs = docs.count() // corpus size: one scalar, known pre-plan
      val words = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      // df over tf's group keys, NOT a word-partitioned count window:
      // the window would re-shuffle + sort the full candidate table on
      // the skew-prone word key (stop words — §2), where this shape
      // folds to vocab-sized partials map-side and keeps the broadcast
      // probe. count(when(tf >= 1, ...)) — semantically count(*), but
      // referencing tf keeps the planner from pruning the first
      // aggregate's count into a plain distinct: pruned, the df
      // branch's exchange loses the count column, stops canonicalizing
      // equal to tf's, and ReusedExchange never fires (the corpus
      // explode then runs twice — verified in the r17 plan dumps).
      val idf = tf.groupBy("word")
        .agg(count(when(col("tf") >= 1, lit(1))).as("df"))
        .withColumn("idf", log(lit(nDocs.toDouble) / col("df")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("word").asc)
      tf.join(broadcast(idf), Seq("word"))
        .withColumn("tfidf", round(col("tf") * col("idf"), 4))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("doc_id"), col("rn").cast("long").as("rn"),
          col("word"), col("tfidf"))
    }),

    // Corpus-unigram LM scoring (perplexity-style quality filter): word
    // probabilities fitted on the corpus itself, then each doc's mean
    // log2 probability — the classic cheap proxy for "does this text
    // look like the corpus". Vocabulary is bounded (≪ corpus), so the
    // global-sum window runs over a vocab-sized frame and the prob
    // table broadcasts back, same scale shape as TF-IDF's IDF side.
    "text_unigram_logprob" -> ((spark, dir) => {
      val words = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
      val probs = words.groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("p", col("c") /
          sum(col("c")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      words.join(broadcast(probs.select(col("w"), col("p"))), Seq("w"))
        .groupBy("doc_id")
        .agg(round(avg(log2(col("p"))), 4).as("avg_log2p"))
    }),

    // Interpolated bigram LM predictability score — the Jelinek-Mercer
    // mixture 0.7·p(w2|w1) + 0.3·p(w2) per transition, kept ENTIRELY
    // in integer fixed-point (each term is one integral div of exact
    // counts, summed exactly), so unlike a log-prob mean the score is
    // engine-exact by construction. High = template-like/predictable,
    // low = novel — the per-doc signal next to text_unigram_logprob.
    // Scale: bigram/unigram count tables are vocabulary-sized →
    // broadcast; one doc-keyed aggregation.
    // The declared query executes the full live plan per invocation:
    // the vocab-bounded count tables come from the shared lmArtifacts
    // memo (sanctioned artifact sharing), but the corpus-sized per-doc
    // transition explode + doc aggregation run fresh every time.
    "text_bigram_lm" -> ((spark, dir) => bigramLmScores(spark, dir)),

    // Kneser-Ney smoothed bigram LM (the smoothing production n-gram
    // LMs actually shipped): absolute discount D = 3/4 — RATIONAL by
    // choice, so max(c−D,0)/ctx = (4c−3)/(4·ctx) and the whole score
    // stays in staged integer division; the continuation probability
    // uses distinct-predecessor counts (the KN insight: "how many
    // contexts does w2 complete", not raw frequency). Per-transition
    // p_x1e6 = (4c2−3)·1e6 div (4·ctx) + ((3·N1f·1e6) div (4·ctx))
    // ·N1b div B. The continuation term is vocabulary-bounded (N1f ≤
    // |V| → ≤ 3e15 at a 1e9 vocabulary), but the discount term's
    // numerator 4·c2·1e6 grows with the TOP BIGRAM's corpus count —
    // a hot bigram at a 1e13-token corpus pushes it past BIGINT — so
    // that one product runs in 128-bit (DECIMAL(38,0) / HUGEINT).
    // Count tables are vocabulary-sized → broadcast; one doc-keyed
    // aggregation, engine-exact by construction.
    "text_kn_bigram_lm" -> ((spark, dir) => {
      // bigram counts + nB come from the shared memoized artifacts;
      // ctx/back are vocab-sized aggregations OVER the materialized
      // count table (no corpus pass), and the per-doc transition
      // explode below is this query's own real data pass
      val art = lmArtifacts(spark, dir)
      val docs = Tables.documents(spark, dir)
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      val bigrams = toks.select(col("doc_id"),
        explode(TextFns.shingles(col("t"), 2)).as("bg"))
      val bi = art.bi.select(col("bg"), col("c").as("c2"), col("w1"), col("w2"))
      val ctx = bi.groupBy("w1").agg(sum(col("c2")).as("ctx"),
        count(lit(1)).as("n1f"))
      val back = bi.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val nB = art.nB // distinct bigrams, corpus scalar pre-plan
      bigrams
        .join(broadcast(bi), Seq("bg"))
        .join(broadcast(ctx), Seq("w1"))
        .join(broadcast(back), Seq("w2"))
        .withColumn("p_x1e6",
          expr("((4 * CAST(c2 AS DECIMAL(38,0)) - 3) * 1000000) div (4 * ctx)") +
            expr(s"(((3 * n1f * 1000000) div (4 * ctx)) * n1b) div ${nB}L"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trans"), sum(col("p_x1e6")).as("sum_p_x1e6"))
        .withColumn("mean_p_x1e6", expr("sum_p_x1e6 div n_trans"))
    }),

    // CCNet-style LM-score bucketing: split the corpus into exact
    // low/mid/high predictability tertiles of the bigram-LM score —
    // the bucket column CCNet samples from (keep the well-modeled
    // head, drop or down-weight the tail). Cuts are EXACT rank
    // tertiles computed scale-safely: score-value counts → two-level
    // distributed prefix sum (Packing.prefixSum — no corpus-wide
    // single-task window) → the r-th-rank cut values broadcast back.
    // Bucketing is by VALUE against the cuts, so ties land
    // deterministically in both engines.
    "text_ppl_buckets" -> ((spark, dir) => {
      // The memoized score table is already materialized — its three
      // consumers here (corpus count, rank histogram, final bucket
      // join) each read the checkpointed scan.
      val sc = lmScores(spark, dir)
        .select(col("doc_id"), col("mean_p_x1e6").as("score"))
      val n = sc.count() // corpus scalar, known pre-plan
      val r1 = (n + 2) / 3
      val r2 = (2 * n + 2) / 3
      val cuts = graft.operators.Quantiles
        .exactCutsByRank(sc, "score", Seq(r1, r2))
        .agg(min(when(col("rank") === r1, col("cut"))).as("c1"),
          min(when(col("rank") === r2, col("cut"))).as("c2"))
      sc.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("score"),
          when(col("score") <= col("c1"), "low")
            .when(col("score") <= col("c2"), "mid")
            .otherwise("high").as("ppl_bucket"))
    }),

    // Eval-decontamination: corpus docs sharing ≥ 2 distinct word
    // trigrams with any "benchmark" doc (stand-in: doc_id ≡ 0 mod 97).
    // Scale shape: distinct n-grams explode once per side, candidates
    // come from the shingle equi-join (shuffle by gram — stop-phrase
    // hot grams are Skew.saltedJoin territory), and the pair count is
    // map-side combinable. This is n-gram-overlap contamination as run
    // before any evaluation on a scraped corpus.
    "text_contamination" -> ((spark, dir) => {
      // Grams join on xxhash64 keys (8 bytes, not shingle strings);
      // the oracle joins the STRINGS, so the hash match doubles as a
      // collision check (the dedup_ngram_jaccard pattern). The bench
      // side is force-broadcast: an eval suite is bounded by
      // construction (it does not grow with the corpus), so the
      // production shape is exactly this — broadcast the bench n-gram
      // set, map-side hash join, the corpus itself never shuffles;
      // only matching (doc, bench) pairs reach the pair aggregation.
      val grams = Tables.widen(Tables.documents(spark, dir))
        .select(col("doc_id"), explode(array_distinct(
          TextFns.hashedShingles(TextFns.tokens(col("text")), 3))).as("g"))
      val bench = grams.where(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("g"))
      grams.where(col("doc_id") % 97 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("shared_ngrams"))
        .where(col("shared_ngrams") >= 2)
    }),

    // Connected components over the click contact graph — near-dup
    // pairs → dedup clusters (component id = min member id). The
    // oracle is a DuckDB recursive-CTE transitive closure; Spark runs
    // iterative min-label propagation (log-diameter rounds).
    "graph_components" -> ((spark, dir) => {
      val edges = Tables.events(spark, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"),
          // try_cast: a single non-numeric props value must degrade to
          // a NULL partner (dropped by the isNotNull guard below), not
          // abort the whole graph build under ANSI
          (expr("try_cast(get_json_object(props, '$.k') AS BIGINT)") % 100L)
            .as("partner"))
        .where(col("partner").isNotNull && col("partner") =!= col("user_id"))
        .distinct()
      Dedup.connectedComponents(edges, "user_id", "partner")
        .select(col("node").as("user_id"), col("lbl").as("component"))
    }),

    // End-to-end dedup pipeline: duplicate-pair edges → connected
    // components → one canonical survivor per cluster — the full
    // pairs→clusters→keeper flow a corpus dedup actually ships, run
    // through the real CC operator. Edges come from prefix-duplicate
    // groups (deterministic volume at every SF); the oracle recomputes
    // the same clusters directly from the grouping.
    "dedup_pipeline" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("k"))
      // group-min + join-back → one whole-partition window over the
      // same prefix-keyed exchange (§2.4): the projection scans the
      // corpus once instead of twice and the equi-join disappears. The
      // isNotNull guard preserves the former join's null-key drop
      // (null text → null k never produced an edge; a window would
      // have pooled the null partition).
      val edges = docs.where(col("k").isNotNull)
        .withColumn("root", min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
        .where(col("doc_id") =!= col("root"))
        .select(col("root").as("a"), col("doc_id").as("b"))
      val cc = Dedup.connectedComponents(edges, "a", "b")
      Tables.documents(spark, dir).select(col("doc_id"))
        .join(cc.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("component"),
          (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("keep"))
    }),

    // Segment-level (paragraph) dedup: boilerplate repeats across
    // documents below whole-doc granularity; first occurrence in
    // (doc, position) order wins. 5-token segments over the
    // delimiter-free fixture (a real corpus cuts on newlines — same
    // plan); ~6% of fixture segments are cross-corpus duplicates.
    "dedup_segments" -> ((spark, dir) => {
      Dedup.segmentDedup(Tables.documents(spark, dir), "doc_id", "text", segTokens = 5)
    }),

    // Cross-doc duplicated-span PROFILE (the RefinedWeb dup-fraction
    // metric): per doc, what share of its sliding 5-gram positions is
    // duplicated elsewhere in the corpus, and the longest consecutive
    // duplicated run — the decision signal a dedup threshold reads,
    // complementing dedup_segments (which transforms). Grams join on
    // xxhash64 keys; the oracle joins the strings, so the hash match
    // doubles as a collision check (text_contamination pattern). The
    // gram doc-frequency table is corpus-sized — never broadcast; the
    // hash-partitioned equi-join on the gram key is the honest 100 TB
    // plan. Longest run is gaps-and-islands: windows partition by doc.
    // Live per invocation: the full gram explode → df join → window
    // plan runs fresh each time (the memoized copy serves only
    // text_dup_by_source's rollup).
    "text_dup_span_profile" -> ((spark, dir) =>
      Dedup.dupSpanProfile(Tables.documents(spark, dir), "doc_id", "text",
        nGram = 5, minDocFreq = 2)),

    // Containment (asymmetric Jaccard |A∩B|/|A|) pair detection: the
    // near-SUPERSET case symmetric-Jaccard dedup misses — a short doc
    // quoted whole inside a long one has low Jaccard but containment
    // ≈ 1. The metric runs over the DF-CAPPED gram space (grams in >
    // 32 docs excluded from numerator AND denominator — the stop-
    // gram removal every set-similarity self-join ships; the cap is
    // ABSOLUTE because pair cost per gram is df², so a corpus-
    // relative cap re-grows quadratically — measured 48× at the 10×
    // duplication-heavy corpus before this bound): ubiquitous
    // boilerplate grams carry no containment signal but dominate the
    // gram self-join quadratically. Candidates then come from the
    // distinct-gram equi-join with a >= 2 shared-gram floor (note a
    // LENGTH-ratio prune would be WRONG here: containment pairs are
    // exactly the length-asymmetric ones). Grams join on native hash
    // keys; the oracle joins the STRINGS, so the hash match doubles
    // as a collision check.
    "text_containment_pairs" -> ((spark, dir) => {
      // native kernel: ONE tokenization pass per doc (the inline HOF
      // form re-splits the text at every element_at — measured 8+ s
      // here before the switch)
      // r16: the df cap is a COUNT WINDOW over one gram-keyed exchange
      // instead of a separate aggregate + mark join — the former plan
      // re-ran the scan+shingle kernel once per consumer (4 Generate
      // passes over the corpus: the df aggregate's column pruning
      // narrowed its exchange to (g), defeating ReusedExchange). Now
      // ONE tokenization feeds one exchange; the window's g-sort also
      // pre-sorts both self-join sides (both ride ReusedExchange), so
      // the merge join adds no re-sort. Window partitions are bounded
      // by a gram's document frequency — never corpus-sized.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      val grams = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array_distinct(
          graft.expressions.GraftFunctions.hashedShingles(col("text"), 3))).as("g"))
        .repartition(col("g"))
        .withColumn("df", count(lit(1)).over(w))
        .where(col("df") <= 32)
        .select(col("doc_id"), col("g"))
      val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      grams.as("x").join(grams.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >= 2)
        .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
        .withColumn("cont_a_ppm", expr("(shared * 1000000) div na"))
        .withColumn("cont_b_ppm", expr("(shared * 1000000) div nb"))
        .where(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= 600000)
        .select(col("a"), col("b"), col("shared"),
          col("cont_a_ppm"), col("cont_b_ppm"))
    }),

    // Duplication health BY SOURCE — the rollup a curation run acts
    // on (drop or down-weight the polluting feed, not individual
    // docs): per-doc dup-span mass aggregated over documents.source,
    // with corpus-share context. Same gram machinery as the profile;
    // integer-exact throughout.
    "text_dup_by_source" -> ((spark, dir) => {
      val prof = dupSpanProf(spark, dir)
      prof.join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_grams")).as("n_grams"),
          sum(col("n_dup")).as("n_dup"),
          max(col("longest_dup_run")).as("max_dup_run"))
        .withColumn("dup_permille", expr("(n_dup * 1000) div n_grams"))
    }),

    // Exact-substring dedup as a TRANSFORM (Lee et al.): every token
    // covered by a 5-gram that appears in >= 2 distinct docs is
    // excised from every occurrence; survivors reassemble in order.
    // The removal twin of text_dup_span_profile's measurement.
    "text_dup_span_removal" -> ((spark, dir) => {
      Dedup.dupSpanRemoval(Tables.documents(spark, dir), "doc_id", "text",
        nGram = 5, minDocFreq = 2)
    }),

    // Corpus-frequency boilerplate removal (CCNet/RefinedWeb): drop
    // EVERY occurrence of a 3-token segment that repeats in >= 5
    // distinct documents, and reassemble the cleaned text. Distinct
    // from dedup_segments (which keeps first occurrences). Exact
    // integer counts + the reassembled string hash bit-for-bit.
    "text_boilerplate" -> ((spark, dir) => {
      Dedup.boilerplateFilter(Tables.documents(spark, dir), "doc_id", "text",
        segTokens = 3, minDocFreq = 5)
    }),

    // Quality-aware canonical selection: real curation keeps the
    // BEST document per duplicate component, not the min-id one.
    // Same component structure as dedup_pipeline (prefix-40 groups →
    // connectedComponents), composed with the text_quality signal
    // (unique-token ratio; ties broken by doc_id so the choice is
    // deterministic) via a per-component argmax window. Scale: the
    // window partitions by component — bounded groups, no global sort.
    "dedup_canonical_quality" -> ((spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.core.GraftSession.LineageOps
      val toks = TextFns.tokens(col("text"))
      // three consumers (roots, edges, the final decoration) each
      // re-scanned the documents parquet — and the text column is the
      // scan's weight. Materialize the NARROW (doc_id, k, q)
      // projection once: one text read + one tokenization, ~24 bytes/
      // row downstream
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), substring(col("text"), 1, 40).as("k"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("q"))
        .truncateLineage()
      val roots = docs.groupBy("k").agg(min(col("doc_id")).as("root"))
      val edges = docs.join(roots, Seq("k"))
        .where(col("doc_id") =!= col("root"))
        .select(col("root").as("a"), col("doc_id").as("b"))
      val cc = Dedup.connectedComponents(edges, "a", "b")
      val withComp = docs
        .join(cc.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("component"),
          col("q"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("q").desc, col("doc_id"))
      withComp
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("component"),
          round(col("q"), 4).as("quality"), (col("rn") === 1).as("keep"))
    }),

    // Canonical text normalization (the step BEFORE exact dedup):
    // lowercase → strip non-alphanumerics → collapse whitespace →
    // trim, plus the md5 of the canonical form as the dedup key. Pure
    // codegen'd projection; patterns stay in the RE2 ∩ java.util.regex
    // ∩ DuckDB-RE dialect intersection (the pii_redact rule).
    "text_normalize" -> ((spark, dir) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.documents(spark, dir)
        .select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_key"))
    }),

    // Vocabulary coverage / OOV rate: top-V corpus words (deterministic
    // count-desc, word-asc cut) broadcast back, per-doc fraction of
    // tokens outside the vocab — the tokenizer-fit signal a pipeline
    // checks before committing to a vocab. The vocab derivation is a
    // map-side-combined agg + TakeOrdered (V rows to the driver,
    // vocab-bounded, never corpus-bounded).
    "text_oov_rate" -> ((spark, dir) => {
      val words = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("word"))
      val vocab = words.groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("word").asc).limit(50)
        .select(col("word"), lit(true).as("in_vocab"))
      words.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(
          round(sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as("oov_rate"),
          count(lit(1)).as("n_tokens"))
    }),

    // Incremental-ingest dedup: today's crawl batch (doc_id ≡ 0 mod
    // 10) checked against the existing lake — exact content hash and
    // normalized 40-char-prefix hash, each a distinct-key equi-join
    // the planner broadcasts while the lake digest fits and
    // shuffle-joins beyond (the digests are 16-byte hashes, not
    // documents — the corpus text itself never moves). The daily shape
    // of every production dedup: never re-pair the whole lake, only
    // batch × digest.
    "dedup_incremental" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val batch = docs.where(col("doc_id") % 10 === 0)
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val exact = corpus.select(md5(col("text")).as("h")).distinct()
        .withColumn("is_exact_dup", lit(true))
      val prefix = corpus
        .select(md5(substring(col("text"), 1, 40)).as("p")).distinct()
        .withColumn("is_prefix_dup", lit(true))
      batch
        .select(col("doc_id"), md5(col("text")).as("h"),
          md5(substring(col("text"), 1, 40)).as("p"))
        .join(exact, Seq("h"), "left")
        .join(prefix, Seq("p"), "left")
        .select(col("doc_id"),
          coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
          coalesce(col("is_prefix_dup"), lit(false)).as("is_prefix_dup"))
    }),

    // Rolling-hash document fingerprint — native codegen'd Catalyst
    // expression (graft.expressions.TokenFingerprint); semantics are
    // identical to the HOF form TextFns.fingerprint (spec-checked).
    "text_fingerprint" -> ((spark, dir) => {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          graft.expressions.GraftFunctions.tokenFingerprint(col("text")).as("fp"))
    }),

    // PII redaction — the scrub step of a training-data pipeline.
    // The fixture text is clean, so PII is synthesized deterministically
    // per doc, then redacted with codegen'd regexp_replace (emails,
    // then 3+-digit runs). Patterns stay in the RE2 ∩ java.util.regex
    // dialect intersection so the oracle runs them verbatim.
    "text_pii_redact" -> ((spark, dir) => {
      Tables.documents(spark, dir)
        .withColumn("raw", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example code "), (col("n_chars") * 37).cast("string")))
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("raw"), "[a-z0-9._%+-]+@[a-z0-9.-]+", "<EMAIL>"),
            "[0-9][0-9][0-9]+", "<NUM>").as("redacted"))
    }),

    // BM25 retrieval: top-5 docs per query for three multi-term
    // queries — the topical-subset ranking stage of a curation
    // pipeline. Per-term contributions are fixed-point 1e-6 integers
    // before the sum, so the ranking is engine-exact (no float
    // summation-order hazard); top-k rides TopKPerKey.
    "text_bm25_topk" -> ((spark, dir) => {
      graft.operators.Retrieval.bm25TopK(
        Tables.widen(Tables.documents(spark, dir)), "doc_id", "text",
        Bm25Queries, k = 5)
    })
  )

  /** Fixed BM25 query set — shared by the Spark query and its
    * generated DuckDB oracle so term lists cannot drift.
    */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "vector", 1 -> "merge",
    2 -> "stream", 2 -> "filter",
    3 -> "customer", 3 -> "batch")

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  val oracles: Map[String, String] = Map(
    "text_unigram_logprob" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), v AS (
        |  SELECT w, count(*) AS c FROM w GROUP BY 1
        |), p AS (
        |  SELECT w, c::DOUBLE / sum(c) OVER () AS p FROM v
        |)
        |SELECT doc_id, round(avg(log2(p)), 4) AS avg_log2p
        |FROM w JOIN p USING (w) GROUP BY 1""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH $bigramLmCtes
         |SELECT doc_id, count(*) AS n_trans,
         |  CAST(sum(p) AS BIGINT) AS sum_p_x1e6,
         |  CAST(sum(p) // count(*) AS BIGINT) AS mean_p_x1e6
         |FROM t GROUP BY 1""".stripMargin,

    // Same rational-discount staging: (4c−3)/(4·ctx) + continuation
    // term over distinct-neighbor counts.
    "text_kn_bigram_lm" -> {
      val sh = TextFns.shinglesSql("string_split(text, ' ')", 2)
      s"""WITH bg AS MATERIALIZED (
         |  SELECT doc_id, unnest($sh) AS bg FROM documents
         |), bi AS MATERIALIZED (
         |  SELECT bg, count(*) AS c2,
         |    string_split(bg, ' ')[1] AS w1,
         |    string_split(bg, ' ')[2] AS w2
         |  FROM bg GROUP BY 1
         |), ctx AS (
         |  SELECT w1, sum(c2) AS ctx, count(*) AS n1f FROM bi GROUP BY 1
         |), back AS (
         |  SELECT w2, count(*) AS n1b FROM bi GROUP BY 1
         |), nb AS (
         |  SELECT count(*) AS b FROM bi
         |), t AS (
         |  SELECT bg.doc_id,
         |    ((4 * bi.c2::HUGEINT - 3) * 1000000) // (4 * ctx.ctx)
         |      + (((3 * ctx.n1f * 1000000) // (4 * ctx.ctx)) * back.n1b)
         |        // (SELECT b FROM nb) AS p
         |  FROM bg
         |  JOIN bi USING (bg)
         |  JOIN ctx ON bi.w1 = ctx.w1
         |  JOIN back ON bi.w2 = back.w2
         |)
         |SELECT doc_id, count(*) AS n_trans,
         |  CAST(sum(p) AS BIGINT) AS sum_p_x1e6,
         |  CAST(sum(p) // count(*) AS BIGINT) AS mean_p_x1e6
         |FROM t GROUP BY 1""".stripMargin
    },

    // Exact rank-tertile cuts over the same LM scores, then bucket by
    // VALUE — ties land on the <= side in both engines.
    "text_ppl_buckets" ->
      s"""WITH $bigramLmCtes, sc AS MATERIALIZED (
         |  SELECT doc_id, CAST(sum(p) // count(*) AS BIGINT) AS score
         |  FROM t GROUP BY 1
         |), nn AS (
         |  SELECT count(*) AS n FROM sc
         |), cum AS (
         |  SELECT score, sum(count(*)) OVER (ORDER BY score) AS cum
         |  FROM sc GROUP BY score
         |), cuts AS (
         |  SELECT
         |    min(CASE WHEN cum >= (SELECT (n + 2) // 3 FROM nn)
         |             THEN score END) AS c1,
         |    min(CASE WHEN cum >= (SELECT (2 * n + 2) // 3 FROM nn)
         |             THEN score END) AS c2
         |  FROM cum
         |)
         |SELECT doc_id, score,
         |  CASE WHEN score <= c1 THEN 'low'
         |       WHEN score <= c2 THEN 'mid'
         |       ELSE 'high' END AS ppl_bucket
         |FROM sc, cuts""".stripMargin,

    "text_contamination" -> {
      val sh = TextFns.shinglesSql("string_split(text, ' ')", 3)
      s"""WITH g AS (
         |  SELECT doc_id, unnest(list_distinct($sh)) AS g FROM documents
         |), b AS (
         |  SELECT doc_id AS bench_id, g FROM g WHERE doc_id % 97 = 0
         |), c AS (
         |  SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0
         |)
         |SELECT doc_id, bench_id, count(*) AS shared_ngrams
         |FROM c JOIN b USING (g)
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
    },

    // Guarantee harnesses: the oracle states the invariant (every
    // planted exact copy MUST be found / the native kernel MUST match
    // its declarative rebuild); Spark computes the evidence.
    "dedup_minhash" ->
      """SELECT doc_id,
        |  text IS NOT NULL AND len(string_split(text, ' ')) >= 2
        |    AS planted_dup_found,
        |  CAST(CASE WHEN text IS NOT NULL
        |              AND len(string_split(text, ' ')) >= 2
        |       THEN 1.0 ELSE -1.0 END AS DOUBLE) AS jaccard
        |FROM documents""".stripMargin,

    "dedup_simhash_pairs" ->
      """SELECT doc_id, text IS NOT NULL AS planted_dup_found,
        |  CAST(CASE WHEN text IS NOT NULL THEN 0 ELSE -1 END
        |       AS BIGINT) AS hamming
        |FROM documents""".stripMargin,

    // Exact DuckDB rebuild of the native simhash64 expression
    // (expressions.TextHash.simhash64): FNV-1a 64 per space-separated
    // token (the fold runs in HUGEINT with an explicit mod-2^64 so the
    // 64-bit wraparound of the JVM kernel is reproduced exactly),
    // then a sign-vote per bit and bit reassembly; the final CASE maps
    // the unsigned signature onto the JVM's signed long. string_split
    // keeps empty tokens, matching the Scala kernel's behavior on
    // consecutive/leading/trailing spaces.
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, tok
        |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        |), hashed AS (
        |  SELECT doc_id,
        |    -- the '' filter drops the PHANTOM char DuckDB mints for an
        |    -- empty token (string_split('','') = [''] and unicode('')
        |    -- = -1 would fold a byte that doesn't exist); a nonempty
        |    -- token's single-char pieces are never '', so this leaves
        |    -- real tokens untouched and hashes '' to the FNV basis
        |    -- exactly like the JVM kernel
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |                   [unicode(c)::HUGEINT
        |                    for c in list_filter(string_split(tok, ''),
        |                                         c -> c <> '')]),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS h
        |  FROM toks
        |), bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1::HUGEINT = 1::HUGEINT
        |             THEN 1 ELSE -1 END) AS vote
        |  FROM hashed, (SELECT unnest(range(64)) AS b) bb
        |  GROUP BY 1, 2
        |), sig AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN vote > 0 THEN 1::HUGEINT << b
        |             ELSE 0::HUGEINT END) AS u
        |  FROM bits GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
        |            THEN u - 18446744073709551616::HUGEINT
        |            ELSE u END AS BIGINT) AS simhash64
        |FROM documents d LEFT JOIN sig USING (doc_id)""".stripMargin,

    "text_repetition" -> {
      val sh = TextFns.shinglesSql("string_split(text, ' ')", 2)
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS u FROM documents
         |), wc AS (
         |  SELECT doc_id, u, count(*) AS c FROM w GROUP BY 1, 2
         |), wr AS (
         |  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS r FROM wc GROUP BY 1
         |), b AS (
         |  SELECT doc_id, unnest($sh) AS u FROM documents
         |), bc AS (
         |  SELECT doc_id, u, count(*) AS c FROM b GROUP BY 1, 2
         |), br AS (
         |  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS r FROM bc GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  -- -1 means "no grams to measure" (sub-n-gram doc); NULL
         |  -- means "no text at all" — distinct states on both engines
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(wr.r, -1.0) END AS top_word_ratio,
         |  CASE WHEN d.text IS NULL THEN NULL
         |       ELSE coalesce(br.r, -1.0) END AS top_bigram_ratio
         |FROM documents d
         |LEFT JOIN wr ON d.doc_id = wr.doc_id
         |LEFT JOIN br ON d.doc_id = br.doc_id""".stripMargin
    },

    // Bit-exact chained-CTE twin of the distributed BPE fit: same 4
    // unrolled rounds, same delimited word form, same left-to-right
    // replace() merge, same (count desc, pair asc) argmax. Every CTE
    // a later level references more than once is MATERIALIZED (the
    // graph_kcore lesson: DuckDB inlines plain CTEs and R rounds
    // become ~3^R re-evaluations of the base).
    "text_bpe_train" -> bpeTrainSql(4),

    // Invariant harness: per-language companions exact; the fertility
    // bound folds into the boolean (the text_bpe_tokens convention).
    "text_tokenizer_fertility" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
        |    AS BIGINT) AS n_words,
        |  -- length(), NOT strlen(): the engine counts CHARS
        |  -- (Spark length(translate)); strlen counts UTF-8 bytes and
        |  -- diverges on any multi-byte document
        |  CAST(sum(length(replace(text, ' ', ''))) AS BIGINT)
        |    AS n_nonspace_chars,
        |  CASE WHEN sum(len(list_filter(string_split(text, ' '),
        |                                w -> w <> ''))) = 0
        |       THEN NULL ELSE true END AS bounds_ok
        |FROM documents GROUP BY 1""".stripMargin,

    // Invariant harness: the companions are DuckDB-exact; the bounds
    // boolean states the per-document BPE contract as a constant.
    "text_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
        |    AS BIGINT) AS n_words,
        |  -- length(), not strlen(): chars, matching the engine
        |  length(replace(text, ' ', '')) AS n_nonspace_chars,
        |  -- a bodyless doc has no token count to bound (engine: the
        |  -- null-propagating BPE kernel makes the conjunction NULL)
        |  CASE WHEN text IS NULL THEN NULL ELSE true END AS bounds_ok
        |FROM documents""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS dup_key, min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "dedup_prefix" ->
      """SELECT md5(substring(text, 1, 40)) AS dup_key, min(doc_id) AS keeper_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
        |  FROM documents
        |)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_key FROM n""".stripMargin,

    "text_oov_rate" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), v AS (
        |  SELECT word FROM (
        |    SELECT word, count(*) AS c FROM w
        |    GROUP BY 1 ORDER BY c DESC, word ASC LIMIT 50
        |  )
        |)
        |SELECT w.doc_id,
        |  round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)::DOUBLE /
        |    count(*), 4) AS oov_rate,
        |  count(*) AS n_tokens
        |FROM w LEFT JOIN v ON w.word = v.word
        |GROUP BY 1""".stripMargin,

    "dedup_incremental" ->
      """SELECT b.doc_id,
        |  EXISTS (SELECT 1 FROM documents c
        |          WHERE c.doc_id % 10 <> 0
        |            AND md5(c.text) = md5(b.text)) AS is_exact_dup,
        |  EXISTS (SELECT 1 FROM documents c
        |          WHERE c.doc_id % 10 <> 0
        |            AND md5(substring(c.text, 1, 40)) =
        |                md5(substring(b.text, 1, 40))) AS is_prefix_dup
        |FROM documents b WHERE b.doc_id % 10 = 0""".stripMargin,

    "dedup_ngram_jaccard" -> {
      val sh = TextFns.shinglesSql("string_split(text, ' ')", 2)
      // Exact GRAM-JOIN form of the quadratic intersect (the block-
      // quadratic `base l JOIN base r` + list_intersect twin ran 50M
      // list intersections at the 10× synth scale and never finished;
      // this form's join mass is Σ df(g)² = 119M cheap rows there).
      // `sh` is DISTINCT per doc, so the per-gram equi-join emits
      // exactly one row per shared gram and count(*) IS |l ∩ r|; the
      // jaccard double i/(na+nb-i) is bit-identical to
      // len(list_intersect)/(len+len-len). Pairs with an EMPTY
      // intersection have jaccard 0 < 0.3 — absent from both forms.
      s"""WITH base AS MATERIALIZED (
         |  SELECT lang, source, doc_id AS doc, list_distinct($sh) AS sh
         |  FROM documents
         |  -- no-shingle docs have no set to compare (engine guard twin)
         |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2
         |), ex AS MATERIALIZED (
         |  SELECT lang, source, doc, len(sh) AS n, unnest(sh) AS g FROM base
         |)
         |SELECT lang, source, doc_a, doc_b,
         |  round(i::DOUBLE / (na + nb - i), 4) AS jaccard
         |FROM (
         |  SELECT l.lang AS lang, l.source AS source,
         |    l.doc AS doc_a, r.doc AS doc_b,
         |    l.n AS na, r.n AS nb, count(*) AS i
         |  FROM ex l JOIN ex r
         |    ON l.lang = r.lang AND l.source = r.source AND l.g = r.g
         |   AND l.doc < r.doc
         |  GROUP BY 1, 2, 3, 4, 5, 6
         |)
         |WHERE round(i::DOUBLE / (na + nb - i), 4) >= 0.3""".stripMargin
    },

    "dedup_pipeline" ->
      """WITH g AS (
        |  SELECT doc_id, text,
        |    min(doc_id) OVER (PARTITION BY substring(text, 1, 40)) AS comp
        |  FROM documents
        |)
        |-- a null-text doc has no prefix to witness duplication: the
        |-- engine's equi-join drops null keys so each such doc is its
        |-- own component — the window's null partition must not merge
        |-- them (SQL PARTITION BY groups nulls TOGETHER)
        |SELECT doc_id,
        |  CASE WHEN text IS NULL THEN doc_id ELSE comp END AS component,
        |  CASE WHEN text IS NULL THEN true ELSE doc_id = comp END AS keep
        |FROM g""".stripMargin,

    "dedup_segments" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), seg AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(t[i*5+1 : i*5+5], ' ') AS s
        |  FROM toks, unnest(range((len(t) + 4) // 5)) AS u(i)
        |)
        |SELECT doc_id, seg_idx,
        |  row_number() OVER (PARTITION BY s ORDER BY doc_id, seg_idx) = 1 AS kept
        |FROM seg""".stripMargin,

    "text_boilerplate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), seg AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(t[i*3+1 : i*3+3], ' ') AS s
        |  FROM toks, unnest(range((len(t) + 2) // 3)) AS u(i)
        |), bp AS (
        |  SELECT s FROM seg GROUP BY s HAVING count(DISTINCT doc_id) >= 5
        |), k AS (
        |  SELECT doc_id, seg_idx, s,
        |    s NOT IN (SELECT s FROM bp) AS keep
        |  FROM seg
        |)
        |SELECT doc_id, count(*) AS n_seg,
        |  CAST(coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(s, ' ' ORDER BY seg_idx) FILTER (keep), '')
        |    AS clean_text
        |FROM k GROUP BY doc_id""".stripMargin,

    "dedup_canonical_quality" ->
      """WITH g AS (
        |  -- null-text docs are their own singleton components (the
        |  -- dedup_pipeline null-prefix rule)
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN doc_id ELSE
        |      min(doc_id) OVER (PARTITION BY substring(text, 1, 40))
        |    END AS comp,
        |    len(list_distinct(string_split(text, ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS q
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, comp, q,
        |    row_number() OVER (PARTITION BY comp ORDER BY q DESC, doc_id) AS rn
        |  FROM g
        |)
        |SELECT doc_id, comp AS component, round(q, 4) AS quality,
        |  rn = 1 AS keep
        |FROM r""".stripMargin,

    "text_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_re_tokens,
        |  length(text) AS n_chars
        |FROM documents""".stripMargin,

    "quality_filter_funnel" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), sig AS (
        |  SELECT len(toks) AS n,
        |    len(list_distinct(toks)) AS uniq,
        |    list_sum(list_transform(toks, t -> length(t))) AS sumlen,
        |    len(list_filter(toks, t -> t IN ('the', 'a'))) AS stopc,
        |    list_max(list_transform(list_distinct(toks),
        |      d -> len(list_filter(toks, e -> e = d)))) AS maxc
        |  FROM t
        |), staged AS (
        |  SELECT CASE
        |    WHEN NOT (n >= 20) THEN 1
        |    WHEN NOT NOT (sumlen * 10 < n * 42 OR sumlen * 10 > n * 50) THEN 2
        |    WHEN NOT NOT (maxc * 10 > n * 2) THEN 3
        |    WHEN NOT (uniq * 100 >= n * 40) THEN 4
        |    WHEN NOT (stopc > 0) THEN 5
        |    ELSE 6 END AS stage
        |  FROM sig
        |), counts AS (
        |  SELECT stage, count(*) AS n FROM staged GROUP BY 1
        |), names(stage, rule) AS (
        |  VALUES (1, 'too_short'), (2, 'word_len_outlier'),
        |         (3, 'dominant_token'), (4, 'low_diversity'),
        |         (5, 'no_stopwords'), (6, 'pass')
        |)
        |SELECT CAST(names.stage AS BIGINT) AS stage, names.rule,
        |  CAST(CASE WHEN names.stage = 6 THEN 0
        |            ELSE coalesce(counts.n, 0) END AS BIGINT) AS n_dropped,
        |  CAST(sum(coalesce(counts.n, 0)) OVER ()
        |    - sum(CASE WHEN names.stage = 6 THEN 0
        |               ELSE coalesce(counts.n, 0) END)
        |        OVER (ORDER BY names.stage
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_remaining
        |FROM names LEFT JOIN counts ON names.stage = counts.stage""".stripMargin,

    "text_dup_span_profile" -> {
      val sh = TextFns.shinglesSql("toks", 5)
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, $sh AS sh FROM t
         |), g AS (
         |  SELECT doc_id, unnest(sh) AS g, unnest(range(len(sh))) AS pos FROM s
         |), dup AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY 1
         |  ) WHERE df >= 2
         |), f AS (
         |  SELECT g.doc_id, g.pos, dup.g IS NOT NULL AS d
         |  FROM g LEFT JOIN dup ON g.g = dup.g
         |), per AS (
         |  SELECT doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN d THEN 1 ELSE 0 END) AS n_dup
         |  FROM f GROUP BY 1
         |), runs AS (
         |  SELECT doc_id, max(runlen) AS longest FROM (
         |    SELECT doc_id, grp, count(*) AS runlen FROM (
         |      SELECT doc_id, pos,
         |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM f WHERE d
         |    ) GROUP BY 1, 2
         |  ) GROUP BY 1
         |)
         |SELECT per.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_dup AS BIGINT) AS n_dup,
         |  CAST(n_dup * 1000 // n_grams AS BIGINT) AS dup_permille,
         |  CAST(coalesce(runs.longest, 0) AS BIGINT) AS longest_dup_run
         |FROM per LEFT JOIN runs ON per.doc_id = runs.doc_id""".stripMargin
    },

    // Per-source rollup of the string-gram profile twin.
    "text_dup_by_source" -> {
      val sh = TextFns.shinglesSql("toks", 5)
      s"""WITH t AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
         |), s AS (
         |  SELECT doc_id, source, $sh AS sh FROM t
         |), g AS MATERIALIZED (
         |  SELECT doc_id, source, unnest(sh) AS g,
         |    unnest(range(len(sh))) AS pos FROM s
         |), dup AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY 1
         |  ) WHERE df >= 2
         |), f AS MATERIALIZED (
         |  SELECT g.doc_id, g.source, g.pos, dup.g IS NOT NULL AS d
         |  FROM g LEFT JOIN dup ON g.g = dup.g
         |), per AS (
         |  SELECT doc_id, source, count(*) AS n_grams,
         |    sum(CASE WHEN d THEN 1 ELSE 0 END) AS n_dup
         |  FROM f GROUP BY 1, 2
         |), runs AS (
         |  SELECT doc_id, max(runlen) AS longest FROM (
         |    SELECT doc_id, grp, count(*) AS runlen FROM (
         |      SELECT doc_id, pos,
         |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM f WHERE d
         |    ) GROUP BY 1, 2
         |  ) GROUP BY 1
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
         |  CAST(sum(n_dup) AS BIGINT) AS n_dup,
         |  CAST(max(coalesce(runs.longest, 0)) AS BIGINT) AS max_dup_run,
         |  CAST((sum(n_dup) * 1000) // sum(n_grams) AS BIGINT) AS dup_permille
         |FROM per LEFT JOIN runs USING (doc_id)
         |GROUP BY 1""".stripMargin
    },

    // String-gram twin: same distinct 3-gram sets, same >= 2 support
    // floor, same staged ppm containments.
    "text_containment_pairs" -> {
      val sh = TextFns.shinglesSql("string_split(text, ' ')", 3)
      s"""WITH g0 AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct($sh)) AS g FROM documents
         |), g AS MATERIALIZED (
         |  SELECT doc_id, g FROM g0
         |  WHERE g IN (SELECT g FROM g0 GROUP BY g HAVING count(*) <= 32)
         |), sz AS (
         |  SELECT doc_id, count(*) AS n FROM g GROUP BY 1
         |), p AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
         |  FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2
         |)
         |SELECT a, b, CAST(shared AS BIGINT) AS shared,
         |  CAST((shared * 1000000) // sa.n AS BIGINT) AS cont_a_ppm,
         |  CAST((shared * 1000000) // sb.n AS BIGINT) AS cont_b_ppm
         |FROM p
         |JOIN sz sa ON p.a = sa.doc_id
         |JOIN sz sb ON p.b = sb.doc_id
         |WHERE greatest((shared * 1000000) // sa.n,
         |               (shared * 1000000) // sb.n) >= 600000""".stripMargin
    },

    // String-gram twin of the hashed-kernel removal: same 5-gram
    // coverage, same every-occurrence excision, same in-order
    // reassembly (string_agg ORDER BY position).
    "text_dup_span_removal" -> {
      val sh = TextFns.shinglesSql("toks", 5)
      s"""WITH t AS MATERIALIZED (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |), g AS MATERIALIZED (
         |  SELECT doc_id, unnest(sh) AS g, unnest(range(len(sh))) AS pos
         |  FROM (SELECT doc_id, $sh AS sh FROM t)
         |), dup AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY 1
         |  ) WHERE df >= 2
         |), cov AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, tpos FROM (
         |    SELECT g.doc_id, g.pos + unnest(range(0, 5)) AS tpos
         |    FROM g JOIN dup ON g.g = dup.g)
         |), tok AS MATERIALIZED (
         |  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS tpos
         |  FROM t
         |), kept AS (
         |  SELECT k.doc_id, k.tok, k.tpos FROM tok k
         |  LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.tpos = c.tpos
         |  WHERE c.doc_id IS NULL
         |)
         |SELECT cnt.doc_id, CAST(cnt.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(coalesce(rc.n_removed, 0) AS BIGINT) AS n_removed,
         |  coalesce(rb.cleaned_text, '') AS cleaned_text
         |FROM (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1) cnt
         |LEFT JOIN (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1) rc
         |  ON cnt.doc_id = rc.doc_id
         |LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS cleaned_text
         |           FROM kept GROUP BY 1) rb
         |  ON cnt.doc_id = rb.doc_id""".stripMargin
    },

    // Same block partitioning (doc_id // 128), same in-block sorted
    // delta encoding, df summed over the term's blocks.
    "text_inverted_index" ->
      """WITH w AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |), b AS (
        |  SELECT term, doc_id // 128 AS block_id,
        |    CAST(count(*) AS BIGINT) AS n_in_block,
        |    list(doc_id ORDER BY doc_id) AS l
        |  FROM w GROUP BY 1, 2
        |)
        |SELECT term, block_id,
        |  CAST(sum(n_in_block) OVER (PARTITION BY term) AS BIGINT) AS df,
        |  n_in_block,
        |  array_to_string(list_transform(range(1, len(l) + 1),
        |    i -> CASE WHEN i = 1 THEN l[1] ELSE l[i] - l[i-1] END), ',') AS deltas
        |FROM b""".stripMargin,

    // Exact LEB128 byte accounting: bytes(v) = 1 + ⌊bits(v)/7⌋ as an
    // integer CASE ladder over the same delta arrays; the roundtrip
    // boolean is the invariant-harness contract (decode ∘ encode
    // asserted in-engine, per block).
    "text_posting_codec" ->
      """WITH w AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> ''
        |), b AS (
        |  SELECT term, doc_id // 128 AS block_id,
        |    CAST(count(*) AS BIGINT) AS n_in_block,
        |    list(doc_id ORDER BY doc_id) AS l
        |  FROM w GROUP BY 1, 2
        |), d AS (
        |  SELECT term, block_id, n_in_block,
        |    list_transform(range(1, len(l) + 1),
        |      i -> CASE WHEN i = 1 THEN l[1] ELSE l[i] - l[i-1] END) AS dl
        |  FROM b
        |)
        |SELECT term, block_id, n_in_block,
        |  CAST(list_sum(list_transform(dl, v -> CASE
        |    WHEN v < 128 THEN 1
        |    WHEN v < 16384 THEN 2
        |    WHEN v < 2097152 THEN 3
        |    WHEN v < 268435456 THEN 4
        |    WHEN v < 34359738368 THEN 5
        |    WHEN v < 4398046511104 THEN 6
        |    WHEN v < 562949953421312 THEN 7
        |    WHEN v < 72057594037927936 THEN 8
        |    ELSE 9 END)) AS BIGINT) AS n_bytes,
        |  true AS roundtrip_ok
        |FROM d""".stripMargin,

    "text_quality" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  len(toks) AS n_words,
        |  round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS uniq_ratio,
        |  round(list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks), 4) AS avg_word_len,
        |  round(len(list_filter(toks, t -> t IN ('the', 'a')))::DOUBLE / len(toks), 4) AS stopword_ratio
        |FROM t""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    len(list_filter(toks, x -> x IN ${inList(sqlWords)})) AS s_sql,
         |    len(list_filter(toks, x -> x IN ${inList(infraWords)})) AS s_infra,
         |    len(list_filter(toks, x -> x IN ${inList(dataWords)})) AS s_data
         |  FROM t
         |)
         |SELECT doc_id,
         |  CASE WHEN s_sql >= s_infra AND s_sql >= s_data THEN 'sql'
         |       WHEN s_infra >= s_data THEN 'infra'
         |       ELSE 'data' END AS lang_pred,
         |  s_sql, s_infra, s_data
         |FROM s""".stripMargin,

    "text_heavy_hitters" ->
      """WITH w AS (
        |  SELECT word FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
        |  ) WHERE word <> ''
        |)
        |SELECT word, count(*) AS freq FROM w GROUP BY 1
        |HAVING count(*) > (SELECT CAST(floor(count(*) * 0.01) AS BIGINT) FROM w)""".stripMargin,

    "sketch_cms_estimate" ->
      """WITH words AS (
        |  SELECT u AS w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS u FROM documents
        |  ) WHERE u <> ''
        |), truth AS (
        |  SELECT w, count(*) AS true_c FROM words GROUP BY 1
        |), hashes AS (
        |  SELECT w, d,
        |    CAST(list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        [unicode(c)::HUGEINT
        |         for c in string_split(CAST(d AS VARCHAR) || ':' || w, '')]),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) % 256
        |      AS BIGINT) AS cell
        |  FROM truth, (SELECT unnest([0, 1, 2, 3]) AS d)
        |), cells AS (
        |  SELECT h.d, h.cell, CAST(sum(t.true_c) AS BIGINT) AS cell_c
        |  FROM hashes h JOIN truth t USING (w) GROUP BY 1, 2
        |), top AS (
        |  SELECT w, true_c FROM truth ORDER BY true_c DESC, w LIMIT 20
        |)
        |SELECT top.w, top.true_c, min(c.cell_c) AS est_c,
        |  min(c.cell_c) >= top.true_c AS never_under
        |FROM top
        |JOIN hashes h ON top.w = h.w
        |JOIN cells c ON c.d = h.d AND c.cell = h.cell
        |GROUP BY 1, 2""".stripMargin,

    "text_zlib_signal" ->
      """SELECT doc_id, strlen(text) AS n_raw,
        |  true AS within_bound, true AS doubled_better
        |FROM documents WHERE text IS NOT NULL""".stripMargin,

    "text_pmi_collocations" -> {
      val sh = TextFns.shinglesSql("toks", 2)
      s"""WITH t AS (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |), uni AS (
         |  SELECT u AS w, count(*) AS c FROM (
         |    SELECT unnest(toks) AS u FROM t
         |  ) WHERE u <> '' GROUP BY 1
         |), bi AS (
         |  SELECT u AS bg, count(*) AS c_xy FROM (
         |    SELECT unnest($sh) AS u FROM t
         |  ) GROUP BY 1 HAVING count(*) >= 10
         |), s AS (
         |  SELECT string_split(bg, ' ')[1] AS w1,
         |    string_split(bg, ' ')[2] AS w2, c_xy
         |  FROM bi
         |)
         |SELECT s.w1, s.w2, s.c_xy, x.c AS c_x, y.c AS c_y,
         |  CAST((s.c_xy::HUGEINT * 1000000) // (x.c::HUGEINT * y.c)
         |    AS BIGINT) AS score_x1e6
         |FROM s JOIN uni x ON s.w1 = x.w JOIN uni y ON s.w2 = y.w
         |ORDER BY score_x1e6 DESC, s.w1, s.w2 LIMIT 20""".stripMargin
    },

    "text_tfidf_topterms" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |), w AS (
        |  SELECT doc_id, word FROM words WHERE word <> ''
        |), tf AS (
        |  SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2
        |), idf AS (
        |  SELECT word, count(*) AS df,
        |    ln((SELECT count(*) FROM documents)::DOUBLE / count(*)) AS idf
        |  FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY 1
        |)
        |SELECT doc_id, rn, word, tfidf FROM (
        |  SELECT tf.doc_id, tf.word, round(tf.tf * idf.idf, 4) AS tfidf,
        |    row_number() OVER (
        |      PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * idf.idf, 4) DESC, tf.word ASC) AS rn
        |  FROM tf JOIN idf USING (word)
        |) WHERE rn <= 3""".stripMargin,

    // Exact TWO-PHASE contraction of the user↔hub bipartite edge list
    // (the naive closure materialized the full reachability relation —
    // one giant component at the 10× synth scale = 228M (node, label)
    // pairs and a dead oracle). Every edge goes user → hub (b = k%100,
    // ≤ 100 hub ids), so components follow from (1) the closure of the
    // HUB graph — two hubs adjacent iff they share a user, PLUS the
    // vertex-overlap edges where a node id is both a user and a hub
    // (its own hub neighborhood fuses through it) — a ≤100-node
    // closure, and (2) each user inheriting its hubs' component (a
    // user's hubs all share one component BY the shared-user rule).
    // The component label is min node id over the fused group, exactly
    // the naive form's min(reachable).
    "graph_components" ->
      s"""WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS a,
        |    ${graft.core.Tables.jsonBigintSql("props", "$.k")} % 100 AS b
        |  FROM events
        |  WHERE event_type = 'click'
        |    AND ${graft.core.Tables.jsonBigintSql("props", "$.k")} % 100
        |        IS NOT NULL
        |    AND ${graft.core.Tables.jsonBigintSql("props", "$.k")} % 100
        |        <> user_id
        |), hubs AS MATERIALIZED (
        |  SELECT DISTINCT b FROM e
        |), he AS MATERIALIZED (
        |  SELECT l.b AS x, r.b AS y FROM e l JOIN e r ON l.a = r.a AND l.b < r.b
        |  UNION
        |  SELECT e.a AS x, e.b AS y FROM e WHERE e.a IN (SELECT b FROM hubs)
        |), hsym AS MATERIALIZED (
        |  SELECT x, y FROM he UNION SELECT y, x FROM he
        |), hreach(x, y) AS (
        |  SELECT b, b FROM hubs
        |  UNION
        |  SELECT r.x, s.y FROM hreach r JOIN hsym s ON r.y = s.x
        |), hcomp AS MATERIALIZED (
        |  SELECT x AS hub, min(y) AS hc FROM hreach GROUP BY 1
        |), assign AS MATERIALIZED (
        |  SELECT e.a AS node, min(hcomp.hc) AS hc
        |  FROM e JOIN hcomp ON e.b = hcomp.hub GROUP BY 1
        |  UNION
        |  SELECT hub AS node, hc FROM hcomp
        |), rep AS (
        |  SELECT hc, min(node) AS comp FROM assign GROUP BY 1
        |)
        |SELECT DISTINCT a.node AS user_id, r.comp AS component
        |FROM assign a JOIN rep r USING (hc)""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  -- null text has no fingerprint (the engine kernel is
         |  -- null-propagating; DuckDB's fold would yield 0 — the
         |  -- fingerprint of a real empty token list)
         |  CASE WHEN text IS NULL THEN NULL
         |       ELSE ${TextFns.fingerprintSql("string_split(text, ' ')")}
         |  END AS fp
         |FROM documents""".stripMargin,

    "text_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR)
        |        || '@mail.example code ' || CAST(n_chars * 37 AS VARCHAR),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
        |    '[0-9][0-9][0-9]+', '<NUM>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "text_bm25_topk" ->
      graft.operators.Retrieval.bm25OracleSql(Bm25Queries, k = 5)
  )

  /** Block-partitioned posting lists shared by text_inverted_index
    * and text_posting_codec: (term, block_id, n_in_block, postings,
    * deltas_arr) with fixed doc-id-range blocks of 128 bounding every
    * collect, in-block sorted postings, and the delta array (first
    * entry raw).
    */
  private def postingBlocks(spark: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col("term"), expr("doc_id div 128").as("block_id"))
      .agg(count(lit(1)).as("n_in_block"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .withColumn("deltas_arr", transform(col("postings"),
        (x, i) => when(i === 0, x)
          .otherwise(x - element_at(col("postings"), i))))

  /** Shared DuckDB CTE chain for the interpolated bigram-LM score
    * (twin of [[bigramLmScores]]): unigram/bigram counts, corpus
    * total, per-transition fixed-point probability `p`.
    */
  private lazy val bigramLmCtes: String = {
    val sh = TextFns.shinglesSql("string_split(text, ' ')", 2)
    s"""w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |), uni AS (
       |  SELECT w, count(*) AS cu FROM w GROUP BY 1
       |), n AS (
       |  SELECT count(*) AS nt FROM w
       |), bg AS (
       |  SELECT doc_id, unnest($sh) AS bg FROM documents
       |), bi AS (
       |  SELECT bg, count(*) AS cb FROM bg GROUP BY 1
       |), t AS MATERIALIZED (
       |  SELECT bg.doc_id,
       |    (7 * bi.cb::HUGEINT * 100000) // u1.cu
       |      + (3 * u2.cu * 100000) // (SELECT nt FROM n) AS p
       |  FROM bg
       |  JOIN bi USING (bg)
       |  JOIN uni u1 ON string_split(bg.bg, ' ')[1] = u1.w
       |  JOIN uni u2 ON string_split(bg.bg, ' ')[2] = u2.w
       |)""".stripMargin
  }

  /** Interpolated bigram-LM predictability scores (doc_id, n_trans,
    * sum_p_x1e6, mean_p_x1e6) — the engine body shared by
    * text_bigram_lm and text_ppl_buckets. Integer fixed-point
    * throughout (each term one integral div of exact counts).
    */
  private def bigramLmScores(spark: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    // count tables + scalars come from the shared memoized artifacts;
    // the per-doc transition explode below is this query's own real
    // data pass (corpus-sized — never memoized)
    val art = lmArtifacts(spark, dir)
    val nTotal = art.nTotal
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val bigrams = toks.select(col("doc_id"),
      explode(TextFns.shingles(col("t"), 2)).as("bg"))
    bigrams
      // w1/w2 ride the broadcast count table (same split of the same
      // bg) instead of re-splitting per transition row
      .join(broadcast(art.bi.select(col("bg"), col("c").as("cb"),
        col("w1"), col("w2"))), Seq("bg"))
      .join(broadcast(art.uni.select(col("w").as("w1"), col("cu").as("c1"))), Seq("w1"))
      .join(broadcast(art.uni.select(col("w").as("w2"), col("cu").as("c2"))), Seq("w2"))
      // the bigram-count product runs 128-bit like text_kn_bigram_lm's
      // discount term: 7·cb·1e5 crosses BIGINT at cb ≈ 1.3e13 — a
      // degenerate single-phrase corpus at exactly the 100 TB token
      // count this engine targets; the unigram term's c2 ≤ n keeps
      // 3·c2·1e5 ≤ ~4e18 even then
      .withColumn("p_x1e6",
        expr(s"(7 * CAST(cb AS DECIMAL(38,0)) * 100000) div c1" +
          s" + (3 * c2 * 100000) div ${nTotal}L"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trans"),
        sum(col("p_x1e6")).as("sum_p_x1e6"))
      .withColumn("mean_p_x1e6", expr("sum_p_x1e6 div n_trans"))
  }

  /** Chained-CTE oracle for [[graft.functions.Bpe.distributedFit]]:
    * words → delimited char form → R unrolled rounds of (pair count,
    * argmax, replace-merge). s/b CTEs are MATERIALIZED — each is
    * referenced by the next round AND the final union, and DuckDB
    * re-evaluates inlined CTEs per reference.
    */
  private def bpeTrainSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH words AS MATERIALIZED (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' AND NOT contains(w, chr(1)) GROUP BY w),
      |s0 AS MATERIALIZED (
      |  SELECT c, chr(1) || regexp_replace(w, '(.)', '\1' || chr(1), 'g') AS s
      |  FROM words)""".stripMargin
    for (i <- 1 to rounds) {
      val prev = s"s${i - 1}"
      sb ++= s""",
        |p$i AS (
        |  SELECT p, sum(c) AS pc FROM (
        |    SELECT c, chr(1) || l[i] || chr(1) || l[i+1] || chr(1) AS p FROM (
        |      SELECT c, l, unnest(range(1, len(l))) AS i FROM (
        |        SELECT c, list_filter(string_split(s, chr(1)), x -> x <> '') AS l
        |        FROM $prev)))
        |  GROUP BY p),
        |b$i AS MATERIALIZED (SELECT p, pc FROM p$i ORDER BY pc DESC, p LIMIT 1)""".stripMargin
      if (i < rounds) sb ++= s""",
        |s$i AS MATERIALIZED (
        |  SELECT c, replace(s, (SELECT p FROM b$i),
        |    chr(1) || replace((SELECT p FROM b$i), chr(1), '') || chr(1)) AS s
        |  FROM $prev)""".stripMargin
    }
    val unions = (1 to rounds)
      .map(i => s"SELECT $i AS mr, p, pc FROM b$i").mkString(" UNION ALL ")
    sb ++= s"""
      |SELECT CAST(mr AS INT) AS merge_rank,
      |  replace(trim(p, chr(1)), chr(1), ' ') AS pair,
      |  replace(p, chr(1), '') AS merged,
      |  CAST(pc AS BIGINT) AS pair_count
      |FROM ($unions)""".stripMargin
    sb.toString
  }
}
