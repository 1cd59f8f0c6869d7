package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that matter at 100 TB and are
  * invisible to result-level checks. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** The plan as executed: memoized and stored build subtrees appear as
    * their materialized roots (Scan ExistingRDD) — the right surface
    * for serve-path pins. */
  private def formatted(name: String): String =
    Registry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** The full derivation tree: explainFull bypasses memoize and the
    * build-state store
    * (identity, no cache) so pins can see INSIDE materialized subtrees
    * — same convention as the PlanDump/PlanOne evidence tools. */
  private def formattedFull(name: String): String = {
    spark.conf.set("spark.graft.explainFull", "true")
    try Registry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    finally spark.conf.unset("spark.graft.explainFull")
  }

  test("build-state store: explainFull bypasses frame entries in BOTH directions") {
    // r17: a PlanDump pass must neither serve a checkpointed stored
    // entry (real roots in the dump) nor store its un-checkpointed
    // rebuild (no poisoning the production store)
    import graft.etl.TableStats
    import org.apache.spark.sql.DataFrame
    val lake = "plan-spec-explain-full"
    val hadConf = spark.conf.getOption("spark.graft.explainFull")
    try {
      spark.conf.unset("spark.graft.explainFull")
      val a = TableStats.build(spark, lake, "k")(spark.range(1).toDF())
      val b = TableStats.build(spark, lake, "k")(
        sys.error("store hit must not rebuild"): DataFrame)
      assert(a eq b, "production path must serve the stored instance")
      spark.conf.set("spark.graft.explainFull", "true")
      TableStats.build(spark, lake, "k2")(spark.range(2).toDF())
      val d = TableStats.build(spark, lake, "k")(spark.range(3).toDF())
      assert(!(d eq a), "explainFull must not serve the stored entry")
      spark.conf.unset("spark.graft.explainFull")
      var rebuilt = false
      TableStats.build(spark, lake, "k2") { rebuilt = true; spark.range(2).toDF() }
      assert(rebuilt, "explainFull build must not be stored")
      assert(TableStats.build(spark, lake, "k")(
        sys.error("unreachable"): DataFrame) eq a,
        "stored entry must survive the bypass untouched")
    } finally {
      hadConf match {
        case Some(v) => spark.conf.set("spark.graft.explainFull", v)
        case None => spark.conf.unset("spark.graft.explainFull")
      }
      TableStats.invalidate(lake)
    }
  }

  test("q8 pushes its time-range predicate into the parquet scan") {
    // the pushed literal's form follows the lake's on-disk ts encoding
    // (nanos-as-long vs µs timestamp) — adapt exactly as Tables.events
    // does rather than pinning one encoding
    val plan = formatted("q8_pruned_count")
    val pushedLines = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    Tables.events(spark, sf).schema // force the nanosAsLong conf set
    import org.apache.spark.sql.types.LongType
    spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType match {
      case LongType =>
        assert(plan.contains("GreaterThanOrEqual(ts,1704067200000000000)"), pushedLines)
        assert(plan.contains("LessThan(ts,1706745600000000000)"), pushedLines)
      case _ =>
        assert(plan.contains("GreaterThanOrEqual(ts,2024-01-01T00:00"), pushedLines)
        assert(plan.contains("LessThan(ts,2024-02-01T00:00"), pushedLines)
    }
  }

  test("q2 pushes the symbol filter into the parquet scan") {
    val plan = formatted("q2_vwap_minute")
    assert(plan.contains("EqualTo(event_type,purchase)"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("r1 prunes unread lineitem columns at the scan") {
    val plan = formatted("r1_pricing_summary")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // only the needed columns, not all 11
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("whole-stage codegen covers the market aggregation pipeline") {
    val df = Registry.queries("q1_partition_counts")(spark, sf)
    df.collect() // AQE finalizes stages only on execution
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd operators render as "*(n) Op" in the plan tree
    assert(plan.contains("*(1)") && plan.contains("*(2)"), plan.take(1500))
  }

  test("no broadcast hints on cardinality-scaling join sides (r2/r3/r9)") {
    // customer / per-customer aggregates grow with SF: a forced
    // broadcast that fits at sf0.1 OOMs at 100 TB. Only bounded dims
    // (nation=25, region=5) may carry hints; everything else is AQE's
    // call. Guards against the hints being reintroduced.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- Seq("r2_top_customers", "r9_scalar_subquery")) {
      val hints = Registry.queries(name)(spark, sf)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$name carries join hints: $hints")
    }
    // r3 keeps hints only on the fixed-size dims
    val r3Hints = Registry.queries("r3_revenue_by_region")(spark, sf)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h.child.output.map(_.name) }
    assert(r3Hints.forall(out =>
      out.exists(c => c.startsWith("n_") || c.startsWith("r_"))),
      s"r3 hints a non-dim side: $r3Hints")
  }

  test("retrieval_rrf prefilters the postings behind a broadcast left-semi (r31's shape)") {
    // the rrf query-term set is JOIN-DERIVED (df-ranked rarest terms),
    // so unlike bm25's literal isin it pushes nothing into the scan by
    // itself — the bounded distinct term set must broadcast as a
    // LEFT-SEMI prefilter before the exact postings join (on the
    // maintained lake the semi also carries the word_bucket partition
    // column; StreamingSpec pins the pruned file set there)
    val plan = formatted("retrieval_rrf")
    assert(plan.contains("LeftSemi"),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("corpus_mix_sample is a narrow hash filter — no join, no aggregate") {
    // the weighted-mixing selection must stay a stateless per-row test:
    // any executor can evaluate any row, nothing shuffles except the
    // presentation sort. A join or aggregate here means someone
    // materialized weights or sampled via a shuffle.
    val plan = formatted("corpus_mix_sample")
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
  }

  test("doc_chunking is generator-based — no join, no shuffle before the sort") {
    val plan = formatted("doc_chunking")
    assert(plan.contains("Generate"), plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    // exactly one Exchange: the presentation sort (count the detail
    // headers — the tree section renders every node a second time)
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Exchange""")) == 1,
      plan.take(1600))
  }

  test("text_contamination broadcasts the benchmark shingle set") {
    // the eval suite is tiny by construction (MBs vs TBs); the corpus
    // side must stream past it, never shuffle against it
    val plan = formatted("text_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("token_pack's corpus prefix sum is sharded, not a global window") {
    // Window.orderBy with no partition key funnels the whole corpus
    // into one reducer. The distributed prefix sum keeps the corpus
    // window hash-partitioned by shard; the only SinglePartition
    // exchange may feed the shard-totals window (#shards rows).
    val plan = formatted("token_pack")
    assert(plan.contains("hashpartitioning(pk"), plan.take(2000))
    val singles = plan.linesIterator.count(_.contains("Arguments: SinglePartition"))
    assert(singles <= 1, s"$singles SinglePartition exchanges:\n${plan.take(2000)}")
  }

  test("r31 applies the bloom-style prefilter before the exact join") {
    // the runtime-filter shape: a LeftSemi against the broadcast bucket
    // set must prune the fact side BEFORE the equi-join — if the semi
    // disappears (e.g. optimizer folds it away) the fact scan shuffles
    // everything and the operator loses its point at scale
    val plan = formatted("r31_bloom_prune")
    // the semi join's membership structure is broadcast, never shuffled
    assert(plan.contains("LeftSemi BuildRight"), plan.take(2000))
    // execution ORDER is the point: formatted-explain node ids number
    // bottom-up, so the semi's id must be smaller than the equi-join's
    // (tree text position would be inverted — parents print first)
    def nodeId(marker: String): Int = {
      val m = s"""\\Q$marker\\E \\((\\d+)\\)""".r
      m.findFirstMatchIn(plan).map(_.group(1).toInt)
        .getOrElse(fail(s"no '$marker' node in plan:\n${plan.take(2000)}"))
    }
    val semiId = nodeId("BroadcastHashJoin LeftSemi BuildRight")
    val innerId = plan.linesIterator
      .flatMap(l => """BroadcastHashJoin Inner BuildRight \((\d+)\)""".r
        .findFirstMatchIn(l).map(_.group(1).toInt)).toSeq.headOption
      .getOrElse(fail(s"no inner join node in plan:\n${plan.take(2000)}"))
    assert(semiId < innerId,
      s"semi (node $semiId) does not run before the exact join (node $innerId)")
  }

  test("r31's exact-join strategy flips with the stats ledger (plan-time CBO)") {
    // the CBO demonstration: the SAME ledger statistic that sizes the
    // bloom filter chooses the exact-join side. While ANALYZE says the
    // urgent-order build side fits, the plan carries a broadcast hint;
    // re-ANALYZE reporting it grew past CostModel.BroadcastRowLimit
    // must drop the hint (shuffle join) on the very next plan build —
    // a plan-time decision, visible before AQE ever runs a stage.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import graft.etl.TableStats
    def exactJoinHinted: Boolean =
      Registry.queries("r31_bloom_prune")(spark, sf)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
        .exists(_.child.output.exists(_.name == "o_orderdate"))
    try {
      TableStats.invalidate(sf) // fresh ANALYZE of the true (tiny) count
      assert(exactJoinHinted,
        "build side under the row limit should carry a plan-time broadcast hint")
      // simulate the nightly ANALYZE discovering the build side grew
      TableStats.invalidate(sf)
      TableStats.rowCount(spark, s"$sf#orders_urgent_1996")(
        graft.plans.CostModel.BroadcastRowLimit + 1)
      assert(!exactJoinHinted,
        "build side past the row limit must degrade to a shuffle join")
    } finally TableStats.invalidate(sf) // next consumer re-ANALYZEs the lake
  }

  test("dim broadcasts are stats-driven: re-ANALYZE growth drops every family's hint") {
    // the same plan-time CBO that r31 demonstrates, applied to the
    // star-join dims (nation/region), the filtered part key list, and
    // text_contamination's benchmark shingle set: while ANALYZE says
    // they fit, the plan carries broadcast hints; a re-ANALYZE
    // reporting growth past CostModel.BroadcastRowLimit must drop them
    // on the very next plan build.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import graft.etl.TableStats
    val families = Seq("r3_revenue_by_region", "r16_nation_flow",
      "r17_market_share", "r19_heavy_suppliers", "r27_returned_items",
      "r30_nation_profit", "text_contamination")
    def hinted(name: String): Boolean =
      Registry.queries(name)(spark, sf).queryExecution.analyzed
        .collect { case h: ResolvedHint => h }.nonEmpty
    try {
      TableStats.invalidate(sf) // fresh ANALYZE of the true (tiny) counts
      for (f <- families) assert(hinted(f), s"$f should hint its dims while they fit")
      // simulate the nightly ANALYZE discovering every build side grew
      TableStats.invalidate(sf)
      for (k <- Seq("nation", "region", "region_asia", "part_small",
          "contamination_evalset"))
        TableStats.rowCount(spark, s"$sf#$k")(
          graft.plans.CostModel.BroadcastRowLimit + 1)
      for (f <- families)
        assert(!hinted(f), s"$f must degrade to shuffle joins after growth")
    } finally TableStats.invalidate(sf) // next consumer re-ANALYZEs the lake
  }

  test("text_bm25_topk's global top-50 is TakeOrdered, not a corpus-wide sort") {
    // orderBy+limit must plan as TakeOrderedAndProject (per-partition
    // partial top-k); the only single-partition work after it is the
    // 50-row rank window
    val plan = formatted("text_bm25_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("pack_attention_mask reuses the sharded prefix sum (no global window)") {
    val plan = formatted("pack_attention_mask")
    assert(plan.contains("hashpartitioning(pk"), plan.take(2000))
    val singles = plan.linesIterator.count(_.contains("Arguments: SinglePartition"))
    assert(singles <= 1, s"$singles SinglePartition exchanges:\n${plan.take(2000)}")
  }

  test("text_pii_redact is a stateless narrow scan — no join, no aggregate") {
    val plan = formatted("text_pii_redact")
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("HashAggregate"), plan.take(1200))
  }

  test("text_rarity_score broadcasts the vocabulary-bounded rank table") {
    val plan = formatted("text_rarity_score")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("text_keyword_extract's per-doc top-3 uses the heap operator, not a window sort") {
    val plan = formatted("text_keyword_extract")
    assert(plan.contains("TopKPerGroup"), "heap rewrite did not engage")
  }

  test("q21's per-symbol stats side is broadcast (bounded), the fact side never is") {
    val plan = formatted("q21_anomaly")
    assert(plan.contains("BroadcastHashJoin"), "stats join should broadcast")
    // exactly one broadcast side: the 5-row stats aggregate
    assert(!plan.contains("SortMergeJoin"), "fact side should not shuffle for a bounded dim")
  }

  test("funnel stage aggregates all shuffle on user_id (reusable exchange shape)") {
    val plan = formatted("q19_funnel")
    val partitionings = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(partitionings >= 3, s"expected the three stage aggregates keyed on user_id:\n$plan")
  }

  test("substring-span gram derivation: generator-based, hashed key, shuffle-free") {
    // the derivation plan (pre-checkpoint): row-local ngrams generator
    // over the scan — no token Window/Sort, no Exchange at all; the
    // gram key is the bounded h60 hash
    val plan = operators.Dedup.spanGrams(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("ngrams("), plan.take(1600))
    assert(plan.contains("md5("), "gram key should be hashed (h60 family)")
    assert(plan.linesIterator.forall(!_.matches("""\(\d+\) Window.*""")),
      plan.take(1600))
    assert(plan.linesIterator.forall(!_.matches("""\(\d+\) Exchange.*""")),
      plan.take(1600))
  }

  test("minhash signature build is window-free: one Exchange, map-side partial mins") {
    // the round-9 NgramArray rewrite: shingles form row-locally (no
    // posexplode+lead Window, so no Exchange(doc_id)+Sort of the token
    // stream) and the duplicate-insensitive min aggregation needs no
    // distinct — the ONLY Exchange in the whole signature build is the
    // groupBy itself, with partial_min payload per (doc, partition).
    val plan = operators.Dedup.signaturesOf(
      Tables.documents(spark, sf).select("doc_id", "text"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.linesIterator.forall(!_.matches("""\(\d+\) Window.*""")),
      plan.take(1600))
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Exchange""")) == 1,
      plan.take(1600))
    assert(plan.contains("partial_min"), plan.take(1600))
    assert(plan.contains("ngrams("), plan.take(1600))
  }

  test("substring-span op windows only the islands merge, never the token stream") {
    val plan = formatted("dedup_substring_spans")
    // exactly ONE Window — the islands merge over duplicated positions
    // (a tiny, already-filtered stream); the 8-gram derivation sits
    // behind the checkpointed gram stream, pinned generator-based by
    // the derivation test above
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Window.*""")) == 1,
      plan.take(2000))
    assert(!plan.contains("lead("), plan.take(2000))
  }

  test("substring gate probes the seen set by semi join; islands stay the only Window") {
    // r18: the span derivation is memoized (its count gates the final
    // join's broadcast), so the pins need the full derivation tree
    val plan = formattedFull("dedup_gate_substring")
    // the admission probe must stay a LeftSemi on the 8-byte gram hash
    // — admitted-corpus text must never travel into the gate's join
    assert(plan.contains("LeftSemi"), plan.take(2000))
    // r18: the seen stream is Bloom-pruned against the incoming grams
    // BEFORE its exchange + distinct (§3.2) — the filter must sit on
    // the admitted-corpus scan side, upstream of the semi join
    assert(plan.contains("mightContainLong"),
      "seen-side bloom prune missing:\n" + plan.take(2000))
    // same rewrite shape as dedup_substring_spans: exactly ONE Window
    // (the islands merge over duplicated positions); the token stream
    // is never windowed
    assert(plan.linesIterator.count(_.matches("""\(\d+\) Window.*""")) == 1,
      plan.take(2000))
    assert(!plan.contains("lead("), plan.take(2000))
  }

  test("decontaminate rewrite: broadcast hit join, windows only span-granularity streams") {
    // r18: full tree — the span table is memoized for its count-gated
    // broadcast back onto the corpus text (SortMergeJoin eliminated)
    val plan = formattedFull("text_decontaminate_rewrite")
    assert(plan.contains("BroadcastHashJoin LeftOuter"),
      "span table should broadcast onto the text stream:\n" + plan.take(2000))
    // the bench shingle index rides the ledger-gated broadcast — the
    // corpus-side positional shingle stream must not shuffle to meet it
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // positional shingles are generator-based: no lead()-over-tokens
    // Window anywhere in the tree
    assert(!plan.contains("lead("), plan.take(2000))
    // windows exist only on HIT-bounded streams: the per-(doc,bench)
    // islands merge and the per-doc interval merge — never the token
    // stream (which would add a corpus-wide Exchange+Sort)
    val windows = plan.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(windows >= 1 && windows <= 3, s"unexpected Window count $windows:\n${plan.take(2000)}")
  }

  test("r32 catalog stats is Expand-free: per-column branches, no row multiplication") {
    // N>1 exact distincts in one aggregate plan through Expand (rows
    // ×N+1 through the first hash aggregate, Σ-NDV values into one
    // reducer); the union-of-column-jobs shape must keep every branch
    // a single-distinct two-level aggregate over a one-column scan
    val plan = formatted("r32_catalog_stats")
    assert(!plan.contains("Expand"), plan.take(1600))
    assert(plan.contains("Union"), plan.take(1600))
  }

  test("ann_binary_topk: heap-ranked hamming prefilter, no corpus-wide sort") {
    val plan = formatted("ann_binary_topk")
    // three rank stages (hamming top-C, fast top-64, exact top-5) all
    // ride the bounded-heap operator + map-side WindowGroupLimit
    assert(plan.contains("TopKPerGroup"), "heap rewrite did not engage")
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    // the signature scan side is never globally sorted before ranking
    assert(!plan.contains("SortMergeJoin"), "popcount scan should not shuffle-join")
  }

  test("embedding_outliers: one moment aggregate, broadcast join-back") {
    val plan = formatted("embedding_outliers")
    assert(plan.contains("BroadcastHashJoin"), "k-row moments should broadcast")
    // exactly one aggregate pair (partial+final moments) over the index
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("Window"), "screen needs no window")
  }

  test("corpus_cluster_topics: per-cluster top-terms rank is group-limited") {
    val plan = formatted("corpus_cluster_topics")
    assert(plan.contains("WindowGroupLimit"), "top-terms rank not group-limited")
    assert(plan.contains("BroadcastHashJoin"), "cluster-size join should broadcast")
  }

  test("vec_dot resolves through SparkSessionExtensions in plain SQL") {
    val saved = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new graft.plans.GraftExtensions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate() // new session over the shared SparkContext
      val r = s2.sql(
        "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").head.getDouble(0)
      assert(r == 11.0)
      // the WHOLE custom surface resolves in plain SQL: exact decimal
      // dot, the three bounded-memory aggregates, and the media tier
      val exact = s2.sql(
        "SELECT CAST(vec_dot_exact(array(CAST(1.5 AS FLOAT)), " +
          "array(CAST(2.0 AS FLOAT))) AS DOUBLE)").head.getDouble(0)
      assert(exact == 3.0)
      val aggs = s2.sql(
        "SELECT size(kmv_sketch(h, 16)), " +
          "size(heavy_hitters(CAST(h AS STRING), 8)), " +
          "tdigest_quantiles(CAST(h AS DOUBLE), 100, array(0.0, 1.0)) " +
          "FROM (SELECT id % 10 AS h FROM range(100))").head
      assert(aggs.getInt(0) == 10)   // 10 distinct hashes, all under k=16
      assert(aggs.getInt(1) == 8)    // SpaceSaving capped at capacity 8
      val qs = aggs.getSeq[Double](2)
      assert(qs == Seq(0.0, 9.0))    // exact min/max
      val img = s2.sql(
        "SELECT image_meta(CAST('nope' AS BINARY)).format, " +
          "image_phash(CAST('nope' AS BINARY)), " +
          "image_resize(CAST('nope' AS BINARY), 8, 8)").head
      assert(img.isNullAt(0) && img.isNullAt(1) && img.isNullAt(2))
      val grams = s2.sql(
        "SELECT ngrams(split('a b c d', ' '), 3)").head.getSeq[String](0)
      assert(grams == Seq("a b c", "b c d"))
      // a NULL token must DROP its grams, not alias them to shorter
      // grams via concat_ws's null-skipping (SQL callers can pass
      // arbitrary arrays; a blocking consumer must not see 'a b'
      // pretending to be a 3-gram)
      val nullGrams = s2.sql(
        "SELECT ngrams(array('a', CAST(NULL AS STRING), 'b', 'c'), 3)")
        .head.getSeq[String](0)
      assert(nullGrams == Seq(), s"null-window grams not dropped: $nullGrams")
      val nullTail = s2.sql(
        "SELECT ngrams(array('a', 'b', 'c', CAST(NULL AS STRING)), 2)")
        .head.getSeq[String](0)
      assert(nullTail == Seq("a b", "b c"))
    } finally {
      saved.foreach { s =>
        SparkSession.setDefaultSession(s)
        SparkSession.setActiveSession(s)
      }
    }
  }

  // GraftSession.local is the one place a session gets graft's native
  // functions and the TopK rewrite; ops register nothing themselves

  test("ann_ivf_topk runs as the first op of a newSession() of the factory session") {
    val fresh = spark.newSession()
    val rows = Registry.queries("ann_ivf_topk")(fresh, sf).collect()
    assert(rows.nonEmpty)
  }

  test("the factory session and its newSession() carry every graft function") {
    val names = graft.plans.GraftExtensions.functions.map(_._1.funcName)
    assert(names.contains("frame_energies"))
    val fresh = spark.newSession()
    for (s <- Seq(spark, fresh); n <- names)
      assert(s.catalog.functionExists(n), n)
    assert(spark.experimental.extraOptimizations.contains(graft.plans.TopKRewriteRule))
    assert(spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
  }

  test("re-ANALYZE drops the memoized ScaNN codes and the skipping lake") {
    // a private copy of the test lake: the skipping lake's directory
    // derives from the lake path, and other suites rebuild theirs
    val lake = Paths.get("target/tmp/plan-spec-lake").toAbsolutePath
    if (!Files.exists(lake)) copyTree(Paths.get(sf), lake)
    val dir = lake.toString
    import graft.operators.{MarketQueries, Similarity}
    val codes = Similarity.buildScannCodes(spark, dir)
    val skip = MarketQueries.skippingLake(spark, dir)
    assert(Similarity.buildScannCodes(spark, dir) eq codes)
    assert(MarketQueries.skippingLake(spark, dir) eq skip)
    graft.etl.TableStats.invalidate(dir)
    assert(!(Similarity.buildScannCodes(spark, dir) eq codes))
    assert(!(MarketQueries.skippingLake(spark, dir) eq skip))
  }

  test("a newSession() plans its own ops over shared build state") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val rows = Registry.queries("ann_binary_topk")(spark, sf).collect()
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val df = Registry.queries("ann_binary_topk")(fresh, sf)
    assert(df.sparkSession eq fresh)
    assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
      "a conf set on the new session must reach the op's plan")
    assert(df.collect().map(_.toString).sorted.toSeq == rows.map(_.toString).sorted.toSeq)
    // the index was built once: both sessions' frames read one checkpoint
    val Seq(a, b) = Seq(spark, fresh).map(s =>
      graft.operators.Similarity.buildBinaryIndex(s, sf).queryExecution.logical)
    assert(a.isInstanceOf[LogicalRDD] && (a eq b))
  }

  test("re-ANALYZE releases what it drops; a failed build stores nothing") {
    // a private copy of the test lake, so other suites' build state
    // under sf survives this flush
    val lake = Paths.get("target/tmp/plan-spec-store-lake").toAbsolutePath
    if (!Files.exists(lake)) copyTree(Paths.get(sf), lake)
    val dir = lake.toString
    import graft.etl.TableStats
    import graft.operators.{CorpusIndex, Dedup, Similarity, TextAnalysis}
    import org.apache.spark.sql.{DataFrame, Dataset, Row}
    import org.apache.spark.sql.execution.LogicalRDD
    val artifacts: Seq[(String, () => Any)] = Seq(
      "shingles" -> (() => Dedup.shingles(spark, dir)),
      "signatures" -> (() => Dedup.corpusSigs(spark, dir)),
      "edges" -> (() => Dedup.similarityEdges(spark, dir)),
      "labels" -> (() => Dedup.clusterLabels(spark, dir)),
      "ivf" -> (() => Similarity.buildIvfIndex(spark, dir)),
      "pq" -> (() => Similarity.buildPqIndex(spark, dir)),
      "ivf_pq" -> (() => Similarity.buildIvfPqIndex(spark, dir)),
      "scann" -> (() => Similarity.buildScannCodes(spark, dir)),
      "bq" -> (() => Similarity.buildBinaryIndex(spark, dir)),
      "knn_edges" -> (() => Similarity.knnEdgesCapped(spark, dir)),
      "unigram" -> (() => TextAnalysis.uniBuild(spark, dir)),
      "unigram_prune" -> (() => TextAnalysis.uniPruneBuild(spark, dir)),
      "wordpiece" -> (() => TextAnalysis.wpBuild(spark, dir)),
      "corpus_index" -> (() => CorpusIndex.built(spark, dir)))
    def frames(v: Any): Seq[DataFrame] = v match {
      case d: Dataset[Row @unchecked] => Seq(d)
      case p: Product => p.productIterator.collect { case d: Dataset[Row @unchecked] => d }.toSeq
    }
    def checkpoints(v: Any): Seq[Int] = frames(v).flatMap(_.queryExecution.logical
      .collectLeaves().collect { case r: LogicalRDD => r.rdd.id })
    val built = artifacts.map { case (n, f) => n -> f() }
    val held = built.map { case (n, v) => n -> checkpoints(v) }
    val persistent = spark.sparkContext.getPersistentRDDs
    for ((n, ids) <- held) {
      assert(ids.nonEmpty, s"$n holds no checkpointed frame")
      assert(ids.forall(persistent.contains), s"$n's blocks are not persisted")
    }
    TableStats.invalidate(dir)
    val left = spark.sparkContext.getPersistentRDDs
    for ((n, ids) <- held)
      assert(!ids.exists(left.contains), s"$n's checkpoint outlived its entry")
    for (((n, f), (_, old)) <- artifacts.zip(built))
      assert(!(frames(f()).head eq frames(old).head), s"$n was not rebuilt")
    // a build that throws leaves no entry; the retry builds and is stored
    var builds = 0
    intercept[IllegalStateException](TableStats.build[DataFrame](spark, dir, "failing") {
      builds += 1
      throw new IllegalStateException("build failed")
    })
    val ok = TableStats.build(spark, dir, "failing") { builds += 1; spark.range(1).toDF() }
    assert(builds == 2)
    assert(TableStats.build(spark, dir, "failing")(sys.error("stored"): DataFrame) eq ok)
    TableStats.invalidate(dir)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally walk.close()
  }
}
