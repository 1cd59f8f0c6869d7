package graft

import org.apache.spark.sql.functions._

/** Scale-linearity probe: replicates the sf0.1 fact tables ×N (keys
  * offset per replica) into target/tmp and times headline queries at
  * both scales. Near-linear ratios mean the plans hold as data grows;
  * superlinear blowup flags a shuffle/sort that won't survive 100 TB. */
object ScaleProbe {
  // ×16 is the standing sweep; SPARK_GRAFT_SCALE_FACTOR=64 builds a
  // second scale point (replica construction is factor-generic) for
  // confirming capacity derivations past their first knee — e.g.
  // dedup_simhash / mm_phash_neardup cross the 2¹⁴-doc chunk-widening
  // threshold between ×16 and ×64 of sf0.1's 5k docs (×16 = 80k is
  // already past it; sf0.1 itself is under it).
  private val Factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "16").toInt

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"))
    val src = "/root/testdata/sf0.1"
    // optional focused run: comma-separated names (registry names
    // and/or the parameter-exhibit rows like ann_knn_graph@hotSplit)
    val only: Option[Set[String]] = args.headOption.map(_.split(",").toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    val dst = ensureReplica(spark, src, Factor)

    runProbe(spark, src, dst, wanted)
  }

  /** Replicate the sf0.1 tables ×`factor` into target/tmp (no-op if
    * already built) and return the replica dir. Shared by the probe
    * and the ×16 bench gate ([[BenchX16]]). */
  def ensureReplica(spark: org.apache.spark.sql.SparkSession, src: String,
      factor: Int): String = {
    val dst = s"target/tmp/scale$factor"
    if (!new java.io.File(s"$dst/lineitem.parquet").exists()) {
      val reps = spark.range(factor).withColumnRenamed("id", "rep")
      // Replica tables are written WIDE (32 files): crossJoin preserves
      // the sf0.1 scan's partitioning, and sf0.1's small tables are ONE
      // scan partition — so an un-repartitioned ×64 replica is one
      // ~90 MB file = one scan partition, and every narrow chain off it
      // (the IVF build's sample → crossJoin × k centroids, signature
      // derivations) serializes onto a single core. That measures a
      // file-layout artifact, not the plan: a real lake at this volume
      // has files ≫ cores. Found at ×64 (round 14): the IVF build ran
      // a single 460-CPU-s task; at ×16 the same chain exists but is
      // 16× smaller, under the noise floor.
      def wwrite(df: org.apache.spark.sql.DataFrame, path: String): Unit =
        df.repartition(32).write.mode("overwrite").parquet(path)
      // facts: replicate with offset keys so join/group cardinality scales
      wwrite(Tables.events(spark, src).crossJoin(reps)
        .withColumn("event_id", col("event_id") + col("rep") * 100000000L)
        .withColumn("user_id", col("user_id") + col("rep") * 1000000L)
        .drop("rep")
        // ts back to long nanos so the probe reads it like the original
        .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000),
        s"$dst/events.parquet")
      wwrite(Tables.lineitem(spark, src).crossJoin(reps)
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * 100000000L)
        .drop("rep"), s"$dst/lineitem.parquet")
      wwrite(Tables.orders(spark, src).crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 100000000L)
        .withColumn("o_custkey", col("o_custkey") + col("rep") * 1000000L)
        .drop("rep"), s"$dst/orders.parquet")
      // dims: pass through unscaled
      for (t <- Seq("supplier", "part", "nation", "region"))
        Tables.table(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      // llm tables scale too, replica-DISTINCT so pair growth stays
      // linear (what real corpus growth looks like): every word gets a
      // replica prefix → no cross-replica shingle/signature collisions,
      // and blocking keys (source, label) are offset per replica.
      wwrite(Tables.table(spark, src, "documents").crossJoin(reps)
        .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L)
        .withColumn("source", concat(col("source"), lit("_r"), col("rep")))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            w => concat(lit("r"), col("rep"), lit("x"), w)), " "))
        .drop("rep"), s"$dst/documents.parquet")
      // replica-DISTINCT like documents: each replica's vectors are
      // circularly rotated by rep positions — within-replica dot
      // products (and so every base-corpus near-dup pair) are exactly
      // preserved, while cross-replica cosines scatter like fresh data.
      // Verbatim replication made every vector a 16-fold exact
      // duplicate, so dedup ops correctly found 256× the pairs and the
      // probe charged the op for the corpus's pathology.
      wwrite(Tables.table(spark, src, "embeddings").crossJoin(reps)
        .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L)
        .withColumn("label", col("label") + col("rep") * 1000L)
        .withColumn("embedding", expr(
          """transform(sequence(0, size(embedding) - 1),
             |  i -> element_at(embedding,
             |         CAST((i + rep) % size(embedding) AS INT) + 1))""".stripMargin))
        .drop("rep"), s"$dst/embeddings.parquet")
      // customer must cover the scaled custkeys for join semantics
      wwrite(Tables.customer(spark, src).crossJoin(reps)
        .withColumn("c_custkey", col("c_custkey") + col("rep") * 1000000L)
        .drop("rep"), s"$dst/customer.parquet")
    }
    dst
  }

  private def runProbe(spark: org.apache.spark.sql.SparkSession, src: String,
      dst: String, wanted: String => Boolean): Unit = {
    val names = Seq("q1_partition_counts", "q5_whale", "q9_daily_summary",
      "q12_drawdown", "q13_gapfill", "q14_correlation_matrix",
      "r1_pricing_summary", "r2_top_customers", "r6_asof_join",
      "r14_range_join", "s1_window_candles", "s2_sessionize",
      "etl_normalize", "etl_upsert_latest", "etl_incremental",
      "dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash",
      "dedup_embedding", "dedup_clusters", "dedup_keep_best",
      "ann_bruteforce_topk", "ann_lsh_topk", "ann_ivf_topk",
      "text_heavy_hitters", "text_ngram_freq",
      "r19_heavy_suppliers", "r20_custdist", "r21_big_orders",
      "text_quality_gopher", "text_repetition", "text_contamination",
      "corpus_mix_sample", "doc_chunking", "corpus_shuffle", "token_pack",
      "embedding_quantize", "mm_dedup",
      "contrastive_pairs", "q15_quantiles", "q16_quantiles_sketch",
      "r22_idle_rich", "r23_small_qty_revenue", "corpus_filter_pipeline",
      "mm_feature_extract",
      "r26_forecast_revenue", "r27_returned_items", "r28_promo_share",
      "r29_top_supplier", "r30_nation_profit", "r31_bloom_prune",
      "r32_catalog_stats", "q17_distinct_sketch",
      "pack_attention_mask", "text_pii_redact", "text_rarity_score",
      "text_bm25_topk", "ann_pq_topk", "ann_ivfpq_topk", "ann_opq_topk",
      "q18_pattern_scan", "etl_constraint_check",
      "q19_funnel", "q20_retention", "q21_anomaly",
      "dedup_semantic", "dedup_substring_spans", "dedup_substring_rewrite",
      "text_keyword_extract", "mm_phash_neardup", "corpus_temperature_mix",
      // ann_knn_multiprobe is intentionally absent: it shares
      // ann_knn_graph's bucket structure at ≤2× the pair volume by
      // construction (probed once at ~193× = ~2× the knn ratio under
      // the fixed-plane saturation that the now-default derived plane
      // count remedies), and a standing ~12-minute row would dominate
      // probe runtime without new information.
      "ann_knn_graph", "ann_knn_hotsplit", "ann_knn_hotprobe", "graph_pagerank",
      "q22_bollinger", "mm_scene_cut", "dedup_minhash_est", "q23_kmv_distinct",
      "q24_twap",
      "etl_normalize_klines", "etl_normalize_aggtrades",
      "etl_skipping_scan", "dedup_gate", "dedup_containment", "mm_resize",
      "corpus_split_leakfree", "corpus_dsir_weights",
      "text_perplexity", "corpus_epoch_plan", "ann_graph_search",
      "retrieval_rrf", "ann_recall_report", "corpus_shard_manifest",
      "corpus_coreset_kcenter", "tokenizer_bpe_train", "tokenizer_bpe_apply",
      "corpus_datacard", "corpus_curriculum_order",
      "corpus_quality_classifier",
      "text_collocations", "dedup_editdist", "ann_range_search",
      "ann_filtered_search", "embedding_pca", "mm_audio_vad",
      "dedup_paragraph", "dedup_paragraph_rewrite",
      "ann_binary_topk", "embedding_outliers", "corpus_cluster_topics",
      "embedding_matryoshka", "mm_audio_snr", "mm_image_stats",
      "ann_adaptive_topk",
      "dedup_allpairs", "corpus_doremi_mix", "retrieval_mmr_rerank",
      "ann_scann_topk", "embedding_whitening", "dedup_gate_exact",
      "tokenizer_unigram_train", "tokenizer_unigram_apply",
      "tokenizer_unigram_prune",
      "tokenizer_wordpiece_train", "tokenizer_wordpiece_apply",
      "tokenizer_fertility_report",
      "dedup_gate_substring", "text_decontaminate_rewrite")
    // uniform noop sink, same as Bench: materializes every output
    // column so no query shape can under-measure under count()'s
    // work elimination (the round-5-8 special-case list is gone)
    def time(dir: String, name: String): Double = {
      val t0 = System.nanoTime()
      Registry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.filter(wanted).foreach(n => time(src, n))
    // Index/signature/label construction is a maintenance job (build
    // once, serve many queries — like compaction), so warm the ×N
    // builds too: the probe measures the QUERY path's scaling, and
    // charging a one-time build to the first timed run at one scale
    // but not the other made ann_pq look 88× when its scan is actually
    // linear. The warm set is DERIVED from the registry
    // ([[Op.buildState]], declared at each op definition): every
    // wanted op that serves from memoized build state runs once at ×N
    // first — so a filtered invocation (`ScaleProbe dedup_minhash_est`)
    // warms exactly its own build path and can never silently un-warm
    // what a hand-list forgot. Cold build cost is measured explicitly
    // by the @build exhibits at the end.
    names.filter(wanted).filter(Registry.buildStateOps)
      .foreach(n => time(dst, n))
    println(f"${"query"}%-22s ${"sf0.1"}%8s ${s"x$Factor"}%8s ${"ratio"}%6s")
    names.filter(wanted).foreach { n =>
      val a = time(src, n)
      val b = time(dst, n)
      println(f"$n%-22s $a%8.2f $b%8.2f ${b / a}%6.1f")
    }
    // -----------------------------------------------------------------
    // Fixed-parameter saturation exhibits. The registry entries derive
    // their capacities from corpus stats (IVF/SemDeDup k ∝ n, LSH
    // planes ∝ log n, pHash chunk width ∝ log n, bloom buckets ∝ build
    // side), so the standing rows above measure the scale-safe
    // derivations. These rows re-pin the HISTORICAL fixed parameters at
    // both scales — the saturation each derivation exists to prevent —
    // keeping the fixed-vs-derived contrast measurable. The kNN-graph
    // fixed-plane exhibit (6 planes at ×16 = 198× in the round-5
    // standing row, a ~5-minute measurement) is intentionally absent:
    // the round-5 number documents it, and a standing 5-minute row re-
    // proving a retired configuration would dominate probe runtime.
    // -----------------------------------------------------------------
    def timeSem(dir: String, k: Int): Double = {
      val t0 = System.nanoTime()
      operators.Dedup.dedupSemanticAt(spark, dir, k).count()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("dedup_semantic@fixedK")) {
      timeSem(src, 10); timeSem(dst, 10) // warm (index build = maintenance job)
      val sa = timeSem(src, 10)
      val sb = timeSem(dst, 10)
      println(f"${"dedup_semantic@fixedK"}%-22s $sa%8.2f $sb%8.2f ${sb / sa}%6.1f")
    }
    def timePhash(dir: String, bits: Int): Double = {
      val t0 = System.nanoTime()
      operators.Multimodal.phashNeardupAt(spark, dir, bits).count()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("mm_phash_neardup@fixedBands")) {
      timePhash(src, 16); timePhash(dst, 16) // warm
      val pa = timePhash(src, 16)
      val pb = timePhash(dst, 16)
      println(f"${"mm_phash_neardup@fixedBands"}%-27s $pa%8.2f $pb%8.2f ${pb / pa}%6.1f")
    }
    def timeBloom(dir: String, buckets: Int): Double = {
      val t0 = System.nanoTime()
      operators.RelationalQueries.bloomPruneAt(spark, dir, buckets).count()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("r31_bloom_prune@fixedBuckets")) {
      timeBloom(src, 8192); timeBloom(dst, 8192) // warm
      val ba = timeBloom(src, 8192)
      val bb = timeBloom(dst, 8192)
      println(f"${"r31_bloom_prune@fixedBuckets"}%-28s $ba%8.2f $bb%8.2f ${bb / ba}%6.1f")
    }
    // -----------------------------------------------------------------
    // BPE merge-count scaling (@K): the trainer touches the corpus
    // exactly once (the word-frequency pass); the K merge rounds then
    // iterate on the vocab-bounded symbol table with one 1-row collect
    // each. A production vocab is 32k merges, so per-round cost — and
    // whether it stays FLAT as K grows — is the scale edge. Timed at
    // K=6/64/256 over the sf0.1 corpus; `learned` can stop below K if
    // the bounded vocabulary exhausts its pairs.
    // -----------------------------------------------------------------
    if (wanted("tokenizer_bpe_train@K")) {
      val docs = Tables.table(spark, src, "documents")
      var seq256: Seq[(Int, String, String, Long)] = Nil
      for (k <- Seq(6, 64, 256)) {
        val t0 = System.nanoTime()
        val rules = operators.TextAnalysis.bpeTrainMerges(docs, k)
        if (k == 256) seq256 = rules
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"${s"bpe_train@K$k"}%-22s $sec%8.2f ${sec / math.max(rules.length, 1)}%8.3f sec/round (${rules.length} rounds)")
      }
      // @batch: pair-disjoint merge batches — ~K/batch corpus-wide
      // count rounds for the same vocabulary size; rule agreement vs
      // sequential is reported, not assumed (accepted counts are
      // exact, but created or overlap-rejected pairs can re-rank the
      // sequence a sequential trainer would have taken)
      val t0 = System.nanoTime()
      val (batched, rounds) =
        operators.TextAnalysis.bpeTrainMergesRounds(docs, 256, batch = 16)
      val sec = (System.nanoTime() - t0) / 1e9
      val seqSet = seq256.map(t => (t._2, t._3)).toSet
      val agree = batched.count(t => seqSet((t._2, t._3)))
      println(f"${"bpe_train@K256batch16"}%-22s $sec%8.2f ${sec / math.max(rounds, 1)}%8.3f sec/round ($rounds rounds, ${batched.length} rules, $agree/${seq256.length} shared with sequential)")
    }
    // -----------------------------------------------------------------
    // Graph-index bootstrap contrast (@plain/@capped): the edge build
    // is the one bootstrap whose pair volume is skew-quadratic
    // (Σ|bucket|² under cluster skew — plain multiprobe edges), vs the
    // hotprobe-capped build whose join groups are bounded to ~cap by
    // construction. Timed in ONE process at both scales so the ratios
    // are comparable; the capped set is what graphIndexInit(capped =
    // true) bootstraps the lake from at 100 TB.
    // -----------------------------------------------------------------
    if (wanted("graph_edges@capped") || wanted("graph_edges@plain")) {
      def edges(dir: String, capped: Boolean): Double = {
        val vn = operators.Similarity.withNorm2(Tables.table(spark, dir, "embeddings"))
        val t0 = System.nanoTime()
        val df =
          if (capped) operators.Similarity.knnEdgesCappedOver(vn,
            operators.Similarity.derivedPlanes(spark, dir))
          else operators.Similarity.knnEdgesOver(vn)
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      for (capped <- Seq(false, true);
           nm = if (capped) "graph_edges@capped" else "graph_edges@plain"
           if wanted(nm)) {
        val a = edges(src, capped); val b = edges(dst, capped)
        println(f"$nm%-28s $a%8.2f $b%8.2f ${b / a}%6.1f")
      }
    }
    // -----------------------------------------------------------------
    // Cold-build exhibits (@build): the one-time maintenance cost the
    // registry-derived warm pass deliberately keeps OUT of the standing
    // rows — committed here so each bootstrap's ×N cost is a measured
    // number instead of an estimate. Each row flushes the lake's
    // memoized build state (`TableStats.invalidate`), times
    // the first run (build + serve) and the second (warm serve);
    // build ≈ cold − warm. Placed LAST: invalidation un-warms every
    // cache for the lake, so nothing timed may follow.
    // -----------------------------------------------------------------
    val buildExhibits = Seq(
      "dedup_minhash" -> "signature table (shingles->sigs)",
      "ann_ivf_topk" -> "IVF centroids + assignments",
      "ann_pq_topk" -> "PQ codebooks + codes",
      "ann_graph_search" -> "kNN edge set",
      "text_bm25_topk" -> "inverted index (CorpusIndex)",
      "tokenizer_bpe_apply" -> "BPE rule table")
    for ((n, what) <- buildExhibits if wanted(s"$n@build")) {
      def coldWarm(dir: String): (Double, Double) = {
        graft.etl.TableStats.invalidate(dir)
        (time(dir, n), time(dir, n))
      }
      val (ca, wa) = coldWarm(src)
      val (cb, wb) = coldWarm(dst)
      val (ba, bb) = (math.max(ca - wa, 0.01), math.max(cb - wb, 0.01))
      println(f"${s"$n@build"}%-28s $ba%8.2f $bb%8.2f ${bb / ba}%6.1f  ($what; cold $ca%.2f/$cb%.2f warm $wa%.2f/$wb%.2f)")
    }
    // -----------------------------------------------------------------
    // Maintained-lake ×N maintenance cycle (@lakes): one full
    // init → append → serve → drift → compact → re-train cycle per
    // index family, timed at both scales. The append micro-batch is
    // CONSTANT SIZE at both scales (the rep-0 held-out slice, ~1k
    // rows): production micro-batches don't grow with the lake, so the
    // append leg prices the admission/assignment work against a ×N
    // lake at fixed input (it should be ~flat), while init / compact /
    // retrain legs scale with the lake itself (bounded by ~N·linear).
    // No leg may be superlinear in N.
    // -----------------------------------------------------------------
    if (wanted("lakes@maintenance") || wanted("vocab_lake@maintenance")) {
      val fullLakes = wanted("lakes@maintenance")
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.{DataFrame => DF}
      import graft.streaming.StreamingJobs
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      def cycle(dir: String, root: String): Seq[(String, Double)] = {
        val hp = new org.apache.hadoop.fs.Path(root)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
        def leg(f: => Any): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        def noop(df: DF): Unit =
          df.write.mode("overwrite").format("noop").save()
        // rep-0 held-out slices: identical rows at both scales.
        // vecsIn/panel/qn are LAZY: the vocab_lake-only mode must not
        // pay the ~200k-vector driver collect + panel checkpoints the
        // full-lake branch alone consumes
        lazy val vecsIn = Tables.table(spark, dir, "embeddings")
          .filter(col("vec_id") % 5 === 4 && col("vec_id") < 1000000L)
          .select("vec_id", "embedding")
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        val docsIn = Tables.table(spark, dir, "documents")
          .filter(col("doc_id") % 5 === 4 && col("doc_id") < 1000000L)
          .select("doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val vBase = col("vec_id") % 5 =!= 4
        val dBase = col("doc_id") % 5 =!= 4
        val lakeCorpus = Tables.table(spark, dir, "embeddings")
          .filter(vBase || (col("vec_id") % 5 === 4 && col("vec_id") < 1000000L))
          .select("vec_id", "embedding")
        lazy val panel = operators.Similarity.annPanelQueries(spark, dir).localCheckpoint()
        lazy val qn = operators.Similarity.withNorm2(panel)
          .select(col("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
          .localCheckpoint()
        def appendVecs(start: (DF, String, String) =>
            org.apache.spark.sql.streaming.StreamingQuery,
            idx: String): Double = leg {
          val ms = MemoryStream[(Long, Seq[Float])]
          val q = start(ms.toDF().toDF("vec_id", "embedding"), idx, s"$idx-ckpt")
          try { ms.addData(vecsIn); q.processAllAvailable() } finally q.stop()
        }
        val ivf = s"$root/ivf"; val pq = s"$root/ivfpq"
        val gr = s"$root/graph"; val bq = s"$root/bq"; val inv = s"$root/inv"
        (if (!fullLakes) Seq.empty else Seq(
          "ivf_lake@init" -> leg(StreamingJobs.ivfIndexInit(spark, dir, vBase, ivf)),
          "ivf_lake@append" -> appendVecs(StreamingJobs.ivfAppendStream, ivf),
          "ivf_lake@serve" -> leg(noop(StreamingJobs.ivfIndexSearch(spark, ivf, qn))),
          "ivf_lake@drift" -> leg(noop(StreamingJobs.ivfDriftReport(spark, ivf))),
          "ivf_lake@compact" -> leg(StreamingJobs.ivfCompactPostings(spark, ivf)),
          "ivf_lake@retrain" -> leg(StreamingJobs.ivfRetrain(spark, ivf)),
          "ivfpq_lake@init" -> leg(StreamingJobs.ivfpqIndexInit(spark, dir, vBase, pq)),
          "ivfpq_lake@append" -> appendVecs(StreamingJobs.ivfpqAppendStream, pq),
          "ivfpq_lake@serve" -> leg(noop(StreamingJobs.ivfpqIndexSearch(spark, pq, qn))),
          "ivfpq_lake@drift" -> leg(noop(StreamingJobs.ivfpqDriftReport(spark, pq))),
          "ivfpq_lake@compact" -> leg(StreamingJobs.ivfpqCompactPostings(spark, pq)),
          "ivfpq_lake@retrain" -> leg(StreamingJobs.ivfpqRetrain(spark, pq, lakeCorpus)),
          "graph_lake@init" -> leg(StreamingJobs.graphIndexInit(spark, dir, vBase, gr)),
          "graph_lake@append" -> appendVecs(
            StreamingJobs.graphAppendStream(_, _, _), gr),
          "graph_lake@serve" -> leg(noop(StreamingJobs.graphIndexSearch(spark, gr, panel))),
          "graph_lake@drift" -> leg(noop(StreamingJobs.graphDriftReport(spark, gr))),
          "graph_lake@compact" -> leg(StreamingJobs.graphIndexCompact(spark, gr)),
          "graph_lake@rebuild" -> leg(StreamingJobs.graphIndexRebuild(spark, gr)),
          "bq_lake@init" -> leg(StreamingJobs.bqIndexInit(spark, dir, vBase, bq)),
          "bq_lake@append" -> appendVecs(StreamingJobs.bqAppendStream, bq),
          "bq_lake@serve" -> leg(noop(StreamingJobs.bqIndexSearch(spark, bq, qn))),
          "bq_lake@drift" -> leg(noop(StreamingJobs.bqDriftReport(spark, bq))),
          "bq_lake@compact" -> leg(StreamingJobs.bqCompactSignatures(spark, bq)),
          "bq_lake@repack" -> leg(StreamingJobs.bqRepack(spark, bq)),
          "inv_lake@init" -> leg(StreamingJobs.corpusIndexInit(spark, dir, dBase, inv)),
          "inv_lake@append" -> leg {
            val ms = MemoryStream[(Long, String)]
            val q = StreamingJobs.corpusIndexAppendStream(
              ms.toDF().toDF("doc_id", "text"), inv, s"$inv-ckpt")
            try { ms.addData(docsIn); q.processAllAvailable() } finally q.stop()
          },
          "inv_lake@serve" -> leg(noop(StreamingJobs.bm25IndexSearch(spark, inv))),
          "inv_lake@drift" -> leg(noop(StreamingJobs.corpusIndexDriftReport(spark, inv))),
          "inv_lake@compact" -> leg(StreamingJobs.corpusIndexCompact(spark, inv)))) ++ {
          // the round-16 tokenizer-stats lake: count journal + the
          // three trainer retrains + the journal-only drift verdict
          val vl = s"$root/vocab"
          val pieces = operators.TextAnalysis.unigramPieces(spark, dir)
          val (_, wIvoc, wCvoc, _) = operators.TextAnalysis.wpBuild(spark, dir)
          Seq(
            "vocab_lake@init" -> leg(StreamingJobs.vocabStatsInit(spark, dir, vl, dBase)),
            "vocab_lake@append" -> leg {
              val ms = MemoryStream[(Long, String)]
              val q = StreamingJobs.vocabStatsAppendStream(
                ms.toDF().toDF("doc_id", "text"), vl, s"$vl-ckpt")
              try { ms.addData(docsIn); q.processAllAvailable() } finally q.stop()
            },
            "vocab_lake@serve" -> leg(noop(StreamingJobs.vocabStatsServe(spark, vl))),
            "vocab_lake@drift" -> leg(noop(
              StreamingJobs.vocabDriftServe(spark, vl, pieces, wIvoc, wCvoc))),
            "vocab_lake@compact" -> leg(StreamingJobs.vocabStatsCompact(spark, vl)),
            "vocab_lake@retrain_uni" ->
              leg(noop(StreamingJobs.unigramRetrainFromLake(spark, vl))),
            "vocab_lake@retrain_bpe" ->
              leg(noop(StreamingJobs.bpeRetrainFromLake(spark, vl))),
            "vocab_lake@retrain_wp" ->
              leg(StreamingJobs.wordpieceRetrainFromLake(spark, vl)))
        }
      }
      val a = cycle(src, "target/tmp/probe-lakes-base")
      val b = cycle(dst, "target/tmp/probe-lakes-xn")
      a.zip(b).foreach { case ((n, ta), (_, tb)) =>
        println(f"$n%-22s $ta%8.2f $tb%8.2f ${tb / ta}%6.1f")
      }
    }
    spark.stop()
  }
}
