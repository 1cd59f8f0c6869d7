package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Tables}
import graft.functions.{h60Sql, round6, round6Sql}

/** Deduplication operators for a large-scale training-data pipeline,
  * over the `documents` table.
  *
  * Scale design: nothing here is O(n²) over the corpus. Exact dedup is
  * a hash groupBy; Jaccard candidates come from an inverted
  * shingle index (join only docs sharing a shingle, blocked by
  * `source`); MinHash/SimHash compare only within LSH band buckets.
  * At 100 TB the blocking keys (source, band hash, bit chunk) bound
  * every bucket, and each stage is one shuffle.
  */
object Dedup {

  // --- shared shingling ------------------------------------------------

  /** 3-word shingles, deduplicated per doc. Built with the codegen'd
    * row-local [[graft.plans.NgramArray]] expression (round 9): the
    * earlier posexplode + lead-window formulation forced an
    * Exchange(doc_id) + per-doc Sort of the whole corpus token stream
    * before a single shingle existed — the dedup stage's largest
    * shuffle at 100 TB, moving data that never needed to leave its
    * input row. (The interpreted HOF variant was measured ~3× slower
    * than even the windows, which is why a native expression, not
    * `transform`, replaces them — see NgramArray's scaladoc.) */
  /** The corpus shingle set, memoized per (application, lake) — the
    * bottom layer of the dedup build-state stack (shingles → MinHash
    * signatures → similarity edges → cluster labels). Every
    * inverted-index consumer (jaccard, containment, the est audit,
    * the edge build behind clusters/pagerank) reads ONE
    * localCheckpoint'd materialization: within a single query the
    * multi-consumer shape (set sizes + both self-join sides) would
    * otherwise re-run the derivation per consumer — AQE's stage reuse
    * does not collapse the identical branches (measured: shared-plan
    * 22.6 s vs materialized 15.5 s on the ×16 corpus) — and across
    * queries this is the same artifact a 100 TB dedup stage would
    * keep as a table. Held in the build-state store
    * ([[graft.etl.TableStats]]) like the signatures, edges and labels. */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "shingles")(
      shinglesOf(Tables.documents(s, dir)).transform(graft.functions.memoize))

  /** Same shingling over an arbitrary (doc_id, source, text) frame.
    *
    * `shingle` is the portable 60-bit hash of the gram, not the gram
    * string (round 9): every consumer needs only equality (inverted-
    * index joins, set sizes, intersection counts), and the distinct +
    * self-join shuffles carry 8-byte keys instead of 3-word strings —
    * at ×16 the string variant's distinct became the row's dominant
    * cost (probe 14.7× vs 5.7×). Oracles replay the identical h60, so
    * hash parity is exact; collisions (~2⁻⁶⁰ per pair) are REPLAYED,
    * not approximated. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), col("source"),
        explode(graft.plans.NgramArray.ngrams(split(col("text"), " "), 3))
          .as("gram"))
      .select(col("doc_id"), col("source"),
        graft.functions.h60(col("gram")).as("shingle"))
      // plain distinct: map-side partial dedup shrinks the 24-byte
      // hashed rows before the one exchange; consumers share the
      // result via the stored shingle materialization, not via plan-
      // level exchange reuse (AQE does not collapse the identical
      // derivation branches — measured)
      .distinct()
  }

  // --- dedup_exact: normalized-content hash groupBy --------------------

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(lower(trim(col("text")))).as("content_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  private val dedupExactSql =
    """SELECT md5(lower(trim(text))) AS content_hash,
      |       min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // --- dedup_editdist: blocked Levenshtein fuzzy dedup -----------------
  // The shingle-free member of the near-dup family: edit distance
  // directly captures character-level perturbations (typos, small
  // insertions) that survive shingle hashing poorly on short texts —
  // the classic fuzzy-match pass of record-linkage pipelines. Pairs
  // never form all-pairs: candidates share a BLOCK (first token +
  // length band — an edit-τ pair with a shared prefix word lands in
  // the same or adjacent band, and the band width ≫ τ makes the
  // band-straddling miss rate a blocking-definition choice, like
  // LSH's bucket miss), and the O(P²) DP runs only on the bounded
  // P=48-char prefix of each candidate, so per-pair cost is constant.
  // Blocking is part of the op's definition — the oracle replays the
  // identical blocks. A hot block (stopword first token — at 100 TB
  // "the …" is an unbounded join group) gets the hotsplit treatment:
  // blocks whose population exceeds the hot cap are re-blocked on
  // the SECOND token too (the ANN family's capped-bucket move, one
  // level down the token stream), so every self-join group is bounded
  // by the corpus's (w1, w2, band) ceiling instead of its w1 ceiling.
  // The residual hot block — same first TWO tokens, same band — is
  // the near-identical-cluster case where the pair OUTPUT itself is
  // quadratic, i.e. the irreducible part. Populations are exact
  // counts replayed by the oracle's `c` CTE; the cap is a
  // blocking-definition choice like LSH's bucket miss. The prefix is
  // ASCII-sanitized first so the comparison is byte/codepoint-
  // agnostic (Spark's levenshtein counts codepoints, DuckDB's counts
  // bytes; on [ -~] they agree).

  private val EditPrefix = 48
  private val EditTau = 8
  private val EditBand = 64
  // deployment-scale default: the (w1, band) population one executor
  // comfortably self-joins (10^4 candidates → ~5·10^7 banded-DP pairs
  // per block, seconds of work). Deployments tune it via
  // spark.graft.dedup.editHotCap; the oracle bakes the default, so the
  // driver's gate runs the default. DedupSpec exercises the split
  // decision itself with an explicit low cap (dedupEditdistOver(cap=4)
  // on a skewed stopword-first corpus) — the tiny test corpora never
  // reach 10^4.
  private[graft] val EditHotCapDefault = 10000

  /** Blocked fuzzy dedup over any (doc_id, text) frame at an explicit
    * hot-block cap — the registry entry binds the documents corpus at
    * the `spark.graft.dedup.editHotCap` conf ([[EditHotCapDefault]]);
    * DedupSpec pins the split decision and capped ≡ uncapped distance
    * sets on a skewed stopword-first corpus. */
  private[graft] def dedupEditdistOver(docs: DataFrame,
      cap: Int = EditHotCapDefault): DataFrame = {
    // four consumers (pops, the join-back, both self-join sides) and
    // AQE does not collapse identical branches (§5): without
    // materialization the regexp sanitize + prefix derivation re-scans
    // the full TEXT column four times. The derived frame is narrow
    // (~60 B/doc, no text), so the checkpoint is corpus-metadata-scale.
    val d = docs
      .withColumn("clean", regexp_replace(col("text"), "[^ -~]", ""))
      .select(col("doc_id"),
        substring(col("clean"), 1, EditPrefix).as("p"),
        substring_index(col("clean"), " ", 1).as("w1"),
        // split_part: '' when there is no second token — same
        // out-of-range convention as DuckDB's split_part
        expr("split_part(clean, ' ', 2)").as("w2"),
        expr(s"length(clean) div $EditBand").as("band"))
      .transform(graft.functions.memoize)
    // exact block populations (map-side combinable; the join back
    // shares the groupBy's hash partitioning, so the agg output
    // arrives co-partitioned — one shuffle of d total)
    val pops = d.groupBy("w1", "band").agg(count(lit(1)).as("pop"))
    val k = d.join(pops, Seq("w1", "band"))
      .withColumn("w2k",
        when(col("pop") > cap, col("w2")).otherwise(lit("")))
    val a = k.as("a"); val b = k.as("b")
    // the 3-arg (banded) levenshtein computes the O(τ·P) diagonal band
    // instead of the full O(P²) DP and short-circuits to -1 the moment
    // the distance provably exceeds τ (a length gap > τ exits before
    // any DP work) — distances ≤ τ are exact, so the result set and
    // the reported dist are identical to the unbounded form the
    // oracle's `levenshtein(p,q) <= τ` replays; measured ~4× on the
    // bench row
    a.join(b,
        col("a.w1") === col("b.w1") && col("a.band") === col("b.band") &&
          col("a.w2k") === col("b.w2k") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.p"), col("b.p"), EditTau))
      .filter(col("dist") >= 0)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("dist"))
      // survivors are tiny (near-dup pairs); checkpoint before the
      // global sort so the range partitioner's sampling pass doesn't
      // re-execute the whole join+DP subtree (measured 2x the op)
      .transform(graft.functions.memoize)
      .orderBy("id_a", "id_b")
  }

  private def dedupEditdist(s: SparkSession, dir: String): DataFrame = {
    val cap = s.conf.getOption("spark.graft.dedup.editHotCap")
      .map(_.toInt).getOrElse(EditHotCapDefault)
    // the DuckDB oracle bakes EditHotCapDefault (the oracleSql map is
    // static), so a session that tunes the conf makes this op's gate
    // twin diverge — surface that loudly instead of letting the gate
    // fail (or a deployment trust the twin) mysteriously. The result
    // SET is identical for dist ≤ τ either way (the cap only splits
    // blocks; DedupSpec pins capped ≡ uncapped on the distance set),
    // so this is a warning, not a refusal.
    if (cap != EditHotCapDefault)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"spark.graft.dedup.editHotCap=$cap != baked oracle default " +
          s"$EditHotCapDefault: the DuckDB gate twin replays the default " +
          "and will not match this session's candidate universe")
    dedupEditdistOver(Tables.documents(s, dir), cap)
  }

  private val dedupEditdistSql =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         left(regexp_replace(text, '[^ -~]', '', 'g'), $EditPrefix) AS p,
       |         split_part(regexp_replace(text, '[^ -~]', '', 'g'), ' ', 1) AS w1,
       |         split_part(regexp_replace(text, '[^ -~]', '', 'g'), ' ', 2) AS w2,
       |         length(regexp_replace(text, '[^ -~]', '', 'g')) // $EditBand AS band
       |  FROM documents),
       |c AS (SELECT w1, band, count(*) AS pop FROM d GROUP BY 1, 2),
       |k AS (SELECT d.*, CASE WHEN c.pop > $EditHotCapDefault THEN d.w2 ELSE '' END AS w2k
       |      FROM d JOIN c USING (w1, band))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       CAST(levenshtein(a.p, b.p) AS INTEGER) AS dist
       |FROM k a JOIN k b ON a.w1 = b.w1 AND a.band = b.band
       |                 AND a.w2k = b.w2k AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.p, b.p) <= $EditTau
       |ORDER BY id_a, id_b""".stripMargin

  // --- dedup_ngram_jaccard: inverted-index shingle Jaccard -------------
  // Candidates = pairs sharing ≥1 shingle within a source block (never
  // all-pairs); exact Jaccard from |A∩B| and precomputed set sizes.

  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val a = sh.as("a"); val b = sh.as("b")
    val inter = a.join(b,
        col("a.shingle") === col("b.shingle") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("jac_raw",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")).cast(DoubleType))
      .filter(col("jac_raw") >= 0.02)
      .select(col("id_a"), col("id_b"), round6(col("jac_raw")).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  private val dedupNgramJaccardSql =
    s"""WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
      |  FROM (SELECT doc_id, source, ts,
      |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1,2)
      |SELECT id_a, id_b,
      |       ${round6Sql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)")} AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = id_a
      |JOIN sizes sb ON sb.doc_id = id_b
      |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.02
      |ORDER BY id_a, id_b""".stripMargin

  // --- dedup_containment: asymmetric shingle containment ---------------
  // Broder's other resemblance measure: C(A,B) = |A∩B| / |A|. Symmetric
  // Jaccard misses subsumption — a short doc quoted whole inside a long
  // one has J ≈ |A|/|B| ≈ 0 but containment 1. This is the screen for
  // boilerplate reuse and quotation chains: for every inverted-index
  // candidate pair (same blocking as dedup_ngram_jaccard — docs sharing
  // a shingle within a source block, never all-pairs) report the
  // containment of the SMALLER side in the larger and flag ≥ 0.8.
  // Same inverted-index shuffle shape as the Jaccard screen, so the
  // 100 TB posture is identical: pair volume bounded by shared-shingle
  // buckets, join keys are the 8-byte h60 gram hashes (round 9).

  private def dedupContainment(s: SparkSession, dir: String): DataFrame =
    containmentOf(shingles(s, dir))

  /** Containment screen over a prepared (doc_id, source, shingle)
    * frame — split out so DedupSpec can pin the subsumption property
    * (small doc inside big ⇒ containment 1.0 at low Jaccard) on a
    * synthetic corpus. */
  private[graft] def containmentOf(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      // containment of the smaller shingle set in the larger (ties →
      // the a-side, the deterministic choice both engines make)
      .withColumn("small_id",
        when(col("na") <= col("nb"), col("id_a")).otherwise(col("id_b")))
      .withColumn("big_id",
        when(col("na") <= col("nb"), col("id_b")).otherwise(col("id_a")))
      .withColumn("cont_raw",
        col("c").cast(DoubleType) / least(col("na"), col("nb")).cast(DoubleType))
      .filter(col("cont_raw") >= 0.5)
      .select(col("small_id"), col("big_id"),
        least(col("na"), col("nb")).as("n_small"),
        col("c").as("n_shared"),
        round6(col("cont_raw")).as("containment"),
        (col("cont_raw") >= 0.8).as("is_subsumed"))
      .orderBy("small_id", "big_id")
  }

  private val dedupContainmentSql =
    s"""WITH toks AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source,
      |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
      |  FROM (SELECT doc_id, source, ts,
      |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1,2),
      |scored AS (
      |  SELECT CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS small_id,
      |         CASE WHEN sa.n <= sb.n THEN id_b ELSE id_a END AS big_id,
      |         LEAST(sa.n, sb.n) AS n_small, c AS n_shared,
      |         CAST(c AS DOUBLE) / LEAST(sa.n, sb.n) AS cont_raw
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b)
      |SELECT small_id, big_id, n_small, n_shared,
      |       ${round6Sql("cont_raw")} AS containment,
      |       cont_raw >= 0.8 AS is_subsumed
      |FROM scored WHERE cont_raw >= 0.5
      |ORDER BY small_id, big_id""".stripMargin

  // --- dedup_allpairs: EXACT threshold join via prefix filtering -------
  // The AllPairs/PPJoin family (Bayardo et al., "Scaling Up All Pairs
  // Similarity Search"; Xiao et al., PPJoin): the provably-COMPLETE
  // member of the near-dup stack. MinHash/SimHash trade recall for
  // bounded buckets; the inverted-index Jaccard screen joins on EVERY
  // shared shingle (bounded here only by source blocking). Prefix
  // filtering gets exactness AND pruning from one ordering argument:
  // rank each doc's shingles by ascending global document frequency
  // (rarest first, shingle hash as the deterministic tie-break) — two
  // sets with Jaccard ≥ t MUST share a shingle inside their first
  // p = n − ⌈t·n⌉ + 1 ranked shingles, so the inverted index is built
  // over PREFIXES only. At t = 0.8 that is ~the rarest 20% of each
  // doc, and — the scale property — the frequent shingles that create
  // quadratic inverted-list blowup are precisely the ones the prefix
  // drops: a shingle's list only receives docs for which it ranks in
  // the rare head. Candidates then pass the length filter
  // (⌈t·max(na,nb)⌉ ≤ min — integer form 4·max ≤ 5·min) before the
  // exact-verify join counts the true intersection; the final
  // threshold is the exact rational 5·c ≥ 4·(na+nb−c), no float
  // boundary. 100 TB shape: one agg for document frequencies
  // (map-side combinable), one exchange(doc_id) for the per-doc
  // ranking window, prefix explode (~0.2× the shingle stream), a
  // bounded candidate join, and a verify join proportional to
  // candidate pairs × doc size — never all-pairs, never full inverted
  // lists. DedupSpec pins losslessness: result set == brute-force
  // all-pairs Jaccard ≥ t on a synthetic corpus with near-dups that
  // share only mid-frequency shingles.

  /** Jaccard threshold as an exact rational (4/5 = 0.8): numerator/
    * denominator so prefix length, length filter, and the final
    * threshold all stay in integer arithmetic. */
  private val ApNum = 4
  private val ApDen = 5

  /** The ranked-shingle frame (global df order, per-doc positions,
    * prefix length) — the shared build under candidates and verify. */
  private[graft] def allpairsRankedOf(sh: DataFrame): DataFrame = {
    // sizes + the ranking window + both candidate sides + the verify
    // join all read the ranked frame: one materialization (the frame
    // is (doc_id, shingle, rank) — 24 B/row, corpus-shingle scale)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("dfc"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("dfc"), col("shingle"))
    sh.join(dfreq, "shingle")
      .withColumn("pos", row_number().over(wr))
      .join(sizes, "doc_id")
      // p = n − ⌈t·n⌉ + 1 with ⌈ApNum·n/ApDen⌉ = (ApNum·n + ApDen − 1) div ApDen
      .withColumn("plen",
        col("n") - expr(s"($ApNum * n + ${ApDen - 1}) div $ApDen") + lit(1))
      .transform(graft.functions.memoize)
  }

  /** Candidate pairs: share ≥1 prefix shingle + the length filter +
    * (PPJoin, Xiao et al.) the POSITIONAL filter — for the first
    * shared token at ranks (pa, pb) the intersection can never exceed
    * 1 + min(na−pa, nb−pb), so pairs whose bound falls below the
    * minimum overlap α = ⌈t/(1+t)·(na+nb)⌉ are pruned LOSSLESSLY
    * before the verify join (a valid pair always passes at its first
    * shared token; later shared-token rows may pass spuriously, which
    * only re-admits a candidate the exact verify decides anyway). The
    * toggle exists for DedupSpec's engagement pin. */
  private[graft] def allpairsCandidates(ranked: DataFrame,
      positional: Boolean = true): DataFrame = {
    val pref = ranked.filter(col("pos") <= col("plen"))
      .select(col("doc_id"), col("shingle"), col("n"), col("pos"))
    val posFilter =
      if (positional)
        // α = ⌈ApNum·s/(ApNum+ApDen)⌉ with s = na + nb, all integer
        expr(s"""1 + least(a.n - a.pos, b.n - b.pos) >=
                 ($ApNum * (a.n + b.n) + ${ApNum + ApDen - 1}) div ${ApNum + ApDen}""")
      else lit(true)
    pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id") &&
        greatest(col("a.n"), col("b.n")) * ApNum <=
          least(col("a.n"), col("b.n")) * ApDen &&
        posFilter)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
  }

  /** Prefix-filter similarity join over a prepared (doc_id, source,
    * shingle) frame — split out so DedupSpec can pin completeness
    * against brute force on a synthetic corpus. */
  private[graft] def allpairsOf(sh: DataFrame): DataFrame = {
    val ranked = allpairsRankedOf(sh)
    val cand = allpairsCandidates(ranked)
    // exact verify: count the full intersection for each candidate
    val toks = ranked.select(col("doc_id"), col("shingle"))
    val inter = cand
      .join(toks.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(toks.as("tb"),
        col("id_b") === col("tb.doc_id") &&
        col("ta.shingle") === col("tb.shingle"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("c"))
    inter
      .filter(col("c") * ApDen >= (col("na") + col("nb") - col("c")) * ApNum)
      .select(col("id_a"), col("id_b"), col("c").as("n_shared"),
        round6(col("c").cast(DoubleType) /
          (col("na") + col("nb") - col("c")).cast(DoubleType)).as("jaccard"))
      .transform(graft.functions.memoize)
      .orderBy("id_a", "id_b")
  }

  private def dedupAllpairs(s: SparkSession, dir: String): DataFrame =
    allpairsOf(shingles(s, dir))

  private val dedupAllpairsSql =
    s"""WITH tokw AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
      |  FROM (SELECT doc_id, ts,
      |          unnest(generate_series(1, len(ts) - 2)) AS i FROM tokw)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |dfreq AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY 1),
      |ranked AS (
      |  SELECT sh.doc_id, sh.shingle, sizes.n,
      |         CAST(row_number() OVER (PARTITION BY sh.doc_id
      |           ORDER BY dfc, sh.shingle) AS BIGINT) AS pos,
      |         sizes.n - ($ApNum * sizes.n + ${ApDen - 1}) // $ApDen + 1 AS plen
      |  FROM sh JOIN dfreq USING (shingle) JOIN sizes USING (doc_id)),
      |pref AS (SELECT doc_id, shingle, n, pos FROM ranked WHERE pos <= plen),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |                  a.n AS na, b.n AS nb
      |  FROM pref a JOIN pref b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |   AND greatest(a.n, b.n) * $ApNum <= least(a.n, b.n) * $ApDen
      |   AND 1 + least(a.n - a.pos, b.n - b.pos) >=
      |       ($ApNum * (a.n + b.n) + ${ApNum + ApDen - 1}) // ${ApNum + ApDen}),
      |inter AS (
      |  SELECT id_a, id_b, na, nb, count(*) AS c
      |  FROM cand
      |  JOIN ranked ta ON ta.doc_id = id_a
      |  JOIN ranked tb ON tb.doc_id = id_b AND ta.shingle = tb.shingle
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b, c AS n_shared,
      |       ${round6Sql("CAST(c AS DOUBLE) / (na + nb - c)")} AS jaccard
      |FROM inter WHERE c * $ApDen >= (na + nb - c) * $ApNum
      |ORDER BY id_a, id_b""".stripMargin

  // --- dedup_gate_exact: EXACT prefix-filter admission gate ------------
  // The ingestion form of dedup_allpairs, completing the symmetry the
  // MinHash family already has (dedup_minhash → dedup_gate): incoming
  // docs (doc_id % 5 = 4 stand-in, same convention as dedup_gate) are
  // checked against the ADMITTED corpus's prefix inverted index with
  // the full AllPairs/PPJoin pruning stack — so unlike the banded gate
  // this verdict has NO false negatives by construction. The global
  // shingle order is the ADMITTED corpus's df order (the index's
  // order, frozen at build time — the production shape); an incoming
  // shingle unseen in the index takes df 0 and ranks rarest — a
  // consistent extension of the same global order, so the prefix
  // theorem holds for every (incoming, admitted) pair. Per incoming
  // doc the verdict row is TOTAL: candidate count, best partner
  // (near-dup wins, then jaccard, then lowest id — jac_ok leads the
  // key because the flag is the exact 5c ≥ 4u rational while jaccard
  // is its round6 display, and a rounded tie must not demote a true
  // near-dup), the ≥ t flag; no-candidate docs pass with a zero row.

  /** The exact gate over a prepared (doc_id, source, shingle) frame —
    * split out for DedupSpec's synthetic fixture. */
  private[graft] def gateExactOf(sh: DataFrame): DataFrame = {
    val isInc = pmod(col("doc_id"), lit(5)) === 4
    val dfreq = sh.filter(!isInc)
      .groupBy("shingle").agg(count(lit(1)).as("dfc"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("dfc"), col("shingle"))
    val ranked = sh.join(dfreq, Seq("shingle"), "left")
      .withColumn("dfc", coalesce(col("dfc"), lit(0L)))
      .withColumn("pos", row_number().over(wr))
      .join(sizes, "doc_id")
      .withColumn("plen",
        col("n") - expr(s"($ApNum * n + ${ApDen - 1}) div $ApDen") + lit(1))
      .transform(graft.functions.memoize)
    val pref = ranked.filter(col("pos") <= col("plen"))
      .select(col("doc_id"), col("shingle"), col("n"), col("pos"), isInc.as("incoming"))
    val cand = pref.filter(col("incoming")).as("a")
      .join(pref.filter(!col("incoming")).as("b"),
        col("a.shingle") === col("b.shingle") &&
        greatest(col("a.n"), col("b.n")) * ApNum <=
          least(col("a.n"), col("b.n")) * ApDen &&
        expr(s"""1 + least(a.n - a.pos, b.n - b.pos) >=
                 ($ApNum * (a.n + b.n) + ${ApNum + ApDen - 1}) div ${ApNum + ApDen}"""))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("adm_id"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    val toks = ranked.select(col("doc_id"), col("shingle"))
    val scored = cand
      .join(toks.as("ta"), col("inc_id") === col("ta.doc_id"))
      .join(toks.as("tb"),
        col("adm_id") === col("tb.doc_id") &&
        col("ta.shingle") === col("tb.shingle"))
      .groupBy("inc_id", "adm_id", "na", "nb")
      .agg(count(lit(1)).as("c"))
      .select(col("inc_id"), col("adm_id"),
        (col("c") * ApDen >= (col("na") + col("nb") - col("c")) * ApNum).as("jac_ok"),
        round6(col("c").cast(DoubleType) /
          (col("na") + col("nb") - col("c")).cast(DoubleType)).as("jaccard"))
    val best = scored.groupBy(col("inc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        (max(when(col("jac_ok"), 1).otherwise(0)) === 1).as("is_neardup"),
        max_by(struct(col("adm_id"), col("jaccard")),
          struct(col("jac_ok"), col("jaccard"), -col("adm_id"))).as("b"))
    sh.filter(isInc).select("doc_id").distinct()
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("b.adm_id").as("best_partner"),
        col("b.jaccard").as("best_jaccard"),
        coalesce(col("is_neardup"), lit(false)).as("is_neardup"))
      .transform(graft.functions.memoize)
      .orderBy("doc_id")
  }

  private def dedupGateExact(s: SparkSession, dir: String): DataFrame =
    gateExactOf(shingles(s, dir))

  private val dedupGateExactSql =
    s"""WITH tokw AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
      |  FROM (SELECT doc_id, ts,
      |          unnest(generate_series(1, len(ts) - 2)) AS i FROM tokw)),
      |dfreq AS (SELECT shingle, count(*) AS dfc FROM sh
      |          WHERE doc_id % 5 <> 4 GROUP BY 1),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |ranked AS (
      |  SELECT sh.doc_id, sh.shingle, sizes.n,
      |         CAST(row_number() OVER (PARTITION BY sh.doc_id
      |           ORDER BY coalesce(dfc, 0), sh.shingle) AS BIGINT) AS pos,
      |         sizes.n - ($ApNum * sizes.n + ${ApDen - 1}) // $ApDen + 1 AS plen
      |  FROM sh LEFT JOIN dfreq USING (shingle) JOIN sizes USING (doc_id)),
      |pref AS (SELECT doc_id, shingle, n, pos, doc_id % 5 = 4 AS incoming
      |         FROM ranked WHERE pos <= plen),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS adm_id,
      |                  a.n AS na, b.n AS nb
      |  FROM pref a JOIN pref b
      |    ON a.shingle = b.shingle AND a.incoming AND NOT b.incoming
      |   AND greatest(a.n, b.n) * $ApNum <= least(a.n, b.n) * $ApDen
      |   AND 1 + least(a.n - a.pos, b.n - b.pos) >=
      |       ($ApNum * (a.n + b.n) + ${ApNum + ApDen - 1}) // ${ApNum + ApDen}),
      |inter AS (
      |  SELECT inc_id, adm_id, na, nb, count(*) AS c
      |  FROM cand
      |  JOIN ranked ta ON ta.doc_id = inc_id
      |  JOIN ranked tb ON tb.doc_id = adm_id AND ta.shingle = tb.shingle
      |  GROUP BY 1, 2, 3, 4),
      |scored AS (
      |  SELECT inc_id, adm_id,
      |         c * $ApDen >= (na + nb - c) * $ApNum AS jac_ok,
      |         ${round6Sql("CAST(c AS DOUBLE) / (na + nb - c)")} AS jaccard
      |  FROM inter),
      |agg AS (
      |  SELECT inc_id, CAST(count(*) AS BIGINT) AS n_candidates,
      |         max(CASE WHEN jac_ok THEN 1 ELSE 0 END) = 1 AS is_neardup
      |  FROM scored GROUP BY 1),
      |top AS (
      |  SELECT inc_id, adm_id, jaccard FROM (
      |    SELECT *, row_number() OVER (PARTITION BY inc_id
      |      ORDER BY jac_ok DESC, jaccard DESC, adm_id) AS rn FROM scored)
      |  WHERE rn = 1)
      |SELECT d.doc_id, coalesce(g.n_candidates, 0) AS n_candidates,
      |       t.adm_id AS best_partner, t.jaccard AS best_jaccard,
      |       coalesce(g.is_neardup, false) AS is_neardup
      |FROM (SELECT DISTINCT doc_id FROM sh WHERE doc_id % 5 = 4) d
      |LEFT JOIN agg g ON g.inc_id = d.doc_id
      |LEFT JOIN top t ON t.inc_id = d.doc_id
      |ORDER BY doc_id""".stripMargin

  // --- dedup_minhash: MinHash signatures + LSH banding -----------------
  // k=64 permutations h_i(x) = (a_i·x + b_i) mod p over shingle hashes;
  // 8 bands × 8 rows. Pair generation happens only inside band buckets.
  // The whole hash family is engine-portable — shingle base hash is an
  // md5-prefix integer (the trick proven in text_fingerprint), the
  // permutations and the per-band combine are plain modular integer
  // arithmetic — so the DuckDB oracle replicates it bit-for-bit.
  // a·h stays < 2^63: a < 2^32 (odd), h < P = 2^31-1.

  private val P = 2147483647L // 2^31 - 1
  private val B = 1000003L    // band-combine base (same trick as text_fingerprint)
  private val perms: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(1337)
    Array.fill(64)((rnd.nextInt(Int.MaxValue - 2).toLong * 2 + 1, rnd.nextInt(Int.MaxValue).toLong))
  }

  private def portableHash(c: Column): Column = graft.functions.h32(c)

  /** Order-sensitive polynomial combine of one band's 8 signature
    * values, mod P after every step (stays < 2^52). */
  private def bandHash(sigs: Seq[Column]): Column =
    sigs.foldLeft(lit(0L).cast(LongType))((acc, s) => pmod(acc * B + s, lit(P)))

  /** MinHash signature rows — (doc_id, sig_0..sig_63) — for an
    * arbitrary (doc_id, text) frame: the expensive half of the MinHash
    * family. Split from the banding projection so [[corpusSigs]] can
    * memoize THIS as the shared build artifact.
    *
    * Round-9 shape: shingles come from the codegen'd row-local
    * [[graft.plans.NgramArray]] (no token shuffle, no per-doc sort —
    * see shinglesOf), and the per-doc `.distinct()` the window
    * formulation carried is GONE because `min` is duplicate-
    * insensitive: min over a multiset equals min over its support set,
    * so repeated shingles cannot change any of the 64 signature
    * minima. The only Exchange left in the whole signature build is
    * the groupBy itself, and map-side partial aggregation reduces its
    * payload to 64 partial minima per (doc, input partition) — the
    * token stream and the shingle stream never cross the wire. */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(graft.plans.NgramArray.ngrams(split(col("text"), " "), 3))
          .as("shingle"))
      .withColumn("h", pmod(portableHash(col("shingle")), lit(P)))
    val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"sig_$i")
    }
    sh.groupBy("doc_id").agg(sigCols.head, sigCols.toIndexedSeq.tail: _*)
  }

  /** 8×8 banding of a signature frame into (doc_id, band_idx,
    * band_hash) rows — a NARROW projection (explode over checkpointed
    * signatures, no shuffle), cheap to re-derive per consumer. */
  private[graft] def bandsOf(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until 8).map { j =>
      struct(lit(j).as("band_idx"),
        bandHash((0 until 8).map(r => col(s"sig_${j * 8 + r}"))).as("band_hash"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
  }

  /** Banded MinHash rows — one (doc_id, band_idx, band_hash) per doc
    * and band — for an arbitrary (doc_id, text) frame: the reusable
    * half of dedup_minhash. Same codegen'd row-local shingler, portable
    * 64-perm signature, and 8×8 banding as the symmetric pair query;
    * shared by it, the asymmetric admission gate (dedup_gate), and the
    * streaming gate's corpus index
    * (graft.streaming.StreamingJobs.nearDupIndexInit). Lake-corpus
    * callers should go through [[corpusSigs]]/[[corpusBands]] instead
    * so the signature build is charged once. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    bandsOf(signaturesOf(docs))

  /** The corpus MinHash signature table, memoized per (application,
    * lake): at 100 TB this is THE persistent dedup artifact — signed
    * once per corpus snapshot, then served to every consumer.
    * dedup_minhash (banding), dedup_minhash_est (banding + slot
    * agreement + audit restriction), dedup_gate (both sides of the
    * admission join) and the streaming gate's bootstrap index
    * ([[graft.streaming.StreamingJobs.nearDupIndexInit]]) all read
    * this one localCheckpoint'd materialization; signatures are
    * per-document, so any doc-subset consumer is a filter over it. */
  private[graft] def corpusSigs(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "signatures")(
      signaturesOf(Tables.documents(s, dir)).transform(graft.functions.memoize))

  /** Banded view of [[corpusSigs]] — the narrow projection re-derived
    * per consumer over the memoized signatures. */
  private[graft] def corpusBands(s: SparkSession, dir: String): DataFrame =
    bandsOf(corpusSigs(s, dir))

  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val bands = corpusBands(s, dir)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("id_a", "id_b")
  }

  /** Shared oracle CTE chain ending in `bands` (doc_id, band_idx,
    * band_hash) for every document — [[bandRows]]' DuckDB twin,
    * generated from the same permutation constants. */
  private val bandRowsCtes: String = {
    val sigExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS sig_$i"
    }.mkString(",\n         ")
    val bandExprs = (0 until 8).map { j =>
      val bh = (0 until 8).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc) * $B + sig_${j * 8 + r}) % $P"
      }
      s"{'band_idx': $j, 'band_hash': $bh}"
    }.mkString(",\n           ")
    s"""toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |         ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2] AS shingle
       |  FROM (SELECT doc_id, source, ts,
       |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
       |hashed AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % $P AS h
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigExprs
       |  FROM hashed GROUP BY doc_id),
       |bandstructs AS (
       |  SELECT doc_id, unnest([
       |           $bandExprs
       |         ]) AS b
       |  FROM sigs),
       |bands AS (
       |  SELECT doc_id, CAST(b.band_idx AS INTEGER) AS band_idx,
       |         CAST(b.band_hash AS BIGINT) AS band_hash
       |  FROM bandstructs)""".stripMargin
  }

  private val dedupMinhashSql: String =
    s"""WITH $bandRowsCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_bands
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, n_shared_bands FROM pairs ORDER BY id_a, id_b""".stripMargin

  // --- dedup_gate: asymmetric near-dup admission gate ------------------
  // The INGESTION form of MinHash dedup — the decision a pipeline
  // actually makes on every new crawl slice: not "which corpus pairs
  // are near-dups" (dedup_minhash) but "which INCOMING docs collide
  // with what the corpus already holds". Incoming slice = doc_id % 5
  // = 4 (the "today's batch" stand-in); index = the banded signatures
  // of everything else. One row per incoming doc: flag, distinct hit
  // bands, earliest admitted partner. The join is banded on
  // (band_idx, band_hash) — never incoming × corpus — so at 100 TB
  // the cost is bucket-bounded exactly like dedup_minhash, and the
  // index is 8 small rows per admitted doc, maintained incrementally
  // (append the accepted docs' bands after each gate run). Streaming
  // twin: StreamingJobs.nearDupGateStream runs this SAME verdict per
  // micro-batch against the SAME static index.

  /** Admission verdict for `docs` against a banded corpus index
    * ([[bandRows]] output shape): is any of the doc's 8 band hashes
    * already present? Batch core of the streaming gate — foreachBatch
    * hands each micro-batch here unchanged, so stream and batch
    * verdicts are definitionally the same computation. */
  private[graft] def nearDupVerdict(docs: DataFrame, index: DataFrame): DataFrame =
    nearDupVerdictBanded(docs.select("doc_id"), bandRows(docs), index)

  /** Same verdict over PRE-BANDED incoming rows — the memoized-build
    * path: dedup_gate filters [[corpusBands]] for both sides instead
    * of re-signing either. `docIds` supplies the one thing the band
    * table can't: docs too short to shingle (no bands) still get an
    * is_near_dup=false row. */
  private[graft] def nearDupVerdictBanded(docIds: DataFrame,
      docBands: DataFrame, index: DataFrame): DataFrame = {
    val hits = docBands
      .join(index.select(col("doc_id").as("corpus_doc_id"),
        col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
      .groupBy("doc_id")
      .agg(countDistinct("band_idx").as("n_hit_bands"),
        min("corpus_doc_id").as("first_match"))
    docIds.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_hit_bands").isNotNull.as("is_near_dup"),
        coalesce(col("n_hit_bands"), lit(0L)).as("n_hit_bands"),
        col("first_match"))
  }

  private def dedupGate(s: SparkSession, dir: String): DataFrame = {
    val bands = corpusBands(s, dir)
    nearDupVerdictBanded(
      Tables.documents(s, dir).filter(col("doc_id") % 5 === 4).select("doc_id"),
      bands.filter(col("doc_id") % 5 === 4),
      bands.filter(col("doc_id") % 5 =!= 4))
      .orderBy("doc_id")
  }

  private val dedupGateSql =
    s"""WITH $bandRowsCtes,
       |inc AS (SELECT doc_id, band_idx, band_hash FROM bands WHERE doc_id % 5 = 4),
       |idx AS (SELECT doc_id AS corpus_doc_id, band_idx, band_hash FROM bands
       |        WHERE doc_id % 5 <> 4),
       |hits AS (
       |  SELECT i.doc_id, COUNT(DISTINCT i.band_idx) AS n_hit_bands,
       |         MIN(x.corpus_doc_id) AS first_match
       |  FROM inc i JOIN idx x
       |    ON i.band_idx = x.band_idx AND i.band_hash = x.band_hash
       |  GROUP BY 1)
       |SELECT d.doc_id, h.doc_id IS NOT NULL AS is_near_dup,
       |       COALESCE(h.n_hit_bands, CAST(0 AS BIGINT)) AS n_hit_bands,
       |       h.first_match
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // --- dedup_minhash_est: sketch-based Jaccard estimation --------------
  // What the MinHash signatures are FOR at 100 TB: estimating Jaccard
  // without touching the shingle sets. For every banded candidate
  // pair, the estimate is the fraction of agreeing signature slots
  // (E[matches/64] = J), reported against the exact Jaccard from the
  // inverted index so the estimator's error is auditable. The whole
  // estimate is integer arithmetic over the portable hash family —
  // fully oracle-replayable. At scale the exact column is the audit
  // (run on a sample); the estimate column is the product.

  private def dedupMinhashEst(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    // the ONE corpus signature build ([[corpusSigs]]) feeds the
    // banding, the estimate columns and (via the candidate
    // restriction) the audit — the same memoized table dedup_minhash
    // and dedup_gate serve from, not a per-op re-sign
    val sigs = corpusSigs(s, dir)
    val bands = bandsOf(sigs)
    // candidate pairs from the banded join (dedup_minhash's pair set),
    // materialized once — at scale this IS a materialized table (the
    // screen's output), not a re-derivable subplan
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct().transform(graft.functions.memoize)
    val matches = perms.indices.map(i =>
      when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1).otherwise(0))
      .reduce(_ + _)
    def side(p: String) = sigs.select(
      col("doc_id").as(s"${p}id") +: perms.indices.map(i => col(s"sig_$i").as(s"${p}sig_$i")): _*)
    val est = cands
      .join(side("a_"), col("id_a") === col("a_id"))
      .join(side("b_"), col("id_b") === col("b_id"))
      .select(col("id_a"), col("id_b"), matches.as("sig_matches"))
    // the audit column: exact Jaccard from the inverted shingle index.
    // NOT source-blocked (unlike dedup_ngram_jaccard): the banded
    // candidates it audits come from all-source signatures, so a
    // cross-source candidate must get its true Jaccard, not 0. What it
    // IS bounded by: the candidate set itself — only docs that appear
    // in some banded pair enter the shingle self-join, so the audit
    // costs O(candidate docs × shingle overlap), not O(corpus²) on hot
    // shingles. (At 100 TB the candidate list is the op's own already-
    // materialized output; here it re-expands in the DAG, which AQE
    // dedups at the exchange.)
    val candIds = cands.select(col("id_a").as("doc_id"))
      .union(cands.select(col("id_b").as("doc_id"))).distinct()
    val shc = sh.join(candIds, Seq("doc_id"), "left_semi")
    val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = shc.as("a").join(shc.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    est
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .select(col("id_a"), col("id_b"), col("sig_matches"),
        round6(col("sig_matches").cast(DoubleType) / perms.length).as("jaccard_est"),
        round6(coalesce(col("c"), lit(0L)).cast(DoubleType)
          / (col("na") + col("nb") - coalesce(col("c"), lit(0L))).cast(DoubleType))
          .as("jaccard_exact"))
      .orderBy("id_a", "id_b")
  }

  private val dedupMinhashEstSql: String = {
    val sigExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * $a + $b) % $P) AS sig_$i"
    }.mkString(",\n         ")
    val bandExprs = (0 until 8).map { j =>
      val bh = (0 until 8).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc) * $B + sig_${j * 8 + r}) % $P"
      }
      s"{'band_idx': $j, 'band_hash': $bh}"
    }.mkString(",\n           ")
    val matches = perms.indices.map(i =>
      s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |         ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2] AS shingle
       |  FROM (SELECT doc_id, source, ts,
       |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
       |hashed AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % $P AS h
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |         $sigExprs
       |  FROM hashed GROUP BY doc_id),
       |bandstructs AS (
       |  SELECT doc_id, unnest([
       |           $bandExprs
       |         ]) AS b
       |  FROM sigs),
       |bands AS (
       |  SELECT doc_id, CAST(b.band_idx AS INTEGER) AS band_idx,
       |         CAST(b.band_hash AS BIGINT) AS band_hash
       |  FROM bandstructs),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |   AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.id_a, c.id_b, $matches AS sig_matches
       |  FROM cands c
       |  JOIN sigs sa ON sa.doc_id = c.id_a
       |  JOIN sigs sb ON sb.doc_id = c.id_b),
       |cand_ids AS (
       |  SELECT id_a AS doc_id FROM cands UNION SELECT id_b FROM cands),
       |shc AS (
       |  SELECT DISTINCT doc_id, ${h60Sql("shingle")} AS sh60
       |  FROM sh WHERE doc_id IN (SELECT doc_id FROM cand_ids)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM shc a JOIN shc b
       |    ON a.sh60 = b.sh60 AND a.doc_id < b.doc_id
       |  GROUP BY 1,2)
       |SELECT e.id_a, e.id_b, CAST(e.sig_matches AS INTEGER) AS sig_matches,
       |       ${round6Sql(s"CAST(e.sig_matches AS DOUBLE) / ${perms.length}")} AS jaccard_est,
       |       ${round6Sql("CAST(COALESCE(i.c, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.c, 0))")} AS jaccard_exact
       |FROM est e
       |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
       |JOIN sizes sa ON sa.doc_id = e.id_a
       |JOIN sizes sb ON sb.doc_id = e.id_b
       |ORDER BY e.id_a, e.id_b""".stripMargin
  }

  // --- dedup_simhash: 64-bit SimHash + bit-chunk LSH -------------------
  // Term-frequency-weighted bit votes over word hashes; candidates share
  // one of four 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk
  // equal); output hamming distance per candidate pair.
  // The 64 hash bits come from two 32-bit md5-prefix integers (lo =
  // hex chars 1-8, hi = chars 9-16) and the fingerprint is kept as two
  // 32-bit halves — portable to the DuckDB oracle and free of the
  // bit-63 sign-wrap a single BIGINT fingerprint would hit.

  /** 64-bit SimHash halves of a `(doc_id, gram)` stream: tf-weighted
    * bit votes over two md5-derived 32-bit integers per gram. Shared by
    * the word-level dedup_simhash and the byte-level mm_phash_neardup —
    * both reduce to one groupBy(doc_id) over the gram stream. */
  private[operators] def simhashHalves(grams: DataFrame): DataFrame = {
    val hashed = grams
      .withColumn("glo", conv(substring(md5(col("gram")), 1, 8), 16, 10).cast(LongType))
      .withColumn("ghi", conv(substring(md5(col("gram")), 9, 8), 16, 10).cast(LongType))
    def votesOf(src: String) = (0 until 32).map { i =>
      sum(when(shiftright(col(src), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v_${src}_$i")
    }
    val votes = hashed.groupBy("doc_id")
      .agg(votesOf("glo").head, (votesOf("glo").tail ++ votesOf("ghi")): _*)
    def half(src: String) = (0 until 32).map { i =>
      when(col(s"v_${src}_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("doc_id"),
      half("glo").as("sim_lo"), half("ghi").as("sim_hi"))
  }

  /** Chunk-LSH candidate pairs over [[simhashHalves]] signatures:
    * 4 × 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ some chunk equal;
    * recall above that is partial by design, as in any banded phash),
    * hamming distance attached. */
  private[graft] def simhashChunkPairs(sig: DataFrame, chunkBits: Int = 16,
      materialize: DataFrame => DataFrame = graft.functions.memoize): DataFrame = {
    // chunk width is the banded-LSH corpus parameter: candidates per
    // bucket are ~n²/2^chunkBits, so a growing corpus WIDENS chunks
    // (multi-index hamming sizing) to keep buckets bounded — at the
    // price of the pigeonhole guarantee (4×16-bit ⇒ full recall at
    // hamming ≤ 3; 2×32-bit ⇒ at hamming ≤ 1). ScaleProbe's
    // mm_phash_neardup@bandsPropN row is the evidence.
    val chunkDefs = chunkBits match { // (chunk_idx, source half, shift)
      case 16 => Seq((0, "sim_lo", 0), (1, "sim_lo", 16), (2, "sim_hi", 0), (3, "sim_hi", 16))
      case 32 => Seq((0, "sim_lo", 0), (1, "sim_hi", 0))
      case b  => throw new IllegalArgumentException(s"chunkBits 16|32, got $b")
    }
    val mask = if (chunkBits == 16) 0xFFFFL else 0xFFFFFFFFL
    // the signature table feeds BOTH sides of the chunk self-join, and
    // AQE does not collapse identical derivation branches (§5): without
    // materialization the whole per-gram md5+vote aggregation runs
    // twice (PLANS.md showed two full scan→votes subtrees). Memoize
    // the n-row signature table — the narrow chunk explode re-runs per
    // side, which is trivial.
    val sigC = materialize(sig)
    val chunks = sigC.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        explode(array(chunkDefs.map { case (c, src, sh) =>
          struct(lit(c).as("chunk_idx"),
            shiftright(col(src), sh).bitwiseAND(mask).as("chunk"))
        }: _*)).as("ch"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("ch.chunk_idx").as("chunk_idx"), col("ch.chunk").as("chunk"))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (bit_count(col("a.sim_lo").bitwiseXOR(col("b.sim_lo"))) +
         bit_count(col("a.sim_hi").bitwiseXOR(col("b.sim_hi")))).as("hamming"))
      .distinct()
  }

  /** The simhash pipeline at a pinned chunk width — DedupSpec drives
    * both widths through this; the registry entry derives the width. */
  private[graft] def dedupSimhashAt(s: SparkSession, dir: String,
      chunkBits: Int): DataFrame =
    simhashChunkPairs(simhashHalves(
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("gram"))),
      chunkBits)
      // pair-join survivors are small; the final global sort would
      // otherwise re-execute the whole join subtree (range-partitioner
      // sampling — the round-12 convention)
      .transform(graft.functions.memoize)
      .orderBy("id_a", "id_b")

  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // chunk width DERIVED from corpus cardinality (the mm_phash_neardup
    // pattern — Multimodal.phashNeardupAt): 4×16-bit bands saturate
    // past ~2¹⁴ docs (~n²/2¹⁶ candidates per band), so a larger corpus
    // widens to 2×32-bit via [[chunkBitsFor]]. Cardinality reads the
    // shared ANALYZE ledger, not a per-op count.
    val nDocs = graft.etl.TableStats.rowCount(s, s"$dir#documents")(
      Tables.documents(s, dir).count())
    dedupSimhashAt(s, dir, chunkBitsFor(nDocs))
  }

  /** Chunk-width step point: 4×16-bit bands (pigeonhole recall at
    * hamming ≤ 3) while the corpus fits them — candidates per band are
    * ~n²/2¹⁶, linear in n up to ~2¹⁴ docs — then 2×32-bit (multi-index
    * hamming sizing: recall guarantee moves to hamming ≤ 1,
    * verification unchanged). The former `@bandsPropN` remedy, now the
    * default derivation for [[Multimodal.phashNeardupAt]]'s registry
    * entry; integer compare, so the oracle's `wp` CTE replays it. */
  private[graft] val ChunkWidenAt = 16384L

  private[graft] def chunkBitsFor(nDocs: Long): Int =
    if (nDocs <= ChunkWidenAt) 16 else 32

  /** The [[simhashHalves]] signature replay as CTEs, appended after a
    * `grams` CTE providing (doc_id, gram); ends at `sigs`. */
  private[operators] val simhashSigCtes: String = {
    def votes(src: String) = (0 until 32).map { i =>
      s"SUM(CASE WHEN ($src >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS v_${src}_$i"
    }.mkString(",\n         ")
    def half(src: String) = (0 until 32).map { i =>
      s"(CASE WHEN v_${src}_$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END)"
    }.mkString(" | ")
    s"""hashes AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) AS glo,
       |         CAST(('0x' || substr(md5(gram), 9, 8)) AS BIGINT) AS ghi
       |  FROM grams),
       |votes AS (
       |  SELECT doc_id,
       |         ${votes("glo")},
       |         ${votes("ghi")}
       |  FROM hashes GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, ${half("glo")} AS sim_lo, ${half("ghi")} AS sim_hi
       |  FROM votes)""".stripMargin
  }

  private val chunkList16 =
    """[
      |           {'chunk_idx': 0, 'chunk': sim_lo & 65535},
      |           {'chunk_idx': 1, 'chunk': (sim_lo >> 16) & 65535},
      |           {'chunk_idx': 2, 'chunk': sim_hi & 65535},
      |           {'chunk_idx': 3, 'chunk': (sim_hi >> 16) & 65535}
      |         ]""".stripMargin

  private val chunkList32 =
    """[
      |           {'chunk_idx': 0, 'chunk': sim_lo},
      |           {'chunk_idx': 1, 'chunk': sim_hi}
      |         ]""".stripMargin

  /** Corpus-derived chunk CTEs off `sigs`: width from [[chunkBitsFor]]
    * over `countFrom`'s cardinality (CTE `wp`), CASE-selecting the
    * 4×16-bit or 2×32-bit band list; ends at `chunks`. */
  private[operators] def simhashChunkCtesDerived(countFrom: String): String =
    s"""wp AS (SELECT CASE WHEN count(*) <= $ChunkWidenAt THEN 16 ELSE 32 END AS w
       |       FROM $countFrom),
       |chunkstructs AS (
       |  SELECT doc_id, sim_lo, sim_hi,
       |         unnest(CASE WHEN (SELECT w FROM wp) = 16 THEN $chunkList16
       |                ELSE $chunkList32 END) AS ch
       |  FROM sigs),
       |chunks AS (
       |  SELECT doc_id, sim_lo, sim_hi,
       |         CAST(ch.chunk_idx AS INTEGER) AS chunk_idx,
       |         CAST(ch.chunk AS BIGINT) AS chunk
       |  FROM chunkstructs)""".stripMargin

  /** The chunk-equal pair join off the chunk CTEs' `chunks`. */
  private[operators] val simhashPairSelectSql: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |       CAST(bit_count(xor(a.sim_lo, b.sim_lo)) +
      |            bit_count(xor(a.sim_hi, b.sim_hi)) AS INTEGER) AS hamming
      |FROM chunks a JOIN chunks b
      |  ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
      | AND a.doc_id < b.doc_id""".stripMargin

  /** DuckDB twin of the simhash pipeline (same md5-derived bits), chunk
    * width replayed from corpus cardinality via the `wp` CTE — the
    * derivation the Spark side reads from the ANALYZE ledger. */
  private val dedupSimhashSql: String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |grams AS (SELECT doc_id, word AS gram FROM words),
       |$simhashSigCtes,
       |${simhashChunkCtesDerived("documents")}
       |$simhashPairSelectSql
       |ORDER BY id_a, id_b""".stripMargin

  // --- dedup_embedding: cosine near-dup pairs, label-blocked -----------
  // (blocking key stands in for a coarse quantizer/LSH bucket at scale.)

  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    val v = Similarity.withNorm2(Tables.embeddings(s, dir))
    // two-phase: codegen'd double dot prunes the pair stream (the hot
    // path over every candidate pair); the exact decimal reduction that
    // defines the operator's semantics runs only on survivors. The
    // prefilter margin (1e-6 ≫ double-vs-decimal sum error) guarantees
    // no true pair is lost.
    val pairs = v.as("a").join(v.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("norm_prod", sqrt(col("a.n2")) * sqrt(col("b.n2")))
      .filter(vec_dot(col("a.embedding"), col("b.embedding")) / col("norm_prod") >= 0.4 - 1e-6)
    pairs
      .withColumn("cos_raw",
        graft.plans.VecDotProduct.vec_dot_exact(col("a.embedding"), col("b.embedding"))
          / col("norm_prod"))
      .filter(col("cos_raw") >= 0.4)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round6(col("cos_raw")).as("cos_sim"))
      .orderBy("id_a", "id_b")
  }

  private val dedupEmbeddingSql =
    s"""WITH v AS (
       |  SELECT vec_id, label, embedding, ${Similarity.norm2Sql("embedding")} AS n2
       |  FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${Similarity.ddotSql("a.embedding", "b.embedding")} AS dot,
       |         a.n2 AS na2, b.n2 AS nb2
       |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, ${round6Sql("dot / (sqrt(na2) * sqrt(nb2))")} AS cos_sim
       |FROM p WHERE dot / (sqrt(na2) * sqrt(nb2)) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin

  // --- dedup_substring_spans: repeated-n-gram span detection -----------
  // Exact substring dedup in the Lee et al. 2022 ("Deduplicating
  // Training Data Makes Language Models Better") lineage: find every
  // position whose 8-token window recurs ANYWHERE in the corpus, then
  // merge consecutive duplicated positions into maximal spans — the
  // character ranges a training pipeline would cut. Spark-first shape:
  // the window stream is the codegen'd row-local NgramArray (round 9 —
  // the old 7-lead window chain shuffled AND sorted the whole token
  // stream before any gram existed; now zero pre-aggregation
  // exchanges); occurrence counting groups by the gram's h60 hash
  // (bounded 8-byte key instead of an arbitrary-length token string —
  // at 50-token windows this is what makes the shuffle narrow), with
  // map-side partial aggregation absorbing boilerplate grams that
  // repeat millions of times (the groupBy+join shape is deliberately
  // chosen over count-over-window, which would funnel each gram's
  // occurrences into one task); span merging is the islands trick
  // (pos − row_number is constant within a consecutive run). The md5
  // keys replay exactly in DuckDB.

  private val SpanGram = 8

  /** The 8-gram window stream (doc_id, pos, h60 gh) — row-local
    * generator derivation, clustered on the hash key. Split out so
    * PlanSpec can pin the derivation's plan (the op itself
    * localCheckpoints it, which truncates the visible plan). */
  private[graft] def spanGrams(s: SparkSession, dir: String): DataFrame =
    spanGramsOf(Tables.documents(s, dir))

  /** The same window stream over an ARBITRARY (doc_id, text) frame —
    * the rewrite op's spec surface (DedupSpec feeds crafted corpora
    * and the REWRITTEN output back through it to prove excision). */
  private[graft] def spanGramsOf(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        posexplode(graft.plans.NgramArray.ngrams(split(col("text"), " "), SpanGram))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        graft.functions.h60(col("gram")).as("gh"))
      // 8-byte h60 keys instead of 32-char md5 hex; no pre-clustering
      // — the checkpoint materializes scan-partitioned rows and the
      // freq/join consumers shuffle the narrow keys themselves
      // (measured: an extra repartition(gh) before the checkpoint is
      // pure overhead — its partitioning does not usefully survive
      // the materialization)
  }

  private def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    // one materialization for the two consumers — AQE does not
    // collapse the twin derivation branches (the shingle-set finding)
    val win = spanGrams(s, dir).transform(graft.functions.memoize)
    // duplicated-gram build side, broadcast-gated on its materialized
    // count (see substringSpansWithSeen): the win stream then never
    // shuffles to meet it
    val freq = win.groupBy("gh").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .transform(graft.functions.memoize)
    val freqB =
      if (graft.plans.CostModel.broadcastable(freq.count())) broadcast(freq) else freq
    val dup = win.join(freqB, "gh").select("doc_id", "pos")
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(iw))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), max("pos").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(SpanGram)).as("span_len_words"),
        col("n_windows"))
      .orderBy("doc_id", "span_start")
  }

  private val dedupSubstringSpansSql = {
    val gram = (0 until SpanGram).map(j => s"ts[CAST(i AS INTEGER)+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |win AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos, ${h60Sql(s"$gram")} AS gh
       |  FROM (SELECT doc_id, ts,
       |          unnest(generate_series(1, len(ts) - ${SpanGram - 1})) AS i FROM toks)),
       |freq AS (SELECT gh, count(*) AS n FROM win GROUP BY 1 HAVING count(*) > 1),
       |dup AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f ON w.gh = f.gh),
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) AS span_end,
       |       CAST(MAX(pos) - MIN(pos) + $SpanGram AS INTEGER) AS span_len_words,
       |       COUNT(*) AS n_windows
       |FROM isl GROUP BY doc_id, grp
       |ORDER BY doc_id, span_start""".stripMargin
  }

  // --- dedup_substring_rewrite: the cleaned-corpus half ----------------
  // Lee et al. 2022 ships the corpus with duplicated substrings CUT,
  // not just the span list — the paragraph family's report/rewrite
  // split, at 8-gram granularity. Canonical-occurrence rule is the
  // family's first-occurrence-wins: per duplicated gram, the minimal
  // (doc_id, pos) occurrence survives; every OTHER occurrence is a
  // duplicated position, merged into maximal spans (islands trick) and
  // excised — a span [s, e] of window positions cuts tokens s..e+7,
  // which covers all 8 tokens of every non-canonical window in it.
  // Docs re-assemble from surviving tokens in position order; a doc
  // that was one big duplicate collapses to empty (kept as a row — the
  // n_tokens_kept=0 audit trail; corpus_filter_pipeline-style empty-doc
  // removal is the consumer's one extra filter).
  //
  // Scale shape: canonical selection is a min-STRUCT aggregate on the
  // SAME h60-keyed groupBy that counts occurrences — map-side partials
  // absorb boilerplate grams, and a mega-gram's million occurrences
  // never funnel through a per-gram row_number. The rewrite moves text
  // exactly once (the paragraph-rewrite rule): spans collapse to one
  // array per doc, join the corpus at doc granularity, and the token
  // excision is a row-local codegen'd higher-order filter — no
  // token-level shuffle, no per-token join. The min-struct canonical
  // key (not doc_id*K+pos) survives million-token documents unchanged.

  /** The canonical-exempt maximal span frame (doc_id, span_start,
    * span_end) over an arbitrary (doc_id, text) frame. */
  private[graft] def substringSpansCanonicalOf(s: SparkSession,
      docs: DataFrame): DataFrame =
    substringSpansWithSeen(s, docs, None)

  /** Canonical-exempt spans with an optional SEEN-gram frame (one
    * `gh` column — the streaming gate's maintained lake): a window is
    * duplicated iff it is a non-canonical occurrence within `docs`
    * (the batch rule) OR its gram was already admitted in an earlier
    * ingest (then even the in-frame canonical is a later copy). The
    * seen probe is one hash-keyed semi-join; everything else is the
    * batch shape unchanged. */
  private[graft] def substringSpansWithSeen(s: SparkSession,
      docs: DataFrame, seen: Option[DataFrame],
      win0: Option[DataFrame] = None): DataFrame = {
    // win0: a pre-materialized window frame — the streaming gate
    // derives grams ONCE and feeds both the rewrite and its lake append
    val win = win0.getOrElse(spanGramsOf(docs).transform(graft.functions.memoize))
    // freq is hit-bounded (duplicated grams only) — materialize it so
    // its real cardinality can gate a broadcast: when it fits, the win
    // stream never shuffles to meet it (plan-time CBO, same pattern as
    // CostModel.statsJoin but on a query-derived intermediate whose
    // count only exists after materialization). The count runs on the
    // checkpointed frame, so it costs one cheap local pass, not a
    // recompute of the counting groupBy.
    val freq = win.groupBy("gh").agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("canon"))
      .filter(col("n") > 1)
      .transform(graft.functions.memoize)
    val freqB =
      if (graft.plans.CostModel.broadcastable(freq.count())) broadcast(freq) else freq
    val dupIn = win.join(freqB, "gh")
      .filter(struct(col("doc_id"), col("pos")) =!= col("canon"))
      .select("doc_id", "pos")
    val dup = seen match {
      case None => dupIn
      case Some(sn) =>
        // The seen stream is corpus-scale (every admitted gram) while
        // only grams also present in the incoming batch can matter.
        // Build a Bloom filter over the (memoized) incoming gram hashes
        // and prune the seen stream BEFORE its exchange + distinct —
        // false positives only cost shuffle bytes, the semi join stays
        // the correctness gate, and the admitted corpus's non-matching
        // grams (the overwhelming majority) never shuffle at all.
        val nWin = math.max(win.count(), 1L)
        val bf = win.stat.bloomFilter("gh", nWin, 0.01)
        val bfB = s.sparkContext.broadcast(bf)
        val mightMatch = udf((g: Long) => bfB.value.mightContainLong(g))
          .withName("mightContainLong")
        dupIn
          .unionByName(win.join(
            sn.select("gh").where(mightMatch(col("gh"))).distinct(),
            Seq("gh"), "left_semi")
            .select("doc_id", "pos"))
          .distinct() // a position can trip both rules
    }
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("grp", col("pos") - row_number().over(iw))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), max("pos").as("span_end"))
      .select("doc_id", "span_start", "span_end")
  }

  /** The full rewrite over an arbitrary (doc_id, text) frame — shared
    * by the registry op and DedupSpec's crafted-corpus pins. */
  private[graft] def substringRewriteOf(s: SparkSession,
      docs: DataFrame): DataFrame =
    substringRewriteWithSeen(s, docs, None)

  /** The rewrite under an optional seen-gram lake — the streaming
    * substring gate's batch core (one definition with the registry
    * op, so stream and batch can never drift). */
  private[graft] def substringRewriteWithSeen(s: SparkSession,
      docs: DataFrame, seen: Option[DataFrame],
      win0: Option[DataFrame] = None): DataFrame = {
    val perDoc = substringSpansWithSeen(s, docs, seen, win0)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        (col("span_end") + lit(SpanGram - 1)).as("e"))).as("sps"))
      .transform(graft.functions.memoize)
    // Span-granularity build side vs the corpus text stream: Spark's
    // size estimate for this aggregate descends from the exploded gram
    // stream, so the planner always picked SortMergeJoin — shuffling
    // and sorting EVERY document's text to meet a few spans' worth of
    // rows. Gate a broadcast on the materialized count instead: text
    // then crosses exactly one exchange (the audit ORDER BY), the
    // plan's floor.
    val perDocB =
      if (graft.plans.CostModel.broadcastable(perDoc.count())) broadcast(perDoc)
      else perDoc
    docs.select("doc_id", "text")
      .join(perDocB, Seq("doc_id"), "left")
      .withColumn("ts", split(col("text"), " "))
      // 1-based token position i+1 against the covered ranges; a doc
      // with no spans (sps null) keeps every token
      .withColumn("kept", expr("filter(ts, (t, i) -> sps IS NULL OR " +
        "NOT exists(sps, sp -> i + 1 >= sp.s AND i + 1 <= sp.e))"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        size(col("kept")).as("n_tokens_kept"),
        coalesce(size(col("sps")), lit(0)).as("n_spans_cut"),
        concat_ws(" ", col("kept")).as("text_rewritten"))
      .orderBy("doc_id")
  }

  private def dedupSubstringRewrite(s: SparkSession, dir: String): DataFrame =
    substringRewriteOf(s, Tables.documents(s, dir))

  private val dedupSubstringRewriteSql = {
    val gram = (0 until SpanGram).map(j => s"ts[CAST(i AS INTEGER)+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |win AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos, ${h60Sql(s"$gram")} AS gh
       |  FROM (SELECT doc_id, ts,
       |          unnest(generate_series(1, len(ts) - ${SpanGram - 1})) AS i FROM toks)),
       |freq AS (SELECT gh, count(*) AS n, min(row(doc_id, pos)) AS canon
       |         FROM win GROUP BY 1 HAVING count(*) > 1),
       |dup AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f ON w.gh = f.gh
       |        WHERE row(w.doc_id, w.pos) <> f.canon),
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup),
       |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${SpanGram - 1} AS e
       |          FROM isl GROUP BY doc_id, grp),
       |cov AS (SELECT DISTINCT doc_id, CAST(unnest(generate_series(s, e)) AS INTEGER) AS pos
       |        FROM spans),
       |posi AS (SELECT doc_id, CAST(unnest(generate_series(1, len(ts))) AS INTEGER) AS pos
       |         FROM toks),
       |kept AS (SELECT p.doc_id, p.pos FROM posi p
       |         ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos),
       |rw AS (SELECT k.doc_id, count(*) AS n_kept,
       |              string_agg(t.ts[k.pos], ' ' ORDER BY k.pos) AS txt
       |       FROM kept k JOIN toks t ON t.doc_id = k.doc_id GROUP BY k.doc_id),
       |nsp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(len(t.ts) AS INTEGER) AS n_tokens,
       |       CAST(coalesce(rw.n_kept, 0) AS INTEGER) AS n_tokens_kept,
       |       CAST(coalesce(nsp.n_spans, 0) AS INTEGER) AS n_spans_cut,
       |       coalesce(rw.txt, '') AS text_rewritten
       |FROM toks t LEFT JOIN rw ON rw.doc_id = t.doc_id
       |LEFT JOIN nsp ON nsp.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // --- dedup_gate_substring: substring-dedup admission gate ------------
  // The ingestion form of dedup_substring_rewrite, completing the
  // report/rewrite/gate symmetry the paragraph and MinHash families
  // already have (dedup_paragraph_rewrite → paragraphGateStream,
  // dedup_minhash → dedup_gate): incoming docs (doc_id % 5 = 4
  // stand-in, the gate family's convention) are rewritten against the
  // ADMITTED corpus's seen-gram set — a window is cut iff its 8-gram
  // already exists anywhere in the admitted corpus OR it is a
  // non-canonical occurrence within the incoming batch itself (the
  // batch rewrite's first-occurrence rule folded over ingest order).
  // Scale shape: the seen set is 8-byte h60 hashes only (text never
  // enters the admission join), probed by ONE hash-keyed semi-join;
  // everything downstream is the rewrite op's shape unchanged —
  // min-struct canonical on the counting groupBy, islands-trick span
  // merge, row-local token excision. The streaming twin
  // (StreamingJobs.substringGateStream) maintains the seen set as an
  // ingest_batch-partitioned lake and calls the SAME core
  // (substringRewriteWithSeen), so batch and stream cannot drift.
  private def dedupGateSubstring(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val inc = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    val adm = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
    substringRewriteWithSeen(s, inc, Some(spanGramsOf(adm)))
  }

  private val dedupGateSubstringSql = {
    val gram = (0 until SpanGram).map(j => s"ts[CAST(i AS INTEGER)+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
       |              FROM documents WHERE doc_id % 5 = 4),
       |atoks AS (SELECT doc_id, string_split(text, ' ') AS ts
       |          FROM documents WHERE doc_id % 5 <> 4),
       |win AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS pos, ${h60Sql(s"$gram")} AS gh
       |  FROM (SELECT doc_id, ts,
       |          unnest(generate_series(1, len(ts) - ${SpanGram - 1})) AS i FROM toks)),
       |seen AS (
       |  SELECT DISTINCT ${h60Sql(s"$gram")} AS gh
       |  FROM (SELECT doc_id, ts,
       |          unnest(generate_series(1, len(ts) - ${SpanGram - 1})) AS i FROM atoks)),
       |freq AS (SELECT gh, count(*) AS n, min(row(doc_id, pos)) AS canon
       |         FROM win GROUP BY 1 HAVING count(*) > 1),
       |dup AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f ON w.gh = f.gh
       |        WHERE row(w.doc_id, w.pos) <> f.canon
       |        UNION
       |        SELECT w.doc_id, w.pos FROM win w JOIN seen s ON w.gh = s.gh),
       |isl AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM dup),
       |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${SpanGram - 1} AS e
       |          FROM isl GROUP BY doc_id, grp),
       |cov AS (SELECT DISTINCT doc_id, CAST(unnest(generate_series(s, e)) AS INTEGER) AS pos
       |        FROM spans),
       |posi AS (SELECT doc_id, CAST(unnest(generate_series(1, len(ts))) AS INTEGER) AS pos
       |         FROM toks),
       |kept AS (SELECT p.doc_id, p.pos FROM posi p
       |         ANTI JOIN cov c ON p.doc_id = c.doc_id AND p.pos = c.pos),
       |rw AS (SELECT k.doc_id, count(*) AS n_kept,
       |              string_agg(t.ts[k.pos], ' ' ORDER BY k.pos) AS txt
       |       FROM kept k JOIN toks t ON t.doc_id = k.doc_id GROUP BY k.doc_id),
       |nsp AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
       |SELECT t.doc_id,
       |       CAST(len(t.ts) AS INTEGER) AS n_tokens,
       |       CAST(coalesce(rw.n_kept, 0) AS INTEGER) AS n_tokens_kept,
       |       CAST(coalesce(nsp.n_spans, 0) AS INTEGER) AS n_spans_cut,
       |       coalesce(rw.txt, '') AS text_rewritten
       |FROM toks t LEFT JOIN rw ON rw.doc_id = t.doc_id
       |LEFT JOIN nsp ON nsp.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // --- dedup_semantic: SemDeDup (cluster-blocked embedding dedup) ------
  // The SemDeDup recipe (Abbas et al. 2023): k-means-cluster the
  // embedding space, then search for near-duplicates ONLY within each
  // cluster — the learned quantizer replaces dedup_embedding's label
  // blocking, so the operator works on corpora with no labels at all
  // and pair volume is Σ|cluster|² instead of n². Reuses the IVF
  // coarse quantizer (a memoized maintenance job — the same build
  // serves ANN queries and dedup) and the proven two-phase scorer:
  // codegen'd vec_dot prefilter with a 1e-6 margin, exact-decimal
  // rescore on survivors. The DuckDB oracle replays quantizer training
  // bit-for-bit via Similarity.ivfQuantizerCtes. Cross-cluster
  // near-dups are invisible by design — that recall tradeoff is the
  // operator's published semantics (DedupSpec pins it vs the
  // label-blocked exact pass).

  private val SemThreshold = 0.4

  /** SemDeDup at an explicit cluster count. The registry entry derives
    * k ∝ corpus ([[Similarity.derivedIvfK]]: k = max(10, ceil(n/200)),
    * replayed by the oracle's `kp` CTE) so mean cluster size — and
    * with it Σ|cluster|² pair volume per row — stays constant as data
    * grows. ScaleProbe's `dedup_semantic@k∝n` row is the evidence:
    * fixed k probes ~quadratic, scaled k probes linear. */
  def dedupSemanticAt(s: SparkSession, dir: String, k: Int): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    val v = Similarity.buildIvfIndex(s, dir, k)._2
      .select(col("vec_id"), col("list_id"), col("embedding"), col("n2"))
    val pairs = v.as("a").join(v.as("b"),
        col("a.list_id") === col("b.list_id") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("norm_prod", sqrt(col("a.n2")) * sqrt(col("b.n2")))
      .filter(vec_dot(col("a.embedding"), col("b.embedding")) / col("norm_prod")
        >= SemThreshold - 1e-6)
    pairs
      .withColumn("cos_raw",
        graft.plans.VecDotProduct.vec_dot_exact(col("a.embedding"), col("b.embedding"))
          / col("norm_prod"))
      .filter(col("cos_raw") >= SemThreshold)
      .select(col("a.list_id").as("cluster_id"),
        col("a.vec_id").as("keep_id"), col("b.vec_id").as("drop_id"),
        round6(col("cos_raw")).as("cos_sim"))
      .orderBy("keep_id", "drop_id")
  }

  private def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    dedupSemanticAt(s, dir, Similarity.derivedIvfK(s, dir))

  private val dedupSemanticSql =
    s"""WITH ${Similarity.ivfQuantizerCtes},
       |members AS (
       |  SELECT a.vec_id, a.list_id, v.embedding, v.nn
       |  FROM assigned a JOIN v ON v.vec_id = a.vec_id),
       |p AS (
       |  SELECT a.list_id AS cluster_id, a.vec_id AS keep_id, b.vec_id AS drop_id,
       |         ${Similarity.ddotSql("a.embedding", "b.embedding")} AS dot,
       |         a.nn AS na2, b.nn AS nb2
       |  FROM members a JOIN members b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id)
       |SELECT cluster_id, keep_id, drop_id,
       |       ${round6Sql("dot / (sqrt(na2) * sqrt(nb2))")} AS cos_sim
       |FROM p WHERE dot / (sqrt(na2) * sqrt(nb2)) >= $SemThreshold
       |ORDER BY keep_id, drop_id""".stripMargin

  // --- dedup_clusters: transitive near-dup groups ----------------------
  // Connected components over the Jaccard similarity graph (j ≥ 0.03)
  // via iterative min-label propagation with pointer doubling — the
  // standard Spark shape for graph fixpoints: each round is one
  // neighbor-min join + one label-jump join + aggregate, lineage is
  // truncated with localCheckpoint, and convergence (O(log diameter)
  // rounds) is independent of partitioning. Canonical-doc selection
  // across transitive duplicate groups is why this exists in training
  // pipelines: A≈B and B≈C must collapse to one cluster even when A≉C.
  // Oracle: DuckDB recursive CTE transitive closure.

  private def jaccardPairs(s: SparkSession, dir: String, threshold: Double): DataFrame = {
    val sh = shingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .filter(col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")).cast(DoubleType) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** The near-dup graph's edge threshold: one constant shared by the
    * edge build, both consumers and both oracles. */
  private val EdgeThreshold = 0.03

  /** Symmetrized Jaccard edge set at [[EdgeThreshold]], memoized per
    * (application, lake) one level BELOW the cluster labels: the edge
    * set is the shared build artifact of the similarity graph — at
    * 100 TB the shingle self-join that derives it is the expensive
    * stage, written once per corpus snapshot — and every graph
    * consumer ([[buildClusterLabels]]' propagation fixpoint,
    * [[graphPagerank]]'s power iteration) reads the same
    * localCheckpoint'd materialization instead of re-running the
    * self-join per query. */
  private[graft] def similarityEdges(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "edges") {
      val pairs = jaccardPairs(s, dir, EdgeThreshold)
      pairs.unionByName(
          pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
        .transform(graft.functions.memoize)
    }

  /** Converged (doc_id, label) component assignment, memoized per
    * (application, lake) like the ANN index builds: the cluster table
    * is BUILD state (at 100 TB a materialized table the dedup stage
    * writes once per corpus snapshot), and both its consumers —
    * dedup_clusters' presentation and dedup_keep_best's survivor
    * argmax — read the same materialization instead of re-running the
    * propagation loop. The returned frame is localCheckpoint'd, so
    * reuse is a scan, not a recompute. */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "labels")(buildClusterLabels(s, dir))

  private def buildClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val edges = similarityEdges(s, dir)
    var labels = edges.select(col("id_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id")).transform(graft.functions.memoize)
    // labels decrease monotonically per element, so the label sum is a
    // convergence certificate — one aggregate per round instead of a
    // change-detection join.
    var prevSum = Long.MaxValue
    var curSum = labels.agg(sum("label")).head().getLong(0)
    var iter = 0
    val MaxRounds = 20
    while (curSum < prevSum && iter < MaxRounds) {
      val neighborMin = edges.join(labels, edges("id_b") === labels("doc_id"))
        .groupBy(edges("id_a").as("nid")).agg(min("label").as("nmin"))
      val merged = labels.join(neighborMin, labels("doc_id") === col("nid"), "left")
        .select(labels("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer doubling: label[v] ← label[label[v]] halves every label
      // chain, so convergence is O(log diameter) rounds instead of
      // O(diameter) — the 20-round cap then covers diameters ~2^20
      val jump = merged.select(col("doc_id").as("jd"), col("label").as("jl"))
      labels = merged.join(jump, merged("label") === col("jd"), "left")
        .select(merged("doc_id"),
          least(merged("label"), coalesce(col("jl"), merged("label"))).as("label"))
        .transform(graft.functions.memoize)
      prevSum = curSum
      curSum = labels.agg(sum("label")).head().getLong(0)
      iter += 1
    }
    // a silent cap-out would emit split clusters as if converged —
    // components with diameter > MaxRounds must fail loudly instead
    if (curSum < prevSum) throw new IllegalStateException(
      s"dedup_clusters: label propagation still converging after " +
      s"$MaxRounds doubling rounds (graph diameter ~> 2^$MaxRounds); " +
      s"raise the round cap or pre-contract the graph")
    labels
  }

  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .select(col("label").as("cluster_id"), col("doc_id"))
      .orderBy("cluster_id", "doc_id")

  private val dedupClustersSql =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
       |  FROM (SELECT doc_id, source, ts,
       |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM sh a JOIN sh b
       |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1,2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.03),
       |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT LEAST(a, MIN(b)) AS cluster_id, a AS doc_id
       |FROM reach GROUP BY a
       |ORDER BY cluster_id, doc_id""".stripMargin

  // --- dedup_keep_best: quality-aware survivor selection ---------------
  // What a production dedup stage actually emits: not "keep the first
  // doc per cluster" but "keep the BEST" — the near-dup connected
  // components (dedup_clusters) joined with the Gopher quality gate
  // (Curation.qualityMetrics), one survivor per cluster by
  // (quality_pass, n_words, lowest doc_id) — a fully deterministic
  // order, so the argmax is oracle-exact. Docs outside any near-dup
  // component are their own singleton cluster (coalesce to doc_id):
  // the output PARTITIONS the corpus, which the spec pins. One extra
  // broadcast-able join and one groupBy on top of the two proven ops —
  // at 100 TB both inputs are already the scale-safe shapes
  // (component labels from pointer-doubling, quality from one narrow
  // pass), and the survivor argmax is a map-side-combinable max_by.

  private def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterLabels(s, dir)
      .select(col("label").as("cluster_id"), col("doc_id"))
    val q = graft.operators.Curation.qualityMetrics(
      Tables.documents(s, dir).select(col("doc_id"), col("text"))).drop("text")
    q.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"),
          struct(col("quality_pass").cast(IntegerType), col("n_words"),
            -col("doc_id"))).as("keep_doc_id"),
        count(lit(1)).as("n_members"),
        sum(when(col("quality_pass"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("n_dropped", col("n_members") - 1)
      .orderBy("cluster_id")
  }

  private val dedupKeepBestSql =
    s"""WITH clusters AS (SELECT * FROM ($dedupClustersSql)),
       |q AS (SELECT * FROM (${graft.operators.Curation.qualityGopherSql})),
       |m AS (
       |  SELECT q.*, COALESCE(c.cluster_id, q.doc_id) AS cluster_id
       |  FROM q LEFT JOIN clusters c USING (doc_id)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY quality_pass DESC, n_words DESC, doc_id ASC) AS rn
       |  FROM m)
       |SELECT cluster_id,
       |       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       |       count(*) AS n_members,
       |       CAST(sum(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |       count(*) - 1 AS n_dropped
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // --- graph_pagerank: centrality over the near-dup graph --------------
  // Graph analytics on the similarity graph the dedup family builds:
  // damped PageRank (d = 0.85, 5 iterations) over the symmetric
  // Jaccard edges — in a training pipeline, rank identifies the
  // canonical document of a near-dup neighborhood (keep the hub, cut
  // the spokes). Spark shape: one join + one aggregate per iteration
  // (the dedup_clusters fixpoint pattern, but value-propagating);
  // per-iteration contribution sums reduce in DECIMAL(38,18), so
  // partition order can't leak into the double ranks and the DuckDB
  // oracle — the iterations unrolled into chained CTEs, the Lloyd
  // trick — replays bit-for-bit. Isolated nodes (no edges at the
  // threshold) aren't graph members and don't appear, matching the
  // oracle's edge-derived node set.

  private val PrIters = 5
  private val PrDamp = 0.85

  private def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = similarityEdges(s, dir)
    val deg = edges.groupBy("id_a").agg(count(lit(1)).as("deg"))
    val nodes = deg.select(col("id_a").as("doc_id"), col("deg"))
    // n as a one-row broadcast (never a driver-side collect)
    val nRow = nodes.agg(count(lit(1)).cast(DoubleType).as("n"))
    var ranks = nodes.crossJoin(broadcast(nRow))
      .select(col("doc_id"), col("deg"), col("n"), (lit(1.0) / col("n")).as("rank"))
      .transform(graft.functions.memoize)
    for (_ <- 1 to PrIters) {
      val contrib = edges.join(ranks, edges("id_a") === ranks("doc_id"))
        .select(col("id_b").as("dst"),
          (col("rank") / col("deg")).cast(DecimalType(38, 18)).as("c"))
        .groupBy("dst").agg(sum("c").cast(DoubleType).as("in_sum"))
      ranks = ranks.join(contrib, ranks("doc_id") === col("dst"), "left")
        .select(ranks("doc_id"), ranks("deg"), ranks("n"),
          (lit(1.0 - PrDamp) / col("n")
            + lit(PrDamp) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .transform(graft.functions.memoize)
    }
    ranks.select(col("doc_id"), round6(col("rank") * 1000.0).as("rank_x1000"))
      .orderBy("doc_id")
  }

  private val graphPagerankSql: String = {
    val rounds = (1 to PrIters).map { r =>
      val prev = s"r${r - 1}"
      s"""r$r AS (
         |  SELECT n.doc_id, n.deg, n.n,
         |         CAST(${1.0 - PrDamp} AS DOUBLE) / n.n
         |           + CAST($PrDamp AS DOUBLE) * COALESCE(c.in_sum, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.id_b AS dst,
         |           CAST(sum(CAST(p.rank / p.deg AS DECIMAL(38,18))) AS DOUBLE) AS in_sum
         |    FROM edges e JOIN $prev p ON e.id_a = p.doc_id
         |    GROUP BY 1) c ON c.dst = n.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, source,
       |         ${h60Sql("ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i AS INTEGER)+1] || ' ' || ts[CAST(i AS INTEGER)+2]")} AS shingle
       |  FROM (SELECT doc_id, source, ts,
       |          unnest(generate_series(1, len(ts) - 2)) AS i FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |  FROM sh a JOIN sh b
       |    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
       |  GROUP BY 1,2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.03),
       |edges AS (SELECT id_a, id_b FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (
       |  SELECT id_a AS doc_id, count(*) AS deg,
       |         CAST((SELECT count(DISTINCT id_a) FROM edges) AS DOUBLE) AS n
       |  FROM edges GROUP BY 1),
       |r0 AS (SELECT doc_id, deg, n, 1.0 / n AS rank FROM nodes),
       |$rounds
       |SELECT doc_id, ${round6Sql(s"rank * 1000.0")} AS rank_x1000
       |FROM r$PrIters ORDER BY doc_id""".stripMargin
  }

  // --- corpus_split_leakfree: cluster-granular train/val/test split ----
  // The split a training pipeline must make AFTER near-dup analysis:
  // assigning train/val/test per DOCUMENT leaks — a near-duplicate of
  // a training doc lands in the eval split and inflates every metric
  // (the published contamination failure mode dedup exists to
  // prevent). The atomic split unit is therefore the near-dup
  // CONNECTED COMPONENT: every doc in a cluster draws the same hash
  // ticket (seeded by the cluster label), so near-dups can never
  // straddle a split boundary; unclustered docs are their own
  // singleton unit (the dedup_keep_best convention — the split
  // partitions the corpus). Spark shape: the memoized cluster-label
  // build state (one scan — the propagation fixpoint already ran for
  // dedup_clusters/keep_best) left-joined to the corpus, then a
  // stateless portable hash ticket (the corpus_mix_sample machinery):
  // no shuffle beyond the label join, any executor can evaluate any
  // row, reproducible across runs and engines. 800/100/100 ‰ bands.

  private def corpusSplitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterLabels(s, dir)
      .select(col("label").as("split_unit"), col("doc_id"))
    val ticket = pmod(graft.functions.h32(
      concat(lit("split:"), col("split_unit").cast(StringType))), lit(1000))
    Tables.documents(s, dir).select("doc_id", "source")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("split_unit", coalesce(col("split_unit"), col("doc_id")))
      .withColumn("ticket", ticket)
      .withColumn("split",
        when(col("ticket") < 800, "train")
          .when(col("ticket") < 900, "val")
          .otherwise("test"))
      .select("doc_id", "source", "split_unit", "split")
      .orderBy("doc_id")
  }

  private val corpusSplitLeakfreeSql =
    s"""WITH clusters AS (SELECT * FROM ($dedupClustersSql)),
       |u AS (
       |  SELECT d.doc_id, d.source, COALESCE(c.cluster_id, d.doc_id) AS split_unit
       |  FROM documents d LEFT JOIN clusters c USING (doc_id)),
       |t AS (
       |  SELECT *, CAST(('0x' || substr(md5('split:' || CAST(split_unit AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS ticket
       |  FROM u)
       |SELECT doc_id, source, split_unit,
       |       CASE WHEN ticket < 800 THEN 'train'
       |            WHEN ticket < 900 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM t ORDER BY doc_id""".stripMargin

  // --- dedup_paragraph: CCNet-style first-occurrence paragraph dedup --
  // The granularity between dedup_exact (whole doc) and
  // dedup_substring_spans (repeated 8-gram spans): drop every
  // paragraph the corpus has already seen, keep the FIRST occurrence
  // in the deterministic (doc_id, para_idx) order — the CCNet move
  // (Wenzek et al. 2020) that strips boilerplate (headers, footers,
  // license blocks) while keeping one canonical copy. The synthetic
  // corpus has no newline structure, so the paragraph boundary
  // operator here is a fixed [[ParaWords]]-word window (pluggable —
  // a real pipeline splits on blank lines before this op; alignment
  // sensitivity is the known trade of windowed paragraphs).
  //
  // Scale shape: ONE narrow pass explodes each doc into paragraph
  // rows carrying only the h60 paragraph hash (never the text past
  // the hash), a min-window over the hash partition marks first
  // occurrences (one shuffle on ph — no join back, no second corpus
  // pass, no checkpoint; a boilerplate mega-paragraph concentrates
  // its occurrences in one partition where the windowed min is
  // linear and spillable), then a doc-level rollup. The first-
  // occurrence key packs (doc_id, para_idx) into one long
  // (para_idx < 1e6 — a 20M-word document bound, asserted nowhere
  // because violating it needs a single doc above ~100 MB; such a
  // doc fails text_quality_gopher's length gate long before here).

  private val ParaWords = 20

  /** The shared paragraph stream: one narrow pass from (doc_id, text)
    * to (doc_id, para_idx, para, ph, k) rows — the report op, the
    * rewrite op, and the streaming admission gate all derive from
    * this, so the paragraph boundary and hash can never drift between
    * them. `k` is the corpus-wide first-occurrence key. */
  private[graft] def paraRows(docs: DataFrame): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("nb",
        ceil(size(col("words")) / lit(ParaWords.toDouble)).cast(IntegerType))
      .select(col("doc_id"), posexplode(expr(
          s"if(nb <= 0, array(), transform(sequence(0, nb - 1), " +
          s"i -> array_join(slice(words, i * $ParaWords + 1, $ParaWords), ' ')))"))
        .as(Seq("para_idx", "para")))
      .withColumn("ph", graft.functions.h60(lower(col("para"))))
      .withColumn("k", col("doc_id") * lit(1000000L) + col("para_idx"))

  /** Mark each paragraph row kept ⇔ it holds the minimal key in its
    * hash group (the first-occurrence rule, one shuffle on ph). */
  private[graft] def paraFirstOccurrence(pr: DataFrame): DataFrame =
    pr.withColumn("kept", col("k") === min(col("k"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("ph")))

  /** Re-assemble cleaned docs from kept paragraph rows (paragraph
    * order; docs with nothing kept disappear). */
  private[graft] def paraRewrite(kept: DataFrame): DataFrame =
    kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("para_idx"), col("para")))),
          s => s.getField("para"))).as("text_clean"))
      .orderBy("doc_id")

  /** Paragraph dedup over any (doc_id, text) frame — the registry
    * entry binds the documents corpus; DedupSpec feeds synthesized
    * aligned-block corpora. */
  private[graft] def dedupParagraphOver(docs: DataFrame): DataFrame = {
    paraFirstOccurrence(paraRows(docs).drop("para"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        (col("n_paras") - col("n_kept")).as("n_dropped"),
        graft.functions.ratio(col("n_kept").cast(DoubleType),
          col("n_paras").cast(DoubleType)).as("kept_ratio"))
      .orderBy("doc_id")
  }

  private def dedupParagraph(s: SparkSession, dir: String): DataFrame =
    dedupParagraphOver(Tables.documents(s, dir))

  /** The rewrite half of the CCNet move: the CLEANED corpus — every
    * doc re-assembled from only its kept (first-occurrence)
    * paragraphs, in paragraph order; docs reduced to nothing drop out
    * (CCNet's empty-doc removal). Same first-occurrence keys as
    * [[dedupParagraphOver]], so the two ops can never disagree about
    * which copy survives. Paragraph TEXT rides the one ph-partition
    * shuffle here (the rewrite inherently moves text once); the
    * report op stays hash-only. */
  private[graft] def dedupParagraphRewriteOver(docs: DataFrame): DataFrame =
    paraRewrite(paraFirstOccurrence(paraRows(docs)).filter(col("kept")))

  private def dedupParagraphRewrite(s: SparkSession, dir: String): DataFrame =
    dedupParagraphRewriteOver(Tables.documents(s, dir))

  private val dedupParagraphRewriteSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
       |         array_to_string(list_slice(words,
       |           CAST(i * $ParaWords + 1 AS INTEGER),
       |           CAST(i * $ParaWords + $ParaWords AS INTEGER)), ' ') AS para
       |  FROM (SELECT doc_id, words,
       |          unnest(generate_series(0,
       |            CAST(ceil(len(words) / $ParaWords.0) AS BIGINT) - 1)) AS i
       |        FROM w WHERE len(words) > 0)),
       |h AS (SELECT doc_id, para_idx, para, ${h60Sql("lower(para)")} AS ph,
       |             doc_id * 1000000 + para_idx AS k FROM p),
       |f AS (SELECT doc_id, para_idx, para,
       |             k = min(k) OVER (PARTITION BY ph) AS kept FROM h)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |       string_agg(para, ' ' ORDER BY para_idx) AS text_clean
       |FROM f WHERE kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val dedupParagraphSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |p AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS para_idx,
       |         array_to_string(list_slice(words,
       |           CAST(i * $ParaWords + 1 AS INTEGER),
       |           CAST(i * $ParaWords + $ParaWords AS INTEGER)), ' ') AS para
       |  FROM (SELECT doc_id, words,
       |          unnest(generate_series(0,
       |            CAST(ceil(len(words) / $ParaWords.0) AS BIGINT) - 1)) AS i
       |        FROM w WHERE len(words) > 0)),
       |h AS (SELECT doc_id, para_idx, ${h60Sql("lower(para)")} AS ph,
       |             doc_id * 1000000 + para_idx AS k FROM p),
       |f AS (SELECT doc_id, kept FROM (
       |  SELECT doc_id, k = min(k) OVER (PARTITION BY ph) AS kept FROM h)),
       |a AS (SELECT doc_id, count(*) AS n_paras,
       |             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |      FROM f GROUP BY doc_id)
       |SELECT doc_id, n_paras, n_kept, n_paras - n_kept AS n_dropped,
       |       ${graft.functions.ratioSql("CAST(n_kept AS DOUBLE)", "CAST(n_paras AS DOUBLE)")} AS kept_ratio
       |FROM a ORDER BY doc_id""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("dedup_exact", dedupExact, Some(dedupExactSql)),
    Op("dedup_paragraph", dedupParagraph, Some(dedupParagraphSql)),
    Op("dedup_paragraph_rewrite", dedupParagraphRewrite, Some(dedupParagraphRewriteSql)),
    Op("dedup_editdist", dedupEditdist, Some(dedupEditdistSql)),
    Op("dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramJaccardSql), buildState = true),
    Op("dedup_containment", dedupContainment, Some(dedupContainmentSql), buildState = true),
    Op("dedup_allpairs", dedupAllpairs, Some(dedupAllpairsSql), buildState = true),
    Op("dedup_gate_exact", dedupGateExact, Some(dedupGateExactSql), buildState = true),
    Op("dedup_minhash", dedupMinhash, Some(dedupMinhashSql), buildState = true),
    Op("dedup_minhash_est", dedupMinhashEst, Some(dedupMinhashEstSql), buildState = true),
    Op("dedup_gate", dedupGate, Some(dedupGateSql), buildState = true),
    Op("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Op("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
    Op("dedup_semantic", dedupSemantic, Some(dedupSemanticSql), buildState = true),
    Op("dedup_substring_spans", dedupSubstringSpans, Some(dedupSubstringSpansSql), buildState = true),
    Op("dedup_substring_rewrite", dedupSubstringRewrite, Some(dedupSubstringRewriteSql), buildState = true),
    Op("dedup_gate_substring", dedupGateSubstring, Some(dedupGateSubstringSql), buildState = true),
    Op("dedup_clusters", dedupClusters, Some(dedupClustersSql), buildState = true),
    Op("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql), buildState = true),
    Op("graph_pagerank", graphPagerank, Some(graphPagerankSql), buildState = true),
    Op("corpus_split_leakfree", corpusSplitLeakfree, Some(corpusSplitLeakfreeSql), buildState = true))
}
