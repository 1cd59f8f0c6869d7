package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Tables}
import graft.functions.{round6, round6Sql}

/** Similarity search over the `embeddings` table (`Array[Float]`).
  *
  * `ann_bruteforce_topk` is the exact baseline: broadcast the (small)
  * query set against the corpus — map-side only, no shuffle until the
  * per-query top-k. `ann_lsh_topk` is the scale path: random-hyperplane
  * LSH buckets both sides so each query only scores its bucket.
  *
  * Dot products are reduced in DECIMAL(38,12) (exact, order-free) so
  * the DuckDB oracle sees bit-identical cosines — see SURVEY.md §4.
  */
object Similarity {

  /** Decimal dot product of two float-array columns, as an interpreted
    * HOF. CAVEAT (round-5 finding, pinned in DedupSpec): Spark types
    * `Add(dec(38,12), dec(38,12))` as DECIMAL(38,11), so this rounds at
    * 11dp per accumulation step — up to ~1e-9 from the true exact
    * reduction the DuckDB [[ddotSql]] computes. All production call
    * sites use [[graft.plans.VecDotDecimal]] (codegen'd, oracle-exact)
    * instead; this stays as the spec's independent HOF reference. */
  def ddot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) * y.cast(DoubleType)).cast(DecimalType(38, 12))),
      lit(0).cast(DecimalType(38, 12)),
      (acc, x) => (acc + x).cast(DecimalType(38, 12)))

  def ddotSql(a: String, b: String): String =
    s"""CAST(list_sum(list_transform(list_zip($a, $b),
       |  x -> CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,12)))) AS DOUBLE)""".stripMargin

  def norm2Sql(a: String): String =
    s"""CAST(list_sum(list_transform($a,
       |  x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,12)))) AS DOUBLE)""".stripMargin

  /** Attach squared L2 norm (computed once per vector, not per pair). */
  def withNorm2(emb: DataFrame): DataFrame =
    emb.withColumn("n2",
      graft.plans.VecDotProduct.vec_dot_exact(col("embedding"), col("embedding")))

  private def cosine(dot: Column, na2: Column, nb2: Column): Column =
    dot / (sqrt(na2) * sqrt(nb2))

  /** Two-phase exact top-k over a candidate-pair stream.
    *
    * Phase 1 (the hot path, touches every candidate pair) scores with
    * the codegen'd [[graft.plans.VecDotProduct]] — a tight primitive
    * loop inside WholeStageCodegen — and keeps only the per-query
    * fast-score top-[[PrefilterBuffer]]. Phase 2 applies the exact
    * DECIMAL(38,12) reduction (the operator's oracle semantics) to the
    * ≤64 survivors per query and takes the final top-k.
    *
    * Bit-identical to scoring everything exactly: double-vs-decimal
    * summation drift on 64-dim unit-ish vectors is ~1e-13, so the true
    * exact top-5 can only escape the fast top-64 if ≥59 distinct
    * candidates landed within ~2e-13 of the 5th-best score
    * (exact-duplicate vectors tie exactly and are ordered by
    * neighbor_id identically in both phases). The same two-phase
    * pattern is proven in dedup_embedding; round-1 measured the
    * interpreted `aggregate(zip_with(...))` alternative 7-10× slower.
    *
    * Both rank stages are the Filter-over-row_number-Window shape that
    * [[graft.plans.TopKRewriteRule]] turns into a bounded-heap
    * operator, so at scale nothing sorts a full candidate set. */
  private val PrefilterBuffer = 64

  /** The shared query panel: vectors/docs with id < AnnPanel serve as
    * queries in every ANN op AND in the recall report's baseline —
    * declared once (and before every SQL-twin `val` initializer) so
    * the panel size cannot silently diverge between the Scala filters,
    * the DuckDB twins, and the report's hotprobe slice. */
  private val AnnPanel = 10

  /** Recall/serve depth of the exact baseline and the k=5 ANN ops —
    * declared HERE (with [[AnnPanel]], before every SQL-twin val
    * initializer) because object vals initialize in declaration
    * order: a twin built below a constant's declaration silently
    * interpolates 0. */
  private[graft] val RecallK = 5

  /** Prefilter-by-`fast`-score + exact-decimal rescore, shared by every
    * ANN variant. `scored` must carry (query_id, neighbor_id, q_emb,
    * embedding, qn2, n2, fast); the per-query fast top-[[PrefilterBuffer]]
    * survivors get the exact DECIMAL(38,12) cosine and the final top-k. */
  private def rescoreTopK(scored: DataFrame, k: Int): DataFrame = {
    // rank aliases carry the MarkerPrefix: the heap rewrite applies to
    // exactly these two windows and nothing else in the session — the
    // session-wide conf gate stays untouched, so unrelated rank-filter
    // queries in a shared session keep the stock spillable Window plan
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val wf = Window.partitionBy("query_id").orderBy(col("fast").desc, col("neighbor_id"))
    val surv = scored.withColumn(s"${mk}fr", row_number().over(wf))
      .filter(col(s"${mk}fr") <= PrefilterBuffer)
    val w = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    surv
      .withColumn("cos_raw",
        cosine(graft.plans.VecDotProduct.vec_dot_exact(col("q_emb"), col("embedding")),
          col("qn2"), col("n2")))
      .withColumn(s"${mk}rank", row_number().over(w))
      .filter(col(s"${mk}rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(s"${mk}rank").as("rank"),
        round6(col("cos_raw")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  private def exactTopK(pairs: DataFrame, k: Int): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    rescoreTopK(pairs.withColumn("fast",
      cosine(vec_dot(col("q_emb"), col("embedding")), col("qn2"), col("n2"))), k)
  }

  // --- ann_bruteforce_topk ---------------------------------------------

  private def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
    val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, 5)
  }

  private val annBruteforceSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
       |  FROM v q JOIN v ON q.vec_id < $AnnPanel AND v.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  // --- ann_lsh_topk -----------------------------------------------------
  // 6 fixed random hyperplanes → 64 sign buckets; queries score only
  // their bucket. The plane dots are reduced in DECIMAL(38,12) (exact,
  // order-free) so the bucket assignment — a sign test — is
  // bit-portable to the DuckDB oracle, which embeds the same
  // hyperplane literals (Double.toString round-trips exactly).

  /** Deterministic Gaussian hyperplanes (seed 42); the first 6 are the
    * oracle-pinned literals, more planes = finer buckets. The plane
    * COUNT is the LSH family's corpus parameter: bucket population is
    * ~n/2^planes, so a growing corpus adds planes to keep buckets —
    * and with them self-join pair volume per vector — constant. */
  private def gaussianPlanes(n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n)(Array.fill(64)(rnd.nextGaussian()))
  }

  private val planes: Array[Array[Double]] = gaussianPlanes(6)

  /** Plane-count sizing: the smallest p in [6, [[MaxPlanes]]] with
    * n ≤ [[LshTargetPop]]·2^p — mean bucket population (and with it
    * per-vector candidate count and self-join pair volume per row)
    * stays ≤ ~32 as the corpus grows (the former `@planesPropN` probe
    * row, now the default). Integer-threshold compares, never a
    * floating log, so the oracle's CTE replays the derivation exactly
    * ([[planesParamCte]]). At the driver sfs (500–2000 vectors) this
    * derives p = 6 — the historical pin — and 10 at the ×16 probe
    * corpus. [[MaxPlanes]] bounds the embedded oracle plane family
    * (covers corpora to ~2M vectors; a larger deployment raises the
    * constant — it is a literal table, not a design limit). */
  private[operators] val LshTargetPop = 32
  private[operators] val MaxPlanes = 16

  private[operators] def planesFor(n: Long): Int = {
    var p = planes.length
    while (p < MaxPlanes && n > (LshTargetPop.toLong << p)) p += 1
    p
  }

  /** [[planesFor]] for callers that already hold the corpus count —
    * the graph lake's RE-BUILD sizes its capped edge bootstrap from
    * the lake's own node count. */
  private[graft] def planesForCount(n: Long): Int = planesFor(n)

  /** Corpus-derived hyperplane count (one memoized count — the ANALYZE
    * step of the LSH family sizing). */
  def derivedPlanes(s: SparkSession, dir: String): Int =
    planesFor(embCount(s, dir))

  /** SQL twin of the plane-count derivation: CTE `pp(pl)`. The while
    * loop linearizes to a sum of indicators because the thresholds are
    * monotone: p = 6 + #{k in [6, MaxPlanes) : n > 32·2^k}. */
  private[operators] val planesParamCte: String =
    s"pp AS (SELECT 6 + ${(planes.length until MaxPlanes)
      .map(k => s"(CASE WHEN count(*) > ${LshTargetPop.toLong << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")} AS pl FROM embeddings)"

  /** Sign-test margin: fast (double) vs exact (decimal) dot drift on
    * 64-dim O(1) vectors is ≤ ~4e-11 (64 products each rounded to 12dp
    * + double summation error), so a fast |dot| ≥ 1e-6 pins the exact
    * sign and only near-boundary vectors pay the exact recompute. */
  private val SignEps = 1e-6

  /** Two-phase hyperplane signature: the codegen'd vec_dot scores every
    * (vector, plane) pair in the scan projection — no interpreted HOF
    * on the corpus-sized path — and the exact-decimal recompute
    * ([[graft.plans.VecDotDecimal]], itself codegen'd and bit-identical
    * to the oracle's list_sum reduction) runs only where |fast| <
    * [[SignEps]], the only region where the sign could disagree.
    * Buckets are bit-identical to exact-everywhere. */
  private def bucketColFor(emb: Column, pls: Array[Array[Double]]): Column = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    pls.zipWithIndex.map { case (pl, i) =>
      val plLit = typedLit(pl.toSeq)
      val fast = vec_dot(emb, plLit)
      val dot = when(abs(fast) < SignEps, vec_dot_exact(emb, plLit)).otherwise(fast)
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  private def bucketCol(emb: Column): Column = bucketColFor(emb, planes)

  /** `bucket` as DuckDB SQL over column `embedding`, from the given
    * plane constants. */
  private def bucketSqlFor(pls: Array[Array[Double]]): String =
    pls.zipWithIndex.map { case (pl, i) =>
      val lits = pl.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""(CASE WHEN list_sum(list_transform(list_zip(embedding, $lits),
         |  x -> CAST(CAST(x[1] AS DOUBLE) * x[2] AS DECIMAL(38,12)))) > 0
         |  THEN ${1 << i} ELSE 0 END)""".stripMargin
    }.mkString("(", "\n + ", ")")

  private def bucketSql: String = bucketSqlFor(planes)

  private val annLshSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         $bucketSql AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
       |  FROM v q JOIN v ON q.vec_id < $AnnPanel AND v.vec_id <> q.vec_id
       |                 AND v.bucket = q.bucket),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir)).withColumn("bucket", bucketCol(col("embedding")))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("bucket").as("q_bucket"))
    val pairs = v.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, 5)
  }

  // --- ann_knn_graph: bucketed all-vectors kNN graph --------------------
  // The construction primitive under graph ANN indexes (HNSW/NSG
  // lineage), SemDeDup variants, and label propagation: EVERY vector's
  // top-3 neighbors, not a query set's. The scale shape is the point —
  // there is no broadcast-able query side, so candidates come from the
  // LSH self-join (each vector meets only its bucket, pair volume
  // Σ|bucket|²) and ranking is the same two-phase vec_dot → exact
  // decimal top-k as every ANN op. Vectors whose bucket is a singleton
  // have no candidates and legitimately emit no rows (a real kNN-graph
  // build handles them with multi-probe — here the 6-plane bucketing
  // keeps buckets populated at every test sf).

  private[graft] val KnnK = 3

  /** kNN graph at an explicit plane count. The registry entry derives
    * the count from the corpus ([[derivedPlanes]]: bucket population
    * ~n/2^planes held ≤ ~[[LshTargetPop]] ⇒ per-vector candidate
    * count — and recall — constant, pair volume linear; the oracle's
    * `pp` CTE replays the same derivation over a masked
    * [[MaxPlanes]]-plane family). ScaleProbe's
    * `ann_knn_graph@planesPropN` row demonstrates the fixed-vs-derived
    * contrast. */
  def knnGraphAt(s: SparkSession, dir: String, nPlanes: Int): DataFrame = {
    // memoize: v feeds BOTH self-join sides, and AQE does not collapse
    // twin derivation branches — without it every per-vector plane dot
    // (incl. the exact-decimal n2) computes twice
    val v = withNorm2(Tables.embeddings(s, dir))
      .withColumn("bucket", bucketColFor(col("embedding"), gaussianPlanes(nPlanes)))
      .transform(graft.functions.memoize)
    val q = v.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("n2").as("qn2"), col("bucket").as("q_bucket"))
    val pairs = v.join(q,
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, KnnK)
  }

  private def annKnnGraph(s: SparkSession, dir: String): DataFrame =
    knnGraphAt(s, dir, derivedPlanes(s, dir))

  /** Per-plane exact-decimal dots `d0..d{MaxPlanes-1}` over the full
    * embedded family, as SELECT-list SQL (the oracle computes all of
    * them and the bucket assembly masks by the derived count — masked
    * dots are wasted work only at oracle scale). */
  private def planeDotsSql(fam: Array[Array[Double]], prefix: String): String =
    fam.zipWithIndex.map { case (pl, i) =>
      val lits = pl.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""CAST(list_sum(list_transform(list_zip(embedding, $lits),
         |  x -> CAST(CAST(x[1] AS DOUBLE) * x[2] AS DECIMAL(38,12)))) AS DOUBLE) AS $prefix$i""".stripMargin
    }.mkString(",\n         ")

  /** Bucket assembly off [[planeDotsSql]] columns, masked by the
    * derived plane count `pl` (scalar subquery on CTE `pp`). */
  private def maskedBucketSql(prefix: String): String =
    (0 until MaxPlanes).map { i =>
      s"(CASE WHEN $i < (SELECT pl FROM pp) AND $prefix$i > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val annKnnGraphSql =
    s"""WITH $planesParamCte,
       |vd AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         ${planeDotsSql(gaussianPlanes(MaxPlanes), "pd")}
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, embedding, n2, ${maskedBucketSql("pd")} AS bucket
       |  FROM vd),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
       |  FROM v q JOIN v ON v.bucket = q.bucket AND v.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin

  // --- ann_knn_multiprobe: multi-probe LSH kNN graph --------------------
  // The production answer to ann_knn_graph's isolated/skewed buckets:
  // each vector ALSO probes the bucket across its least-confident
  // hyperplane (the plane with the smallest |dot| — the boundary it
  // most plausibly sits on; Lv et al.'s multi-probe LSH, depth 1).
  // Candidates = y whose home bucket is in x's 2-bucket probe set, a
  // strict superset of the single-probe graph, at ≤2× the pair volume
  // — recall for boundary vectors recovered without touching bucket
  // sizing. The plane dots are computed ONCE per vector (decimal,
  // order-free) and reused for bucket signs AND the argmin, so the
  // DuckDB oracle replays probe selection bit-for-bit.

  private def annKnnMultiprobe(s: SparkSession, dir: String): DataFrame =
    knnMultiprobeOver(withNorm2(Tables.embeddings(s, dir)))

  /** The multiprobe kNN graph over any withNorm2'd (vec_id, embedding,
    * n2) frame — the reusable build core: the registry op runs it on
    * the lake table, the streaming graph-index bootstrap
    * ([[graft.streaming.StreamingJobs.graphIndexInit]]) on a corpus
    * subset. */
  /** (vec_id, embedding, n2, bucket, jstar) over a withNorm2'd frame —
    * the two-phase plane-dot machinery shared by the multiprobe graph
    * build and [[annRangeSearch]]'s probe selection.
    *
    * Two-phase plane dots (the multiprobe needs VALUES, not just
    * signs: the argmin over |dot| picks the probe plane). Phase 1 is
    * the codegen'd vec_dot for every plane; the exact-decimal
    * recompute runs only for planes whose fast |dot| is within
    * SignEps of the per-vector fast minimum — that set provably
    * contains (a) every plane whose sign is ambiguous (|fast| <
    * SignEps ⇒ |fast| < min+SignEps since min ≥ 0) and (b) every
    * possible exact argmin (fast-vs-exact drift δ ≤ ~4e-11 ≪ SignEps,
    * so the exact argmin's fast |dot| sits within 2δ of the fast
    * min). Planes outside the set keep fast values that are strictly
    * larger than any exact min and sign-safe, so bucket AND jstar
    * replay the oracle's exact-everywhere decision bit-for-bit. */
  private def withBucketJstar(vn: DataFrame): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val fasts = planes.zipWithIndex.map { case (pl, i) =>
      vec_dot(col("embedding"), typedLit(pl.toSeq)).as(s"f$i")
    }
    val minAbsFast = least(planes.indices.map(i => abs(col(s"f$i"))): _*)
    val dots = planes.zipWithIndex.map { case (pl, i) =>
      when(abs(col(s"f$i")) < minAbsFast + SignEps,
        vec_dot_exact(col("embedding"), typedLit(pl.toSeq)))
        .otherwise(col(s"f$i")).as(s"d$i")
    }
    val v0 = vn
      .select(col("*") +: fasts: _*)
      .select((col("vec_id") +: col("embedding") +: col("n2") +: dots): _*)
    val bucket = planes.indices.map(i =>
      when(col(s"d$i") > 0, lit(1 << i)).otherwise(lit(0))).reduce(_ + _)
    val minAbs = least(planes.indices.map(i => abs(col(s"d$i"))): _*)
    // argmin by |dot|, ties to the smallest plane index (the when-chain
    // fires in index order in both engines)
    val jstar = planes.indices.tail.foldLeft(
        when(abs(col("d0")) === minAbs, lit(0))) { (acc, i) =>
      acc.when(abs(col(s"d$i")) === minAbs, lit(i))
    }
    v0.withColumn("bucket", bucket).withColumn("jstar", jstar)
      .select("vec_id", "embedding", "n2", "bucket", "jstar")
  }

  private[graft] def knnMultiprobeOver(vn: DataFrame): DataFrame = {
    // memoize: the bucket/jstar frame feeds BOTH self-join sides (AQE
    // does not collapse twin branches) — the two-phase plane-dot pass
    // (6 fast dots + conditional exact recomputes per vector) must run
    // once, not once per side
    val v = withBucketJstar(vn).transform(graft.functions.memoize)
    val q = v.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"),
        explode(array(col("bucket"),
          col("bucket").bitwiseXOR(expr("shiftleft(1, jstar)")))).as("probe"))
    val pairs = v.join(q,
        col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    // no dedup needed: the two probe values (bucket, bucket^2^jstar)
    // always differ and a neighbor has exactly one home bucket, so a
    // (query, neighbor) pair matches at most one probe
    exactTopK(pairs, KnnK)
  }

  /** The multiprobe kNN-graph CTE chain (v0/v/probes/cand/scored/
    * ranked) — shared by the ann_knn_multiprobe oracle and the
    * ann_graph_search oracle, whose index graph is built from exactly
    * these edges. `v` carries (vec_id, embedding, n2, bucket). */
  /** The v0/v CTE pair computing (vec_id, embedding, n2, bucket,
    * jstar) — the SQL twin of [[withBucketJstar]] (exact-everywhere
    * plane dots), shared by the multiprobe chain and the
    * ann_range_search oracle. */
  private val vJstarCtes: String = {
    val dotExprs = planes.zipWithIndex.map { case (pl, i) =>
      val lits = pl.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""CAST(list_sum(list_transform(list_zip(embedding, $lits),
         |  x -> CAST(CAST(x[1] AS DOUBLE) * x[2] AS DECIMAL(38,12)))) AS DOUBLE) AS d$i""".stripMargin
    }.mkString(",\n         ")
    val bucket = planes.indices.map(i => s"(CASE WHEN d$i > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val minAbs = s"LEAST(${planes.indices.map(i => s"abs(d$i)").mkString(", ")})"
    val jstar = planes.indices.map(i => s"WHEN abs(d$i) = m THEN $i")
      .mkString("CASE ", " ", " END")
    s"""v0 AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         $dotExprs
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, embedding, n2, $bucket AS bucket,
       |         $jstar AS jstar
       |  FROM (SELECT *, $minAbs AS m FROM v0))""".stripMargin
  }

  private val multiprobeCtes: String = {
    s"""$vJstarCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS qn2,
       |         unnest([bucket, xor(bucket, 1 << jstar)]) AS probe
       |  FROM v),
       |cand AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         p.q_emb, v.embedding, p.qn2, v.n2
       |  FROM v JOIN probes p ON v.bucket = p.probe AND v.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)""".stripMargin
  }

  private val annKnnMultiprobeSql: String =
    s"""WITH $multiprobeCtes
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin

  // --- ann_range_search: threshold (radius) search ----------------------
  // The other half of the similarity-search API: not "the k nearest"
  // but "EVERYTHING at least τ similar" — the retrieval shape behind
  // semantic dedup sweeps (collect all near-neighbors above the dedup
  // threshold) and contamination scans, where the result count is
  // data-determined, not k. Candidates come from the same 2-probe LSH
  // set as the multiprobe graph (home bucket + the least-confident
  // plane's flip, via [[withBucketJstar]]) — the probe set IS the
  // op's recall contract, exactly as bucketing is for ann_lsh_topk,
  // and the oracle replays it bit-for-bit. Scoring is two-phase with
  // a THRESHOLD prefilter instead of a top-k heap: the codegen'd fast
  // cosine keeps candidates ≥ τ − 1e-6 (fast-vs-exact drift is
  // ~1e-13, so no exact-qualifying pair can be dropped), the exact
  // DECIMAL(38,12) cosine decides ≥ τ. Scale: per-query candidate
  // volume is 2 probes × ~LshTargetPop regardless of corpus size, the
  // panel side broadcasts, and there is no window at all — the output
  // is a filter, so the operator is embarrassingly parallel.

  private val RangeTau = 0.3
  private val RangeMargin = 1e-6

  private def annRangeSearch(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val v = withBucketJstar(withNorm2(Tables.embeddings(s, dir)))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"),
        explode(array(col("bucket"),
          col("bucket").bitwiseXOR(expr("shiftleft(1, jstar)")))).as("probe"))
    v.join(broadcast(q),
        col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .withColumn("fast",
        cosine(vec_dot(col("q_emb"), col("embedding")), col("qn2"), col("n2")))
      .filter(col("fast") >= RangeTau - RangeMargin)
      .withColumn("cos_raw",
        cosine(vec_dot_exact(col("q_emb"), col("embedding")), col("qn2"), col("n2")))
      .filter(col("cos_raw") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round6(col("cos_raw")).as("cos_sim"))
      // the >= tau survivors are tiny; checkpoint before the global
      // sort so rangepartitioning's sampling pass doesn't re-execute
      // the bucket join + two-phase scoring (measured ~2x the op)
      .transform(graft.functions.memoize)
      .orderBy("query_id", "neighbor_id")
  }

  private val annRangeSearchSql: String =
    s"""WITH $vJstarCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS qn2,
       |         unnest([bucket, xor(bucket, 1 << jstar)]) AS probe
       |  FROM v WHERE vec_id < $AnnPanel),
       |cand AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         p.q_emb, v.embedding, p.qn2, v.n2
       |  FROM v JOIN probes p ON v.bucket = p.probe AND v.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |  FROM cand)
       |SELECT query_id, neighbor_id, ${round6Sql("cos_raw")} AS cos_sim
       |FROM scored WHERE cos_raw >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  // --- ann_knn_hotsplit: kNN graph with hot-bucket splitting ------------
  // The scale fix for the LSH self-join's skew residual: bucket
  // population follows the corpus's cluster skew, so even with the
  // plane count sized to the corpus (mean population constant) the
  // hottest buckets carry Σ|bucket|² pair volume far above the mean
  // (probed 20.1× at 16× data under planes ∝ n). Splitting ONLY the
  // hot buckets bounds every join group: a bucket with population
  // `pop` > `cap` gets a secondary hyperplane signature (the next
  // planes of the same seed-42 family) truncated to
  // d = ceil(log2(pop/cap)) bits — computed with integer threshold
  // compares, never a floating log — so every sub-bucket population
  // lands near `cap` and per-vector candidates are ~2·cap regardless
  // of skew. Recall across sub-bucket boundaries is recovered by
  // Hamming-1 multiprobe over the ACTIVE bits: each query probes its
  // home sub-bucket plus every single-bit flip of the d active planes
  // (d+1 probes), so a near-neighbor is lost only when ≥2 secondary
  // signs disagree — and close vectors agree on confident planes.
  // Pair volume is ≤ ~(d_max+1)·cap·n, i.e. linear in the corpus with
  // a log(skew) factor, BY CONSTRUCTION, not by distributional luck.
  // Cold buckets (d = 0) are untouched — identical candidates to
  // ann_knn_graph.
  //
  // Everything replays in the oracle: populations are exact counts
  // (a window count in the SQL twin), depth thresholds are integer
  // compares, and the secondary dots are two-phase — codegen'd
  // vec_dot in the scan, exact-decimal recompute ONLY where an active
  // sign bit is ambiguous (|fast| < SignEps), which provably
  // reproduces the exact-everywhere signs the DuckDB twin computes.

  // cap 12 so the driver's sf0.01 gate (max bucket pop 16 there)
  // actually exercises split + probe decisions; a deployment sizes the
  // cap to what one executor comfortably self-joins (e.g. 10^4).
  // Recall vs the unsplit graph is the cap's price (measured: 1.0 at
  // sf0.01, 0.85 at sf0.1 where the cap sits at ~1/3 of mean bucket
  // population — a deployment cap sits in the skew TAIL, where the
  // only affected buckets are the ones that would straggle anyway)
  private val HotCap = 12

  /** Sub-plane budget ∝ plane count: maxSub = p/2 + 1 (4 at the
    * derived 6 planes, 6 at the probe corpus's 10) — the deepest split
    * a bucket can need grows with log(skew), which the plane-count
    * derivation already ties to log(n). Bounded by the embedded
    * secondary family ([[MaxPlanes]]/2 + 1 = 9 planes). */
  private[operators] def maxSubFor(nPlanes: Int): Int = nPlanes / 2 + 1

  /** Secondary (split) hyperplanes: an INDEPENDENT deterministic
    * family (seed 43) — independent of the primary count, so the
    * oracle can embed it as fixed literals while the primary count is
    * corpus-derived. (Independence from the primary family is all the
    * split needs; sharing seed 42's tail would re-tie the secondary
    * literals to the derived primary count.) */
  private def gaussianPlanesSec(n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(43)
    Array.fill(n)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** Hot-split kNN graph at explicit parameters; the registry entry
    * derives planes from the corpus ([[derivedPlanes]]) with cap 12
    * and maxSub = [[maxSubFor]](planes), all replayed by the oracle's
    * `pp` CTE. ScaleProbe's `ann_knn_graph@hotSplit` row pins explicit
    * parameterizations for the contrast. At 100 TB, `cap` is the knob
    * that bounds the self-join group size no matter how skewed the
    * embedding space is. */
  def knnGraphHotSplitAt(s: SparkSession, dir: String, nPlanes: Int,
      cap: Int = HotCap, maxSub0: Int = 0): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val maxSub = if (maxSub0 <= 0) maxSubFor(nPlanes) else maxSub0
    val primary = gaussianPlanes(nPlanes)
    val secondary = gaussianPlanesSec(maxSub)
    // memoize: v0 feeds the population count AND the join frame below
    // (AQE does not collapse twin branches) — the primary plane dots
    // must run once, not once per consumer
    val v0 = withNorm2(Tables.embeddings(s, dir))
      .withColumn("bucket", bucketColFor(col("embedding"), primary))
      .transform(graft.functions.memoize)
    // bucket populations: ≤ 2^nPlanes rows — broadcast back to the scan
    val pops = v0.groupBy("bucket").agg(count(lit(1)).as("pop"))
    // split depth d = ceil(log2(pop/cap)) via integer thresholds
    val dCol = (0 until maxSub)
      .map(k => when(col("pop") > (cap.toLong << k), 1).otherwise(0))
      .reduce(_ + _)
    // two-phase secondary sign bits: only signs matter (no argmin —
    // the probe set is ALL Hamming-1 flips, not a least-confident
    // pick), so the exact recompute triggers only on |fast| < SignEps
    val subKey = secondary.zipWithIndex.map { case (pl, i) =>
      val plLit = typedLit(pl.toSeq)
      val fast = vec_dot(col("embedding"), plLit)
      val sd = when(abs(fast) < SignEps, vec_dot_exact(col("embedding"), plLit))
        .otherwise(fast)
      when(col("d") > i && sd > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    // memoize again: v (with the maxSub secondary plane dots) feeds
    // BOTH self-join sides — without it the secondary dots run twice
    val v = v0.join(broadcast(pops), "bucket")
      .withColumn("d", dCol)
      .withColumn("sub", subKey)
      .select("vec_id", "embedding", "n2", "bucket", "sub", "d")
      .transform(graft.functions.memoize)
    // probes: home sub-bucket + every single-bit flip of the d active
    // planes (an array literal per possible depth — d ≤ maxSub)
    val probeArr = (1 to maxSub).foldLeft(
        when(col("d") === 0, array(col("sub")))) { (acc, dd) =>
      acc.when(col("d") === dd,
        array(col("sub") +: (0 until dd).map(i =>
          col("sub").bitwiseXOR(lit(1 << i))): _*))
    }
    val q = v.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("n2").as("qn2"),
        col("bucket").as("q_bucket"),
        explode(probeArr).as("probe"))
    val pairs = v.join(q,
        col("bucket") === col("q_bucket") && col("sub") === col("probe") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, KnnK)
  }

  private def annKnnHotsplit(s: SparkSession, dir: String): DataFrame =
    knnGraphHotSplitAt(s, dir, derivedPlanes(s, dir))

  /** Largest maxSub the oracle embeds: [[maxSubFor]] at [[MaxPlanes]]. */
  private val MaxSubEmbedded = maxSubFor(MaxPlanes)

  private val annKnnHotsplitSql: String = {
    val dExpr = (0 until MaxSubEmbedded)
      .map(k => s"(CASE WHEN $k < (SELECT ms FROM ppm) AND pop > ${HotCap.toLong << k} THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    // no ms mask needed: d ≤ ms by construction, so terms with i ≥ ms
    // are dead through d > i in both engines
    val subExpr = (0 until MaxSubEmbedded)
      .map(i => s"(CASE WHEN d > $i AND sd$i > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val probeExpr = (1 to MaxSubEmbedded).map { dd =>
      val flips = (0 until dd).map(i => s"xor(sub, ${1 << i})").mkString(", ")
      s"WHEN $dd THEN [sub, $flips]"
    }.mkString("CASE d WHEN 0 THEN [sub] ", " ", " END")
    s"""WITH $planesParamCte,
       |ppm AS (SELECT pl, CAST(pl // 2 + 1 AS INTEGER) AS ms FROM pp),
       |v0 AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         ${planeDotsSql(gaussianPlanes(MaxPlanes), "pd")},
       |         ${planeDotsSql(gaussianPlanesSec(MaxSubEmbedded), "sd")}
       |  FROM embeddings),
       |vb AS (
       |  SELECT *, ${maskedBucketSql("pd")} AS bucket FROM v0),
       |v1 AS (
       |  SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS pop FROM vb),
       |v2 AS (SELECT *, $dExpr AS d FROM v1),
       |v AS (SELECT vec_id, embedding, n2, bucket, d, $subExpr AS sub FROM v2),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS qn2,
       |         bucket AS q_bucket,
       |         unnest($probeExpr) AS probe
       |  FROM v),
       |cand AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         p.q_emb, v.embedding, p.qn2, v.n2
       |  FROM v JOIN probes p
       |    ON v.bucket = p.q_bucket AND v.sub = p.probe
       |   AND v.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- ann_knn_hotprobe: hotsplit × multiprobe, the production default --
  // ann_knn_hotsplit bounds every self-join group under cluster skew;
  // ann_knn_multiprobe recovers recall across the primary boundary a
  // query most plausibly sits on — but through round 8 no op did both.
  // Composed candidate set: each query probes TWO primary buckets
  // (home + the least-confident-plane flip, multiprobe's jstar) and,
  // INSIDE each probed bucket, hotsplit's sub-bucket probe set at that
  // bucket's OWN split depth — the query's secondary sign bits are
  // bucket-independent, so probing a foreign bucket just re-masks them
  // to its depth (sub = ssig & (2^d − 1)) and flips each active bit.
  // The home-bucket half IS hotsplit's candidate set (superset by
  // construction ⇒ rank-1 cosine can only improve); the flipped half
  // restores multiprobe's boundary recall while staying bounded by the
  // foreign bucket's own split depth. Pair volume ≤ 2·(d_max+1)·cap·n
  // — linear with a log(skew) factor, like hotsplit, at ≤2× its
  // constant. No pair dedup needed: the two primary probes always
  // differ, a neighbor has exactly one home (bucket, sub), and the
  // sub probes within one bucket are distinct values.
  // All decisions replay in the oracle: masked-plane argmin with a
  // 1e300 sentinel outside the derived count, integer depth/sub/flip
  // arithmetic, two-phase exact dots (containment arguments as in the
  // two components).

  /** Composed hot-split × multi-probe kNN graph at explicit
    * parameters; the registry entry derives planes from the corpus.
    * At 100 TB this is the serve-path default: skew-bounded join
    * groups AND boundary recall, one query-side explode of
    * ≤ 2·(maxSub+1) probes. */
  def knnGraphHotProbeAt(s: SparkSession, dir: String, nPlanes: Int,
      cap: Int = HotCap, maxSub0: Int = 0): DataFrame =
    knnGraphHotProbeOver(withNorm2(Tables.embeddings(s, dir)),
      nPlanes, cap, maxSub0)

  /** The hotprobe build core over any withNorm2'd frame — shared by
    * the registry op above and the CAPPED graph-index bootstrap
    * ([[knnEdgesCappedOver]]), the same At/Over split as
    * [[knnEdgesOver]]. */
  private[graft] def knnGraphHotProbeOver(vn: DataFrame,
      nPlanes: Int, cap: Int = HotCap, maxSub0: Int = 0): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val maxSub = if (maxSub0 <= 0) maxSubFor(nPlanes) else maxSub0
    val primary = gaussianPlanes(nPlanes)
    val secondary = gaussianPlanesSec(maxSub)
    // primary dots with VALUES (two-phase exact set — containment
    // proof at annKnnMultiprobe): bucket signs AND the jstar argmin
    val fasts = primary.zipWithIndex.map { case (pl, i) =>
      vec_dot(col("embedding"), typedLit(pl.toSeq)).as(s"f$i")
    }
    val minAbsFast = least(primary.indices.map(i => abs(col(s"f$i"))): _*)
    val dots = primary.zipWithIndex.map { case (pl, i) =>
      when(abs(col(s"f$i")) < minAbsFast + SignEps,
        vec_dot_exact(col("embedding"), typedLit(pl.toSeq)))
        .otherwise(col(s"f$i")).as(s"d$i")
    }
    val v0 = vn
      .select(col("*") +: fasts: _*)
      .select((col("vec_id") +: col("embedding") +: col("n2") +: dots): _*)
    val bucket = primary.indices.map(i =>
      when(col(s"d$i") > 0, lit(1 << i)).otherwise(lit(0))).reduce(_ + _)
    val minAbs = least(primary.indices.map(i => abs(col(s"d$i"))): _*)
    val jstar = primary.indices.tail.foldLeft(
        when(abs(col("d0")) === minAbs, lit(0))) { (acc, i) =>
      acc.when(abs(col(s"d$i")) === minAbs, lit(i))
    }
    // full secondary sign bits, unmasked — per-vector and
    // bucket-independent (depth masking happens per probed bucket)
    val ssig = secondary.zipWithIndex.map { case (pl, i) =>
      val plLit = typedLit(pl.toSeq)
      val fast = vec_dot(col("embedding"), plLit)
      val sd = when(abs(fast) < SignEps, vec_dot_exact(col("embedding"), plLit))
        .otherwise(fast)
      when(sd > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    // memoize: vAll (primary dots + jstar argmin + secondary ssig — all
    // the heavy per-vector work) feeds THREE consumers: the population
    // count, the corpus join side, and the query side. AQE does not
    // collapse twin branches, so without this the dot pass runs 3x.
    val vAll = v0.withColumn("bucket", bucket).withColumn("jstar", jstar)
      .withColumn("ssig", ssig)
      .select("vec_id", "embedding", "n2", "bucket", "jstar", "ssig")
      .transform(graft.functions.memoize)
    // bucket populations → split depths: ≤ 2^nPlanes rows, broadcast
    val pops = vAll.groupBy("bucket").agg(count(lit(1)).as("pop"))
    val dCol = (0 until maxSub)
      .map(k => when(col("pop") > (cap.toLong << k), 1).otherwise(0))
      .reduce(_ + _)
    val depths = pops.select(col("bucket"), dCol.as("d"))
    // corpus side: home sub-key at the home bucket's depth
    val v = vAll.join(broadcast(depths), "bucket")
      .withColumn("sub", col("ssig").bitwiseAND(expr("shiftleft(1, d) - 1")))
      .select("vec_id", "embedding", "n2", "bucket", "sub")
    // query side: two primary probes, each re-masked to the PROBED
    // bucket's depth (inner join on depths — an unpopulated flip
    // bucket has no candidates to lose)
    val qp = vAll.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("n2").as("qn2"),
      col("ssig").as("q_ssig"),
      explode(array(col("bucket"),
        col("bucket").bitwiseXOR(expr("shiftleft(1, jstar)")))).as("pbucket"))
    val q1 = qp.join(
        broadcast(depths.select(col("bucket").as("pbucket"), col("d").as("pd"))),
        "pbucket")
      .withColumn("qsub", col("q_ssig").bitwiseAND(expr("shiftleft(1, pd) - 1")))
    val probeArr = (1 to maxSub).foldLeft(
        when(col("pd") === 0, array(col("qsub")))) { (acc, dd) =>
      acc.when(col("pd") === dd,
        array(col("qsub") +: (0 until dd).map(i =>
          col("qsub").bitwiseXOR(lit(1 << i))): _*))
    }
    val q = q1.select(col("query_id"), col("q_emb"), col("qn2"),
      col("pbucket"), explode(probeArr).as("probe"))
    val pairs = v.join(q,
        col("bucket") === col("pbucket") && col("sub") === col("probe") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, KnnK)
  }

  private def annKnnHotprobe(s: SparkSession, dir: String): DataFrame =
    knnGraphHotProbeAt(s, dir, derivedPlanes(s, dir))

  /** The hotprobe kNN CTE chain through `ranked` (rank over every
    * scored candidate; the op's own top-[[KnnK]] filter happens in the
    * consumer) — shared by [[annKnnHotprobeSql]] and the CAPPED
    * graph-index replay ([[annGraphSearchSql]] symmetrizes
    * `ranked WHERE rank <= KnnK` into its walk edges, mirroring
    * [[knnEdgesCappedOver]]). */
  private val hotprobeCtes: String = {
    val dExpr = (0 until MaxSubEmbedded)
      .map(k => s"(CASE WHEN $k < (SELECT ms FROM ppm) AND pop > ${HotCap.toLong << k} THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    // masked |pd_i| with a 1e300 sentinel outside the derived plane
    // count — NULL-free so LEAST and the tie-to-lowest-index CASE
    // chain replay Spark's argmin over exactly the derived planes
    def mAbs(i: Int) =
      s"(CASE WHEN $i < (SELECT pl FROM pp) THEN abs(pd$i) ELSE 1e300 END)"
    val mExpr = s"LEAST(${(0 until MaxPlanes).map(mAbs).mkString(", ")})"
    val jstarExpr = (0 until MaxPlanes).map(i => s"WHEN ${mAbs(i)} = m THEN $i")
      .mkString("CASE ", " ", " END")
    val ssigExpr = (0 until MaxSubEmbedded)
      .map(i => s"(CASE WHEN $i < (SELECT ms FROM ppm) AND sd$i > 0 THEN ${1 << i} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val probeExpr = (1 to MaxSubEmbedded).map { dd =>
      val flips = (0 until dd).map(i => s"xor(qsub, ${1 << i})").mkString(", ")
      s"WHEN $dd THEN [qsub, $flips]"
    }.mkString("CASE pd WHEN 0 THEN [qsub] ", " ", " END")
    s"""$planesParamCte,
       |ppm AS (SELECT pl, CAST(pl // 2 + 1 AS INTEGER) AS ms FROM pp),
       |v0 AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         ${planeDotsSql(gaussianPlanes(MaxPlanes), "pd")},
       |         ${planeDotsSql(gaussianPlanesSec(MaxSubEmbedded), "sd")}
       |  FROM embeddings),
       |vb AS (
       |  SELECT *, ${maskedBucketSql("pd")} AS bucket, $ssigExpr AS ssig
       |  FROM v0),
       |vj AS (
       |  SELECT *, $jstarExpr AS jstar
       |  FROM (SELECT *, $mExpr AS m FROM vb)),
       |v1 AS (SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS pop FROM vj),
       |v2 AS (SELECT *, $dExpr AS d FROM v1),
       |-- MATERIALIZED (§4 convention): v is referenced by depths, qp,
       |-- cand AND per-hop by the graph-walk oracle built on this chain
       |-- — DuckDB re-evaluates a plain CTE per reference (each one
       |-- re-opening the parquet and re-running 25 plane dots per row;
       |-- the walk's 6 hops blew the open-file limit)
       |v AS MATERIALIZED (
       |  SELECT vec_id, embedding, n2, bucket, jstar, ssig, d,
       |         (ssig & ((1 << d) - 1)) AS sub
       |  FROM v2),
       |depths AS (SELECT bucket, ANY_VALUE(d) AS d FROM v GROUP BY bucket),
       |qp AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS qn2,
       |         ssig AS q_ssig,
       |         unnest([bucket, xor(bucket, 1 << jstar)]) AS pbucket
       |  FROM v),
       |q1 AS (
       |  SELECT qp.*, dp.d AS pd, (q_ssig & ((1 << dp.d) - 1)) AS qsub
       |  FROM qp JOIN depths dp ON dp.bucket = qp.pbucket),
       |probes AS (
       |  SELECT query_id, q_emb, qn2, pbucket, unnest($probeExpr) AS probe
       |  FROM q1),
       |cand AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         p.q_emb, v.embedding, p.qn2, v.n2
       |  FROM v JOIN probes p
       |    ON v.bucket = p.pbucket AND v.sub = p.probe
       |   AND v.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |  FROM cand),
       |ranked AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)""".stripMargin
  }

  private val annKnnHotprobeSql: String =
    s"""WITH $hotprobeCtes
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin

  // --- ann_graph_search: beam search over the kNN graph ----------------
  // The serve primitive of graph ANN indexes (HNSW/NSG/DiskANN
  // lineage): answer queries by WALKING a prebuilt neighbor graph
  // instead of scanning buckets or posting lists — per query the search
  // touches O(beam · degree · hops) vectors no matter how big the
  // corpus is, which is why graph indexes dominate the
  // high-recall/low-latency regime. The index graph is the CAPPED
  // (hotprobe-bootstrap) kNN graph with links SYMMETRIZED (HNSW's
  // insert adds the reverse edge) — the exact edge set the maintained
  // graph lake bootstraps from (graphIndexInit(capped = true)), so the
  // batch op, the lake, and the recall report all audit ONE production
  // serve path. Why capped (round 15): the plain multiprobe bootstrap's
  // pair volume is Σ|bucket|² under cluster skew — at ×64 its biggest
  // LSH-bucket self-join concentrated into a single 57-CPU-min reducer
  // task (PROBE_r14), which made ann_recall_report (whose graph row
  // audits this op) unsafe to probe past ×16; the hotprobe bootstrap
  // bounds every join group to ~[[bootstrapCapFor]] by construction
  // (≤ 2·(d+1)·cap·n pairs — linear with a log(skew) factor). Why
  // multiprobe-STYLE at all: the single-probe graph's edges never
  // leave an LSH bucket, so its components are bucket-local islands
  // and a walk can't reach a neighbor the home bucket missed
  // (measured: 0.1 precision vs exact top-5); boundary-crossing edges
  // (the jstar flip probe, which hotprobe keeps) stitch buckets into
  // large components, and reverse links make in-bucket coverage
  // independent of edge direction. The plain multiprobe edge set
  // remains measurable as the deliberate UNCAPPED baseline via
  // ann_knn_graph / ann_knn_multiprobe and ScaleProbe's
  // graph_edges@plain exhibit. The edge set is BUILD STATE — memoized
  // like the IVF/PQ indexes, invalidated with the lake's re-ANALYZE
  // hook. The query-time walk: route to an entry point (the query's
  // LSH home bucket's lowest vec_id — the coarse-routing layer a
  // hierarchical index provides), then [[SearchHops]] rounds of
  // expand-score-prune with beam width [[SearchBeam]]. Every round is
  // one bounded join (beam × degree edges) + one exact-decimal
  // scoring pass + one per-query top-B window — all deterministic
  // (decimal cosines, vec_id tiebreaks), so the DuckDB oracle replays
  // the walk hop by hop as unrolled CTEs over the shared
  // [[hotprobeCtes]] edge chain. Scale shape: the frontier never
  // exceeds |Q|·beam·(1 + degree) rows, queries broadcast, and the
  // only corpus-sized access is the per-hop id-equijoin fetching
  // candidate vectors.

  // Constant sweep on the sf0.001 corpus (numpy replay of the oracle's
  // walk): (hops=3, beam=8) → 0.27 precision-vs-exact-top-5, (4, 16) →
  // 0.70, (6, 32) → 0.90 with saturation beyond (8, 32) = 0.90 — the
  // greedy walk's local-optimum ceiling, the published HNSW ef-search
  // tradeoff in miniature. Per-query cost stays beam·(1+degree)·hops
  // ≈ 1.3k scored candidates — independent of corpus size.
  private val SearchBeam = 32
  private val SearchHops = 6

  /** The memoized symmetrized CAPPED kNN edge set (src, dst) — the
    * graph index's adjacency list ([[knnEdgesCappedOver]], the same
    * skew-bounded bootstrap the maintained lake uses). Built once per
    * (application, corpus); at scale a parquet table maintained beside
    * the lake like the IVF index. */
  def knnEdgesCapped(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "knn_edges") {
      knnEdgesCappedOver(withNorm2(Tables.embeddings(s, dir)),
        derivedPlanes(s, dir)).transform(graft.functions.memoize)
    }

  /** Symmetrized PLAIN-multiprobe kNN edges over any withNorm2'd
    * frame — the deliberately-UNCAPPED baseline edge build (skew-
    * quadratic pair volume; see the capped contrast at
    * [[knnEdgesCappedOver]] and ScaleProbe's graph_edges@plain
    * exhibit), kept for [[graft.streaming.StreamingJobs
    * .graphIndexInit]]'s capped=false leg and measurement. */
  private[graft] def knnEdgesOver(vn: DataFrame): DataFrame = {
    val g = knnMultiprobeOver(vn)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** The capped bootstrap's candidate cap, DERIVED rather than pinned:
    * the derivation runs through the cost model, not the corpus count.
    * Pair volume per vector is 2·(d+1)·cap with split depth
    * d ≈ log2(pop/cap), so ∂pairs/∂cap > 0 whenever pop ≳ 1.36·cap —
    * a smaller cap is strictly cheaper at EVERY corpus size, and scale
    * growth is absorbed logarithmically by d (the plane count, the
    * family's genuinely corpus-sized parameter, already derives from
    * the TableStats ledger via [[derivedPlanes]]). The floor is the
    * QUALITY bound: ≥ 4 scored candidates per returned edge, the same
    * margin [[HotCap]] pins for the hotprobe registry op (whose
    * recall-dominance over hotsplit is spec-pinned). */
  private[graft] def bootstrapCapFor(k: Int): Int = 4 * k

  /** Capped (skew-bounded) graph-index bootstrap edges: the
    * symmetrized HOTPROBE kNN graph instead of the plain-multiprobe
    * one. The plain bootstrap's pair volume is Σ|bucket|² under the
    * corpus's cluster skew — measured 45× at ×16 data where mean
    * occupancy is flat (PROBE_r11 @build 92×/87× at 128/1024-wide
    * shuffles: width is not the constraint, pair skew is). Hotprobe
    * bounds every join group to ~cap by construction (≤ 2·(d+1)·cap·n
    * pairs), so the bootstrap inherits the serve path's linear-with-
    * log(skew) shape; the price is the cap's recall on edge quality
    * (hotprobe ⊇ hotsplit candidates, recall-dominance spec-pinned),
    * recovered at serve time by the walk's beam expansion. At 100 TB
    * `cap` is the knob that makes the bootstrap schedulable at all —
    * sized by [[bootstrapCapFor]] from the graph degree. */
  private[graft] def knnEdgesCappedOver(vn: DataFrame,
      nPlanes: Int, cap: Int = bootstrapCapFor(KnnK)): DataFrame = {
    val g = knnGraphHotProbeOver(vn, nPlanes, cap)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** Attach the LSH home bucket (the walk's coarse-routing layer). */
  private[graft] def withBucket(vn: DataFrame): DataFrame =
    vn.withColumn("bucket", bucketCol(col("embedding")))

  /** The beam-search walk over a prebuilt neighbor graph — the graph
    * index's SERVE core, shared by the registry op and the maintained
    * index lake ([[graft.streaming.StreamingJobs.graphIndexSearch]],
    * whose APPEND path is also this walk — HNSW's insert-by-search).
    * `corpus` carries (vec_id, embedding, n2); `edges` (src, dst);
    * `entry` (query_id, node) the per-query walk start; `q`
    * (query_id, q_emb, qn2). [[SearchHops]] rounds of
    * expand-score-prune with beam width [[SearchBeam]]; every round is
    * one bounded join (beam × degree edges) + one exact-decimal
    * scoring pass + one per-query top-B window — all deterministic
    * (decimal cosines, vec_id tiebreaks). The frontier never exceeds
    * |Q|·beam·(1 + degree) rows, queries broadcast, and the only
    * corpus-sized access is the per-hop id-equijoin fetching candidate
    * vectors. */
  private[graft] def graphWalk(corpus: DataFrame, edges: DataFrame,
      entry: DataFrame, q: DataFrame, k: Int): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot_exact
    def scoreNodes(nodes: DataFrame): DataFrame =
      nodes.join(corpus, col("node") === col("vec_id"))
        .join(broadcast(q.select("query_id", "q_emb", "qn2")), "query_id")
        .select(col("query_id"), col("node"),
          cosine(vec_dot_exact(col("q_emb"), col("embedding")),
            col("qn2"), col("n2")).as("cos_raw"))
    val bw = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("node"))
    var beam = scoreNodes(entry)
    for (h <- 1 to SearchHops) {
      val expand = beam.join(edges, col("node") === col("src"))
        .filter(col("dst") =!= col("query_id"))
        .select(col("query_id"), col("dst").as("node"))
      // kept beam rows carry their score; only NEW nodes touch the
      // corpus. Identical (query, node) rows score identically on
      // every path, so the max-merge is a pure dedup.
      val cand = beam.select("query_id", "node", "cos_raw")
        .unionByName(scoreNodes(expand))
        .groupBy("query_id", "node").agg(max("cos_raw").as("cos_raw"))
      // lineage truncation every other round (the dedup_clusters/
      // pagerank convention): without it 6 rounds of
      // join+union+agg+window nest into one plan Catalyst re-optimizes
      // end-to-end (measured 12.6 s → 3.0 s at sf0.1); the beam is
      // |Q|·32 rows, so the checkpoint itself is free
      beam = cand.withColumn("r", row_number().over(bw))
        .filter(col("r") <= SearchBeam)
        .select("query_id", "node", "cos_raw")
      if (h % 2 == 0 && h < SearchHops) beam = beam.transform(graft.functions.memoize)
    }
    beam.withColumn("rank", row_number().over(bw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("node").as("neighbor_id"), col("rank"),
        round6(col("cos_raw")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  private def annGraphSearch(s: SparkSession, dir: String): DataFrame = {
    val v = withBucket(withNorm2(Tables.embeddings(s, dir)))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("bucket").as("q_bucket"))
    // entry point: the home bucket's lowest corpus id (never the query
    // itself — a member query must WALK to its neighbors, not read its
    // own adjacency row)
    val entry = v.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .groupBy("query_id").agg(min("vec_id").as("node"))
    graphWalk(v.select("vec_id", "embedding", "n2"), knnEdgesCapped(s, dir),
      entry, q.select("query_id", "q_emb", "qn2"), KnnK)
  }

  private val annGraphSearchSql: String = {
    def cosSql(qe: String, ne: String, qn: String, nn: String) =
      s"${ddotSql(qe, ne)} / (sqrt($qn) * sqrt($nn))"
    val hops = (1 to SearchHops).map { h =>
      s"""e$h AS (
         |  SELECT query_id, node, max(cos_raw) AS cos_raw FROM (
         |    SELECT query_id, node, cos_raw FROM b${h - 1}
         |    UNION ALL
         |    SELECT b.query_id, e.dst AS node,
         |           ${cosSql("q.q_emb", "n.embedding", "q.qn2", "n.n2")} AS cos_raw
         |    FROM b${h - 1} b JOIN edges e ON e.src = b.node
         |    JOIN v n ON n.vec_id = e.dst
         |    JOIN q ON q.query_id = b.query_id
         |    WHERE e.dst <> b.query_id)
         |  GROUP BY 1, 2),
         |b$h AS (
         |  SELECT query_id, node, cos_raw FROM (
         |    SELECT query_id, node, cos_raw,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY cos_raw DESC, node) AS r
         |    FROM e$h) WHERE r <= $SearchBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $hotprobeCtes,
       |edges AS MATERIALIZED (
       |  SELECT query_id AS src, neighbor_id AS dst FROM ranked WHERE rank <= $KnnK
       |  UNION
       |  SELECT neighbor_id, query_id FROM ranked WHERE rank <= $KnnK),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, n2 AS qn2,
       |         bucket AS q_bucket
       |  FROM v WHERE vec_id < $AnnPanel),
       |f0 AS (
       |  SELECT q.query_id, min(v.vec_id) AS node
       |  FROM q JOIN v ON v.bucket = q.q_bucket AND v.vec_id <> q.query_id
       |  GROUP BY 1),
       |b0 AS (
       |  SELECT f0.query_id, f0.node,
       |         ${cosSql("q.q_emb", "n.embedding", "q.qn2", "n.n2")} AS cos_raw
       |  FROM f0 JOIN v n ON n.vec_id = f0.node
       |  JOIN q ON q.query_id = f0.query_id),
       |$hops
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM (
       |  SELECT query_id, node AS neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, node) AS INTEGER) AS rank
       |  FROM b$SearchHops)
       |WHERE rank <= $KnnK
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- ann_ivf_topk -----------------------------------------------------
  // IVF (inverted-file) index: k-means coarse quantizer → vectors
  // assigned to their nearest centroid's posting list → queries probe
  // the 2 nearest lists only. Everything is DataFrame-native: the
  // centroid table is itself a (tiny, broadcast) DataFrame, Lloyd
  // iterations are join+aggregate rounds, and assignment picks
  // max_by(score) over the k candidate centroids — no driver-side
  // vector math, no literal-array codegen blowup. Deterministic:
  // init = the first k vectors by vec_id. Rows-only oracle; recall vs
  // brute force asserted in SimilaritySpec.

  private[operators] val IvfK = 10
  private val IvfProbes = 2
  private val LloydIters = 5

  /** Coarse-quantizer sizing: k = max(IvfK, ceil(n / IvfTargetList)) —
    * mean posting-list (and SemDeDup cluster) length stays ~200 as the
    * corpus grows, which is what keeps IVF probe cost and SemDeDup's
    * Σ|cluster|² pair volume linear in n (the former `@kPropN` probe
    * row, now the default). At the driver sfs (500–2000 vectors) this
    * derives k = 10 — identical to the historical pin — and at the ×16
    * probe corpus it derives 160. The oracle CTEs derive the same k
    * from count(*) (see [[ivfQuantizerCtes]]). */
  private[operators] val IvfTargetList = 200
  private[operators] def ivfKFor(n: Long): Int =
    math.max(IvfK, math.ceil(n / IvfTargetList.toDouble).toInt)

  /** Corpus cardinality via the shared ANALYZE ledger
    * ([[graft.etl.TableStats]]) — the one-row count every
    * corpus-derived capacity (IVF k, LSH plane count) reads.
    * Snapshotted at first use per application (exactly when the
    * derived capacities are fixed); `TableStats.invalidate(dir)`
    * re-ANALYZEs a lake regenerated in-place. */
  private[operators] def embCount(s: SparkSession, dir: String): Long =
    graft.etl.TableStats.rowCount(s, s"$dir#embeddings")(
      Tables.embeddings(s, dir).count())

  /** Corpus-derived coarse-quantizer k (one memoized count — the
    * ANALYZE step of the index build). */
  def derivedIvfK(s: SparkSession, dir: String): Int =
    ivfKFor(embCount(s, dir))

  /** SQL twin of the k derivation: CTE `kp(kk)`. */
  private[operators] val ivfKParamCte =
    s"kp AS (SELECT GREATEST($IvfK, CAST(ceil(count(*) / $IvfTargetList.0) AS BIGINT)) AS kk FROM embeddings)"

  /** score monotone in -||x-c||²: c·x − ||c||²/2 — reduced in
    * DECIMAL(38,12) (exact, order-free) so every argmax the quantizer
    * takes is bit-portable to the DuckDB oracle. The training/
    * assignment volume is sample×k and corpus×k — k rows broadcast —
    * so the interpreted decimal reduction is off the per-pair hot path
    * (which stays two-phase vec_dot in exactTopK). */
  private def centScore(emb: Column, cent: Column, cn2: Column): Column =
    graft.plans.VecDotProduct.vec_dot_exact(emb, cent) - cn2 / 2.0

  private def withCentNorm(cents: DataFrame): DataFrame =
    cents.withColumn("cn2",
      graft.plans.VecDotProduct.vec_dot_exact(col("cent"), col("cent")))

  /** nearest-centroid assignment: broadcast the k-row centroid table,
    * score every (vector, centroid) pair, keep the argmax. Two-phase
    * like [[pqAssign]]: the corpus×k candidate stream is prefiltered by
    * the codegen'd vec_dot — every centroid within a 1e-6 margin of the
    * per-vector fast max survives — and only the survivors get the
    * exact-decimal score that decides the argmax (bit-identical to
    * exact-everywhere: fast-vs-exact drift is ~1e-10 ≪ the margin, so
    * the exact argmax always survives; ties break on cid in both
    * phases) — at k ∝ corpus this is what keeps index builds off the
    * interpreted reduction. */
  private def assign(v: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    val w = Window.partitionBy("vec_id")
    v.crossJoin(broadcast(withCentNorm(cents)))
      .withColumn("fast", vec_dot(col("embedding"), col("cent")) - col("cn2") / 2.0)
      // margin filter, not top-N-by-rank (the repo's 1e-6-margin rule):
      // keep EVERY centroid within 1e-6 of the fast max, so the exact
      // argmax can never hide below a fixed rank cutoff when 3+
      // centroids are near-tied (fast-vs-exact drift is ~1e-10)
      .withColumn("fmax", max(col("fast")).over(w))
      .filter(col("fast") >= col("fmax") - 1e-6)
      .groupBy("vec_id")
      .agg(max_by(col("cid"),
        struct(centScore(col("embedding"), col("cent"), col("cn2")), -col("cid"))).as("list_id"))
  }

  /** k-means training as join+aggregate rounds; centroids never leave
    * the cluster. Trains on a bounded deterministic hash-sample of the
    * corpus (~25%, capped by the sampling ratio — at 100 TB the
    * quantizer quality needs a representative sample, not every
    * vector); assignment of the full corpus stays exact. Every step is
    * engine-portable: md5-prefix sample hash, decimal argmax scores,
    * decimal per-dimension means rounded through double→float — so
    * the DuckDB oracle replays training bit-for-bit. */
  private def trainCentroids(v: DataFrame, k: Int = IvfK): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    // materialized once: every Lloyd round re-reads the sample, not
    // the parquet scan + norm computation behind it
    val sample = v.select(col("vec_id"), col("embedding"))
      .filter(pmod(h32s(col("vec_id").cast(StringType)), lit(4)) === 0 || col("vec_id") < k)
      .transform(graft.functions.memoize)
    var cents = v.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cent"))
      .transform(graft.functions.memoize)
    val tw = Window.partitionBy("vec_id")
    for (_ <- 1 to LloydIters) {
      // argmax carries the vector along, so no re-join with the sample;
      // two-phase (vec_dot margin prefilter → exact decimal) like assign()
      val assigned = sample.crossJoin(broadcast(withCentNorm(cents)))
        .withColumn("fast", vec_dot(col("embedding"), col("cent")) - col("cn2") / 2.0)
        .withColumn("fmax", max(col("fast")).over(tw))
        .filter(col("fast") >= col("fmax") - 1e-6)
        .groupBy("vec_id")
        .agg(
          max_by(col("cid"),
            struct(centScore(col("embedding"), col("cent"), col("cn2")), -col("cid"))).as("list_id"),
          first(col("embedding")).as("embedding"))
      cents = assigned
        .select(col("list_id").as("cid"), posexplode(col("embedding")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        .agg((sum(col("x").cast(DoubleType).cast(DecimalType(38, 12)))
          .cast(DoubleType) / count(lit(1))).as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
          e => e.getField("m").cast("float")).as("cent"))
        .transform(graft.functions.memoize)
    }
    cents
  }

  /** IVF index build is a *maintenance job*, separate from the query
    * path — the architecture every ANN system uses (a quantizer is
    * trained/assigned once per corpus version and served to many
    * queries, like compaction serves many scans; retraining k-means
    * inline per query would be 100 TB of wasted work). The built index
    * (centroid table + posting-list assignment) is materialized via
    * localCheckpoint and memoized per (application, corpus, k) in the
    * build-state store ([[graft.etl.TableStats]]), which the lake's
    * re-ANALYZE flushes like every ANN index; at scale it would be a
    * parquet table maintained alongside the lake.
    *
    * Returns (trained centroid table with norms — the FULL k rows, even a
    * centroid whose posting list ends up empty — and the encoded
    * corpus). Probing must rank over the full table: the oracle's
    * probe CTE ranks over every trained centroid, so deriving the
    * probe set from the index (distinct over members) would silently
    * diverge the candidate sets the moment a list is empty — besides
    * re-scanning the corpus-sized index for a k-row table.
    *
    * `k` defaults to the corpus-derived [[derivedIvfK]] (k ∝ n,
    * constant posting-list length) — what keeps IVF probes and
    * SemDeDup's within-cluster pair volume linear as data grows; pass
    * an explicit k only to pin a configuration (probe exhibits,
    * specs). */
  def buildIvfIndex(s: SparkSession, dir: String, k0: Int = 0): (DataFrame, DataFrame) = {
    val k = if (k0 <= 0) derivedIvfK(s, dir) else k0
    graft.etl.TableStats.build(s, dir, "ivf", k)(
      buildIvfIndexOver(withNorm2(Tables.embeddings(s, dir)), k))
  }

  /** The index build over an arbitrary norm'd corpus frame — the
    * un-memoized core of [[buildIvfIndex]], also the bootstrap of the
    * STREAMING index lake ([[graft.streaming.StreamingJobs.ivfIndexInit]]
    * trains on the base corpus and lands these two frames as parquet
    * tables). `k0 <= 0` derives k from the frame's own count. */
  private[graft] def buildIvfIndexOver(v0: DataFrame, k0: Int = 0): (DataFrame, DataFrame) = {
    val v = v0.transform(graft.functions.memoize)
    val k = if (k0 <= 0) ivfKFor(v.count()) else k0
    val cents = withCentNorm(trainCentroids(v, k)).transform(graft.functions.memoize)
    // one row per vector: posting-list id + centroid geometry columns
    // folded in (cid/cent/cn2 repeated per member keeps the index
    // self-contained for probing)
    val index = v.join(broadcast(assign(v, cents.drop("cn2"))), "vec_id")
      .join(broadcast(cents
        .select(col("cid").as("list_id"), col("cent"), col("cn2"))), "list_id")
      .transform(graft.functions.memoize)
    (cents, index)
  }

  /** Assignment of arbitrary norm'd (vec_id, embedding, ...) rows to a
    * FIXED trained centroid table (no cn2 column) — the serve-side
    * half of the build/serve split. Assignment is per-vector, so the
    * streaming append path is exactly this call on each micro-batch's
    * rows against the unchanged quantizer. */
  private[graft] def assignVectors(v: DataFrame, cents: DataFrame): DataFrame =
    assign(v, cents)

  /** IVF serve path over an explicit (centroids, posting rows) pair:
    * each query probes its [[IvfProbes]] nearest centroid lists, then
    * two-phase exact top-k over the probed lists' members. `index`
    * needs (vec_id, embedding, n2, list_id); extra geometry columns
    * are dropped. Shared by the memoized batch op and the streaming
    * index lake's search. */
  private[graft] def ivfServe(cents: DataFrame,
      index: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val indexed = index.drop("cent", "cn2")
    val pw = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("cid"))
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn("score", centScore(col("q_emb"), col("cent"), col("cn2")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= IvfProbes)
      .select(col("query_id"), col("q_emb"), col("qn2"), col("cid").as("probe"))
    val pairs = indexed.join(broadcast(probes),
        col("list_id") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, k)
  }

  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir))
    val (cents, index) = buildIvfIndex(s, dir)
    val queries = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    ivfServe(cents, index, queries, 5)
  }

  // --- embedding_quantize: int8 scalar quantization --------------------
  // The storage path for a billion-vector index: per-vector min/max
  // range, codes q = floor((x-lo)/step + 0.5) in 0..255, plus the
  // reconstruction-error report (max abs error, MSE). Narrow until one
  // per-vector aggregate; lo/hi come from array_min/array_max before
  // the explode so no self-join re-attaches the range. All arithmetic
  // is IEEE-identical in DuckDB (floor(+0.5) quantization — never
  // engine-specific round()), with the MSE reduced in DECIMAL(38,18)
  // so summation order can't leak in.

  private def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val step = (col("hi") - col("lo")) / 255
    val q = when(col("hi") > col("lo"),
      floor((col("x") - col("lo")) / step + 0.5)).otherwise(0.0)
    val err = when(col("hi") > col("lo"), col("lo") + q * step).otherwise(col("lo")) - col("x")
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        array_min(col("embedding")).cast(DoubleType).as("lo"),
        array_max(col("embedding")).cast(DoubleType).as("hi"),
        posexplode(col("embedding")).as(Seq("d0", "xf")))
      .select(col("vec_id"), col("lo"), col("hi"),
        (col("d0") + 1).cast(IntegerType).as("d"), col("xf").cast(DoubleType).as("x"))
      .groupBy("vec_id")
      .agg(
        sum(q.cast(LongType) * col("d")).as("code_checksum"),
        max(abs(err)).as("maxerr"),
        (sum((err * err).cast(DecimalType(38, 18))).cast(DoubleType) / count(lit(1))).as("mse_raw"))
      .select(col("vec_id"), col("code_checksum"),
        round6(col("maxerr")).as("max_abs_err"),
        (floor(col("mse_raw") * 1e9 + 0.5) / 1e9).as("mse"))
      .orderBy("vec_id")
  }

  private val embeddingQuantizeSql =
    """WITH dims AS (
      |  SELECT vec_id,
      |         CAST(list_min(embedding) AS DOUBLE) AS lo,
      |         CAST(list_max(embedding) AS DOUBLE) AS hi,
      |         CAST(i AS INTEGER) AS d,
      |         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, embedding,
      |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
      |rec AS (
      |  SELECT vec_id, d,
      |         CASE WHEN hi > lo
      |           THEN floor((x - lo) / ((hi - lo) / 255) + 0.5) ELSE 0 END AS q,
      |         (CASE WHEN hi > lo
      |           THEN lo + (CASE WHEN hi > lo
      |             THEN floor((x - lo) / ((hi - lo) / 255) + 0.5) ELSE 0 END) * ((hi - lo) / 255)
      |           ELSE lo END) - x AS err
      |  FROM dims),
      |agg AS (
      |  SELECT vec_id, sum(CAST(q AS BIGINT) * d) AS code_checksum,
      |         max(abs(err)) AS maxerr,
      |         CAST(sum(CAST(err * err AS DECIMAL(38,18))) AS DOUBLE) / count(*) AS mse_raw
      |  FROM rec GROUP BY 1)
      |SELECT vec_id, CAST(code_checksum AS BIGINT) AS code_checksum,
      |       floor(maxerr * 1e6 + 0.5) / 1e6 AS max_abs_err,
      |       floor(mse_raw * 1e9 + 0.5) / 1e9 AS mse
      |FROM agg ORDER BY vec_id""".stripMargin

  // --- embedding_pca: top principal component + projection -------------
  // PCA over the embedding corpus — the whitening/diagnostics pass a
  // curation pipeline runs before ANN indexing and semantic dedup
  // (anisotropic embedding spaces concentrate variance in a few
  // directions; the top component and its explained-variance ratio are
  // the standard health report, and the projection is the 1-D
  // curriculum/binning key). Spark-first decomposition at 100 TB
  // shape:
  //   1. ONE corpus pass builds the d×d second-moment matrix — the
  //      double-posexplode emits n·d² product terms straight into a
  //      hash aggregate keyed by (i,j): the n·d² volume is the
  //      inherent covariance flop count, map-side partials mean only
  //      d² cells per task ever shuffle, and nothing self-joins.
  //   2. Power iteration runs on the d²-row covariance frame itself —
  //      8 rounds of (k-row broadcast join + aggregate), each output a
  //      d-row localCheckpoint. Metadata-scale compute, but kept IN
  //      the engine so the arithmetic is the same decimal-sum /
  //      IEEE-double ops the oracle replays (no driver-side float
  //      loop to mirror bit-for-bit).
  //   3. ONE more corpus pass projects every vector onto the
  //      component (broadcast mean + eigenvector).
  // Every reduction is DECIMAL(38,12) (order-free), every scalar op
  // IEEE double — the DuckDB oracle unrolls the same 8 rounds as
  // MATERIALIZED CTEs and matches bit-for-bit. Sign is pinned by the
  // deterministic all-ones init. Convergence (Var(pc1) ≈ λ ≥ any
  // coordinate variance) is pinned in DedupSpec.

  private val PcaIters = 8

  private def embeddingPca(s: SparkSession, dir: String): DataFrame =
    pcaOver(Tables.embeddings(s, dir), embCount(s, dir))

  /** The distributed (means, covariance) frames — ONE corpus pass for
    * the d×d second-moment matrix. Shared by [[pcaOver]] (power
    * iteration stays in-engine for oracle parity) and the PCA-informed
    * OPQ rotation (which collects the d² cells — metadata-scale — for
    * a driver-side eigendecomposition, the FAISS OPQ-train shape).
    *
    * n·d² product terms, no join and no pre-aggregate shuffle: the
    * second posexplode re-expands the SAME row's vector, so partial
    * aggregation sees every term partition-locally.
    *
    * The reduction is exact FIXED-POINT over longs via
    * [[graft.functions.fsum12]], not decimal: the r13 Micro isolated
    * the moment pass's decimal(38,12) sum at 10.6 s vs 0.3 s for the
    * same sum in double (~30× — every term pays a BigDecimal
    * allocation in the one pass that touches n·d² terms). Same
    * order-free-exact contract as the decimal form; the oracle
    * replays the identical floor/split/sum algebra. */
  private def covFrameOver(v: DataFrame, dims: DataFrame, n: Long)
      : (DataFrame, DataFrame) = {
    val sxx = v
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xif")))
      .select(col("i"), col("xif").cast(DoubleType).as("xi"),
        posexplode(col("embedding")).as(Seq("j", "xjf")))
      .select(col("i"), col("j"),
        (col("xi") * col("xjf").cast(DoubleType)).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(graft.functions.fsum12(col("p")).as("sx"))
    val means = dims.groupBy("i")
      .agg((sum(col("x").cast(DecimalType(38, 12))).cast(DoubleType) / lit(n)).as("m"))
      .transform(graft.functions.memoize)
    // single-consumer since the r17 driver-side eigen rounds: both
    // remaining consumers ([[pcaOver]]/[[whiteningOver]] and the OPQ
    // rotation) collect the d² cells exactly once, so the former
    // multi-consumer memoize here would only add a materialization
    val cov = sxx
      .join(broadcast(means.select(col("i"), col("m").as("mi"))), "i")
      .join(broadcast(means.select(col("i").as("j"), col("m").as("mj"))), "j")
      .select(col("i"), col("j"), (col("sx") / lit(n) - col("mi") * col("mj")).as("c"))
    (means, cov)
  }

  /** Driver-side replica of the engine's decimal-sum matvec algebra
    * (r17 optimization): the power-iteration/deflation rounds operate
    * on the d²-cell covariance — metadata-scale, the OPQ-Jacobi
    * collect precedent — yet as in-engine rounds they cost
    * K·PcaIters·(matvec + norm + checkpoint) SEQUENTIAL Spark jobs of
    * d-row frames: pure job-scheduling overhead at every scale (the
    * corpus passes are unaffected — one moment pass in, one projection
    * pass out). These helpers replay the EXACT arithmetic of the
    * former in-engine rounds so the oracle CTEs still match
    * bit-for-bit: each IEEE-double term is cast to DECIMAL(38,12)
    * exactly as Spark's `Cast(double, DecimalType(38,12))` does
    * (`Double.toString`-based BigDecimal, HALF_UP at scale 12), the
    * sum is exact decimal (order-free, like the engine's decimal Sum),
    * and the result surfaces via `BigDecimal.doubleValue` — the same
    * one-step conversion as `Cast(decimal, double)`. */
  private def dec12(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  private def sumDec12(terms: Iterable[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    val it = terms.iterator
    while (it.hasNext) acc = acc.add(dec12(it.next()))
    acc.doubleValue
  }

  /** u = C·w with the engine's per-term decimal rounding. */
  private def matvecExact(c: Array[Array[Double]], w: Array[Double]): Array[Double] =
    Array.tabulate(c.length)(i => sumDec12(
      (0 until c.length).map(j => c(i)(j) * w(j))))

  /** One power-iteration eigenpair over the collected covariance —
    * the exact driver-side replay of the former in-engine rounds
    * (all-ones init, `iters` matvec+normalize rounds, λ = wᵀCw with
    * per-term decimal rounding). Returns (w, λ). */
  private def powerIterExact(c: Array[Array[Double]], iters: Int)
      : (Array[Double], Double) = {
    var w = Array.fill(c.length)(1.0)
    for (_ <- 1 to iters) {
      val u = matvecExact(c, w)
      val nrm = math.sqrt(sumDec12(u.map(x => x * x)))
      w = u.map(_ / nrm)
    }
    val uf = matvecExact(c, w)
    ((w, sumDec12((0 until c.length).map(i => uf(i) * w(i)))))
  }

  /** Collect the d²-cell covariance frame into a dense driver-side
    * matrix (metadata-scale by construction: d = embedding width). */
  private def collectCov(cov: DataFrame): Array[Array[Double]] = {
    val cells = cov.select("i", "j", "c").collect()
    if (cells.isEmpty) return Array.empty
    // density assumption pinned to covFrameOver's construction: cov is
    // built from posexplode'd dims, so every (i, j) pair is present;
    // size from max over BOTH indices so a sparsified producer fails
    // into zero-filled cells instead of an ArrayIndexOutOfBounds.
    val d = cells.iterator.map(r => math.max(r.getInt(0), r.getInt(1))).max + 1
    val a = Array.fill(d)(new Array[Double](d))
    cells.foreach(r => a(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    a
  }

  /** PCA over any (vec_id, embedding) frame — `iters` parameterized
    * for the spec convergence pins. */
  private[graft] def pcaOver(v: DataFrame, n: Long,
      iters: Int = PcaIters): DataFrame = {
    val dims = v
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast(DoubleType).as("x"))
    val (means, cov) = covFrameOver(v, dims, n)
    // r17: the 8 power-iteration rounds run DRIVER-SIDE on the
    // collected d²-cell covariance (see [[powerIterExact]] — exact
    // replay of the former in-engine decimal rounds, oracle CTEs
    // unchanged and still bit-for-bit). The in-engine form cost
    // iters·(matvec + norm + checkpoint) sequential d-row Spark jobs
    // — measured ~2.5 s of pure scheduling at sf0.1 and the same
    // constant at any corpus scale; the corpus itself is still
    // touched by exactly two passes (moment matrix in covFrameOver,
    // projection below).
    val c = collectCov(cov)
    val (wArr, lam) = powerIterExact(c, iters)
    val tr = sumDec12((0 until c.length).map(i => c(i)(i)))
    val ss = v.sparkSession
    val wDf = ss.createDataFrame((0 until c.length).map(i => (i, wArr(i))))
      .toDF("i", "w")
    dims
      .join(broadcast(means), "i")
      .join(broadcast(wDf), "i")
      .groupBy("vec_id")
      .agg(sum(((col("x") - col("m")) * col("w")).cast(DecimalType(38, 12)))
        .cast(DoubleType).as("p"))
      .select(col("vec_id"), round6(col("p")).as("pc1"),
        round6(lit(lam) / lit(tr)).as("evr"))
      // checkpoint-before-sort (round-12 convention): the global
      // orderBy's range sampling would otherwise re-execute the
      // projection pass
      .transform(graft.functions.memoize)
      .orderBy("vec_id")
  }

  private val embeddingPcaSql: String = {
    val rounds = (1 to PcaIters).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""u$r AS MATERIALIZED (
         |  SELECT c.i, CAST(sum(CAST(c.c * w.w AS DECIMAL(38,12))) AS DOUBLE) AS u
         |  FROM cov c JOIN $prev w ON w.i = c.j GROUP BY c.i),
         |n$r AS MATERIALIZED (
         |  SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM u$r),
         |w$r AS MATERIALIZED (
         |  SELECT i, u / (SELECT nrm FROM n$r) AS w FROM u$r)""".stripMargin
    }.mkString(",\n")
    val wf = s"w$PcaIters"
    s"""WITH dims AS MATERIALIZED (
       |  SELECT vec_id, CAST(i AS INTEGER) AS i,
       |         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |m AS MATERIALIZED (
       |  SELECT i, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / (SELECT n FROM nn) AS m
       |  FROM dims GROUP BY i),
       |sxx AS MATERIALIZED (
       |  -- exact fixed-point long reduction — replays fsum12's algebra
       |  SELECT a.i, b.i AS j, ${graft.functions.fsum12Sql("a.x * b.x")} AS sx
       |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT s.i, s.j, s.sx / (SELECT n FROM nn) - mi.m * mj.m AS c
       |  FROM sxx s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j),
       |w0 AS (SELECT i, 1.0 AS w FROM m),
       |$rounds,
       |uf AS MATERIALIZED (
       |  SELECT c.i, CAST(sum(CAST(c.c * w.w AS DECIMAL(38,12))) AS DOUBLE) AS u
       |  FROM cov c JOIN $wf w ON w.i = c.j GROUP BY c.i),
       |lam AS (
       |  SELECT CAST(sum(CAST(u.u * w.w AS DECIMAL(38,12))) AS DOUBLE) AS lam
       |  FROM uf u JOIN $wf w ON w.i = u.i),
       |tr AS (
       |  SELECT CAST(sum(CAST(c AS DECIMAL(38,12))) AS DOUBLE) AS tr
       |  FROM cov WHERE i = j),
       |proj AS (
       |  SELECT d.vec_id,
       |         CAST(sum(CAST((d.x - m.m) * w.w AS DECIMAL(38,12))) AS DOUBLE) AS p
       |  FROM dims d JOIN m ON m.i = d.i JOIN $wf w ON w.i = d.i
       |  GROUP BY d.vec_id)
       |SELECT vec_id, ${round6Sql("p")} AS pc1,
       |       ${round6Sql("(SELECT lam FROM lam) / (SELECT tr FROM tr)")} AS evr
       |FROM proj ORDER BY vec_id""".stripMargin
  }

  // --- embedding_whitening: top-K whitening transform ------------------
  // Whitening-k (Su et al. 2021, the post-processing simplification of
  // BERT-flow; the same W every ZCA/ITQ/OPQ lineage rotates by):
  // decorrelate and rescale the DOMINANT directions so cosine and
  // euclidean retrieval stop being owned by a few high-variance axes —
  // the standard pre-indexing normalization of anisotropic embedding
  // spaces. Top-[[WhitenK]] eigenpairs by DEFLATED power iteration:
  // K outer rounds of the EXACT pcaOver machinery (8 decimal matvec
  // rounds on the d²-row covariance frame) with the rank-1 deflation
  // C ← C − λ·w·wᵀ between components — metadata-scale d² arithmetic,
  // all in-engine so the oracle replays it (the PCA-informed OPQ
  // rotation keeps its driver-side Jacobi because it is NOT a registry
  // op; this one is, so the eigen-derivation must be CTE-replayable).
  // Output per (vector, component): the centered projection and the
  // whitened coordinate proj/√λ. comp = 1 is BY CONSTRUCTION the same
  // derivation as embedding_pca's pc1 — DedupSpec pins cell equality —
  // and the whitening CLAIM is pinned from the output alone: unit
  // variance per component, cross-component decorrelation, λ monotone.
  // 100 TB shape: one corpus pass for the moment matrix (shared
  // covFrameOver), K·8 metadata-scale matvec rounds, one projection
  // pass joining a broadcast K·d component table.

  private val WhitenK = 4

  private def embeddingWhitening(s: SparkSession, dir: String): DataFrame =
    whiteningOver(Tables.embeddings(s, dir), embCount(s, dir))

  /** The whitening core over any (vec_id, embedding) frame. */
  private[graft] def whiteningOver(v: DataFrame, n: Long): DataFrame = {
    val dims = v
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast(DoubleType).as("x"))
    val (means, cov0) = covFrameOver(v, dims, n)
    // r17: the K·8 deflated power-iteration rounds run DRIVER-SIDE on
    // the collected d²-cell covariance ([[powerIterExact]] — exact
    // replay of the former in-engine decimal rounds; the rank-1
    // deflation C ← C − λ·w·wᵀ is the same left-associated IEEE
    // arithmetic the former `c - lam * wi * wj` column computed, so
    // the oracle CTEs still match bit-for-bit). The in-engine form
    // cost K·(PcaIters·(matvec + norm + checkpoint) + deflation)
    // ≈ 140 sequential d-row/d²-row Spark jobs — measured ~7 s of
    // pure scheduling at sf0.1, the same constant at any corpus
    // scale. Corpus passes are unchanged: ONE moment pass in
    // (covFrameOver), ONE projection pass out (below).
    val c0 = collectCov(cov0)
    val d = c0.length
    val comps = (1 to WhitenK).map { comp =>
      val (w, lam) = powerIterExact(c0, PcaIters)
      if (comp < WhitenK) {
        var i = 0
        while (i < d) {
          var j = 0
          while (j < d) { c0(i)(j) = c0(i)(j) - lam * w(i) * w(j); j += 1 }
          i += 1
        }
      }
      (comp, w, lam)
    }
    val ss = v.sparkSession
    val compsDf = ss.createDataFrame(
      comps.flatMap { case (comp, w, lam) =>
        (0 until d).map(i => (comp, i, w(i), lam)) })
      .toDF("comp", "i", "w", "lam")
    dims
      .join(broadcast(means), "i")
      .join(broadcast(compsDf), "i")
      .groupBy("vec_id", "comp")
      .agg(sum(((col("x") - col("m")) * col("w")).cast(DecimalType(38, 12)))
        .cast(DoubleType).as("p"),
        first(col("lam")).as("lam"))
      .select(col("vec_id"), col("comp"),
        round6(col("p")).as("proj"),
        round6(col("p") / sqrt(col("lam"))).as("whitened"),
        round6(col("lam")).as("lambda"))
      .transform(graft.functions.memoize)
      .orderBy("vec_id", "comp")
  }

  private val embeddingWhiteningSql: String = {
    def compCtes(c: Int): String = {
      val covName = if (c == 1) "cov" else s"cov$c"
      val rounds = (1 to PcaIters).map { r =>
        val prev = if (r == 1) s"w${c}_0" else s"w${c}_${r - 1}"
        s"""u${c}_$r AS MATERIALIZED (
           |  SELECT k.i, CAST(sum(CAST(k.c * w.w AS DECIMAL(38,12))) AS DOUBLE) AS u
           |  FROM $covName k JOIN $prev w ON w.i = k.j GROUP BY k.i),
           |n${c}_$r AS MATERIALIZED (
           |  SELECT sqrt(CAST(sum(CAST(u * u AS DECIMAL(38,12))) AS DOUBLE)) AS nrm FROM u${c}_$r),
           |w${c}_$r AS MATERIALIZED (
           |  SELECT i, u / (SELECT nrm FROM n${c}_$r) AS w FROM u${c}_$r)""".stripMargin
      }.mkString(",\n")
      val wf = s"w${c}_$PcaIters"
      val base =
        s"""w${c}_0 AS (SELECT i, 1.0 AS w FROM m),
           |$rounds,
           |uf$c AS MATERIALIZED (
           |  SELECT k.i, CAST(sum(CAST(k.c * w.w AS DECIMAL(38,12))) AS DOUBLE) AS u
           |  FROM $covName k JOIN $wf w ON w.i = k.j GROUP BY k.i),
           |lam$c AS (
           |  SELECT CAST(sum(CAST(u.u * w.w AS DECIMAL(38,12))) AS DOUBLE) AS lam
           |  FROM uf$c u JOIN $wf w ON w.i = u.i)""".stripMargin
      if (c < WhitenK)
        base + s""",
           |cov${c + 1} AS MATERIALIZED (
           |  SELECT k.i, k.j, k.c - (SELECT lam FROM lam$c) * wi.w * wj.w AS c
           |  FROM $covName k JOIN $wf wi ON wi.i = k.i JOIN $wf wj ON wj.i = k.j)""".stripMargin
      else base
    }
    val projs = (1 to WhitenK).map(c =>
      s"""SELECT d.vec_id, $c AS comp,
         |       CAST(sum(CAST((d.x - m.m) * w.w AS DECIMAL(38,12))) AS DOUBLE) AS p,
         |       (SELECT lam FROM lam$c) AS lam
         |FROM dims d JOIN m ON m.i = d.i JOIN w${c}_$PcaIters w ON w.i = d.i
         |GROUP BY d.vec_id""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH dims AS MATERIALIZED (
       |  SELECT vec_id, CAST(i AS INTEGER) AS i,
       |         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |m AS MATERIALIZED (
       |  SELECT i, CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / (SELECT n FROM nn) AS m
       |  FROM dims GROUP BY i),
       |sxx AS MATERIALIZED (
       |  SELECT a.i, b.i AS j, ${graft.functions.fsum12Sql("a.x * b.x")} AS sx
       |  FROM dims a JOIN dims b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |cov AS MATERIALIZED (
       |  SELECT s.i, s.j, s.sx / (SELECT n FROM nn) - mi.m * mj.m AS c
       |  FROM sxx s JOIN m mi ON mi.i = s.i JOIN m mj ON mj.i = s.j),
       |${(1 to WhitenK).map(compCtes).mkString(",\n")}
       |SELECT vec_id, comp, ${round6Sql("p")} AS proj,
       |       ${round6Sql("p / sqrt(lam)")} AS whitened,
       |       ${round6Sql("lam")} AS lambda
       |FROM ($projs)
       |ORDER BY vec_id, comp""".stripMargin
  }

  // --- contrastive_pairs: training-pair mining -------------------------
  // Deterministic contrastive-dataset construction: per anchor, the
  // hardest positive (nearest same-label neighbor — exact, via the
  // same two-phase vec_dot/decimal top-k as ANN) and 3 hash-probed
  // negatives from other labels. Negative selection is bucket-probed,
  // never a cross join: each (anchor, k) opens ONE hash bucket
  // (corpus/16 of the data) and picks the hash-min candidate, so pair
  // volume is anchors × 3 probes × bucket size — and the expensive
  // decimal cosine runs only on the 4 selected partners per anchor,
  // after the cheap hash rank, not before.

  private val NegProbes = 3
  private val NegBuckets = 16

  private def h32s(c: Column): Column = graft.functions.h32(c)

  private def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val v = withNorm2(Tables.embeddings(s, dir))
      .withColumn("bucket", pmod(h32s(col("vec_id").cast(StringType)), lit(NegBuckets)))
    val anchors = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("a_label"),
        col("embedding").as("q_emb"), col("n2").as("qn2"))
    // hardest positive: exact top-1 within the anchor's label block
    val posPairs = v.join(broadcast(anchors),
        col("label") === col("a_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    val pos = exactTopK(posPairs, 1)
      .select(col("query_id").as("anchor_id"), lit("pos").as("pair_type"),
        lit(0).as("k"), col("neighbor_id").as("partner_id"), col("cos_sim"))
    // negatives: one hash bucket per (anchor, probe), hash-min winner
    val probes = anchors
      .withColumn("k", explode(sequence(lit(1), lit(NegProbes))))
      .withColumn("pb", pmod(
        h32s(concat(col("query_id").cast(StringType), lit(":"), col("k").cast(StringType))),
        lit(NegBuckets)))
    val w = Window.partitionBy("query_id", "k").orderBy(col("pick_h"), col("vec_id"))
    val neg = v.join(broadcast(probes),
        col("bucket") === col("pb") && col("label") =!= col("a_label") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("pick_h", h32s(concat(col("query_id").cast(StringType), lit("/"),
        col("vec_id").cast(StringType))))
      .withColumn(s"${mk}rn", row_number().over(w))
      .filter(col(s"${mk}rn") <= 1)
      .withColumn("cos_raw",
        graft.plans.VecDotProduct.vec_dot_exact(col("q_emb"), col("embedding"))
          / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .select(col("query_id").as("anchor_id"), lit("neg").as("pair_type"),
        col("k"), col("vec_id").as("partner_id"), round6(col("cos_raw")).as("cos_sim"))
    pos.unionByName(neg).orderBy("anchor_id", "pair_type", "k")
  }

  private val contrastivePairsSql = {
    def h32(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
    s"""WITH v AS (
       |  SELECT vec_id, label, embedding, ${norm2Sql("embedding")} AS nn,
       |         ${h32("CAST(vec_id AS VARCHAR)")} % $NegBuckets AS bucket
       |  FROM embeddings),
       |anchors AS (SELECT vec_id AS a_id, label AS a_label, embedding AS a_emb, nn AS a_n2
       |            FROM v WHERE vec_id < 20),
       |pos AS (
       |  SELECT a_id, 'pos' AS pair_type, 0 AS k, vec_id AS partner_id,
       |         ${ddotSql("a_emb", "embedding")} / (sqrt(a_n2) * sqrt(nn)) AS cos_raw,
       |         row_number() OVER (PARTITION BY a_id ORDER BY
       |           ${ddotSql("a_emb", "embedding")} / (sqrt(a_n2) * sqrt(nn)) DESC, vec_id) AS rn
       |  FROM anchors JOIN v ON v.label = a_label AND v.vec_id <> a_id),
       |probes AS (
       |  SELECT a_id, a_label, a_emb, a_n2, k,
       |         ${h32("CAST(a_id AS VARCHAR) || ':' || CAST(k AS VARCHAR)")} % $NegBuckets AS pb
       |  FROM anchors, (SELECT unnest(generate_series(1, $NegProbes)) AS k)),
       |neg AS (
       |  SELECT a_id, 'neg' AS pair_type, k, vec_id AS partner_id,
       |         ${ddotSql("a_emb", "embedding")} / (sqrt(a_n2) * sqrt(nn)) AS cos_raw,
       |         row_number() OVER (PARTITION BY a_id, k ORDER BY
       |           ${h32("CAST(a_id AS VARCHAR) || '/' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
       |  FROM probes JOIN v ON v.bucket = pb AND v.label <> a_label AND v.vec_id <> a_id)
       |SELECT a_id AS anchor_id, pair_type, CAST(k AS INTEGER) AS k, partner_id,
       |       ${round6Sql("cos_raw")} AS cos_sim
       |FROM (SELECT * FROM pos WHERE rn = 1 UNION ALL SELECT * FROM neg WHERE rn = 1)
       |ORDER BY anchor_id, pair_type, k""".stripMargin
  }

  /** Full DuckDB twin of the IVF pipeline, k-means training included:
    * the [[LloydIters]] Lloyd rounds unroll into chained CTEs (one
    * assignment + one centroid-update per round), generated from the
    * same constants the Spark side uses. Bit-parity holds because the
    * quantizer is engine-portable end to end — md5-prefix sample hash,
    * DECIMAL(38,12) argmax scores with the (score DESC, cid) tiebreak,
    * per-dimension means as decimal-sum/count rounded double→float. */
  /** The IVF quantizer's DuckDB replay — `v` (corpus + norms), `samp`,
    * the Lloyd-round CTE chain, and `assigned` (vec_id → list_id) — as
    * a reusable CTE block ending at `assigned`. The final centroid
    * table is CTE [[ivfLastCentCte]]. Shared by [[annIvfSql]] and the
    * SemDeDup oracle in [[Dedup]]. */
  private[operators] val ivfLastCentCte = s"c$LloydIters"

  private[operators] val ivfQuantizerCtes: String = {
    def h32(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
    def score(emb: String, cent: String) =
      s"${ddotSql(emb, cent)} - ${ddotSql(cent, cent)} / 2.0"
    val rounds = (1 to LloydIters).map { r =>
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
         |  FROM (SELECT s.vec_id, s.embedding, c.cid,
         |          ${score("s.embedding", "c.cent")} AS score
         |        FROM samp s CROSS JOIN $prev c)),
         |c$r AS (
         |  SELECT cid, list(CAST(m AS REAL) ORDER BY d) AS cent
         |  FROM (
         |    SELECT cid, CAST(i AS INTEGER) AS d,
         |           CAST(sum(CAST(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
         |             / count(*) AS m
         |    FROM (SELECT cid, embedding,
         |            unnest(generate_series(1, len(embedding))) AS i
         |          FROM a$r WHERE rn = 1)
         |    GROUP BY cid, CAST(i AS INTEGER))
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    s"""v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS nn FROM embeddings),
       |$ivfKParamCte,
       |samp AS (
       |  SELECT vec_id, embedding FROM v
       |  WHERE ${h32("CAST(vec_id AS VARCHAR)")} % 4 = 0 OR vec_id < (SELECT kk FROM kp)),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cent FROM v
       |  WHERE vec_id < (SELECT kk FROM kp)),
       |$rounds,
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${score("v.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $ivfLastCentCte c)
       |  WHERE rn = 1)""".stripMargin
  }

  private val annIvfSql: String = {
    def score(emb: String, cent: String) =
      s"${ddotSql(emb, cent)} - ${ddotSql(cent, cent)} / 2.0"
    val last = ivfLastCentCte
    s"""WITH $ivfQuantizerCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS probe FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${score("v.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $last c WHERE v.vec_id < $AnnPanel)
       |  WHERE rn <= $IvfProbes),
       |scored AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.nn) * sqrt(v.nn)) AS cos_raw
       |  FROM probes p
       |  JOIN assigned a ON a.list_id = p.probe
       |  JOIN v ON v.vec_id = a.vec_id
       |  JOIN v q ON q.vec_id = p.query_id
       |  WHERE v.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- ann_filtered_search: metadata-filtered IVF with adaptive probes -
  // Filtered vector search — top-k restricted to a metadata predicate
  // (here: neighbors from the SAME document source as the query, the
  // within-crawl near-dup hunt) — is the feature every production
  // vector store ships, and its scale hazard is well known: a
  // selective filter post-applied to a fixed probe budget starves the
  // candidate set (most probed-list members fail the predicate), while
  // pre-building one index per predicate value explodes storage. The
  // production-standard middle path, implemented here: ONE shared IVF
  // index, the predicate applied DURING candidate generation (before
  // any scoring — at scale a pushed parquet filter on the posting
  // table's metadata column), and the probe budget widened by the
  // filter's selectivity so the *expected matching candidate count*
  // stays what an unfiltered probe would see:
  //   nprobes(q) = min(ceil(IvfProbes / sel(q)), MaxFilteredProbes)
  // with sel(q) = |source(q)| / n read from a bounded broadcast
  // histogram (20 rows here; at 100 TB, source cardinality — a
  // metadata-scale table by construction). The cap bounds worst-case
  // cost under ultra-selective filters; like every IVF serve, recall
  // is scoped to probed lists (the operator's published contract).
  // Same two-phase exact top-k as every ANN op, and the DuckDB oracle
  // replays quantizer training, the selectivity derivation, and the
  // per-query probe widening bit-for-bit.

  private val MaxFilteredProbes = 8

  /** The filtered serve itself, over an explicit (centroids, metadata'd
    * posting rows, query) triple — shared by the memoized batch op and
    * the maintained IVF lake's serve
    * ([[graft.streaming.StreamingJobs.ivfIndexFilteredSearch]]), so
    * "production serves read the lake" gets the SAME predicate-during-
    * candidate-generation + selectivity-widened probing, not a batch-
    * only feature. `idxMeta` needs (vec_id, embedding, n2, list_id,
    * source) and should be materialized by the caller (three consumers:
    * histogram, probe stream, pair stream); `queries` needs (query_id,
    * q_emb, qn2, q_source). */
  private[graft] def filteredServe(cents: DataFrame,
      idxMeta: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val hist = idxMeta.groupBy("source").agg(count(lit(1)).as("cnt"))
    val tot = hist.agg(sum(col("cnt")).as("n_tot"))
    val widened = queries
      .join(broadcast(hist.withColumnRenamed("source", "q_source")), "q_source")
      .crossJoin(broadcast(tot))
      .withColumn("nprobes", least(
        ceil(lit(IvfProbes).cast(DoubleType)
          / (col("cnt").cast(DoubleType) / col("n_tot"))).cast(IntegerType),
        lit(MaxFilteredProbes)))
    val pw = Window.partitionBy("query_id").orderBy(col("score").desc, col("cid"))
    val probes = widened.crossJoin(broadcast(cents))
      .withColumn("score", centScore(col("q_emb"), col("cent"), col("cn2")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= col("nprobes"))
      .select(col("query_id"), col("q_emb"), col("qn2"), col("q_source"),
        col("cid").as("probe"))
    val pairs = idxMeta.join(broadcast(probes),
        col("list_id") === col("probe") && col("vec_id") =!= col("query_id") &&
        col("source") === col("q_source"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, k)
  }

  private def annFilteredSearch(s: SparkSession, dir: String): DataFrame = {
    val meta = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("source"))
    val (cents, index) = buildIvfIndex(s, dir)
    // posting rows with their metadata column — at scale this is the
    // posting table stored WITH the filterable column, so the
    // predicate prunes before any vector leaves the scan; three
    // consumers (histogram, query panel, pair stream) ⇒ memoize per
    // the AQE non-reuse convention (§5)
    val idxMeta = index.drop("cent", "cn2").join(meta, "vec_id").transform(graft.functions.memoize)
    val queries = idxMeta.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("source").as("q_source"))
    filteredServe(cents, idxMeta, queries)
  }

  private val annFilteredSearchSql: String = {
    def score(emb: String, cent: String) =
      s"${ddotSql(emb, cent)} - ${ddotSql(cent, cent)} / 2.0"
    s"""WITH $ivfQuantizerCtes,
       |meta AS (
       |  SELECT v.vec_id, d.source FROM v
       |  JOIN documents d ON d.doc_id = v.vec_id),
       |hist AS (SELECT source, count(*) AS cnt FROM meta GROUP BY 1),
       |tot AS (SELECT sum(cnt) AS n_tot FROM hist),
       |qset AS (
       |  SELECT v.vec_id AS query_id, m.source AS q_source,
       |         LEAST(CAST(ceil(CAST($IvfProbes AS DOUBLE)
       |           / (CAST(h.cnt AS DOUBLE) / t.n_tot)) AS INTEGER),
       |           $MaxFilteredProbes) AS nprobes
       |  FROM v JOIN meta m ON m.vec_id = v.vec_id
       |  JOIN hist h ON h.source = m.source CROSS JOIN tot t
       |  WHERE v.vec_id < $AnnPanel),
       |probes AS (
       |  SELECT query_id, q_source, cid AS probe FROM (
       |    SELECT q.query_id, q.q_source, q.nprobes, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             ${score("qv.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM qset q JOIN v qv ON qv.vec_id = q.query_id
       |    CROSS JOIN $ivfLastCentCte c)
       |  WHERE rn <= nprobes),
       |scored AS (
       |  SELECT p.query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.nn) * sqrt(v.nn)) AS cos_raw
       |  FROM probes p
       |  JOIN assigned a ON a.list_id = p.probe
       |  JOIN meta m ON m.vec_id = a.vec_id AND m.source = p.q_source
       |  JOIN v ON v.vec_id = a.vec_id
       |  JOIN v q ON q.vec_id = p.query_id
       |  WHERE v.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- ann_pq_topk: product quantization + ADC scoring ----------------
  // The billion-vector serving path: vectors compress to M=8 one-byte
  // codes (one per 8-dim subspace, 16-centroid codebooks → 8 bytes per
  // vector instead of 256), and query scoring becomes 8 lookup-table
  // reads per candidate instead of a 64-dim dot product — the
  // asymmetric-distance (ADC) scan from the FAISS lineage. Spark-first
  // shape: codebook training is the same join+aggregate Lloyd machinery
  // as IVF but grouped by (subspace, centroid) so all 8 codebooks train
  // in ONE DataFrame program; the per-query LUT (8×16 exact-decimal
  // dots) and the codes are bounded structures that broadcast; the ADC
  // sum is 8 codegen'd element_at adds per pair. Two-phase like every
  // ANN op here: ADC-ranked top-[[PrefilterBuffer]] survivors get the
  // exact-decimal rescore. Fully deterministic and engine-portable
  // (md5 sample hash, decimal argmax, decimal means double→float,
  // fixed-order double LUT sums) — the DuckDB oracle replays training,
  // encoding, and the ADC scan bit-for-bit. Recall vs bruteforce
  // pinned in SimilaritySpec.

  private val PqM = 8      // subspaces
  private val PqK = 16     // centroids per codebook
  private val PqD = 8      // dims per subspace (embedding dim / PqM)
  private val PqLloyd = 2

  /** (vec_id, m, sub): every vector split into its M subvectors —
    * `srcCol` lets the IVF+PQ composition subspace the residuals. */
  private def pqSubs(v: DataFrame, srcCol: String = "embedding"): DataFrame =
    v.select(col("vec_id"), explode(sequence(lit(0), lit(PqM - 1))).as("m"), col(srcCol).as("__vec"))
      .withColumn("sub", slice(col("__vec"), col("m") * PqD + 1, lit(PqD)))
      .select("vec_id", "m", "sub")

  private def pqWithCentNorm(cents: DataFrame): DataFrame =
    cents.withColumn("cn2",
      graft.plans.VecDotProduct.vec_dot_exact(col("cent"), col("cent")))

  /** nearest-codebook-entry per (vector, subspace); the codebook table
    * is M×K rows — broadcast. Two-phase argmax, same pattern (and same
    * bit-identity argument) as the ANN pair scan: the corpus×M×K
    * candidate stream is scored by the codegen'd vec_dot — the
    * interpreted decimal reduction here was the round-4 scale-probe's
    * superlinear finding — and only the fast top-2 per (vector,
    * subspace) get the exact-decimal score that decides the argmax
    * (identical unless two distinct centroids sit within ~1e-13,
    * while exact ties break on cid in both phases). */
  private[graft] def pqAssign(subs: DataFrame, cents: DataFrame, keepSub: Boolean = false): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val fast = vec_dot(col("sub"), col("cent")) - col("cn2") / 2.0
    val w = Window.partitionBy("vec_id", "m").orderBy(col("fast").desc, col("cid"))
    val extra = if (keepSub) Seq(first(col("sub")).as("sub")) else Nil
    subs.join(broadcast(pqWithCentNorm(cents)), "m")
      .withColumn("fast", fast)
      .withColumn(s"${mk}cr", row_number().over(w))
      .filter(col(s"${mk}cr") <= 2)
      .groupBy("vec_id", "m")
      .agg(max_by(col("cid"),
        struct(centScore(col("sub"), col("cent"), col("cn2")), -col("cid"))).as("cid"),
        extra: _*)
  }

  /** All M codebooks in one Lloyd loop (grouped by subspace); trains on
    * the same bounded hash-sample as IVF, init = subvectors of the
    * first K vectors. */
  private def trainPqCodebooks(subs: DataFrame): DataFrame = {
    val samp = subs
      .filter(pmod(h32s(col("vec_id").cast(StringType)), lit(4)) === 0 || col("vec_id") < PqK)
      .transform(graft.functions.memoize)
    var cents = subs.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sub").as("cent"))
      .transform(graft.functions.memoize)
    for (_ <- 1 to PqLloyd) {
      val assigned = pqAssign(samp, cents, keepSub = true)
      cents = assigned
        .select(col("m"), col("cid"), posexplode(col("sub")).as(Seq("d0", "x")))
        .groupBy("m", "cid", "d0")
        .agg((sum(col("x").cast(DoubleType).cast(DecimalType(38, 12)))
          .cast(DoubleType) / count(lit(1))).as("mn"))
        .groupBy("m", "cid")
        .agg(transform(array_sort(collect_list(struct(col("d0"), col("mn")))),
          e => e.getField("mn").cast("float")).as("cent"))
        .transform(graft.functions.memoize)
    }
    cents
  }

  /** (vec_id, m, cid) assignments → one codes array per vector,
    * position-ordered by subspace. */
  private def collectCodes(assigned: DataFrame): DataFrame =
    assigned.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cid")))),
        e => e.getField("cid")).as("codes"))

  /** Grid-complete LUT flattening: the ADC reads the array by
    * ARITHMETIC position (m*K + cid), so every (m, cid) slot must
    * exist even if a Lloyd round emptied a centroid (an absent slot is
    * never referenced by any code, but it would shift every later
    * position). `keys` identifies one LUT per row group (query, or
    * (query, probe) for the IVF composition). */
  private def gridLut(base: DataFrame, keys: Seq[String], lutVals: DataFrame): DataFrame =
    base.select(keys.map(col): _*)
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .withColumn("cid", explode(sequence(lit(0), lit(PqK - 1))))
      .join(lutVals, keys ++ Seq("m", "cid"), "left")
      .groupBy(keys.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cid"),
          coalesce(col("lv"), lit(0.0)).as("lv")))),
        e => e.getField("lv")).as("lut"))

  /** PQ index build — like IVF, a maintenance job memoized per
    * (application, corpus): the codebook table (M×K rows) and the
    * encoded corpus (8 small ints per vector). */
  private def buildPqIndexOver(s: SparkSession, key: String,
      base: => DataFrame): (DataFrame, DataFrame) =
    graft.etl.TableStats.build(s, key, "pq") {
      val subs = pqSubs(base)
      val cents = trainPqCodebooks(subs)
      val codes = collectCodes(pqAssign(subs, cents)).transform(graft.functions.memoize)
      (cents, codes)
    }

  def buildPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    buildPqIndexOver(s, dir, Tables.embeddings(s, dir))

  /** The PQ query path over an arbitrary (vec_id, embedding) corpus:
    * per-query grid LUT, ADC prefilter, exact rescore. Shared by
    * ann_pq_topk (raw corpus) and ann_opq_topk (rotated corpus). */
  private def pqServe(base: DataFrame, cents: DataFrame, codes: DataFrame,
      lutSrc: Option[DataFrame] = None): DataFrame = {
    val v = withNorm2(base)
    // the LUT must be built in the INDEX's coordinate system (rotated
    // for OPQ); the scan/rescore side stays in the original system —
    // cosine is rotation-invariant, so mixing is exact, and the
    // corpus-sized rotation is paid only in the memoized build
    val lutBase = lutSrc.getOrElse(v)
    // per-query LUT: exact-decimal dot of each query subvector against
    // each codebook entry, flattened to a 128-slot array ordered by
    // (m, cid) — one bounded array per query, broadcast with the query
    val lutVals = pqSubs(lutBase.filter(col("vec_id") < AnnPanel))
      .withColumnRenamed("vec_id", "query_id")
      .join(broadcast(cents), "m")
      .select(col("query_id"), col("m"), col("cid"),
        graft.plans.VecDotProduct.vec_dot_exact(col("sub"), col("cent")).as("lv"))
    val lut = gridLut(v.filter(col("vec_id") < AnnPanel).select(col("vec_id").as("query_id")),
      Seq("query_id"), lutVals)
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
      .join(lut, "query_id")
    // ADC: 8 LUT reads per (candidate, query) pair, fixed-order sum
    val adc = (0 until PqM).map(m =>
      element_at(col("lut"), lit(m * PqK) + element_at(col("codes"), m + 1) + lit(1)))
      .reduce(_ + _)
    val scored = v.join(codes, "vec_id")
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"),
        (adc / (sqrt(col("qn2")) * sqrt(col("n2")))).as("fast"))
    rescoreTopK(scored, 5)
  }

  private def annPq(s: SparkSession, dir: String): DataFrame = {
    val (cents, codes) = buildPqIndex(s, dir)
    pqServe(Tables.embeddings(s, dir), cents, codes)
  }

  /** DuckDB twin of the full PQ pipeline — codebook training, corpus
    * encoding, LUT build, and the ADC scan unroll into generated CTEs
    * from the same constants, like [[annIvfSql]]. `srcSql` provides
    * the (vec_id, embedding) corpus — raw for ann_pq_topk, rotated
    * for ann_opq_topk. */
  private def pqSqlOver(srcSql: String, subsSrcSql: Option[String] = None,
      anisoEta: Option[Double] = None): String = {
    def h32(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
    def score(sub: String, cent: String) =
      s"${ddotSql(sub, cent)} - ${ddotSql(cent, cent)} / 2.0"
    val rounds = (1 to PqLloyd).map { r =>
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, m, sub, cid,
         |         row_number() OVER (PARTITION BY vec_id, m ORDER BY score DESC, cid) AS rn
         |  FROM (SELECT s.vec_id, s.m, s.sub, c.cid, ${score("s.sub", "c.cent")} AS score
         |        FROM sampsubs s JOIN $prev c ON s.m = c.m)),
         |c$r AS (
         |  SELECT m, cid, list(CAST(mn AS REAL) ORDER BY d) AS cent
         |  FROM (
         |    SELECT m, cid, CAST(i AS INTEGER) AS d,
         |           CAST(sum(CAST(CAST(sub[CAST(i AS INTEGER)] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
         |             / count(*) AS mn
         |    FROM (SELECT m, cid, sub, unnest(generate_series(1, len(sub))) AS i
         |          FROM a$r WHERE rn = 1)
         |    GROUP BY m, cid, CAST(i AS INTEGER))
         |  GROUP BY m, cid)""".stripMargin
    }.mkString(",\n")
    val last = s"c$PqLloyd"
    val fast = (0 until PqM).map(m => s"lut[${m * PqK} + codes[${m + 1}] + 1]").mkString(" + ")
    s"""WITH src AS (
       |$srcSql),
       |subsrc AS (
       |${subsSrcSql.getOrElse(srcSql)}),
       |v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS nn FROM src),
       |subs AS (
       |  SELECT vec_id, m, embedding[m*$PqD+1 : m*$PqD+$PqD] AS sub
       |  FROM subsrc, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       |sampsubs AS (
       |  SELECT vec_id, m, sub FROM subs
       |  WHERE ${h32("CAST(vec_id AS VARCHAR)")} % 4 = 0 OR vec_id < $PqK),
       |c0 AS (
       |  SELECT m, CAST(vec_id AS INTEGER) AS cid, sub AS cent FROM subs WHERE vec_id < $PqK),
       |$rounds,
       |enc AS (
       |${anisoEta match {
            case None =>
              s"""  SELECT vec_id, m, cid,
                 |         row_number() OVER (PARTITION BY vec_id, m ORDER BY score DESC, cid) AS rn
                 |  FROM (SELECT s.vec_id, s.m, c.cid, ${score("s.sub", "c.cent")} AS score
                 |        FROM subs s JOIN $last c ON s.m = c.m)""".stripMargin
            case Some(eta) =>
              // the anisotropic (score-aware) assignment: same dots,
              // loss = ||r||^2 + (eta-1)*||r_par||^2, argmin
              s"""  SELECT vec_id, m, cid,
                 |         row_number() OVER (PARTITION BY vec_id, m ORDER BY loss ASC, cid) AS rn
                 |  FROM (SELECT vec_id, m, cid,
                 |          (sn2 - 2.0 * cs + cn2) + ${eta - 1.0} *
                 |            (CASE WHEN sn2 = 0.0 THEN 0.0
                 |                  ELSE (sn2 - cs) * (sn2 - cs) / sn2 END) AS loss
                 |        FROM (SELECT s.vec_id, s.m, c.cid,
                 |                ${ddotSql("s.sub", "c.cent")} AS cs,
                 |                ${ddotSql("s.sub", "s.sub")} AS sn2,
                 |                ${ddotSql("c.cent", "c.cent")} AS cn2
                 |              FROM subs s JOIN $last c ON s.m = c.m))""".stripMargin
          }}),
       |codes AS (
       |  SELECT vec_id, list(cid ORDER BY m) AS codes FROM enc WHERE rn = 1 GROUP BY vec_id),
       |lutvals AS (
       |  SELECT q.vec_id AS query_id, c.m, c.cid, ${ddotSql("q.sub", "c.cent")} AS lv
       |  FROM subs q JOIN $last c ON q.m = c.m WHERE q.vec_id < $AnnPanel),
       |qgrid AS (
       |  SELECT v.vec_id AS query_id, mm.m, kk.cid
       |  FROM v, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) mm,
       |       (SELECT unnest(generate_series(0, ${PqK - 1})) AS cid) kk
       |  WHERE v.vec_id < $AnnPanel),
       |lut AS (
       |  SELECT query_id, list(COALESCE(lv, CAST(0.0 AS DOUBLE)) ORDER BY m, cid) AS lut
       |  FROM qgrid LEFT JOIN lutvals USING (query_id, m, cid)
       |  GROUP BY query_id),
       |scored AS (
       |  SELECT l.query_id, v.vec_id AS neighbor_id, v.embedding, v.nn,
       |         q.embedding AS q_emb, q.nn AS qn2,
       |         ($fast) / (sqrt(q.nn) * sqrt(v.nn)) AS fast
       |  FROM v JOIN codes cd ON v.vec_id = cd.vec_id
       |  CROSS JOIN lut l
       |  JOIN v q ON q.vec_id = l.query_id
       |  WHERE v.vec_id <> l.query_id),
       |pre AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY fast DESC, neighbor_id) AS fr
       |  FROM scored),
       |rescored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(nn)) AS cos_raw
       |  FROM pre WHERE fr <= $PrefilterBuffer),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  private val annPqSql: String =
    pqSqlOver("  SELECT vec_id, embedding FROM embeddings")

  // --- ann_scann_topk: score-aware (anisotropic) quantization ----------
  // The ScaNN move (Guo et al., ICML'20): quantization error is not
  // isotropic in its EFFECT — the residual component PARALLEL to the
  // datapoint biases every inner product with queries aligned to it
  // (the queries that matter, since they are the ones that rank it
  // high), while the orthogonal component averages out. So the encoder
  // should not minimize ||r||² but η·||r_par||² + ||r_orth||². Here:
  // SAME codebooks as ann_pq_topk (one shared training pass — the
  // memoized build; isolating the assignment effect exactly), but
  // codes chosen by the anisotropic loss, applied per subspace (the
  // per-subspace projection of the residual onto the subvector — the
  // product-decomposed approximation of the paper's datapoint-parallel
  // direction). With cs = ⟨sub, cent⟩, sn2 = ⟨sub, sub⟩, cn2 =
  // ⟨cent, cent⟩ the loss needs ONE dot per candidate:
  //   ||r||² = sn2 − 2cs + cn2, ||r_par||² = (sn2 − cs)²/sn2,
  //   loss = ||r||² + (η−1)·||r_par||².
  // Same two-phase argmin as pqAssign (codegen'd fast dot picks top-2,
  // exact-decimal dot decides), same ADC serve (the LUT is unchanged —
  // only WHICH code each vector carries differs). DedupSpec pins the
  // construction on a fixture where L2 and anisotropic assignment
  // provably disagree (the closer-in-L2 centroid has the larger
  // parallel error, and the aligned query's inner-product error shows
  // it), plus the corpus-level parallel-error audit: mean ||r_par||²
  // under anisotropic codes ≤ under L2 codes — the quantity the loss
  // optimizes, measured, and a recall floor vs bruteforce.

  private[graft] val ScannEta = 4.0

  /** Anisotropic loss from the three exact dots — doubles in, doubles
    * out, so both engines run the identical IEEE expression. */
  private def scannLoss(cs: Column, sn2: Column, cn2: Column): Column =
    (sn2 - lit(2.0) * cs + cn2) + lit(ScannEta - 1.0) *
      when(sn2 === 0.0, lit(0.0))
        .otherwise((sn2 - cs) * (sn2 - cs) / sn2)

  /** Score-aware assignment: nearest codebook entry by ANISOTROPIC
    * loss. Two-phase like [[pqAssign]]; split out so DedupSpec can pin
    * the L2-vs-anisotropic disagreement fixture. */
  private[graft] def scannAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val s2 = subs.withColumn("sn2",
      vec_dot_exact(col("sub"), col("sub")).cast(DoubleType))
    val cn = pqWithCentNorm(cents)
      .withColumn("cn2", col("cn2").cast(DoubleType))
    val w = Window.partitionBy("vec_id", "m").orderBy(col("fl").asc, col("cid"))
    s2.join(broadcast(cn), "m")
      .withColumn("fl",
        scannLoss(vec_dot(col("sub"), col("cent")), col("sn2"), col("cn2")))
      .withColumn(s"${mk}ar", row_number().over(w))
      .filter(col(s"${mk}ar") <= 2)
      .groupBy("vec_id", "m")
      .agg(max_by(col("cid"), struct(
        -scannLoss(vec_dot_exact(col("sub"), col("cent")).cast(DoubleType),
          col("sn2"), col("cn2")),
        -col("cid"))).as("cid"))
  }

  /** Anisotropic codes over the SHARED PQ codebooks — memoized build
    * state like every index artifact. */
  private[graft] def buildScannCodes(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "scann") {
      val (cents, _) = buildPqIndex(s, dir)
      collectCodes(scannAssign(pqSubs(Tables.embeddings(s, dir)), cents))
        .transform(graft.functions.memoize)
    }

  private def annScann(s: SparkSession, dir: String): DataFrame = {
    val (cents, _) = buildPqIndex(s, dir)
    pqServe(Tables.embeddings(s, dir), cents, buildScannCodes(s, dir))
  }

  private val annScannSql: String =
    pqSqlOver("  SELECT vec_id, embedding FROM embeddings",
      anisoEta = Some(ScannEta))

  // --- ann_opq_topk: OPQ — rotate, then product-quantize ---------------
  // PQ quantizes each 8-dim subspace independently, so correlated /
  // variance-imbalanced dimensions waste codebook capacity. OPQ fixes
  // the coordinate system first: rotate by a FIXED orthogonal matrix —
  // Gram-Schmidt over seed-4242 gaussians, the parametric-OPQ move,
  // constants embedded in both engines like the LSH hyperplanes.
  // Cosines are rotation-invariant, so the exact-rescore contract is
  // unchanged; only the ADC prefilter quality changes. HONEST RESULT
  // on this corpus: none — the synthetic embeddings are already
  // near-isotropic per dimension (~1.3× variance spread), so the
  // rotation has nothing to exploit and recall@5 lands within noise of
  // plain PQ (0.78 vs 0.80 at sf0.001; PCA-snake and four other seeds
  // measured the same, none above natural). The operator exists for
  // the corpora where the published OPQ result applies — real-world
  // embedding sets with strongly anisotropic coordinates — and
  // DedupSpec pins the properties that make it correct: exact
  // orthogonality of the constants, cosine preservation through the
  // rotation, and a recall floor vs bruteforce. Rotation cost is 64
  // exact-decimal dots per vector, paid once in the memoized index
  // build (a maintenance job) and per query — never per candidate
  // pair. Fully oracle-replayable: the rotated coordinate is one
  // decimal reduction + one double→float rounding, identical in the
  // DuckDB twin's generated rotation CTE.

  /** Deterministic orthogonal 64×64 rotation: modified Gram-Schmidt
    * over a seed-4242 gaussian matrix (driver-side doubles — IEEE ops,
    * identical on every JVM; literals round-trip to the oracle). */
  private[graft] lazy val opqRotation: Array[Array[Double]] = {
    val rnd = new scala.util.Random(4242)
    val m = Array.fill(64)(Array.fill(64)(rnd.nextGaussian()))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var k = 0
      while (k < 64) { s += a(k) * b(k); k += 1 }; s
    }
    for (i <- 0 until 64) {
      for (j <- 0 until i) {
        val d = dot(m(i), m(j))
        var k = 0; while (k < 64) { m(i)(k) -= d * m(j)(k); k += 1 }
      }
      val n = math.sqrt(dot(m(i), m(i)))
      var k = 0; while (k < 64) { m(i)(k) /= n; k += 1 }
    }
    m
  }

  /** Rotated corpus: coordinate i = exact-decimal ⟨x, R_i⟩ rounded
    * double→float (one correct rounding, same in the oracle). */
  private def rotated(base: DataFrame, rot: Array[Array[Double]] = opqRotation): DataFrame =
    base.select(col("vec_id"),
      array(rot.map(r =>
        graft.plans.VecDotProduct.vec_dot_exact(col("embedding"), typedLit(r.toSeq))
          .cast(FloatType)): _*).as("embedding"))

  /** PCA-INFORMED OPQ rotation (the parametric OPQ of Ge et al.,
    * CVPR'13, trained rather than random): eigendecompose the corpus
    * covariance and allocate components to the PqM subspaces balancing
    * the per-subspace variance PRODUCT (the paper's allocation — each
    * codebook gets an equal share of the distortion), so row k of the
    * returned matrix is the eigenvector assigned to rotated coordinate
    * k. This is what the fixed seed-4242 rotation honestly cannot do:
    * a random basis spreads AXIS-ALIGNED variance but cannot
    * DECORRELATE — on a corpus whose variance rides a few dense
    * correlated directions, every random coordinate is a mix of the
    * same latent factors and every codebook wastes capacity re-coding
    * them, while the eigenbasis gives PQ exactly the independence its
    * per-subspace training assumes (DedupSpec measures the gap).
    *
    * 100 TB shape: the covariance is the SAME one-pass distributed
    * d²-cell moment frame as embedding_pca; only those d² cells are
    * collected (metadata-scale — 4 KB·d²/64², never corpus rows) for a
    * driver-side cyclic-Jacobi eigendecomposition (d³ flops, exactly
    * how FAISS trains OPQ from a sample). Deterministic: IEEE-double
    * Jacobi with a fixed sweep order and threshold, eigenvalue ties
    * broken by component index. A maintenance-job artifact like the
    * IVF quantizer — at scale it lands in a parquet table beside the
    * codebooks; the registry op keeps the seed rotation because its
    * DuckDB twin must replay the rotation from static constants. */
  private[graft] def opqPcaRotationOver(corpus: DataFrame, n: Long): Array[Array[Double]] = {
    val dims = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast(DoubleType).as("x"))
    val (_, covDf) = covFrameOver(corpus, dims, n)
    val d = PqM * PqD
    val a = Array.fill(d)(new Array[Double](d))
    covDf.collect().foreach(r =>
      a(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // cyclic Jacobi: rotate out the largest off-diagonal cells in a
    // fixed (p, q) sweep order until convergence — deterministic
    val vEig = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 64) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-12) {
          val theta = 0.5 * math.atan2(2.0 * a(p)(q), a(q)(q) - a(p)(p))
          val (c, sn) = (math.cos(theta), math.sin(theta))
          var k = 0
          while (k < d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - sn * akq; a(k)(q) = sn * akp + c * akq
            k += 1
          }
          k = 0
          while (k < d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - sn * aqk; a(q)(k) = sn * apk + c * aqk
            val vkp = vEig(k)(p); val vkq = vEig(k)(q)
            vEig(k)(p) = c * vkp - sn * vkq; vEig(k)(q) = sn * vkp + c * vkq
            k += 1
          }
        }
      }
      sweep += 1
    }
    // eigenvalue-balanced allocation: components in descending-λ order
    // (index tiebreak), each placed in the open subspace with the
    // smallest log-variance product so far — Ge et al.'s balance rule
    val order = (0 until d).map(i => (a(i)(i), i))
      .sortBy { case (lam, i) => (-lam, i) }.map(_._2)
    val slots = Array.fill(PqM)(0)
    val logProd = Array.fill(PqM)(0.0)
    val assign = new Array[Int](d) // component -> rotated coordinate
    order.foreach { comp =>
      val m = (0 until PqM).filter(slots(_) < PqD)
        .minBy(mm => (logProd(mm), mm))
      assign(comp) = m * PqD + slots(m)
      slots(m) += 1
      logProd(m) += math.log(math.max(a(comp)(comp), 1e-300))
    }
    val rot = Array.fill(d)(new Array[Double](d))
    for (comp <- 0 until d; k <- 0 until d)
      rot(assign(comp))(k) = vEig(k)(comp)
    rot
  }

  /** The full PQ (rotation=None) / OPQ (rotation=Some(R)) pipeline
    * over an arbitrary (vec_id, embedding) corpus, uncached — the
    * measurement surface DedupSpec uses to pin OPQ's reason to exist
    * on an ANISOTROPIC corpus. The registry corpus is near-isotropic,
    * where any rotation is honestly recall-neutral; this entry point
    * lets the spec build skewed/correlated corpora and measure the
    * gaps the published OPQ results predict (random rotation vs
    * axis-aligned skew; [[opqPcaRotationOver]] vs correlated skew),
    * instead of citing them. */
  private[graft] def pqPipelineOver(corpus: DataFrame,
      rotation: Option[Array[Array[Double]]]): DataFrame = {
    val idxSrc = rotation match {
      case Some(r) => rotated(corpus, r).transform(graft.functions.memoize)
      case None => corpus
    }
    val subs = pqSubs(idxSrc)
    val cents = trainPqCodebooks(subs)
    val codes = collectCodes(pqAssign(subs, cents)).transform(graft.functions.memoize)
    pqServe(corpus, cents, codes,
      lutSrc = rotation.map(r => rotated(corpus.filter(col("vec_id") < AnnPanel), r)))
  }

  private def annOpq(s: SparkSession, dir: String): DataFrame = {
    def rot = rotated(Tables.embeddings(s, dir)).transform(graft.functions.memoize)
    val (cents, codes) = buildPqIndexOver(s, s"$dir#opq", rot)
    // query path: original corpus for the scan + exact rescore; only
    // the 10 query vectors get rotated (for the codebook LUT)
    pqServe(Tables.embeddings(s, dir), cents, codes,
      lutSrc = Some(rotated(Tables.embeddings(s, dir).filter(col("vec_id") < AnnPanel))))
  }

  private val annOpqSql: String = {
    val coords = opqRotation.map { r =>
      val lits = r.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"""CAST(CAST(list_sum(list_transform(list_zip(embedding, $lits),
         |      x -> CAST(CAST(x[1] AS DOUBLE) * x[2] AS DECIMAL(38,12)))) AS DOUBLE) AS REAL)""".stripMargin
    }.mkString(",\n    ")
    pqSqlOver(
      "  SELECT vec_id, embedding FROM embeddings",
      Some(s"""  SELECT vec_id, [
           |    $coords
           |  ] AS embedding FROM embeddings""".stripMargin))
  }

  // --- ann_ivfpq_topk: IVF + residual PQ (the FAISS IVFADC) ------------
  // The composition serving engines actually deploy: the IVF coarse
  // quantizer prunes the scan to 2 posting lists, and list members are
  // scored by ADC over RESIDUAL codebooks (x − centroid has far less
  // variance than x, so 8 bytes quantize it much better) with the
  // query's per-list residual LUT: q·x ≈ q·c + q_res·x̂_res. Everything
  // reuses the proven pieces — buildIvfIndex's quantizer, the PQ Lloyd
  // machinery on residual subvectors, the grid-complete LUT, the
  // two-phase exact rescore — so the DuckDB oracle replays the whole
  // composed pipeline bit-for-bit. Recall vs bruteforce (0.62-0.72)
  // spec-pinned; the residual vsub is corpus×1 interpreted work in the
  // BUILD path only (same order as the norm pass), never per pair.

  /** Elementwise float difference (residual vector). */
  private def vsub(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => (x.cast(DoubleType) - y.cast(DoubleType)).cast(FloatType))

  /** (residual-indexed corpus, residual codebooks, residual codes) —
    * built on top of [[buildIvfIndex]], memoized like it. */
  def buildIvfPqIndex(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) =
    graft.etl.TableStats.build(s, dir, "ivf_pq") {
      val index = buildIvfIndex(s, dir)._2
      val resid = index
        .withColumn("res", vsub(col("embedding"), col("cent")))
        .select("vec_id", "list_id", "embedding", "n2", "res")
        .transform(graft.functions.memoize)
      val rsubs = pqSubs(resid, "res")
      val rcents = trainPqCodebooks(rsubs)
      val rcodes = collectCodes(pqAssign(rsubs, rcents)).transform(graft.functions.memoize)
      (resid, rcents, rcodes)
    }

  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir))
    val (resid, rcents, rcodes) = buildIvfPqIndex(s, dir)
    val cents = buildIvfIndex(s, dir)._1
    val pw = Window.partitionBy("query_id").orderBy(col("score").desc, col("cid"))
    val probes = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
      .crossJoin(broadcast(cents))
      .withColumn("score", centScore(col("q_emb"), col("cent"), col("cn2")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= IvfProbes)
    // per (query, probed list): q·c constant + the query residual the
    // LUT is built from
    val qres = probes
      .withColumn("qc", graft.plans.VecDotProduct.vec_dot_exact(col("q_emb"), col("cent")))
      .withColumn("qr", vsub(col("q_emb"), col("cent")))
      .select(col("query_id"), col("cid").as("probe"), col("q_emb"), col("qn2"),
        col("qc"), col("qr"))
    val lutVals = qres
      .select(col("query_id"), col("probe"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qr"))
      .withColumn("sub", slice(col("qr"), col("m") * PqD + 1, lit(PqD)))
      .join(broadcast(rcents), "m")
      .select(col("query_id"), col("probe"), col("m"), col("cid"),
        graft.plans.VecDotProduct.vec_dot_exact(col("sub"), col("cent")).as("lv"))
    val lut = gridLut(qres, Seq("query_id", "probe"), lutVals)
    val q = qres.select("query_id", "probe", "q_emb", "qn2", "qc")
      .join(lut, Seq("query_id", "probe"))
    val adc = (0 until PqM).map(m =>
      element_at(col("lut"), lit(m * PqK) + element_at(col("codes"), m + 1) + lit(1)))
      .reduce(_ + _)
    val scored = resid.join(rcodes, "vec_id")
      .join(broadcast(q), col("list_id") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"),
        ((col("qc") + adc) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("fast"))
    rescoreTopK(scored, 5)
  }

  /** DuckDB twin of the composed IVFADC pipeline: the IVF quantizer
    * rounds, residual computation, residual-PQ rounds, per-(query,
    * probe) LUTs and the ADC scan all unroll into generated CTEs from
    * the same constants. */
  private val annIvfPqSql: String = {
    def h32(e: String) = s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"
    def score(sub: String, cent: String) =
      s"${ddotSql(sub, cent)} - ${ddotSql(cent, cent)} / 2.0"
    def vsubSql(a: String, b: String) =
      s"""list_transform(list_zip($a, $b),
         |  x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS REAL))""".stripMargin
    val ivfRounds = (1 to LloydIters).map { r =>
      val prev = if (r == 1) "c0" else s"c${r - 1}"
      s"""a$r AS (
         |  SELECT vec_id, embedding, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
         |  FROM (SELECT s.vec_id, s.embedding, c.cid, ${score("s.embedding", "c.cent")} AS score
         |        FROM samp s CROSS JOIN $prev c)),
         |c$r AS (
         |  SELECT cid, list(CAST(m AS REAL) ORDER BY d) AS cent
         |  FROM (
         |    SELECT cid, CAST(i AS INTEGER) AS d,
         |           CAST(sum(CAST(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
         |             / count(*) AS m
         |    FROM (SELECT cid, embedding, unnest(generate_series(1, len(embedding))) AS i
         |          FROM a$r WHERE rn = 1)
         |    GROUP BY cid, CAST(i AS INTEGER))
         |  GROUP BY cid)""".stripMargin
    }.mkString(",\n")
    val ilast = s"c$LloydIters"
    val pqRounds = (1 to PqLloyd).map { r =>
      val prev = if (r == 1) "pc0" else s"pc${r - 1}"
      s"""pa$r AS (
         |  SELECT vec_id, m, sub, cid,
         |         row_number() OVER (PARTITION BY vec_id, m ORDER BY score DESC, cid) AS rn
         |  FROM (SELECT s.vec_id, s.m, s.sub, c.cid, ${score("s.sub", "c.cent")} AS score
         |        FROM rsamp s JOIN $prev c ON s.m = c.m)),
         |pc$r AS (
         |  SELECT m, cid, list(CAST(mn AS REAL) ORDER BY d) AS cent
         |  FROM (
         |    SELECT m, cid, CAST(i AS INTEGER) AS d,
         |           CAST(sum(CAST(CAST(sub[CAST(i AS INTEGER)] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
         |             / count(*) AS mn
         |    FROM (SELECT m, cid, sub, unnest(generate_series(1, len(sub))) AS i
         |          FROM pa$r WHERE rn = 1)
         |    GROUP BY m, cid, CAST(i AS INTEGER))
         |  GROUP BY m, cid)""".stripMargin
    }.mkString(",\n")
    val plast = s"pc$PqLloyd"
    val fast = (0 until PqM).map(m => s"lut[${m * PqK} + codes[${m + 1}] + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS nn FROM embeddings),
       |$ivfKParamCte,
       |samp AS (
       |  SELECT vec_id, embedding FROM v
       |  WHERE ${h32("CAST(vec_id AS VARCHAR)")} % 4 = 0 OR vec_id < (SELECT kk FROM kp)),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cent FROM v
       |  WHERE vec_id < (SELECT kk FROM kp)),
       |$ivfRounds,
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${score("v.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $ilast c)
       |  WHERE rn = 1),
       |resid AS (
       |  SELECT v.vec_id, a.list_id, v.embedding, v.nn,
       |         ${vsubSql("v.embedding", "c.cent")} AS res
       |  FROM v JOIN assigned a ON v.vec_id = a.vec_id
       |  JOIN $ilast c ON c.cid = a.list_id),
       |rsubs AS (
       |  SELECT vec_id, m, res[m*$PqD+1 : m*$PqD+$PqD] AS sub
       |  FROM resid, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       |rsamp AS (
       |  SELECT vec_id, m, sub FROM rsubs
       |  WHERE ${h32("CAST(vec_id AS VARCHAR)")} % 4 = 0 OR vec_id < $PqK),
       |pc0 AS (
       |  SELECT m, CAST(vec_id AS INTEGER) AS cid, sub AS cent FROM rsubs WHERE vec_id < $PqK),
       |$pqRounds,
       |renc AS (
       |  SELECT vec_id, m, cid,
       |         row_number() OVER (PARTITION BY vec_id, m ORDER BY score DESC, cid) AS rn
       |  FROM (SELECT s.vec_id, s.m, c.cid, ${score("s.sub", "c.cent")} AS score
       |        FROM rsubs s JOIN $plast c ON s.m = c.m)),
       |rcodes AS (
       |  SELECT vec_id, list(cid ORDER BY m) AS codes FROM renc WHERE rn = 1 GROUP BY vec_id),
       |qprobes AS (
       |  SELECT vec_id AS query_id, cid AS probe FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${score("v.embedding", "c.cent")} DESC, c.cid) AS rn
       |    FROM v CROSS JOIN $ilast c WHERE v.vec_id < $AnnPanel)
       |  WHERE rn <= $IvfProbes),
       |qres AS (
       |  SELECT p.query_id, p.probe, ${vsubSql("q.embedding", "c.cent")} AS res,
       |         ${ddotSql("q.embedding", "c.cent")} AS qc
       |  FROM qprobes p JOIN v q ON q.vec_id = p.query_id
       |  JOIN $ilast c ON c.cid = p.probe),
       |qrsubs AS (
       |  SELECT query_id, probe, m, res[m*$PqD+1 : m*$PqD+$PqD] AS sub
       |  FROM qres, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m)),
       |rlutvals AS (
       |  SELECT q.query_id, q.probe, c.m, c.cid, ${ddotSql("q.sub", "c.cent")} AS lv
       |  FROM qrsubs q JOIN $plast c ON q.m = c.m),
       |qgrid AS (
       |  SELECT p.query_id, p.probe, mm.m, kk.cid
       |  FROM qprobes p, (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) mm,
       |       (SELECT unnest(generate_series(0, ${PqK - 1})) AS cid) kk),
       |rlut AS (
       |  SELECT query_id, probe, list(COALESCE(lv, CAST(0.0 AS DOUBLE)) ORDER BY m, cid) AS lut
       |  FROM qgrid LEFT JOIN rlutvals USING (query_id, probe, m, cid)
       |  GROUP BY query_id, probe),
       |scored AS (
       |  SELECT l.query_id, r.vec_id AS neighbor_id, r.embedding, r.nn,
       |         q.embedding AS q_emb, q.nn AS qn2,
       |         (qr.qc + ($fast)) / (sqrt(q.nn) * sqrt(r.nn)) AS fast
       |  FROM rlut l
       |  JOIN qres qr ON qr.query_id = l.query_id AND qr.probe = l.probe
       |  JOIN resid r ON r.list_id = l.probe
       |  JOIN rcodes cd ON cd.vec_id = r.vec_id
       |  JOIN v q ON q.vec_id = l.query_id
       |  WHERE r.vec_id <> l.query_id),
       |pre AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY fast DESC, neighbor_id) AS fr
       |  FROM scored),
       |rescored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(nn)) AS cos_raw
       |  FROM pre WHERE fr <= $PrefilterBuffer),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- ann_adaptive_topk: Matryoshka funnel retrieval ------------------
  // The serve pattern Matryoshka embeddings exist for (adaptive
  // retrieval / funnel retrieval, Kusupati et al.'s MRL deployment
  // recipe): rank EVERY candidate on only the first [[AdaptDims]]
  // dimensions — the cheap pass that touches the whole corpus — keep a
  // per-query shortlist of [[AdaptShortlist]], and rescore only the
  // shortlist at full width. At 100 TB the economics are the point:
  // an MRL-trained lake stores the first-t slice as its own column
  // (or its own file tier), so the pass that touches every vector
  // reads t/d of the bytes and pays t/d of the flops, while the
  // full-width vectors are fetched for R rows per query — the same
  // funnel FAISS's refine tier and every two-stage retrieval system
  // ship. Unlike ann_bruteforce's two-phase (same metric both
  // phases, bit-identical-to-exact), the shortlist here is
  // SEMANTICALLY part of the operator — recall vs exact is the price
  // of the cheap pass, and on THESE synthetic (non-MRL-trained)
  // embeddings the prefix carries little signal, so the measured
  // recall (DedupSpec) is honestly low — the number the op exists to
  // put in front of a serving-width decision, exactly like
  // embedding_matryoshka's ablation rows.
  //
  // Determinism: the corpus-sized pass ranks by the codegen'd double
  // prefix cosine but only SELECTS a 2R buffer; the shortlist CUT is
  // decided by the exact-decimal prefix cosine over that buffer (the
  // rescoreTopK argument applied to the prefix metric — double-vs-
  // decimal drift ~1e-13 can only perturb the buffer boundary, and
  // exact ties break on neighbor_id in both phases), and the final
  // top-k by the exact-decimal full cosine. The DuckDB twin replays
  // the decimal shortlist and rescore directly.

  private val AdaptDims = 16      // funnel width of the corpus pass
  private val AdaptShortlist = 32 // rows rescored at full width per query

  /** The funnel at explicit (prefix width, shortlist) — the spec's
    * measurement surface: t = 64 makes both phases the same metric,
    * so the result must equal ann_bruteforce's top-k exactly (the
    * identity anchor); t = AdaptDims is the registry op. */
  private[graft] def annAdaptiveAt(s: SparkSession, dir: String,
      t: Int, shortlist: Int): DataFrame = {
    import graft.plans.VecDotProduct.{vec_dot, vec_dot_exact}
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val v = withNorm2(Tables.embeddings(s, dir))
      .withColumn("p", slice(col("embedding"), 1, t))
      .withColumn("pn2", vec_dot_exact(col("p"), col("p")))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("p").as("q_p"), col("pn2").as("q_pn2"))
    val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"),
        col("q_p"), col("p"), col("q_pn2"), col("pn2"))
    // corpus pass: codegen'd double prefix cosine, 2R buffer per query
    val w1 = Window.partitionBy("query_id").orderBy(col("pfast").desc, col("neighbor_id"))
    val buffered = pairs
      .withColumn("pfast", cosine(vec_dot(col("q_p"), col("p")), col("q_pn2"), col("pn2")))
      .withColumn(s"${mk}b", row_number().over(w1))
      .filter(col(s"${mk}b") <= 2 * shortlist)
    // shortlist cut: exact-decimal prefix cosine (oracle semantics)
    val w2 = Window.partitionBy("query_id").orderBy(col("pcos").desc, col("neighbor_id"))
    val short = buffered
      .withColumn("pcos", cosine(vec_dot_exact(col("q_p"), col("p")), col("q_pn2"), col("pn2")))
      .withColumn(s"${mk}s", row_number().over(w2))
      .filter(col(s"${mk}s") <= shortlist)
    // refine: exact-decimal full-width rescore of the shortlist
    val w3 = Window.partitionBy("query_id").orderBy(col("cos_raw").desc, col("neighbor_id"))
    short
      .withColumn("cos_raw",
        cosine(vec_dot_exact(col("q_emb"), col("embedding")), col("qn2"), col("n2")))
      .withColumn(s"${mk}rank", row_number().over(w3))
      .filter(col(s"${mk}rank") <= RecallK)
      .select(col("query_id"), col("neighbor_id"), col(s"${mk}rank").as("rank"),
        round6(col("cos_raw")).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  private def annAdaptive(s: SparkSession, dir: String): DataFrame =
    annAdaptiveAt(s, dir, AdaptDims, AdaptShortlist)

  private val annAdaptiveSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2,
       |         embedding[1:$AdaptDims] AS p,
       |         ${norm2Sql(s"embedding[1:$AdaptDims]")} AS pn2
       |  FROM embeddings),
       |pre AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         q.embedding AS q_emb, v.embedding AS embedding,
       |         q.n2 AS qn2, v.n2 AS n2,
       |         ${ddotSql("q.p", "v.p")} / (sqrt(q.pn2) * sqrt(v.pn2)) AS pcos
       |  FROM v q JOIN v ON q.vec_id < $AnnPanel AND v.vec_id <> q.vec_id),
       |short AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY pcos DESC, neighbor_id) AS sr FROM pre)
       |  WHERE sr <= $AdaptShortlist),
       |rescored AS (
       |  SELECT query_id, neighbor_id,
       |         ${ddotSql("q_emb", "embedding")} / (sqrt(qn2) * sqrt(n2)) AS cos_raw
       |  FROM short),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM rescored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= $RecallK
       |ORDER BY query_id, rank""".stripMargin

  // --- the compressed IVFPQ core (maintained-lake serve tier) ----------
  // The memory-honest 100 TB serve: posting lists carry the PqM small
  // code ints plus one norm per vector (~40 bytes), never the embedding
  // (~260 bytes for 64 floats) — the compressed tier FAISS's IVFADC
  // ships, where a 100 TB corpus's index fits a few TB of posting
  // lists. Serve is ADC-only: there is deliberately NO exact rescore,
  // because the compressed lists don't carry vectors (the batch
  // `ann_ivfpq_topk` keeps its refine step because its memoized build
  // retains them — two tiers, both real). These cores are shared by
  // the maintained IVFPQ lake ([[graft.streaming.StreamingJobs
  // .ivfpqIndexInit]]/append/search/compact/drift/retrain) and the
  // StreamingSpec batch twins, so lake and batch can never disagree
  // about encode or serve semantics.

  /** Compressed encode of residual rows (vec_id, list_id, n2, res)
    * against FIXED residual codebooks → posting rows (vec_id, list_id,
    * codes, n2, qerr). qerr = Σ_m ‖res_m − codebook[m][code_m]‖² (the
    * squared residual-after-code reconstruction error) is computed
    * HERE, the only moment the vector is in hand — the compressed lake
    * can never recompute it, and it is what the drift report reads.
    * Per-vector work only (a broadcast M×K argmax + an M-term
    * exact-decimal sum), so the append stream runs this per
    * micro-batch against the unchanged codebooks. */
  private def encodeResiduals(resid: DataFrame, rcents: DataFrame): DataFrame = {
    val assigned = pqAssign(pqSubs(resid, "res"), rcents, keepSub = true)
    val coded = assigned
      .join(broadcast(rcents), Seq("m", "cid"))
      .withColumn("diff", vsub(col("sub"), col("cent")))
      .withColumn("err_m",
        graft.plans.VecDotProduct.vec_dot_exact(col("diff"), col("diff")))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("cid")))),
          e => e.getField("cid")).as("codes"),
        round6(sum(col("err_m").cast(DecimalType(38, 12)))
          .cast(DoubleType)).as("qerr"))
    resid.select("vec_id", "list_id", "n2").join(coded, "vec_id")
  }

  /** Compressed encode of ASSIGNED rows (vec_id, list_id, embedding,
    * n2, cent — the shape [[buildIvfIndexOver]]'s index frame and the
    * append stream's fixed-quantizer assignment both produce). */
  private[graft] def ivfpqEncode(assigned: DataFrame, rcents: DataFrame): DataFrame =
    encodeResiduals(
      assigned.withColumn("res", vsub(col("embedding"), col("cent")))
        .select("vec_id", "list_id", "n2", "res"),
      rcents)

  /** Full compressed build over an arbitrary (vec_id, embedding)
    * corpus: (coarse centroids, residual codebooks, compressed
    * postings). The bootstrap AND the retrain of the maintained IVFPQ
    * lake — deterministic end to end (decimal Lloyd means, decimal
    * argmaxes, id tiebreaks), so a retrained lake over corpus C equals
    * a fresh build over C bit-for-bit. */
  private[graft] def buildIvfPqIndexOver(v0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (cents, index) = buildIvfIndexOver(v0)
    val resid = index
      .withColumn("res", vsub(col("embedding"), col("cent")))
      .select("vec_id", "list_id", "n2", "res").transform(graft.functions.memoize)
    val rcents = trainPqCodebooks(pqSubs(resid, "res")).transform(graft.functions.memoize)
    val postings = encodeResiduals(resid, rcents).transform(graft.functions.memoize)
    (cents, rcents, postings)
  }

  /** The compressed ADC serve: probe the coarse quantizer
    * ([[IvfProbes]] lists per query), build the per-(query, probed
    * list) residual LUT, score posting CODES by q·x ≈ q·c +
    * Σ_m lut[code_m], normalize by the stored norms, and rank top-k
    * directly on the ADC score (DESC, neighbor_id tiebreak).
    * Deterministic — exact-decimal LUT entries and q·c, fixed-order
    * M-term sum, id tiebreaks — so the maintained lake serves
    * bit-identically to the batch encode of the same corpus
    * (StreamingSpec pins it). `queries` needs (query_id, q_emb, qn2);
    * `postings` (vec_id, list_id, codes, n2). Scale shape: per query
    * the scan touches [[IvfProbes]] posting lists of codes — never a
    * vector column — and the LUT/query side is broadcast. */
  private[graft] def ivfpqAdcServe(cents: DataFrame, rcents: DataFrame,
      postings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val pw = Window.partitionBy("query_id").orderBy(col("score").desc, col("cid"))
    val qres = queries
      .crossJoin(broadcast(cents))
      .withColumn("score", centScore(col("q_emb"), col("cent"), col("cn2")))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= IvfProbes)
      .withColumn("qc", graft.plans.VecDotProduct.vec_dot_exact(col("q_emb"), col("cent")))
      .withColumn("qr", vsub(col("q_emb"), col("cent")))
      .select(col("query_id"), col("cid").as("probe"), col("qn2"), col("qc"), col("qr"))
    val lutVals = qres
      .select(col("query_id"), col("probe"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("qr"))
      .withColumn("sub", slice(col("qr"), col("m") * PqD + 1, lit(PqD)))
      .join(broadcast(rcents), "m")
      .select(col("query_id"), col("probe"), col("m"), col("cid"),
        graft.plans.VecDotProduct.vec_dot_exact(col("sub"), col("cent")).as("lv"))
    val q = qres.select("query_id", "probe", "qn2", "qc")
      .join(gridLut(qres, Seq("query_id", "probe"), lutVals), Seq("query_id", "probe"))
    val adc = (0 until PqM).map(m =>
      element_at(col("lut"), lit(m * PqK) + element_at(col("codes"), m + 1) + lit(1)))
      .reduce(_ + _)
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val w = Window.partitionBy("query_id").orderBy(col("fast").desc, col("neighbor_id"))
    postings.join(broadcast(q),
        col("list_id") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        ((col("qc") + adc) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("fast"))
      .withColumn(s"${mk}rank", row_number().over(w))
      .filter(col(s"${mk}rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col(s"${mk}rank").as("rank"),
        round6(col("fast")).as("adc_sim"))
      .orderBy("query_id", "rank")
  }

  // --- ann_recall_report: index quality audit --------------------------
  // The QA loop every production ANN deployment runs before swapping an
  // index into serving (and the batch twin of the streaming drift
  // report): per-query recall@5 of EVERY approximate serve path —
  // graph walk, hotprobe (the skew-bounded production kNN serve,
  // panel-restricted), IVF, IVFADC, LSH, PQ, binary — against the exact
  // brute-force baseline. At 100 TB the baseline is computed for a
  // SAMPLED query panel only (here: the same 10-query panel every
  // ANN op serves) — the exact scan cost is per-panel-query, never
  // per-corpus-vector, and the verdict table is bounded at
  // #methods × #panel rows. Recall is pure integer arithmetic
  // (hits·1000 div k) — bit-portable, no float ratio. Reuses each
  // op's own serve path, so the report measures exactly what serving
  // would return (memoized builds included), not a re-derivation.
  //
  // Plan discipline: each input is localCheckpoint'd BEFORE the
  // per-method joins. All of them are panel-bounded (≤ panel × k
  // rows), and AQE does not collapse identical derivation branches
  // (SURVEY §5) — without the checkpoint the panel×corpus brute-force
  // scan would re-execute once per method and each serve plan would be
  // embedded whole in the union (measured 3× the heavy baseline at 3
  // methods in round 9).
  // (RecallK itself is declared next to AnnPanel at the top of the
  // object: like the panel constant it feeds SQL-twin val
  // initializers that run in declaration order — round 15's
  // ann_adaptive_topk twin silently interpolated 0 when it was
  // declared down here.)

  /** The audit core over EXPLICIT (method, serve result, k) rows —
    * shared by the registry report (memoized batch builds) and the
    * LAKE-MODE report ([[graft.streaming.StreamingJobs
    * .annRecallReportLake]], which audits what production actually
    * serves after appends/compactions). One exact baseline, one row
    * shape, so the two reports union into one QA board. */
  private[graft] def recallReportOver(s: SparkSession, dir: String,
      methods: Seq[(String, DataFrame, Int)]): DataFrame =
    recallReportOverLazy(s, dir,
      methods.map { case (n, df, k) => (n, () => df, k) })

  /** The audit core with BY-NAME serve paths — r17 optimization
    * (guide §2.6, overlap independent jobs): the exact baseline and
    * every serve path are independent jobs over memoized builds, and
    * the former eager shape constructed + materialized them strictly
    * sequentially, paying the SUM of ~10 small job chains' wall time
    * while most executor cores idled in each chain's tail. A bounded
    * pool overlaps construction (which populates the build-state
    * store — concurrent callers of one key build it once) and
    * materialization. Results are byte-identical: each
    * method's frame is the same plan as before, `memoize` is
    * per-frame, and the union keeps the declared method order. */
  private[graft] def recallReportOverLazy(s: SparkSession, dir: String,
      methods: Seq[(String, () => DataFrame, Int)]): DataFrame = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(methods.size + 1, 6))
    val joined =
      try {
        val exactF = pool.submit(new java.util.concurrent.Callable[DataFrame] {
          def call(): DataFrame = annBruteforce(s, dir)
            .select("query_id", "neighbor_id").transform(graft.functions.memoize)
        })
        val approxFs = methods.map { case (name, mk, k) =>
          (name, k, pool.submit(new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = mk()
              .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
              .transform(graft.functions.memoize)
          }))
        }
        val exact = exactF.get()
        approxFs.map { case (name, k, f) =>
          exact
            .join(f.get(), Seq("query_id", "neighbor_id"), "left")
            .groupBy("query_id")
            .agg(sum(coalesce(col("hit"), lit(0))).cast(IntegerType).as("hits"))
            .select(lit(name).as("method"), lit(k).as("k"), col("query_id"), col("hits"))
        }
      } finally pool.shutdown()
    joined.reduce(_.union(_))
      .withColumn("recall_permil",
        expr(s"(CAST(hits AS BIGINT) * 1000) div least($RecallK, k)"))
      .orderBy("method", "query_id")
  }

  /** The shared query panel as LAKE-SEARCH queries (query_id,
    * embedding) — the shape the maintained indexes' serve paths take. */
  private[graft] def annPanelQueries(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding"))

  private def annRecallReport(s: SparkSession, dir: String): DataFrame = {
    // (method, serve, k): each method audits at ITS OWN serve depth —
    // graph and hotprobe serve KnnK=3 neighbors per query, the rest
    // RecallK=5, so a flat hits/RecallK would structurally cap the k=3
    // methods at 600‰ and make rows incomparable without out-of-band
    // knowledge. recall_permil therefore divides by min(RecallK, k):
    // for k = RecallK this IS recall@5; for k < RecallK it is the
    // served list's hit rate against the exact top-RecallK — the
    // comparable per-method number. The k column makes the depth
    // explicit in the report itself.
    recallReportOverLazy(s, dir, Seq(
      ("adaptive", () => annAdaptive(s, dir), RecallK),
      ("graph", () => annGraphSearch(s, dir), KnnK),
      // hotprobe serves the whole corpus as queries (it IS the kNN
      // builder); the audit reads its panel slice of the same output
      ("hotprobe", () => annKnnHotprobe(s, dir).filter(col("query_id") < AnnPanel), KnnK),
      ("ivf", () => annIvf(s, dir), RecallK),
      ("ivfpq", () => annIvfPq(s, dir), RecallK),
      ("lsh", () => annLsh(s, dir), RecallK),
      ("pq", () => annPq(s, dir), RecallK),
      // scann next to pq: same codebooks, anisotropic codes — the two
      // rows price the assignment change directly on the QA board
      ("scann", () => annScann(s, dir), RecallK),
      ("binary", () => annBinary(s, dir), RecallK)))
  }

  private def annRecallReportSql: String =
    s"""WITH exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM ($annBruteforceSql)),
       |m_adaptive AS (SELECT query_id, neighbor_id FROM ($annAdaptiveSql)),
       |m_graph AS (SELECT query_id, neighbor_id FROM ($annGraphSearchSql)),
       |m_hotprobe AS (SELECT query_id, neighbor_id FROM ($annKnnHotprobeSql) WHERE query_id < $AnnPanel),
       |m_ivf AS (SELECT query_id, neighbor_id FROM ($annIvfSql)),
       |m_ivfpq AS (SELECT query_id, neighbor_id FROM ($annIvfPqSql)),
       |m_lsh AS (SELECT query_id, neighbor_id FROM ($annLshSql)),
       |m_pq AS (SELECT query_id, neighbor_id FROM ($annPqSql)),
       |m_scann AS (SELECT query_id, neighbor_id FROM ($annScannSql)),
       |m_binary AS (SELECT query_id, neighbor_id FROM ($annBinarySql)),
       |approx AS (
       |  SELECT 'adaptive' AS method, * FROM m_adaptive
       |  UNION ALL SELECT 'graph' AS method, * FROM m_graph
       |  UNION ALL SELECT 'hotprobe' AS method, * FROM m_hotprobe
       |  UNION ALL SELECT 'ivf' AS method, * FROM m_ivf
       |  UNION ALL SELECT 'ivfpq' AS method, * FROM m_ivfpq
       |  UNION ALL SELECT 'lsh' AS method, * FROM m_lsh
       |  UNION ALL SELECT 'pq' AS method, * FROM m_pq
       |  UNION ALL SELECT 'scann' AS method, * FROM m_scann
       |  UNION ALL SELECT 'binary' AS method, * FROM m_binary),
       |hits AS (
       |  SELECT ms.method, ms.k, e.query_id,
       |         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS hits
       |  FROM exact e
       |  CROSS JOIN (SELECT * FROM (VALUES ('adaptive', $RecallK),
       |    ('graph', $KnnK), ('hotprobe', $KnnK),
       |    ('ivf', $RecallK), ('ivfpq', $RecallK), ('lsh', $RecallK),
       |    ('pq', $RecallK), ('scann', $RecallK),
       |    ('binary', $RecallK)) AS t(method, k)) ms
       |  LEFT JOIN approx a ON a.method = ms.method
       |    AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1, 2, 3)
       |SELECT method, k, query_id, hits,
       |       CAST((CAST(hits AS BIGINT) * 1000) // least($RecallK, k) AS BIGINT) AS recall_permil
       |FROM hits ORDER BY method, query_id""".stripMargin

  // --- retrieval_rrf: hybrid sparse+dense retrieval ---------------------
  // The RAG serve shape: every query runs BOTH a sparse (BM25 over an
  // inverted index) and a dense (embedding cosine) retrieval, and the
  // two rankings fuse by Reciprocal Rank Fusion (Cormack et al. 2009)
  // — rrf(d) = Σ_side 1/(K + rank_side(d)) — which needs no score
  // calibration between the two spaces. Query panel = docs 0-4, whose
  // embeddings are the dense queries (doc_id ≡ vec_id in this lake)
  // and whose [[RrfTerms]] RAREST distinct tokens (global df ASC — the
  // WAND-style query-term pruning every sparse engine applies) are the
  // sparse queries. Scale shape: the sparse side is a POSTING-LIST
  // join — query terms against the (word, doc, tf) inverted index, so
  // cost is Σ_t df(t) over 8 deliberately-rare terms, never a corpus
  // scan per query; the dense side reuses the two-phase exact top-k
  // (broadcast panel, codegen'd fast dot, decimal rescore of ≤64
  // survivors); fusion joins two bounded top-[[RrfPoolK]] pools.
  // Portability (§4): per-(query,doc) BM25 term contributions are cast
  // DECIMAL(38,12) per row and summed exactly — term-arrival order
  // (which a distributed groupBy cannot fix) never perturbs the
  // double; idf is text_bm25's log-free rational form; the RRF scores
  // themselves are pure integer arithmetic — floor(10⁶/(K+rank)).

  private val RrfPanel = 5     // query docs 0..4
  private val RrfTerms = 8     // rarest distinct tokens per query
  private val RrfPoolK = 20    // per-side candidate pool depth
  private val RrfDamp = 60     // the published K = 60 dampening constant
  private val RrfTopK = 10
  private val RrfK1 = 1.2
  private val RrfB = 0.75

  private def retrievalRrf(s: SparkSession, dir: String): DataFrame =
    retrievalRrfOver(s, dir,
      CorpusIndex.postings(s, dir), CorpusIndex.docLengths(s, dir),
      CorpusIndex.docFreq(s, dir), CorpusIndex.stats(s, dir))

  /** RRF over EXPLICIT inverted-index frames — the registry op feeds
    * the memoized [[CorpusIndex]] build; the maintained index lake's
    * serve ([[graft.streaming.StreamingJobs.rrfIndexSearch]]) feeds the
    * lake tables. One definition, so the two serve surfaces cannot
    * drift (StreamingSpec pins their equality over the union corpus). */
  private[graft] def retrievalRrfOver(s: SparkSession, dir: String,
      tf: DataFrame, dl: DataFrame, dfreq: DataFrame,
      stats: DataFrame): DataFrame = {
    val mk = graft.plans.TopKPerGroup.MarkerPrefix

    // dense side: exact two-phase top-RrfPoolK for the panel embeddings
    val v = withNorm2(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") < RrfPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
    val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    val dense = exactTopK(pairs, RrfPoolK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("rank_dense"))

    // sparse side: posting-list join over the inverted index. Join
    // directions are the 100 TB ones: the corpus-sized artifacts (the
    // (word, doc, tf) postings, the vocabulary-sized df table, the
    // per-doc dl column) NEVER shuffle — the bounded panel/candidate
    // side broadcasts into each of them. The index frames are build
    // state (memoized [[CorpusIndex]] or the maintained lake) — built
    // once per corpus snapshot, never re-derived per query;
    // text_bm25_topk reads the same tables, so the BM25 surfaces share
    // one definition.
    val wq = Window.partitionBy("query_id").orderBy(col("df"), col("word"))
    val qtok = Tables.documents(s, dir).filter(col("doc_id") < RrfPanel)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
    // qterms feeds TWO consumers (the semi-prefilter's distinct word
    // set and the exact candidates join) — materialize the bounded
    // (panel × RrfTerms)-row frame so the vocabulary-scale df join +
    // window doesn't derive twice (AQE non-reuse, SURVEY §5)
    val qterms = dfreq.join(broadcast(qtok), "word")
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= RrfTerms)
      .select("query_id", "word", "df")
      .transform(graft.functions.memoize)
    val idf = (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
      (col("df") + lit(0.5))
    val contrib = idf * (col("tf") * lit(RrfK1 + 1.0)) /
      (col("tf") + lit(RrfK1) * (lit(1.0 - RrfB) + lit(RrfB) * col("dl") / col("avgdl")))
    val ws = Window.partitionBy("query_id").orderBy(col("bm25_raw").desc, col("doc_id"))
    // r31's runtime-filter pattern on the postings scan: the term set
    // is JOIN-DERIVED (df-ranked), so unlike bm25's literal isin it
    // pushes nothing into the scan by itself — broadcast the bounded
    // distinct term set as a LEFT-SEMI prefilter first, the exact
    // inner join below still deciding. On the maintained lake the
    // postings carry their `word_bucket` partition column, so the
    // semi-join includes it and the scan prunes FILES at runtime
    // (DPP over the broadcast); on the memoized batch index it
    // prunes rows before the fatter qterms join.
    val qwords = qterms.select("word").distinct()
    val tfPruned =
      if (tf.columns.contains("word_bucket"))
        tf.join(broadcast(qwords.withColumn("word_bucket",
            CorpusIndex.wordBucket(col("word")))),
          Seq("word_bucket", "word"), "left_semi").drop("word_bucket")
      else tf.join(broadcast(qwords), Seq("word"), "left_semi")
    val candidates = tfPruned.join(broadcast(qterms), "word")
      .filter(col("doc_id") =!= col("query_id"))
    val sparse = dl.join(broadcast(candidates), "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(contrib.cast(DecimalType(38, 12))).cast(DoubleType).as("bm25_raw"))
      .withColumn(s"${mk}rs", row_number().over(ws).cast(IntegerType))
      .filter(col(s"${mk}rs") <= RrfPoolK)
      .select(col("query_id"), col("doc_id"), col(s"${mk}rs").as("rank_sparse"))

    // reciprocal-rank fusion over the two bounded pools
    val wf = Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("doc_id"))
    dense.join(sparse, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score", expr(
        s"coalesce(1000000L div (${RrfDamp}L + rank_dense), 0L) + " +
          s"coalesce(1000000L div (${RrfDamp}L + rank_sparse), 0L)"))
      .withColumn("rrf_rank", row_number().over(wf).cast(IntegerType))
      .filter(col("rrf_rank") <= RrfTopK)
      .select(col("query_id"), col("doc_id"), col("rank_dense"),
        col("rank_sparse"), col("rrf_score"), col("rrf_rank"))
      .orderBy("query_id", "rrf_rank")
  }

  private def retrievalRrfSql: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |dscored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS doc_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
       |  FROM v q JOIN v ON q.vec_id < $RrfPanel AND v.vec_id <> q.vec_id),
       |dense AS (
       |  SELECT query_id, doc_id, rank_dense FROM (
       |    SELECT query_id, doc_id,
       |           CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos_raw DESC, doc_id) AS INTEGER) AS rank_dense
       |    FROM dscored)
       |  WHERE rank_dense <= $RrfPoolK),
       |words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |         CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |qtok AS (
       |  SELECT doc_id AS query_id, unnest(list_distinct(string_split(text, ' '))) AS word
       |  FROM documents WHERE doc_id < $RrfPanel),
       |qterms AS (
       |  SELECT query_id, word, df FROM (
       |    SELECT q.query_id, q.word, f.df,
       |           row_number() OVER (PARTITION BY q.query_id
       |             ORDER BY f.df, q.word) AS rn
       |    FROM qtok q JOIN dfreq f USING (word))
       |  WHERE rn <= $RrfTerms),
       |contrib AS (
       |  SELECT t.query_id, p.doc_id,
       |         CAST(((CAST(n_docs AS DOUBLE) - t.df + 0.5) / (t.df + 0.5)) *
       |              (p.tf * CAST(${RrfK1 + 1.0} AS DOUBLE)) /
       |              (p.tf + CAST($RrfK1 AS DOUBLE) *
       |                ((1.0 - $RrfB) + $RrfB * d.dl / s.avgdl))
       |           AS DECIMAL(38,12)) AS c
       |  FROM qterms t JOIN tf p USING (word)
       |       JOIN dl d ON d.doc_id = p.doc_id, stats s
       |  WHERE p.doc_id <> t.query_id),
       |sscored AS (
       |  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS bm25_raw
       |  FROM contrib GROUP BY 1, 2),
       |sparse AS (
       |  SELECT query_id, doc_id, rank_sparse FROM (
       |    SELECT query_id, doc_id,
       |           CAST(row_number() OVER (PARTITION BY query_id
       |             ORDER BY bm25_raw DESC, doc_id) AS INTEGER) AS rank_sparse
       |    FROM sscored)
       |  WHERE rank_sparse <= $RrfPoolK),
       |fused AS (
       |  SELECT COALESCE(d.query_id, s.query_id) AS query_id,
       |         COALESCE(d.doc_id, s.doc_id) AS doc_id,
       |         d.rank_dense, s.rank_sparse,
       |         CAST(COALESCE(1000000 // ($RrfDamp + d.rank_dense), 0) +
       |              COALESCE(1000000 // ($RrfDamp + s.rank_sparse), 0) AS BIGINT) AS rrf_score
       |  FROM dense d FULL JOIN sparse s
       |    ON d.query_id = s.query_id AND d.doc_id = s.doc_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rrf_rank
       |  FROM fused)
       |SELECT query_id, doc_id, rank_dense, rank_sparse, rrf_score, rrf_rank
       |FROM ranked WHERE rrf_rank <= $RrfTopK
       |ORDER BY query_id, rrf_rank""".stripMargin

  // --- retrieval_mmr_rerank: maximal marginal relevance ----------------
  // The OTHER retrieval post-processor next to RRF's fusion: MMR
  // (Carbonell & Goldstein 1998), the diversification pass every RAG
  // serving stack runs between retrieval and the context window —
  // greedy selection maximizing λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s),
  // so near-duplicate hits don't crowd out coverage. Pool = the exact
  // top-[[MmrPool]] per panel query (the auditable baseline; in
  // production the pool comes from any index serve path — the rerank
  // is agnostic to its source). The 100 TB economics ARE the op:
  // selection touches only pool² pairwise similarities per query
  // (≤16² bounded rows), never the corpus — the greedy loop is
  // [[MmrK]] unrolled bounded rounds (the k-center convention, one
  // argmax window each). Determinism (§4): rel and sim are round6'd
  // exact-decimal cosines, the MMR combination is IEEE double
  // arithmetic on those fixed values with neighbor_id tie-breaks, so
  // the DuckDB oracle replays the greedy unrolled bit-for-bit.

  private val MmrPool = 16
  private val MmrK = 5
  private val MmrLambda = 0.7
  private val MmrDiv = 0.3 // 1 − λ, kept literal so both engines agree

  private def retrievalMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"))
    val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    // pool + sim each feed every greedy round -> one materialization
    val pool = exactTopK(pairs, MmrPool)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").as("rel"))
      .transform(graft.functions.memoize)
    val pv = pool.select("query_id", "neighbor_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("n2")), "neighbor_id")
    val sim = pv.as("a").join(pv.as("b"),
        col("a.query_id") === col("b.query_id") &&
        col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.neighbor_id").as("id_a"), col("b.neighbor_id").as("id_b"),
        round6(cosine(
          graft.plans.VecDotProduct.vec_dot_exact(
            col("a.embedding"), col("b.embedding")),
          col("a.n2"), col("b.n2"))).as("sim"))
      // single-consumer since the r17 driver-side greedy (one collect)
      // — no memoize: a localCheckpoint would only add a second
      // materialization of the same pool²-bounded frame
    // r17: the K greedy rounds run DRIVER-SIDE on the collected pool
    // and pairwise-sim tables — both PANEL-BOUNDED by construction
    // (panel × MmrPool and panel × MmrPool² rows, independent of
    // corpus size; the corpus-scale work — the exact top-MmrPool pool
    // and the pairwise sims above — stays distributed). The former
    // in-engine rounds cost K·(anti-join + join + window + checkpoint)
    // sequential Spark jobs of ≤pool-size frames: pure scheduling
    // overhead at every scale (and the pre-r17 comment's 2^K
    // un-checkpointed blow-up class disappears outright). The greedy
    // arithmetic is the oracle CTEs' own, replayed exactly: mmr_raw =
    // λ·rel − δ·maxsim on IEEE doubles (rel/sim enter already
    // round6'd), max over the selected set, argmax by (mmr_raw DESC,
    // neighbor_id ASC), candidates lacking a sim row to any selected
    // id excluded (the former inner join) — oracle re-verified
    // hash-exact at sf0.001/0.01/0.1.
    val poolRows = pool.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simMap = sim.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int, Double, Double)]
    poolRows.groupBy(_._1).foreach { case (q, cands) =>
      // (neighbor_id, score) argmax with the engines' tie rule
      def best(xs: Iterable[(Long, Double)]): Option[(Long, Double)] =
        xs.reduceOption { (a, b) =>
          val c = java.lang.Double.compare(a._2, b._2)
          if (c > 0 || (c == 0 && a._1 < b._1)) a else b
        }
      val rel = cands.map(c => c._2 -> c._3).toMap
      var selected = List.empty[Long]
      for (r <- 1 to MmrK) {
        val scored: Seq[(Long, Double)] =
          if (r == 1) cands.toSeq.map(c => (c._2, c._3))
          else cands.iterator
            .filter(c => !selected.contains(c._2))
            .flatMap { c =>
              val sims = selected.flatMap(b => simMap.get((q, c._2, b)))
              if (sims.isEmpty) None
              else Some((c._2, MmrLambda * c._3 - MmrDiv * sims.max))
            }.toSeq
        best(scored).foreach { case (n, raw) =>
          out += ((q, n, r,
            rel(n), if (r == 1) MmrLambda * raw else raw))
          selected = n :: selected
        }
      }
    }
    s.createDataFrame(out.toSeq)
      .toDF("query_id", "neighbor_id", "mmr_rank", "rel", "mmr_raw")
      .select(col("query_id"), col("neighbor_id"), col("mmr_rank"),
        col("rel").as("relevance"), round6(col("mmr_raw")).as("mmr_score"))
      .orderBy("query_id", "mmr_rank")
  }

  private def retrievalMmrRerankSql: String = {
    def selCte(r: Int): String =
      s"""sel$r AS (
         |  SELECT query_id, neighbor_id, $r AS mmr_rank, rel, mmr_raw FROM (
         |    SELECT c.query_id, c.neighbor_id, c.rel,
         |           $MmrLambda * c.rel - $MmrDiv * ms.maxsim AS mmr_raw,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY $MmrLambda * c.rel - $MmrDiv * ms.maxsim DESC,
         |                      c.neighbor_id) AS rn
         |    FROM pool c
         |    JOIN (SELECT s2.query_id, s2.id_a AS neighbor_id,
         |                 max(s2.sim) AS maxsim
         |          FROM simm s2 JOIN acc${r - 1} s
         |            ON s2.query_id = s.query_id AND s2.id_b = s.neighbor_id
         |          GROUP BY 1, 2) ms
         |      USING (query_id, neighbor_id)
         |    LEFT JOIN acc${r - 1} x
         |      ON x.query_id = c.query_id AND x.neighbor_id = c.neighbor_id
         |    WHERE x.neighbor_id IS NULL)
         |  WHERE rn = 1),
         |acc$r AS (SELECT * FROM acc${r - 1}
         |          UNION ALL SELECT query_id, neighbor_id FROM sel$r)""".stripMargin
    val selCtes = (2 to MmrK).map(selCte).mkString(",\n")
    val unions = (1 to MmrK).map(r => s"SELECT * FROM sel$r")
      .mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       |         ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
       |  FROM v q JOIN v ON q.vec_id < $AnnPanel AND v.vec_id <> q.vec_id),
       |pool AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, ${round6Sql("cos_raw")} AS rel
       |  FROM (SELECT query_id, neighbor_id, cos_raw,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY cos_raw DESC, neighbor_id) AS rn
       |        FROM scored)
       |  WHERE rn <= $MmrPool),
       |pv AS (SELECT p.query_id, p.neighbor_id, v.embedding, v.n2
       |       FROM pool p JOIN v ON v.vec_id = p.neighbor_id),
       |simm AS MATERIALIZED (
       |  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
       |         ${round6Sql(s"${ddotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2))")} AS sim
       |  FROM pv a JOIN pv b
       |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id),
       |sel1 AS (
       |  SELECT query_id, neighbor_id, 1 AS mmr_rank, rel,
       |         $MmrLambda * rel AS mmr_raw
       |  FROM (SELECT query_id, neighbor_id, rel,
       |          row_number() OVER (PARTITION BY query_id
       |            ORDER BY rel DESC, neighbor_id) AS rn
       |        FROM pool)
       |  WHERE rn = 1),
       |acc1 AS (SELECT query_id, neighbor_id FROM sel1),
       |$selCtes
       |SELECT query_id, neighbor_id, mmr_rank, rel AS relevance,
       |       ${round6Sql("mmr_raw")} AS mmr_score
       |FROM ($unions)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  // --- corpus_coreset_kcenter: greedy k-center coreset selection -------
  // The DIVERSITY leg of the data-selection family (SemDeDup removes
  // redundancy, DSIR matches a target distribution; k-center coverage
  // picks maximally-spread exemplars — the classic coreset/active-
  // learning selection, Gonzalez 1985 with its 2-approximation
  // guarantee): K rounds of "select the vector farthest from the
  // current set", distance = cosine distance, maintained as a per-
  // vector running minimum. Scale shape: each round is ONE narrow scan
  // (update mind against the single broadcast new center) + ONE
  // TakeOrdered(1) argmax — never a pairwise matrix; the loop
  // localCheckpoints per round (the pagerank convention) so K rounds
  // don't nest into one mega-plan; nothing is collected to the driver
  // — the selected-center frames are 1-row DataFrames joined back in.
  // Determinism (§4): distances are exact-decimal cosines, argmax ties
  // break on vec_id, so the DuckDB oracle unrolls the K rounds as
  // chained CTEs (the IVF-Lloyd replay pattern) bit-for-bit.

  private val CoresetK = 8

  private def corpusCoreset(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.VecDotProduct.vec_dot_exact
    val v = withNorm2(Tables.embeddings(s, dir))
      .select("vec_id", "embedding", "n2")
    def distTo(cEmb: Column, cN2: Column): Column =
      lit(1.0) - cosine(vec_dot_exact(col("embedding"), cEmb), col("n2"), cN2)
    // round 1: the minimum vec_id (the conventional arbitrary start)
    val c1 = v.orderBy("vec_id").limit(1).transform(graft.functions.memoize)
    var selected = List(c1.select(col("vec_id"),
      lit(1).as("sel_round"), lit(null).cast(DoubleType).as("radius")))
    var lastCenter = c1
    var cur = v // acquires `mind` after round 1's update
    for (r <- 2 to CoresetK) {
      val c = lastCenter
        .select(col("embedding").as("c_emb"), col("n2").as("cn2"))
      val d = distTo(col("c_emb"), col("cn2"))
      cur = cur.crossJoin(broadcast(c))
        .withColumn("mind",
          if (r == 2) d else least(col("mind"), d))
        .drop("c_emb", "cn2")
        .transform(graft.functions.memoize)
      val next = cur
        .orderBy(col("mind").desc, col("vec_id")).limit(1).transform(graft.functions.memoize)
      selected ::= next.select(col("vec_id"),
        lit(r).as("sel_round"), round6(col("mind")).as("radius"))
      lastCenter = next
    }
    selected.reverse.reduce(_.unionByName(_))
      .select("sel_round", "vec_id", "radius")
      .orderBy("sel_round")
  }

  private def corpusCoresetSql: String = {
    def dist(ve: String, vn: String, ce: String, cn: String) =
      s"1.0 - ${ddotSql(ve, ce)} / (sqrt($vn) * sqrt($cn))"
    val rounds = (2 to CoresetK).map { r =>
      val prev = if (r == 2)
        s"""m2 AS (
           |  SELECT v.vec_id, v.embedding, v.n2,
           |         ${dist("v.embedding", "v.n2", "c.embedding", "c.n2")} AS mind
           |  FROM v, c1 c)"""
      else
        s"""m$r AS (
           |  SELECT m.vec_id, m.embedding, m.n2,
           |         least(m.mind,
           |           ${dist("m.embedding", "m.n2", "cv.embedding", "cv.n2")}) AS mind
           |  FROM m${r - 1} m,
           |       (SELECT v.* FROM v JOIN c${r - 1} USING (vec_id)) cv)"""
      val pick =
        s"""c$r AS (
           |  SELECT vec_id, mind FROM m$r ORDER BY mind DESC, vec_id LIMIT 1)"""
      s"${prev.stripMargin},\n${pick.stripMargin}"
    }.mkString(",\n")
    val out = (2 to CoresetK).map(r =>
      s"UNION ALL SELECT $r AS sel_round, vec_id, ${round6Sql("mind")} AS radius FROM c$r")
      .mkString("\n")
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |c1 AS (SELECT vec_id, embedding, n2 FROM v ORDER BY vec_id LIMIT 1),
       |$rounds
       |SELECT * FROM (
       |SELECT 1 AS sel_round, vec_id, CAST(NULL AS DOUBLE) AS radius FROM c1
       |$out)
       |ORDER BY sel_round""".stripMargin
  }

  // --- ann_binary_topk: 1-bit sign quantization + Hamming rerank ------
  // The tightest compression tier in the serving family: each dimension
  // keeps ONE bit (x_d > corpus mean_d), packed 32 dims per long word —
  // a 64-dim float vector becomes two BIGINT words (256 bytes → 16, a
  // 16× scan reduction below even PQ's 8 codes) and candidate scoring
  // becomes XOR + popcount: pure integer ops inside WholeStageCodegen,
  // no lookup table, no float math until the rerank. Binary-quantize +
  // oversampled exact rescore is the production standard of the
  // current vector-DB generation; two-phase like every ANN op here —
  // the Hamming-ranked top-[[PrefilterBuffer]] survivors get the
  // exact-decimal rescore in [[rescoreTopK]]. Engine-portable end to
  // end: per-dim means are [[graft.functions.fsum12]] fixed-point
  // reductions, the sign test compares identical doubles, and packing
  // sums distinct powers of two below 2^32 per word (so even DuckDB's
  // HUGEINT sum casts back to BIGINT exactly; bit 63 never exists —
  // DuckDB's `<<` range-checks where a long would wrap). Recall vs
  // bruteforce pinned in DedupSpec. At 100 TB the signature table IS
  // the index: 16 bytes/vector scans from memory where the float
  // corpus cannot, and the build is two narrow corpus passes (a d-group
  // mean and a (vector, word)-group pack), both map-side combinable.

  /** 64 dims packed 32 per word (embedding dim / 32) — like [[PqD]],
    * the repo-wide d=64 assumption stated as a constant. */
  private val BqWords = 2

  private def bqDims(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast(DoubleType).as("x"))

  /** The quantizer TRAIN half: per-dim corpus means — d groups,
    * fixed-point sums (order-free exact, so the sign threshold is
    * bit-portable to the oracle). */
  private[graft] def bqMeans(v: DataFrame): DataFrame =
    bqDims(v).groupBy("i")
      .agg((graft.functions.fsum12(col("x")) / count(lit(1))).as("m"))

  /** The ASSIGN half: pack sign bits against a FIXED means table —
    * per-vector and order-free, so the streaming append path is
    * exactly this call on each micro-batch against the frozen
    * quantizer. Input v needs (vec_id, embedding, n2); output adds
    * `sig`. */
  private[graft] def bqPackWith(v: DataFrame, means: DataFrame): DataFrame = {
    val sig = bqDims(v).join(broadcast(means), "i")
      .select(col("vec_id"), (col("i") / 32).cast("int").as("word"),
        when(col("x") > col("m"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 32 AS INT))"))
          .otherwise(lit(0L)).as("b"))
      .groupBy("vec_id", "word").agg(sum(col("b")).as("w"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("word"), col("w")))),
        e => e.getField("w")).as("sig"))
    v.join(sig, "vec_id")
  }

  /** Signature table build — a maintenance job memoized per
    * (application, corpus) like the IVF/PQ indexes: (vec_id, embedding,
    * n2, sig) with `sig` the [[BqWords]]-long packed sign bits. */
  def buildBinaryIndex(s: SparkSession, dir: String): DataFrame =
    graft.etl.TableStats.build(s, dir, "bq") {
      val v = withNorm2(Tables.embeddings(s, dir))
      bqPackWith(v, bqMeans(v)).transform(graft.functions.memoize)
    }

  /** Corpus-derived exact-rerank budget: a 64-bit signature's hamming
    * shells crowd linearly with n, so a FIXED candidate count decays
    * in recall as the corpus grows — measured top-5 recall at n=2000:
    * C=64 → 0.50, 128 → 0.70, 250 → 0.84, 500 → 0.98. C = max(64,
    * ⌈n/8⌉) capped at [[BqRerankCap]]: ~12.5 % oversampling while the
    * corpus is small (recall ≥ 0.84 at every test scale), a vanishing
    * fraction once n ≫ 8k — past the cap the honest remedy is more
    * signature bits per dimension, not more rerank volume (the
    * popcount scan stays the dominant cost; the cap bounds per-query
    * float work). Pure integer arithmetic so the oracle CTE replays
    * the derivation exactly. */
  private val BqRerankCap = 1024
  private def bqRerankFor(n: Long): Int =
    math.min(BqRerankCap.toLong, math.max(PrefilterBuffer.toLong, (n + 7) / 8)).toInt

  /** The SERVE half over an explicit signature index (vec_id,
    * embedding, n2, sig) and signed queries (query_id, q_emb, qn2,
    * qsig) — shared by the registry op (memoized build, panel queries)
    * and the maintained signature lake's search. */
  private[graft] def bqServe(idx: DataFrame,
      q: DataFrame, rerank: Int, k: Int = 5): DataFrame = {
    // statically unrolled popcount over the BqWords packed words —
    // element_at/xor/bit_count are codegen'd primitives, no HOF
    val ham = (1 to BqWords).map(w =>
      bit_count(element_at(col("sig"), w).bitwiseXOR(element_at(col("qsig"), w))))
      .reduce(_ + _)
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val hw = Window.partitionBy("query_id").orderBy(col("ham"), col("neighbor_id"))
    val cand = idx.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"), ham.as("ham"))
      .withColumn(s"${mk}hr", row_number().over(hw))
      .filter(col(s"${mk}hr") <= rerank)
      .drop(s"${mk}hr", "ham")
    // exact rerank of ALL C candidates via the shared two-phase
    // machinery (float-cosine prefilter → exact decimal): bit-identical
    // to exact-everywhere over the candidate set, so the oracle only
    // replays the hamming stage and the exact top-5
    exactTopK(cand, k)
  }

  /** [[bqRerankFor]] for callers that already hold the corpus count —
    * the signature lake's search sizes its rerank from the lake's own
    * row count. */
  private[graft] def bqRerankForCount(n: Long): Int = bqRerankFor(n)

  private def annBinary(s: SparkSession, dir: String): DataFrame = {
    val idx = buildBinaryIndex(s, dir)
    val q = idx.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("qn2"), col("sig").as("qsig"))
    bqServe(idx, q, bqRerankFor(embCount(s, dir)))
  }

  /** Full DuckDB twin: mean/pack/popcount-rank/exact-rerank — unlike
    * the float-`fast` ANN ops (where the prefilter is bit-identical to
    * exact-everywhere), the Hamming top-[[PrefilterBuffer]] here is
    * REAL candidate semantics, so the oracle replays it explicitly. */
  private val annBinarySql: String = {
    import graft.functions.fsum12Sql
    s"""WITH v AS (
       |  SELECT vec_id, embedding, ${norm2Sql("embedding")} AS n2 FROM embeddings),
       |dims AS (
       |  SELECT vec_id, CAST(i AS INTEGER) - 1 AS i0,
       |         CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x
       |  FROM (SELECT vec_id, embedding,
       |          unnest(generate_series(1, len(embedding))) AS i FROM v)),
       |bq AS (
       |  SELECT LEAST($BqRerankCap, GREATEST($PrefilterBuffer,
       |           (count(*) + 7) // 8)) AS rr FROM embeddings),
       |m AS (
       |  SELECT i0, ${fsum12Sql("x")} / count(*) AS m FROM dims GROUP BY i0),
       |sig AS (
       |  SELECT vec_id, i0 // 32 AS word,
       |         CAST(sum(CASE WHEN d.x > m.m
       |           THEN (CAST(1 AS BIGINT) << CAST(i0 % 32 AS INTEGER))
       |           ELSE 0 END) AS BIGINT) AS w
       |  FROM dims d JOIN m USING (i0)
       |  GROUP BY vec_id, word),
       |ham AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         sum(bit_count(xor(q.w, c.w))) AS hd
       |  FROM sig q JOIN sig c ON q.word = c.word
       |  WHERE q.vec_id < $AnnPanel AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY hd, neighbor_id) AS rn
       |    FROM ham) WHERE rn <= (SELECT rr FROM bq)),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         ${ddotSql("q.embedding", "n.embedding")} / (sqrt(q.n2) * sqrt(n.n2)) AS cos_raw
       |  FROM cand c
       |  JOIN v q ON q.vec_id = c.query_id
       |  JOIN v n ON n.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_raw,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, ${round6Sql("cos_raw")} AS cos_sim
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  // --- embedding_outliers: per-cluster centroid-distance screen -------
  // Embedding-space quality control for a training corpus: vectors far
  // from their own IVF cluster centroid are the corrupt/mislabeled/
  // out-of-distribution candidates — the embedding-side sibling of the
  // text quality gates, and the screen a 100 TB embedding lake runs
  // before (not after) paying for training. Rides the SAME memoized
  // IVF build as ann_ivf_topk / dedup_semantic (one quantizer serves
  // search, dedup, and QC), so the op itself is one narrow pass over
  // the self-contained index rows (dist² = n2 + cn2 − 2·x·c, exact-
  // decimal dot), a k-group fixed-point moment pass, and a broadcast
  // join-back. Verdict: dist > μ_cluster + 2σ_cluster — per-cluster
  // adaptive (a tight cluster flags at a radius a diffuse one
  // tolerates), the same portable z-screen family as q21_anomaly; σ=0
  // degenerate clusters flag nothing and report z=0.

  /** (vec_id, list_id, dist) over a self-contained index frame —
    * dist² = n2 + cn2 − 2·x·c with the exact-decimal dot, sqrt clamped
    * at 0. Shared by the batch screen and the streaming gate. */
  private[graft] def centroidDists(index: DataFrame): DataFrame = {
    val dist2 = col("n2") + col("cn2") -
      lit(2.0) * graft.plans.VecDotProduct.vec_dot_exact(col("embedding"), col("cent"))
    index.select(col("vec_id"), col("list_id"),
      sqrt(greatest(dist2, lit(0.0))).as("dist"))
  }

  /** Per-cluster distance moments (list_id, mu, sigma, cluster_n) —
    * the screen's thresholds; frozen as a lake table by the streaming
    * gate's bootstrap ([[graft.streaming.StreamingJobs
    * .outlierMomentsInit]]). */
  private[graft] def clusterMoments(d: DataFrame): DataFrame =
    d.groupBy("list_id").agg(
        (graft.functions.fsum12(col("dist")) / count(lit(1))).as("mu"),
        (graft.functions.fsum12(col("dist") * col("dist")) / count(lit(1))).as("m2"),
        count(lit(1)).as("cluster_n"))
      .withColumn("sigma", sqrt(greatest(col("m2") - col("mu") * col("mu"), lit(0.0))))
      .drop("m2")

  /** The screen over any self-contained index frame (vec_id, list_id,
    * embedding, n2, cent, cn2) — the registry op feeds the memoized
    * IVF index; DedupSpec feeds a hand-built index with a planted
    * outlier. */
  private[graft] def outlierScreen(index: DataFrame): DataFrame = {
    // multi-consumer derived stream (moments + join-back) → materialize
    val d = centroidDists(index).transform(graft.functions.memoize)
    d.join(broadcast(clusterMoments(d)), "list_id")
      .select(col("vec_id"), col("list_id"), round6(col("dist")).as("dist"),
        round6(when(col("sigma") > 0, (col("dist") - col("mu")) / col("sigma"))
          .otherwise(lit(0.0))).as("z"),
        (col("sigma") > 0 && col("dist") > col("mu") + lit(2.0) * col("sigma"))
          .as("is_outlier"),
        col("cluster_n"))
      .orderBy("vec_id")
  }

  private def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val (_, index) = buildIvfIndex(s, dir)
    outlierScreen(index)
  }

  private val embeddingOutliersSql: String = {
    import graft.functions.fsum12Sql
    s"""WITH $ivfQuantizerCtes,
       |cn AS (SELECT cid, cent, ${ddotSql("cent", "cent")} AS cn2 FROM $ivfLastCentCte),
       |dists AS (
       |  SELECT a.vec_id, a.list_id,
       |         sqrt(GREATEST(v.nn + c.cn2 - 2.0 * ${ddotSql("v.embedding", "c.cent")}, 0.0)) AS dist
       |  FROM assigned a
       |  JOIN v ON v.vec_id = a.vec_id
       |  JOIN cn c ON c.cid = a.list_id),
       |mo AS (
       |  SELECT list_id, ${fsum12Sql("dist")} / count(*) AS mu,
       |         ${fsum12Sql("dist * dist")} / count(*) AS m2,
       |         count(*) AS cluster_n
       |  FROM dists GROUP BY list_id),
       |sg AS (SELECT list_id, mu, cluster_n,
       |         sqrt(GREATEST(m2 - mu * mu, 0.0)) AS sigma FROM mo)
       |SELECT d.vec_id, d.list_id, ${round6Sql("d.dist")} AS dist,
       |       ${round6Sql("CASE WHEN s.sigma > 0 THEN (d.dist - s.mu) / s.sigma ELSE 0.0 END")} AS z,
       |       (s.sigma > 0 AND d.dist > s.mu + 2.0 * s.sigma) AS is_outlier,
       |       s.cluster_n
       |FROM dists d JOIN sg s USING (list_id)
       |ORDER BY d.vec_id""".stripMargin
  }

  // --- embedding_matryoshka: dimension-ablation recall report ---------
  // The serving-dimensionality eval: how much exact-search recall
  // survives truncating every vector to its first t dimensions
  // (8/16/32/64 here) — the decision report behind Matryoshka-style
  // dimension reduction, where a pipeline trades index bytes and scan
  // flops against recall BEFORE committing to a serving width (the
  // same trade the 1-bit signatures make at the extreme). Each
  // truncation is an exact top-5 over sliced vectors through the
  // SAME two-phase machinery as ann_bruteforce (slice → re-norm →
  // fast-dot prefilter → exact-decimal rescore — bit-identical-to-
  // exact argument unchanged, so the oracle is the bruteforce CTE
  // over `embedding[1:t]`); recall rows ride [[recallReportOver]]'s
  // shared baseline and row shape, making ablation rows directly
  // comparable with the index-method rows of ann_recall_report. The
  // d=64 row is the identity anchor (1000‰ by construction). At
  // 100 TB the panel-sampled baseline argument is the recall
  // report's: exact cost per panel query, never per corpus vector.

  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  private def truncTopK(s: SparkSession, dir: String, t: Int): DataFrame = {
    val v = withNorm2(Tables.embeddings(s, dir)
      .select(col("vec_id"), slice(col("embedding"), 1, t).as("embedding")))
    val q = v.filter(col("vec_id") < AnnPanel)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("n2").as("qn2"))
    val pairs = v.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"), col("qn2"), col("n2"))
    exactTopK(pairs, RecallK)
  }

  private def embeddingMatryoshka(s: SparkSession, dir: String): DataFrame =
    recallReportOverLazy(s, dir,
      MatryoshkaDims.map(t => (s"d$t", () => truncTopK(s, dir, t), RecallK)))

  private val embeddingMatryoshkaSql: String = {
    def truncBrute(t: Int) =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         |           ${ddotSql("q.embedding", "v.embedding")} / (sqrt(q.n2) * sqrt(v.n2)) AS cos_raw
         |    FROM t$t q JOIN t$t v ON q.vec_id < $AnnPanel AND v.vec_id <> q.vec_id))
         |WHERE rank <= $RecallK""".stripMargin
    val slices = MatryoshkaDims.map(t =>
      s"""t$t AS (
         |  SELECT vec_id, embedding[1:$t] AS embedding,
         |         ${norm2Sql(s"embedding[1:$t]")} AS n2 FROM embeddings)""".stripMargin)
      .mkString(",\n")
    val methods = MatryoshkaDims.map(t =>
      s"m_d$t AS (${truncBrute(t)})").mkString(",\n")
    val union = MatryoshkaDims.map(t =>
      s"SELECT 'd$t' AS method, * FROM m_d$t").mkString("\n  UNION ALL ")
    val vals = MatryoshkaDims.map(t => s"('d$t', $RecallK)").mkString(", ")
    s"""WITH exact AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annBruteforceSql)),
       |$slices,
       |$methods,
       |approx AS (
       |  $union),
       |hits AS (
       |  SELECT ms.method, ms.k, e.query_id,
       |         CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER) AS hits
       |  FROM exact e
       |  CROSS JOIN (SELECT * FROM (VALUES $vals) AS t(method, k)) ms
       |  LEFT JOIN approx a ON a.method = ms.method
       |    AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY 1, 2, 3)
       |SELECT method, k, query_id, hits,
       |       CAST((CAST(hits AS BIGINT) * 1000) // least($RecallK, k) AS BIGINT) AS recall_permil
       |FROM hits ORDER BY method, query_id""".stripMargin
  }

  // --- corpus_cluster_topics: distinctive-term cards per IVF cluster --
  // The inspection step of semantic curation: after the quantizer
  // groups the corpus (SemDeDup clusters, IVF posting lists, mixture
  // bins), WHAT is in each cluster decides keep/drop/weight calls — so
  // every curation pipeline materializes per-cluster topic cards. One
  // op composes TWO memoized builds (the IVF assignment and the
  // inverted index's posting/df tables — nothing re-derived): posting
  // rows key to clusters through the doc→cluster map (doc_id ≡ vec_id
  // in this lake, the retrieval_rrf identity), one (cluster, word)
  // aggregate, a vocabulary-scale df join, and a top-[[TopicTerms]]
  // heap per cluster ranked by tf_cluster · rarity — the log-free
  // rational idf convention shared with text_bm25, so distinctiveness
  // is engine-portable without a transcendental. Scale shape: the
  // corpus-sized join shuffles on doc_id once; everything after is
  // (k·vocab)-bounded; no text travels past the posting table.

  private val TopicTerms = 5

  private def corpusClusterTopics(s: SparkSession, dir: String): DataFrame = {
    val mk = graft.plans.TopKPerGroup.MarkerPrefix
    val (_, index) = buildIvfIndex(s, dir)
    val assigned = index.select(col("vec_id").as("doc_id"), col("list_id"))
    val csize = assigned.groupBy("list_id").agg(count(lit(1)).as("cluster_docs"))
    val ct = CorpusIndex.postings(s, dir).join(assigned, "doc_id")
      .groupBy("list_id", "word").agg(sum(col("tf")).as("tf_cluster"))
    val scored = ct.join(CorpusIndex.docFreq(s, dir), "word")
      .crossJoin(broadcast(CorpusIndex.stats(s, dir).select("n_docs")))
      .withColumn("score", col("tf_cluster").cast(DoubleType) *
        (((col("n_docs") - col("df")).cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
    val w = Window.partitionBy("list_id").orderBy(col("score").desc, col("word"))
    scored.withColumn(s"${mk}tr", row_number().over(w).cast(IntegerType))
      .filter(col(s"${mk}tr") <= TopicTerms)
      .join(broadcast(csize), "list_id")
      .select(col("list_id"), col(s"${mk}tr").as("rank"), col("word"),
        col("tf_cluster"), col("df"), round6(col("score")).as("score"),
        col("cluster_docs"))
      .orderBy("list_id", "rank")
  }

  private val corpusClusterTopicsSql: String =
    s"""WITH $ivfQuantizerCtes,
       |words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tfd AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
       |dfreq AS (SELECT word, count(*) AS df FROM tfd GROUP BY 1),
       |nn AS (SELECT count(*) AS n_docs FROM documents),
       |csize AS (SELECT list_id, count(*) AS cluster_docs FROM assigned GROUP BY 1),
       |ct AS (
       |  SELECT a.list_id, t.word, CAST(sum(t.tf) AS BIGINT) AS tf_cluster
       |  FROM assigned a JOIN tfd t ON t.doc_id = a.vec_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.list_id, c.word, c.tf_cluster, f.df,
       |         CAST(c.tf_cluster AS DOUBLE) *
       |           ((CAST((SELECT n_docs FROM nn) - f.df AS DOUBLE) + 0.5) /
       |            (CAST(f.df AS DOUBLE) + 0.5)) AS score
       |  FROM ct c JOIN dfreq f USING (word)),
       |ranked AS (
       |  SELECT list_id, word, tf_cluster, df, score,
       |         CAST(row_number() OVER (PARTITION BY list_id
       |           ORDER BY score DESC, word) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT r.list_id, r.rank, r.word, r.tf_cluster, r.df,
       |       ${round6Sql("r.score")} AS score, s.cluster_docs
       |FROM ranked r JOIN csize s USING (list_id)
       |WHERE r.rank <= $TopicTerms
       |ORDER BY r.list_id, r.rank""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("ann_bruteforce_topk", annBruteforce, Some(annBruteforceSql)),
    Op("ann_recall_report", annRecallReport, Some(annRecallReportSql), buildState = true),
    Op("retrieval_rrf", retrievalRrf, Some(retrievalRrfSql), buildState = true),
    Op("retrieval_mmr_rerank", retrievalMmrRerank, Some(retrievalMmrRerankSql)),
    Op("ann_scann_topk", annScann, Some(annScannSql), buildState = true),
    Op("corpus_coreset_kcenter", corpusCoreset, Some(corpusCoresetSql)),
    Op("ann_lsh_topk", annLsh, Some(annLshSql)),
    Op("ann_knn_graph", annKnnGraph, Some(annKnnGraphSql)),
    Op("ann_knn_multiprobe", annKnnMultiprobe, Some(annKnnMultiprobeSql)),
    Op("ann_range_search", annRangeSearch, Some(annRangeSearchSql)),
    Op("ann_knn_hotsplit", annKnnHotsplit, Some(annKnnHotsplitSql)),
    Op("ann_knn_hotprobe", annKnnHotprobe, Some(annKnnHotprobeSql)),
    Op("ann_graph_search", annGraphSearch, Some(annGraphSearchSql), buildState = true),
    Op("ann_ivf_topk", annIvf, Some(annIvfSql), buildState = true),
    Op("ann_filtered_search", annFilteredSearch, Some(annFilteredSearchSql), buildState = true),
    Op("ann_pq_topk", annPq, Some(annPqSql), buildState = true),
    Op("ann_opq_topk", annOpq, Some(annOpqSql), buildState = true),
    Op("ann_ivfpq_topk", annIvfPq, Some(annIvfPqSql), buildState = true),
    Op("embedding_quantize", embeddingQuantize, Some(embeddingQuantizeSql)),
    Op("embedding_pca", embeddingPca, Some(embeddingPcaSql)),
    Op("embedding_whitening", embeddingWhitening, Some(embeddingWhiteningSql)),
    Op("ann_binary_topk", annBinary, Some(annBinarySql), buildState = true),
    Op("embedding_outliers", embeddingOutliers, Some(embeddingOutliersSql), buildState = true),
    Op("corpus_cluster_topics", corpusClusterTopics, Some(corpusClusterTopicsSql), buildState = true),
    Op("embedding_matryoshka", embeddingMatryoshka, Some(embeddingMatryoshkaSql)),
    Op("ann_adaptive_topk", annAdaptive, Some(annAdaptiveSql)),
    Op("contrastive_pairs", contrastivePairs, Some(contrastivePairsSql)))
}
