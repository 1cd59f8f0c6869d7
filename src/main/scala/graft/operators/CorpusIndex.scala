package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The corpus INVERTED INDEX as memoized build state — the one
  * derivation every sparse-retrieval surface reads.
  *
  * A RAG/BM25 serve path cannot re-tokenize the corpus per query: at
  * 100 TB the (word, doc, tf) posting table, the vocabulary-sized
  * document-frequency table, the per-doc length column and the one-row
  * corpus stats are maintained lake tables — built once per corpus
  * snapshot (like compaction output or the MinHash signature table,
  * [[Dedup.corpusSigs]]) and served to every query. Locally they are
  * localCheckpoint'd DataFrames memoized per (application, lake) in the
  * build-state store like the ANN indexes, and they flush with the
  * lake's re-ANALYZE ([[graft.etl.TableStats.invalidate]]) so a
  * regenerated corpus rebuilds them like any derived capacity.
  *
  * Consumers: `retrieval_rrf`'s sparse side (posting-list joins) and
  * `text_bm25_topk` (term lookups + corpus stats) — ONE index
  * definition, two BM25 surfaces that cannot drift. The tokenizer is
  * the engine-wide whitespace split; every derived number is integer
  * (tf, df, dl, n_docs) except `avgdl`, computed as an exact long sum
  * cast to double then divided — bit-portable to the DuckDB oracles,
  * which replay this derivation from the raw `documents` table.
  */
object CorpusIndex {

  /** Word-bucket count for the MAINTAINED postings lake's layout
    * (`word_bucket = pmod(h32(word), B)` as a partition column under
    * each `ingest_batch`): a term read prunes to 1/B of the files in
    * EVERY partition — bootstrap, compacted, and not-yet-compacted
    * appends alike — because the bucket is derivable from the query
    * term alone (literal terms prune statically; join-derived term
    * sets prune at runtime through the broadcast semi-join on the
    * partition column). B is a layout constant, not a capacity: it
    * bounds files-per-partition (appends write ≤ B files each) while
    * file COUNT per bucket grows with the corpus, which row-group
    * skipping + compaction's word-clustering absorb. */
  private[graft] val PostingsWordBuckets = 16

  /** The bucketing column — h32 so the assignment is the engine's
    * portable hash family (replayable anywhere md5 exists). */
  private[graft] def wordBucket(word: Column): Column =
    pmod(graft.functions.h32(word), lit(PostingsWordBuckets.toLong))
      .cast(IntegerType)

  /** Driver-side twin of [[wordBucket]] for LITERAL query terms — what
    * turns a term lookup into a static partition-pruning filter. Same
    * md5-prefix derivation, bit-identical to the Column form. */
  private[graft] def wordBucketOf(word: String): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(word.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex, 16) % PostingsWordBuckets).toInt
  }

  /** (postings, docLengths, docFreq, stats) per (application, lake). */
  private[graft] def built(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    graft.etl.TableStats.build(s, dir, "corpus_index") {
      val docs = Tables.documents(s, dir)
      // postings: one row per (doc, distinct word) with its term count
      // — THE corpus-sized index table. One explode + one map-side-
      // combinable aggregate; partitioned by word at scale so a query
      // term's posting list is one partition-pruned read.
      val postings = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .transform(graft.functions.memoize)
      // per-doc length: a narrow projection of the scan (no explode)
      val dl = docs
        .select(col("doc_id"), size(split(col("text"), " ")).cast(LongType).as("dl"))
        .transform(graft.functions.memoize)
      // document frequency: vocabulary-sized, derived from postings
      val dfreq = postings.groupBy("word").agg(count(lit(1)).as("df"))
        .transform(graft.functions.memoize)
      // one-row corpus stats (N, avgdl): exact long sum → double
      val stats = dl
        .agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).cast(DoubleType).as("sum_dl"))
        .withColumn("avgdl", col("sum_dl") / col("n_docs"))
        .select("n_docs", "avgdl")
        .transform(graft.functions.memoize)
      (postings, dl, dfreq, stats)
    }

  /** (doc_id, word, tf) — the posting table. */
  private[graft] def postings(s: SparkSession, dir: String): DataFrame =
    built(s, dir)._1

  /** (doc_id, dl) — per-document token count, LongType. */
  private[graft] def docLengths(s: SparkSession, dir: String): DataFrame =
    built(s, dir)._2

  /** (word, df) — number of documents containing each word. */
  private[graft] def docFreq(s: SparkSession, dir: String): DataFrame =
    built(s, dir)._3

  /** One row: (n_docs, avgdl) — the BM25 corpus constants. */
  private[graft] def stats(s: SparkSession, dir: String): DataFrame =
    built(s, dir)._4
}
