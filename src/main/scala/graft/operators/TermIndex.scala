package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index, written as a partitioned-parquet artifact —
  * the text-retrieval analog of [[IvfIndex]] (same build-once/probe-pruned
  * lifecycle). Postings are (tok, doc_id, pos) rows partitioned by a hash
  * bucket of the token, so a term lookup reads exactly the buckets its
  * terms hash into (parquet directory-level partition pruning, asserted in
  * TermIndexSpec) — at 100 TB a phrase query costs the posting lists it
  * touches, never a corpus scan. Buckets (not raw terms) keep the
  * directory count bounded and hot stop-terms spread across files inside
  * their bucket; the residual `tok` equality rides the row-group filter.
  *
  * The phrase matcher itself is ONE spelling shared with the scan-side
  * d_phrase_search (see [[matchPhrases]]), so the indexed and scan paths
  * cannot drift semantically — the driver gate runs both against the same
  * oracle.
  */
object TermIndex {

  val DefaultBuckets = 64

  /** Driver-side mirror of the `md5_bits(tok, 1, 8) % nBuckets` bucket rule
    * (functions/Md5BitsExpression) — used to turn a query's constant terms
    * into the partition values to prune to. Parity is spec-pinned.
    */
  def bucketOf(tok: String, nBuckets: Int = DefaultBuckets): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % nBuckets
  }

  /** One spelling of doc → bucketed positional postings (lower-cased alnum
    * tokens, same rule as the query suite) — shared by build and append so
    * the two write paths cannot drift. */
  private def postingsOf(docs: DataFrame, nBuckets: Int): DataFrame =
    docs
      .select(col("doc_id"), posexplode(
        expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"),
        (graft.functions.Md5BitsFunctions.md5Bits(col("tok"), 1, 8) % nBuckets)
          .as("bucket"))

  /** The bucket count rides along as a tiny sibling artifact (the IvfIndex
    * `.centroids` pattern): append and search derive it from the index
    * itself, so a caller-supplied mismatch — postings written mod 32 but
    * probed mod 64, silently missing results — is impossible. */
  private def writeMeta(spark: SparkSession, indexDir: String,
      nBuckets: Int): Unit = {
    import spark.implicits._
    Seq(nBuckets).toDF("n_buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir.meta")
  }

  /** Crash recovery for [[compact]]'s swap window: a compact that died
    * between its two renames leaves the live data stranded at `.old` and
    * nothing at `indexDir`. Every entry point (read or write) runs this
    * first, so one crashed compact heals on the next touch of the index
    * instead of failing every reader until someone re-runs compact().
    */
  private def recoverIfNeeded(indexDir: String): Unit = {
    val dir = new java.io.File(indexDir)
    val oldF = new java.io.File(indexDir + ".old")
    if (!dir.exists() && oldF.exists())
      require(oldF.renameTo(dir), s"cannot recover $indexDir from .old")
  }

  /** The artifact's recorded bucket count, if present. */
  def bucketsOf(spark: SparkSession, indexDir: String): Option[Int] = {
    recoverIfNeeded(indexDir)
    if (!new java.io.File(s"$indexDir.meta").isDirectory) None
    else Some(spark.read.parquet(s"$indexDir.meta").head().getInt(0))
  }

  /** Tokenize `docs` and write the positional postings partitioned by term
    * bucket. */
  def build(spark: SparkSession, docs: DataFrame, indexDir: String,
      nBuckets: Int = DefaultBuckets): Unit = {
    postingsOf(docs, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(indexDir)
    writeMeta(spark, indexDir, nBuckets)
  }

  /** Incremental index maintenance: tokenize ONLY the delta docs and
    * parquet-append their postings into the affected bucket partitions
    * (existing files are never touched). The bucket rule is a pure hash of
    * the token — no trained state to freeze — so `build(base) +
    * append(delta)` is search-identical to `build(base ∪ delta)` by
    * construction (TermIndexSpec asserts it). Returns the per-bucket
    * growth report (bucket, n_before, n_added), the caller's signal for
    * small-file compaction; the "before" counts are checkpointed ahead of
    * the write so the lazy frame can't re-scan its own delta.
    */
  def append(spark: SparkSession, indexDir: String, delta: DataFrame,
      nBuckets: Int = DefaultBuckets): DataFrame = {
    // the artifact's own recorded bucket count wins over the parameter —
    // a disagreement would scatter delta postings into buckets the prune
    // never reads (silently incomplete search results)
    val nb = bucketsOf(spark, indexDir).getOrElse(nBuckets)
    val before = spark.read.parquet(indexDir)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_before"))
      .localCheckpoint(true)
    val postings = postingsOf(delta, nb).persist()
    try {
      postings.write.mode("append").partitionBy("bucket").parquet(indexDir)
      val added = postings.groupBy("bucket").agg(count(lit(1)).as("n_added"))
      before.join(added, Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_added"), lit(0L)).as("n_added"))
        .orderBy("bucket")
    } finally postings.unpersist()
  }

  /** Small-file compaction — the consumer of append's growth report: long
    * append streams leave each bucket holding one file per delta, and scan
    * cost becomes file-count-bound instead of byte-bound. Rewrite the index
    * to one file per bucket partition (write to a fresh directory, then
    * swap). The swap is two renames, NOT atomic: between them `indexDir`
    * does not exist, so compact assumes a single writer and no concurrent
    * readers during the swap window; a crash inside the window heals on
    * the next call of ANY entry point (recoverIfNeeded). Returns
    * (n_files_before, n_files_after). Postings are re-sorted by
    * (tok, doc_id, pos) inside each bucket so row-group stats tighten the
    * residual tok filter after the partition prune.
    */
  def compact(spark: SparkSession, indexDir: String): (Long, Long) = {
    def parquetFiles(p: java.io.File): Seq[java.io.File] =
      if (!p.exists()) Nil
      else if (p.isDirectory) p.listFiles().toSeq.flatMap(parquetFiles)
      else if (p.getName.endsWith(".parquet")) Seq(p) else Nil
    recoverIfNeeded(indexDir)
    val dir = new java.io.File(indexDir)
    val oldF = new java.io.File(indexDir + ".old")
    val before = parquetFiles(dir).size.toLong
    val tmp = indexDir + ".compacting"
    spark.read.parquet(indexDir)
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "tok", "doc_id", "pos")
      .write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(tmp)
    deleteRecursively(oldF) // a leftover .old would make the rename fail
    require(dir.renameTo(oldF), s"cannot swap out $indexDir")
    require(new java.io.File(tmp).renameTo(dir), s"cannot swap in $tmp")
    deleteRecursively(oldF)
    (before, parquetFiles(dir).size.toLong)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete()
  }

  /** Phrase terms table: one row per (phrase, word, offset) plus the phrase
    * length — broadcast against postings by both search paths. The phrase
    * is normalized with the SAME rule the index tokenizes with (lowercase,
    * alnum runs), so cased or oddly-spaced CLI input matches instead of
    * silently returning nothing; the emitted `phrase` label is the
    * normalized form. */
  def termsOf(spark: SparkSession, phrases: Seq[String]): DataFrame = {
    import spark.implicits._
    phrases.flatMap { p =>
      val ws = p.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val norm = ws.mkString(" ")
      ws.zipWithIndex.map { case (w, i) => (norm, w, i.toLong, ws.length.toLong) }
    }.toDF("phrase", "tok", "off", "plen")
  }

  /** Per-match phrase occurrences over a postings frame (doc_id, pos, tok):
    * keep only phrase terms (broadcast join — the index-lookup prefilter),
    * then a match is ALL of a phrase's offsets agreeing on one base
    * position, found by ONE (phrase, doc, base) aggregation. Phrase length
    * adds zero joins. Returns (phrase, doc_id, base, plen), one row per
    * occurrence.
    */
  def matchPositions(postings: DataFrame, terms: DataFrame): DataFrame =
    postings.join(broadcast(terms), Seq("tok"))
      .select(col("phrase"), col("doc_id"), (col("pos") - col("off")).as("base"),
        col("off"), col("plen"))
      .filter(col("base") >= 0)
      .groupBy("phrase", "doc_id", "base")
      .agg(countDistinct(col("off")).as("n_off"), max(col("plen")).as("plen"))
      .filter(col("n_off") === col("plen"))
      .select("phrase", "doc_id", "base", "plen")

  /** Per-(phrase, doc) rollup of [[matchPositions]] —
    * (phrase, doc_id, n_matches, first_pos). The one spelling both the
    * scan-side and index-side phrase queries return.
    */
  def matchPhrases(postings: DataFrame, terms: DataFrame): DataFrame =
    matchPositions(postings, terms)
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_matches"), min(col("base")).as("first_pos"))
      .orderBy("phrase", "doc_id")

  /** Serve a phrase query from a written index: prune the scan to the
    * buckets the query's terms hash into (computed driver-side from the
    * constants — no data moves), then run the shared matcher.
    */
  def phraseSearch(spark: SparkSession, indexDir: String,
      phrases: Seq[String], nBuckets: Int = DefaultBuckets): DataFrame = {
    val nb = bucketsOf(spark, indexDir).getOrElse(nBuckets)
    val buckets = phrases
      .flatMap(_.toLowerCase.split("[^a-z0-9]+")).filter(_.nonEmpty)
      .distinct.map(bucketOf(_, nb))
    val postings = spark.read.parquet(indexDir)
      .filter(col("bucket").isin(buckets: _*))
    matchPhrases(postings, termsOf(spark, phrases))
  }
}
