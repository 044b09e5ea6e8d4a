package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.CorpusRelease

/** Continuous corpus-release maintenance: the streaming driver for
  * [[CorpusRelease.applyDeltaFrames]] — documents arrive as a stream of
  * upserts/deletes and every micro-batch publishes a complete new release
  * GENERATION (corpus + state + manifest), exactly what the batch
  * `applyDelta` would produce for that delta. CorpusDeltaSpec's binding
  * property (incremental == batch rebuild) therefore extends to the
  * stream by induction; StreamingReleaseSpec re-proves it end-to-end.
  *
  * Layout under `outRoot`:
  *   gen=<batchId>/   — one immutable release per applied micro-batch
  *   HEAD             — the committed generation id (a [[Pointer]])
  *   _checkpoint/     — the stream's own progress
  *
  * Exactly-once without a lakehouse: generations are KEYED BY BATCH ID,
  * so a crashed batch's re-delivery overwrites its own torn gen dir
  * (mode(overwrite)) and re-points HEAD at the same place — a replay of
  * an already-committed batch is detected from HEAD (generation ids are
  * monotone) and skipped entirely. Readers only ever follow HEAD, which
  * is replaced AFTER the generation is fully written, so a
  * half-written generation is never visible. Superseded generations are
  * the caller's retention decision (they are also the time-travel story:
  * every past release stays addressable until pruned with [[prune]]).
  *
  * Scale shape is applyDelta's: every shuffle is delta-sized (broadcast
  * semi-joins carve the touched hash slice out of the previous state);
  * the previous release's untouched rows are carried by linear I/O.
  */
object StreamingRelease {

  /** Stream schema: document upserts with a `deleted` tombstone flag
    * (a deleted row needs only doc_id populated). */
  val deltaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("deleted", BooleanType)))

  private lazy val fs = FileSystem.getLocal(new Configuration())

  /** The committed generation id, or -1 before the first commit. HEAD is a
    * [[Pointer]]; one it cannot parse (written by hand, or torn by a
    * writer outside this protocol) heals to the highest `gen=<id>` dir on
    * disk rather than failing every later entry point permanently: the
    * generations themselves are immutable and keyed by id, so the largest
    * one present IS the last fully-written release. */
  def headGeneration(outRoot: String): Long =
    (try Pointer.read(fs, new Path(outRoot, "HEAD"))(_.trim.toLong) catch {
      case _: IllegalStateException =>
        Some(Option(new java.io.File(outRoot).listFiles()).getOrElse(Array.empty)
          .flatMap(d => Option.when(d.isDirectory && d.getName.startsWith("gen="))(
            d.getName.stripPrefix("gen=")).flatMap(_.toLongOption))
          .foldLeft(-1L)(math.max))
    }).getOrElse(-1L)

  /** Directory of the committed release (HEAD), or the base release when
    * nothing has been committed yet. */
  def currentRelease(outRoot: String, baseDir: String): String = {
    val g = headGeneration(outRoot)
    if (g < 0) baseDir else s"$outRoot/gen=$g"
  }

  private[streaming] def commitHead(outRoot: String, gen: Long): Unit =
    Pointer.replace(fs, new Path(outRoot, "HEAD"), s"$gen\n")

  /** Apply one micro-batch: split tombstones from upserts, derive the new
    * generation from the previous one, commit HEAD last. Idempotent —
    * a re-delivered batch id at or below HEAD is a no-op.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      baseDir: String, outRoot: String, minTokens: Long): Unit = {
    val head = headGeneration(outRoot)
    if (head == batchId) return // crash-window re-delivery: already committed
    // batchId < HEAD is NOT a re-delivery — stream batch ids only ever
    // re-deliver the last uncommitted batch. It means the checkpoint was
    // deleted (ids restarted at 0) or a fresh stream was pointed at an
    // existing outRoot; silently returning would discard every delta while
    // reporting success, so fail loudly instead.
    require(batchId > head,
      s"batch id $batchId regressed below committed HEAD $head in $outRoot — " +
        "stream checkpoint was reset against an existing release root; " +
        "start from a fresh outRoot or restore the checkpoint")
    val prev = currentRelease(outRoot, baseDir)
    val out = s"$outRoot/gen=$batchId"
    val upserts = batch.filter(!col("deleted")).drop("deleted")
    val deletes = batch.filter(col("deleted")).select("doc_id")
    CorpusRelease.applyDeltaFrames(spark, prev, upserts, deletes, out,
      minTokens)
    commitHead(outRoot, batchId)
  }

  /** Start the maintenance stream over a parquet delta directory. Use
    * `Trigger.AvailableNow` semantics by passing `availableNow = true`
    * for drain-and-stop runs (tests, catch-up). */
  def start(spark: SparkSession, deltaStreamDir: String, baseDir: String,
      outRoot: String, minTokens: Long = 50L,
      availableNow: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    var reader = spark.readStream.schema(deltaSchema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n))
    val docs = reader.parquet(deltaStreamDir)
    var writer = docs.writeStream
      .option("checkpointLocation", s"$outRoot/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(spark, batch, batchId, baseDir, outRoot, minTokens)
      }
    if (availableNow) writer = writer.trigger(Trigger.AvailableNow())
    writer.start()
  }

  /** Drop generations strictly below `keepFrom` (never HEAD's). */
  def prune(outRoot: String, keepFrom: Long): Unit = {
    val head = headGeneration(outRoot)
    def deleteRecursively(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
      f.delete()
    }
    for {
      f <- Option(new java.io.File(outRoot).listFiles()).getOrElse(Array.empty)
      if f.getName.startsWith("gen=")
      g = f.getName.stripPrefix("gen=").toLong
      if g < keepFrom && g != head
    } deleteRecursively(f)
  }
}
