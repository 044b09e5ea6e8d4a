package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Versioned parquet state for incremental maintenance (SURVEY.md §2 ST3/ST4).
  *
  * Every maintained table (the four element frames, output tables, and
  * generalized tables) lives under `dir/<name>/`, in one layout, bucketed
  * and merge-on-read: the BASE is hash-bucketed by id under
  * `v<seq>/__b=<bucket>/`; each later version appends a delta SEGMENT
  * (this batch's insert rows + delete-id tombstones, `v<seq>/ins|del`)
  * and a `_manifest` listing the base bucket map plus the ordered
  * segments. Reads fold newest-wins via one broadcast anti-join;
  * `readBuckets` file-prunes the base to the requested buckets. After
  * `maxSegments` a write compacts the merged view into a fresh base.
  * This is the LSM / lakehouse-MERGE shape: per-batch write volume is
  * O(changed) — the reference mutates rows in place via SQL
  * DELETE+COPY (update/deleter.go, writer package), which a columnar
  * store can't; copy-on-write bucket rewrites were measured to amplify
  * a spread-out 10³-element batch into a near-full store rewrite.
  *
  * A batch writes all tables at `seq+1`, then commits by replacing the
  * `state.txt` [[Pointer]] — the analog of the reference's
  * `last.state.txt` (update/cmd.go:369-384). A crash before commit leaves
  * half-written `v<seq+1>` dirs that the retry simply overwrites: the
  * delete-then-insert batch is idempotent (ST2). The commit also reclaims
  * the version dirs nothing committed can reach any more.
  */
final class StateStore(spark: SparkSession, dir: String) {

  private val root = new Path(dir)
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def statePath = new Path(root, "state.txt")
  private def bucketsPath = new Path(root, "buckets.txt")
  private def replSeqPath = new Path(root, "replseq.txt")

  // ---- manifest files -------------------------------------------------------

  private def readSmall(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def writeSmall(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  // ---- bucketing ------------------------------------------------------------

  /** Fix the store's bucketing for its life: `n` HASH buckets
    * (pmod(xxhash64(id), n)). Hash, not id-range shift: bucket population
    * is then uniform for ANY id distribution — range bucketing shattered a
    * store whose ids carried a 2^40 stride into ~75k near-empty bucket
    * dirs (every scan paid 75k file opens; a small diff apply measured
    * 267 s mostly in file overhead), and the same hazard exists for any
    * sparse or mangled id space. Pruning semantics are identical: the
    * bucket of an id is computable without a lookup, so a changed-id set
    * still maps to ≤ min(|ids|, n) buckets. */
  def setHashBuckets(n: Int): Unit = Pointer.replace(fs, bucketsPath, s"hash:$n\n")

  // A pre-r13 store bucketed by id range (`bucketbits.txt`, id >> bits)
  // is refused: read as hash buckets, it would silently prune the wrong
  // buckets.
  private lazy val nBuckets: Int =
    Pointer.read(fs, bucketsPath)(_.trim.stripPrefix("hash:").toInt).getOrElse {
      val rangeBits = new Path(root, "bucketbits.txt")
      if (fs.exists(rangeBits)) StateStore.unreadable(rangeBits, "id-range bucketing")
      else 1024
    }

  def bucketOf(idCol: Column): Column = pmod(xxhash64(idCol), lit(nBuckets.toLong))

  /** [[bucketOf]] of one LONG id, computed on the driver: the same
    * `xxhash64` (seed 42) and `pmod` the writer partitions by, so a diff's
    * changed-id sets map to the buckets to prune to without a Spark job. */
  def bucketOfId(id: Long): Long = {
    val r = XXH64.hashLong(id, 42L) % nBuckets
    if (r < 0) r + nBuckets else r
  }

  // ---- sequencing -----------------------------------------------------------

  /** Committed sequence, or -1 when the store is empty. `state.txt` is a
    * [[Pointer]]: a commit a crash cut short before its rename reads as
    * the previous sequence. */
  def currentSeq: Long = Pointer.read(fs, statePath)(_.trim.toLong).getOrElse(-1L)

  /** Sequence-order gate state for streaming replication replays (see
    * DiffPipeline.applyBatchFiles):
    * `<lastSeq> <batchId> <seqBeforeBatch> <firstFile>` — the last applied
    * replication-file sequence, the micro-batch that applied it, the
    * sequence high-water before that batch started (the rollback baseline
    * when a crashed batch is re-delivered), and the basename of the
    * batch's first file (replay identity must not rest on batchId alone:
    * a rebuilt checkpoint restarts batchIds at 0). A [[Pointer]]: a torn
    * overwrite that read as no state would DISABLE the out-of-order gate
    * in exactly the crash-and-replay scenario it exists for. A crash after
    * commit() but before this write just re-applies the file on restart,
    * which delete-then-insert makes safe (ST2). */
  def readReplSeq: Option[(Long, Long, Long, String)] =
    Pointer.read(fs, replSeqPath)(_.trim.split("\\s+", 4) match {
      case Array(a, b, c, f) => (a.toLong, b.toLong, c.toLong, f)
      case other => throw new IllegalArgumentException(s"${other.length} fields, not 4")
    })

  def writeReplSeq(lastSeq: Long, batchId: Long, seqBefore: Long,
      firstFile: String): Unit =
    Pointer.replace(fs, replSeqPath, s"$lastSeq $batchId $seqBefore $firstFile\n")

  /** Commit version `seq`: replace the `state.txt` pointer, then reclaim
    * what no reader of `seq` or of the `Retained` versions before it can
    * reach (see [[vacuum]]). Retention rides on every commit, so no caller
    * can forget it: without it a long stream keeps one ins/del dir pair
    * per table per batch forever. */
  def commit(seq: Long): Unit = {
    Pointer.replace(fs, statePath, s"$seq\n")
    vacuum(seq)
  }

  /** In every table dir that holds `v<seq>/_manifest`, drop the version
    * dirs older than `seq - Retained` that the committed manifest does not
    * reference (a table carries its base buckets and delta segments
    * forward until a compaction folds them into a new base). */
  private def vacuum(seq: Long): Unit =
    for (table <- fs.listStatus(root) if table.isDirectory) {
      val name = table.getPath.getName
      if (fs.exists(manifestPath(name, seq))) {
        val m = readManifest(name, seq)
        val referenced = (m.buckets.values ++ m.segments.flatMap(s => Seq(s.ins, s.del)))
          .map(_.split("/")(0).stripPrefix("v").toLong).toSet
        for (st <- fs.listStatus(table.getPath)) {
          val v = st.getPath.getName.stripPrefix("v")
          if (v.nonEmpty && v.forall(_.isDigit) && v.toLong < seq - StateStore.Retained &&
            !referenced(v.toLong))
            fs.delete(st.getPath, true)
        }
      }
    }

  // ---- tables ---------------------------------------------------------------

  def tablePath(name: String, seq: Long): String =
    new Path(new Path(root, name), s"v$seq").toString

  /** The whole table as of version `seq`: the merged view of its base and
    * segments. */
  def read(name: String, seq: Long): DataFrame = mergedView(name, seq, None)

  /** Read ONLY the given buckets of a bucketed table — the diff path's
    * pruning: a small diff reads a handful of bucket dirs, not the table. */
  def readBuckets(name: String, seq: Long, buckets: Set[Long]): DataFrame =
    mergedView(name, seq, Some(buckets))

  /** The merge-on-read fold: base buckets (file-pruned to `only` when
    * given) and every delta segment's inserts, with a row hidden when ANY
    * LATER segment tombstones its id — one broadcast anti-join with an
    * (id-equi + ordinal) condition; tombstones are batch-sized, so the
    * broadcast is bounded by MaxSegments × batch size.
    *
    * One scan (r13, guide §2.4/§6): writeDelta stamps each segment's fold
    * ordinal into the files (`__ord`/`__tord` columns), and base files,
    * which have no `__ord`, read it as null, i.e. ordinal 0. So the base
    * and ALL segments of a table read as ONE parquet scan under one
    * broadcast of the tombstones: two jobs per view, whatever the segment
    * count. Per-segment scans grew the soak's per-batch wall 4.1 s →
    * 12.4 s (closure) across one 8-batch compaction cycle, and a separate
    * base scan made the optimizer split the anti-join over the union,
    * broadcasting the same tombstones twice. */
  private def mergedView(name: String, seq: Long, only: Option[Set[Long]]): DataFrame = {
    val m = readManifest(name, seq)
    val base = new Path(root, name)
    def rd(schema: StructType, rel: Seq[String]): DataFrame =
      if (rel.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else spark.read.schema(schema).parquet(rel.map(r => new Path(base, r).toString): _*)
    val bucketPaths = (only match {
      case Some(bs) => m.buckets.filter { case (b, _) => bs(b) }
      case None => m.buckets
    }).values.toSeq.distinct
    if (m.segments.isEmpty) return rd(m.schema, bucketPaths)
    val idCol = m.segments.head.idCol
    val tombCol = m.segments.head.tombCol
    def stamped(fields: Seq[StructField], ordCol: String): StructType =
      StructType(fields :+ StructField(ordCol, LongType))
    val rows = rd(stamped(m.schema.fields, "__ord"), bucketPaths ++ m.segments.map(_.ins))
      .withColumn("__ord", coalesce(col("__ord"), lit(0L)))
    // segment inserts are not bucketed: prune them to `only` by id
    val withOrd = only match {
      case Some(bs) => rows.filter(col("__ord") === 0L || bucketOf(col(idCol)).isInCollection(bs))
      case None => rows
    }
    val tombs = rd(stamped(Seq(m.schema(tombCol)), "__tord"), m.segments.map(_.del))
      .withColumnRenamed(tombCol, "__tid")
    withOrd.join(broadcast(tombs),
        withOrd(tombCol) === tombs("__tid") && tombs("__tord") > withOrd("__ord"),
        "left_anti")
      .drop("__ord")
  }

  private def manifestPath(name: String, seq: Long): Path =
    new Path(new Path(tablePath(name, seq)), "_manifest")

  // A segment's ins/del files physically carry their fold ordinal
  // (`__ord`/`__tord` columns, written by writeDelta) so ALL segments of a
  // table read as ONE parquet scan.
  private final case class Segment(idCol: String, tombCol: String,
      ins: String, del: String)
  private final case class Manifest(schema: StructType,
      buckets: Map[Long, String], segments: Seq[Segment])

  /** `_manifest`: line 1 = schema JSON; then `<bucket>\t<relative dir>`
    * base-map lines; then ordered
    * `SEGO\t<idCol>\t<tombCol>\t<insDir>\t<delDir>` lines — merge-on-read
    * delta segments, oldest first. Pre-r13 stores wrote unstamped `SEG\t`
    * lines, whose files lack the ordinal columns; they are refused. */
  private def writeManifest(name: String, seq: Long, schema: StructType,
      buckets: Map[Long, String], segments: Seq[Segment] = Nil): Unit = {
    val body = schema.json +:
      (buckets.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" } ++
        segments.map(s => s"SEGO\t${s.idCol}\t${s.tombCol}\t${s.ins}\t${s.del}"))
    val vdir = new Path(tablePath(name, seq))
    if (!fs.exists(vdir)) fs.mkdirs(vdir)
    writeSmall(manifestPath(name, seq), body.mkString("\n"))
  }

  private def readManifest(name: String, seq: Long): Manifest = {
    val path = manifestPath(name, seq)
    // every version this store writes has a manifest; a dir without one is
    // a version never written (or a plain whole-table dir, a layout this
    // store no longer reads), so name the path instead of guessing
    val lines = (try readSmall(path) catch {
      case _: java.io.FileNotFoundException => throw new IllegalStateException(
        s"$path: no such table version in this store; re-run the import to rebuild the store")
    }).split("\n").toSeq
    if (lines.exists(_.startsWith("SEG\t")))
      StateStore.unreadable(path, "an unstamped SEG segment")
    val schema = DataType.fromJson(lines.head).asInstanceOf[StructType]
    val (segLines, bucketLines) = lines.tail.filter(_.nonEmpty)
      .partition(_.startsWith("SEGO\t"))
    val buckets = bucketLines.map { l =>
      val Array(b, p) = l.split("\t", 2)
      b.toLong -> p
    }.toMap
    val segments = segLines.map { l =>
      val Array(_, idCol, tombCol, ins, del) = l.split("\t", 5)
      Segment(idCol, tombCol, ins, del)
    }
    Manifest(schema, buckets, segments)
  }

  /** Bucket dirs actually produced by a partitioned write. */
  private def listBuckets(out: String): Seq[Long] = {
    val p = new Path(out)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("__b=")).map(_.stripPrefix("__b=").toLong)
  }

  /** Full bucketed write (init path): every row, partitioned by bucket. */
  def writeBucketed(name: String, seq: Long, df: DataFrame, idCol: String): Unit = {
    val out = tablePath(name, seq)
    // shuffle rows to their bucket BEFORE the partitioned write: without
    // it every write task holds up to nBuckets open parquet writers at
    // once (writer memory + one small file per task×bucket — a 30-table
    // init measured 12 min mostly here); after it each task streams a few
    // whole buckets sequentially and a bucket is one file; sorted by the
    // bucket, the partitioned writer sees its partition column in order
    df.withColumn("__b", bucketOf(col(idCol)))
      .repartition(col("__b"))
      .sortWithinPartitions(col("__b"))
      .write.mode("overwrite").partitionBy("__b").parquet(out)
    writeManifest(name, seq, df.schema,
      listBuckets(out).map(b => b -> s"v$seq/__b=$b").toMap)
  }

  /** Merge-on-read delta write — the diff path's O(changed) version step:
    * append ONLY the batch's insert rows and delete-id tombstones as a new
    * SEGMENT of the table; no bucket is rewritten. This is the LSM /
    * lakehouse-MERGE shape. The copy-on-write spelling it replaces
    * (rewrite every touched bucket whole) amplified a spread-out batch
    * into a near-full store rewrite: 1.7k changed nodes × 1024 buckets
    * touched ~80% of every table and measured 375 s end-to-end; with
    * fine buckets it drowned in per-file overhead instead (75k dirs,
    * 267 s). Write volume here is the batch itself.
    *
    * Delete-then-insert semantics ride on segment ORDER: a segment's
    * tombstones hide matching ids in all EARLIER segments and the base;
    * its own inserts survive. Re-running the same (seq, batch) overwrites
    * the same segment dirs — idempotent, like the bucket path was.
    *
    * After `maxSegments` the write COMPACTS instead: the merged previous
    * view (minus this batch's deletes, plus its inserts) is rewritten as a
    * fresh bucketed base — read cost stays bounded while amortizing the
    * full rewrite over maxSegments batches.
    */
  def writeDelta(name: String, seq: Long, prevSeq: Long, inserts: DataFrame,
      deleteIds: DataFrame, idCol: String,
      maxSegments: Int = 8, tombstoneCol: Option[String] = None): Unit = {
    // tombstoneCol: hide-by column when it differs from the bucketing id
    // (reverse indexes bucket by the REFERENCED id but delete by the
    // REFERRER — e.g. wayrefs buckets by ref node id, tombstones by way_id)
    val tc = tombstoneCol.getOrElse(idCol)
    val m = readManifest(name, prevSeq)
    if (m.segments.size >= maxSegments) {
      val merged = mergedView(name, prevSeq, None)
        .join(broadcast(deleteIds.select(col(tc))), Seq(tc), "left_anti")
        .unionByName(inserts)
      writeBucketed(name, seq, merged, idCol)
    } else {
      val vdir = tablePath(name, seq)
      // stamp the fold ordinal into the files (position in the manifest's
      // segment list, 1-based — stable: segments only append until a
      // compaction clears the list) so every later read folds ALL
      // segments in one scan (see mergedView). lit() columns cost nothing
      // in the write and make the read O(1) scans instead of O(segments).
      // A segment is batch-sized, so each side is ONE file however the
      // caller's frame is split (a driver-local frame spans every core).
      val ord = m.segments.size + 1L
      inserts.coalesce(1).withColumn("__ord", lit(ord))
        .write.mode("overwrite").parquet(s"$vdir/ins")
      deleteIds.select(col(tc)).withColumn("__tord", lit(ord)).coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/del")
      writeManifest(name, seq, m.schema, m.buckets,
        m.segments :+ Segment(idCol, tc, s"v$seq/ins", s"v$seq/del"))
    }
  }

  /** Version step with NO changes for this table: carry the previous
    * manifest forward (same base buckets, same segments) so readers of
    * v<seq> see the identical table — zero Spark jobs, no new segment.
    * r13 (§2.4): a node-move-only diff batch wrote EMPTY ins+del segments
    * for ways/relations/wayrefs/relrefs every batch; the empty segments
    * still cost two write jobs each at write time and a fold level in
    * every later read, and dragged untouched tables into compaction. */
  def writeUnchanged(name: String, seq: Long, prevSeq: Long): Unit = {
    val m = readManifest(name, prevSeq)
    writeManifest(name, seq, m.schema, m.buckets, m.segments)
  }
}

private[streaming] object StateStore {
  /** Versions a commit keeps behind the committed one, referenced or
    * not: a reader that resolved its paths just before a commit still
    * finds its files after it. */
  private val Retained = 2

  /** Refuse a store in a format written before r13 (`what` names it). */
  private def unreadable(file: Path, what: String): Nothing =
    throw new IllegalStateException(s"$file: $what is a pre-r13 store " +
      "format this version no longer reads; re-run the import to rebuild the store")
}
