package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}

import graft.{ImportPipeline, SparkEntry}
import graft.geometry.Geom
import graft.mapping.{CompiledMapping, MappingConf}
import graft.operators.{Generalize, IvfIndex, TermIndex}
import graft.sinks.ParquetSink
import graft.sources.{OsmPbf, OsmPbfSynth, OsmXml, TagFilters}
import graft.streaming.DiffPipeline

/** What one workload run measured. `e2e` and `layers` map metric name to
  * (value, unit); `record` holds everything else the run artifact keeps. */
final case class Outcome(attempted: Int, failed: Int,
    e2e: ListMap[String, (Double, String)],
    layers: ListMap[String, (Double, String)],
    record: ListMap[String, Any])

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val work: String, val benchDir: String) {
  def path(rel: String): String = new File(work, rel).getPath

  /** Progress line on stderr. */
  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - born) / 1e3}%.1fs] $msg")

  def mapping: CompiledMapping = {
    val f = new File(benchDir, "mapping.yml")
    require(f.isFile, s"benchmark mapping missing: $f")
    new CompiledMapping(MappingConf.fromFile(f.getPath))
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Run the set-up `reps` times; returns each one's seconds and the last
    * result. */
  def setup[T](reps: Int)(f: Int => T): (Seq[Double], T) = {
    val runs = (1 to reps).map { r =>
      val (out, dt) = timed(f(r))
      log(f"setup $r: $dt%.2fs")
      (out, dt)
    }
    (runs.map(_._2), runs.last._1)
  }

  /** Failures counted against attempts; the first reason per item kept. */
  var attempted = 0
  var failed = 0
  val failures: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  def check(what: String)(problem: => Option[String]): Unit = {
    attempted += 1
    problem.foreach { why =>
      failed += 1
      failures.getOrElseUpdate(what, why)
      log(s"WRONG OUTPUT $what: $why")
    }
  }
}

object Workloads {
  /** Set-ups per run; `setup_s` is their median. */
  private val SetupReps = 7
  /** Store hash buckets, sized to the small extract so a bucket is a
    * file-sized unit (DiffPipeline.init's documented sizing rule). */
  private val DiffBuckets = 4

  private def med(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    Stats.median(xs)
  }

  private def spanStats(prefix: String, ss: Seq[Span], fields: String*): Seq[(String, (Double, String))] = {
    val all: Map[String, (Span => Double, String)] = Map(
      "wall_s" -> ((_: Span).wallS, "s"), "task_cpu_s" -> ((_: Span).taskCpuS, "s"),
      "shuffle_write_mb" -> ((_: Span).shuffleWriteMb, "MB"), "spill_mb" -> ((_: Span).spillMb, "MB"),
      "gc_s" -> ((_: Span).gcS, "s"), "driver_only_s" -> ((_: Span).driverOnlyS, "s"),
      "output_mb" -> ((_: Span).outputMb, "MB"), "rows" -> ((_: Span).outputRows.toDouble, "count"),
      "jobs" -> ((_: Span).jobs.size.toDouble, "count"), "stages" -> ((_: Span).stages.toDouble, "count"),
      "tasks" -> ((_: Span).tasks.toDouble, "count"))
    fields.map { f =>
      val (get, unit) = all(f)
      s"$prefix.$f" -> (med(ss.map(get)), unit)
    }
  }

  /** Noise of the measured window: GC seconds, io-wait seconds and the
    * foreign CPU share. */
  private def runLayers(meter: (Double, Double, Double)): Seq[(String, (Double, String))] = Seq(
    "run.gc_s" -> (meter._3, "s"), "run.io_wait_s" -> (meter._2, "s"),
    "run.foreign_cpu" -> (meter._1, "frac"))

  private def writeFile(path: String, bytes: Array[Byte]): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), bytes)
  }

  // ------------------------------------------------------------------- osm

  private def geomCol(df: DataFrame): Option[String] =
    df.schema.fields.find(_.dataType == BinaryType).map(_.name)

  /** One table row: attribute key, floating values, geometry. */
  private type Row3 = (String, Seq[Double], Option[Array[Byte]])

  /** Every row of every table, split into [[Row3]] parts and gathered with
    * one job. */
  private def rowsOf(tables: Map[String, DataFrame]): Map[String, Seq[Row3]] = {
    val parts = tables.toSeq.sortBy(_._1).map { case (t, df) =>
      val g = geomCol(df)
      val floats = df.schema.fields.filter(f => f.dataType == FloatType || f.dataType == DoubleType)
        .map(_.name).sorted.toSeq
      val keys = df.columns.filterNot(c => g.contains(c) || floats.contains(c)).sorted.toSeq
      df.select(lit(t).as("t"), Digest.keyCol(keys),
        array(floats.map(c => coalesce(col(c).cast("double"), lit(0.0))) :+ lit(0.0): _*).as("f"),
        g.map(col).getOrElse(lit(null).cast(BinaryType)).as("g"))
    }
    val byTable = parts.reduce(_ union _).collect().toSeq
      .map(r => (r.getString(0), (r.getString(1), r.getSeq[Double](2), Option(r.getAs[Array[Byte]](3)))))
      .groupBy(_._1)
    tables.keys.map(t => t -> byTable.getOrElse(t, Nil).map(_._2).sortBy(x => (x._1, x._2.head))).toMap
  }

  /** Rows `x` and `y` of one table agree: equal attribute columns,
    * floating columns within a relative 1e-2 and geometries within `tol`
    * map units (Hausdorff distance). The tolerances absorb the ~9 mm
    * coordinate quantization: the bulk import quantizes every coordinate,
    * while the diff path, like the reference's coordinate cache, keeps full
    * precision for nodes written in the same change file.
    * Returns a mismatch description. */
  private def diffRows(x: Seq[Row3], y: Seq[Row3], tol: Double): Option[String] =
    if (x.size != y.size) Some(s"rows ${x.size} vs ${y.size}")
    else if (x.map(_._1) != y.map(_._1))
      Some(s"attribute rows differ: ${x.map(_._1).diff(y.map(_._1)).take(3)}")
    else {
      val badNum = x.zip(y).count { case (p, q) =>
        p._2.zip(q._2).exists { case (u, v) => math.abs(u - v) > 1e-2 * math.max(1.0, math.abs(v)) }
      }
      val badGeom = x.zip(y).count { case (p, q) =>
        (p._3, q._3) match {
          case (Some(u), Some(v)) =>
            org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
              .distance(Geom.fromWkb(u), Geom.fromWkb(v)) > tol
          case (u, v) => u.isDefined != v.isDefined
        }
      }
      if (badNum + badGeom > 0) Some(s"$badNum value rows and $badGeom geometries differ") else None
    }

  /** The `osm` workload: build a diff-ready store from a seeded city
    * extract, apply one seeded minutely change file to it, read every
    * maintained table, then bulk-import the resulting element state to
    * Parquet. Checks: the store's initial tables match the rows the
    * generator predicts, and the maintained tables after the change equal
    * the bulk import of the final state (incremental == batch). */
  def runOsm(ctx: Ctx, gridN: Int, changesPerFile: Int): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val mapping = ctx.mapping
    val tr = ctx.tracer
    val (setupTimes, (tile, extract)) = ctx.setup(SetupReps) { r =>
      val t = CityGen.tile(ctx.seed, gridN)
      val pbf = ctx.path(s"osm/tile-$r.pbf")
      writeFile(pbf, CityGen.encodeTile(t))
      val dir = ctx.path(s"osm/extract-$r")
      OsmPbfSynth.synthesize(spark, pbf, dir, copies = 1)
      (t, dir)
    }
    val expected = Digest.perTable(CityGen.Tables
      .flatMap(t => tile.expected.getOrElse(t, Nil).map(t -> _)).toDF("t", "k"))
    // the element state the store holds: the synthesized files, decoded
    val base = Option(new File(extract).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".pbf")).sortBy(_.getName)
      .flatMap(f => OsmPbfSynth.decodeAll(Files.readAllBytes(f.toPath))).toSeq
    val meter = new SysMeter

    // build: the diff-ready import into the state store
    val state = ctx.path("osm/state")
    val (initTables, buildS) = ctx.timed(tr.span("streaming.init") {
      DiffPipeline.init(spark, mapping, state, OsmPbf.read(spark, extract), nBuckets = DiffBuckets)
    })
    spark.catalog.clearCache()
    ctx.log(f"init: $buildS%.2fs")
    val initDigests = Digest.perTable(CityGen.Tables
      .map(t => initTables(t).select(lit(t).as("t"), Digest.keyCol(CityGen.keyColumns(t))))
      .reduce(_ union _))
    CityGen.Tables.foreach { t =>
      ctx.check(s"init.$t") {
        val got = initDigests.get(t)
        if (got == expected.get(t)) None else Some(s"got $got expected ${expected.get(t)}")
      }
    }

    // seeded change files, applied one at a time through the production
    // batch path (sequence-numbered, so its ordering gate runs), each
    // followed by a read of every maintained table; closed loop, one client
    val gen = new ChangeGen(base, ctx.seed)
    val expireDir = ctx.path("osm/expire")
    val applyWalls, readWalls = mutable.ArrayBuffer.empty[Double]
    val changed, filesAdded, bytesAdded, tiles, readFiles = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime()
    while (applyWalls.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val k = applyWalls.size + 1
      val file = ctx.path(f"osm/changes/$k%09d.osc.gz")
      changed += gen.writeFile(file, changesPerFile)
      if (tr.enabled) tr.span("sources.read_diff") { OsmXml.readDiff(spark, file).count() }
      val before = Census.fileSet(state)
      var applied = true
      val (_, applyS) = ctx.timed(tr.span("streaming.apply") {
        try DiffPipeline.applyBatchFiles(spark, mapping, state, Seq(file), expireDir = Some(expireDir))
        catch { case e: Exception => applied = false; ctx.log(s"apply failed: $e") }
      })
      ctx.check(s"apply $k")(if (applied) None else Some("applyBatchFiles threw"))
      applyWalls += applyS
      val added = (Census.fileSet(state) -- before).toSeq
      filesAdded += added.size
      bytesAdded += added.map(p => new File(p).length).sum
      tiles += Census.fileSet(s"$expireDir/$k").toSeq.filter(_.contains("part-"))
        .map(p => scala.io.Source.fromFile(p).getLines().size.toLong).sum
      val (tables, readS) = ctx.timed(tr.span("streaming.read") {
        val tables = DiffPipeline.readTables(spark, mapping, state)
        tables.values.foreach(_.write.format("noop").mode("overwrite").save())
        tables
      })
      readWalls += readS
      readFiles += tables.values.map(_.inputFiles.length.toLong).sum
      ctx.log(f"change file $k: ${changed.last} changes, apply $applyS%.2fs, read $readS%.2fs")
    }

    // bulk import of the final element state to Parquet
    val finalElems = gen.elements
    val finalPbf = ctx.path("osm/final/final.pbf")
    writeFile(finalPbf, OsmPbfSynth.encodePbf(finalElems))
    val out = ctx.path("osm/out")
    val sink = new ParquetSink(out)
    val (parsed, importS) = ctx.timed(tr.span("import.pass") {
      val (bundle, n) = tr.span("sources.read") {
        val b = OsmPbf.read(spark, finalPbf, Some(TagFilters(mapping)))
        val n = b.coords.count() + b.ways.count() + b.relations.count()
        tr.note("elems", n)
        (b, n)
      }
      val pipeline = new ImportPipeline(spark, mapping)
      val tables = tr.span("ImportPipeline.stages") {
        val t = pipeline.run(bundle)
        pipeline.materializeStages()
        t
      }
      tr.span("sinks.write") { tables.foreach { case (name, df) => sink.write(name, df) } }
      tr.span("operators.generalize") {
        Generalize(spark, mapping, tables).foreach { case (name, df) => sink.write(name, df) }
      }
      pipeline.unpersistAll()
      spark.catalog.clearCache()
      n
    })
    val foreign = meter.read()
    ctx.log(f"import: $importS%.2fs")
    ctx.check("import.elements")(
      if (parsed == finalElems.size) None else Some(s"parsed $parsed of ${finalElems.size}"))

    // incremental == batch: the store's tables after the last change file
    // against the bulk import of the same element state (untimed)
    val lastRead = rowsOf(DiffPipeline.readTables(spark, mapping, state))
    val batch = rowsOf(lastRead.keys.map(t => t -> spark.read.parquet(s"$out/$t")).toMap)
    lastRead.keys.toSeq.sorted.foreach(t => ctx.check(s"incremental.$t")(diffRows(lastRead(t), batch(t), tol = 0.05)))
    val (storeFiles, storeBytes) = Census(state)
    // output tables only: the store's maintained copies against the same
    // tables freshly written by the bulk import
    val storeTableBytes = lastRead.keys.toSeq.map(t => Census(s"$state/tbl_$t")._2).sum
    val freshBytes = lastRead.keys.toSeq.map(t => Census(s"$out/$t")._2).sum

    val e2e = ListMap(
      "setup_s" -> (med(setupTimes), "s"),
      "build_s" -> (buildS, "s"),
      "work_per_s" -> (finalElems.size / importS, "1/s"),
      "op_p50_s" -> (med(applyWalls.toSeq), "s"),
      "read_p50_s" -> (med(readWalls.toSeq), "s"))
    def perFile(xs: Iterable[Long]) = xs.sum.toDouble / applyWalls.size
    // per-layer metrics exist only in a traced run, where every span
    // named below must have been recorded
    val layers = if (!tr.enabled) ListMap.empty[String, (Double, String)] else ListMap.from(
      spanStats("sources.read", tr.named("sources.read"), "wall_s", "task_cpu_s") ++
        Seq("sources.read.elems" -> (med(tr.named("sources.read").map(_.attrs("elems").toString.toDouble)), "count")) ++
        spanStats("ImportPipeline.stages", tr.named("ImportPipeline.stages"),
          "wall_s", "task_cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "driver_only_s") ++
        spanStats("sinks.write", tr.named("sinks.write"), "wall_s", "task_cpu_s", "output_mb", "rows") ++
        spanStats("operators.generalize", tr.named("operators.generalize"), "wall_s", "task_cpu_s") ++
        spanStats("import", tr.named("import.pass"), "jobs") ++
        spanStats("streaming.apply", tr.named("streaming.apply"),
          "jobs", "stages", "tasks", "task_cpu_s", "driver_only_s", "shuffle_write_mb")
          .map { case (k, v) => s"${k}_per_file" -> v } ++
        Seq(
          "streaming.apply.files_written_per_file" -> (perFile(filesAdded), "count"),
          "streaming.apply.bytes_written_per_change" -> (bytesAdded.sum.toDouble / changed.sum, "B"),
          "streaming.changed_elems_per_s" -> (changed.sum / applyWalls.sum, "1/s"),
          "sources.read_diff.wall_s" -> (med(tr.named("sources.read_diff").map(_.wallS)), "s"),
          "operators.expire.tiles_per_file" -> (perFile(tiles), "count")) ++
        spanStats("streaming.read", tr.named("streaming.read"), "task_cpu_s", "driver_only_s")
          .map { case (k, v) => s"${k}_per_read" -> v } ++
        Seq(
          "streaming.read.files_per_read" -> (perFile(readFiles), "count"),
          "streaming.store_files" -> (storeFiles.toDouble, "count"),
          "streaming.store_mb" -> (storeBytes / 1e6, "MB"),
          "streaming.space_amp" -> (storeTableBytes.toDouble / freshBytes, "ratio")) ++
        spanStats("streaming.init", tr.named("streaming.init"), "wall_s", "shuffle_write_mb") ++
        runLayers(foreign) ++
        Seq("trace.work_per_s" -> (finalElems.size / importS, "1/s"),
          "trace.op_p50_s" -> (med(applyWalls.toSeq), "s"),
          "trace.read_p50_s" -> (med(readWalls.toSeq), "s")))
    Outcome(ctx.attempted, ctx.failed, e2e, layers, ListMap(
      "inputs" -> ListMap("grid_blocks" -> gridN, "elements" -> base.size,
        "final_elements" -> finalElems.size, "changes_per_file" -> changed,
        "extract_bytes" -> Census(extract)._2),
      "setup_s" -> setupTimes, "build_s" -> buildS, "apply_s" -> applyWalls, "read_s" -> readWalls,
      "import_s" -> importS,
      "store_census" -> ListMap("files" -> storeFiles, "bytes" -> storeBytes,
        "files_written" -> filesAdded, "bytes_written" -> bytesAdded, "table_bytes" -> storeTableBytes,
        "batch_table_bytes" -> freshBytes),
      "noise" -> ListMap.from(runLayers(foreign).map { case (k, (v, _)) => k -> v }),
      "failures" -> ctx.failures))
  }

  // ------------------------------------------------------------- analytics

  private val Modules = Seq("Relational" -> graft.queries.Relational.queries,
    "TextOps" -> graft.queries.TextOps.queries, "Similarity" -> graft.queries.Similarity.queries,
    "MediaOps" -> graft.queries.MediaOps.queries)

  /** The query list, with each query's module: a fixed subset of
    * SparkEntry.benchQueries covering every query module at a few seconds
    * per pass. */
  val Queries: Seq[(String, String)] = Seq("q1_pricing_summary", "q_window_top3",
    "d_dedup_minhash", "d_bm25", "s_cosine_topk", "m_phash_dedup").map { q =>
    q -> Modules.collectFirst { case (m, qs) if qs.contains(q) => m }
      .getOrElse(throw new IllegalArgumentException(s"unknown query $q"))
  }

  /** Order-insensitive digest of collected rows (columns sorted by name). */
  def rowsDigest(rows: Array[Row]): Long = {
    val p = 1000000007L
    rows.foldLeft(0L) { (acc, r) =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL
      (acc + h % p) % p
    }
  }

  def runQuery(spark: SparkSession, name: String, dataDir: String): (Array[Row], DataFrame) = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    val sorted = df.select(df.columns.sorted.map(col).toSeq: _*)
    val rows = sorted.collect()
    spark.catalog.clearCache()
    (rows, sorted)
  }

  private def tokens(s: String): Array[String] = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  def loadExpected(benchDir: String): Map[String, (Long, Long)] = {
    val f = new File(benchDir, "expected_analytics.json")
    require(f.isFile, s"expected query results missing: $f")
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val re = "\"([a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"digest\"\\s*:\\s*(\\d+)".r
    re.findAllMatchIn(text).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  /** The `analytics` workload: run the query list twice over the generated
    * tables (after two untimed warm-up passes), build a term index and an
    * IVF index, then serve alternating phrase and ANN requests (after one
    * untimed request of each kind),
    * closed-loop with one client, until the window ends. */
  def runAnalytics(ctx: Ctx, serveMin: Int): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val expected = loadExpected(ctx.benchDir)
    Queries.foreach { case (q, _) =>
      require(expected.contains(q), s"no expected result recorded for $q")
      require(SparkEntry.queries.contains(q), s"unknown query $q")
    }
    val (setupTimes, dataDir) = ctx.setup(SetupReps) { r =>
      val dir = ctx.path(s"analytics/data-$r")
      AnalyticsData.write(spark, dir)
      dir
    }
    val meter = new SysMeter

    // brute-force answers for the serve checks (untimed)
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().map { case (id, t) => id -> tokens(t) }
    val embs = spark.read.parquet(s"$dataDir/embeddings.parquet").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    val embIds = embs.keys.toSeq.sorted
    val rnd = new java.util.SplittableRandom(ctx.seed)

    val queryWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    def queryPass(order: Seq[(String, String)]): Double = order.map { case (q, module) =>
      val ((rows, df), wall) = ctx.timed(tr.span(s"queries.$module") {
        tr.span(s"queries.$q") { runQuery(spark, q, dataDir) }
      })
      queryWalls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += wall
      fingerprints(q) = Plans.fingerprint(df)
      ctx.check(q) {
        val got = (rows.length.toLong, rowsDigest(rows))
        if (expected.get(q).contains(got)) None else Some(s"got $got expected ${expected(q)}")
      }
      wall
    }.sum

    // untimed warm-up: two query passes (JIT, codegen and the queries' own
    // fixture caches); after one, the next pass was still ~25% faster
    val warm = tr.active
    tr.active = false
    (1 to 2).foreach(_ => queryPass(Queries))
    queryWalls.clear()
    tr.active = warm
    // two timed passes in seeded orders; a query's time is its median
    val t0 = System.nanoTime()
    val passes = (1 to 2).map(_ => queryPass(Queries.sortBy(_ => rnd.nextInt())))
    val passS = queryWalls.values.map(w => med(w.toSeq)).sum
    ctx.log(f"query passes: ${passes.mkString(", ")}")

    // the indexes are built in the warmed JVM, so build_s does not carry
    // Spark's first-job costs
    val termIdx = ctx.path("analytics/idx/terms")
    val ivfIdx = ctx.path("analytics/idx/ivf")
    val (_, buildS) = ctx.timed {
      tr.span("operators.TermIndex.build") {
        TermIndex.build(spark, spark.read.parquet(s"$dataDir/documents.parquet"), termIdx)
      }
      tr.span("operators.IvfIndex.build") {
        IvfIndex.build(spark, spark.read.parquet(s"$dataDir/embeddings.parquet"), ivfIdx)
      }
    }
    def parquetFiles(d: String) = Census.fileSet(d).count(_.endsWith(".parquet"))
    val termFiles = parquetFiles(termIdx)
    val ivfFiles = parquetFiles(ivfIdx)

    val phraseWalls = mutable.ArrayBuffer.empty[Double]
    val annWalls = mutable.ArrayBuffer.empty[Double]
    val termRead = mutable.ArrayBuffer.empty[Double]
    val ivfRead = mutable.ArrayBuffer.empty[Double]
    // a serve request times the search and its collect(); the answer is
    // checked and its files counted after the timer stops
    def phrase(): Unit = {
      val (_, toks) = docs(rnd.nextInt(docs.length))
      val at = rnd.nextInt(math.max(1, toks.length - 1))
      val p = toks.slice(at, at + 2).mkString(" ")
      val ((df, rows), w) = ctx.timed(tr.span("operators.TermIndex.search") {
        val df = TermIndex.phraseSearch(spark, termIdx, Seq(p)).select("doc_id", "n_matches")
        (df, df.collect())
      })
      phraseWalls += w
      termRead += Plans.filesRead(df).toDouble / termFiles
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = docs.flatMap { case (id, ts) =>
        val n = ts.sliding(2).count(_.mkString(" ") == p)
        if (n > 0) Some(id -> n.toLong) else None
      }.toMap
      ctx.check(s"phrase '$p'")(if (got == want) None else Some(s"got ${got.size} docs, expected ${want.size}"))
    }
    def ann(): Unit = {
      val id = embIds(rnd.nextInt(embIds.size))
      val probe = Seq((id, embs(id))).toDF("vec_id", "embedding")
      val ((df, rows), w) = ctx.timed(tr.span("operators.IvfIndex.search") {
        val df = IvfIndex.search(spark, ivfIdx, probe).select("neighbor_id", "sim_r")
        (df, df.collect())
      })
      annWalls += w
      ivfRead += Plans.filesRead(df).toDouble / ivfFiles
      val got = rows.map(r => r.getLong(0) -> r.getDouble(1))
      def cos(a: Array[Float], b: Array[Float]) = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        a.indices.foreach { i => d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        d / math.sqrt(na * nb)
      }
      // approximate search: the neighbours may differ from the exact top
      // k, but each must be real, scored right, and ranked by score
      val ok = got.nonEmpty && got.length <= 5 && got.forall { case (n, s) =>
        n != id && embs.contains(n) && math.abs(cos(embs(id), embs(n)) - s) < 1e-5
      } && got.map(_._2).toSeq == got.map(_._2).toSeq.sorted.reverse
      ctx.check(s"ann $id")(if (ok) None else Some(s"bad neighbours ${got.toSeq}"))
    }

    // one untimed request of each serve kind
    tr.active = false
    phrase()
    ann()
    Seq(phraseWalls, annWalls, termRead, ivfRead).foreach(_.clear())
    tr.active = warm

    var j = 0
    while (j < serveMin || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      if (j % 2 == 0) phrase() else ann()
      j += 1
    }
    // request time only: the untimed answer checks between requests do not count
    val windowS = passes.sum + phraseWalls.sum + annWalls.sum
    val foreign = meter.read()
    ctx.log(f"serve: $j requests, p50 ${med((phraseWalls ++ annWalls).toSeq)}%.3fs")

    val nRequests = Queries.size * passes.size + phraseWalls.size + annWalls.size
    val e2e = ListMap(
      "setup_s" -> (med(setupTimes), "s"),
      "build_s" -> (buildS, "s"),
      "work_per_s" -> (nRequests / windowS, "1/s"),
      "op_p50_s" -> (passS, "s"),
      "read_p50_s" -> (med((phraseWalls ++ annWalls).toSeq), "s"))
    // per-layer metrics exist only in a traced run, where every span
    // named below must have been recorded
    val layers = if (!tr.enabled) ListMap.empty[String, (Double, String)] else ListMap.from(
      Modules.map(_._1).flatMap { m =>
        val ss = tr.named(s"queries.$m")
        def total(f: Span => Double) = ss.map(f).sum / passes.size
        Seq(s"queries.$m.wall_s" -> (total(_.wallS), "s"),
          s"queries.$m.task_cpu_s" -> (total(_.taskCpuS), "s"),
          s"queries.$m.shuffle_write_mb" -> (total(_.shuffleWriteMb), "MB"),
          s"queries.$m.driver_only_s" -> (total(_.driverOnlyS), "s"),
          s"queries.$m.jobs" -> (total(_.jobs.size.toDouble), "count"))
      } ++
        Queries.map { case (q, _) => s"queries.$q.wall_s" -> (med(tr.named(s"queries.$q").map(_.wallS)), "s") } ++
        Seq(
          "operators.TermIndex.search.task_cpu_s" ->
            (med(tr.named("operators.TermIndex.search").map(_.taskCpuS)), "s"),
          "operators.TermIndex.search.files_read_frac" -> (med(termRead.toSeq), "frac"),
          "operators.IvfIndex.search.task_cpu_s" ->
            (med(tr.named("operators.IvfIndex.search").map(_.taskCpuS)), "s"),
          "operators.IvfIndex.search.files_read_frac" -> (med(ivfRead.toSeq), "frac"),
          "operators.TermIndex.build.wall_s" -> (med(tr.named("operators.TermIndex.build").map(_.wallS)), "s"),
          "operators.IvfIndex.build.wall_s" -> (med(tr.named("operators.IvfIndex.build").map(_.wallS)), "s"),
          "serve.phrase.p50_s" -> (med(phraseWalls.toSeq), "s"),
          "serve.ann.p50_s" -> (med(annWalls.toSeq), "s")) ++
        runLayers(foreign) ++
        Seq("trace.work_per_s" -> (nRequests / windowS, "1/s"), "trace.op_p50_s" -> (passS, "s"),
          "trace.read_p50_s" -> (med((phraseWalls ++ annWalls).toSeq), "s")))
    Outcome(ctx.attempted, ctx.failed, e2e, layers, ListMap(
      "inputs" -> ListMap("data_bytes" -> Census(dataDir)._2, "documents" -> docs.length,
        "embeddings" -> embs.size, "queries" -> Queries.map(_._1), "term_index_files" -> termFiles,
        "ivf_index_files" -> ivfFiles),
      "setup_s" -> setupTimes, "build_s" -> buildS, "query_s" -> queryWalls.map { case (q, w) => q -> w.toSeq },
      "plan_fingerprints" -> fingerprints,
      "serve_phrase_s" -> phraseWalls, "serve_ann_s" -> annWalls,
      "noise" -> ListMap.from(runLayers(foreign).map { case (k, (v, _)) => k -> v }),
      "failures" -> ctx.failures))
  }
}
