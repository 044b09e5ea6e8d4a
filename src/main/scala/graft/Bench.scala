package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.mapping.{CompiledMapping, MappingConf}
import graft.model.{Kind, Op}
import graft.obs.Obs
import graft.operators.WayAssembly
import graft.sources.{OsmPbf, OsmPbfSynth, TagFilters}
import graft.sources.OsmXml.Bundle
import graft.streaming.DiffPipeline

/** Per-round benchmark main: a table of sections run in order over one rep
  * harness ([[reps]]). `runMain graft.Bench [section …]` runs the named
  * sections of `Table` (default: all), in table order. After every section
  * the record measured so far is printed, contract line last, so a run
  * killed mid-way still leaves every finished section on the last line.
  */
object Bench {

  /** Inputs every section reads. `mapping` is built on first use: a box
    * without the seed PBF and its mapping still runs the query sections. */
  final class Ctx(val spark: SparkSession, val seedPbf: String,
      mappingOf: => CompiledMapping, val workDir: String, val sfDir: String,
      val gate: () => Gate = () => admitRep()) {
    lazy val mapping: CompiledMapping = mappingOf

    /** Between reps and sections: persisted frames and old-gen garbage
      * left resident measured +60% on the scale import. */
    def reset(gc: Boolean = true): Unit = { spark.catalog.clearCache(); if (gc) System.gc() }
  }

  /** One bench section: the headline keys it emits, in order, and whether
    * it reads the seed PBF (skipped by one check when that is absent). */
  final case class Section(name: String, keys: Seq[String], needsSeed: Boolean)(
      val run: Ctx => Record)

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** What the bench has measured so far. */
  final case class Record(entries: Seq[(String, Double)] = Nil,
      details: Seq[(String, String)] = Nil, queries: Seq[(String, Double)] = Nil,
      failedQueries: Seq[String] = Nil) {

    def ++(o: Record): Record = Record(entries ++ o.entries,
      details ++ o.details, queries ++ o.queries, failedQueries ++ o.failedQueries)

    /** The lines to print, contract line LAST. A failed query has no key
      * and adds nothing to `queries_all` or `value`. `*_net` keys would
      * count the bucketed import twice in `value`. The driver keeps a 2 kB
      * tail, so the contract line is capped at 1500 bytes: keys drop from
      * the end, flagged `omitted`, before the envelope ever truncates. */
    def lines(sfDir: String): Seq[String] = {
      val queriesAll = queries.map(_._2).sum
      val total = entries.filterNot(_._1.endsWith("_net")).map(_._2).sum + queriesAll
      def line(metric: String, kept: Seq[(String, Double)], extra: String): String = {
        val kv = (kept.map { case (k, v) => s""""$k":${fmt(v)}""" } :+
          s""""queries_all":${fmt(queriesAll)}""").mkString(",")
        s"""{"metric":"$metric","value":${fmt(total)},"unit":"sec","queries":{$kv},"n_queries":${queries.size},"sf":"$sfDir"$extra}"""
      }
      val (failedCount, failedNames) =
        if (failedQueries.isEmpty) ("", "")
        else (s""","failed_queries":${failedQueries.size}""",
          s""","failed_queries":${failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")}""")
      val queriesDetail = if (queries.isEmpty) Nil else Seq(
        s"""{"metric":"queries_detail","value":${fmt(total)},"unit":"sec","queries":${(entries ++ queries).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},"sf":"$sfDir"}""")
      val detail = line("sections_detail", entries,
        failedNames + details.map { case (k, v) => s""","$k":$v""" }.mkString)
      var kept = entries
      var contract = line("total", kept, failedCount)
      while (contract.getBytes("UTF-8").length > 1500 && kept.nonEmpty) {
        kept = kept.dropRight(1)
        contract = line("total", kept, failedCount + s""","omitted":${entries.size - kept.size}""")
      }
      queriesDetail ++ Seq(detail, contract)
    }
  }

  /** Foreign-CPU budget: a rep is contended above it, and the gate waits
    * (at most GateCapSec) for the box to drop below it. 4 of 32 cores. */
  private val MaxForeign = 0.125
  private val GateCapSec = 120.0

  /** Admission of one rep: 1-min loadavg, seconds waited, and whether the
    * gate gave up over budget. */
  final case class Gate(load: Double, waited: Double, timedOut: Boolean)

  private def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Wait, bounded, until the box's FOREIGN-CPU share (`getCpuLoad −
    * getProcessCpuLoad`, mean of a 3 s window) is below budget; loadavg
    * cannot tell our own last rep from a foreign load. Dirty writeback is
    * flushed first, or in-sequence reps inherit the previous section's
    * (diff-XL applies: 50.4 s in sequence vs 41.4 s isolated). */
  def admitRep(): Gate = {
    try new ProcessBuilder("sync").start().waitFor() catch { case _: Throwable => () }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // -1 (bean unsupported / NaN on every sample) admits, never blocks
    def window(): Double = {
      var sum = 0.0; var n = 0
      os.getCpuLoad; os.getProcessCpuLoad // prime the tick baselines
      for (_ <- 1 to 3) {
        Thread.sleep(1000)
        val s = os.getCpuLoad; val p = os.getProcessCpuLoad
        if (s >= 0 && p >= 0) { sum += math.max(0.0, s - p); n += 1 }
      }
      if (n == 0) -1.0 else sum / n
    }
    val t0 = System.nanoTime()
    var fs = window()
    while (fs >= MaxForeign && secs(t0) < GateCapSec) fs = window()
    val gate = Gate(loadavg(), secs(t0), timedOut = fs >= MaxForeign)
    if (gate.waited >= 10 || gate.timedOut) System.err.println(f"[bench] rep gate: " +
      f"foreign=$fs%.3f after ${gate.waited}%.0fs" + (if (gate.timedOut) " — CONTENDED" else ""))
    gate
  }

  /** Sum of the weighted-ms-in-queue I/O counter (/proc/diskstats stat #11)
    * over whole block devices (partitions excluded: no double count). Its
    * delta across a rep is io_wait; -1 when unreadable. */
  private def diskWeightedIoMs(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/diskstats")
      try src.getLines().foldLeft(0L) { (acc, line) =>
        val f = line.trim.split("\\s+")
        if (f.length > 13 && f(2).matches("(vd|sd|xvd|hd)[a-z]+|nvme\\d+n\\d+|mmcblk\\d+"))
          acc + f(13).toLong
        else acc
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** One rep's meter record: admission, foreign-CPU share, GC and io_wait
    * seconds, and the task totals of the rep's span. foreign_cpu high → the
    * box was owned; gc → heap aftermath; io_wait → the device; all low →
    * the plan. */
  final case class Meter(load: Double, gateWait: Double, foreignCpu: Double,
      gc: Double, ioWait: Double, contended: Boolean, shuffleWriteGb: Double,
      memSpillGb: Double, diskSpillGb: Double, peakTaskMemGb: Double)
  /** JSON names of the Meter fields, in field order. */
  private val MeterNames = Seq("load", "gate_wait", "foreign_cpu", "gc", "io_wait",
    "contended", "shuffle_write_gb", "mem_spill_gb", "disk_spill_gb", "peak_task_mem_gb")

  /** The box around a rep: samples foreign CPU every 2 s, and reads JVM GC
    * and io_wait, until `stop`. */
  private final class RepMeter {
    import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    private val gc0 = gcMs
    private val io0 = diskWeightedIoMs()
    private val foreignSum = new DoubleAdder
    private val samples = new AtomicLong
    @volatile private var stopped = false
    private val sampler = new Thread(() => {
      while (!stopped) {
        val s = os.getCpuLoad; val p = os.getProcessCpuLoad
        if (s >= 0 && p >= 0) { foreignSum.add(math.max(0.0, s - p)); samples.incrementAndGet() }
        try Thread.sleep(2000) catch { case _: InterruptedException => () }
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def stop(gate: Gate, span: Obs.Span): Meter = {
      stopped = true
      sampler.interrupt()
      sampler.join(3000)
      val io1 = diskWeightedIoMs()
      val gb = 1024.0 * 1024 * 1024
      val foreign = if (samples.get == 0) -1.0 else foreignSum.sum / samples.get
      Meter(gate.load, gate.waited, foreign, (gcMs - gc0) / 1e3,
        if (io0 < 0 || io1 < 0) -1.0 else (io1 - io0) / 1e3,
        gate.timedOut || foreign > MaxForeign,
        span.shuffleWriteBytes / gb, span.memSpillBytes / gb, span.diskSpillBytes / gb,
        span.peakTaskMemBytes / gb)
    }
  }

  /** The finished reps of one measurement, each with its meter record. */
  final case class Reps[T](done: Seq[(T, Meter)], failed: Int) {
    def values: Seq[T] = done.map(_._1)
    def ++(o: Reps[T]): Reps[T] = Reps(done ++ o.done, failed + o.failed)
    /** Per-rep meter arrays and `failed_reps`, as JSON object members. */
    def json: String = MeterNames.zipWithIndex.map { case (name, i) =>
      val col = done.map(_._2.productElement(i)).map { case d: Double => fmt(d); case x => x }
      s""""$name":${col.mkString("[", ",", "]")}"""
    }.mkString(",") + s""","failed_reps":$failed"""
  }

  /** The one rep harness: for each rep, gate (if `gated`) → meter → body,
    * as one span → reset, untimed (System.gc too unless `gc` is off, as for
    * the short query and serve reps). A throwing rep is logged and counted. */
  def reps[T](ctx: Ctx, label: String, n: Int, gated: Boolean, gc: Boolean = true)(
      body: Int => T): Reps[T] = {
    val runs = (1 to n).map { i =>
      val gate = if (gated) ctx.gate() else Gate(loadavg(), 0.0, timedOut = false)
      val meter = new RepMeter
      val out = try Right(Obs.measure(s"$label rep $i")(body(i))) catch { case e: Throwable => Left(e) }
      // a rep that threw has no span: its task totals read 0
      val m = meter.stop(gate, out.fold(_ => Obs.Span(label, 0.0, Nil, Nil), _._2))
      ctx.reset(gc)
      System.err.println(f"[bench] $label rep $i/$n load=${m.load}%.2f " +
        f"foreign=${m.foreignCpu}%.3f gc=${m.gc}%.1fs io_wait=${m.ioWait}%.1fs " +
        f"shuffle=${m.shuffleWriteGb}%.2fGB spill=${m.memSpillGb + m.diskSpillGb}%.2fGB" +
        (if (m.contended) " CONTENDED" else "") + out.fold(e => s" FAILED: ${e.getMessage}", _ => ""))
      out.map(_._1 -> m)
    }
    Reps(runs.collect { case Right(r) => r }, runs.count(_.isLeft))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(f: => Any): Double = { val t0 = System.nanoTime(); f; secs(t0) }
  private def arr(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def delete(ctx: Ctx, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** `copies` translated seed copies under the work dir, session sized to
    * them; a grid ≥ 20 wide, square past 400 copies, keeps valid latitudes. */
  private def synth(ctx: Ctx, name: String, copies: Int): String = {
    val dir = s"${ctx.workDir}/bench-pbf-$name"
    OsmPbfSynth.synthesize(ctx.spark, ctx.seedPbf, dir, copies,
      gridCols = math.max(20, math.ceil(math.sqrt(copies.toDouble)).toInt))
    Session.sizeToInput(ctx.spark, Seq(dir))
    dir
  }

  /** Every output table into the noop sink. `eagerStages` forces the stage
    * caches first (concurrent first-touch jobs duplicate partitions); else
    * the first table write warms them. One table at a time when the heap is
    * oversized for the box: 8 in-flight writes page-fault (phases 3-20×). */
  private def sinkAll(pipeline: ImportPipeline, tables: Map[String, DataFrame],
      eagerStages: Boolean): Unit = {
    val dfs = tables.values.toSeq
    if (eagerStages) pipeline.materializeStages() else noop(dfs.head)
    DiffPipeline.drainConcurrently(
      (if (eagerStages) dfs else dfs.tail).map(df => () => noop(df)),
      par = if (ImportPipeline.heapOversized) 1 else 8)
  }

  /** The gen phase's source copies: small post-match rows, memory-resident
    * when they fit (DISK_ONLY here was a 3× gen regression, r12 #2). */
  private val GenSourceStorage = StorageLevel.MEMORY_AND_DISK_SER

  private final case class ImportTimes(counts: Seq[(String, Long)], parse: Double, imp: Double, gen: Double)

  /** One import: parse (decode into the cached element frames) → import
    * (match, assembly, geometry, noop sink) → generalize, which reads
    * copies of its sources filled untimed off the dropped stage caches. */
  private def importOnce(ctx: Ctx, read: () => Bundle, storage: StorageLevel): ImportTimes = {
    import ctx.{mapping, spark}
    val t0 = System.nanoTime()
    val bundle = read()
    val parsed = Seq("coords" -> bundle.coords.count(), "ways" -> bundle.ways.count(),
      "relations" -> bundle.relations.count())
    val tParse = secs(t0)
    val t1 = System.nanoTime()
    val pipeline = new ImportPipeline(spark, mapping, storage = storage)
    val tables = pipeline.run(bundle)
    sinkAll(pipeline, tables, eagerStages = true)
    val tImport = secs(t1)
    val genSources = mapping.conf.generalizedTables.values.map(_.source).toSet
    val stable = tables.filter { case (n, _) => genSources(n) }
    stable.values.foreach(_.persist(GenSourceStorage))
    stable.values.foreach(_.count())
    pipeline.unpersistAll()
    val tGen = timed(graft.operators.Generalize(spark, mapping, tables).values.foreach(noop))
    stable.values.foreach(_.unpersist())
    ImportTimes(parsed, tParse, tImport, tGen)
  }

  /** One import scale, timed reps gated. `storage` None: MEMORY_AND_DISK
    * element caches and box-chosen stage storage; DISK_ONLY from XL up (at
    * 79M elements: import 67.1 s vs 89.8 s). `settle`: one untimed import
    * first (the box at bench start inflated the first timed reps 2-3×),
    * which also records the per-kind element counts: no timed rep counts
    * the nodes.
    * `bucketedReps`: the bucketed-element-store A/B; rep 1 writes the store
    * inside its timed import (`bucketize`), later reps reuse it (`stored`).
    * `minFreeGb`: delete the diff/soak scratch, then skip if still short. */
  final case class ImportRow(label: String, copies: Int, reps: Int,
      storage: Option[StorageLevel], bucketedReps: Int, settle: Boolean,
      detail: String, minFreeGb: Option[Double] = None)

  val Synth400 = ImportRow("synth400", 400, 5, None, 3, settle = true, "osm_reps")
  val Xl4000 = ImportRow("xl4000", 4000, 2, Some(StorageLevel.DISK_ONLY), 1, settle = false, "osm_xl")
  val Xxl9600 = ImportRow("xxl9600", 9600, 1, Some(StorageLevel.DISK_ONLY), 0, settle = false,
    "osm_xxl", minFreeGb = Some(42))

  def importSection(r: ImportRow): Section = {
    val l = r.label
    Section(l, Seq(s"osm_parse_$l", s"osm_import_$l", s"osm_generalize_$l") ++
      (if (r.bucketedReps > 0)
        Seq(s"osm_import_${l}_bucketed", s"osm_bucketize_$l", s"osm_import_${l}_bucketed_net")
      else Nil) ++ (if (r.bucketedReps > 1) Seq(s"osm_import_${l}_stored") else Nil),
      needsSeed = true) { ctx =>
      import ctx.{mapping, spark}
      val freeGb = r.minFreeGb.map { _ =>
        Option(new java.io.File(ctx.workDir).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.matches("bench-(pbf-)?(diff|soak).*")).foreach(f => delete(ctx, f.getPath))
        spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_bench_"))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        new java.io.File(ctx.workDir).getUsableSpace / (1024.0 * 1024 * 1024)
      }
      if (freeGb.exists(f => r.minFreeGb.exists(f < _))) {
        System.err.println(f"[bench] $l skipped: free=${freeGb.get}%.1fGB < ${r.minFreeGb.get}%.1fGB")
        Record()
      } else {
        val dir = synth(ctx, l, r.copies)
        val readStorage = r.storage.getOrElse(StorageLevel.MEMORY_AND_DISK)
        val stageStorage = r.storage.getOrElse(ImportPipeline.defaultStorage)
        // the reference's reader applies the tag prefilter during parse
        def read() = OsmPbf.read(spark, dir, Some(TagFilters(mapping)), storage = readStorage)
        val settle = reps(ctx, s"$l settle", if (r.settle) 1 else 0, gated = false) { _ =>
          var nodes = 0L
          importOnce(ctx, () => { val b = read(); nodes = b.nodes.count(); b },
            stageStorage).counts :+ ("nodes" -> nodes)
        }
        val plain = reps(ctx, l, r.reps, gated = true)(_ => importOnce(ctx, () => read(), stageStorage))
        val bucketed = reps(ctx, s"${l}_bucketed", r.bucketedReps, gated = false) { i =>
          val bundle = read()
          bundle.coords.count(); bundle.ways.count(); bundle.relations.count() // untimed parse
          val prefix = s"graft_bench_$l"
          var tBucketize = 0.0
          val stored: (DataFrame, DataFrame) => DataFrame = (w, c) => {
            if (i == 1) tBucketize = timed(WayAssembly.writeStore(w, c, prefix, Session.cores))
            WayAssembly.resolveStore(spark, prefix)
          }
          // box-chosen stage storage at every scale: the r13 basis of this A/B
          val t1 = System.nanoTime()
          val pipeline = new ImportPipeline(spark, mapping, assembler = stored)
          sinkAll(pipeline, pipeline.run(bundle), eagerStages = true)
          val tImport = secs(t1)
          pipeline.unpersistAll()
          (tImport, tBucketize)
        }
        val (ps, bs) = (plain.values, bucketed.values)
        def medians(rs: Seq[ImportTimes]) = s"""{"parse":${fmt(med(rs.map(_.parse)))},""" +
          s""""import":${fmt(med(rs.map(_.imp)))},"gen":${fmt(med(rs.map(_.gen)))}}"""
        val clean = plain.done.filterNot(_._2.contended).map(_._1)
        val detail = s"""{"copies":${r.copies},"elems":${ps.head.counts.map(_._2).sum},""" +
          s""""parse":${arr(ps.map(_.parse))},"import":${arr(ps.map(_.imp))},""" +
          s""""gen":${arr(ps.map(_.gen))},${plain.json},"median":${medians(ps)}""" +
          (if (clean.nonEmpty && clean.size < ps.size) s""","median_clean":${medians(clean)}""" else "") +
          settle.done.map { case (stats, m) =>
            s""","settle_load":${fmt(m.load)},"settle":{${settle.json}},""" +
              s""""import_stats":{"basis":"untimed settle rep"""" +
              stats.map { case (k, v) => s""","$k":$v""" }.mkString + "}"
          }.mkString +
          (if (r.bucketedReps == 0) "" else s""","bucketed":{"import":${arr(bs.map(_._1))},""" +
            s""""bucketize":${arr(bs.map(_._2))},${bucketed.json}}""") +
          freeGb.map(f => s""","free_gb_before":${fmt(f)}""").mkString + "}"
        Record(Seq(s"osm_parse_$l" -> ps.map(_.parse).min, s"osm_import_$l" -> ps.map(_.imp).min,
          s"osm_generalize_$l" -> ps.map(_.gen).min) ++
          bs.headOption.toSeq.flatMap { case (tb, tz) => Seq(s"osm_import_${l}_bucketed" -> tb,
            s"osm_bucketize_$l" -> tz, s"osm_import_${l}_bucketed_net" -> (tb - tz)) } ++
          (if (bs.size > 1) Seq(s"osm_import_${l}_stored" -> bs.tail.map(_._1).min) else Nil),
          Seq(r.detail -> detail))
      }
    }
  }

  /** The full seed import, after an untimed prime that takes the cold
    * JVM's first-touch codegen and classloading. */
  val Monaco: Section = Section("monaco", Seq("osm_import_monaco"), needsSeed = true) { ctx =>
    import ctx.{mapping, spark}
    Session.sizeToInput(spark, Seq(ctx.seedPbf))
    def importSeed(): Unit = {
      val pipeline = new ImportPipeline(spark, mapping)
      sinkAll(pipeline, pipeline.run(OsmPbf.read(spark, ctx.seedPbf)), eagerStages = false)
      pipeline.unpersistAll()
    }
    importSeed()
    ctx.reset()
    val r = reps(ctx, "monaco", 1, gated = false)(_ => timed(importSeed()))
    Record(Seq("osm_import_monaco" -> r.values.min), Seq("osm_monaco" -> s"{${r.json}}"))
  }

  private val NoMembers = expr("cast(array() as array<struct<id:bigint,mtype:tinyint,role:string>>)")

  /** A node-move batch: every kept node shifted `dLon` degrees east. */
  private def nodeMoves(coords: DataFrame, keep: Column, dLon: Double): DataFrame =
    coords.filter(keep).select(lit(Kind.Node).cast("tinyint").as("kind"),
      col("id"), (col("lon") + lit(dLon)).as("lon"), col("lat"),
      typedLit(Map.empty[String, String]).as("tags"),
      typedLit(Seq.empty[Long]).as("refs"), NoMembers.as("members"),
      lit(Op.Modify).cast("tinyint").as("op"))

  /** `nodes` plus a foreign-tag touch of every 89th way (pulls coord
    * buckets through the rebuild) and 13th relation (member fetch, ring
    * assembly). Refs and members are kept: table membership cannot flip. */
  private def mixedBatch(st: Bundle, nodes: DataFrame): DataFrame = {
    def touch(df: DataFrame, kind: Byte, every: Int, refs: Column, members: Column) =
      df.filter(col("id") % every === 0).select(lit(kind).cast("tinyint").as("kind"),
        col("id"), lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"),
        map_concat(col("tags"), map(lit("graft:touched"), lit("1"))).as("tags"),
        refs.as("refs"), members.as("members"), lit(Op.Modify).cast("tinyint").as("op"))
    nodes.unionByName(touch(st.ways, Kind.Way, 89, col("refs"), NoMembers))
      .unionByName(touch(st.relations, Kind.Relation, 13, typedLit(Seq.empty[Long]),
        expr("transform(members, m -> struct(m.id as id, m.type as mtype, m.role as role))")))
  }

  /** The basis of the diff and soak sections' apply times: the apply
    * alone. Records made before this basis also timed building the ~30
    * result-table views per apply (1–2 s), which these sections discard.
    * Since the apply runs on `Session.applySession`, its plans evaluate
    * interpreted (no whole-stage codegen, no generated projections), while
    * the init these sections time keeps codegen. Interpreted applies were
    * measured at 150, ~10⁴ and ~7×10⁴ changes per file (CHANGES.md);
    * `DiffXl`'s ~1.8×10⁵ has not been. */
  private val ApplyBasis = "apply only, no result-table views built; " +
    "apply evaluated interpreted (no codegen), init compiled"

  /** Diff-apply at one store size: a diff-ready init (min of `initReps`,
    * each from a deleted store), then `applyDiff` of a ~1% node-move batch
    * and of a mixed batch, re-applied onto the same committed version
    * (commit=false) so every rep measures one plan. `Diff`: ~2M elements at
    * 256 buckets (~7k rows per bucket ≈ file-sized); `DiffXl`: 10× that. */
  final case class DiffRow(suffix: String, copies: Int, buckets: Int,
      initReps: Int, applyReps: Int, mixedReps: Int, gated: Boolean)
  val Diff = DiffRow("", 100, 256, 1, 3, 3, gated = false)
  val DiffXl = DiffRow("_xl", 1000, 512, 2, 2, 1, gated = true)

  def diffSection(r: DiffRow): Section = {
    val s = r.suffix
    Section(s"diff$s", Seq(s"osm_diff_init$s", s"osm_diff_apply$s", s"osm_diff_apply_mixed$s"),
      needsSeed = true) { ctx =>
      import ctx.{mapping, spark}
      val dir = synth(ctx, s"diff$s", r.copies)
      val state = s"${ctx.workDir}/bench-diff$s-state"
      val bundle = OsmPbf.read(spark, dir, Some(TagFilters(mapping)))
      val init = reps(ctx, s"diff$s init", r.initReps, r.gated) { _ =>
        delete(ctx, state)
        timed(DiffPipeline.init(spark, mapping, state, bundle, nBuckets = r.buckets))
      }
      val st = DiffPipeline.storedBundleAt(spark, state, 0)
      // the batches are not part of the timed apply
      val nodes = nodeMoves(st.coords, col("id") % 97 === 0, 1e-6).localCheckpoint()
      val mixed = mixedBatch(st, nodes).localCheckpoint()
      def apply(label: String, batch: DataFrame, n: Int) = reps(ctx, label, n, r.gated) { _ =>
        timed(DiffPipeline.applyDiff(spark, mapping, state, batch, from = Some(0), commit = false))
      }
      val applies = apply(s"diff$s apply", nodes, r.applyReps)
      val mixes = apply(s"diff$s apply_mixed", mixed, r.mixedReps)
      Record(Seq(s"osm_diff_init$s" -> init.values.min, s"osm_diff_apply$s" -> applies.values.min,
        s"osm_diff_apply_mixed$s" -> mixes.values.min),
        // meter arrays: init reps, then apply reps, then mixed reps
        Seq(s"osm_diff$s" -> (s"""{"basis":"$ApplyBasis","copies":${r.copies},""" +
          s""""changed":${nodes.count()},""" +
          s""""changed_mixed":${mixed.count()},"init_reps":${arr(init.values)},""" +
          s""""apply_reps":${arr(applies.values)},"mixed_reps":${arr(mixes.values)},""" +
          s"""${(init ++ applies ++ mixes).json}}""")))
    }
  }

  /** Long-stream drift, as one rep: `batches` COMMITTED node-move batches
    * (each a different node set) through applyDiff, whose commits run the
    * store's retention. Flat first vs last 10 medians and a bounded file
    * count: the store keeps up. */
  final case class SoakRow(copies: Int, batches: Int, buckets: Int)
  val Soak = SoakRow(20, 50, 64)

  def soakSection(r: SoakRow): Section = Section("soak",
    Seq("osm_diff_soak_total", "osm_diff_soak_first10_med", "osm_diff_soak_last10_med"),
    needsSeed = true) { ctx =>
    import ctx.{mapping, spark}
    val dir = synth(ctx, "soak", r.copies)
    val state = s"${ctx.workDir}/bench-soak-state"
    delete(ctx, state)
    DiffPipeline.init(spark, mapping, state,
      OsmPbf.read(spark, dir, Some(TagFilters(mapping))), nBuckets = r.buckets)
    ctx.reset()
    val base = DiffPipeline.storedBundleAt(spark, state, 0).coords
      .select("id", "lon", "lat").localCheckpoint()
    val run = reps(ctx, "soak", 1, gated = false) { _ =>
      (1 to r.batches).map { i =>
        val batch = nodeMoves(base, (col("id") + lit(i)) % 997 === 0, i * 1e-6).localCheckpoint()
        val dt = timed(DiffPipeline.applyDiff(spark, mapping, state, batch))
        if (i % 10 == 0 || i == 1)
          System.err.println(f"[bench] soak batch $i/${r.batches} apply=$dt%.1fs")
        dt
      }
    }
    val times = run.values.head
    val (first10, last10) = (med(times.take(10)), med(times.takeRight(10)))
    def files(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(files).sum else 1L
    Record(Seq("osm_diff_soak_total" -> times.sum, "osm_diff_soak_first10_med" -> first10,
      "osm_diff_soak_last10_med" -> last10),
      Seq("osm_soak" -> (s"""{"basis":"$ApplyBasis","batches":${r.batches},""" +
        s""""first10_med":${fmt(first10)},""" +
        s""""last10_med":${fmt(last10)},"ratio":${fmt(last10 / first10)},""" +
        s""""store_files":${files(new java.io.File(state))},${run.json}}""")))
  }

  private val QueryReps = 2
  private val ServeReps = 3

  /** SparkEntry.benchQueries, min of QueryReps per query. Plan shapes warm
    * untimed on the sibling `sf0.001` dir and the sf dir's parquet is
    * primed, so the first query does not pay the cold read of a table. */
  val Queries: Section = Section("queries", Nil, needsSeed = false) { ctx =>
    import ctx.{sfDir, spark}
    Session.sizeToInput(spark, Seq(sfDir))
    val names = {
      val b = SparkEntry.benchQueries.filter(SparkEntry.queries.contains)
      if (b.nonEmpty) b else SparkEntry.queries.keys.toSeq.sorted
    }
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != sfDir)
      names.foreach { n =>
        try noop(SparkEntry.queries(n)(spark, warmDir.getPath)) catch { case _: Throwable => () }
      }
    for (f <- Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
         if f.getName.endsWith(".parquet"))
      try noop(spark.read.parquet(f.getPath)) catch { case _: Throwable => () }
    val runs = names.map(n =>
      n -> reps(ctx, n, QueryReps, gated = false, gc = false)(_ =>
        timed(noop(SparkEntry.queries(n)(spark, sfDir)))))
    Record(queries = runs.collect { case (n, r) if r.done.nonEmpty => n -> r.values.min },
      failedQueries = runs.collect { case (n, r) if r.done.isEmpty => n },
      details = Seq("queries_meter" -> runs.map { case (n, r) => s""""$n":{${r.json}}""" }
        .mkString("{", ",", "}")))
  }

  /** The two served paths over indexes built untimed from the sf dir:
    * phrase search and probe-pruned IVF top-k. */
  val Serve: Section = Section("serve", Seq("retrieval_serve_phrase", "ann_serve_topk"),
    needsSeed = false) { ctx =>
    import ctx.{sfDir, spark}
    val idx = s"${ctx.workDir}/bench-term-idx/idx"
    graft.operators.TermIndex.build(spark, spark.read.parquet(s"$sfDir/documents.parquet"), idx)
    val phrase = reps(ctx, "serve_phrase", ServeReps, gated = false, gc = false) { _ =>
      timed(graft.operators.TermIndex.phraseSearch(spark, idx, Seq("table hash")).collect())
    }
    val ivf = s"${ctx.workDir}/bench-ivf-idx/idx"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.operators.IvfIndex.build(spark, emb, ivf)
    val qv = emb.filter(col("vec_id") < 10).localCheckpoint()
    val ann = reps(ctx, "serve_ann", ServeReps, gated = false, gc = false) { _ =>
      timed(noop(graft.operators.IvfIndex.search(spark, ivf, qv)))
    }
    Record(Seq("retrieval_serve_phrase" -> phrase.values.min, "ann_serve_topk" -> ann.values.min),
      Seq("serve" -> s"""{"phrase":{${phrase.json}},"ann":{${ann.json}}}"""))
  }

  /** XL runs after the small diff and soak, so its page-cache aftermath
    * lands on the XL diff, not the osm_diff_* trend line; XXL runs last. */
  val Table: Seq[Section] = Seq(Monaco, importSection(Synth400), diffSection(Diff),
    soakSection(Soak), importSection(Xl4000), diffSection(DiffXl), importSection(Xxl9600),
    Queries, Serve)

  /** Run `sections` in order, printing the record after each. */
  def run(ctx: Ctx, sections: Seq[Section]): Record =
    sections.foldLeft(Record()) { (rec, s) =>
      val out =
        if (s.needsSeed && !new java.io.File(ctx.seedPbf).exists()) {
          System.err.println(s"[bench] ${s.name} skipped: no seed PBF at ${ctx.seedPbf}")
          Record()
        } else try s.run(ctx) catch { case e: Throwable =>
          System.err.println(s"[bench] ${s.name} failed: ${e.getMessage}")
          Record()
        } finally ctx.reset()
      val next = rec ++ out
      next.lines(ctx.sfDir).foreach(println)
      next
    }

  def main(args: Array[String]): Unit = {
    val unknown = args.filterNot(a => Table.exists(_.name == a))
    require(unknown.isEmpty, s"unknown section(s) ${unknown.mkString(" ")}; " +
      s"sections: ${Table.map(_.name).mkString(" ")}")
    val spark = Session.build("graft-bench")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM/Catalyst warmup
    val ctx = new Ctx(spark,
      "/root/reference/vendor/github.com/omniscale/go-osm/parser/pbf/monaco-20150428.osm.pbf",
      new CompiledMapping(MappingConf.fromFile("/root/reference/test/complete_db_mapping.json")),
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WORKDIR", new java.io.File("target").getAbsolutePath),
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    run(ctx, if (args.isEmpty) Table else Table.filter(s => args.contains(s.name)))
    spark.stop()
  }
}
