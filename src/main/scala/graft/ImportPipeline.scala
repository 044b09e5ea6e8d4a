package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.GeomFunctions._
import graft.mapping._
import graft.model.Ids
import graft.operators.{RelationAssembly, WayAssembly}
import graft.sources.OsmXml.Bundle

/** End-to-end batch import: OSM element frames + compiled mapping ->
  * one DataFrame per output table (the §3.1 `imposm import` lifecycle,
  * import_/import.go:24-308, re-expressed as one Spark DAG).
  *
  * Phase structure disappears into DAG dependencies: the LevelDB caches
  * become the `coords`/`assembled` frames, the three sequential writer
  * fan-outs become three branches unioned per destination table.
  */
final class ImportPipeline(
    spark: SparkSession,
    mapping: CompiledMapping,
    srid: Int = 3857,
    limit: Option[graft.operators.Limitto] = None,
    storage: org.apache.spark.storage.StorageLevel =
      ImportPipeline.defaultStorage,
    // J1 strategy hook: (filtered ways, projected coords) => assembled
    // frame. Default is the in-pipeline AQE shuffle join; the bench's
    // bucketed A/B injects WayAssembly.resolveStore over a pre-bucketed
    // element store (the reference's ID-sorted cache layout analog).
    assembler: (DataFrame, DataFrame) => DataFrame = WayAssembly.resolve)
    extends Serializable {

  import spark.implicits._

  private val single = mapping.conf.singleIdSpace

  /** Frames persisted by run(); every output table filters a shared stage
    * frame, so without these caches each of the mapping's N tables would
    * re-run the matchers, geometry construction, and clipping — N× the
    * work (measured 8× slower end-to-end on a 400-tile Monaco bench).
    * Spill-safe: `storage` defaults to ImportPipeline.defaultStorage
    * (MEMORY_AND_DISK, degrading to DISK_ONLY when the heap is oversized
    * for the box); planet-scale runs pass DISK_ONLY explicitly.
    */
  @transient private val persisted = scala.collection.mutable.Buffer.empty[(Int, DataFrame)]

  /** `wave` encodes cache dependencies: a frame only reads caches from
    * strictly earlier waves, so materializeStages() can force each wave's
    * frames concurrently without two in-flight jobs recomputing a shared
    * uncached parent. */
  private def tracked(df: DataFrame, wave: Int = 0): DataFrame = {
    val out = df.persist(storage)
    persisted += wave -> out
    out
  }

  /** Release every frame run() persisted (call after sinking all tables). */
  def unpersistAll(): Unit = {
    persisted.foreach(_._2.unpersist())
    persisted.clear()
  }

  /** Force every tracked cache before fanning out per-table sinks —
    * concurrent first-touch jobs would otherwise duplicate partition
    * computation (Spark's cache dedups only registered blocks, not
    * in-flight ones). Frames within a wave are independent given earlier
    * waves, so each wave materializes in parallel: small stage jobs fill
    * the cores the wave's big shuffle leaves idle. A frame is forced by a
    * `noop` write of none of its columns, not by a `count`: the count's
    * aggregate exchange costs one more job per frame, and a frame whose
    * plan has no exchange of its own then fills its cache in one job. */
  def materializeStages(): Unit =
    persisted.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, dfs) =>
      graft.streaming.DiffPipeline.drainConcurrently(dfs.toSeq.map { case (_, df) =>
        () => df.select().write.format("noop").mode("overwrite").save() })
    }

  /** Run the import; returns table name -> rows (lazy frames).
    *
    * `resolve` carries resolution-only inputs for relation-member lookup:
    * the diff path drives rows from the rebuild closure (`bundle`) but must
    * resolve member tags against the FULL maintained state, exactly as the
    * reference resolves members from its cache (writer/relations.go:216-251)
    * regardless of which relations the diff rebuilds. Without it, a rebuilt
    * relation whose sub-relation member (route_master shape) or tagged-node
    * member is unchanged would fail resolution / lose `from_member` tags.
    */
  def run(bundle: Bundle, resolve: Option[Bundle] = None): Map[String, DataFrame] = {
    // -- shared inputs --------------------------------------------------------
    // every coordinate passes through the reference's uint32 cache codec —
    // EXCEPT coords flagged `fresh` by the diff path: the reference's
    // DeltaCoordsCache only quantizes on bunch serialization, so nodes
    // written and read back within one diff batch resolve at full precision
    // (cache/delta.go LRU; route_relation MemberGeomUpdated2 golden embeds
    // this). The tagged-nodes cache has no LRU: node points always quantize.
    def projectXY(df: DataFrame): DataFrame = {
      val hasFresh = df.columns.contains("fresh")
      def q(c: Column): Column =
        if (hasFresh) when(col("fresh"), c).otherwise(quantizeCoord(c))
        else quantizeCoord(c)
      val qlon = q(col("lon"))
      val qlat = q(col("lat"))
      if (srid == 3857) df.withColumn("x", mercX(qlon)).withColumn("y", mercY(qlat))
      else df.withColumn("x", qlon).withColumn("y", qlat)
    }
    val coords = projectXY(bundle.coords).select(col("id"), col("x"), col("y"))

    // capture matchers/filters as locals: UDF closures must not drag the
    // pipeline (and the full parsed config) into the serialized task.
    // One FUSED udf per element kind — filter + every matcher flavor in a
    // single call — so each row pays ONE Catalyst-map -> Scala-map
    // conversion instead of one per filter/matcher (2-4× before).
    val ntf = mapping.nodeTagFilter
    val wtf = mapping.wayTagFilter
    val rtf = mapping.relationTagFilter
    val relFilter = udf((t: Map[String, String]) => rtf.filter(t))

    val pm = mapping.pointMatcher
    val lm = mapping.lineStringMatcher
    val gm = mapping.polygonMatcher
    val rm = mapping.relationMatcher
    val mm = mapping.relationMemberMatcher
    val nodeFused = udf { (t: Map[String, String]) =>
      val ft = ntf.filter(t)
      (ft, pm.matchNode(ft))
    }
    val wayFused = udf { (t: Map[String, String], closed: Boolean) =>
      val ft = wtf.filter(t)
      (ft, lm.matchWay(ft, closed), gm.matchWay(ft, closed))
    }
    val relFused = udf { (t: Map[String, String]) =>
      val ft = rtf.filter(t)
      (ft, gm.matchRelation(ft), rm.matchRelation(ft), mm.matchRelation(ft))
    }

    // limitto (P6 point filter + J5 clip, geom/limit/limit.go): a clipped
    // geometry may split into several parts — each part is its own row with
    // the same id, like the reference's per-part InsertPolygon loop.
    val lim = limit
    val pointInCoverage = udf((x: Double, y: Double) =>
      lim.forall(_.containsPointBuffered(x, y)))
    val clipParts = udf((wkb: Array[Byte]) =>
      lim.map(_.clipWkb(wkb)).getOrElse(if (wkb == null) Seq.empty else Seq(wkb)))
    def clipped(df: DataFrame): DataFrame =
      if (lim.isEmpty) df.filter(col("__geom").isNotNull)
      else df
        .withColumn("__geom", explode(clipParts(col("__geom"))))
        .filter(col("__geom").isNotNull)

    // -- node branch (writer/nodes.go:46-97) ----------------------------------
    // the coverage test is identically-true without a limitto region — skip
    // the UDF entirely rather than pay a codegen break per node
    val nodesXYAll = projectXY(bundle.nodes)
      .select(col("id"), col("x"), col("y"), col("tags"))
    val nodesXY =
      if (lim.isEmpty) nodesXYAll
      else nodesXYAll.filter(pointInCoverage(col("x"), col("y")))
    val nodeRows = tracked(nodesXY
      .withColumn("__nm", nodeFused(col("tags")))
      .withColumn("tags", col("__nm._1"))
      .withColumn("__matches", col("__nm._2"))
      .filter(size(col("__matches")) > 0)
      .withColumn("__geom", pointWkb(srid)(col("x"), col("y")))
      .withColumn("__id", col("id"))
      // reads only the bundle, no stage cache: wave 1 so it fills cores
      // while the way-assembly shuffle (the wave's long pole) runs
      .transform(explodeMatches), wave = 1)

    // -- way branch (writer/ways.go:67-130) -----------------------------------
    val waysF = tracked(bundle.ways
      .withColumn("__closed",
        size(col("refs")) >= 4 && col("refs").getItem(0) === element_at(col("refs"), -1))
      .withColumn("__wm", wayFused(col("tags"), col("__closed")))
      .select(col("id"), col("refs"), col("__wm._1").as("tags"), col("__closed"),
        col("__wm._2").as("__line"), col("__wm._3").as("__poly")), wave = 0)
      // shared by every line/polygon table action

    val matchedWayIds = waysF
      .filter(size(col("__line")) > 0 || size(col("__poly")) > 0)
      .select(col("id"))
    val memberWayIds = bundle.relations
      .select(explode(col("members")).as("m"))
      .filter(col("m.type") === 1)
      .select(col("m.id").as("id"))
    // no .distinct(): left_semi dedups the probe side by construction, so
    // a distinct here would only add a shuffle over every way id
    val assembleIds = matchedWayIds.union(memberWayIds)
    val assembled = tracked(
      assembler(bundle.ways.join(assembleIds, Seq("id"), "left_semi"), coords), wave = 1)

    val wayIdCol = (if (single) -col("id") else col("id")).cast(LongType)
    // ONE join + ONE cache for both line and polygon flavors (two separate
    // caches would shuffle `assembled` twice and cache the tag maps twice).
    // Geometry UDFs run once per way BEFORE the match explode; the cache
    // holds flat exploded rows so each table's scan batch-prunes on the
    // __table min/max stats.
    def flavored(matches: String, isLine: Boolean): Column =
      transform(col(matches), m => struct(
        m.getField("key").as("key"), m.getField("value").as("value"),
        m.getField("table").as("table"), lit(isLine).as("line")))
    val wayRows = tracked(clipped(waysF
      .filter(size(col("__line")) > 0 || size(col("__poly")) > 0)
      .join(assembled.select("id", "xs", "ys"), Seq("id"))
      .withColumn("__geom_line",
        when(size(col("__line")) > 0, lineWkb(srid)(col("xs"), col("ys"))))
      .withColumn("__geom_poly",
        when(size(col("__poly")) > 0, polygonValidWkb(srid)(col("xs"), col("ys"))))
      .select(wayIdCol.as("__id"), col("tags"),
        explode(concat(flavored("__line", isLine = true),
          flavored("__poly", isLine = false))).as("__m"),
        col("__geom_line"), col("__geom_poly"))
      .withColumn("__geom",
        when(col("__m.line"), col("__geom_line")).otherwise(col("__geom_poly"))))
      .select(col("__id"), col("tags"), col("__geom"),
        col("__m.key").as("__key"), col("__m.value").as("__value"),
        col("__m.table").as("__table")), wave = 2)

    // -- relation branch (writer/relations.go:72-136) --------------------------
    val relsF = tracked(bundle.relations
      .withColumn("__rm", relFused(col("tags")))
      .select(col("id"), col("members"), col("__rm._1").as("tags"),
        col("__rm._2").as("__poly"), col("__rm._3").as("__rel"),
        col("__rm._4").as("__member")), wave = 0)

    val relIdCol = (if (single) lit(Ids.RelIDOffset) - col("rel_id")
                    else -col("rel_id")).cast(LongType)

    // multipolygon rows (handleMultiPolygon)
    val polyRels = relsF.filter(size(col("__poly")) > 0)
    val wayMembers = polyRels
      .select(col("id").as("rel_id"), explode(col("members")).as("m"))
      .filter(col("m.type") === 1)
      .select(col("rel_id"), col("m.id").as("m_id"))
    // refs came through the assembly shuffle — no re-join against ways
    val assembledXY = assembled.select(col("id"), col("refs"), col("xs"), col("ys"))
    val relGeoms = tracked(
      RelationAssembly.multiPolygons(spark, wayMembers, assembledXY, srid), wave = 2)
      // ring/multipolygon assembly runs once, not per table
    val relPolyRows = tracked(clipped(polyRels
      .join(relGeoms, polyRels("id") === relGeoms("rel_id")))
      .withColumn("__id", relIdCol)
      .withColumn("__matches", col("__poly"))
      .transform(explodeMatches), wave = 3)

    // relation rows: matched relations, no geometry (handleRelation)
    val relRows = tracked(relsF
      .filter(size(col("__rel")) > 0)
      .withColumn("rel_id", col("id"))
      .withColumn("__geom", lit(null).cast("binary"))
      .withColumn("__id", relIdCol)
      .withColumn("__matches", col("__rel"))
      .transform(explodeMatches), wave = 1)

    // relation_member rows (handleRelationMembers): resolve EVERY member;
    // any unresolved member drops the whole relation. Node members fall
    // back to untagged coords (relations.go:236-246). Tag/sub-relation
    // lookups go against the resolution bundle when provided (diff path).
    val allNodesXY = coords.join(
      resolve.getOrElse(bundle).nodes.select(col("id"), col("tags")),
      Seq("id"), "left")
    val resolveRels = resolve match {
      case Some(r) => r.relations.select(col("id"), relFilter(col("tags")).as("tags"))
      case None => relsF.select(col("id"), col("tags"))
    }
    val memberRows =
      relationMemberRows(relsF, resolveRels, assembled, bundle.ways, allNodesXY, relIdCol)
        .map(tracked(_, wave = 2))

    // -- route rows to destination tables --------------------------------------
    // A stage frame can only carry rows for tables its matcher targets, so
    // each table unions exactly the stages that can feed it (a point table
    // scans ONE cache, not four — the __table filter alone would be
    // correct but forces every sink to scan every stage cache).
    def targetsOf(m: TagMatcher): Set[String] =
      m.mappings.valuesIterator
        .flatMap(_.valuesIterator.flatMap(_.iterator.map(_._1.name))).toSet
    val stageTargets: Seq[(DataFrame, Set[String])] = Seq(
      nodeRows -> targetsOf(pm),
      wayRows -> (targetsOf(lm) ++ targetsOf(gm)),
      relPolyRows -> targetsOf(gm),
      relRows -> targetsOf(rm))

    mapping.conf.tables.values.map { table =>
      val isMember = table.tableType == TableType.RelationMember
      val sources =
        if (isMember) memberRows.toSeq
        else stageTargets.collect { case (df, t) if t.contains(table.name) => df } match {
          case Seq() => Seq(nodeRows.filter(lit(false))) // unmatched table: empty, right schema
          case s => s
        }
      val parts = sources.map(df => projectTable(df, table, isMember))
      table.name -> parts.reduce(_ unionByName _)
    }.toMap
  }

  /** Explode `__matches` into one row per matched table, flattened to
    * plain `__key`/`__value`/`__table` columns — flat columns (not struct
    * fields) let the in-memory columnar cache skip batches on `__table`
    * min/max stats when each output table filters the shared stage frame. */
  private def explodeMatches(df: DataFrame): DataFrame =
    df.select(col("__id"), col("tags"), col("__geom"),
      explode(col("__matches")).as("__m"))
      .select(col("__id"), col("tags"), col("__geom"),
        col("__m.key").as("__key"), col("__m.value").as("__value"),
        col("__m.table").as("__table"))

  private def projectTable(stage: DataFrame, table: TableConf, isMember: Boolean): DataFrame = {
    val flat = stage.filter(col("__table") === table.name)
    flat.select(table.columns.map(c => ColumnBuilders.build(table, c, isMember)): _*)
  }

  /** handleRelationMembers (writer/relations.go:216-283). `resolveRels`
    * is the (id, tags) frame sub-relation members resolve against — the
    * full relation state on the diff path, `relsF` itself in batch mode.
    */
  private def relationMemberRows(
      relsF: DataFrame,
      resolveRels: DataFrame,
      assembled: DataFrame,
      ways: DataFrame,
      nodesXY: DataFrame,
      relIdCol: Column): Option[DataFrame] = {
    if (!mapping.conf.tables.values.exists(_.tableType == TableType.RelationMember))
      return None
    val memberRels = relsF.filter(size(col("__member")) > 0)

    val m = memberRels.select(
      col("id").as("rel_id"), col("tags").as("rel_tags"), col("__member"),
      posexplode(col("members")).as(Seq("__member_index", "m")))
      .select(col("rel_id"), col("rel_tags"), col("__member"),
        col("__member_index"), col("m.id").as("__member_id"),
        col("m.type").as("__member_type"), col("m.role").as("__member_role"))

    // node members: tagged nodes first, coords fallback (relations.go:232-251)
    val nodeSide = nodesXY.select(col("id").as("n_id"), col("x").as("n_x"),
      col("y").as("n_y"), col("tags").as("n_tags"))
    val relSide = resolveRels.select(col("id").as("r_id"), col("tags").as("r_tags"))
    val waySide = assembled.select("id", "xs", "ys")
      .join(ways.select(col("id"), col("tags").as("w_tags")), Seq("id"))
      .select(col("id").as("w_id"), col("xs").as("w_xs"), col("ys").as("w_ys"), col("w_tags"))

    // all-or-nothing per relation across ALL members, in one pass: a
    // window over the relation's member rows, so the three member joins
    // plan once (an aggregate joined back to the rows plans them twice).
    // Tags and geometries are built for the surviving rows only.
    val rows = m
      .join(nodeSide, col("__member_type") === 0 && col("__member_id") === col("n_id"), "left")
      .join(waySide, col("__member_type") === 1 && col("__member_id") === col("w_id"), "left")
      .join(relSide, col("__member_type") === 2 && col("__member_id") === col("r_id"), "left")
      .withColumn("__resolved",
        when(col("__member_type") === 0, col("n_id").isNotNull)
          .when(col("__member_type") === 1, col("w_id").isNotNull)
          .otherwise(col("r_id").isNotNull))
      .withColumn("__all_ok", min(col("__resolved")).over(Window.partitionBy(col("rel_id"))))
      .filter(col("__all_ok"))
      .withColumn("__member_tags",
        when(col("__member_type") === 0, coalesce(col("n_tags"), map()))
          .when(col("__member_type") === 1, coalesce(col("w_tags"), map()))
          .otherwise(coalesce(col("r_tags"), map())))
      .withColumn("__geom",
        when(col("__member_type") === 0, pointWkb(srid)(col("n_x"), col("n_y")))
          .when(col("__member_type") === 1, lineWkb(srid)(col("w_xs"), col("w_ys"))))
      .withColumn("__id", relIdCol)
      .withColumn("tags", col("rel_tags"))
      .select(col("__id"), col("tags"), col("__geom"),
        explode(col("__member")).as("__m"),
        col("__member_id"), col("__member_type"), col("__member_role"),
        col("__member_index"), col("__member_tags"))
      .select(col("__id"), col("tags"), col("__geom"),
        col("__m.key").as("__key"), col("__m.value").as("__value"),
        col("__m.table").as("__table"),
        col("__member_id"), col("__member_type"), col("__member_role"),
        col("__member_index"), col("__member_tags"))
    Some(rows)
  }

}

object ImportPipeline {
  def apply(spark: SparkSession, mappingFile: String, srid: Int = 3857): ImportPipeline =
    new ImportPipeline(spark, new CompiledMapping(MappingConf.fromFile(mappingFile)), srid)

  /** True when the JVM heap is configured past half of physical RAM (the
    * driver's ~90g-on-125GiB case). Spark's storage pool and concurrent
    * sink drains then inflate the resident set until the OS page-faults
    * every executor thread — observed as 25s→190s on the import phase. */
  def heapOversized: Boolean = {
    val phys = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getTotalMemorySize
      case _ => Long.MaxValue
    }
    Runtime.getRuntime.maxMemory > phys / 2
  }

  /** Stage-cache storage level for the box the JVM runs on:
    * MEMORY_AND_DISK when the heap is sized sanely (blocks that fit stay
    * hot, the rest spill); DISK_ONLY when the heap is oversized, which
    * caps the storage pool's resident footprint — cached blocks go to
    * page-cache-backed local disk, still far cheaper than recompute. */
  def defaultStorage: org.apache.spark.storage.StorageLevel =
    if (heapOversized) org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
}
