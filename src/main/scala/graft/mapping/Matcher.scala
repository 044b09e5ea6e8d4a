package graft.mapping

/** Tag→table matcher (reference mapping/matcher.go:125-233) compiled to a
  * serializable, broadcast-friendly value. This is the engine's central
  * flatMap: one element row explodes into one row per matched table.
  *
  * Semantics reproduced exactly:
  *  - `__any__` wildcard on key and/or value (matcher.go:189-202);
  *  - per-DestTable dedup keeping the lowest mapping `order` (:180-186);
  *  - require/reject (+regexp) filters per table (mapping.go:364-469);
  *  - closed-way area/linear-tags logic (mapping.go:299-329, matcher.go:137-155);
  *  - relation-type filter incl. the multipolygon/boundary/land_area default
  *    for polygon tables (mapping.go:332-362).
  */
final case class DestTable(name: String, subMapping: String = "")

final case class TagMatch(key: String, value: String, table: String, subMapping: String)

sealed trait ElemFilter extends Serializable {
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean
}

/** require/reject on a value list; `anyValue` models `__any__` (presence). */
final case class ValuesFilter(key: String, values: Set[String], anyValue: Boolean, require: Boolean)
    extends ElemFilter {
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean =
    tags.get(key) match {
      case Some(v) if anyValue || values.contains(v) => require
      case _ => !require
    }
}

final case class RegexpFilter(key: String, pattern: String, require: Boolean) extends ElemFilter {
  @transient private lazy val re = java.util.regex.Pattern.compile(pattern)
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean =
    tags.get(key) match {
      case Some(v) if re.matcher(v).find() => require
      case _ => !require
    }
}

/** Closed ways matched by a *linestring* table are dropped when they are
  * areas (area=yes, or an `area_tags` key matched) — mapping.go:299-314. */
final case class LineStringAreaFilter(areaTags: Set[String]) extends ElemFilter {
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean = {
    if (closed) {
      if (tags.getOrElse("area", "") == "yes") return false
      if (tags.getOrElse("area", "") != "no" && areaTags.contains(matchKey)) return false
    }
    true
  }
}

/** Polygon tables reject closed ways tagged area=no, and `linear_tags`
  * matches unless area=yes — mapping.go:315-328. */
final case class PolygonLinearFilter(linearTags: Set[String]) extends ElemFilter {
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean = {
    if (closed && tags.getOrElse("area", "") == "no") return false
    if (tags.getOrElse("area", "") != "yes" && linearTags.contains(matchKey)) return false
    true
  }
}

final case class RelationTypeFilter(types: Seq[String]) extends ElemFilter {
  def accept(tags: Map[String, String], matchKey: String, closed: Boolean): Boolean =
    tags.get("type").exists(types.contains)
}

/** One compiled matcher (point / linestring / polygon / relation /
  * relation_member flavors are built by [[CompiledMapping]]).
  *
  * `mappings`: key -> value -> [(table, subMapping, order)].
  */
final class TagMatcher(
    val mappings: Map[String, Map[String, Seq[(DestTable, Int)]]],
    val filters: Map[String, Seq[ElemFilter]],
    val relFilters: Map[String, Seq[ElemFilter]],
    val matchAreas: Boolean) extends Serializable {

  /** matcher.go:166-233. Tags iterated in sorted-key order for determinism
    * (Go map iteration is random; ties across equal `order` are edge cases).
    */
  def matchTags(tags: Map[String, String], closed: Boolean, relation: Boolean): Seq[TagMatch] = {
    if (tags == null || (tags.isEmpty && !mappings.contains("__any__"))) return Nil
    var best = Map.empty[DestTable, (String, String, Int)] // table -> (key, value, order)

    def addTables(k: String, v: String, tbls: Seq[(DestTable, Int)]): Unit =
      tbls.foreach { case (tbl, order) =>
        best.get(tbl) match {
          case Some((_, _, o)) if o <= order => ()
          case _ => best += tbl -> (k, v, order)
        }
      }

    mappings.get("__any__").foreach { values =>
      values.get("__any__").foreach(tbls => addTables("__any__", "__any__", tbls))
    }
    tags.toSeq.sortBy(_._1).foreach { case (k, v) =>
      mappings.get(k).foreach { values =>
        values.get("__any__").foreach(tbls => addTables(k, v, tbls))
        values.get(v).foreach(tbls => addTables(k, v, tbls))
      }
    }

    val out = Vector.newBuilder[TagMatch]
    best.toSeq.sortBy { case (tbl, _) => (tbl.name, tbl.subMapping) }.foreach {
      case (tbl, (k, v, _)) =>
        val tableFilters = filters.getOrElse(tbl.name, Nil)
        var ok = tableFilters.forall(_.accept(tags, k, closed))
        if (ok && relation)
          ok = relFilters.getOrElse(tbl.name, Nil).forall(_.accept(tags, k, closed))
        if (ok) out += TagMatch(k, v, tbl.name, tbl.subMapping)
    }
    out.result()
  }

  def matchNode(tags: Map[String, String]): Seq[TagMatch] =
    matchTags(tags, closed = false, relation = false)

  /** matcher.go:137-155 — polygon matchers only see closed ways (area!=no);
    * linestring matchers see open ways plus closed ways with area!=yes. */
  def matchWay(tags: Map[String, String], isClosed: Boolean): Seq[TagMatch] = {
    if (tags == null) return Nil
    if (matchAreas) {
      if (isClosed) {
        if (tags.getOrElse("area", "") == "no") Nil
        else matchTags(tags, closed = true, relation = false)
      } else Nil
    } else {
      if (isClosed) {
        if (tags.getOrElse("area", "") == "yes") Nil
        else matchTags(tags, closed = true, relation = false)
      } else matchTags(tags, closed = false, relation = false)
    }
  }

  def matchRelation(tags: Map[String, String]): Seq[TagMatch] =
    matchTags(tags, closed = true, relation = true)
}

/** All five matchers plus tag prefilters compiled from one mapping file. */
final class CompiledMapping(val conf: MappingConf) extends Serializable {
  import TableType._

  val pointMatcher: TagMatcher = buildMatcher(Point, relFlavor = false, matchAreas = false)
  val lineStringMatcher: TagMatcher = buildMatcher(LineString, relFlavor = false, matchAreas = false)
  val polygonMatcher: TagMatcher = buildMatcher(Polygon, relFlavor = true, matchAreas = true)
  val relationMatcher: TagMatcher = buildRelationMatcher()
  val relationMemberMatcher: TagMatcher = buildMatcher(RelationMember, relFlavor = true, matchAreas = true)

  val nodeTagFilter: TagPrefilter = TagPrefilter.forNodes(conf)
  val wayTagFilter: TagPrefilter = TagPrefilter.forWays(conf)
  val relationTagFilter: TagPrefilter = TagPrefilter.forRelations(conf)

  // ---- construction (mirrors mapping/matcher.go:8-91) -----------------------

  /** mapping.go:169-189: tables of `tableType` plus geometry tables feed the
    * mapping; geometry tables additionally feed via type_mappings. */
  private def tagTableMapping(tableType: String): Map[String, Map[String, Seq[(DestTable, Int)]]] = {
    val acc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, Vector[(DestTable, Int)]]]

    def add(kvs: Vector[(String, Vector[OrderedValue])], dest: DestTable): Unit =
      kvs.foreach { case (key, vals) =>
        val byVal = acc.getOrElseUpdate(key, scala.collection.mutable.Map.empty)
        vals.foreach { ov =>
          byVal(ov.value) = byVal.getOrElse(ov.value, Vector.empty) :+ (dest -> ov.order)
        }
      }

    conf.tables.values.foreach { t =>
      if (t.tableType == Geometry || t.tableType == tableType) {
        add(t.mapping, DestTable(t.name))
        t.subMappings.foreach { case (subName, kvs) => add(kvs, DestTable(t.name, subName)) }
        tableType match {
          case Point => add(t.typeMappings.points, DestTable(t.name))
          case LineString => add(t.typeMappings.linestrings, DestTable(t.name))
          case Polygon => add(t.typeMappings.polygons, DestTable(t.name))
          case _ => ()
        }
      }
    }
    acc.view.mapValues(_.toMap.view.mapValues(_.toSeq).toMap).toMap
  }

  /** mapping.go:364-410 — require/reject(+regexp) filters for every table. */
  private def configuredFilters: Map[String, Seq[ElemFilter]] = {
    conf.tables.values.flatMap { t =>
      t.filters.map { f =>
        val fs = Vector.newBuilder[ElemFilter]
        f.require.foreach { case (k, vals) =>
          fs += makeValuesFilter(k, vals, require = true)
        }
        f.reject.foreach { case (k, vals) =>
          fs += makeValuesFilter(k, vals, require = false)
        }
        f.requireRegexp.foreach { case (k, re) => fs += RegexpFilter(k, re, require = true) }
        f.rejectRegexp.foreach { case (k, re) => fs += RegexpFilter(k, re, require = false) }
        t.name -> fs.result()
      }
    }.toMap
  }

  private def makeValuesFilter(key: String, vals: Vector[OrderedValue], require: Boolean): ElemFilter = {
    val values = vals.map(_.value).toSet
    if (values.contains("__any__")) ValuesFilter(key, Set.empty, anyValue = true, require)
    else ValuesFilter(key, values, anyValue = false, require)
  }

  /** mapping.go:279-330 — area/linear tags per typed table. */
  private def typedFilters(tableType: String): Map[String, Seq[ElemFilter]] = {
    val out = scala.collection.mutable.Map.empty[String, Vector[ElemFilter]]
    conf.tables.values.foreach { t =>
      if (t.tableType == Geometry || t.tableType == tableType) {
        if (t.tableType == LineString && conf.areas.areaTags.nonEmpty)
          out(t.name) = out.getOrElse(t.name, Vector.empty) :+ LineStringAreaFilter(conf.areas.areaTags)
        if (t.tableType == Polygon && conf.areas.linearTags.nonEmpty)
          out(t.name) = out.getOrElse(t.name, Vector.empty) :+ PolygonLinearFilter(conf.areas.linearTags)
      }
    }
    out.toMap
  }

  /** mapping.go:332-362 — relation-type gate for every table. */
  private def relationFilters: Map[String, Seq[ElemFilter]] =
    conf.tables.values.map { t =>
      t.relationTypes match {
        case Some(types) => t.name -> Seq(RelationTypeFilter(types))
        case None if t.tableType == Polygon =>
          t.name -> Seq(RelationTypeFilter(Seq("multipolygon", "boundary", "land_area")))
        case None => t.name -> Nil
      }
    }.filter(_._2.nonEmpty).toMap

  private def mergeFilters(ms: Map[String, Seq[ElemFilter]]*): Map[String, Seq[ElemFilter]] =
    ms.flatMap(_.toSeq).groupBy(_._1).view.mapValues(_.flatMap(_._2).toSeq).toMap

  private def buildMatcher(tableType: String, relFlavor: Boolean, matchAreas: Boolean): TagMatcher =
    new TagMatcher(
      tagTableMapping(tableType),
      mergeFilters(configuredFilters, typedFilters(tableType)),
      if (relFlavor) relationFilters else Map.empty,
      matchAreas)

  /** relation matcher gets polygon AND relation typed filters (matcher.go:56-73). */
  private def buildRelationMatcher(): TagMatcher =
    new TagMatcher(
      tagTableMapping(Relation),
      mergeFilters(configuredFilters, typedFilters(Polygon), typedFilters(Relation)),
      relationFilters,
      matchAreas = true)
}
