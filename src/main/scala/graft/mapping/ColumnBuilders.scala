package graft.mapping

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeomFunctions

/** The reference's entire scalar-function surface: the 21-entry column-type
  * registry (mapping/columns.go:20-47) as Spark Column builders. Native
  * Catalyst expressions wherever possible (codegen'd); UDFs only for
  * hstore rendering, suffix-replace and JTS area functions.
  *
  * Fixed intermediate column names provided by the pipeline:
  *   __id (mangled), tags, __geom (WKB), __key, __value (match),
  *   and for relation_member tables: __member_id/__member_type/
  *   __member_role/__member_index/__member_tags.
  */
object ColumnBuilders {

  private def tagRaw(tagsCol: Column, key: String): Column =
    try_element_at(tagsCol, lit(key))

  /** Go map zero value: missing tag reads as "" (columns.go:81-83). */
  private def tagVal(tagsCol: Column, key: String): Column =
    coalesce(tagRaw(tagsCol, key), lit(""))

  private val falsy = Seq("", "0", "false", "no")

  /** Build one output column for `conf` in table `table`. */
  def build(table: TableConf, conf: ColumnConf, forMember: Boolean): Column = {
    // from_member value columns read the member element's tags (matcher.go:247-261)
    val tagsCol =
      if (forMember && (conf.fromMember || isMemberType(conf.colType))) col("__member_tags")
      else col("tags")
    val v = tagVal(tagsCol, conf.key)
    val expr: Column = conf.colType match {
      case "bool" => !v.isin(falsy: _*)
      case "boolint" => when(v.isin(falsy: _*), 0).otherwise(1).cast(ByteType)
      case "string" => v
      case "integer" => parseInt32(v)
      case "id" => col("__id")
      case "mapping_key" => col("__key")
      case "mapping_value" => col("__value")
      case "direction" =>
        when(v.isin("1", "yes", "true"), 1)
          .when(v === "-1", -1).otherwise(0).cast(ByteType)
      case "geometry" | "validated_geometry" => col("__geom")
      case "area" => GeomFunctions.areaUdf(col("__geom"))
      case "pseudoarea" => GeomFunctions.areaUdf(col("__geom")) // deprecated alias
      case "webmerc_area" => GeomFunctions.webmercAreaUdf(col("__geom"))
      case "member_id" => col("__member_id")
      case "member_role" => col("__member_role")
      case "member_type" => col("__member_type")
      case "member_index" => col("__member_index")
      case "hstore_tags" => hstoreTags(tagsCol, conf)
      case "wayzorder" => wayZOrder(tagsCol, conf)
      case "zorder" => zOrder(tagsCol, conf)
      case "enumerate" => enumerate(tagsCol, conf, v)
      case "categorize_int" => categorizeInt(tagsCol, conf, v)
      case "string_suffixreplace" => suffixReplace(conf, v)
      case "geojson_intersects" => geojsonIntersects(conf, wantProperty = false)
      case "geojson_intersects_feature" => geojsonIntersects(conf, wantProperty = true)
      case other =>
        throw new IllegalArgumentException(s"unhandled column type $other (table ${table.name})")
    }
    expr.as(conf.name)
  }

  /** strconv.ParseInt(val, 10, 32) semantics: strict signed decimal,
    * out-of-int32 -> NULL (columns.go:85-91). The rlike+length guard keeps
    * this safe under ANSI mode (no cast errors). */
  private def parseInt32(v: Column): Column = {
    val l = when(v.rlike("^[+-]?[0-9]{1,18}$"), v.cast(LongType))
    when(l.between(Int.MinValue.toLong, Int.MaxValue.toLong), l.cast(IntegerType))
  }

  /** ParseInt 64-bit, parse failure -> 0 (wayzorder layer; columns.go:279).
    * 18 digits always fit int64; the downstream ×levelOffset multiply may
    * wrap LONG exactly like Go's int64 arithmetic does, and the final
    * int32-range check turns overflow into NULL either way. */
  private def parseInt64OrZero(v: Column): Column =
    coalesce(when(v.rlike("^[+-]?[0-9]{1,18}$"), v.cast(LongType)), lit(0L))

  private def isMemberType(t: String): Boolean =
    t == "member_id" || t == "member_role" || t == "member_type" || t == "member_index"

  // ---- parameterized types ---------------------------------------------------

  private def argList(conf: ColumnConf, key: String): Seq[String] =
    conf.args.get(key) match {
      case Some(l: java.util.List[_]) => l.toArray.map(_.toString).toSeq
      case Some(l: Seq[_]) => l.map(_.toString)
      case _ => throw new IllegalArgumentException(s"missing '$key' in args for ${conf.colType}")
    }

  private def argMap(conf: ColumnConf, key: String): Map[String, Any] =
    conf.args.get(key) match {
      case Some(m: java.util.Map[_, _]) =>
        import scala.jdk.CollectionConverters._
        m.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => throw new IllegalArgumentException(s"missing '$key' in args for ${conf.colType}")
    }

  /** hstore literal rendering (columns.go:171-196); keys sorted for
    * determinism (Go map iteration is random). */
  /** hstore rendering as a pure codegen expression — no UDF on this
    * per-row sink hot path. array_sort on ARRAY<STRUCT<key,value>> orders
    * by key first (keys are unique in a map), matching the reference's
    * sorted output; SQL replace() is literal, so escaping needs no regex
    * quoting. An `include` arg that parses empty keeps ALL tags, like the
    * reference's empty include set. */
  private def hstoreTags(tagsCol: Column, conf: ColumnConf): Column = {
    val include: Seq[String] =
      if (conf.args.contains("include")) argList(conf, "include") else Seq.empty
    def esc(c: Column): Column =
      call_function("replace",
        call_function("replace", c, lit("\\"), lit("\\\\")),
        lit("\""), lit("\\\""))
    val entries0 = map_entries(tagsCol)
    val entries =
      if (include.isEmpty) entries0
      else filter(entries0, e => e.getField("key").isin(include: _*))
    val rendered = transform(array_sort(entries), e =>
      concat(lit("\""), esc(e.getField("key")), lit("\"=>\""),
        esc(e.getField("value")), lit("\"")))
    when(tagsCol.isNull, lit("")).otherwise(array_join(rendered, ", "))
  }

  /** layer*offset + rank(match value) ± offset for tunnel/bridge
    * (columns.go:198-291). */
  private def wayZOrder(tagsCol: Column, conf: ColumnConf): Column = {
    val (ranks, offset, default) =
      if (conf.args.contains("ranks")) {
        val rs = argList(conf, "ranks").zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
        val dflt = conf.args.get("default").map(_.toString.toDouble.toInt).getOrElse(0)
        (rs, rs.size, dflt)
      } else {
        // defaultRanks (columns.go:246-261); default path: rank 0 + railway=7
        val rs = Map(
          "minor" -> 3, "road" -> 3, "unclassified" -> 3, "residential" -> 3,
          "tertiary_link" -> 3, "tertiary" -> 4, "secondary_link" -> 3,
          "secondary" -> 5, "primary_link" -> 3, "primary" -> 6,
          "trunk_link" -> 3, "trunk" -> 8, "motorway_link" -> 3, "motorway" -> 9)
        (rs, 10, 0)
      }
    val layer = parseInt64OrZero(tagVal(tagsCol, "layer"))
    val rankLookup = try_element_at(typedLit(ranks), col("__value"))
    val baseRank =
      if (conf.args.contains("ranks")) coalesce(rankLookup, lit(default))
      else
        // default registry: rank==0 and a railway tag present -> 7 (columns.go:269-275)
        when(coalesce(rankLookup, lit(0)) === 0 && tagRaw(tagsCol, "railway").isNotNull, 7)
          .otherwise(coalesce(rankLookup, lit(0)))
    val truthy = Seq("true", "yes", "1")
    val tunnel = when(tagVal(tagsCol, "tunnel").isin(truthy: _*), -offset).otherwise(0)
    val bridge = when(tagVal(tagsCol, "bridge").isin(truthy: _*), offset).otherwise(0)
    // z outside int32 -> NULL (columns.go:286-289; completedb WayWithInvalidLayer)
    val z = layer * offset + baseRank + tunnel + bridge
    when(z.between(Int.MinValue.toLong, Int.MaxValue.toLong), z.cast(IntegerType))
  }

  /** deprecated zorder (columns.go:293-338): rank = len-i, optional key. */
  private def zOrder(tagsCol: Column, conf: ColumnConf): Column = {
    val list = argList(conf, "ranks")
    val ranks = list.zipWithIndex.map { case (r, i) => r -> (list.length - i) }.toMap
    val keyArg = conf.args.get("key").map(_.toString)
    val lookupOn = keyArg.map(k => tagVal(tagsCol, k)).getOrElse(col("__value"))
    coalesce(try_element_at(typedLit(ranks), lookupOn), lit(0)).cast(IntegerType)
  }

  /** enumerate (columns.go:340-359): 1-based index; key-value if key set,
    * else the matched mapping value. */
  private def enumerate(tagsCol: Column, conf: ColumnConf, v: Column): Column = {
    val values = argList(conf, "values").zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val lookupOn = if (conf.key.nonEmpty) v else col("__value")
    coalesce(try_element_at(typedLit(values), lookupOn), lit(0)).cast(IntegerType)
  }

  /** categorize_int (columns_categorize.go:12-67): first matching key wins,
    * else default. */
  private def categorizeInt(tagsCol: Column, conf: ColumnConf, v: Column): Column = {
    val values = argMap(conf, "values").map { case (k, cat) => k -> cat.toString.toDouble.toInt }
    val default = conf.args.get("default").map(_.toString.toDouble.toInt)
      .getOrElse(throw new IllegalArgumentException("missing 'default' in categorize_int"))
    val vm = typedLit(values)
    val primary = when(v =!= "", try_element_at(vm, v))
    val fallbacks = conf.keys.map(k => try_element_at(vm, tagRaw(tagsCol, k)))
    coalesce((primary +: fallbacks) :+ lit(default): _*).cast(IntegerType)
  }

  /** geojson_intersects / _feature (columns_intersection.go:70-131):
    * broadcast spatial lookup — the FeatureIndex serializes as a path and
    * builds its prepared-geometry STRtree once per executor. */
  private def geojsonIntersects(conf: ColumnConf, wantProperty: Boolean): Column = {
    val path = conf.args.get("geojson").map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"missing 'geojson' in args for ${conf.colType}"))
    val idx = new graft.geometry.FeatureIndex(path, 3857)
    if (wantProperty) {
      val prop = conf.args.get("property").map(_.toString)
        .getOrElse(throw new IllegalArgumentException(
          "missing 'property' in args for geojson_intersects_feature"))
      udf { (wkb: Array[Byte]) =>
        idx.property(graft.geometry.Geom.fromWkb(wkb), prop)
      }.apply(col("__geom"))
    } else {
      udf { (wkb: Array[Byte]) =>
        idx.intersects(graft.geometry.Geom.fromWkb(wkb))
      }.apply(col("__geom"))
    }
  }

  /** string_suffixreplace (columns.go:384-422): single-pass regex
    * `(s1|s2|…)\b` replacement. */
  private def suffixReplace(conf: ColumnConf, v: Column): Column = {
    val changes: Map[String, String] = argMap(conf, "suffixes").map { case (k, s) => k -> s.toString }
    val pattern = "(" + changes.keys.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"
    val repl = udf { (s: String) =>
      if (s == null || s.isEmpty) s
      else {
        val m = java.util.regex.Pattern.compile(pattern).matcher(s)
        // NB: java.lang.StringBuilder — the Scala one resolves the 3-arg
        // append to append(Any) and stringifies a tuple
        val sb = new java.lang.StringBuilder
        var last = 0
        while (m.find()) {
          sb.append(s, last, m.start()).append(changes(m.group(1)))
          last = m.end()
        }
        sb.append(s, last, s.length).toString
      }
    }
    repl(v)
  }
}
