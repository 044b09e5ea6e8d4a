package graft

import org.apache.spark.sql.DataFrame

import graft.geometry.Geom
import graft.mapping.{CompiledMapping, MappingConf}
import graft.model.Ids
import graft.sources.OsmXml
import graft.streaming.DiffPipeline

/** Single-id-space import + update against the reference's single_table
  * fixture (test/single_table_test.go): way ids negate, relation ids offset
  * below -1e17, hstore carries all tags, closed ways without area go to
  * both line and polygon rows.
  */
class SingleTableSpec extends SparkSpecBase {

  private val RelOffset = Ids.RelIDOffset

  private lazy val mapping =
    new CompiledMapping(MappingConf.fromFile("/root/reference/test/single_table_mapping.json"))

  private lazy val stateDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-single-state").toString
    DiffPipeline.init(spark, mapping, dir,
      OsmXml.read(spark, "/root/reference/test/single_table.osm"))
    dir
  }

  private lazy val all: DataFrame = {
    val df = DiffPipeline.readTables(spark, mapping, stateDir)("all")
    df.cache()
    df
  }

  private lazy val updated: DataFrame = {
    all.count() // force import-phase assertions' input before updating
    DiffPipeline.applyDiff(spark, mapping, stateDir,
      OsmXml.readDiff(spark, "/root/reference/test/single_table.osc").toDF())
    DiffPipeline.readTables(spark, mapping, stateDir)("all").cache()
  }

  private def hstoreMap(s: String): Map[String, String] =
    if (s == null || s.isEmpty) Map.empty
    else s.split(", ").map { kv =>
      val Array(k, v) = kv.split("=>")
      k.stripPrefix("\"").stripSuffix("\"") -> v.stripPrefix("\"").stripSuffix("\"")
    }.toMap

  private def rows(df: DataFrame, id: Long) = df.filter(s"osm_id = $id").collect()

  private def tagsOf(df: DataFrame, id: Long): Map[String, String] = {
    val r = rows(df, id)
    assert(r.length == 1, s"expected 1 row for $id, got ${r.length}")
    hstoreMap(r.head.getAs[String]("tags"))
  }

  private def geomTypeOf(df: DataFrame, id: Long): String =
    Geom.fromWkb(rows(df, id).head.getAs[Array[Byte]]("geometry")).getGeometryType

  test("non-mapped node missing; mapped node keeps all tags") {
    assert(rows(all, 10001).isEmpty)
    assert(tagsOf(all, 10002) ==
      Map("random" -> "tag", "but" -> "mapped", "poi" -> "unicorn"))
  }

  test("non-mapped ways missing; mapped way negated with tags + length") {
    assert(rows(all, 20101).isEmpty)
    assert(rows(all, 20102).isEmpty)
    assert(rows(all, 20103).isEmpty)
    assert(tagsOf(all, -20201) == Map("random" -> "tag", "highway" -> "yes"))
    val len = Geom.fromWkb(rows(all, -20201).head.getAs[Array[Byte]]("geometry")).getLength
    assert(math.abs(len - 111319.5) < 1.0, s"len=$len")
  }

  test("closed-way area semantics in single geometry table") {
    assert(rows(all, 20301).isEmpty)
    assert(rows(all, -20301).isEmpty)
    assert(tagsOf(all, -20401) == Map("random" -> "tag", "building" -> "yes"))
    assert(geomTypeOf(all, -20501) == "Polygon")
    assert(tagsOf(all, -20501) == Map("random" -> "tag", "landuse" -> "grass",
      "highway" -> "pedestrian", "area" -> "yes"))
    assert(geomTypeOf(all, -20502) == "LineString")
    // closed way without area: BOTH linestring and polygon rows
    val r = rows(all, -20601)
    assert(r.length == 2)
    assert(r.map(x => Geom.fromWkb(x.getAs[Array[Byte]]("geometry")).getGeometryType)
      .toSet == Set("LineString", "Polygon"))
  }

  test("DuplicateIds1: same id as node, way (2 rows) and relation") {
    assert(tagsOf(all, 31101) == Map("amenity" -> "cafe"))
    assert(rows(all, -31101).length == 2)
    assert(tagsOf(all, RelOffset - 31101) ==
      Map("building" -> "yes", "type" -> "multipolygon"))
    assert(geomTypeOf(all, RelOffset - 31101) == "Polygon")
  }

  test("DuplicateIds2 after update: all three survive the diff") {
    assert(tagsOf(updated, 31101) == Map("amenity" -> "cafe"))
    assert(rows(updated, -31101).length == 2)
    assert(tagsOf(updated, RelOffset - 31101) ==
      Map("building" -> "yes", "type" -> "multipolygon"))
    assert(geomTypeOf(updated, RelOffset - 31101) == "Polygon")
  }

  test("ModifiedRelation2: modified relation not inserted twice (#88)") {
    assert(rows(updated, RelOffset - 32901).length == 1)
  }

  test("ModifiedWayGeometryAfterNodeMoved: length doubled") {
    val len = Geom.fromWkb(rows(updated, -20201).head.getAs[Array[Byte]]("geometry")).getLength
    assert(math.abs(len - 222639.0) < 1.0, s"len=$len")
  }
}
