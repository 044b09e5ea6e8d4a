package graft

import org.apache.spark.sql.DataFrame

import graft.geometry.Geom
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml
import graft.streaming.DiffPipeline

/** relation / relation_member tables against the reference's route_relation
  * fixture (test/route_relation_test.go): member resolution with node-tag
  * lookup, all-or-nothing member imports, and member maintenance through a
  * diff (geometry, tags, roles, removals).
  */
class RouteRelationSpec extends SparkSpecBase {

  private lazy val mapping =
    new CompiledMapping(MappingConf.fromFile("/root/reference/test/route_relation_mapping.yml"))

  private lazy val stateDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft-route-state").toString
    DiffPipeline.init(spark, mapping, dir,
      OsmXml.read(spark, "/root/reference/test/route_relation.osm"))
    dir
  }

  private lazy val tables: Map[String, DataFrame] =
    DiffPipeline.readTables(spark, mapping, stateDir)
      .map { case (k, v) => k -> v.cache() }

  private lazy val updatedMembers: DataFrame = {
    tables("route_members").count() // force import-phase state first
    DiffPipeline.applyDiff(spark, mapping, stateDir,
      OsmXml.readDiff(spark, "/root/reference/test/route_relation.osc").toDF())
    DiffPipeline.readTables(spark, mapping, stateDir)("route_members").cache()
  }

  private def member(df: DataFrame, osmId: Long, member: Long) =
    df.filter(s"osm_id = $osmId AND member = $member").collect()

  private def hstoreName(s: String): Option[String] =
    s.split(", (?=\")").collectFirst {
      case kv if kv.startsWith("\"name\"=>") =>
        kv.split("=>", 2)(1).stripPrefix("\"").stripSuffix("\"")
    }

  test("RelationData: route and master-route tags (hstore)") {
    val routes = tables("routes")
    val r = routes.filter("osm_id = -100901").collect()
    assert(r.length == 1)
    assert(hstoreName(r.head.getAs[String]("tags")).contains("Bus 301: A => B"))
    val master = routes.filter("osm_id = -100911").collect()
    assert(master.length == 1)
    assert(hstoreName(master.head.getAs[String]("tags")).contains("Bus 301"))
  }

  test("MemberUpdatedByNode1: node member resolved with its tags") {
    val rows = member(tables("route_members"), -110901, 110101)
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("name") == "Stop")
  }

  test("MemberGeomUpdated1: member way geometry + empty member name") {
    val rows = member(tables("route_members"), -100902, 100502)
    assert(rows.length == 1)
    val len = Geom.fromWkb(rows.head.getAs[Array[Byte]]("geometry")).getLength
    assert(math.abs(len - 111.32448543701321) < 1e-8, s"len=$len")
    val r2 = member(tables("route_members"), -100902, 100503)
    assert(r2.length == 1)
    assert(r2.head.getAs[String]("name") == "")
  }

  test("NoRouteWithMissingMember: members are all-or-nothing") {
    assert(member(tables("route_members"), -120901, 120101).isEmpty)
  }

  test("MemberGeomUpdated2: diff updates geometry, tags, roles, removals") {
    val r1 = member(updatedMembers, -100902, 100502)
    assert(r1.length == 1)
    // 1e-7: our value is 11 nm off the reference's (double-op ordering in
    // the projection); the fresh-coords-at-full-precision semantics match
    val len = Geom.fromWkb(r1.head.getAs[Array[Byte]]("geometry")).getLength
    assert(math.abs(len - 184.97560221624542) < 1e-7, s"len=$len")

    val r2 = member(updatedMembers, -100902, 100503)
    assert(r2.length == 1)
    assert(r2.head.getAs[String]("name") == "new name")

    assert(member(updatedMembers, -100902, 100512).isEmpty)

    val r4 = member(updatedMembers, -100902, 100102)
    assert(r4.length == 1)
    assert(r4.head.getAs[String]("role") == "halt")
  }

  test("MemberUpdatedByNode2: node-tag change reaches the member row") {
    val rows = member(updatedMembers, -110901, 110101)
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("name") == "Stop2")
  }
}
