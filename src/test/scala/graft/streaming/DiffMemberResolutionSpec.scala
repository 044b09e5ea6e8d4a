package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml

/** Diff-path member resolution must see the FULL maintained state, not just
  * the rebuild closure (reference writer/relations.go:216-251 resolves every
  * member from the whole cache). Two regression shapes the route_relation
  * system fixtures don't reach:
  *
  *  (a) a rebuilt route_master whose sub-relation members are UNCHANGED —
  *      resolution against closure-only relations fails the all-or-nothing
  *      gate after the old rows were already deleted: silent row loss;
  *  (b) a rebuilt route whose tagged-node member is UNCHANGED — the node
  *      resolves through the coords fallback but its tags are lost, so
  *      `from_member` columns silently become empty.
  */
class DiffMemberResolutionSpec extends SparkSpecBase {

  private lazy val mapping =
    new CompiledMapping(MappingConf.fromFile("/root/reference/test/route_relation_mapping.yml"))

  private def freshState(): String = {
    val dir = Files.createTempDirectory("graft-member-res").toString
    DiffPipeline.init(spark, mapping, dir,
      OsmXml.read(spark, "/root/reference/test/route_relation.osm"))
    dir
  }

  private def writeOsc(name: String, body: String): String = {
    val p = Files.createTempDirectory("graft-osc").resolve(name)
    Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  private def applied(osc: String): Map[String, DataFrame] = {
    val dir = freshState()
    DiffPipeline.applyDiff(spark, mapping, dir, OsmXml.readDiff(spark, osc).toDF())
    DiffPipeline.readTables(spark, mapping, dir)
  }

  test("rebuilt route_master keeps rows for unchanged sub-relation members") {
    val osc = writeOsc("master.osc",
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osmChange version="0.6" generator="test">
        | <modify>
        |  <relation id="100911" version="24" timestamp="2016-01-01T00:00:00Z">
        |   <member type="relation" ref="100901" role=""/>
        |   <member type="relation" ref="100902" role="active"/>
        |   <tag k="name" v="Bus 301 v2"/>
        |   <tag k="network" v="ABC"/>
        |   <tag k="ref" v="301"/>
        |   <tag k="route_master" v="bus"/>
        |   <tag k="type" v="route_master"/>
        |  </relation>
        | </modify>
        |</osmChange>
        |""".stripMargin)
    val masters = applied(osc)("master_routes").filter("osm_id = -100911").cache()
    assert(masters.count() == 2, "both sub-relation member rows must survive the rebuild")
    val m1 = masters.filter("member = 100901").collect()
    assert(m1.length == 1)
    // from_member column resolved from the UNCHANGED sub-relation's tags
    assert(m1.head.getAs[String]("subname") == "Bus 301: A => B")
    assert(m1.head.getAs[String]("name") == "Bus 301 v2")
    val m2 = masters.filter("member = 100902").collect()
    assert(m2.length == 1)
    assert(m2.head.getAs[String]("role") == "active")
    assert(m2.head.getAs[String]("subname") == "Bus 301: B => A")
  }

  test("rebuilt route keeps from_member tags of unchanged tagged-node members") {
    val osc = writeOsc("node_member.osc",
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osmChange version="0.6" generator="test">
        | <modify>
        |  <relation id="110901" version="24" timestamp="2016-01-01T00:00:00Z">
        |   <member type="node" ref="110101" role="halt"/>
        |   <tag k="route" v="bus"/>
        |   <tag k="type" v="route"/>
        |  </relation>
        | </modify>
        |</osmChange>
        |""".stripMargin)
    val rows = applied(osc)("route_members")
      .filter("osm_id = -110901 AND member = 110101").collect()
    assert(rows.length == 1, "node member must still resolve")
    assert(rows.head.getAs[String]("role") == "halt")
    // the node was NOT in the diff: its tags must come from maintained state
    assert(rows.head.getAs[String]("name") == "Stop")
  }
}
