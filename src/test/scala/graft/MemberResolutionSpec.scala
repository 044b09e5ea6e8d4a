package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml

/** Relation-member resolution (reference writer/relations.go:216-283)
  * without fixture files: an in-code mapping with a `relation_member`
  * table over a hand-written extract. A relation yields one row per member
  * only when EVERY member resolves: a node member to a coordinate, a way
  * member to an assembled way, a relation member to a relation. The same
  * rows must come out of the caller's codegen'd session and of the diff
  * apply's interpreted session.
  */
class MemberResolutionSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val mapping = new CompiledMapping(MappingConf.fromString(
    """tables:
      |  members:
      |    type: relation_member
      |    relation_types: [route]
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: member_id, type: member_id}
      |    - {name: member_type, type: member_type}
      |    - {name: role, type: member_role}
      |    - {name: member_index, type: member_index}
      |    - {name: geometry, type: geometry}
      |    - {name: member_name, key: name, type: string, from_member: true}
      |    - {name: ref, key: ref, type: string}
      |    mapping:
      |      route: [bus]
      |""".stripMargin))

  // relation 30 resolves every member; 31 names a missing node, 32 a way
  // whose second node is missing (so the way never assembles), 33 a
  // missing sub-relation
  private def route(id: Long, members: String): String =
    s"""  <relation id="$id" version="1">
       |$members
       |    <tag k="type" v="route"/><tag k="route" v="bus"/><tag k="ref" v="$id"/>
       |  </relation>""".stripMargin
  private val good =
    """    <member type="node" ref="1" role="stop"/>
      |    <member type="way" ref="10" role=""/>
      |    <member type="relation" ref="20" role="sub"/>""".stripMargin

  private lazy val extract: String = {
    val osm =
      s"""<?xml version='1.0' encoding='UTF-8'?>
         |<osm version="0.6">
         |  <node id="1" version="1" lat="43.73" lon="7.42"><tag k="name" v="Stop"/></node>
         |  <node id="2" version="1" lat="43.731" lon="7.421"/>
         |  <node id="3" version="1" lat="43.732" lon="7.423"/>
         |  <way id="10" version="1"><nd ref="2"/><nd ref="3"/><tag k="name" v="Street"/></way>
         |  <way id="11" version="1"><nd ref="2"/><nd ref="98"/></way>
         |  <relation id="20" version="1"><member type="node" ref="2" role=""/>
         |    <tag k="type" v="network"/><tag k="name" v="Sub"/></relation>
         |${route(30, good)}
         |${route(31, good + "\n    <member type=\"node\" ref=\"99\" role=\"stop\"/>")}
         |${route(32, good + "\n    <member type=\"way\" ref=\"11\" role=\"\"/>")}
         |${route(33, good + "\n    <member type=\"relation\" ref=\"97\" role=\"\"/>")}
         |</osm>
         |""".stripMargin
    val p = Files.createTempDirectory("graft-members").resolve("members.osm")
    Files.write(p, osm.getBytes("UTF-8"))
    p.toString
  }

  /** The member table's rows on `session`, ordered, and whether its plan
    * holds a whole-stage codegen stage. */
  private def memberRows(session: SparkSession): (Seq[Row], Boolean) = {
    val pipeline = new ImportPipeline(session, mapping)
    try {
      val df = pipeline.run(OsmXml.read(session, extract))("members")
        .orderBy("osm_id", "member_index")
      val rows = df.collect().toSeq
      (rows, find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined)
    } finally pipeline.unpersistAll()
  }

  test("a relation whose members all resolve yields one row per member") {
    val (rows, _) = memberRows(spark)
    assert(rows.map(_.getAs[Long]("osm_id")).distinct == Seq(-30L))
    assert(rows.map(r => (r.getAs[Long]("member_id"), r.getAs[Number]("member_type").intValue,
      r.getAs[String]("role"), r.getAs[Int]("member_index"))) ==
      Seq((1L, 0, "stop", 0), (10L, 1, "", 1), (20L, 2, "sub", 2)))
    // from_member values come from each member's own tags
    assert(rows.map(_.getAs[String]("member_name")) == Seq("Stop", "Street", "Sub"))
    assert(rows.forall(_.getAs[String]("ref") == "30"))
    // node and way members carry their geometry; a relation member none
    assert(rows.map(r => Option(r.getAs[Array[Byte]]("geometry")).isDefined) ==
      Seq(true, true, false))
  }

  test("one unresolvable member drops the whole relation: a missing node, " +
      "a way with a missing coord, a missing sub-relation") {
    val ids = memberRows(spark)._1.map(_.getAs[Long]("osm_id")).toSet
    assert(ids == Set(-30L))
    Seq(31L, 32L, 33L).foreach(id => assert(!ids.contains(-id), s"relation $id kept"))
  }

  test("the caller's codegen'd session and the interpreted apply session " +
      "resolve the same rows") {
    val (compiled, codegen) = memberRows(spark)
    val (interpreted, applyCodegen) = memberRows(Session.applySession(spark))
    assert(codegen, "the caller's session should plan whole-stage codegen")
    assert(!applyCodegen, "the apply session should plan no whole-stage codegen")
    assert(compiled.nonEmpty && interpreted == compiled)
  }
}
