package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.{Session, SparkSpecBase}
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml

/** The diff apply runs on its own interpreted session, which compiles no
  * class for a new expression, and leaves the caller's session as it found
  * it: the same runtime conf, the same active session, and queries that
  * still plan whole-stage codegen — after an apply that commits and after
  * one that throws mid-apply. Fixture-free: an in-code point mapping over
  * a hand-written extract.
  */
class ApplySessionSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val mapping = new CompiledMapping(MappingConf.fromString(
    """tables:
      |  pois:
      |    type: point
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: geometry, type: geometry}
      |    - {name: name, key: name, type: string}
      |    mapping:
      |      amenity: [cafe]
      |""".stripMargin))

  private def write(dir: String, name: String, body: String): String = {
    val p = Paths.get(dir, name)
    Files.write(p, body.getBytes("UTF-8"))
    p.toString
  }

  private def node(id: Long, lon: Double, name: String): String =
    s"""<node id="$id" version="1" lat="43.73" lon="$lon">""" +
      s"""<tag k="amenity" v="cafe"/><tag k="name" v="$name"/></node>"""

  /** A caller session of this spec's own (no other suite writes its conf),
    * with a runtime key of its own that the apply session must inherit. */
  private def caller(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s
  }

  private def compiles(s: SparkSession): Boolean = {
    val df = s.range(100).selectExpr("id * 2 AS x").filter("x > 10")
    df.collect()
    find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
  }

  private def diff(s: SparkSession, path: String): DataFrame = OsmXml.readDiff(s, path).toDF()

  test("the apply session carries the caller's runtime conf and evaluates interpreted") {
    val c = caller()
    val before = c.conf.getAll
    val a = Session.applySession(c)
    assert(a ne c)
    assert(a.conf.get("spark.sql.shuffle.partitions") == "3")
    Session.Interpreted.foreach { case (k, v) => assert(a.conf.get(k) == v, k) }
    assert(!compiles(a), "the apply session planned whole-stage codegen")
    assert(c.conf.getAll == before)
    assert(compiles(c), "the caller's session lost whole-stage codegen")
  }

  test("a new expression compiles no class on the apply session, and does " +
      "on the caller's") {
    // no whole-stage stage in the plan is not enough: without
    // factoryMode=NO_CODEGEN each operator still compiles its projections
    // and predicates, so count Janino compiles. The constant is new to
    // this JVM, so the caller's query cannot hit Spark's codegen cache.
    def compilesOf(s: SparkSession): Long = {
      val k = System.nanoTime() % 1000000007L
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      s.range(100).selectExpr(s"id * $k + 3 AS x", "id").filter(s"x % 7 <> $k").collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val c = caller()
    assert(compilesOf(Session.applySession(c)) == 0)
    assert(compilesOf(c) > 0)
  }

  test("applyDiff leaves the caller's conf, active session and codegen as they " +
      "were, after a commit and after a mid-apply failure") {
    val c = caller()
    val dir = Files.createTempDirectory("graft-apply-session").toString
    val osm = write(dir, "base.osm",
      s"""<osm version="0.6">${node(1, 7.42, "A")}${node(2, 7.43, "B")}</osm>""")
    val osc = write(dir, "change.osc",
      s"""<osmChange version="0.6"><modify>${node(1, 7.421, "A2")}</modify>""" +
        s"""<create>${node(3, 7.44, "C")}</create></osmChange>""")
    val state = s"$dir/state"
    val expire = s"$dir/expire"
    DiffPipeline.init(c, mapping, state, OsmXml.read(c, osm), nBuckets = 4)
    val conf = c.conf.getAll
    val active = SparkSession.getActiveSession

    DiffPipeline.applyDiff(c, mapping, state, diff(c, osc), expireDir = Some(expire))
    assert(c.conf.getAll == conf)
    assert(SparkSession.getActiveSession == active)
    val names = DiffPipeline.readTables(c, mapping, state)("pois")
      .collect().map(_.getAs[String]("name")).toSet
    assert(names == Set("A2", "B", "C"))
    // the expire side output drains beside the output writes
    assert(Option(new java.io.File(s"$expire/1").list()).exists(_.nonEmpty))

    // a corrupt output-table manifest fails the next apply mid-way, after
    // the closure and the rebuild have run on the apply session
    write(s"$state/tbl_pois/v1", "_manifest", "not a manifest")
    intercept[Exception](DiffPipeline.applyDiff(c, mapping, state, diff(c, osc)))
    assert(c.conf.getAll == conf)
    assert(SparkSession.getActiveSession == active)
    assert(compiles(c), "the caller's session lost whole-stage codegen")
  }
}
