package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.operators.ExpireTiles
import graft.sources.OsmXml

/** Robustness fixes around state handling:
  *  - a crash between commit()'s delete and rename must not strand the
  *    store (the temp pointer is proof of a committed version);
  *  - a line leaving the mercator square keeps the tiles its earlier
  *    segments collected (reference expire/tilelist.go behavior);
  *  - diff maintenance must honor the mapping's own id/geometry column
  *    names instead of assuming "osm_id"/"geometry".
  */
class StateRobustnessSpec extends SparkSpecBase {

  test("commit crash window: temp pointer recovers the committed seq") {
    val dir = Files.createTempDirectory("graft-state").toString
    val store = new StateStore(spark, dir)
    import spark.implicits._
    store.writeBucketed("t", 0, Seq(1L).toDF("id"), "id")
    store.commit(0)
    assert(store.currentSeq == 0)

    // simulate the crash: v1 fully written, tmp written, state.txt deleted,
    // rename never happened
    store.writeBucketed("t", 1, Seq(2L).toDF("id"), "id")
    Files.write(Paths.get(dir, ".state.txt.tmp"), "1\n".getBytes("UTF-8"))
    Files.delete(Paths.get(dir, "state.txt"))
    assert(store.currentSeq == 1, "temp pointer must recover the commit")
    assert(Files.exists(Paths.get(dir, "state.txt")), "rename must be finished")
    assert(!Files.exists(Paths.get(dir, ".state.txt.tmp")))

    // a torn temp write (unparseable) is ignored, not fatal
    Files.write(Paths.get(dir, ".state.txt.tmp"), "garb".getBytes("UTF-8"))
    assert(store.currentSeq == 1)
    assert(!Files.exists(Paths.get(dir, ".state.txt.tmp")))
  }

  test("replseq crash window: temp file recovers the gate state") {
    val dir = Files.createTempDirectory("graft-replseq").toString
    val store = new StateStore(spark, dir)
    store.writeReplSeq(41L, 3L, 40L, "000000041.osc.gz")
    assert(store.readReplSeq.contains((41L, 3L, 40L, "000000041.osc.gz")))

    // simulate the crash: tmp fully written, replseq.txt deleted, rename
    // never happened — readReplSeq must serve the tmp and finish the rename
    // rather than return None (which would disable the sequence gate in the
    // crash-and-replay scenario it exists for)
    Files.write(Paths.get(dir, ".replseq.txt.tmp"),
      "42 4 41 000000042.osc.gz\n".getBytes("UTF-8"))
    Files.delete(Paths.get(dir, "replseq.txt"))
    assert(store.readReplSeq.contains((42L, 4L, 41L, "000000042.osc.gz")),
      "tmp must recover the gate state")
    assert(Files.exists(Paths.get(dir, "replseq.txt")), "rename finished")
    assert(!Files.exists(Paths.get(dir, ".replseq.txt.tmp")))

    // a torn (unparseable) tmp is discarded and the committed state survives
    Files.write(Paths.get(dir, ".replseq.txt.tmp"), "gar bled".getBytes("UTF-8"))
    assert(store.readReplSeq.contains((42L, 4L, 41L, "000000042.osc.gz")))
    assert(!Files.exists(Paths.get(dir, ".replseq.txt.tmp")))
  }

  test("expire line keeps tiles collected before an out-of-bounds abort") {
    val a = (7.42, 43.73)
    val b = (7.43, 43.73)
    val pole = (7.44, 89.99) // outside the web-mercator square
    val withAbort = ExpireTiles.expireNodes(Seq(a, b, pole), closed = false)
    val clean = ExpireTiles.expireNodes(Seq(a, b), closed = false)
    assert(clean.nonEmpty)
    assert(withAbort == clean,
      "tiles from the a-b segment must survive the b-pole abort")
  }

  test("diff maintenance honors mapping-defined id/geometry column names") {
    val yml = Files.createTempDirectory("graft-map").resolve("m.yml")
    Files.write(yml,
      """tables:
        |  poi:
        |    type: point
        |    columns:
        |    - name: feature_id
        |      type: id
        |    - name: geom
        |      type: geometry
        |    - name: name
        |      key: name
        |      type: string
        |    mapping:
        |      amenity: [cafe]
        |""".stripMargin.getBytes("UTF-8"))
    val mapping = new CompiledMapping(MappingConf.fromFile(yml.toString))

    val osmDir = Files.createTempDirectory("graft-osm")
    val osm = osmDir.resolve("base.osm")
    Files.write(osm,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        | <node id="1" version="1" timestamp="2011-11-11T00:11:11Z" lat="47.0" lon="9.0">
        |  <tag k="amenity" v="cafe"/><tag k="name" v="A"/>
        | </node>
        |</osm>
        |""".stripMargin.getBytes("UTF-8"))
    val osc = osmDir.resolve("change.osc")
    Files.write(osc,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osmChange version="0.6" generator="test">
        | <modify>
        |  <node id="1" version="2" timestamp="2012-01-01T00:00:00Z" lat="47.0" lon="9.0">
        |   <tag k="amenity" v="cafe"/><tag k="name" v="B"/>
        |  </node>
        | </modify>
        |</osmChange>
        |""".stripMargin.getBytes("UTF-8"))

    val stateDir = Files.createTempDirectory("graft-custom-cols").toString
    DiffPipeline.init(spark, mapping, stateDir, OsmXml.read(spark, osm.toString))
    DiffPipeline.applyDiff(spark, mapping, stateDir,
      OsmXml.readDiff(spark, osc.toString).toDF())
    val rows = DiffPipeline.readTables(spark, mapping, stateDir)("poi")
      .filter("feature_id = 1").collect()
    assert(rows.length == 1, "the updated point must survive the diff")
    assert(rows.head.getAs[String]("name") == "B")
    assert(rows.head.getAs[Array[Byte]]("geom") != null)
  }
}
