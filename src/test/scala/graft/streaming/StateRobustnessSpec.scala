package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.operators.ExpireTiles
import graft.sources.OsmXml

/** Robustness fixes around state handling:
  *  - a crash that leaves a whole temp pointer and no pointer must not
  *    strand the store (the temp pointer is proof of a committed version);
  *  - every pointer file survives a crash at each step of its write;
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
    // the next commit replaces the stale tmp and goes through
    store.commit(1)
    assert(store.currentSeq == 1)
    assert(!Files.exists(Paths.get(dir, ".state.txt.tmp")))

    // a torn temp write (unparseable) is ignored, not fatal
    Files.write(Paths.get(dir, ".state.txt.tmp"), "garb".getBytes("UTF-8"))
    assert(store.currentSeq == 1)
  }

  test("replseq crash window: temp file recovers the gate state") {
    val dir = Files.createTempDirectory("graft-replseq").toString
    val store = new StateStore(spark, dir)
    store.writeReplSeq(41L, 3L, 40L, "000000041.osc.gz")
    assert(store.readReplSeq.contains((41L, 3L, 40L, "000000041.osc.gz")))

    // simulate the crash: tmp fully written, replseq.txt deleted, rename
    // never happened — readReplSeq must serve the tmp rather than return
    // None (which would disable the sequence gate in the crash-and-replay
    // scenario it exists for)
    Files.write(Paths.get(dir, ".replseq.txt.tmp"),
      "42 4 41 000000042.osc.gz\n".getBytes("UTF-8"))
    Files.delete(Paths.get(dir, "replseq.txt"))
    assert(store.readReplSeq.contains((42L, 4L, 41L, "000000042.osc.gz")),
      "tmp must recover the gate state")
    store.writeReplSeq(42L, 4L, 41L, "000000042.osc.gz")
    assert(!Files.exists(Paths.get(dir, ".replseq.txt.tmp")))

    // a torn (unparseable) tmp is ignored and the committed state survives
    Files.write(Paths.get(dir, ".replseq.txt.tmp"), "gar bled".getBytes("UTF-8"))
    assert(store.readReplSeq.contains((42L, 4L, 41L, "000000042.osc.gz")))
  }

  /** One pointer file: its name, a clean write of value `k` into a dir
    * through the API that owns the file, and what that API reads back. */
  private final class PointerFile(val file: String, val write: (String, Long) => Unit,
      val read: String => Any)

  private val pointerFiles = Seq(
    new PointerFile("state.txt", (d, k) => new StateStore(spark, d).commit(k),
      d => new StateStore(spark, d).currentSeq),
    new PointerFile("replseq.txt",
      (d, k) => new StateStore(spark, d).writeReplSeq(k, k + 1, k - 1, f"$k%09d.osc.gz"),
      d => new StateStore(spark, d).readReplSeq),
    // the bucket count is private; the largest bucket 512 ids land in shows it
    new PointerFile("buckets.txt", (d, k) => new StateStore(spark, d).setHashBuckets(k.toInt),
      d => { val s = new StateStore(spark, d); (0L until 512L).map(s.bucketOfId).max + 1 }),
    new PointerFile("replication.state.txt",
      (d, k) => Replication.writeLocalState(spark, d,
        Replication.State(k, java.time.Instant.ofEpochSecond(1300000000L + k))),
      d => Replication.readLocalState(spark, d)),
    new PointerFile("last.state.txt",
      (d, k) => Replication.writeLocalStateAt(spark, s"$d/last.state.txt",
        Replication.State(k, java.time.Instant.ofEpochSecond(1300000000L + k))),
      d => Replication.readLocalStateAt(spark, s"$d/last.state.txt")),
    new PointerFile("HEAD", (d, k) => StreamingRelease.commitHead(d, k),
      d => StreamingRelease.headGeneration(d)))

  pointerFiles.foreach { p =>
    test(s"${p.file} crash windows: tmp recovered, torn tmp and cut-short tmp discarded") {
      def fresh(k: Long): String = {
        val d = Files.createTempDirectory("graft-pointer").toString
        p.write(d, k)
        d
      }
      def text(d: String) = new String(Files.readAllBytes(Paths.get(d, p.file)), "UTF-8")
      val (v11, v12, v13) = (fresh(11), fresh(12), fresh(13))
      val (at11, at12, at13, text12) = (p.read(v11), p.read(v12), p.read(v13), text(v12))
      assert(Set(at11, at12, at13).size == 3)
      val dir = fresh(11)
      val tmp = Paths.get(dir, s".${p.file}.tmp")
      def tmpIs(t: String): Unit = {
        Files.write(tmp, t.getBytes("UTF-8"))
        assert(p.read(dir) == at11, s"tmp ${t.trim} was taken over the pointer")
        // a read never touches the writer's tmp
        assert(new String(Files.readAllBytes(tmp), "UTF-8") == t)
      }

      // cut short while the tmp was written: it lacks its newline, so it is
      // not a completed write even where its prefix parses (`12\n` cut to
      // `1` would roll state.txt back to version 1)
      tmpIs(text12.dropRight(2))
      // torn: the tmp does not parse
      tmpIs("garb")
      // just created by a writer, nothing written yet
      tmpIs("")
      // whole, the rename not yet done: the rename is the commit
      tmpIs(text12)

      // the crash left a whole tmp and no target (a first write, or a file
      // system that deletes the target before its rename): the tmp is the
      // pointer, until the next write replaces both
      val atNone = p.read(Files.createTempDirectory("graft-pointer").toString)
      Files.delete(Paths.get(dir, p.file))
      Files.write(tmp, text12.dropRight(2).getBytes("UTF-8"))
      assert(p.read(dir) == atNone, "a cut-short tmp with no target was taken")
      Files.write(tmp, text12.getBytes("UTF-8"))
      assert(p.read(dir) == at12, "a completed tmp must recover the write")
      p.write(dir, 13)
      assert(p.read(dir) == at13)
      assert(!Files.exists(tmp))
    }
  }

  test("a reader following HEAD while the stream commits never breaks a commit") {
    val dir = Files.createTempDirectory("graft-head").toString
    StreamingRelease.commitHead(dir, 0)
    @volatile var done = false
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val reader = new Thread(() => while (!done) seen += StreamingRelease.headGeneration(dir))
    reader.start()
    try (1 to 200).foreach(g => StreamingRelease.commitHead(dir, g))
    finally { done = true; reader.join() }
    assert(StreamingRelease.headGeneration(dir) == 200)
    assert(seen.nonEmpty && seen.forall(_ >= 0), "a reader saw no HEAD")
    assert(seen.zip(seen.drop(1)).forall { case (a, b) => a <= b }, "HEAD went back")
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
