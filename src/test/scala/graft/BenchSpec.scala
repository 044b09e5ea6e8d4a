package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.mapping.{CompiledMapping, MappingConf}
import graft.model.{Kind, Op, RawElement, RawMember}
import graft.sources.OsmPbfSynth

/** The bench as a table of sections: the default table declares the
  * recorded headline keys, every OSM section emits exactly its declared
  * keys on a tiny seed, and the record builder keeps its contract. */
class BenchSpec extends SparkSpecBase {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("the default table declares BENCH_r13's OSM and serve keys, in order") {
    val queries = json.readTree(new java.io.File("BENCH_r13.json")).get("parsed").get("queries")
    val recorded = queries.fieldNames().asScala.toSeq.filterNot(_ == "queries_all")
    assert(recorded.size == 28)
    assert(Bench.Table.flatMap(_.keys) == recorded)
  }

  /** A 12×12 street grid with cafes, building blocks and a forest
    * multipolygon: every table kind of [[TinyMapping]] gets rows. */
  private def tinyCity: Seq[RawElement] = {
    val n = 12
    def node(i: Int, j: Int): Long = (i * n + j + 1).toLong
    def way(id: Long, tags: Map[String, String], refs: Seq[Long]) =
      RawElement(Kind.Way, id, None, None, tags, refs, Nil, Op.Create)
    val nodes = for (i <- 0 until n; j <- 0 until n) yield RawElement(Kind.Node,
      node(i, j), Some(7.40 + j * 0.001), Some(43.72 + i * 0.001),
      if ((i + j) % 7 == 0) Map("amenity" -> "cafe") else Map.empty, Nil, Nil, Op.Create)
    val streets = (0 until n).map(i =>
      way(80L + i, Map("highway" -> "residential"), (0 until n).map(node(i, _))))
    val blocks = for (i <- 0 until n - 1 by 2; j <- 0 until n - 1 by 2) yield
      way(1000L + i * n + j, Map("building" -> "yes"), Seq(node(i, j), node(i, j + 1),
        node(i + 1, j + 1), node(i + 1, j), node(i, j)))
    val ring = way(2000L, Map.empty, Seq(node(1, 1), node(1, 10), node(10, 10),
      node(10, 1), node(1, 1)))
    val forest = RawElement(Kind.Relation, 13L, None, None,
      Map("type" -> "multipolygon", "landuse" -> "forest"), Nil,
      Seq(RawMember(2000L, Kind.Way, "outer")), Op.Create)
    nodes ++ streets ++ blocks :+ ring :+ forest
  }

  private val TinyMapping =
    """areas:
      |  area_tags: [building, landuse]
      |  linear_tags: [highway]
      |tables:
      |  pois:
      |    type: point
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: geometry, type: geometry}
      |    - {name: type, type: mapping_value}
      |    mapping:
      |      amenity: [cafe]
      |  roads:
      |    type: linestring
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: geometry, type: geometry}
      |    - {name: type, type: mapping_value}
      |    mapping:
      |      highway: [residential]
      |  areas:
      |    type: polygon
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: geometry, type: validated_geometry}
      |    - {name: type, type: mapping_value}
      |    mapping:
      |      building: [__any__]
      |      landuse: [forest]
      |generalized_tables:
      |  areas_gen0:
      |    source: areas
      |    tolerance: 20.0
      |""".stripMargin

  test("every OSM section emits exactly its declared keys on a tiny seed") {
    val root = Files.createTempDirectory("graft-bench-spec")
    val seed = root.resolve("seed.pbf")
    Files.write(seed, OsmPbfSynth.encodePbf(tinyCity))
    val ctx = new Bench.Ctx(spark, seed.toString,
      new CompiledMapping(MappingConf.fromString(TinyMapping)),
      root.resolve("work").toString, sf001,
      gate = () => Bench.Gate(0.0, 0.0, timedOut = false))
    def tiny(r: Bench.ImportRow) = r.copy(copies = 2, reps = 1,
      bucketedReps = math.min(r.bucketedReps, 2), minFreeGb = r.minFreeGb.map(_ => 0.0))
    def tinyDiff(r: Bench.DiffRow) =
      r.copy(copies = 2, buckets = 4, initReps = 1, applyReps = 1, mixedReps = 1)
    val sections = Seq(Bench.Monaco, Bench.importSection(tiny(Bench.Synth400)),
      Bench.diffSection(tinyDiff(Bench.Diff)), Bench.soakSection(Bench.SoakRow(2, 1, 4)),
      Bench.importSection(tiny(Bench.Xl4000)), Bench.diffSection(tinyDiff(Bench.DiffXl)),
      Bench.importSection(tiny(Bench.Xxl9600)))
    assert(sections.map(_.name) == Bench.Table.filter(_.needsSeed).map(_.name))
    try for (s <- sections) {
      val rec = Bench.run(ctx, Seq(s))
      assert(rec.entries.map(_._1) == s.keys, s.name)
      for ((k, v) <- rec.entries) assert(v > 0 && !v.isInfinite, s"$k = $v")
      rec.lines(sf001).foreach(json.readTree) // every printed line parses
    } finally spark.conf.unset(Session.InitialPartitionsKey)
  }

  test("the contract line drops keys from the end and flags omitted") {
    val entries = (1 to 60).map(i => f"osm_a_rather_long_headline_key_$i%02d" -> i.toDouble)
    val lines = Bench.Record(entries).lines("/sf")
    val contract = lines.last
    assert(contract.getBytes("UTF-8").length <= 1500)
    val kept = "\"(osm_a_rather_long_headline_key_\\d+)\":".r
      .findAllMatchIn(contract).map(_.group(1)).toSeq
    assert(kept.nonEmpty && kept.size < entries.size)
    assert(kept == entries.map(_._1).take(kept.size))
    assert(contract.endsWith(s""","omitted":${entries.size - kept.size}}"""))
    assert(lines.head.contains("\"osm_a_rather_long_headline_key_60\":"))
  }

  test("a failed query gets no key and is counted, not timed as 0 s") {
    val lines = Bench.Record(Seq("osm_import_monaco" -> 5.0),
      queries = Seq("q_ok" -> 2.0), failedQueries = Seq("q_bad")).lines("/sf")
    val contract = lines.last
    assert(contract.startsWith("""{"metric":"total","value":7.000,"""))
    assert(contract.contains(""""queries_all":2.000},"n_queries":1,"""))
    assert(contract.contains(""""failed_queries":1"""))
    assert(!lines.exists(_.contains("\"q_bad\":")))
    assert(lines.exists(l => l.startsWith("""{"metric":"sections_detail"""") &&
      l.contains(""""failed_queries":["q_bad"]""")))
  }

  test("a throwing drain task propagates and leaves no live drain thread") {
    @volatile var slow: Thread = null
    val boom = new RuntimeException("table write failed")
    val thrown = intercept[RuntimeException] {
      graft.streaming.DiffPipeline.drainConcurrently(Seq(
        () => { Thread.sleep(50); throw boom },
        () => { slow = Thread.currentThread(); Thread.sleep(500) }), par = 2)
    }
    assert(thrown eq boom)
    assert(slow != null && !slow.isAlive)
  }
}
