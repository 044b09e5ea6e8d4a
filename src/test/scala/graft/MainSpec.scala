package graft

import java.nio.file.{Files, Path => JPath}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import graft.streaming.{DiffPipeline, Replication}

/** CLI dispatch end-to-end (cmd/imposm/main.go analog): import → deploy →
  * diff → query-cache over the cafe fixture, `run -once` over a file
  * endpoint, and a real PBF import of the Monaco fixture through the
  * `import` command.
  */
class MainSpec extends SparkSpecBase {

  private def writeMapping(): String = {
    val yml = Files.createTempDirectory("graft-main-map").resolve("m.yml")
    Files.write(yml,
      """tables:
        |  poi:
        |    type: point
        |    columns:
        |    - name: osm_id
        |      type: id
        |    - name: geometry
        |      type: geometry
        |    - name: name
        |      key: name
        |      type: string
        |    mapping:
        |      amenity: [cafe]
        |""".stripMargin.getBytes("UTF-8"))
    yml.toString
  }

  private def writeBaseOsm(): String = {
    val osm = Files.createTempDirectory("graft-main-osm").resolve("base.osm")
    Files.write(osm,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        | <node id="1" version="1" timestamp="2011-11-11T00:11:11Z" lat="47.0" lon="9.0">
        |  <tag k="amenity" v="cafe"/><tag k="name" v="A"/>
        | </node>
        |</osm>
        |""".stripMargin.getBytes("UTF-8"))
    osm.toString
  }

  private def gzWrite(p: JPath, body: String): Unit = {
    Files.createDirectories(p.getParent)
    val out = new GZIPOutputStream(Files.newOutputStream(p))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def oscFile(dir: JPath, name: String): String = {
    val f = dir.resolve("change.osc.gz")
    gzWrite(f,
      s"""<?xml version='1.0' encoding='UTF-8'?>
         |<osmChange version="0.6" generator="test">
         | <modify>
         |  <node id="1" version="2" timestamp="2012-01-01T00:00:00Z" lat="47.0" lon="9.0">
         |   <tag k="amenity" v="cafe"/><tag k="name" v="$name"/>
         |  </node>
         | </modify>
         |</osmChange>
         |""".stripMargin)
    f.toString
  }

  test("import -write -connection exports tables; -deployproduction rotates") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-main-state").toString
    val conn = Files.createTempDirectory("graft-main-conn").toString

    Main.run(Array("import", "-mapping", mappingFile, "-read", writeBaseOsm(),
      "-write", "-cachedir", state, "-connection", conn, "-optimize", "-srid", "3857"))
    val imported = spark.read.parquet(s"$conn/import/poi")
    assert(imported.count() == 1)
    assert(imported.head().getAs[String]("name") == "A")

    Main.run(Array("import", "-connection", conn, "-deployproduction"))
    assert(spark.read.parquet(s"$conn/production/poi").count() == 1)
    assert(!new java.io.File(s"$conn/import/poi").exists())

    // diff applies a change file against the same cachedir
    val osc = oscFile(Files.createTempDirectory("graft-main-osc"), "B")
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state, osc))
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(mappingFile))
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .filter("osm_id = 1").head().getAs[String]("name") == "B")

    // query-cache prints the node as JSON
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(Array("query-cache", "-cachedir", state, "-node", "1"))
    }
    val json = out.toString("UTF-8")
    assert(json.contains("\"id\":1"), json)
  }

  test("Main.run leaves the conf of an existing session as it is") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.get(k))
    // values no session build picks, so a rewrite shows on any core count
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1234567")
    try {
      val before = keys.map(spark.conf.get)
      Main.run(Array("import", "-mapping", writeMapping(), "-read", writeBaseOsm(),
        "-write", "-cachedir", Files.createTempDirectory("graft-conf-state").toString,
        "-connection", Files.createTempDirectory("graft-conf-conn").toString))
      assert(keys.map(spark.conf.get) == before)
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("run -once replicates from a file endpoint") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-run-state").toString
    val endpoint = Files.createTempDirectory("graft-run-endpoint")
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(mappingFile))
    DiffPipeline.init(spark, mapping, state,
      graft.sources.OsmXml.read(spark, writeBaseOsm()))

    val rel = Replication.sequencePath(1)
    gzWrite(endpoint.resolve(s"$rel.osc.gz"),
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osmChange version="0.6" generator="test">
        | <modify>
        |  <node id="1" version="2" timestamp="2012-01-01T00:00:00Z" lat="47.0" lon="9.0">
        |   <tag k="amenity" v="cafe"/><tag k="name" v="R"/>
        |  </node>
        | </modify>
        |</osmChange>
        |""".stripMargin)

    Main.run(Array("run", "-mapping", mappingFile, "-cachedir", state,
      "-replication-url", s"file://$endpoint", "-once",
      "-workdir", Files.createTempDirectory("graft-run-work").toString))
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .filter("osm_id = 1").head().getAs[String]("name") == "R")
  }

  test("corpus command releases a gated, deduped, split dataset") {
    import org.apache.spark.sql.functions._
    val out = Files.createTempDirectory("graft-corpus-out").toString
    Main.run(Array("corpus", "-in", sf001, "-out", out, "-min-tokens", "20"))
    val corpus = spark.read.parquet(s"$out/corpus")
    val splits = corpus.select("split").distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) &&
      splits.contains("train"), splits.toString)
    // independent recount of the gate + exact-dedup survivors
    val gated = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("n_tokens", size(expr(
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).cast("long"))
      .filter(col("n_tokens") >= 20)
    val nSurvivors = gated.groupBy(md5(col("text")))
      .agg(min(col("doc_id"))).count()
    assert(corpus.count() == nSurvivors && nSurvivors > 0)
    // the manifest agrees with the written corpus
    val manifest = spark.read.json(s"$out/manifest")
    assert(manifest.agg(sum("n_docs")).head().getLong(0) == nSurvivors)
    // split is the documented pure function of doc_id (d_split's rule)
    val misassigned = corpus.withColumn("b", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
      .filter((col("b") < 90 && col("split") =!= "train") ||
        (col("b") >= 90 && col("b") < 95 && col("split") =!= "val") ||
        (col("b") >= 95 && col("split") =!= "test"))
    assert(misassigned.count() == 0)
  }

  test("corpus -stream drains delta files into release generations") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft-cli-srel-base").toString
    Main.run(Array("corpus", "-in", sf001, "-out", base, "-min-tokens", "20"))
    val raw = spark.read.parquet(s"$sf001/documents.parquet")
    val streamDir = Files.createTempDirectory("graft-cli-srel-in").toString
    val d = raw.filter(col("doc_id") % 9 === 4)
      .withColumn("text", concat(lit("cli-edit: "), col("text")))
      .withColumn("deleted", lit(false))
    val one = Files.createTempDirectory("graft-cli-srel-d0").toString
    d.coalesce(1).write.mode("overwrite").parquet(one)
    val part = new java.io.File(one).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    require(part.renameTo(new java.io.File(streamDir, "delta-0.parquet")))
    val outRoot = Files.createTempDirectory("graft-cli-srel-out").toString
    Main.run(Array("corpus", "-prev", base, "-stream", streamDir,
      "-out", outRoot, "-min-tokens", "20"))
    assert(graft.streaming.StreamingRelease.headGeneration(outRoot) == 0L)
    val head = graft.streaming.StreamingRelease.currentRelease(outRoot, base)
    // the edited docs' new hashes are in the HEAD corpus
    val edited = spark.read.parquet(s"$head/corpus")
      .filter(col("doc_id") % 9 === 4).count()
    assert(edited > 0)
    // re-invoking on a drained stream is a no-op catch-up
    Main.run(Array("corpus", "-prev", base, "-stream", streamDir,
      "-out", outRoot, "-min-tokens", "20"))
    assert(graft.streaming.StreamingRelease.headGeneration(outRoot) == 0L)
  }

  test("index and search commands build and serve the inverted index") {
    val idx = Files.createTempDirectory("graft-cli-idx").toString + "/idx"
    Main.run(Array("index", "-in", s"$sf001/documents.parquet", "-out", idx))
    Main.run(Array("index", "-in", s"$sf001/documents.parquet", "-out", idx,
      "-append", "-compact"))
    // append doubled every posting row; compaction must fold each bucket
    // back to one file (match counts are unaffected — the base-position
    // group-by collapses duplicate postings)
    val postings = spark.read.parquet(idx)
    val nBuckets = postings.select("bucket").distinct().count()
    val files = postings.inputFiles.length.toLong
    assert(files == nBuckets, s"$files files for $nBuckets buckets")
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.run(Array("search", "-idx", idx, "-phrase", "table hash"))
    }
    val lines = out.toString("UTF-8").split("\n").filter(_.startsWith("[search]"))
    assert(lines.nonEmpty, "search printed no matches")
    assert(lines.forall(_.contains("table hash")), lines.take(3).mkString("; "))
  }

  test("import command handles the Monaco PBF with the reference mapping") {
    val monaco = "/root/reference/vendor/github.com/omniscale/go-osm/parser/pbf/monaco-20150428.osm.pbf"
    assume(new java.io.File(monaco).exists())
    val state = Files.createTempDirectory("graft-monaco-state").toString
    val conn = Files.createTempDirectory("graft-monaco-conn").toString
    Main.run(Array("import",
      "-mapping", "/root/reference/test/complete_db_mapping.json",
      "-read", monaco, "-write", "-cachedir", state, "-connection", conn,
      "-diff"))
    val roads = spark.read.parquet(s"$conn/import/roads")
    assert(roads.count() > 100, "Monaco must produce a real road table")
    // -diff seeds last.state.txt from the PBF header's osmosis fields
    val st = Replication.readLocalStateAt(spark, s"$state/last.state.txt")
    assert(st.nonEmpty, "import -diff must write last.state.txt")
    assert(st.get.timestamp.toString.startsWith("2015-04-2"),
      s"header replication timestamp expected, got ${st.get.timestamp}")
  }

  test("import -store assembles via the bucketed element store; -store-reuse reads it back") {
    val monaco = "/root/reference/vendor/github.com/omniscale/go-osm/parser/pbf/monaco-20150428.osm.pbf"
    assume(new java.io.File(monaco).exists())
    val mapping = "/root/reference/test/complete_db_mapping.json"
    def imp(extra: String*): org.apache.spark.sql.DataFrame = {
      val state = Files.createTempDirectory("graft-store-state").toString
      val conn = Files.createTempDirectory("graft-store-conn").toString
      Main.run(Array("import", "-mapping", mapping, "-read", monaco,
        "-write", "-cachedir", state, "-connection", conn) ++ extra)
      spark.read.parquet(s"$conn/import/roads")
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("osm_id", "geometry")
    val direct = imp()
    // first -store import writes PREFIX_wayrefs/PREFIX_coords and resolves
    // J1 from them — identical output to the in-pipeline join
    val stored = imp("-store", "graft_test_store")
    assert(stored.count() == direct.count())
    assert(key(direct).except(key(stored)).isEmpty &&
      key(stored).except(key(direct)).isEmpty,
      "store-resolved assembly must match the in-pipeline join")
    // the stored lookup join itself is exchange-free (paid at write time)
    assert(graft.operators.Bucketing.shuffleFree(
      spark.table("graft_test_store_wayrefs")
        .join(spark.table("graft_test_store_coords"), Seq("id"))),
      "bucketed store join must plan with zero exchanges")
    // -store-reuse: the repeated-read path — no rewrite, same tables
    val reused = imp("-store", "graft_test_store", "-store-reuse")
    assert(key(reused).except(key(direct)).isEmpty &&
      key(direct).except(key(reused)).isEmpty,
      "reused store must reproduce the import")
  }

  test("import refuses an existing cache; -overwritecache and -appendcache proceed") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-guard-state").toString
    val conn = Files.createTempDirectory("graft-guard-conn").toString
    Main.run(Array("import", "-mapping", mappingFile, "-read", writeBaseOsm(),
      "-write", "-cachedir", state, "-connection", conn))
    assert(spark.read.parquet(s"$conn/import/poi").count() == 1)

    // bare re-import into the same cachedir is the reference's fatal
    // (import_/import.go:85)
    intercept[Main.MainExit] {
      Main.run(Array("import", "-mapping", mappingFile, "-read", writeBaseOsm(),
        "-write", "-cachedir", state))
    }

    // -appendcache merges a second file over the committed state
    val osm2 = Files.createTempDirectory("graft-guard-osm2").resolve("more.osm")
    Files.write(osm2,
      """<?xml version='1.0' encoding='UTF-8'?>
        |<osm version="0.6">
        | <node id="2" version="1" timestamp="2011-11-11T00:11:11Z" lat="47.1" lon="9.1">
        |  <tag k="amenity" v="cafe"/><tag k="name" v="Second"/>
        | </node>
        |</osm>
        |""".stripMargin.getBytes("UTF-8"))
    Main.run(Array("import", "-mapping", mappingFile, "-read", osm2.toString,
      "-write", "-cachedir", state, "-connection", conn, "-appendcache"))
    val appended = spark.read.parquet(s"$conn/import/poi")
    assert(appended.count() == 2, "append must keep node 1 and add node 2")
    assert(appended.filter("osm_id = 2").head().getAs[String]("name") == "Second")

    // -overwritecache drops the old cache: only the re-read file remains
    Main.run(Array("import", "-mapping", mappingFile, "-read", osm2.toString,
      "-write", "-cachedir", state, "-connection", conn, "-overwritecache"))
    val overwritten = spark.read.parquet(s"$conn/import/poi")
    assert(overwritten.count() == 1)
    assert(overwritten.head().getAs[Long]("osm_id") == 2L)
  }

  private def oscWithState(dir: JPath, seq: Long, name: String): String = {
    val f = dir.resolve(f"$seq%09d.osc.gz")
    gzWrite(f,
      s"""<?xml version='1.0' encoding='UTF-8'?>
         |<osmChange version="0.6" generator="test">
         | <modify>
         |  <node id="1" version="2" timestamp="2012-01-01T00:00:00Z" lat="47.0" lon="9.0">
         |   <tag k="amenity" v="cafe"/><tag k="name" v="$name"/>
         |  </node>
         | </modify>
         |</osmChange>
         |""".stripMargin)
    Files.write(dir.resolve(f"$seq%09d.state.txt"),
      s"sequenceNumber=$seq\ntimestamp=2012-01-01T00\\:00\\:00Z\n".getBytes("UTF-8"))
    f.toString
  }

  test("diff skips already-imported sequences unless -force; -commit-latest defers") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-seq-state").toString
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(mappingFile))
    DiffPipeline.init(spark, mapping, state,
      graft.sources.OsmXml.read(spark, writeBaseOsm()))
    val dir = Files.createTempDirectory("graft-seq-osc")

    // applying seq 5 records it in last.state.txt
    val osc5 = oscWithState(dir, 5, "Five")
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state, osc5))
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .head().getAs[String]("name") == "Five")
    val recorded = Replication.readLocalStateAt(spark, s"$state/last.state.txt")
    assert(recorded.map(_.sequence).contains(5L))

    // an older sequence is skipped: the table still says Five
    val osc4 = oscWithState(dir, 4, "Four")
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state, osc4))
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .head().getAs[String]("name") == "Five")

    // -force re-applies it anyway
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state, "-force", osc4))
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .head().getAs[String]("name") == "Four")

    // -commit-latest: both diffs land, pointer advances by 2 in one commit
    val store = new graft.streaming.StateStore(spark, state)
    val seqBefore = store.currentSeq
    val osc6 = oscWithState(dir, 6, "Six")
    val osc7 = oscWithState(dir, 7, "Seven")
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state,
      "-commit-latest", osc6, osc7))
    assert(store.currentSeq == seqBefore + 2)
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .head().getAs[String]("name") == "Seven")
    assert(Replication.readLocalStateAt(spark, s"$state/last.state.txt")
      .map(_.sequence).contains(7L))
  }

  test("diff over 9 change files keeps only referenced and the last 2 versions") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-retain-state").toString
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(mappingFile))
    DiffPipeline.init(spark, mapping, state,
      graft.sources.OsmXml.read(spark, writeBaseOsm()))
    val dir = Files.createTempDirectory("graft-retain-osc")
    // nine versions pass one compaction: a table's 9th segment folds the
    // 8 before it into a fresh base
    val files = (1 to 9).map(i => oscWithState(dir, i, s"N$i"))
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state) ++ files)
    val seq = new graft.streaming.StateStore(spark, state).currentSeq
    assert(seq == 9)
    assert(DiffPipeline.readTables(spark, mapping, state)("poi")
      .head().getAs[String]("name") == "N9")
    val root = java.nio.file.Paths.get(state)
    def names(p: JPath): Set[String] = {
      val s = Files.list(p)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val tables = names(root).filter(t => Files.exists(root.resolve(s"$t/v$seq/_manifest")))
    assert(tables.contains("coords") && tables.contains("tbl_poi"))
    val coords = new String(Files.readAllBytes(root.resolve(s"coords/v$seq/_manifest")), "UTF-8")
    assert(!coords.contains("SEGO\t") && coords.contains(s"v$seq/__b="),
      "the 9th write must compact coords into a fresh base")
    for (t <- tables) {
      val manifest = Files.readAllLines(root.resolve(s"$t/v$seq/_manifest")).asScala.tail
      val referenced = manifest.flatMap("(?:^|\t)v(\\d+)/".r.findAllMatchIn(_).map(_.group(1).toLong))
      val stale = names(root.resolve(t)).filter(_.matches("v\\d+")).map(_.drop(1).toLong)
        .filter(v => v < seq - 2 && !referenced.contains(v))
      assert(stale.isEmpty, s"$t keeps unreferenced versions ${stale.toSeq.sorted}")
    }
  }

  test("-config json supplies flags; command line overrides; schemas rename dirs") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-cfg-state").toString
    val conn = Files.createTempDirectory("graft-cfg-conn").toString
    val cfg = Files.createTempDirectory("graft-cfg").resolve("config.json")
    Files.write(cfg,
      s"""{
         |  "mapping": "$mappingFile",
         |  "cachedir": "/nonexistent-overridden",
         |  "connection": "$conn",
         |  "srid": 3857,
         |  "schemas": {"import": "imp", "production": "prod", "backup": "bak"}
         |}""".stripMargin.getBytes("UTF-8"))
    Main.run(Array("import", "-config", cfg.toString, "-read", writeBaseOsm(),
      "-write", "-cachedir", state))
    assert(spark.read.parquet(s"$conn/imp/poi").count() == 1)
    Main.run(Array("import", "-config", cfg.toString, "-deployproduction"))
    assert(spark.read.parquet(s"$conn/prod/poi").count() == 1)
  }

  test("diff -expiretiles-zoom writes tiles at the requested zoom") {
    val mappingFile = writeMapping()
    val state = Files.createTempDirectory("graft-exp-state").toString
    val expire = Files.createTempDirectory("graft-exp-tiles").toString
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(mappingFile))
    DiffPipeline.init(spark, mapping, state,
      graft.sources.OsmXml.read(spark, writeBaseOsm()))
    val osc = oscFile(Files.createTempDirectory("graft-exp-osc"), "Z")
    Main.run(Array("diff", "-mapping", mappingFile, "-cachedir", state,
      "-expiretiles-dir", expire, "-expiretiles-zoom", "10", osc))
    val tiles = spark.read.textFile(s"$expire/1").collect()
    assert(tiles.nonEmpty)
    assert(tiles.forall(_.split("/")(0).toInt <= 10),
      s"zoom must be capped at 10: ${tiles.mkString(",")}")
  }
}
