package graft.sinks

import java.time.{Duration, Instant}

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.streaming.Replication

class SinksSpec extends SparkSpecBase {

  private lazy val mapping =
    new CompiledMapping(MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))

  test("create-table DDL: implicit BIGSERIAL id + composite PK, geometry deferred") {
    val t = mapping.conf.tables("landusages")
    val ddl = PostgisDdl.createTableSql("import", "osm_", t)
    assert(ddl.contains("""CREATE TABLE IF NOT EXISTS "import"."osm_landusages""""))
    assert(ddl.contains("id BIGSERIAL"))
    assert(ddl.contains("""PRIMARY KEY ("osm_id", "id")"""))
    assert(!ddl.toLowerCase.contains("geometry "), "geometry must be added via AddGeometryColumn")
    val geomDdl = PostgisDdl.addGeometryColumnSql("import", "osm_", t, 3857)
    assert(geomDdl.exists(_.contains(
      "AddGeometryColumn('import', 'osm_landusages', 'geometry', '3857', 'POLYGON', 2)")))
  }

  test("copy / delete / index SQL shapes") {
    val t = mapping.conf.tables("roads")
    assert(PostgisDdl.copySql("import", "osm_", t)
      .startsWith("""COPY "import"."osm_roads" ("""))
    assert(PostgisDdl.deleteSql("import", "osm_", t) ==
      """DELETE FROM "import"."osm_roads" WHERE "osm_id" = $1""")
    val idx = PostgisDdl.indexSql("import", "osm_", t)
    assert(idx.exists(_.contains("USING GIST")))
    assert(idx.exists(_.contains("osm_roads_osm_id_idx")))
  }

  test("deploy rotation: import -> production -> backup, then revert") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-deploy").toString
    val rot = new DeployRotate(spark, dir)
    val sink1 = new ParquetSink(s"$dir/import")
    sink1.write("roads", spark.range(3).withColumn("v", lit("a")).toDF())
    rot.deploy()
    assert(rot.productionTables == Seq("roads"))
    assert(spark.read.parquet(s"$dir/production/roads").count() == 3)

    sink1.write("roads", spark.range(5).withColumn("v", lit("b")).toDF())
    rot.deploy() // old production moves to backup
    assert(spark.read.parquet(s"$dir/production/roads").count() == 5)
    assert(spark.read.parquet(s"$dir/backup/roads").count() == 3)

    rot.revert()
    assert(spark.read.parquet(s"$dir/production/roads").count() == 3)
    assert(spark.read.parquet(s"$dir/import/roads").count() == 5)
    rot.removeBackup()
  }

  test("replication state parse/write roundtrip and sequence paths") {
    val txt = "#Mon Aug 11 2026\nsequenceNumber=4127372\ntimestamp=2026-08-11T10\\:00\\:00Z\n"
    val st = Replication.parseState(new java.io.ByteArrayInputStream(txt.getBytes))
    assert(st.sequence == 4127372L)
    assert(st.timestamp == Instant.parse("2026-08-11T10:00:00Z"))
    val round = Replication.parseState(
      new java.io.ByteArrayInputStream(Replication.stateText(st).getBytes("UTF-8")))
    assert(round == st.copy(url = ""))
    assert(Replication.sequencePath(4127372L) == "004/127/372")
    assert(Replication.diffUrl("https://example.org/minute/", 42) ==
      "https://example.org/minute/000/000/042.osc.gz")
  }

  test("sequence estimation from timestamp") {
    val current = Replication.State(1000, Instant.parse("2026-08-11T10:00:00Z"))
    // 60 minutes behind at minutely interval -> 60 sequences back
    val est = Replication.estimateSequence(current, Duration.ofMinutes(1),
      Instant.parse("2026-08-11T09:00:00Z"))
    assert(est == 940)
    // with 10-minute safety buffer
    val est2 = Replication.estimateSequence(current, Duration.ofMinutes(1),
      Instant.parse("2026-08-11T09:00:00Z"), Duration.ofMinutes(10))
    assert(est2 == 930)
  }

  test("cache query: lookups and reverse deps") {
    import graft.operators.CacheQuery
    val b = graft.sources.OsmXml.read(spark, "/root/reference/test/complete_db.osm")
    assert(CacheQuery.nodes(b, Seq(10000L)).count() == 1)
    assert(CacheQuery.ways(b, Seq(15001L), full = true).count() == 1)
    assert(CacheQuery.waysForNodes(b, Seq(15001L)).count() >= 1)
    assert(CacheQuery.relationsForWays(b, Seq(15001L)).count() == 1)
  }

  test("COPY text rendering: escaping, hstore, geometry hex, nulls") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // field escaping: tab/newline/backslash per COPY TEXT; booleans t/f
    assert(CopyRows.escape("a\tb\nc\\d\re") == "a\\tb\\nc\\\\d\\re")
    assert(CopyRows.renderField(true, BooleanType) == "t")
    assert(CopyRows.renderField(null, StringType) == "\\N")
    // hstore: "k"=>"v" with \ and " doubled inside quotes
    // (reference mapping/columns.go:171 hstoreReplacer semantics)
    assert(CopyRows.hstore(Map("name" -> """say "hi"""")) ==
      """"name"=>"say \"hi\""""")
    assert(CopyRows.hstore(Map("""a\b""" -> "c")) == """"a\\b"=>"c"""")
    // geometry rides as hex EWKB
    val wkb = Array[Byte](0x01, 0x2a, -1)
    assert(CopyRows.renderField(wkb, BinaryType) == "012AFF")
    // one full row: tab-separated in schema order
    val schema = StructType(Seq(
      StructField("osm_id", LongType), StructField("name", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("geometry", BinaryType)))
    val line = CopyRows.renderRow(
      Row(42L, "a\tb", Map("k" -> "v"), Array[Byte](0x01)), schema)
    assert(line == "42\ta\\tb\t\"k\"=>\"v\"\t01")
  }

  test("COPY statement matches the reference's CopySQL shape") {
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val t = mapping.conf.tables("roads")
    val sql = CopySink.copyStatement(mapping, "import", "osm_", t)
    assert(sql.startsWith("""COPY "import"."osm_roads" ("""))
    assert(sql.endsWith(") FROM STDIN"))
    for (c <- t.columns) assert(sql.contains("\"" + c.name + "\""), c.name)
  }
}
