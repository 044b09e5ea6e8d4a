package graft.streaming

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml

/** Structured Streaming diff mode (ST1): .osc files landing in a watched
  * dir are applied as one transaction each, discovered exactly-once via the
  * stream checkpoint.
  */
class RunStreamSpec extends SparkSpecBase {

  test("runStream applies a dropped change file and advances the state") {
    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-rs-state").toString
    val replDir = java.nio.file.Files.createTempDirectory("graft-rs-repl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rs-ckpt").toString

    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"))
    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 0)

    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/reference/test/complete_db.osc"),
      java.nio.file.Paths.get(s"$replDir/000000001.osc"))

    // generous: late in a full-suite run the shared JVM carries 27 suites
    // of cached state and this batch plans noticeably slower than alone
    val q = DiffPipeline.runStream(spark, mapping, stateDir, replDir, ckpt)
    assert(q.awaitTermination(480000), "stream did not finish in 480s")
    assert(store.currentSeq == 1, s"seq=${store.currentSeq}")

    val places = DiffPipeline.readTables(spark, mapping, stateDir)("places")
    val bar = places.filter("osm_id = 10001").collect()
    assert(bar.length == 1 && bar.head.getAs[String]("name") == "Bar")

    // restart with the same checkpoint: file already processed, no re-apply
    val q2 = DiffPipeline.runStream(spark, mapping, stateDir, replDir, ckpt)
    assert(q2.awaitTermination(240000), "restart did not finish in 240s")
    assert(store.currentSeq == 1)
  }

  test("a 10-batch stream compacts segments and vacuums unreferenced versions") {
    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-rsc-state").toString
    val replDir = java.nio.file.Files.createTempDirectory("graft-rsc-repl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rsc-ckpt").toString
    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"))
    for (i <- 1 to 10)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(f"$replDir/$i%09d.osc"),
        s"""<?xml version='1.0' encoding='UTF-8'?>
           |<osmChange version="0.6" generator="test">
           | <modify>
           |  <node id="10001" version="${i + 2}" lat="40.0" lon="10.0">
           |   <tag k="place" v="village"/><tag k="name" v="N$i"/>
           |  </node>
           | </modify>
           |</osmChange>
           |""".stripMargin)
    val q = DiffPipeline.runStream(spark, mapping, stateDir, replDir, ckpt)
    assert(q.awaitTermination(480000), "stream did not finish in 480s")
    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 10, s"seq=${store.currentSeq}")
    val places = DiffPipeline.readTables(spark, mapping, stateDir)("places")
    assert(places.filter("osm_id = 10001").head()
      .getAs[String]("name") == "N10", "last batch must win")
    // segments must have compacted into a fresh base along the way: the
    // committed manifest cannot carry all 10 batches as segments
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "coords", "v10", "_manifest")), "UTF-8")
    val nSegs = manifest.linesIterator.count(_.startsWith("SEGO\t"))
    assert(nSegs <= 8, s"$nSegs segments in v10 — compaction never ran")
    assert(!manifest.contains("v0/__b="),
      "v10 base must come from a compaction, not v0")
    // vacuum dropped version dirs nothing references anymore
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(stateDir, "coords", "v1")),
      "v1 segment dirs are unreferenced after compaction — vacuum missed them")
    assert(store.read("coords", 10).filter("id = 10001").count() == 1)
  }

  test("fileSeq accepts only all-digit basenames as sequences") {
    assert(DiffPipeline.fileSeq("/a/b/000000123.osc.gz").contains(123L))
    assert(DiffPipeline.fileSeq("file:/tmp/x/000000001.osc").contains(1L))
    // a trailing digit run is NOT a sequence: hotfix-v2.osc would parse
    // as 2 and wedge a live stream at sequence 50000 in a restart loop —
    // manually named files must hit the exemption instead
    assert(DiffPipeline.fileSeq("/a/changes-42.osc").isEmpty)
    assert(DiffPipeline.fileSeq("/a/hotfix-v2.osc").isEmpty)
    assert(DiffPipeline.fileSeq("/a/changes.osc").isEmpty)
    // a digit run past Long range is no sequence, not a crash
    assert(DiffPipeline.fileSeq("/a/99999999999999999999999.osc").isEmpty)
  }

  test("a re-delivered micro-batch (same batchId) re-applies idempotently; " +
      "a new batch regressing the sequence fails") {
    // crash recovery: foreachBatch re-delivers the SAME batch after a
    // restart, so files at-or-below the last applied sequence are legal
    // exactly when the batchId matches (baseline rolls back to the
    // pre-batch sequence; delete-then-insert makes the re-apply a no-op).
    // Any OTHER batch bringing a regressed sequence is an out-of-order
    // backlog — never applied, must abort.
    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-replay-state").toString
    val replDir = java.nio.file.Files.createTempDirectory("graft-replay-repl").toString
    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"))
    val files = (1 to 2).map { i =>
      val p = java.nio.file.Paths.get(f"$replDir/$i%09d.osc")
      java.nio.file.Files.writeString(p,
        s"""<?xml version='1.0' encoding='UTF-8'?>
           |<osmChange version="0.6" generator="test">
           | <modify>
           |  <node id="10001" version="${i + 2}" lat="40.0" lon="10.0">
           |   <tag k="place" v="village"/><tag k="name" v="N$i"/>
           |  </node>
           | </modify>
           |</osmChange>
           |""".stripMargin)
      p.toString
    }
    DiffPipeline.applyBatchFiles(spark, mapping, stateDir, files,
      batchId = Some(7L))
    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 2)
    // same batchId again = crash replay: must NOT trip the sequence gate
    DiffPipeline.applyBatchFiles(spark, mapping, stateDir, files,
      batchId = Some(7L))
    val places = DiffPipeline.readTables(spark, mapping, stateDir)("places")
    assert(places.filter("osm_id = 10001").head()
      .getAs[String]("name") == "N2")
    // a NEW batch with a regressed sequence is out-of-order data loss
    val err = intercept[IllegalStateException] {
      DiffPipeline.applyBatchFiles(spark, mapping, stateDir, Seq(files.head),
        batchId = Some(8L))
    }
    assert(err.getMessage.contains("out-of-order replication file"))
  }

  test("a capped backlog replay with shuffled mtimes aborts loudly instead " +
      "of applying diffs out of sequence") {
    // r10 verdict #3: with maxFilesPerTrigger set, cross-micro-batch order
    // is file MTIME; a backlog whose mtimes don't follow sequence order
    // must NOT silently corrupt state. Four files, mtimes REVERSED against
    // their filename sequences, cap 2: micro-batch 1 delivers seq {4,3}
    // (oldest mtimes), batch 2 delivers {2,1} — a regression below the
    // store's last applied sequence, which must abort with a clear error
    // (the reference's last.state.txt gate, update/cmd.go:231-257).
    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-ooo-state").toString
    val replDir = java.nio.file.Files.createTempDirectory("graft-ooo-repl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ooo-ckpt").toString
    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"))
    val mtime0 = System.currentTimeMillis() - 600000
    for (i <- 1 to 4) {
      val p = java.nio.file.Paths.get(f"$replDir/$i%09d.osc")
      java.nio.file.Files.writeString(p,
        s"""<?xml version='1.0' encoding='UTF-8'?>
           |<osmChange version="0.6" generator="test">
           | <modify>
           |  <node id="10001" version="${i + 2}" lat="40.0" lon="10.0">
           |   <tag k="place" v="village"/><tag k="name" v="N$i"/>
           |  </node>
           | </modify>
           |</osmChange>
           |""".stripMargin)
      // reversed: sequence 4 carries the OLDEST mtime
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime0 + (5 - i) * 2000L))
    }
    val q = DiffPipeline.runStream(spark, mapping, stateDir, replDir, ckpt,
      maxFilesPerTrigger = Some(2))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(480000)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("out-of-order replication file")),
      s"wrong failure: ${messages(err).mkString(" | ")}")
    // batch 1 must have applied ITS files in sequence order (3 then 4 —
    // mtime order would leave N3), committed both, and left state sane
    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 2, s"seq=${store.currentSeq}")
    val places = DiffPipeline.readTables(spark, mapping, stateDir)("places")
    assert(places.filter("osm_id = 10001").head()
      .getAs[String]("name") == "N4")
  }

  test("a 50-batch stream stays bounded: versions, segments, and files are " +
      "flat under per-trigger retention") {
    // the long-stream soak (reference analog: update/cmd.go's unbounded
    // importLoop): 50 committed minutely batches through runStream with
    // maxFilesPerTrigger=5, so retention runs every micro-batch like a
    // live deployment, not once at the end of a backlog replay. The
    // mechanical claim is state-growth flatness — versions ≤ keep+1 per
    // table, segments ≤ maxSegments in the final manifest — which is what
    // makes per-batch wall time flat at planet scale (the timed trend
    // lives in Bench's osm_diff_soak entry).
    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-soak-state").toString
    val replDir = java.nio.file.Files.createTempDirectory("graft-soak-repl").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-soak-ckpt").toString
    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"))
    // distinct ascending mtimes: across micro-batches the file source
    // orders by modification time, and live minutely replication is
    // exactly that (one file per minute) — 50 same-second writes would
    // model a backlog replay instead, which (documented on runStream)
    // must run uncapped in one path-sorted batch
    val mtime0 = System.currentTimeMillis() - 600000
    for (i <- 1 to 50) {
      val p = java.nio.file.Paths.get(f"$replDir/$i%09d.osc")
      java.nio.file.Files.writeString(p,
        s"""<?xml version='1.0' encoding='UTF-8'?>
           |<osmChange version="0.6" generator="test">
           | <modify>
           |  <node id="10001" version="${i + 2}" lat="40.0" lon="10.0">
           |   <tag k="place" v="village"/><tag k="name" v="N$i"/>
           |  </node>
           | </modify>
           |</osmChange>
           |""".stripMargin)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(mtime0 + i * 2000L))
    }
    val q = DiffPipeline.runStream(spark, mapping, stateDir, replDir, ckpt,
      maxFilesPerTrigger = Some(5))
    assert(q.awaitTermination(1200000), "soak stream did not finish in 1200s")
    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 50, s"seq=${store.currentSeq}")
    val places = DiffPipeline.readTables(spark, mapping, stateDir)("places")
    assert(places.filter("osm_id = 10001").head()
      .getAs[String]("name") == "N50", "last batch must win")
    // growth bounds: every table's version-dir count is O(keep), never
    // O(batches); the live manifest carries at most maxSegments segments
    val root = new java.io.File(stateDir)
    for (t <- Option(root.listFiles()).getOrElse(Array.empty) if t.isDirectory) {
      val vdirs = Option(t.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("v"))
      // bound = maxSegments (8, a live manifest references that many
      // segment version dirs by pointer) + base + keep(2) + 1 slop: O(1)
      // in batches, where unbounded growth would sit at 50+
      assert(vdirs.length <= 12,
        s"${t.getName}: ${vdirs.length} version dirs after 50 batches — " +
          "vacuum is not bounding the store")
    }
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "coords", "v50", "_manifest")), "UTF-8")
    val nSegs = manifest.linesIterator.count(_.startsWith("SEGO\t"))
    assert(nSegs <= 8, s"$nSegs segments in v50 — compaction never ran")
    def countFiles(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(countFiles).sum
      else 1L
    val nFiles = countFiles(root)
    // unbounded growth would be ~2 dirs × ~35 tables × 50 batches of
    // segment files plus every historical version; the bounded store
    // stays within a few files per (table × bucket × keep)
    assert(nFiles < 4000, s"$nFiles files in the store after 50 batches")
    assert(store.read("coords", 50).filter("id = 10001").count() == 1)
  }
}
