package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml

/** Diff maintenance must be bucket-pruned: a small diff appends a delta
  * segment and carries every base bucket forward by manifest pointer
  * (StateStore bucketed layout). The goldens in DiffPipelineSpec prove
  * content correctness through the same code path; this spec proves the
  * PRUNING — v1 rewrites no base bucket, and untouched buckets still point
  * at v0 files — plus the store's own fold, compaction and format checks.
  */
class BucketPruneSpec extends SparkSpecBase {

  private lazy val mapping =
    new CompiledMapping(MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))

  import scala.jdk.CollectionConverters._

  private def bucketDirs(stateDir: String, table: String, seq: Long): Set[String] = {
    val d = Paths.get(stateDir, table, s"v$seq")
    if (!Files.isDirectory(d)) Set.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("__b=")).toSet
      finally s.close()
    }
  }

  test("segments fold newest-wins, compact into a fresh base, and read as " +
      "one scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-fold").toString
    val store = new StateStore(spark, dir)
    store.setHashBuckets(8)
    store.writeBucketed("t", 0,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "id")
    def ins(seq: Long, rows: Seq[(Long, String)], dels: Seq[Long]): Unit =
      store.writeDelta("t", seq, seq - 1, rows.toDF("id", "v"),
        dels.map(Tuple1(_)).toDF("id"), "id", maxSegments = 2)
    ins(1, Seq((2L, "B")), Seq(2L))             // update id 2
    ins(2, Seq((4L, "d")), Seq(4L))             // insert id 4
    def rows(seq: Long): Seq[(Long, String)] =
      store.read("t", seq).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows(2) == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
    ins(3, Seq((1L, "A")), Seq(1L))             // third write → compaction
    assert(rows(3) == Seq((1L, "A"), (2L, "B"), (3L, "c"), (4L, "d")))
    val m3 = new String(Files.readAllBytes(
      Paths.get(dir, "t", "v3", "_manifest")), "UTF-8")
    assert(!m3.contains("SEGO\t"), "compaction must fold segments into a base")
    assert(m3.contains("v3/__b="), "compaction must write a fresh base")
    // delete-only batch (no inserts)
    ins(4, Seq.empty, Seq(3L))
    assert(rows(4) == Seq((1L, "A"), (2L, "B"), (4L, "d")))
    // bucket-pruned read folds segments for the requested ids too
    val bs = Set(store.bucketOfId(2L))
    assert(store.readBuckets("t", 4, bs).filter("id = 2")
      .head().getString(1) == "B")
    // the fold's tombstone anti-join must plan as a broadcast HASH join
    // (equi on id + the ordinal inequality as its residual) — a nested
    // loop here would make every segmented read O(rows × tombstones)
    val plan = store.read("t", 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"segment fold must be a broadcast hash anti-join:\n$plan")
    // r13 single-scan fold: however many stamped segments accumulate, the
    // base and every segment's inserts are ONE parquet scan (segment files
    // carry their own __ord, base files read it as null = 0), not one scan
    // per segment — the per-batch read cost of a long diff stream must not
    // grow with the segment count. v2 holds TWO segments; the plan has the
    // rows scan + the del scan = 2 scans, a CONSTANT in the segment count
    // (legacy folds planned 2 + 2·segments; a base ∪ inserts union, 4).
    val plan2 = store.read("t", 2).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan2).size
    assert(scans <= 2,
      s"stamped segments must fold as one scan (got $scans, expected ≤2 " +
        s"independent of segment count):\n$plan2")
    // a no-op version step carries the table forward without a new
    // segment: same rows, no v5 segment dirs, no extra fold level
    store.writeUnchanged("t", 5, 4)
    assert(rows(5) == Seq((1L, "A"), (2L, "B"), (4L, "d")))
    assert(!Files.isDirectory(Paths.get(dir, "t", "v5", "ins")),
      "writeUnchanged must not write a segment")
    val m5 = new String(Files.readAllBytes(
      Paths.get(dir, "t", "v5", "_manifest")), "UTF-8")
    assert(m5.contains("v4/ins"), "v5 manifest must carry v4's segment")
    // the commit reclaims the versions the committed manifest no longer
    // names (v0–v2, folded away by the v3 compaction) and keeps the base
    // and segment it still reads (v3, v4); the table reads the same after
    def versions(): Set[String] = {
      val kept = Files.list(Paths.get(dir, "t"))
      try kept.iterator().asScala.map(_.getFileName.toString).toSet finally kept.close()
    }
    store.commit(5)
    assert(versions() == Set("v3", "v4", "v5"))
    assert(rows(5) == Seq((1L, "A"), (2L, "B"), (4L, "d")))
    // past the retained window (v6, v7 behind v8), the base and segment
    // v8's manifest still reads (v3, v4) stay; the unreferenced v5 goes
    for (v <- 6 to 8) store.writeUnchanged("t", v, v - 1)
    store.commit(8)
    assert(versions() == Set("v3", "v4", "v6", "v7", "v8"))
    assert(rows(8) == Seq((1L, "A"), (2L, "B"), (4L, "d")))
  }

  test("a pre-r13 store (id-range buckets or an unstamped SEG segment) " +
      "fails with an error that names the file") {
    import spark.implicits._
    def store(tag: String): (String, StateStore) = {
      val dir = Files.createTempDirectory(s"graft-store-$tag").toString
      val s = new StateStore(spark, dir)
      s.setHashBuckets(4)
      s.writeBucketed("t", 0, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "id")
      s.writeDelta("t", 1, 0, Seq((2L, "B")).toDF("id", "v"),
        Seq(Tuple1(2L)).toDF("id"), "id")
      (dir, s)
    }
    def refused(file: java.nio.file.Path)(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains(file.toString) &&
        e.getMessage.contains("re-run the import"), e.getMessage)
    }
    // id-range scheme: the pre-r13 control file in place of buckets.txt
    val (ranged, _) = store("bits")
    val bits = Paths.get(ranged, "bucketbits.txt")
    Files.delete(Paths.get(ranged, "buckets.txt"))
    Files.write(bits, "20".getBytes("UTF-8"))
    val old = new StateStore(spark, ranged)
    refused(bits)(old.bucketOfId(2L))
    refused(bits)(old.readBuckets("t", 1, Set(0L)))
    // unstamped segment: the pre-r13 manifest tag
    val (unstamped, s) = store("seg")
    val manifest = Paths.get(unstamped, "t", "v1", "_manifest")
    val text = new String(Files.readAllBytes(manifest), "UTF-8")
    assert(text.contains("SEGO\t"))
    Files.write(manifest, text.replace("SEGO\t", "SEG\t").getBytes("UTF-8"))
    // the local Hadoop filesystem would reject the edit by its stale checksum
    Files.delete(manifest.resolveSibling("._manifest.crc"))
    refused(manifest)(s.read("t", 1))
    refused(manifest)(s.writeUnchanged("t", 2, 1))
    // a version dir without a _manifest (a plain whole-table dir, the
    // layout this store no longer writes) is refused, not read as a table
    val (plain, p) = store("plain")
    Seq((1L, "a")).toDF("id", "v").write.parquet(Paths.get(plain, "t", "v2").toString)
    val missing = Paths.get(plain, "t", "v2", "_manifest")
    refused(missing)(p.read("t", 2))
    refused(missing)(p.readBuckets("t", 2, Set(0L)))
  }

  test("bucketOfId on the driver equals the writer's bucketOf column for " +
      "any id and bucket count") {
    // the diff prunes every read to the buckets bucketOfId names, so a
    // driver/writer disagreement would silently read the wrong buckets.
    // ScalaCheck ids under fixed seeds (the build has no scalatestplus),
    // evaluated through an RDD-backed frame so the column runs the
    // executors' generated code, as in the bucketed write
    import org.apache.spark.sql.functions.col
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val anyId = Gen.oneOf(Gen.long, Gen.chooseNum(-4096L, 4096L))
    val ids = Seq(0L, 1L, -1L, Long.MinValue, Long.MaxValue) ++
      (1 to 8).flatMap(i => Gen.listOfN(64, anyId)
        .pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val frame = spark.sparkContext.parallelize(ids, 4).toDF("id")
    for (n <- Seq(1, 4, 64, 1024)) {
      val store = new StateStore(spark,
        Files.createTempDirectory(s"graft-bucket-parity-$n").toString)
      store.setHashBuckets(n)
      val written = frame.select(col("id"), store.bucketOf(col("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val wrong = written.filter { case (id, b) => store.bucketOfId(id) != b }
      assert(written.length == ids.size && wrong.isEmpty,
        s"$n buckets: driver and writer disagree on ${wrong.take(5).toSeq}")
    }
  }

  test("a small diff appends a delta segment, never rewrites base buckets") {
    val stateDir = Files.createTempDirectory("graft-bucket-prune").toString
    // 64 hash buckets: the fixture's ids spread over (almost) all of them,
    // the .osc touches a handful
    DiffPipeline.init(spark, mapping, stateDir,
      OsmXml.read(spark, "/root/reference/test/complete_db.osm"), nBuckets = 64)
    DiffPipeline.applyDiff(spark, mapping, stateDir,
      OsmXml.readDiff(spark, "/root/reference/test/complete_db.osc").toDF())

    val store = new StateStore(spark, stateDir)
    assert(store.currentSeq == 1)
    for (table <- Seq("coords", "ways")) {
      val v0 = bucketDirs(stateDir, table, 0)
      val v1 = bucketDirs(stateDir, table, 1)
      assert(v0.nonEmpty)
      assert(v1.isEmpty,
        s"$table: v1 rewrote ${v1.size} base buckets — the version step " +
          "must be a merge-on-read segment, not a bucket rewrite")
      assert(Files.isDirectory(Paths.get(stateDir, table, "v1", "ins")) &&
        Files.isDirectory(Paths.get(stateDir, table, "v1", "del")),
        s"$table: v1 must hold the batch's insert/tombstone segment")
    }

    // untouched base buckets must be carried forward by pointer, and the
    // new segment must be listed after them
    val manifest = new String(Files.readAllBytes(
      Paths.get(stateDir, "coords", "v1", "_manifest")), "UTF-8")
    assert(manifest.contains("v0/__b="), "v1 manifest must reference v0 buckets")
    assert(manifest.contains("SEGO\tid\tid\tv1/ins\tv1/del"),
      "v1 manifest must list the (ordinal-stamped) delta segment")

    // and the merged view is consistent: committed coords == v0 kept + diff
    val coords = store.read("coords", 1)
    assert(coords.count() > 0)
    assert(coords.select("id").distinct().count() == coords.count(),
      "bucket merge must not duplicate ids")

    // the maintained reverse indexes must stay consistent with the
    // element tables they index after a diff (the closure's correctness
    // rests on this invariant, not just on output goldens)
    {
      import org.apache.spark.sql.functions._
      def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
        df.select(col(a), col(b)).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val ways = store.read("ways", 1)
      val derivedWayrefs = pairs(ways.select(col("id").as("way_id"),
        explode(col("refs")).as("id")), "way_id", "id")
      val storedWayrefs = pairs(store.read("wayrefs", 1), "way_id", "id")
      assert(storedWayrefs == derivedWayrefs,
        s"wayrefs drifted: +${(storedWayrefs -- derivedWayrefs).size} " +
          s"-${(derivedWayrefs -- storedWayrefs).size}")
      val rels = store.read("relations", 1)
      val derivedRelrefs = pairs(rels
        .select(col("id").as("rel_id"), explode(col("members")).as("m"))
        .select(col("rel_id"), col("m.id").as("id")), "rel_id", "id")
      val storedRelrefs = pairs(store.read("relrefs", 1), "rel_id", "id")
      assert(storedRelrefs == derivedRelrefs, "relrefs drifted")
    }

    // a commit past the retained versions must NOT delete v0 while the
    // committed manifest still references it (the base under v1's segment)
    for (t <- Seq("coords", "ways"); v <- 2 to 3) store.writeUnchanged(t, v, v - 1)
    store.commit(3)
    assert(Files.isDirectory(Paths.get(stateDir, "coords", "v0")),
      "retention deleted a version dir still referenced by the live manifest")
    assert(store.read("coords", 3).count() == coords.count())
  }

  test("diff init+apply is identical under distributed file discovery") {
    // the session conf keeps partition discovery on the driver
    // (graft.Session.conf); against object storage a deployment sets the
    // threshold low so Spark's PARALLEL listing jobs walk the merged-view
    // paths instead. That execution mode must produce byte-identical
    // output tables — run the same init+apply both ways and compare
    // per-table row counts + an order-free row checksum.
    import org.apache.spark.sql.functions._
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    def runMode(threshold: Option[String]): Map[String, (Long, Long)] = {
      val before = spark.conf.get(key)
      threshold.foreach(spark.conf.set(key, _))
      try {
        val stateDir = Files.createTempDirectory("graft-dist-list").toString
        DiffPipeline.init(spark, mapping, stateDir,
          OsmXml.read(spark, "/root/reference/test/complete_db.osm"),
          nBuckets = 64)
        DiffPipeline.applyDiff(spark, mapping, stateDir,
          OsmXml.readDiff(spark, "/root/reference/test/complete_db.osc").toDF())
        DiffPipeline.readTables(spark, mapping, stateDir).map { case (n, df) =>
          // to_json renders binary (geometry WKB) as base64 — a stable,
          // order-free per-row digest summed into one checksum
          val row = df.agg(count(lit(1)),
            sum(crc32(to_json(struct(df.columns.map(col): _*))))).head()
          n -> (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        }
      } finally spark.conf.set(key, before)
    }
    val driverSide = runMode(None)
    // threshold=1: every multi-path store view exceeds it, so Spark runs
    // its distributed listing job — the untested-by-default branch
    val distributed = runMode(Some("1"))
    assert(driverSide.keySet == distributed.keySet)
    for ((n, d) <- driverSide)
      assert(distributed(n) == d,
        s"$n diverged under distributed listing: $d vs ${distributed(n)}")
  }
}
