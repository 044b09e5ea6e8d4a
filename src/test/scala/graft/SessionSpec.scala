package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory. The test session runs on the conf that
  * `Session.build` gives every other entry point, so the plans the specs
  * check are the plans Verify certifies and Bench times. Byte-sized AQE
  * initial shuffle partitions (r10 verdict #2): the count follows the
  * INPUT, clamped to [cores, 8×cores] — small extracts keep the r9 plan
  * (no wide-shuffle scheduling tax), GB-scale imports get the
  * spill-bounding wide initial count. */
class SessionSpec extends AnyFunSuite {

  test("the test session runs on the conf Session.build sets") {
    val spark = SparkSpecBase.session
    val planKeys = Seq(
      "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.io.compression.codec",
      "spark.rdd.compress", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.session.timeZone", "spark.sql.sources.parallelPartitionDiscovery.threshold")
    val want = Session.conf(SparkSpecBase.Cores)
    for (k <- planKeys)
      assert(spark.conf.get(k) == want(k), k)
    assert(spark.sparkContext.defaultParallelism == SparkSpecBase.Cores)
  }

  test("initialPartitionsFor clamps to [cores, 8*cores] and scales by bytes") {
    val cores = 32
    // tiny input (Monaco, 270 KB) → lower clamp
    assert(Session.initialPartitionsFor(270L << 10, cores) == 32)
    // synth400 (~105 MB): 105/4 = 26 → still the lower clamp = r9 behavior
    assert(Session.initialPartitionsFor(105L << 20, cores) == 32)
    // mid-range scales linearly: 600 MB / 4 MB = 150
    assert(Session.initialPartitionsFor(600L << 20, cores) == 150)
    // synth4000 (~1.05 GB): 268 → upper clamp 256, the measured spill fix
    assert(Session.initialPartitionsFor(1075L << 20, cores) == 256)
    // far past the clamp stays bounded
    assert(Session.initialPartitionsFor(1L << 40, cores) == 256)
    // clamp arithmetic must not overflow Int on huge inputs
    assert(Session.initialPartitionsFor(Long.MaxValue / 2, cores) == 256)
    // an UNSIZEABLE input (URI scheme with no fs, missing path, glob)
    // takes the 8×cores ceiling, not the spill-prone floor: too-wide
    // costs seconds of scheduling, too-narrow re-enters the measured
    // 2.5 GB-partition spill regime
    assert(Session.initialPartitionsFor(0L, cores) == 256)
    assert(Session.initialPartitionsFor(-1L, cores) == 256)
  }

  test("inputBytes resolves URI-form paths through the Hadoop filesystem") {
    val spark = SparkSpecBase.session
    val dir = java.nio.file.Files.createTempDirectory("graft-tuning-uri").toFile
    val f = new java.io.File(dir, "data.bin")
    val out = new java.io.FileOutputStream(f)
    try out.write(new Array[Byte](4096)) finally out.close()
    // plain path and file: URI must size identically (java.io.File alone
    // reports 0 for the URI spelling — the spill-prone failure)
    assert(Session.inputBytes(spark, dir.toString) == 4096L)
    assert(Session.inputBytes(spark, "file:" + dir.toString) == 4096L)
    assert(Session.inputBytes(spark, "/nonexistent/graft-nope") == 0L)
  }

  test("sizeToInput sets the session conf from the path's bytes") {
    val spark = SparkSpecBase.session
    val dir = java.nio.file.Files.createTempDirectory("graft-tuning").toFile
    val f = new java.io.File(dir, "data.bin")
    val out = new java.io.FileOutputStream(f)
    try out.write(new Array[Byte](1 << 20)) finally out.close()
    val n = Session.sizeToInput(spark, Seq(dir.toString))
    // 1 MB on the 4-core test session → lower clamp = defaultParallelism
    assert(n == spark.sparkContext.defaultParallelism)
    assert(spark.conf.get(Session.InitialPartitionsKey) == n.toString)
  }
}
