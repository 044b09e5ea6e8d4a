package graft.obs

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.graft.ListenerBusBridge

import graft.SparkSpecBase
import graft.mapping.{CompiledMapping, MappingConf}
import graft.sources.OsmXml
import graft.streaming.DiffPipeline

/** The one meter: job attribution across nested spans and drain threads,
  * totals that match an independent listener, outer job tags left alone,
  * and the diff pipeline's one record per apply. Fixture-free.
  */
class ObsSpec extends SparkSpecBase {

  private def sc = spark.sparkContext

  // a span tags jobs of the context active when it opens: start it first
  override def beforeAll(): Unit = { super.beforeAll(); sc }

  /** Every job's tags, tasks and task CPU, seen by a listener of its own. */
  private final class Jobs extends SparkListener {
    val tags = new ConcurrentHashMap[Int, Set[String]]()
    val tasks = new ConcurrentHashMap[Int, java.lang.Long]()
    val cpu = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      tags.put(e.jobId, Option(e.properties.getProperty("spark.job.tags"))
        .fold(Set.empty[String])(_.split(",").toSet))
      e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        tasks.merge(j, 1L, (a, b) => a + b)
        cpu.merge(j, e.taskMetrics.executorCpuTime, (a, b) => a + b)
      }
  }

  private def listening[T](f: Jobs => T): T = {
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try f(jobs) finally sc.removeSparkListener(jobs)
  }

  private def ids(js: Seq[Obs.Job]): Seq[Int] = js.map(_.id)

  test("nested spans attribute each job to the innermost open span") {
    val (_, outer) = Obs.measure("outer") {
      spark.range(10).count()
      Obs.span("inner")(spark.range(20).count())
      spark.range(30).count()
    }
    val Seq(inner) = outer.children
    assert(inner.name == "inner" && inner.children.isEmpty)
    assert(inner.jobs.nonEmpty && outer.jobs.size >= 2)
    // the inner span's jobs ran between the outer span's own
    val (before, after) = ids(outer.jobs).partition(_ < ids(inner.jobs).min)
    assert(before.nonEmpty && after.nonEmpty && after.min > ids(inner.jobs).max)
    assert(outer.allJobs.size == outer.jobs.size + inner.jobs.size)
    assert(outer.tasks == outer.jobs.map(_.tasks).sum + inner.tasks)
  }

  test("a drain thread's job counts for the span it started in; a job after " +
      "the span closed does not") {
    val release = new CountDownLatch(1)
    var late: Thread = null
    val (_, outer) = Obs.measure("outer") {
      Obs.span("inner") {
        DiffPipeline.drainConcurrently(Seq(() => spark.range(5).collect(): Unit))
        late = new Thread(() => { release.await(); spark.range(7).collect(): Unit })
        late.start()
      }
      // the late thread carries both tags; its job starts after "inner"
      // closed, so it falls to the still open outer span
      Thread.sleep(50)
      release.countDown()
      late.join()
    }
    val inner = outer.find("inner").get
    assert(inner.jobs.nonEmpty, "the drain thread's job was not the inner span's")
    assert(outer.jobs.nonEmpty, "the late job was not the outer span's")
    assert(ids(inner.jobs).max < ids(outer.jobs).min)
  }

  test("a span's task count and task CPU equal an independent listener's") {
    listening { seen =>
      val (_, span) = Obs.measure("work") {
        spark.range(0, 200000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.range(1000).selectExpr("sum(id)").collect()
      }
      ListenerBusBridge.drain(sc)
      val jobIds = ids(span.allJobs)
      assert(jobIds.nonEmpty)
      assert(span.tasks == jobIds.map(j => seen.tasks.getOrDefault(j, 0L).longValue).sum)
      assert(span.allJobs.map(_.cpuNs).sum ==
        jobIds.map(j => seen.cpu.getOrDefault(j, 0L).longValue).sum)
      assert(span.tasks > 0 && span.taskCpuS > 0)
    }
  }

  test("a span under an outer job tag leaves that tag on every job") {
    val outerTag = "pb-span-outer"
    listening { seen =>
      sc.addJobTag(outerTag)
      val (_, span) = try Obs.measure("tagged") {
        spark.range(10).count()
        Obs.span("inner")(spark.range(11).count())
      } finally {
        assert(sc.getJobTags().contains(outerTag), "a span cleared a tag it did not add")
        sc.removeJobTag(outerTag)
      }
      ListenerBusBridge.drain(sc)
      val jobIds = ids(span.allJobs)
      assert(jobIds.size >= 2)
      jobIds.foreach(j => assert(seen.tags.get(j).contains(outerTag), s"job $j lost $outerTag"))
    }
  }

  private val cafes = new CompiledMapping(MappingConf.fromString(
    """tables:
      |  pois:
      |    type: point
      |    columns:
      |    - {name: osm_id, type: id}
      |    - {name: geometry, type: geometry}
      |    mapping:
      |      amenity: [cafe]
      |""".stripMargin))

  /** A dir holding two cafes and a sequence-numbered change file that
    * moves one and adds a third: (dir, base .osm, .osc). */
  private def cafeFiles(): (String, String, String) = {
    def node(id: Long, lon: Double) =
      s"""<node id="$id" version="1" lat="43.73" lon="$lon"><tag k="amenity" v="cafe"/></node>"""
    val dir = Files.createTempDirectory("graft-obs").toString
    def write(name: String, body: String): String = {
      val p = Paths.get(dir, name)
      Files.write(p, body.getBytes("UTF-8"))
      p.toString
    }
    (dir, write("base.osm", s"""<osm version="0.6">${node(1, 7.42)}${node(2, 7.43)}</osm>"""),
      write("000000001.osc", s"""<osmChange version="0.6"><modify>${node(1, 7.421)}""" +
        s"""</modify><create>${node(3, 7.44)}</create></osmChange>"""))
  }

  /** The `{"record":…}` lines `f` prints on stderr. */
  private def records(f: => Unit): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try f finally System.setErr(err)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("{\"record\":")).map(json.readTree).toSeq
  }

  private def phases(n: com.fasterxml.jackson.databind.JsonNode): Set[String] =
    Option(n.get("phases")).fold(Set.empty[String])(_.elements().asScala.map(_.get("name").asText).toSet)

  test("one applyBatchFiles prints exactly one record, with the apply phases " +
      "as its children") {
    val (dir, osm, osc) = cafeFiles()
    val state = s"$dir/state"

    val Seq(init) = records(DiffPipeline.init(spark, cafes, state, OsmXml.read(spark, osm),
      nBuckets = 4))
    assert(init.get("record").asText == "diff.init" && init.get("version").asLong == 0)
    assert(init.get("changed").asLong == 2, "init wrote two coords")
    assert(phases(init.get("span")) == Set("element-writes", "stages", "table-writes", "commit"))

    val Seq(apply) = records(DiffPipeline.applyBatchFiles(spark, cafes, state, Seq(osc),
      expireDir = Some(s"$dir/expire")))
    assert(apply.get("record").asText == "diff.apply")
    assert(apply.get("version").asLong == 1 && apply.get("changed").asLong == 2)
    val span = apply.get("span")
    assert(phases(span) ==
      Set("element-writes", "closure", "rebuild-stages", "output-writes", "commit"))
    val children = span.get("phases").elements().asScala.map(p => p.get("name").asText -> p).toMap
    assert(phases(children("element-writes")) ==
      Set("coords", "nodes", "ways", "relations", "wayrefs", "relrefs"))
    assert(phases(children("output-writes")) == Set("expire"))
    assert(span.get("jobs").asInt > 0 && span.get("tasks").asLong > 0)
  }

  test("the apply's named phases, commit among them, hold at least 90% of its jobs") {
    // the rest is the change-file collect; a job outside every phase is
    // time the record cannot attribute
    val (dir, osm, osc) = cafeFiles()
    val state = s"$dir/state"
    records(DiffPipeline.init(spark, cafes, state, OsmXml.read(spark, osm), nBuckets = 4))
    val Seq(apply) = records(DiffPipeline.applyBatchFiles(spark, cafes, state, Seq(osc),
      expireDir = Some(s"$dir/expire")))
    val span = apply.get("span")
    val named = span.get("phases").elements().asScala.map(_.get("jobs").asInt).sum
    val all = span.get("jobs").asInt
    assert(phases(span).contains("commit"))
    assert(named >= 0.9 * all, s"named phases hold $named of the apply's $all jobs")
  }
}
