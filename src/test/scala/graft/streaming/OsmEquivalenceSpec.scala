package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.SparkSpecBase
import perfbench.{Ctx, Tracer, Workloads}

/** Diff correctness without fixture files: the benchmark's `osm` workload
  * run in-process on a small seeded city. It checks the store's initial
  * tables against the generator's predicted rows and, after one seeded
  * change file, every maintained table against a bulk import of the same
  * final element state (incremental == batch, with the benchmark's own
  * tolerances). Then the last change file applied again must leave every
  * table as it was (ST2: delete-then-insert makes a replay a no-op).
  */
class OsmEquivalenceSpec extends SparkSpecBase {

  private val Grid = 8
  private val ChangesPerFile = 60

  /** Every row of every table as sorted JSON lines. */
  private def snapshot(tables: Map[String, DataFrame]): Map[String, Seq[String]] =
    tables.map { case (name, df) =>
      name -> df.select(to_json(struct(df.columns.map(col).toSeq: _*)))
        .collect().map(_.getString(0)).toSeq.sorted
    }

  for (seed <- Seq(1L, 2L)) test(s"incremental == bulk import on seeded city $seed; " +
      "re-applying the change file changes nothing") {
    val work = Files.createTempDirectory(s"graft-osm-equivalence-$seed").toString
    val ctx = new Ctx(spark, seed, seconds = 0, new Tracer(spark, false), work, "perfbench")
    val outcome = Workloads.runOsm(ctx, Grid, ChangesPerFile)
    assert(outcome.attempted > 0)
    assert(outcome.failed == 0,
      ctx.failures.map { case (what, why) => s"$what: $why" }.mkString("\n"))

    // the one change file, applied again under a name with no sequence
    // number (the ordering gate exempts it, as for a hand-named file)
    val state = ctx.path("osm/state")
    val changes = ctx.path("osm/changes")
    val files = new java.io.File(changes).list().filter(_.endsWith(".osc.gz")).sorted
    assert(files.length == 1, files.toSeq)
    val replay = Paths.get(changes, "replay.osc.gz")
    Files.copy(Paths.get(changes, files.head), replay)
    val mapping = ctx.mapping
    val before = snapshot(DiffPipeline.readTables(spark, mapping, state))
    DiffPipeline.applyBatchFiles(spark, mapping, state, Seq(replay.toString))
    val after = snapshot(DiffPipeline.readTables(spark, mapping, state))
    assert(after.keySet == before.keySet)
    before.keys.toSeq.sorted.foreach { t =>
      assert(after(t) == before(t), s"$t changed on replay: " +
        s"${before(t).diff(after(t)).take(2)} -> ${after(t).diff(before(t)).take(2)}")
    }
  }
}
