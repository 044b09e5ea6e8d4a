package graft.tools

import org.apache.spark.sql.functions._

import graft.mapping.{CompiledMapping, MappingConf}
import graft.operators.WayAssembly
import graft.sources.{OsmPbf, TagFilters}

/** Micro-probe: decompose WayAssembly.resolve cost on the synth bench input
  * (join vs regroup-shuffle vs the mapPartitions row boundary).
  *
  * Run: sbt "Test/runMain graft.tools.AssemblyProbe"
  */
object AssemblyProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build("graft-assembly-probe")
    import graft.functions.GeomFunctions._

    val mapping = new CompiledMapping(
      MappingConf.fromFile("/root/reference/test/complete_db_mapping.json"))
    val bundle = OsmPbf.read(spark, "/root/repo/target/bench-pbf", Some(TagFilters(mapping)))
    bundle.coords.count() // materialize cache

    val coords = bundle.coords
      .withColumn("x", mercX(quantizeCoord(col("lon"))))
      .withColumn("y", mercY(quantizeCoord(col("lat"))))
      .select("id", "x", "y")
    val ways = bundle.ways

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val exploded = ways.select(col("id").as("way_id"), size(col("refs")).as("nrefs"),
      posexplode(col("refs")).as(Seq("pos", "ref")))
    timed("explode only")(exploded.write.format("noop").mode("overwrite").save())
    val joined = exploded.join(coords, exploded("ref") === coords("id"))
      .select(col("way_id"), col("nrefs"), col("pos"), col("ref"), col("x"), col("y"))
    timed("explode+join")(joined.write.format("noop").mode("overwrite").save())
    val sorted = joined.repartition(col("way_id")).sortWithinPartitions("way_id", "pos")
    timed("explode+join+regroup+sort")(sorted.write.format("noop").mode("overwrite").save())
    timed("full resolve (2nd run warm)")(
      WayAssembly.resolve(ways, coords).write.format("noop").mode("overwrite").save())
    timed("full resolve again")(
      WayAssembly.resolve(ways, coords).write.format("noop").mode("overwrite").save())

    val cached = WayAssembly.resolve(ways, coords).persist()
    timed("resolve + cache write + count")(cached.count())
    timed("cached re-count")(cached.count())
    cached.unpersist()
    val cachedNoRefs = WayAssembly.resolve(ways, coords).drop("refs").persist()
    timed("resolve + cache (no refs)")(cachedNoRefs.count())
    cachedNoRefs.unpersist()

    val mWays = ways.select(col("id"))
    val matched = mWays.sample(0.9)
    timed("semi-join + resolve (distinct ids)") {
      WayAssembly.resolve(
        ways.join(matched.union(mWays.sample(0.2)).distinct(), Seq("id"), "left_semi"),
        coords).write.format("noop").mode("overwrite").save()
    }
    timed("semi-join + resolve (no distinct)") {
      WayAssembly.resolve(
        ways.join(matched.union(mWays.sample(0.2)), Seq("id"), "left_semi"),
        coords).write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
