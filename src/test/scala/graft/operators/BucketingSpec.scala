package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Bucketed co-located joins: same results as the shuffle plan, but the
  * join and the aggregation on the bucket key run with zero exchanges.
  */
class BucketingSpec extends SparkSpecBase {

  private lazy val tables: Unit = {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = spark.read.parquet(s"$sf001/orders.parquet")
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .select("l_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_bkt", "l_orderkey")
    Bucketing.writeBucketed(o, "o_bkt", "l_orderkey")
  }

  test("bucketed join plans with zero exchanges and matches shuffle join") {
    tables
    val joined = Bucketing.bucketedJoin(spark, "li_bkt", "o_bkt", "l_orderkey")
    assert(Bucketing.shuffleFree(joined),
      joined.queryExecution.executedPlan.toString)

    val viaBuckets = joined.agg(count(lit(1)), sum("l_quantity")).head()
    val plain = spark.read.parquet(s"$sf001/lineitem.parquet")
      .join(spark.read.parquet(s"$sf001/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), sum("l_quantity")).head()
    assert(viaBuckets == plain)
  }

  test("aggregation on the bucket key reuses the layout — no exchange") {
    tables
    val agg = spark.table("li_bkt").groupBy("l_orderkey")
      .agg(sum("l_extendedprice").as("rev"))
    assert(Bucketing.shuffleFree(agg),
      agg.queryExecution.executedPlan.toString)
  }

  test("the OSM way-assembly lookup join runs exchange-free when bucketed") {
    // THE pipeline shuffle (SURVEY §2 J1) on the layout the 100 TB design
    // prescribes: coords and exploded way refs bucketed by the node id
    // co-locate, so the ref→coordinate lookup joins with zero exchanges —
    // only the (much smaller) way-sized regroup still shuffles. Monaco is
    // the real-fixture stand-in for the planet-scale element store.
    val monaco = "/root/reference/vendor/github.com/omniscale/go-osm/" +
      "parser/pbf/monaco-20150428.osm.pbf"
    assume(new java.io.File(monaco).exists(), "Monaco fixture not present")
    val b = graft.sources.OsmPbf.read(spark, monaco)
    // coords carries EVERY node's coordinates (tagged nodes appear in
    // `nodes` additionally, imposm semantics) — no union needed
    val coordsAll = b.coords.select("id", "lat", "lon")
    val refs = b.ways.select(col("id").as("way_id"),
        posexplode(col("refs")).as(Seq("pos", "id")))
    Bucketing.writeBucketed(coordsAll, "coords_bkt", "id")
    Bucketing.writeBucketed(refs, "wayrefs_bkt", "id")
    val joined = Bucketing.bucketedJoin(spark, "wayrefs_bkt", "coords_bkt", "id")
    assert(Bucketing.shuffleFree(joined),
      joined.queryExecution.executedPlan.toString)
    // all-or-nothing invariant: every ref resolves against the co-located
    // coordinate store (the J1 completeness rule)
    assert(joined.count() == refs.count() && refs.count() > 0)
  }

  test("full import over the bucketed store equals the shuffle-join import") {
    // the bench's osm_import_bucketed A/B is only meaningful if the
    // injected resolveStore assembler is semantics-identical to the
    // default in-pipeline join — pin table-for-table row equality on the
    // real fixture
    val monaco = "/root/reference/vendor/github.com/omniscale/go-osm/" +
      "parser/pbf/monaco-20150428.osm.pbf"
    assume(new java.io.File(monaco).exists(), "Monaco fixture not present")
    val mapping = new graft.mapping.CompiledMapping(
      graft.mapping.MappingConf.fromFile(
        "/root/reference/test/complete_db_mapping.json"))
    val bundle = graft.sources.OsmPbf.read(spark, monaco)
    def tablesWith(assembler: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame])
        : Map[String, Seq[String]] = {
      val p = assembler match {
        case Some(a) => new graft.ImportPipeline(spark, mapping, assembler = a)
        case None => new graft.ImportPipeline(spark, mapping)
      }
      val out = p.run(bundle).map { case (n, df) =>
        // binary (WKB geometry) columns compare by object identity in Row
        // — hash them to strings so row equality means value equality
        val comparable = df.schema.fields.map { f =>
          if (f.dataType == org.apache.spark.sql.types.BinaryType)
            md5(col(f.name)).as(f.name)
          else col(f.name)
        }
        n -> df.select(comparable.toSeq: _*)
          .collect().map(_.mkString("|")).toSeq.sorted
      }
      p.unpersistAll()
      out
    }
    val stored: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame =
      (ways, coords) => {
        WayAssembly.writeStore(ways, coords, "imp_bkt", nBuckets = 8)
        WayAssembly.resolveStore(spark, "imp_bkt")
      }
    val base = tablesWith(None)
    val viaStore = tablesWith(Some(stored))
    assert(base.keySet == viaStore.keySet)
    base.foreach { case (n, rows) =>
      assert(rows == viaStore(n), s"table $n diverged under the bucketed store")
    }
    assert(base.values.map(_.size).sum > 0)
  }
}
