package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded star-schema tables (`region nation customer supplier part orders
  * lineitem events documents embeddings`) in the column layout the query
  * modules read, written as one parquet file per table. The analytics
  * workload generates them from a FIXED seed so that each query's result is
  * pinned by perfbench/expected_analytics.json; the run seed varies the
  * serve requests instead. */
object AnalyticsData {
  val TableSeed = 20260417L

  val Vocab: Vector[String] = Vector("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "data", "column", "join", "small", "line",
    "customer", "query", "order", "sort", "stream", "window", "spark", "group", "filter",
    "big", "vector", "a", "the")

  private val Day = 86400L * 1000000L
  private val Epoch1995 = 788918400L * 1000000L // 1995-01-01 in microseconds
  private val Epoch2024 = 1704067200L * 1000000L

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new SplittableRandom(TableSeed)
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, StructType, Seq[Row])]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = tables += ((name, schema, rows))
    def money(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = 150
    val nSupp = 10
    val nPart = 200
    val nOrders = 1500
    save("customer", StructType.fromDDL(
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      (1 to nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    save("supplier", StructType.fromDDL(
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (1 to nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999.99, 9999.99))))
    val adjectives = Seq("red", "blue", "green", "small", "large", "hot", "cold", "shiny")
    val nouns = Seq("plate", "widget", "bolt", "gear", "valve", "panel", "spring", "wire")
    save("part", StructType.fromDDL(
      "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (1 to nPart).map(i => Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        1 + rnd.nextInt(50), money(900, 2000))))

    val orders = (1 to nOrders).map { i =>
      Row(i.toLong, (1 + rnd.nextInt(nCust)).toLong, pick(Seq("F", "O", "P")), money(1000, 400000),
        new java.sql.Timestamp((Epoch1995 + rnd.nextInt(2404) * Day) / 1000),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    }
    save("orders", StructType.fromDDL(
      "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP, o_orderpriority STRING"), orders)
    val lines = orders.flatMap { o =>
      val od = o.getTimestamp(4).getTime * 1000
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(o.getLong(0), (1 + rnd.nextInt(nPart)).toLong, (1 + rnd.nextInt(nSupp)).toLong, ln, qty,
          money(900 * qty / 50 + 1, 2100 * qty), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          pick(Seq("A", "N", "R")), pick(Seq("F", "O")),
          new java.sql.Timestamp((od + (1 + rnd.nextInt(120)) * Day) / 1000))
      }
    }
    save("lineitem", StructType.fromDDL(
      "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, " +
        "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
        "l_linestatus STRING, l_shipdate TIMESTAMP"), lines)

    val types = Seq("click", "error", "purchase", "signup", "view")
    save("events", StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"),
      (0 until 1000).map { i =>
        Row(i.toLong, new java.sql.Timestamp((Epoch2024 + (rnd.nextDouble() * 30 * Day).toLong) / 1000),
          rnd.nextInt(150).toLong, pick(types), money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val docs = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    save("documents", StructType.fromDDL(
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      (0 until 250).map { i =>
        // every tenth document repeats an earlier one with a few words
        // changed, so the dedup queries have near-duplicates to find
        val words =
          if (i % 10 == 9) docs(i - 1 - rnd.nextInt(9)).map(w =>
            if (rnd.nextInt(20) == 0) Vocab(rnd.nextInt(Vocab.size)) else w)
          else Vector.fill(20 + rnd.nextInt(60))(Vocab(rnd.nextInt(Vocab.size)))
        docs += words
        val text = words.mkString(" ")
        Row(i.toLong, text, pick(langs), s"src${i % 20}", text.length.toLong)
      })
    val dim = 64
    val centers = Vector.fill(10)(Vector.fill(dim)(rnd.nextDouble() * 2 - 1))
    save("embeddings", StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      (0 until 250).map { i =>
        val label = rnd.nextInt(10)
        val v = centers(label).map(c => (c + 0.3 * (rnd.nextDouble() * 2 - 1)).toFloat)
        val nrm = math.sqrt(v.map(x => x.toDouble * x).sum)
        Row(i.toLong, v.map(x => (x / nrm).toFloat), label)
      })

    // the tables are tiny: write them concurrently, one job each
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(tables.toSeq) { case (name, schema, rows) =>
      Future(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet"))
    }, Duration.Inf)
    finally pool.shutdown()
  }
}
