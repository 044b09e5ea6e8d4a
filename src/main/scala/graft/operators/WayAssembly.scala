package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** J1 — Way⋈Coords ("FillWay", reference cache/delta.go:162-198 +
  * writer/ways.go:79-90): resolve each way's ordered refs to coordinates;
  * a way with ANY missing ref is dropped (all-or-nothing).
  *
  * THE shuffle of the pipeline. Spark shape:
  *   posexplode(refs) ⋈ coords on ref=id → repartition(way) →
  *   sortWithinPartitions(way, pos) → streaming run-walk per way →
  *   join back to ways for tags (so wide tag maps never ride the explode).
  *
  * The regroup is a shuffle-sort + one sequential pass, NOT a
  * collect_list aggregation: sort-based assembly streams rows straight
  * into the output arrays, where the aggregate buffered every (pos,x,y)
  * struct per group and re-sorted it (measured ~2× slower at 10⁷ refs).
  *
  * At planet scale: coords is billions of rows — both sides shuffle-hash
  * on the ref id; pre-bucketing coords and the exploded refs by id makes
  * this co-located. Locally AQE handles it.
  */
object WayAssembly {

  /** @param ways  (id, refs, ...); all ways, tagged or not
    * @param coords (id, x, y) — already projected to the target SRID
    * @return (id, refs ARRAY<LONG>, xs ARRAY<DOUBLE>, ys ARRAY<DOUBLE>) for
    *         fully-resolved ways. Primitive arrays, not ARRAY<STRUCT<x,y>>:
    *         the tuple encoder bulk-copies double[] into UnsafeArrayData,
    *         where a struct-per-node shape paid a per-coordinate object +
    *         InternalRow conversion (measured ~40% of assembly time at 10⁷
    *         refs). refs ride along so ring assembly never re-joins `ways`.
    */
  def resolve(ways: DataFrame, coords: DataFrame): DataFrame = {
    val exploded = ways
      .select(col("id").as("way_id"), size(col("refs")).as("nrefs"),
        posexplode(col("refs")).as(Seq("pos", "ref")))
    // no join-strategy hint: a shuffle_hash hint on coords A/B'd within
    // noise of AQE's own choice — AQE keeps owning it (it can also flip
    // the decision at planet scale where the build side no longer fits)
    val joined = exploded.join(coords, exploded("ref") === coords("id"))
      .select(col("way_id"), col("nrefs"), col("pos"), col("ref"), col("x"), col("y"))
    regroup(joined)
  }

  /** The bucketed element store under table-name `prefix`: the exploded
    * (way_id, nrefs, pos, id) refs as `<prefix>_wayrefs` and the (id, x, y)
    * coords as `<prefix>_coords`, both written bucketed+sorted by `id`
    * (operators.Bucketing) — the batch analog of the reference's ID-sorted
    * LevelDB cache (cache/delta.go:12-35). The layout pays its shuffle once
    * here, so it wins when the store is read more than once (diff reruns,
    * repeated imports); the `osm_import_bucketed` bench entry A/Bs it
    * against the in-pipeline AQE shuffle join. */
  def writeStore(ways: DataFrame, coords: DataFrame, prefix: String, nBuckets: Int): Unit = {
    Bucketing.writeBucketed(ways.select(col("id").as("way_id"), size(col("refs")).as("nrefs"),
      posexplode(col("refs")).as(Seq("pos", "id"))), s"${prefix}_wayrefs", "id", nBuckets)
    Bucketing.writeBucketed(coords, s"${prefix}_coords", "id", nBuckets)
  }

  /** [[resolve]] over the store [[writeStore]] wrote under `prefix`: the
    * ref→coordinate lookup joins with ZERO exchanges (BucketingSpec pins
    * it); only the way-sized regroup still shuffles. */
  def resolveStore(spark: SparkSession, prefix: String): DataFrame =
    regroup(spark.table(s"${prefix}_wayrefs").join(spark.table(s"${prefix}_coords"), Seq("id"))
      .select(col("way_id"), col("nrefs"), col("pos"), col("id").as("ref"),
        col("x"), col("y")))

  /** Shared regroup: shuffle the joined (way_id, nrefs, pos, ref, x, y)
    * rows to their way, sort by (way, pos), stream runs into primitive
    * arrays. */
  private def regroup(joined: DataFrame): DataFrame = {
    val spark = joined.sparkSession
    import spark.implicits._
    joined
      .repartition(col("way_id"))
      .sortWithinPartitions("way_id", "pos")
      .mapPartitions { rows =>
        val b = rows.buffered
        new Iterator[(Long, Array[Long], Array[Double], Array[Double])] {
          private var nextWay: (Long, Array[Long], Array[Double], Array[Double]) = advance()
          private def advance(): (Long, Array[Long], Array[Double], Array[Double]) = {
            while (b.hasNext) {
              val head = b.head
              val id = head.getLong(0)
              val nrefs = head.getInt(1)
              val refs = new Array[Long](nrefs)
              val xs = new Array[Double](nrefs)
              val ys = new Array[Double](nrefs)
              var n = 0
              while (b.hasNext && b.head.getLong(0) == id) {
                val r = b.next()
                if (n < nrefs) {
                  refs(n) = r.getLong(3)
                  xs(n) = r.getDouble(4)
                  ys(n) = r.getDouble(5)
                }
                n += 1
              }
              if (n == nrefs) return (id, refs, xs, ys)
            }
            null
          }
          override def hasNext: Boolean = nextWay != null
          override def next(): (Long, Array[Long], Array[Double], Array[Double]) = {
            val r = nextWay; nextWay = advance(); r
          }
        }
      }
      .toDF("id", "refs", "xs", "ys")
  }
}
