package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpecBase

/** Property-based checks: the bucketized/heap operators must agree with
  * brute-force references on arbitrary inputs — random interval layouts
  * (spans, touching endpoints, nesting), random event series (duplicate
  * timestamps, missing keys), random k vs group sizes. ScalaCheck gens are
  * driven with fixed seeds (no scalatestplus bridge in the offline cache),
  * so every run replays the same 12 cases per property.
  */
class OperatorPropertiesSpec extends SparkSpecBase {
  import spark.implicits._

  private def forAllSeeded[A](gen: Gen[A], n: Int = 12)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val smallLong = Gen.chooseNum(0L, 200L)

  test("range join equals theta join on random interval layouts") {
    val gen = for {
      pts <- Gen.listOfN(40, smallLong)
      ivs <- Gen.listOfN(12, Gen.zip(smallLong, Gen.chooseNum(0L, 60L)))
      width <- Gen.oneOf(1L, 7L, 10L, 64L)
    } yield (pts, ivs.map { case (s, len) => (s, s + len) }, width)

    forAllSeeded(gen) { case (pts, ivs, width) =>
      val p = pts.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("p_id", "x")
      val iv = ivs.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
        .toDF("i_id", "s", "e")
      val fast = RangeJoin.pointInInterval(p, iv, "x", "s", "e", width)
        .select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val slow = for {
        (x, pi) <- pts.zipWithIndex
        ((s, e), ii) <- ivs.zipWithIndex
        if x >= s && x <= e
      } yield (pi.toLong, ii.toLong)
      assert(fast.length == fast.distinct.length, "duplicate pairs")
      assert(fast.toSet == slow.toSet)
    }
  }

  test("window rewrite equals the window plan on random shapes") {
    // random keys/values/k, including k larger than every group and tied
    // values under a unique tiebreaker — the rewrite must stay row-for-row
    // identical to the Window spelling it replaces
    val gen = for {
      rows <- Gen.listOfN(60,
        Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 15L)))
      k <- Gen.chooseNum(1, 6)
    } yield (rows, k)

    forAllSeeded(gen) { case (rows, k) =>
      val df = rows.zipWithIndex
        .map { case ((key, v), i) => (key, v, i.toLong) }
        .toDF("key", "v", "id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(col("v").desc, col("id"))
      def spelled = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("key", "rn", "id")
      val expected = spelled.collect().map(_.toSeq).toSet
      org.apache.spark.sql.graft.TopKPerKey.registerRewrite(spark)
      try {
        val rewritten = spelled
        assert(rewritten.queryExecution.executedPlan.toString
          .contains("TopKPerKey"))
        assert(rewritten.collect().map(_.toSeq).toSet == expected)
      } finally org.apache.spark.sql.graft.TopKPerKey.unregisterRewrite(spark)
    }
  }

  test("as-of join equals per-row scan on random series") {
    val gen = for {
      left <- Gen.listOfN(25, Gen.zip(Gen.chooseNum(1L, 4L), smallLong))
      right <- Gen.listOfN(25, Gen.zip(Gen.chooseNum(1L, 5L), smallLong))
    } yield (left, right)

    forAllSeeded(gen) { case (leftRows, rightRows) =>
      val l = leftRows.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("l_id", "k", "ts")
      val r = rightRows.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("r_id", "k", "ts")
      val fast = AsofJoin.asof(l, r, Seq("k"), "ts", "ts", Seq("r_id"))
        .select("l_id", "r_id").collect()
        .map(row => row.getLong(0) -> (if (row.isNullAt(1)) -1L else row.getLong(1)))
        .toMap
      val slow = leftRows.zipWithIndex.map { case ((k, ts), i) =>
        val eligible = rightRows.zipWithIndex
          .filter { case ((rk, rts), _) => rk == k && rts <= ts }
        // AsofJoin resolves equal-ts right rows to the LAST in (ts, r_id)
        // order — same as last(ignoreNulls) over the union ordering
        val best = eligible.sortBy { case ((_, rts), ri) => (rts, ri) }.lastOption
        i.toLong -> best.map(_._2.toLong).getOrElse(-1L)
      }.toMap
      assert(fast == slow)
    }
  }

  test("TopK equals window row_number for random k and group sizes") {
    val gen = for {
      rows <- Gen.listOfN(60, Gen.zip(Gen.chooseNum(1L, 5L), Gen.chooseNum(0, 30)))
      k <- Gen.chooseNum(1, 8)
    } yield (rows, k)

    forAllSeeded(gen) { case (rows, k) =>
      val df = rows.zipWithIndex.map { case ((key, v), i) => (i.toLong, key, v) }
        .toDF("id", "k", "v")
      val fast = TopK.perKey(df, Seq(col("k")),
          Seq(col("v").desc, col("id").asc), k)
        .select("id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val slow = rows.zipWithIndex
        .groupBy { case ((key, _), _) => key }.values.flatMap { grp =>
          grp.sortBy { case ((_, v), i) => (-v, i) }.take(k).zipWithIndex
            .map { case ((_, i), rank) => (i.toLong, rank + 1L) }
        }.toSet
      assert(fast == slow)
    }
  }

  test("prefix scan equals sequential cumsum on random multi-key orders") {
    val gen = for {
      rows <- Gen.listOfN(60,
        Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 50L)))
    } yield rows

    forAllSeeded(gen) { rows =>
      val df = rows.zipWithIndex.map { case ((grp, v), i) =>
        (i.toLong, grp, v)
      }.toDF("id", "grp", "v").repartition(5)
      // order by (grp DESC, id): ties in grp resolved by the unique id
      val got = PrefixSum.exclusive(df,
          Seq(col("grp").desc, col("id")), "v", "off", 0)
        .select("id", "off").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      var acc = 0L
      val want = rows.zipWithIndex
        .map { case ((grp, v), i) => (grp, i.toLong, v) }
        .sortBy { case (grp, id, _) => (-grp, id) }
        .map { case (_, id, v) => val o = acc; acc += v; id -> o }.toMap
      assert(got == want)
    }
  }
}
