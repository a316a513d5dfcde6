package graft.operators

import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.Hash60
import graft.streaming.StreamingKmv

/** KMV bottom-k distinct sketch (the custom TypedImperativeAggregate):
  * both regimes against a driver-side model, merge/partition invariance,
  * multiplicity-insensitivity, and the streaming twin's batch parity.
  */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private val K = Sketches.KmvK

  /** The sketch's value hash, computed driver-side (same salt + digest). */
  private def hv(v: Long): Long =
    Hash60.hash(UTF8String.fromString(Sketches.KmvSalt + v.toString))

  private def frame(rows: (String, Long)*) = rows.toDF("grp", "v")

  test("below capacity the sketch is exact: n_kept = distinct count, kth null") {
    val rows = for (g <- Seq("a", "b"); v <- 0L until 20L) yield (g, v)
    val got = Sketches.kmvDistinct(frame(rows: _*), "v", "grp")
      .select($"grp", $"n_kept", $"kth_hash".isNull, $"est_distinct")
      .as[(String, Int, Boolean, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((20, true, 20.0)), got)
    assert(got("b") == ((20, true, 20.0)), got)
  }

  test("at capacity kth_hash is exactly the k-th smallest distinct hash") {
    val n = 500
    val rows = (0L until n).map(v => ("g", v))
    val expectKth = rows.map(r => hv(r._2)).distinct.sorted.apply(K - 1)
    val got = Sketches.kmvDistinct(frame(rows: _*), "v", "grp")
      .select($"n_kept", $"kth_hash").as[(Int, Long)].head()
    assert(got == ((K, expectKth)))
  }

  test("estimate lands within the sketch's error band at 10x capacity") {
    val n = 640
    val rows = (0L until n).map(v => ("g", v))
    val est = Sketches.kmvDistinct(frame(rows: _*), "v", "grp")
      .select($"est_distinct").as[Double].head()
    // standard error ~ 1/sqrt(k-2) ~ 12.7%; allow 3 sigma
    assert(math.abs(est - n) / n < 0.40, est)
  }

  test("duplicates do not move the sketch: multiplicity-insensitive") {
    val once = (0L until 300L).map(v => ("g", v))
    val tripled = once ++ once ++ once
    def sketch(rows: Seq[(String, Long)]) =
      Sketches.kmvDistinct(frame(rows: _*), "v", "grp")
        .select($"n_kept", $"kth_hash").as[(Int, Long)].head()
    assert(sketch(once) == sketch(tripled))
  }

  test("merge is exact: any partitioning yields the identical sketch") {
    val rows = (0L until 1000L).map(v => ("g", v % 400))
    val base = frame(rows: _*)
    val results = Seq(1, 7, 32).map { p =>
      Sketches.kmvDistinct(base.repartition(p), "v", "grp")
        .select($"n_kept", $"kth_hash", $"est_distinct")
        .as[(Int, Long, Double)].head()
    }
    assert(results.distinct.size == 1, results)
  }

  test("nulls are skipped like countDistinct, not hashed") {
    val df = Seq(Some(1L), None, Some(2L), None, Some(1L))
      .toDF("v").selectExpr("'g' AS grp", "v")
    val got = Sketches.kmvDistinct(df, "v", "grp")
      .select($"n_kept").as[Int].head()
    assert(got == 2)
  }

  test("streaming twin equals the batch sketch at sf0.001 (any chunking)") {
    val batch = Sketches.kmvDistinctUsers(spark, sf0001).collect().toSeq
    Seq(2, 5).foreach { chunks =>
      val streamed = StreamingKmv.kmvDistinctUsersFromFiles(spark, sf0001, chunks)
        .collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }
}
