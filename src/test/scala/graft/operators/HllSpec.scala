package graft.operators

import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.functions.Hash60
import graft.streaming.StreamingHll

/** HyperLogLog: register math against a driver-side model, accuracy,
  * invariances, correction branch, and the streaming twin's batch parity.
  */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: (String, Long)*) = rows.toDF("grp", "v")

  /** Driver-side model of the full sketch (same salt, digest, and integer
    * register math).
    */
  private def model(values: Seq[Long]): (Int, Long) = {
    val m = Sketches.HllBuckets
    val remBits = Sketches.HllRemBits
    val regs = new Array[Int](m)
    values.foreach { v =>
      val hv = Hash60.hash(UTF8String.fromString(Sketches.HllSalt + v.toString))
      val bucket = (hv >>> remBits).toInt
      val rem = hv & ((1L << remBits) - 1)
      val rho = if (rem == 0) remBits + 1
        else remBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val zeros = regs.count(_ == 0)
    val sumPow = regs.map(r =>
      if (r == 0) 1L << (remBits + 1) else 1L << (remBits + 1 - r)).sum
    (zeros, sumPow)
  }

  test("registers match the driver model exactly (the certified core)") {
    val values = (0L until 500L)
    val got = Sketches.hllDistinct(frame(values.map(("g", _)): _*), "v", "grp")
      .select($"n_zero_buckets", $"sum_pow").as[(Int, Long)].head()
    assert(got == model(values))
  }

  test("estimate lands within the error band across three decades") {
    Seq(50, 500, 5000).foreach { n =>
      val est = Sketches.hllDistinct(
        frame((0L until n.toLong).map(("g", _)): _*), "v", "grp")
        .select($"est_distinct").as[Double].head()
      // standard error 1.04/sqrt(64) ~ 13%; allow 3 sigma
      assert(math.abs(est - n) / n < 0.40, s"n=$n est=$est")
    }
  }

  test("small cardinalities take the linear-counting correction branch") {
    // n=5 << 2.5m with zero registers remaining: est = m * ln(m / zeros),
    // which for tiny n is within a whisker of n (and far from the raw
    // estimate's known small-range bias)
    val est = Sketches.hllDistinct(
      frame((0L until 5L).map(("g", _)): _*), "v", "grp")
      .select($"est_distinct").as[Double].head()
    assert(math.abs(est - 5.0) < 1.0, est)
  }

  test("duplicates and partitioning do not move the registers") {
    val once = (0L until 400L).map(v => ("g", v))
    def core(rows: Seq[(String, Long)], parts: Int) =
      Sketches.hllDistinct(frame(rows: _*).repartition(parts), "v", "grp")
        .select($"n_zero_buckets", $"sum_pow").as[(Int, Long)].head()
    val ref = core(once, 1)
    assert(core(once ++ once, 7) == ref)
    assert(core(once, 32) == ref)
  }

  test("streaming twin equals the batch sketch at sf0.001 (any chunking)") {
    val batch = Sketches.hllDistinctUsers(spark, sf0001).collect().toSeq
    Seq(2, 5).foreach { chunks =>
      val streamed = StreamingHll.hllDistinctUsersFromFiles(spark, sf0001, chunks)
        .collect().toSeq
      assert(streamed == batch, s"chunks=$chunks")
    }
  }

  test("mergeability: per-group registers collapse to the union's sketch") {
    // overlapping values across groups — the merge must not double-count
    val rows = (0L until 300L).map(v => ("a", v)) ++
      (150L until 450L).map(v => ("b", v)) ++
      (0L until 50L).map(v => ("c", v))
    val df = frame(rows: _*)
    val perGroup = Sketches.hllObservations(df, "v", "grp")
      .groupBy($"grp", $"__bucket").agg(org.apache.spark.sql.functions.max($"__rho").as("__M"))
    val merged = Sketches.hllFromRegisters(
      perGroup.groupBy($"__bucket").agg(org.apache.spark.sql.functions.max($"__M").as("__M")))
      .select($"n_zero_buckets", $"sum_pow").as[(Int, Long)].head()
    val direct = Sketches.hllDistinct(df, "v")
      .select($"n_zero_buckets", $"sum_pow").as[(Int, Long)].head()
    assert(merged == direct)
  }
}
