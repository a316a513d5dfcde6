package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** One summary row of a per-partition Misra-Gries pass: a surviving
  * (key, lower-bound count) counter, or — with `k = None` — the partition's
  * exact row count (the sentinel the share denominator needs: summed
  * counter values undercount once decrements start).
  */
final case class MgEntry(k: Option[Long], cnt: Long)

/** Exact heavy-hitter profile of a key column — the diagnostic that decides
  * the skew playbook ([[SaltedJoin]]'s scaladoc): which keys are hot, and
  * what fraction of all rows they carry.
  *
  * Scale shape: ONE key-partitioned aggregation over the data (map-side
  * combined), after which everything — total, share, ranking — runs on
  * key-CARDINALITY rows, never data rows. The total comes from an
  * empty-frame window sum over the aggregated counts (a single-partition
  * pass over keys, not a second scan of the data), and the share is exact
  * integer parts-per-million (count * 1e6 div total), so no float boundary
  * can flip a rank or a reported share.
  *
  * When even key CARDINALITY overwhelms memory (the exact aggregate's
  * shuffle is itself the skew pathology being diagnosed), [[boundedTopKeys]]
  * replaces the exact aggregate with a Misra-Gries pass: state is capped at
  * `capacity` counters per partition REGARDLESS of input size, every key
  * with true count > n/(capacity+1) provably survives, and with capacity >=
  * per-partition distinct keys the summary degrades to the exact counts —
  * the regime the driver oracle certifies (capacity 65536 vs ~1.5k distinct
  * custkeys at the certification scale, so the sketch output IS the exact
  * answer, hash-checked).
  */
object HeavyHitters {

  /** Per-partition Misra-Gries summaries of a long key column: at most
    * `capacity` surviving counters per partition plus one `k = None`
    * sentinel carrying the partition's exact row count. Counter values are
    * LOWER bounds (true count minus at most n_partition/(capacity+1));
    * every key whose true count exceeds that bound survives. Decrement-all
    * events amortize: each removes capacity+1 from the summed mass, so the
    * total work is O(n).
    *
    * Deterministic: counters depend only on the partition's row sequence
    * (stable parquet file splits), and the exact-regime output (no
    * decrements) is order-independent outright.
    */
  /** Fold a key sequence into bounded counters IN PLACE — the Misra-Gries
    * step, shared verbatim by the batch pass and the streaming state update
    * ([[graft.streaming.StreamingBoundedHeavyHitters]]). Returns the number
    * of keys consumed (the exact-total bookkeeping the share denominator
    * needs).
    */
  private[graft] def mgFold(counters: mutable.LongMap[Long], capacity: Int,
      keys: Iterator[Long]): Long = {
    var n = 0L
    while (keys.hasNext) {
      val k = keys.next()
      n += 1L
      if (counters.contains(k)) counters(k) += 1L
      else if (counters.size < capacity) counters(k) = 1L
      else {
        // the Misra-Gries step: a miss at capacity decrements EVERY
        // counter (the arriving key's implicit counter hits 0 and is
        // discarded with the rest)
        val dead = counters.iterator.collect { case (key, c) if c == 1L => key }.toArray
        counters.mapValuesInPlace((_, c) => c - 1L)
        dead.foreach(counters.remove)
      }
    }
    n
  }

  def mgSummaries(keys: Dataset[Long], capacity: Int): Dataset[MgEntry] = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    implicit val enc = Encoders.product[MgEntry]
    keys.mapPartitions { it =>
      val counters = mutable.LongMap.empty[Long]
      val total = mgFold(counters, capacity, it)
      counters.iterator.map { case (k, c) => MgEntry(Some(k), c) } ++
        Iterator.single(MgEntry(None, total))
    }
  }

  /** Heavy hitters under BOUNDED state: per-partition Misra-Gries summaries
    * merged by key-sum (lower bounds add; merge order cannot matter for a
    * sum), ranked by the shared integer-ppm tail. The share denominator is
    * the sentinels' exact row total, not the (possibly undercounting)
    * counter sum. State: partitions x (capacity+1) rows end to end —
    * input-size-independent, the [[Sketches]] contract.
    */
  def boundedTopKeys(df: DataFrame, keyCol: String, topN: Int,
      capacity: Int): DataFrame = {
    implicit val longEnc = Encoders.scalaLong
    rankSummaries(mgSummaries(
      df.select(col(keyCol).cast("long")).as[Long], capacity).toDF(), keyCol, topN)
  }

  /** The ranking/share tail over Misra-Gries summary rows (`k` nullable
    * long, `cnt`): merge by key-sum (lower bounds add), take the exact
    * total from the `k IS NULL` sentinels, rank by the integer-ppm
    * contract. Shared by the batch form and the streaming twin
    * ([[graft.streaming.StreamingBoundedHeavyHitters]]) — runs over
    * bounded summary rows (partitions-or-groups x (capacity+1)), never
    * data rows.
    */
  def rankSummaries(summaries: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.orderBy(col("n_rows").desc, col(keyCol))
    summaries
      // exact total from the sentinels, visible to every summary row; the
      // window runs over the bounded summary rows, not data
      .withColumn("__total", sum(when(col("k").isNull, col("cnt"))).over(wAll))
      .filter(col("k").isNotNull)
      .groupBy(col("k").as(keyCol))
      .agg(sum(col("cnt")).as("n_rows"), max(col("__total")).as("__t"))
      .withColumn("share_ppm", expr("(n_rows * 1000000L) div __t"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topN)
      .select(col("rank"), col(keyCol), col("n_rows"), col("share_ppm"))
      .orderBy(col("rank"))
  }

  def topKeys(df: DataFrame, keyCol: String, topN: Int): DataFrame =
    rankCounts(df.groupBy(col(keyCol)).agg(count(lit(1)).as("n_rows")), keyCol, topN)

  /** The ranking/share tail over already-aggregated (key, n_rows) counts —
    * shared with the streaming twin ([[graft.streaming.FileReplayHeavyHitters]]),
    * whose state IS these counters maintained incrementally. Runs on
    * key-cardinality rows only.
    */
  def rankCounts(counts: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.orderBy(col("n_rows").desc, col(keyCol))
    counts
      .withColumn("__total", sum(col("n_rows")).over(wAll))
      // integral div, not float division — exact ppm on both engines
      .withColumn("share_ppm", expr("(n_rows * 1000000L) div __total"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topN)
      .select(col("rank"), col(keyCol), col("n_rows"), col("share_ppm"))
      .orderBy(col("rank"))
  }

  /** Driver query: the 10 hottest customer keys of the orders fact table —
    * exactly the profile that would size [[SaltedJoin]]'s salt count.
    */
  def hotCustomers(spark: SparkSession, dir: String): DataFrame =
    topKeys(Tables.orders(spark, dir).select(col("o_custkey")), "o_custkey", 10)

  /** Driver query: the same profile through the BOUNDED-state sketch.
    * Capacity 65536 exceeds the distinct-custkey count at every test scale
    * (~15k at sf0.1), so the sketch is in its provably-exact regime and
    * certifies against the SAME oracle as [[hotCustomers]] — rows, ranks,
    * counts, and shares hash-identical to the exact aggregate.
    * (HeavyHittersSpec separately exercises the decremented regime, where
    * the oracle-free guarantees — survival and lower bounds — apply.)
    */
  def hotCustomersBounded(spark: SparkSession, dir: String): DataFrame =
    boundedTopKeys(Tables.orders(spark, dir).select(col("o_custkey")),
      "o_custkey", 10, capacity = 1 << 16)

  val hotCustomersSql: String =
    """WITH counts AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows
      |  FROM orders GROUP BY o_custkey),
      |ranked AS (
      |  SELECT o_custkey, n_rows,
      |    CAST(n_rows * 1000000 // sum(n_rows) OVER () AS BIGINT) AS share_ppm,
      |    row_number() OVER (ORDER BY n_rows DESC, o_custkey) AS rank
      |  FROM counts)
      |SELECT CAST(rank AS INT) AS rank, o_custkey, n_rows, share_ppm
      |FROM ranked WHERE rank <= 10
      |ORDER BY rank""".stripMargin
}
