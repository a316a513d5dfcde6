package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.HeavyHitters
import graft.sources.Tables

/** One stateful group's bounded counters: the Misra-Gries map plus the
  * group's exact rows-seen total (the share denominator; summed counter
  * values undercount once decrements start).
  */
final case class MgGroupState(counters: Map[Long, Long], seen: Long)

/** One summary emission: a surviving (k, cnt) counter of group `gid` — or,
  * with `k = None`, the group's exact rows-seen total — stamped with `seen`
  * so readers can select each group's LATEST summary.
  */
final case class MgGroupEmit(gid: Int, k: Option[Long], cnt: Long, seen: Long)

/** Streaming twin of [[HeavyHitters.boundedTopKeys]] — the heavy-hitter
  * profile whose state does NOT grow with the key universe:
  * [[FileReplayHeavyHitters]]'s exact counters hold one entry per DISTINCT
  * key (keyspace-bounded by nature); this form
  * holds `groups x capacity` Misra-Gries counters TOTAL, regardless of how
  * many keys the stream ever carries — the configuration that survives an
  * unbounded-cardinality firehose.
  *
  * Shape: keys hash into `groups` fixed stateful groups
  * (`flatMapGroupsWithState`, hash-partitioned — each key belongs to
  * exactly ONE group, so group counters ARE global counters, no
  * cross-group merge needed); each micro-batch folds the group's arrivals
  * into its bounded counters with the SAME [[HeavyHitters.mgFold]] step
  * the batch pass runs, and emits the group's current summary stamped with
  * its rows-seen total. The ranking tail ([[HeavyHitters.rankSummaries]])
  * runs over the final summaries — bounded rows, never data rows.
  *
  * Certified in the provably-exact regime (capacity >= the group's
  * distinct keys: counters are exact counts, monotone across batches, and
  * fold-order-independent) against the SAME oracle as the exact batch
  * profile. In the decremented regime the standard guarantees apply per
  * group: a key with true count > group_rows/(capacity+1) survives with a
  * lower-bound count (the batch spec pins that regime's contract).
  */
object StreamingBoundedHeavyHitters {

  def summaryStream(keys: Dataset[Long], groups: Int, capacity: Int): Dataset[MgGroupEmit] = {
    require(groups >= 1 && capacity >= 1, s"groups=$groups capacity=$capacity must be >= 1")
    implicit val stateEnc = Encoders.product[MgGroupState]
    implicit val outEnc = Encoders.product[MgGroupEmit]
    implicit val keyEnc = Encoders.scalaInt
    keys
      .groupByKey(k => (Math.floorMod(scala.util.hashing.byteswap64(k), groups.toLong)).toInt)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (gid: Int, batch: Iterator[Long], state: GroupState[MgGroupState]) =>
          val prev = state.getOption.getOrElse(MgGroupState(Map.empty, 0L))
          val counters = mutable.LongMap.from(prev.counters)
          val seen = prev.seen + HeavyHitters.mgFold(counters, capacity, batch)
          state.update(MgGroupState(counters.toMap, seen))
          counters.iterator.map { case (k, c) => MgGroupEmit(gid, Some(k), c, seen) } ++
            Iterator.single(MgGroupEmit(gid, None, seen, seen))
      }
  }

  /** Driver query: the same top-10 hot customer keys as the batch
    * `q_heavy_hitters`, through the bounded streaming counters in `chunks`
    * file micro-batches ([[ReplayHarness.emissionsFromFiles]];
    * fold-order-independent in the exact regime, so no ordering constraint
    * on the staging). Readback selects each group's summary at its maximum
    * `seen` stamp (the final batch's emission) and ranks with the shared
    * tail. Capacity 65536 puts every test scale in the exact regime, so the
    * row set hash-matches the exact profile's oracle.
    */
  def hotCustomersFromFiles(spark: SparkSession, dir: String, chunks: Int = 3,
      groups: Int = 8, capacity: Int = 1 << 16): DataFrame = {
    import spark.implicits._
    val staged = Tables.orders(spark, dir).select(col("o_custkey"))
    foldEmissions(ReplayHarness.emissionsFromFiles(
      spark, staged, chunks, statePartitions = 8,
      prefix = "hh_bounded_file", outputMode = "append", col("o_custkey"))(
      df => summaryStream(df.as[Long], groups, capacity).toDF()))
  }

  /** Final summary per group = the emission at its max seen stamp; then
    * the shared ranking tail over bounded summary rows.
    */
  private[streaming] def foldEmissions(emissions: DataFrame): DataFrame = {
    val finalSeen = emissions.groupBy(col("gid")).agg(max(col("seen")).as("seen"))
    val summaries = emissions.join(finalSeen, Seq("gid", "seen"))
      .select(col("k"), col("cnt"))
    HeavyHitters.rankSummaries(summaries, "o_custkey", 10)
  }
}
