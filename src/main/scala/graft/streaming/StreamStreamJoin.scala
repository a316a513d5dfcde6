package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Watermarked STREAM-STREAM inner join (the §2.7 join shape none of the
  * other streaming certificates exercise): signup events joined to the
  * purchases that follow within [[WindowHours]], both sides unbounded
  * streams.
  *
  * This is the join whose state Spark can only bound because BOTH sides
  * carry watermarks and the join condition carries an event-time range:
  * from `purchase_ts BETWEEN signup_ts AND signup_ts + W` the planner
  * derives that a buffered signup is joinable only until the purchase-side
  * watermark passes `signup_ts + W` (and symmetrically), so each side's
  * state holds a sliding ~W-deep window of rows, not the stream's history —
  * the property that makes a fact-to-fact streaming join runnable at 100 TB
  * ingest. An unconstrained stream-stream join would buffer both streams
  * forever (Spark rejects it outright in append mode without watermarks).
  *
  * Ingest is the distributed file-source staging (range-ordered parquet
  * chunks, one micro-batch per file, no driver-side input
  * materialization): TWO independent file sources over the same staged
  * log, each side filtered to its event type BEFORE the watermark. Inner
  * join results emit as matches are found — no flush sentinel is needed
  * (unlike the append-mode aggregation in [[FileReplayWindowed]], nothing
  * waits on watermark finalization to EMIT; the watermark only EVICTS).
  * Because the staged files are range-disjoint in event time, no row ever
  * arrives behind the watermark, so eviction can never race ahead of a
  * pending match and the result equals the batch join exactly — the
  * incremental-equals-batch certificate for the stream-stream join, against
  * the plain batch-join driver oracle.
  *
  * Reference analogue: the reference's read surface joins the live state
  * table to history by topic/time (README.md:236-247) but its engine is
  * batch SQL over MySQL; a true stream-to-stream correlation is part of
  * the mandated scale extension surface.
  */
object StreamStreamJoin {

  /** Join window: purchases within 24 h after the signup. Shared with
    * [[signupPurchasesSql]].
    */
  val WindowHours = 24

  /** Shared staging projection: only the two event types the join consumes
    * are staged — the predicate belongs UPSTREAM of the staging write, not
    * just inside the streaming plan (at 100 TB, shipping rows the join can
    * never use through the staging write and both per-batch source scans is
    * the dominant waste; the in-plan filters below remain as the semantic
    * contract either way).
    */
  private def stagedEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
      .filter(col("event_type").isin("signup", "purchase"))

  /** ONE staged log per (dir, chunks, input fingerprint) per JVM, shared by
    * the inner and outer forms: r14's profiling showed per-pair fixed cost
    * dominated by the DUPLICATED staging write + max-ts scan, so the pair
    * now stages once (sentinel included — see below) and replays twice. The
    * sentinel rows are harmless to the inner form (their user ids differ,
    * so they can never match each other, and both readbacks drop them
    * anyway). An empty input stages no sentinel ([[ReplayHarness.stage]]).
    * The temp dir lives until JVM exit (shutdown hook), not per-call.
    *
    * The cache key includes a fingerprint of the input parquet's file
    * names/sizes/mtimes, so rewriting the data under `dir` within one JVM
    * restages instead of silently replaying the stale log; staging runs
    * under a lock so concurrent first callers cannot both stage (the
    * non-atomic `getOrElseUpdate` would leak an orphan temp dir and its
    * shutdown hook until JVM exit).
    */
  private val stagedCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, String), ReplayHarness.Staged]

  /** Fingerprint of the events parquet under `dir` (path, size, mtime per
    * leaf file) — metadata-only, one driver-side listing. Listed through
    * the session's configured Hadoop filesystem (recursive), so non-local
    * URIs (HDFS, object stores) and nested part-subdirectory layouts are
    * observed — a java.io.File listing sees nothing for those and the
    * fingerprint would degenerate to a constant, silently re-enabling the
    * stale-replay hazard this key exists to prevent. The digest is the
    * first 16 hex chars of md5 (64 bits), not String.hashCode (32 bits).
    */
  private def inputFingerprint(spark: SparkSession, dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir, "events.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      leaves += s"${f.getPath}:${f.getLen}:${f.getModificationTime}"
    }
    val joined = leaves.sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(joined.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  private def ensureStaged(spark: SparkSession, dir: String,
      chunks: Int): ReplayHarness.Staged = stagedCache.synchronized {
    stagedCache.getOrElseUpdate((dir, chunks, inputFingerprint(spark, dir)), {
      import spark.implicits._
      val work = java.nio.file.Files.createTempDirectory("graft_ssj").toFile
      sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(work))
      // 25 h past the real max: clears window + delay for every real signup
      val flush = ReplayHarness.Flush(Seq(max(col("ts"))), maxTs => {
        val t = new java.sql.Timestamp(maxTs.getTimestamp(0).getTime + 25L * 3600 * 1000)
        Seq((-1L, -1L, "signup", t), (-2L, -2L, "purchase", t))
          .toDF("event_id", "user_id", "event_type", "ts")
      })
      ReplayHarness.stage(stagedEvents(spark, dir),
        new java.io.File(work, "in").getAbsolutePath, chunks, Some(flush),
        col("ts"), col("event_id"))
    })
  }

  def signupPurchases(spark: SparkSession, dir: String, chunks: Int = 3,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    joinStaged(spark, ensureStaged(spark, dir, chunks), watermarkDelay)
      // the shared staging carries the outer form's flush sentinels; they
      // cannot produce an inner match (distinct negative user ids), but
      // drop them defensively like the outer readback does
      .filter(!col("user_id").eqNullSafe(-1L) && !col("user_id").eqNullSafe(-2L))
      .orderBy(col("user_id"), col("signup_event"), col("purchase_event"))
  }

  /** LEFT-OUTER form — the hard mode of the stream-stream join: matched
    * rows emit like the inner join, but an UNMATCHED signup can only emit
    * (with null purchase columns) when the watermark proves no purchase
    * can still arrive for it — i.e. at state EVICTION. A bounded replay
    * would strand every trailing unmatched signup in state, so the staging
    * appends ONE flush-sentinel file-batch (a far-future signup AND
    * purchase — BOTH sides' watermarks must advance, the query watermark is
    * their min). One suffices where the append-mode AGGREGATIONS need two
    * ([[FileReplaySessions]]): the watermark computed at the end of the
    * sentinel batch is applied by the trailing NO-DATA micro-batch Spark
    * runs before AvailableNow terminates
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, on by default),
    * which performs the final eviction — the r14 profiling of this pair
    * showed each sentinel batch costs ~0.6 s of pure state-store/commit
    * overhead, so the redundant second sentinel was retired (the batch
    * oracle re-proves the equality). The sentinel must LOOK like a real
    * typed event: an excluded-marker filter would be pushed below the
    * EventTimeWatermark operator and drop it at the scan (the
    * FileReplayWindowed lesson); instead it carries impossible negative
    * user ids, matches nothing by construction, and its own signup never
    * finalizes (nothing passes ITS end) — the readback filter drops any
    * sentinel row as a safety invariant regardless.
    * Oracle: the plain batch LEFT JOIN — matched + null-extended rows.
    */
  def signupPurchasesOuter(spark: SparkSession, dir: String, chunks: Int = 3,
      watermarkDelay: String = "30 minutes"): DataFrame = {
    joinStaged(spark, ensureStaged(spark, dir, chunks), watermarkDelay,
        "left_outer")
      // drop the flush sentinels (negative user ids), null-safely: a plain
      // >= 0 would also drop a NULL-user signup the batch oracle keeps
      .filter(!col("user_id").eqNullSafe(-1L) && !col("user_id").eqNullSafe(-2L))
      .orderBy(col("user_id"), col("signup_event"),
        coalesce(col("purchase_event"), lit(-1L)))
  }

  /** The join topology over an already-staged event log (one micro-batch
    * per file, mtime order) — separated so the spec can drive it over
    * hand-built file batches and prove a match across a batch boundary.
    * Two sources read the one staged log, so of the harness only the
    * parquet sink and readback apply ([[ReplayHarness.sinkParquet]]).
    * Returns the (unordered) result frame.
    */
  def joinStaged(spark: SparkSession, replay: ReplayHarness.Staged,
      watermarkDelay: String, joinType: String = "inner"): DataFrame = {
    val signups = replay.stream(spark)
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_event"), col("user_id"),
        col("ts").as("signup_ts"))
      .withWatermark("signup_ts", watermarkDelay)
    val purchases = replay.stream(spark)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_event"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)

    // state sized DOWN for the certification replay: a stream-stream join
    // keeps ~4 store instances per side per partition, so the partition
    // count multiplies the per-batch commit overhead that dominates at
    // replay scale (measured on the pair at sf0.1: 8 -> 13.6 s,
    // 4 -> 11.1 s, 2 -> 11.7 s — 4 is the knee; a production deployment
    // sizes this to the keyspace instead). Result-identical by
    // construction — the partition count is physical. Join emissions are
    // match-cardinality, so they ride the parquet sink.
    ReplayHarness.sinkParquet(spark, replay, statePartitions = 4, "ssj_out")(
      signups.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") +
            expr(s"INTERVAL $WindowHours HOURS"),
        joinType))
      .select(col("user_id"), col("signup_event"), col("purchase_event"),
        col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
  }

  /** DuckDB mirror of the left-outer form: every signup appears, matched
    * or null-extended; the tiebreak mirrors the Spark coalesce order.
    */
  val signupPurchasesOuterSql: String =
    s"""SELECT s.user_id, s.event_id AS signup_event, p.event_id AS purchase_event,
       |       s.ts AS signup_ts, p.ts AS purchase_ts
       |FROM (SELECT * FROM events WHERE event_type = 'signup') s
       |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON p.user_id = s.user_id
       | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL $WindowHours HOUR
       |ORDER BY s.user_id, signup_event, COALESCE(purchase_event, -1)""".stripMargin

  /** DuckDB mirror: the plain batch join — same window, same columns. */
  val signupPurchasesSql: String =
    s"""SELECT s.user_id, s.event_id AS signup_event, p.event_id AS purchase_event,
       |       s.ts AS signup_ts, p.ts AS purchase_ts
       |FROM events s JOIN events p
       |  ON p.user_id = s.user_id
       | AND s.event_type = 'signup' AND p.event_type = 'purchase'
       | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL $WindowHours HOUR
       |ORDER BY s.user_id, signup_event, purchase_event""".stripMargin
}
