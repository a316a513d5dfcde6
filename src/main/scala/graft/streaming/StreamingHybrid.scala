package graft.streaming

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.FiniteDuration
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.operators.{Bm25, Caching, Similarity}
import graft.sources.Tables

/** Streaming twin of [[Bm25.hybridRrf]] — hybrid retrieval served on
  * ingest: BOTH legs' staged query plans arrive as file micro-batches and
  * probe FROZEN index artifacts, and the two readback rank lists fuse
  * through the ONE integral RRF spelling ([[Bm25.rrfFuse]] verbatim). SAME
  * oracle as `ann_hybrid_rrf`, so the certificate covers the full
  * composition: staged lexical serve + stateless vector probe + fusion.
  *
  *  - LEXICAL leg: [[StreamingBm25.bm25FromFiles]] at [[Bm25.FusionDepth]]
  *    — the staged-query-plan serve certified by `text_bm25_topk_
  *    streaming_file` (frozen posting index, candidate-bounded broadcasts,
  *    monotone update-mode fold), reused whole.
  *  - VECTOR leg: the query VECTORS arrive as micro-batches (query_id, qv,
  *    qn — the norm precomputed at parse stage, the staging discipline) and
  *    probe the frozen normed corpus STATELESSLY in append mode: each
  *    arriving query replicates to the [[VecBlocks]] corpus blocks and
  *    equi-joins on the block id — the blocked product spelling of the
  *    exact baseline (at 100 TB the corpus side is bucketed by block and
  *    the probe reads blocks in parallel; a deployment swaps the certified
  *    ANN families in here — the exact leg is the testable contract, the
  *    `hybridRrf` scaladoc's one-line substitution). No aggregation, no
  *    state: emissions are the scored pairs, ranked on readback with the
  *    batch spelling ([[Similarity.rankTopK]] — ranking is not expressible
  *    inside an append stream, and the readback is the documented
  *    harness-readback seam shared by every twin).
  *
  * Exactness: the cosine spelling (norms below the join, nn==0 guard,
  * dot(qv, corpus) argument order) is [[Similarity.bruteForceTopKFrom]]'s
  * paren for paren; doubles ride the memory sink unrounded, so the
  * readback rank is the batch rank; RRF arithmetic is integral.
  */
object StreamingHybrid {

  /** Corpus block count for the stream-static equi-join (the blocked
    * product spelling: queries replicate VecBlocks ways, the corpus never
    * replicates). A constant, so the per-batch join stays an equi hash
    * join with bounded stream-side fanout.
    */
  val VecBlocks = 8

  /** The stream's state/shuffle width (the ReplayHarness sizing rule) —
    * the corpus cache pre-partitions on blk at THIS width so the
    * per-batch join's required partitioning matches the cached layout.
    */
  val StreamPartitions = 4

  def hybridFromFiles(spark: SparkSession, dir: String,
      chunks: Int = 3, k: Int = Bm25.TopK,
      depth: Int = Bm25.FusionDepth): DataFrame = {
    val emb = Tables.embeddings(spark, dir)

    // frozen corpus artifact: normed vectors with their block id, cached
    // PRE-PARTITIONED on blk at the stream's shuffle width — the stand-in
    // for the block-bucketed on-disk layout. The cache retains its physical
    // partitioning, so the per-batch join reuses it and only the (tiny)
    // arriving query side shuffles; without this the ~corpus-sized side
    // re-sorts into the join every micro-batch once it outgrows the
    // auto-broadcast threshold (it does at sf0.1)
    val corpus = Caching.cached(emb.select(
      col("vec_id"), col("embedding"),
      VF.norm(col("embedding")).as("nrm"),
      pmod(col("vec_id"), lit(VecBlocks.toLong)).as("blk"))
      .repartition(StreamPartitions, col("blk")))

    // staged query plans: vector + parse-stage norm per query
    val staged = emb.filter(col("vec_id") < Bm25.QueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        VF.norm(col("embedding")).as("qn"))

    // the two legs are INDEPENDENT streaming queries (their own staging
    // dirs, sinks and frozen artifacts) whose wall time is micro-batch
    // fixed cost, not data — run them CONCURRENTLY (the optimization
    // guide's overlap-independent-jobs rule applied inside one composed
    // query: stream B's batches back-fill the cores stream A's commit
    // latencies leave idle). Start-time conf capture is serialized by
    // ReplayHarness.confLock; everything else is per-leg-local. Generous
    // per-leg bound: a wedged leg fails the query with a
    // TimeoutException instead of hanging the suite forever.
    import scala.concurrent.duration.DurationInt
    val (emissions, lex) = bothLegs(spark, 30.minutes)(
      ReplayHarness.emissionsFromFiles(
        spark, staged, chunks, statePartitions = StreamPartitions,
        prefix = "hybrid_vec_file", outputMode = "append", col("query_id"))(
        stream => stream
          .withColumn("blk", explode(array((0 until VecBlocks).map(b =>
            lit(b.toLong)): _*)))
          .join(corpus, Seq("blk"))
          .filter(col("query_id") =!= col("vec_id"))
          .withColumn("nn", col("qn") * col("nrm"))
          .select(col("query_id"), col("vec_id"),
            when(col("nn") === 0.0, 0.0)
              .otherwise(VF.dot(col("qv"), col("embedding")) / col("nn"))
              .as("cos"))),
      StreamingBm25.bm25FromFiles(spark, dir, chunks, depth)
        .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank")))

    // re-emission idempotence (ADVICE r20): a replayed append-mode
    // micro-batch would duplicate scored (query_id, vec_id) rows and
    // row_number would rank the duplicate — fold emissions to one row per
    // pair first (max over identical cos values: a no-op on the normal
    // path, the retry-safe fold under replay, matching the update-mode
    // twins' discipline)
    val vec = Similarity.rankTopK(
      emissions.groupBy(col("query_id"), col("vec_id"))
        .agg(max(col("cos")).as("cos")), depth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").cast("long").as("vec_rank"))
    Bm25.rrfFuse(lex, vec, k).orderBy(col("query_id"), col("rank"))
  }

  /** Run two independent legs concurrently and return both results. If
    * either leg fails, or the pair outlives `timeout`, every stream started
    * in the session since the legs began is stopped (a stopped stream's
    * `awaitTermination` returns, so a wedged leg unblocks), both legs are
    * awaited, and only then is the first failure rethrown — no leg's
    * StreamingQuery outlives the call. The session runs one composed query
    * at a time (Bench, Verify and the specs all do), so the streams started
    * meanwhile are the legs'; the legs' temp dirs are cleaned by their
    * harness finally-blocks.
    */
  private[streaming] def bothLegs[A, B](spark: SparkSession,
      timeout: FiniteDuration)(a: => A, b: => B): (A, B) = {
    val before = spark.streams.active.map(_.id).toSet
    val fa = Future(a)
    val fb = Future(b)
    try Await.result(fa.zip(fb), timeout)
    catch {
      case NonFatal(e) =>
        val deadline = timeout.fromNow
        while (!(fa.isCompleted && fb.isCompleted) && deadline.hasTimeLeft()) {
          spark.streams.active.filterNot(q => before(q.id)).foreach(_.stop())
          Thread.sleep(50)
        }
        throw e
    }
  }
}
