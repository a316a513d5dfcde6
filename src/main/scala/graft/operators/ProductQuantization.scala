package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF, VectorSql => VS}
import graft.sources.Tables

/** Product-quantization ANN — the memory-bound scale path of the similarity
  * family. IVF prunes WHICH vectors are scored; PQ compresses WHAT is stored
  * and scored: each vector becomes M one-byte codes (one per subspace), and
  * query scoring touches only codes plus an M x K lookup table of
  * query-to-codeword distances (asymmetric distance computation). At 100 TB
  * of float32 embeddings that is a ~32x storage/bandwidth reduction on the
  * scoring path; an IVF+PQ composition follows by swapping the scored set.
  *
  * Codebook convention mirrors [[Similarity.ivfTopK]]: the first K vectors
  * ARE the codewords (deterministic, oracle-expressible; a trained codebook
  * would drop in via [[Similarity.kmeansStep]] per subspace slice).
  *
  * Determinism contract: subspace distances are computed with the pinned
  * left-fold [[graft.functions.SquaredDistance]] (bit-identical to the
  * DuckDB mirror) and immediately scaled to MICRO-UNIT LONGS
  * (floor(d * 1e6)) — every downstream sum/argmin is exact integer math, so
  * code assignment, ADC totals, and ranking cannot drift between engines or
  * partial-aggregation orders (the kmeansStep rule).
  *
  * Scale shape: every join is a broadcast-hash equi-join (the subspace
  * codebook is M x K rows; the query LUT is nq x M x K rows — KBs each); the
  * encode aggregation ships ONE (vec, subspace) row per mapper after
  * map-side min_by combine, and ADC scoring partial-aggregates to one
  * (query, vec) row map-side before its shuffle. No nested loops, no
  * cartesian products, nothing driver-side.
  */
object ProductQuantization {

  /** M subspaces x SubDim dims (= [[Similarity.Dim]]), K codewords each.
    * Measured on the driver embeddings (AnnRecallSpec): recall@5 is
    * data-limited by distance concentration (500 near-equidistant 64-d
    * points) and does NOT move with subspace resolution, but neighbor
    * QUALITY does — top-5-within-exact-top-20 improves 0.525 -> 0.600
    * (pq) and 0.650 -> 0.775 (ivf+pq) going from 8 x 8-dim to 16 x 4-dim,
    * at 2x the encode candidate rows (M x K per vector). Keep the finer
    * codebook: at query time codes cost the same, and the encode is the
    * amortized pass.
    */
  val NumSub = 16
  val SubDim: Int = Similarity.Dim / NumSub
  val NumCodes = 16

  /** (m, code, cvec) subspace codebook rows: the first [[NumCodes]] vectors
    * sliced per subspace.
    */
  def subCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NumCodes)
      .select(col("vec_id").cast("int").as("code"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "cvec")))

  /** Per-(vector, subspace, codeword) micro distances — the ONE d_micro
    * spelling shared by the encoder and [[PqDistortion]]'s report, so
    * the distortion audit measures exactly what the encoder minimizes.
    */
  private[operators] def subDistances(emb: DataFrame, cb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sv")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d_micro", floor(VF.sqDist(col("sv"), col("cvec")) * 1e6).cast("long"))

  /** Long-format PQ codes (vec_id, m, code): per subspace, the codeword with
    * the minimum micro-scaled distance, ties to the lowest code id.
    *
    * ONE (vec_id, m)-grouped min_by fold (r22). The former spelling packed
    * M FILTERed min_by slots into a vec_id-keyed aggregation: every one of
    * the M x K exploded candidate rows per vector was pushed through all M
    * slot filters (M x K x M slot-filter evaluations per vector — 4096
    * here), which profiling showed dominating the encode stage's hash-agg
    * time. The grouped fold evaluates ONE slot per candidate row (M x K
    * per vector, a ~16x cut). Shuffle cost: map-side combine now emits up
    * to M tiny (vec_id, m, code) rows per vector per mapper instead of
    * one packed row — 3 int-ish columns, still combiner-bounded and
    * corpus-row-free at any scale; the downstream vec_id equi-joins
    * repartition either way at index-build scale, so no exchange is saved
    * by the packed form where it matters.
    */
  def encode(emb: DataFrame, cb: DataFrame): DataFrame =
    subDistances(emb, cb)
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("min_by(code, struct(d_micro, code))").as("code"))

  /** PQ codes packed ONE ROW PER VECTOR (vec_id, code_0..code_{M-1}) — the
    * long form folded once more (M conditional-max slots over M rows per
    * vector; declarative, codegen'd).
    */
  def encodePacked(emb: DataFrame, cb: DataFrame): DataFrame = {
    val slots = (0 until NumSub).map(m =>
      max(when(col("m") === m, col("code"))).as(s"code_$m"))
    encode(emb, cb).groupBy(col("vec_id")).agg(slots.head, slots.tail: _*)
  }

  /** The query ADC lookup table: per (query, m, code), the micro-scaled
    * distance of the query's m-th subvector to that codeword — ONE
    * definition shared by [[adcTopK]] and [[ivfPqTopK]] so the LUT
    * convention (scaling, slice origin) cannot drift between them.
    */
  /** Batch contract (applies to every LUT consumer — [[adcTopK]],
    * [[adcTopKTrained]], [[ivfPqTopK]], [[ivfPqResidualTopK]] and the
    * rerank forms over them): the per-query LUT is nq x NumSub x NumCodes
    * rows (nq x 256 longs here) — sound to ~5k queries under the default
    * 10 MB broadcast threshold. Past it, the LUT->codes join is an
    * equi-join on (m, code) buried inside an aggregation, so the batch
    * spelling pre-joins the code table to the LUT with a `shuffle_hash`
    * hint exactly as [[ivfPqResRerankBatchTopK]] does for the refine
    * stage; the sub-codebook broadcast itself (NumSub x NumCodes x SubDim)
    * is corpus- and batch-scale-free and never needs to move off the
    * broadcast path.
    */
  private def lutOf(emb: DataFrame, cb: DataFrame, queryMaxId: Long): DataFrame =
    emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "qv")))
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("m"), col("code"),
        floor(VF.sqDist(col("qv"), col("cvec")) * 1e6).cast("long").as("d_micro"))

  /** ADC top-k: approximate distance of every vector to every query as the
    * sum of the query's LUT entries at the vector's codes, ranked ascending
    * per query (ties on vec_id), self-matches excluded.
    */
  def adcTopK(emb: DataFrame, queryMaxId: Long = 8, k: Int = 5): DataFrame = {
    val cb = subCodebook(emb)
    val codes = encode(emb, cb)
    val lut = lutOf(emb, cb, queryMaxId)
    val scored = codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("adist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annPq(spark: SparkSession, dir: String): DataFrame =
    adcTopK(Tables.embeddings(spark, dir))

  /** IVF + PQ — the two scale levers composed, as production ANN engines
    * ship them: the coarse stage prunes WHICH vectors are scored (probe the
    * query's nProbe nearest coarse centroids, scan only their inverted
    * lists — [[Similarity.ivfTopK]]'s machinery verbatim), and the fine
    * stage scores those candidates by ADC over codes ([[adcTopK]]'s
    * machinery verbatim). At scale the scan touches nProbe/nCentroids of
    * the corpus AND reads M bytes per touched vector instead of the float
    * embedding. (Classic IVF-PQ encodes residuals against the coarse
    * centroid; this composition deliberately shares [[encode]]'s absolute
    * codes so codes are built once for both ann_pq and ann_ivf_pq —
    * documented, oracle-mirrored.)
    */
  def ivfPqTopK(emb: DataFrame, nCentroids: Int = 16, nProbe: Int = 4,
      queryMaxId: Long = 8, k: Int = 5): DataFrame = {
    val withNorm = Similarity.withNormOf(emb)
    val centroids = Similarity.centroidsOf(withNorm, nCentroids)
    val assigned = Similarity.nearestCentroids(
      withNorm, centroids, "vec_id", "embedding", "nrm", 1)
    val queries = withNorm.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val probes = Similarity.nearestCentroids(
      queries, centroids, "query_id", "qv", "qn", nProbe)
    val cands = probes.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"))
    val cb = subCodebook(emb)
    val codes = encode(emb, cb)
    val lut = lutOf(emb, cb, queryMaxId)
    val scored = cands
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("adist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annIvfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(Tables.embeddings(spark, dir))

  /** Classic residual IVF-PQ — what production ANN engines actually ship:
    * each vector is PQ-encoded on its RESIDUAL against its coarse centroid
    * (residuals are smaller and better-conditioned than absolute vectors,
    * so the same code budget quantizes finer), and the query builds one
    * LUT PER PROBED LIST (its residual differs per centroid). Everything
    * else matches [[ivfPqTopK]]: broadcast-hash equi-joins only, exact
    * micro-scaled integer distances, the probed-list scan shape.
    *
    * Residual codebook convention: the residuals of the first K vectors
    * (each against ITS OWN coarse centroid) are the codewords — the same
    * "first K are the codebook" determinism as everywhere else.
    *
    * Measured caveat (AnnRecallSpec): with these DETERMINISTIC untrained
    * codebooks, residual codes recall WORSE than [[ivfPqTopK]]'s absolute
    * codes (0.150 vs 0.325 recall@5 on the driver embeddings) — absolute
    * codewords are actual data points covering the manifold, while
    * arbitrary "first-K residuals" do not cover the residual distribution.
    * Residual encoding earns its advantage only with k-means-TRAINED
    * per-subspace codebooks; `trained = true` runs exactly that (one
    * exact-integer Lloyd step over the residuals,
    * [[trainedResidualCodebook]]) and is certified as its own driver query
    * (ann_ivf_pq_res_trained). Measured: training lifts residual recall@5
    * 0.150 -> 0.325, drawing level with absolute codes — the trade and the
    * recovery are BOTH pinned in AnnRecallSpec so nobody ships it untrained.
    */
  def ivfPqResidualTopK(emb: DataFrame, nCentroids: Int = 16, nProbe: Int = 4,
      queryMaxId: Long = 8, k: Int = 5, trained: Boolean = false): DataFrame = {
    val withNorm = Similarity.withNormOf(emb)
    val centroids = Similarity.centroidsOf(withNorm, nCentroids)
    val assigned = Similarity.nearestCentroids(
      withNorm, centroids, "vec_id", "embedding", "nrm", 1)
    // residual of every vector against its assigned centroid (exact
    // doubles). Cached: the residual frame feeds the init codebook carve,
    // the trained-codebook Lloyd step AND the full-corpus encode — without
    // the pin the coarse-assignment subtree (a corpus scan + broadcast
    // argmax + per-vector window) re-ran once per consumer (3-4x per
    // query, measured in the round-21 job trace as the bulk of this
    // chain's 28-30 sequential single-task stages).
    val residuals = Caching.cached(emb.join(assigned, Seq("vec_id"))
      .join(broadcast(centroids.select(col("cid"), col("cvec"))), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        zip_with(col("embedding"), col("cvec"),
          (x, c) => x.cast("double") - c.cast("double")).as("rv")))
    // residual sub-codebook: first K vectors' residual slices (with
    // `trained`, one Lloyd refinement over the residual distribution on
    // top — the configuration production residual-PQ engines actually
    // ship, and the one this operator's own untrained-recall caveat routes
    // users to). Materialized (M x K rows) so the coarse-assignment
    // subtree under it is computed once instead of re-expanding under
    // every consumer — the plan-tree duplication would otherwise re-run
    // the codebook scan per reference.
    val cb0 = residuals.filter(col("vec_id") < NumCodes)
      .select(col("vec_id").cast("int").as("code"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("rv"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "cvec")))
    val cb = Caching.cached(
      if (trained) trainedResidualCodebook(residuals, cb0) else cb0)
    // encode every vector's residual — the [[encode]] grouped fold (r22:
    // one min_by slot per candidate row instead of M filtered slots; the
    // narrow long form comes straight out of the aggregation, no
    // pack-and-re-explode pass)
    val codes = residuals
      .select(col("vec_id"), col("cid"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("rv"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sv")))
      .join(broadcast(cb), Seq("m"))
      .withColumn("d_micro", floor(VF.sqDist(col("sv"), col("cvec")) * 1e6).cast("long"))
      .groupBy(col("vec_id"), col("cid"), col("m"))
      .agg(expr("min_by(code, struct(d_micro, code))").as("code"))
      .select(col("vec_id"), col("cid"), col("m"), col("code"))
    val queries = withNorm.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qn"))
    val probes = Similarity.nearestCentroids(
      queries, centroids, "query_id", "qv", "qn", nProbe)
    // one LUT per (query, probed list): the query's residual vs THAT centroid
    val lut = probes
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .join(broadcast(centroids.select(col("cid"), col("cvec").as("ccent"))), Seq("cid"))
      .select(col("query_id"), col("cid"),
        posexplode(array((0 until NumSub).map(m =>
          slice(zip_with(col("qv"), col("ccent"),
            (x, c) => x.cast("double") - c.cast("double")), m * SubDim + 1, SubDim)): _*))
          .as(Seq("m", "qrv")))
      .join(broadcast(cb), Seq("m"))
      .select(col("query_id"), col("cid"), col("m"), col("code"),
        floor(VF.sqDist(col("qrv"), col("cvec")) * 1e6).cast("long").as("d_micro"))
    val scored = codes
      .join(broadcast(lut), Seq("cid", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("adist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annIvfPqRes(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualTopK(Tables.embeddings(spark, dir))

  /** One Lloyd refinement step of the RESIDUAL sub-codebook — the exact
    * composition the untrained-residual caveat above routes users to:
    * assign every residual subvector to its nearest init codeword (the
    * [[encode]] grouped-argmin fold), then
    * replace each codeword with the per-dimension mean of its members in
    * 1e-6-unit integer arithmetic ([[trainedSubCodebook]]'s exact-math
    * convention verbatim: floored long means, floor division, empty
    * clusters keep their init slice).
    */
  private def trainedResidualCodebook(residuals: DataFrame, init: DataFrame): DataFrame = {
    // cached: the subvector explode feeds both the init-codeword argmin
    // (codes0) and the member-mean update, which join back on (vec_id, m)
    // — one materialization instead of two explode passes
    val sub = Caching.cached(residuals.select(col("vec_id"),
      posexplode(array((0 until NumSub).map(m =>
        slice(col("rv"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sv"))))
    // the [[encode]] grouped fold (r22): one min_by slot per candidate
    // row instead of M filtered slots, long form direct from the agg
    val codes0 = sub.join(broadcast(init), Seq("m"))
      .withColumn("d_micro", floor(VF.sqDist(col("sv"), col("cvec")) * 1e6).cast("long"))
      .groupBy(col("vec_id"), col("m"))
      .agg(expr("min_by(code, struct(d_micro, code))").as("code"))
      .select(col("vec_id"), col("m"), col("code"))
    val means = sub.join(codes0, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
      .withColumn("mv", floor(col("v").cast("double") * 1e6).cast("long"))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("mv")).as("s"))
      .withColumn("c_micro",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c_micro")))),
        x => x.getField("c_micro").cast("double") / 1e6).as("cvec_trained"))
    init.join(means, Seq("m", "code"), "left")
      .select(col("code"), col("m"),
        coalesce(col("cvec_trained"),
          transform(col("cvec"), _.cast("double"))).as("cvec"))
  }

  /** Driver query: classic residual IVF-PQ with the TRAINED residual
    * codebook — [[ivfPqResidualTopK]]'s machinery over
    * [[trainedResidualCodebook]]'s codewords. Certifies the composition the
    * untrained operator's scaladoc promises; AnnRecallSpec pins the
    * measured trained-vs-untrained residual recall so the claim stays a
    * measurement, not an assertion.
    */
  def annIvfPqResTrained(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualTopK(Tables.embeddings(spark, dir), trained = true)

  /** ADC candidate depth for the exact re-rank stage. 200 ≈ 4% of the sf0.1
    * corpus recovers the FULL exact top-5 there (measured ceiling: ADC
    * top-50 holds 52.5% of the exact top-5, top-100 85%, top-200 100% —
    * distance concentration makes the ADC ordering noisy near the top, but
    * the true neighbors all sit well inside a few hundred candidates). A
    * production deployment keeps the same ratio shape (C ≈ 4k of millions
    * per probed query).
    */
  val RerankCandidates = 200

  /** Exact re-rank on top of trained residual IVF-PQ — the standard
    * "refine" stage production PQ engines run, and the answer to the
    * honest sf0.1 finding that fixed-resolution ADC alone ranks the top-5
    * poorly (recall@5 = 0.125 trained, AnnRecallSf01Spec): ADC selects the
    * top-[[RerankCandidates]] candidates per query (codes remain the only
    * thing the corpus-wide scan touches — the memory-bound path is
    * unchanged), then EXACT float squared-L2 re-scores only those C rows
    * per query and keeps the top-k.
    *
    * Scale shape: the candidate set is nq x C rows — KBs — so it
    * BROADCASTS into the full-vector fetch (one broadcast-hash equi-join
    * against the embeddings scan; the corpus is never shuffled), and the
    * exact math runs on C rows per query, not the corpus. Recall at sf0.1
    * goes 0.125 → 1.000 (floor pinned in AnnRecallSf01Spec).
    *
    * Exactness: the re-score is the pinned left-fold [[VF.sqDist]]
    * (bit-identical cross-engine), floored to micro-unit longs; ranking
    * ties break on vec_id — same determinism contract as every ANN
    * operator here.
    */
  def ivfPqResRerankTopK(emb: DataFrame, nCand: Int = RerankCandidates,
      queryMaxId: Long = 8, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cands = ivfPqResidualTopK(emb, nProbe = nProbe,
      queryMaxId = queryMaxId, k = nCand,
      trained = true).select(col("query_id"), col("vec_id"))
    val queries = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val rescored = emb
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor(VF.sqDist(col("qv"), col("embedding")) * 1e6).cast("long")
          .as("dist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_micro"), col("vec_id"))
    rescored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver query: trained residual IVF-PQ with the exact re-rank stage. */
  def annIvfPqRerank(spark: SparkSession, dir: String): DataFrame =
    ivfPqResRerankTopK(Tables.embeddings(spark, dir))

  /** The candidate depths the re-rank curve is sampled at; the deepest is
    * [[RerankCandidates]] — the serve form's pinned knob.
    */
  val DepthCurvePoints: Seq[Int] = Seq(10, 25, 50, 100, RerankCandidates)

  /** Recall-vs-candidate-depth curve for the exact-re-rank serve form —
    * the knob curve behind [[ivfPqResRerankTopK]]'s C =
    * [[RerankCandidates]]: an exact re-rank over ADC top-C recovers
    * exactly (exact top-k) ∩ (ADC top-C), so recall@k at depth C is a
    * pure function of where the exact top-k pairs sit in the ADC
    * ranking. The operator reads each exact-top-5 pair's ADC rank ONCE
    * and prices every depth from that single pass — the sweep costs one
    * chain, not |depths| chains. A serving team reads this before
    * trading re-rank fetch volume (C full vectors per query) against
    * recall.
    *
    * Scale shape: one ADC chain at the deepest C (the certified
    * `ann_ivf_pq_res_trained` stage verbatim) + one exact
    * squared-distance baseline (the certified re-rank metric, nq
    * broadcast); the join is nq x k against nq x C broadcast ranks, and
    * every depth is a conditional count over those nq x k rows.
    * Exactness: integer micro distances, integer counts and ppm `div`.
    */
  def rerankDepthCurve(spark: SparkSession, dir: String,
      queryMaxId: Long = 8, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val maxC = DepthCurvePoints.max
    val adc = ivfPqResidualTopK(emb, queryMaxId = queryMaxId, k = maxC,
      trained = true).select(col("query_id"), col("vec_id"), col("rank"))
    val queries = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d_micro"), col("vec_id"))
    val exactK = emb.as("c")
      .join(broadcast(queries), col("query_id") =!= col("c.vec_id"))
      .select(col("query_id"), col("c.vec_id").as("vec_id"),
        floor(VF.sqDist(col("qv"), col("c.embedding")) * 1e6).cast("long")
          .as("d_micro"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k)
      .select(col("query_id"), col("vec_id"))
    val hitAggs = DepthCurvePoints.map(c =>
      count(when(col("rank") <= c, 1)).as(s"__h_$c"))
    val oneRow = exactK
      .join(broadcast(adc), Seq("query_id", "vec_id"), "left")
      .agg(count(lit(1)).as("n_exact"), hitAggs: _*)
    oneRow
      .select(explode(array(DepthCurvePoints.map(c =>
        struct(lit(c).as("depth"), col(s"__h_$c").as("hits"))): _*))
        .as("p"), col("n_exact"))
      .select(col("p.depth").as("depth"), col("p.hits").as("hits"),
        col("n_exact"),
        // greatest(.., 1): an empty query set makes n_exact = 0, where
        // Spark's non-ANSI div yields null but DuckDB `//` raises — the
        // Oversample zero-mass guard applied symmetrically in both engines
        expr("(p.hits * 1000000) div greatest(n_exact, 1)").as("recall_ppm"))
      .orderBy(col("depth"))
  }

  /** Knobs for the large-query-batch serve form — nq scaled 8x past the
    * point where per-query constants amortize, and (nProbe, C) set FROM
    * THE MEASURED KNEE of the knob curves at the batch's own query load,
    * not inherited from the nq=8 sibling. Round-18 finding (the reason
    * these are not the nq=8 form's probe-4/C-200): pinning the batch
    * form's own floor exposed that the nq=8 recall of 1.000 was a
    * small-sample artifact — across the 64-query load, probe-4/C-50
    * measures recall@5 = 0.294 and probe-4/C-200 only 0.506, recall
    * plateaus in nProbe alone (0.503 at probe-10: the ADC ranking, not
    * cell coverage, is the binding constraint), and the measured Pareto
    * knee reaching the 0.9 serve floor is probe-12/C-1500 (0.938; the
    * full sweep: `git show 4c95c6d:BENCH_NOTES_r18.md`). A ~30% refine
    * fraction is the honest price of serve-grade recall on THIS corpus — 64-d
    * near-equidistant synthetic points give an 8-bit-per-subspace ADC
    * very little to rank on (the documented distance-concentration
    * finding); on real embedding manifolds the same curves locate a far
    * cheaper knee, which is exactly why `ann_rerank_depth_curve` and
    * `ann_ivf_probe_curve` exist as certified queries.
    */
  val BatchQueries = 64L
  val BatchProbe = 12
  val BatchCandidates = 1500

  /** The LARGE-QUERY-BATCH serve path: [[ivfPqResRerankTopK]]'s refine
    * stage with the broadcast assumption removed. Every other ann_*
    * fixes nq = 8, so the nq x C candidate frame (and the query frame)
    * broadcast into the full-vector fetch; at production batch sizes
    * (nq in the millions — re-embedding sweeps, dedup-by-query backfills)
    * nq x C outgrows any broadcast. This form joins candidates and
    * queries to the corpus as SHUFFLE-HASH equi-joins (`shuffle_hash`
    * hints; plan pinned in AnnBatchRerankSpec): candidates co-partition
    * with the corpus on vec_id, then with the query frame on query_id —
    * both sides partition-parallel, nothing driver- or broadcast-bound.
    *
    * Scale contract (the switch point): the broadcast form wins while
    * nq x C x ~16 bytes stays under the broadcast threshold (10 MB
    * default → ~40k queries at C=200); past it, THIS spelling is the
    * plan, and the corpus-side exchange it introduces is eliminated by
    * bucketing the corpus table on vec_id ([[graft.sources.StorageLayout]]
    * proves exchange-free joins on bucketed layouts) — leaving the
    * candidate frame's own shuffle as the only data movement, which is
    * optimal: those rows must reach their vectors somehow. The CANDIDATE
    * stage's broadcasts are nq-proportional too (the per-query LUT is
    * nq x M x K rows); its batch bound is documented on
    * [[ivfPqResidualTopK]] — this operator certifies the refine stage's
    * shuffle path, the piece whose frame grows fastest (x C).
    */
  def ivfPqResRerankBatchTopK(emb: DataFrame,
      nCand: Int = BatchCandidates, queryMaxId: Long = BatchQueries,
      k: Int = 5, nProbe: Int = BatchProbe): DataFrame = {
    val cands = ivfPqResidualTopK(emb, nProbe = nProbe,
      queryMaxId = queryMaxId, k = nCand,
      trained = true).select(col("query_id"), col("vec_id"))
    val queries = emb.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val rescored = emb
      .join(cands.hint("shuffle_hash"), Seq("vec_id"))
      .join(queries.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor(VF.sqDist(col("qv"), col("embedding")) * 1e6).cast("long")
          .as("dist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_micro"), col("vec_id"))
    rescored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("dist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver query: the batch-serve shuffle-hash re-rank at nq = 64. */
  def annRerankBatch(spark: SparkSession, dir: String): DataFrame =
    ivfPqResRerankBatchTopK(Tables.embeddings(spark, dir))

  /** One Lloyd refinement step per subspace over the init codebook — the
    * PQ analog of [[Similarity.kmeansStep]], same exact-arithmetic rules:
    * assign every subvector to its nearest init codeword (the [[encode]]
    * argmin), then replace each codeword with the per-dimension mean of its
    * members as 1e-6-unit INTEGERS (floor(v * 1e6) longs, long sums,
    * floored integer mean — partial-aggregation-order-proof and
    * engine-exact); codewords with no members keep their init slice.
    * Output cvec elements are the micro means divided back to double
    * (exact: both engines divide the identical long by 1e6).
    */
  def trainedSubCodebook(emb: DataFrame): DataFrame = {
    val init = subCodebook(emb)
    val members = emb.select(col("vec_id"),
        posexplode(array((0 until NumSub).map(m =>
          slice(col("embedding"), m * SubDim + 1, SubDim)): _*)).as(Seq("m", "sv")))
      .join(encode(emb, init), Seq("vec_id", "m"))
    val means = members
      .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "v")))
      .withColumn("mv", floor(col("v").cast("double") * 1e6).cast("long"))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("mv")).as("s"))
      // FLOOR division, not truncation: sums go negative and the kmeansStep
      // convention (and DuckDB's floor-dividing //) round toward -inf
      .withColumn("c_micro",
        floor(col("s").cast("double") / col("n")).cast("long"))
      .groupBy(col("m"), col("code"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c_micro")))),
        x => x.getField("c_micro").cast("double") / 1e6).as("cvec_trained"))
    init.join(means, Seq("m", "code"), "left")
      .select(col("code"), col("m"),
        coalesce(col("cvec_trained"),
          transform(col("cvec"), _.cast("double"))).as("cvec"))
  }

  /** PQ/ADC over the TRAINED codebook — identical scoring machinery to
    * [[adcTopK]], different (better-fitting) codewords. Exists to certify
    * the training path the residual operator's scaladoc routes users to;
    * AnnRecallSpec measures the trained-vs-init recall on the driver data.
    */
  def adcTopKTrained(emb: DataFrame, queryMaxId: Long = 8, k: Int = 5): DataFrame = {
    val cb = Caching.cached(trainedSubCodebook(emb))
    val codes = encode(emb, cb)
    val lut = lutOf(emb, cb, queryMaxId)
    val scored = codes
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d_micro")).as("adist_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("adist_micro"))
      .orderBy(col("query_id"), col("rank"))
  }

  def annPqTrained(spark: SparkSession, dir: String): DataFrame =
    adcTopKTrained(Tables.embeddings(spark, dir))

  /** Driver query: the PQ index itself, materialized — (vec_id, m, code)
    * rows a user persists once and serves both [[annPq]] and [[annIvfPq]]
    * (at 100 TB the index build is the expensive pass; queries then touch
    * codes only). Ordered for the oracle; the write-side layout would
    * bucket by vec_id ([[graft.sources.StorageLayout]] pattern).
    */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    encode(emb, subCodebook(emb))
      .orderBy(col("vec_id"), col("m"))
  }

  /** Driver query: the snapshot-DELTA index build — codes for only the
    * vectors NEW since the previous snapshot, encoded against the
    * previous build's FROZEN codebook. This is the recrawl-scale
    * complement of `emb_pq_codes_streaming_file`'s row-at-a-time form:
    * between snapshots a serving system re-encodes the anti-join of the
    * corpora (here [[CorpusDiff.AddedMod]]'s carve — the same
    * deterministic previous-snapshot convention as the corpus diff/delta
    * dedup family), never the full corpus. The codebook comes from the
    * OLD snapshot by construction (a delta encode against a codebook the
    * old codes never saw would silently mix two index generations).
    *
    * Scale shape: one left-anti equi-join on vec_id (ids only — vectors
    * are fetched after the carve), then [[encode]]'s packed argmin over
    * delta-sized input.
    */
  def pqCodesDelta(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val old = emb.filter(col("vec_id") % CorpusDiff.AddedMod =!= 0)
    val frozenCb = subCodebook(old)
    val delta = emb.join(old.select(col("vec_id")), Seq("vec_id"), "left_anti")
    encode(delta, frozenCb).orderBy(col("vec_id"), col("m"))
  }
}

/** DuckDB oracle for [[ProductQuantization]] — same codebook convention,
  * same micro-scaled integer distances, same ranking contract.
  */
object ProductQuantizationSql {
  import ProductQuantization._

  def annPqSql(queryMaxId: Long = 8, k: Int = 5): String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    s"""WITH ms AS (SELECT unnest(range($NumSub)) AS m),
       |cb AS (
       |  SELECT CAST(e.vec_id AS INT) AS code, ms.m,
       |         ${slc("e.embedding", "ms.m")} AS cvec
       |  FROM embeddings e, ms WHERE e.vec_id < $NumCodes),
       |enc AS (
       |  SELECT e.vec_id, ms.m, ${slc("e.embedding", "ms.m")} AS sv
       |  FROM embeddings e, ms),
       |dists AS (
       |  SELECT enc.vec_id, enc.m, cb.code, ${dMicro("enc.sv", "cb.cvec")} AS d_micro,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m),
       |codes AS (SELECT vec_id, m, code FROM dists WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.code,
       |         ${dMicro(slc("q.embedding", "cb.m"), "cb.cvec")} AS d_micro
       |  FROM embeddings q JOIN cb ON q.vec_id < $queryMaxId),
       |scored AS (
       |  SELECT l.query_id, c.vec_id, CAST(sum(l.d_micro) AS BIGINT) AS adist_micro
       |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY l.query_id, c.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_micro, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist_micro
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of [[ProductQuantization.pqCodes]]: the codes CTE of
    * [[annPqSql]], projected and ordered.
    */
  val pqCodesSql: String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    s"""WITH ms AS (SELECT unnest(range($NumSub)) AS m),
       |cb AS (
       |  SELECT CAST(e.vec_id AS INT) AS code, ms.m,
       |         ${slc("e.embedding", "ms.m")} AS cvec
       |  FROM embeddings e, ms WHERE e.vec_id < $NumCodes),
       |enc AS (
       |  SELECT e.vec_id, ms.m, ${slc("e.embedding", "ms.m")} AS sv
       |  FROM embeddings e, ms),
       |dists AS (
       |  SELECT enc.vec_id, enc.m, cb.code,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m)
       |SELECT vec_id, CAST(m AS INT) AS m, code FROM dists WHERE rn = 1
       |ORDER BY vec_id, m""".stripMargin
  }

  /** Mirror of [[ProductQuantization.rerankDepthCurve]]: the trained
    * residual ADC chain at the deepest depth, the exact squared-distance
    * top-k, one left join, FILTER counts per depth.
    */
  def rerankDepthCurveSql(queryMaxId: Long = 8, k: Int = 5): String = {
    val depths = DepthCurvePoints
    val candSql = annIvfPqResSql(queryMaxId = queryMaxId, k = depths.max,
      trained = true)
    val hitCols = depths.map(c =>
      s"count(*) FILTER (WHERE rank <= $c) AS h_$c").mkString(",\n|    ")
    val perDepth = depths.map(c =>
      s"SELECT $c AS depth, h_$c AS hits, n_exact, " +
        s"(h_$c * 1000000) // greatest(n_exact, 1) AS recall_ppm FROM s")
      .mkString("\nUNION ALL\n")
    s"""WITH adc AS (
       |  SELECT query_id, vec_id, rank FROM ($candSql) t),
       |rq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |       WHERE vec_id < $queryMaxId),
       |ex0 AS (
       |  SELECT rq.query_id, c.vec_id,
       |    row_number() OVER (PARTITION BY rq.query_id
       |      ORDER BY CAST(floor(${VS.sqDist("rq.qv", "c.embedding")} * 1e6)
       |                    AS BIGINT), c.vec_id) AS r
       |  FROM embeddings c JOIN rq ON rq.query_id <> c.vec_id),
       |exact_k AS (SELECT query_id, vec_id FROM ex0 WHERE r <= $k),
       |j AS (
       |  SELECT e.query_id, e.vec_id, a.rank
       |  FROM exact_k e LEFT JOIN adc a
       |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id),
       |s AS (
       |  SELECT count(*) AS n_exact,
       |    $hitCols
       |  FROM j)
       |$perDepth
       |ORDER BY depth""".stripMargin
  }

  /** Mirror of [[ProductQuantization.pqCodesDelta]]: same old-snapshot
    * carve, same frozen old-snapshot codebook, same anti-join delta.
    */
  val pqCodesDeltaSql: String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    s"""WITH ms AS (SELECT unnest(range($NumSub)) AS m),
       |old AS (SELECT vec_id, embedding FROM embeddings
       |        WHERE vec_id % ${CorpusDiff.AddedMod} <> 0),
       |cb AS (
       |  SELECT CAST(e.vec_id AS INT) AS code, ms.m,
       |         ${slc("e.embedding", "ms.m")} AS cvec
       |  FROM old e, ms WHERE e.vec_id < $NumCodes),
       |delta AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.vec_id = e.vec_id)),
       |enc AS (
       |  SELECT e.vec_id, ms.m, ${slc("e.embedding", "ms.m")} AS sv
       |  FROM delta e, ms),
       |dists AS (
       |  SELECT enc.vec_id, enc.m, cb.code,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m)
       |SELECT vec_id, CAST(m AS INT) AS m, code FROM dists WHERE rn = 1
       |ORDER BY vec_id, m""".stripMargin
  }

  /** Mirror of [[ProductQuantization.adcTopKTrained]]: the same one-step
    * Lloyd refinement (exact micro-integer means, floor division, empty
    * clusters keep init), then the standard codes/LUT/ADC chain over the
    * trained codebook.
    */
  def annPqTrainedSql(queryMaxId: Long = 8, k: Int = 5): String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    s"""WITH ms AS (SELECT unnest(range($NumSub)) AS m),
       |cb0 AS (
       |  SELECT CAST(e.vec_id AS INT) AS code, ms.m,
       |         ${slc("e.embedding", "ms.m")} AS cvec
       |  FROM embeddings e, ms WHERE e.vec_id < $NumCodes),
       |enc AS (
       |  SELECT e.vec_id, ms.m, ${slc("e.embedding", "ms.m")} AS sv
       |  FROM embeddings e, ms),
       |d0 AS (
       |  SELECT enc.vec_id, enc.m, enc.sv, cb0.code,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb0.cvec")}, cb0.code) AS rn
       |  FROM enc JOIN cb0 ON enc.m = cb0.m),
       |assigned0 AS (SELECT vec_id, m, sv, code FROM d0 WHERE rn = 1),
       |dims AS (
       |  SELECT a.m, a.code, i.pos,
       |    CAST(floor(CAST(sum(CAST(floor(CAST(a.sv[i.pos + 1] AS DOUBLE) * 1e6)
       |      AS BIGINT)) AS DOUBLE) / count(*)) AS BIGINT) AS c_micro
       |  FROM assigned0 a, (SELECT unnest(range($SubDim)) AS pos) i
       |  GROUP BY a.m, a.code, i.pos),
       |trained AS (
       |  SELECT m, code,
       |    list(CAST(c_micro AS DOUBLE) / 1e6 ORDER BY pos) AS cvec_trained
       |  FROM dims GROUP BY m, code),
       |cb AS (
       |  SELECT cb0.code, cb0.m,
       |    COALESCE(t.cvec_trained,
       |      list_transform(cb0.cvec, x -> CAST(x AS DOUBLE))) AS cvec
       |  FROM cb0 LEFT JOIN trained t ON cb0.m = t.m AND cb0.code = t.code),
       |dists AS (
       |  SELECT enc.vec_id, enc.m, cb.code,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m),
       |codes AS (SELECT vec_id, m, code FROM dists WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, cb.m, cb.code,
       |         ${dMicro(slc("q.embedding", "cb.m"), "cb.cvec")} AS d_micro
       |  FROM embeddings q JOIN cb ON q.vec_id < $queryMaxId),
       |scored AS (
       |  SELECT l.query_id, c.vec_id, CAST(sum(l.d_micro) AS BIGINT) AS adist_micro
       |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
       |  WHERE c.vec_id <> l.query_id
       |  GROUP BY l.query_id, c.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_micro, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist_micro
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of [[ProductQuantization.ivfPqResidualTopK]]: residuals via
    * exact element-wise double subtraction, residual codebook from the
    * first K vectors' residuals, per-probed-list query LUTs. With
    * `trained`, the same one-step Lloyd refinement as [[annPqTrainedSql]]
    * (exact micro-integer means, floor division, empty clusters keep init)
    * runs over the RESIDUAL subvectors before encoding.
    */
  def annIvfPqResSql(nCentroids: Int = 16, nProbe: Int = 4,
      queryMaxId: Long = 8, k: Int = 5, trained: Boolean = false): String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    def residual(v: String, c: String) =
      s"list_transform(range(len($v)), i -> CAST($v[i+1] AS DOUBLE) - CAST($c[i+1] AS DOUBLE))"
    // untrained: the init codebook IS the codebook. trained: one Lloyd step
    // over the residual subvectors (same CTE chain as annPqTrainedSql).
    val cbChain = if (!trained)
      s"""cb AS (
         |  SELECT CAST(r.vec_id AS INT) AS code, ms.m, ${slc("r.rv", "ms.m")} AS cvec
         |  FROM res r, ms WHERE r.vec_id < $NumCodes),""".stripMargin
    else
      s"""cb0 AS (
         |  SELECT CAST(r.vec_id AS INT) AS code, ms.m, ${slc("r.rv", "ms.m")} AS cvec
         |  FROM res r, ms WHERE r.vec_id < $NumCodes),
         |enc0 AS (
         |  SELECT r.vec_id, ms.m, ${slc("r.rv", "ms.m")} AS sv
         |  FROM res r, ms),
         |d0 AS (
         |  SELECT enc0.vec_id, enc0.m, enc0.sv, cb0.code,
         |    row_number() OVER (PARTITION BY enc0.vec_id, enc0.m
         |      ORDER BY ${dMicro("enc0.sv", "cb0.cvec")}, cb0.code) AS rn
         |  FROM enc0 JOIN cb0 ON enc0.m = cb0.m),
         |assigned0 AS (SELECT vec_id, m, sv, code FROM d0 WHERE rn = 1),
         |dims AS (
         |  SELECT a.m, a.code, i.pos,
         |    CAST(floor(CAST(sum(CAST(floor(CAST(a.sv[i.pos + 1] AS DOUBLE) * 1e6)
         |      AS BIGINT)) AS DOUBLE) / count(*)) AS BIGINT) AS c_micro
         |  FROM assigned0 a, (SELECT unnest(range($SubDim)) AS pos) i
         |  GROUP BY a.m, a.code, i.pos),
         |trainedc AS (
         |  SELECT m, code,
         |    list(CAST(c_micro AS DOUBLE) / 1e6 ORDER BY pos) AS cvec_trained
         |  FROM dims GROUP BY m, code),
         |cb AS (
         |  SELECT cb0.code, cb0.m,
         |    COALESCE(t.cvec_trained,
         |      list_transform(cb0.cvec, x -> CAST(x AS DOUBLE))) AS cvec
         |  FROM cb0 LEFT JOIN trainedc t ON cb0.m = t.m AND cb0.code = t.code),""".stripMargin
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${VS.cosine("e.embedding", "c.cvec")} DESC, c.cid) AS crn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE crn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < $queryMaxId),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${VS.cosine("q.qv", "c.cvec")} DESC, c.cid) AS crn
       |    FROM q CROSS JOIN cents c)
       |  WHERE crn <= $nProbe),
       |res AS (
       |  SELECT e.vec_id, a.cid, ${residual("e.embedding", "c.cvec")} AS rv
       |  FROM embeddings e
       |  JOIN assigned a ON e.vec_id = a.vec_id
       |  JOIN cents c ON a.cid = c.cid),
       |ms AS (SELECT unnest(range($NumSub)) AS m),
       |$cbChain
       |enc AS (
       |  SELECT r.vec_id, r.cid, ms.m, ${slc("r.rv", "ms.m")} AS sv
       |  FROM res r, ms),
       |dists AS (
       |  SELECT enc.vec_id, enc.cid, enc.m, cb.code,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m),
       |codes AS (SELECT vec_id, cid, m, code FROM dists WHERE rn = 1),
       |qres AS (
       |  SELECT p.query_id, p.cid, ${residual("q.qv", "c.cvec")} AS qrv
       |  FROM probes p
       |  JOIN q ON p.query_id = q.query_id
       |  JOIN cents c ON p.cid = c.cid),
       |lut AS (
       |  SELECT qr.query_id, qr.cid, cb.m, cb.code,
       |         ${dMicro(slc("qr.qrv", "cb.m"), "cb.cvec")} AS d_micro
       |  FROM qres qr CROSS JOIN cb),
       |scored AS (
       |  SELECT l.query_id, c2.vec_id, CAST(sum(l.d_micro) AS BIGINT) AS adist_micro
       |  FROM codes c2
       |  JOIN lut l ON c2.cid = l.cid AND c2.m = l.m AND c2.code = l.code
       |  WHERE c2.vec_id <> l.query_id
       |  GROUP BY l.query_id, c2.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_micro, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist_micro
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of [[ProductQuantization.ivfPqResRerankTopK]]: the trained
    * residual ADC chain (verbatim, as a subquery) capped at
    * [[ProductQuantization.RerankCandidates]] candidates, then the exact
    * squared-L2 re-score over only those rows — same micro floor, same
    * vec_id tiebreak.
    */
  def annIvfPqRerankSql(nCand: Int = RerankCandidates,
      queryMaxId: Long = 8, k: Int = 5, nProbe: Int = 4): String = {
    val candSql = annIvfPqResSql(nProbe = nProbe, queryMaxId = queryMaxId,
      k = nCand, trained = true)
    s"""WITH cands AS (SELECT query_id, vec_id FROM ($candSql) t),
       |rq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |       WHERE vec_id < $queryMaxId),
       |rescored AS (
       |  SELECT c.query_id, c.vec_id,
       |    CAST(floor(${VS.sqDist("rq.qv", "e.embedding")} * 1e6) AS BIGINT)
       |      AS dist_micro
       |  FROM cands c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN rq ON rq.query_id = c.query_id),
       |rranked AS (
       |  SELECT query_id, vec_id, dist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dist_micro, vec_id) AS rank
       |  FROM rescored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dist_micro
       |FROM rranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of [[ProductQuantization.ivfPqTopK]]: the ivfTopKSql coarse
    * stage (same codebook, same cosine argmax ties) feeding the annPqSql
    * fine stage (same codes, same LUT).
    */
  def annIvfPqSql(nCentroids: Int = 16, nProbe: Int = 4,
      queryMaxId: Long = 8, k: Int = 5): String = {
    def slc(v: String, m: String) =
      s"list_slice($v, $m * $SubDim + 1, $m * $SubDim + $SubDim)"
    val dMicro = (a: String, b: String) =>
      s"CAST(floor(${VS.sqDist(a, b)} * 1e6) AS BIGINT)"
    s"""WITH cents AS (
       |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |  WHERE vec_id < $nCentroids),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${VS.cosine("e.embedding", "c.cvec")} DESC, c.cid) AS crn
       |    FROM embeddings e CROSS JOIN cents c)
       |  WHERE crn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < $queryMaxId),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${VS.cosine("q.qv", "c.cvec")} DESC, c.cid) AS crn
       |    FROM q CROSS JOIN cents c)
       |  WHERE crn <= $nProbe),
       |ms AS (SELECT unnest(range($NumSub)) AS m),
       |cb AS (
       |  SELECT CAST(e.vec_id AS INT) AS code, ms.m,
       |         ${slc("e.embedding", "ms.m")} AS cvec
       |  FROM embeddings e, ms WHERE e.vec_id < $NumCodes),
       |enc AS (
       |  SELECT e.vec_id, ms.m, ${slc("e.embedding", "ms.m")} AS sv
       |  FROM embeddings e, ms),
       |dists AS (
       |  SELECT enc.vec_id, enc.m, cb.code, ${dMicro("enc.sv", "cb.cvec")} AS d_micro,
       |    row_number() OVER (PARTITION BY enc.vec_id, enc.m
       |      ORDER BY ${dMicro("enc.sv", "cb.cvec")}, cb.code) AS rn
       |  FROM enc JOIN cb ON enc.m = cb.m),
       |codes AS (SELECT vec_id, m, code FROM dists WHERE rn = 1),
       |lut AS (
       |  SELECT q.query_id, cb.m, cb.code,
       |         ${dMicro(slc("q.qv", "cb.m"), "cb.cvec")} AS d_micro
       |  FROM q CROSS JOIN cb),
       |scored AS (
       |  SELECT p.query_id, a.vec_id, CAST(sum(l.d_micro) AS BIGINT) AS adist_micro
       |  FROM probes p
       |  JOIN assigned a ON p.cid = a.cid AND a.vec_id <> p.query_id
       |  JOIN codes c ON c.vec_id = a.vec_id
       |  JOIN lut l ON l.query_id = p.query_id AND l.m = c.m AND l.code = c.code
       |  GROUP BY p.query_id, a.vec_id),
       |ranked AS (
       |  SELECT query_id, vec_id, adist_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist_micro, vec_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, adist_micro
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }
}
