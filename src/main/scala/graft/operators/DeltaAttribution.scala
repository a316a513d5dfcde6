package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextSql => TS}
import graft.sources.Tables

/** Stage-attributed recrawl screen — the [[DedupAttribution]] discipline
  * applied to the DELTA path: for every document in the recrawl delta,
  * which screen catches it FIRST, in cascade priority order
  *
  *   exact (frozen content-hash membership)
  *   > minhash (frozen band index, jaccard >= 0.5)
  *   > simhash (frozen banded fingerprints, hamming <= 3)
  *   > winnow (frozen passage postings, >= 1 shared fingerprint)
  *   > unique
  *
  * — the single entry point a monthly recrawl pipeline runs: one report
  * that tells it what fraction of the delta is re-publication (exact),
  * light edit (minhash), term-bag rearrangement (simhash), partial
  * syndication (winnow), or genuinely new (unique). Every stage is the
  * certified delta screen VERBATIM ([[CorpusDiff.deltaDedup]]'s membership
  * framing with [[Dedup.contentHash]]; [[DedupDelta.probePairs]];
  * [[DedupDelta.simhashProbePairs]]; [[DedupDelta.winnowProbePairs]]) over
  * ONE shared probe set, so the report cannot disagree with the screens it
  * summarizes.
  *
  * Probe families (each lands in a distinct stage, making every SCREEN
  * class non-vacuous at every scale): mirrors → exact; token-edit twins →
  * minhash; TOKEN-PERMUTED twins (reversed word order — identical term
  * bag, so hamming 0, but near-disjoint shingle sets, so the jaccard and
  * passage screens miss) → simhash, the construction that demonstrates
  * why the cascade carries a simhash stage at all; natural cross-document
  * passage collisions → winnow. The 'unique' class is data-dependent:
  * the synthetic corpus's small vocabulary makes >= 6-word passage
  * collisions near-ubiquitous, so it can be empty at a given scale
  * (observed: 0 / 1 / 0 rows at sf0.001/0.01/0.1) — on a real crawl it
  * is the majority class.
  *
  * Scale shape: four frozen-index probes over one cached delta/old text
  * pass each, every stage's candidates bounded by its index cap, the
  * priority fold four LEFT joins of doc_id-distinct flag frames (delta-
  * sized keys, map-side combined) — nothing here is quadratic in either
  * snapshot.
  */
object DeltaAttribution {

  /** Reversed-token probe family (residue 7 over [[CorpusDiff.MirrorMod]],
    * offset disjoint from every other family).
    */
  val PermutedResidue = 7L
  val PermutedOffset = 9000000L

  /** The attribution's probe set: the SAME recrawl delta every delta
    * screen probes ([[DedupDelta.deltaDocs]]) plus the token-permuted
    * family.
    */
  def attributionProbes(docs: DataFrame): DataFrame =
    DedupDelta.deltaDocs(docs)
      .unionAll(CorpusDiff.oldSnapshot(docs)
        .filter(col("doc_id") % CorpusDiff.MirrorMod === PermutedResidue)
        .select(Dedup.probeId(PermutedOffset).as("doc_id"),
          array_join(reverse(graft.functions.TextFunctions.tokens(col("text"))), " ")
            .as("text")))

  /** (doc_id, stage) for every delta document — stage is the FIRST
    * catching screen in cascade order, or 'unique'.
    */
  def attributeDelta(oldDocs: DataFrame, probeDocs: DataFrame): DataFrame = {
    val old = Caching.cached(oldDocs)
    val probes = Caching.cached(probeDocs)
    // materialize the shared trunks EAGERLY (this query's catalog entry
    // is flagged eager): four screens consume each cache from
    // independent plan branches, and Spark schedules independent stages
    // concurrently — lazily-persisted partitions race and every branch
    // recomputes the parse (measured: 21.9 s lazy -> 8.4 s eager at
    // sf0.1; eager materialization pins each trunk to ONE computation).
    // The counts run one after the other: overlapping each pair's two
    // independent jobs measured no gain (r22: 5.89 -> 5.91 s).
    old.count()
    probes.count()
    // exact: frozen content-hash membership (the dedup family's ONE
    // content-hash spelling; the old side collapses to a distinct hash set)
    val oldHashes = old.select(Dedup.contentHash(col("text")).as("__h"))
      .distinct().withColumn("__exact", lit(true))
    val exact = probes.select(col("doc_id"), Dedup.contentHash(col("text")).as("__h"))
      .join(oldHashes, Seq("__h"), "left")
      .select(col("doc_id"), coalesce(col("__exact"), lit(false)).as("__exact"))
    // near-dup stages: each certified probe screen, collapsed to doc_id
    val oldSets = Caching.cached(Dedup.hashedShingleSets(old))
    val probeSets = Caching.cached(Dedup.hashedShingleSets(probes))
    oldSets.count()
    probeSets.count()
    val mh = DedupDelta.probePairs(oldSets, probeSets)
      .select(col("doc_id")).distinct().withColumn("__mh", lit(true))
    val sh = DedupDelta.simhashProbePairs(old, probes)
      .select(col("doc_id")).distinct().withColumn("__sh", lit(true))
    val wn = DedupDelta.winnowProbePairs(old, probes)
      .select(col("doc_id")).distinct().withColumn("__wn", lit(true))
    exact
      .join(mh, Seq("doc_id"), "left")
      .join(sh, Seq("doc_id"), "left")
      .join(wn, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact"), "exact")
          .when(col("__mh").isNotNull, "minhash")
          .when(col("__sh").isNotNull, "simhash")
          .when(col("__wn").isNotNull, "winnow")
          .otherwise("unique").as("stage"))
  }

  /** Driver query: the delta cascade report over the carved snapshots. */
  def attributeDocuments(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    attributeDelta(DedupDelta.oldAugmented(docs), attributionProbes(docs))
      .orderBy(col("doc_id"))
  }
}

/** DuckDB oracle for [[DeltaAttribution]] — same carve, same probe
  * families, every stage the corresponding delta-screen oracle spelling
  * (shared CTE builders), same cascade priority.
  */
object DeltaAttributionSql {
  import CorpusDiff.MirrorMod
  import Dedup.MaxBucket
  import DeltaAttribution._

  def attributeDocumentsSql(threshold: Double = 0.5,
      maxBucket: Int = MaxBucket): String =
    s"""WITH ${DedupDeltaSql.fixtureCtes},
       |probe_docs AS (
       |  SELECT doc_id, text FROM delta_docs
       |  UNION ALL
       |  SELECT doc_id + $PermutedOffset,
       |    array_to_string(list_reverse(${TS.tokens("text")}), ' ')
       |  FROM old_base WHERE doc_id % $MirrorMod = $PermutedResidue),
       |old_hashes AS (
       |  SELECT DISTINCT md5(trim(text)) AS __h FROM old_docs),
       |ex AS (
       |  SELECT p.doc_id FROM probe_docs p
       |  JOIN old_hashes o ON md5(trim(p.text)) = o.__h),
       |${DedupDeltaSql.minhashScreenCtes("probe_docs", maxBucket = maxBucket)},
       |mh AS (SELECT DISTINCT doc_id FROM dpairs WHERE jaccard >= $threshold),
       |${DedupDeltaSql.simhashScreenCtes("probe_docs", maxBucket)},
       |sh AS (SELECT DISTINCT doc_id FROM sd_pairs
       |       WHERE hamming <= ${Dedup.MaxHamming}),
       |${DedupDeltaSql.winnowScreenCtes("probe_docs", maxBucket)},
       |wn AS (SELECT DISTINCT d.doc_id
       |       FROM dw_x d JOIN ow_frozen o USING (fp)
       |       WHERE d.doc_id <> o.old_id)
       |SELECT p.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN mh.doc_id IS NOT NULL THEN 'minhash'
       |       WHEN sh.doc_id IS NOT NULL THEN 'simhash'
       |       WHEN wn.doc_id IS NOT NULL THEN 'winnow'
       |       ELSE 'unique' END AS stage
       |FROM probe_docs p
       |LEFT JOIN ex ON p.doc_id = ex.doc_id
       |LEFT JOIN mh ON p.doc_id = mh.doc_id
       |LEFT JOIN sh ON p.doc_id = sh.doc_id
       |LEFT JOIN wn ON p.doc_id = wn.doc_id
       |ORDER BY p.doc_id""".stripMargin
}
