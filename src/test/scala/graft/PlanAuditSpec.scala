package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** Global physical-plan invariant over EVERY driver-contract query: no
  * nested-loop and no cartesian join anywhere — the two shapes that are
  * correct at test scale and dead at 100 TB. The single exemption is
  * ann_brute_force, whose broadcast nested loop against the tiny query set
  * IS the operator (the exact top-k baseline that verifies the LSH path).
  *
  * This is the regression guard for the round-1 finding where a declared
  * query (dedup_embedding) silently planned as BroadcastNestedLoopJoin.
  */
class PlanAuditSpec extends SparkSpec {

  // Allowed BroadcastNestedLoopJoin OCCURRENCES per query (0 for everyone
  // else) — the exemption is counted, not query-wide, so a regression adding
  // a data-sized nested loop to an exempted query still fails.
  // ann_brute_force: the broadcast nested loop against the tiny query set IS
  // the exact-baseline operator (1). ann_ivf: vectors and queries each score
  // against the ENTIRE coarse codebook by definition (argmin over K) — two
  // broadcast cross joins over a constant-size (KBs) side (2).
  // emb_kmeans_step: the Lloyd assignment is the same argmax-over-codebook
  // scan as ann_ivf's, once (1). text_tfidf: the corpus-cardinality N joins
  // in as a broadcast SINGLE-ROW aggregate (1). q_bloom_join: the bloom
  // bitmap joins in as a broadcast SINGLE-ROW 8 KiB map (1).
  // ann_ivf_pq: the same two coarse-codebook scans as ann_ivf (assign +
  // probe); the PQ fine stage itself is broadcast-hash equi-joins only (2).
  // ann_ivf_pq_res_trained: same two coarse-codebook scans as ann_ivf_pq_res
  // (assign + probe); the residual training pass is broadcast-hash only (2).
  // ann_ivf_trained: ann_ivf's two coarse-codebook scans plus the Lloyd
  // training assignment (emb_kmeans_step's scan) over the SAME constant-size
  // broadcast codebook (3). dedup_semantic: one emb_kmeans_step-style
  // argmax over the constant-size broadcast codebook (1); the pairwise
  // stage itself is an equi-join on cid. q_cms_join_size: the SINGLE-ROW
  // estimate and truth aggregates combine via a broadcast single-row
  // cross join (the text_tfidf shape) (1). q_kmv_overlap: the group-PAIR
  // expansion (type_a < type_b over the distinct-group domain — pairs is
  // the operator's output domain, quadratic in GROUPS by definition,
  // never in data) appears once per union side (2).
  // ann_ivf_pq_rerank: wraps ann_ivf_pq_res_trained's candidate chain, so
  // it inherits the same two coarse-codebook scans; the re-rank stage
  // itself is broadcast-hash equi-joins only (2).
  // ann_ivf_rerank: ann_ivf's exact plan with nProbe=6 — same two
  // broadcast-codebook scans (assign + probe), counted identically (2).
  private val allowedNestedLoops = Map("ann_brute_force" -> 1, "ann_ivf" -> 2,
    "ann_ivf_pq" -> 2, "ann_ivf_pq_res" -> 2, "ann_ivf_pq_res_trained" -> 2,
    "ann_ivf_pq_rerank" -> 2, "ann_ivf_rerank" -> 2,
    "ann_rerank_batch" -> 2,
    // ann_recall_report unions the certified stages over SHARED cached
    // trunks (r18): brute exact (1) + ONE shared ivf assignment (1) + the
    // two probe stages (2) + pq_rerank (2) — the duplicate per-family
    // assignment scans are gone with the trunk cache
    "ann_recall_report" -> 7,
    // emb_ivf_assign: the ivfTopK assignment stage standalone — one
    // broadcast-codebook argmax cross (1)
    "emb_ivf_assign" -> 1,
    // ann_rerank_depth_curve: the trained-residual ADC chain's two
    // codebook crosses (the ann_ivf_pq_res_trained count) + the exact
    // squared-distance baseline's nq-broadcast cross (1)
    "ann_rerank_depth_curve" -> 3,
    // ann_ivf_probe_curve: the corpus assignment cross (1) + the
    // query-side full centroid ranking cross (1) + the exact cosine
    // baseline's nq-broadcast cross (1)
    "ann_ivf_probe_curve" -> 3,
    // text_vocab_growth: the single-row max-id aggregate broadcasts into
    // both band histograms (type first-seen + doc mass) (2)
    "text_vocab_growth" -> 2,
    // pipeline_resume_manifest: the single-row half-mass resume point
    // broadcasts into the offset filter (1)
    "pipeline_resume_manifest" -> 1,
    "ann_ivf_trained" -> 3,
    "emb_kmeans_step" -> 1, "text_tfidf" -> 1, "q_bloom_join" -> 1,
    "dedup_semantic" -> 1, "q_cms_join_size" -> 1, "q_kmv_overlap" -> 2,
    // text_surprisal: the corpus-total single-row broadcast into the vocab
    // projection (text_tfidf's shape) (1)
    "text_surprisal" -> 1,
    // pipeline_epoch_shuffle: the corpus count N joins in as a broadcast
    // SINGLE-ROW aggregate for the per-epoch position fold (1)
    "pipeline_epoch_shuffle" -> 1,
    // ann_knn_classify: wraps ann_brute_force's exact-baseline broadcast
    // nested loop as its neighbor stage; the vote tail is equi-only (1)
    "ann_knn_classify" -> 1,
    // text_bpe_encode / text_bpe_fertility: the merge list joins in as a
    // broadcast SINGLE-ROW array aggregate (the text_tfidf shape) (1)
    "text_bpe_encode" -> 1, "text_bpe_fertility" -> 1,
    // text_collocations: the bigram total N joins in as a broadcast
    // SINGLE-ROW aggregate for the PMI denominator (1)
    "text_collocations" -> 1,
    // q_market_basket: the basket total N joins in as a broadcast
    // SINGLE-ROW aggregate for the lift denominator (1)
    "q_market_basket" -> 1,
    // q_pareto_share: the (n, total) grand-total SINGLE-ROW aggregate
    // broadcasts into the decile fold (1)
    "q_pareto_share" -> 1,
    // emb_pca_project: the Dim-row direction table crosses its own
    // single-row max, then collapses to ONE broadcast array row joined
    // into the scoring pass (the labelOutliers centroid shape) (2)
    "emb_pca_project" -> 2,
    // emb_silhouette: every row crosses the |labels|-row broadcast
    // centroid table to score all K candidate distances (1)
    "emb_silhouette" -> 1,
    // emb_ivf_balance: the ann_ivf_trained assignment stage verbatim —
    // the kmeansStep init cross + the trained-codebook argmax cross (2)
    "emb_ivf_balance" -> 2,
    // q_peak_concurrency: the single-row max broadcasts back into the
    // sweep for the earliest-peak extraction (1)
    "q_peak_concurrency" -> 1,
    // mqtt_stale_topics: the newest-message single-row aggregate
    // broadcasts back into the topic-age fold (1)
    "mqtt_stale_topics" -> 1,
    // text_bm25_topk: the corpus (N, total_len) SINGLE-ROW aggregate
    // broadcasts into the query-term selection and the scoring pass (the
    // text_tfidf shape, twice) (2)
    "text_bm25_topk" -> 2,
    // text_bm25_delta: the refresh's merged (N, total_len) stats are the
    // SUM of two single-row aggregates (old frozen + delta), so each of
    // the serve and selection stat crosses (text_bm25_topk's 2) carries
    // one additional single-row old×delta cross inside it (4)
    "text_bm25_delta" -> 4,
    // ann_hybrid_rrf: inherits the bm25 leg's two single-row stat
    // crosses (2) + the exact-cosine leg's nq-broadcast cross
    // (ann_brute_force's count) (1); the fusion itself is a full-outer
    // equi-join of two nq x depth frames
    "ann_hybrid_rrf" -> 3)
  test("no driver query plans a cartesian or nested-loop join") {
    // eager (streaming/iterative) queries are skipped by their catalog
    // flag — see SparkEntry.Query for the rationale. A query whose build
    // starts a stream but lacks the flag would have this audit replay the
    // stream and then assert on nothing, so the listener records every
    // stream started while the frames are built: QueryStartedEvent reaches
    // it before `start()` returns, while `building` still names the query.
    val building = new AtomicReference[String]
    val startedBy = new ConcurrentLinkedQueue[String]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = startedBy.add(building.get)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val offenders =
      try SparkEntry.catalog.filterNot(_.eager).flatMap { q =>
        building.set(q.name)
        val plan = q.run(spark, sf0001).queryExecution.executedPlan.toString
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
        val nested = bnlj > allowedNestedLoops.getOrElse(q.name, 0)
        val cartesian = plan.contains("CartesianProduct")
        if (nested || cartesian) Some(q.name) else None
      } finally spark.streams.removeListener(listener)
    assert(startedBy.isEmpty, "queries without the eager flag started a stream " +
      s"when built: ${startedBy.asScala.toSeq.distinct.mkString(", ")}")
    assert(offenders.isEmpty, s"scale-killer joins in: $offenders")
  }

  // Per-table ceilings on how many columns ANY driver query's parquet scan
  // may read — the suite-enforced projection-pushdown bound over every
  // non-eager plan. Small dims allow their full width (pruning them is
  // immaterial); the fact tables sit at the widest LEGITIMATE current
  // reader, so a query that suddenly drags an extra column (e.g. `text` or
  // `props`) through a scan fails here before it ships. Raising a ceiling
  // is a conscious act, with the new reader named in this comment.
  // lineitem (11 cols): q1_pricing_summary aggregates 7. events (6 incl.
  // the props map): mqtt_messages materializes 5; nothing reads all 6.
  // documents (5): pipeline_clean_corpus needs doc_id+text+lang+source (4);
  // weighted/priority samplers read n_chars INSTEAD of text, never both
  // beyond 4. embeddings/region/nation/supplier/customer: full width.
  private val maxScanCols = Map(
    "lineitem" -> 7, "orders" -> 4, "events" -> 5, "documents" -> 4,
    "part" -> 6, "customer" -> 5, "supplier" -> 4, "nation" -> 3,
    "region" -> 2, "embeddings" -> 3)

  // Per-QUERY ceiling overrides — the conscious full-width exceptions,
  // named so the per-table cap stays tight for everyone else.
  // pipeline_dataset_card (round 16): the datasheet summarizes EVERY
  // documents column (tokens + dup hash from text, chars from n_chars,
  // diversity from lang/source) — the one legitimate 5-column reader.
  private val queryScanCols = Map(("pipeline_dataset_card", "documents") -> 5)

  /** Top-level field count of a ReadSchema struct body (fields like
    * `props:map<string,string>` carry commas inside angle brackets).
    */
  private def topLevelCols(s: String): Int = {
    if (s.isEmpty) return 0
    var depth = 0; var n = 1
    s.foreach {
      case '<' => depth += 1
      case '>' => depth -= 1
      case ',' if depth == 0 => n += 1
      case _ => ()
    }
    n
  }

  test("parquet scans prune columns in EVERY driver query plan") {
    val scanRe = "FileScan parquet [^\\n]*?/(\\w+)\\.parquet[^\\n]*?ReadSchema: struct<([^\\n]*)>".r
    var scansSeen = 0
    val offenders = SparkEntry.catalog.filterNot(_.eager)
      .flatMap { q =>
        val plan = q.run(spark, sf0001).queryExecution.executedPlan.toString
        scanRe.findAllMatchIn(plan).flatMap { m =>
          scansSeen += 1
          val (table, cols) = (m.group(1), topLevelCols(m.group(2)))
          val cap = queryScanCols.getOrElse((q.name, table),
            maxScanCols.getOrElse(table, 0))
          if (cols > cap) Some(s"${q.name} reads $cols cols of $table (cap $cap): ${m.group(2)}")
          else None
        }
      }
    assert(scansSeen > 100, s"scan extraction broke: only $scansSeen scans matched")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
