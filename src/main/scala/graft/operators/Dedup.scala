package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF, TextSql => TS, VectorFunctions => VF, VectorSql => VS}

/** Document deduplication for large-scale training-data pipelines: exact,
  * fingerprint (token-set), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (the 100 TB story — these are the operators that exist
  * precisely because quadratic all-pairs comparison is impossible):
  *  - exact / fingerprint: one hash-shuffle groupBy on a 32-byte key; fully
  *    map-side-combinable.
  *  - MinHash+LSH: per-doc signatures computed in a single narrow pass
  *    (array exprs, no explode until banding); candidate generation is an
  *    equi-join on band keys — only docs sharing a band ever meet, so the
  *    shuffle is O(docs x bands), never O(docs^2). Skewed mega-buckets are the
  *    known hazard; AQE skew-join handles moderate skew and the `maxBucket`
  *    cap hard-bounds degenerate ones (band buckets larger than `maxBucket`
  *    are dropped from candidate generation — see [[minhashLsh]]).
  *  - SimHash: 64-bit signature per doc in one pass (bit-majority over token
  *    hashes), then banded equi-join on 15-bit sub-keys; hamming verification
  *    is a codegen'd xor+bit_count.
  *  - n-gram Jaccard: exploded shingle inverted index + equi-join on shingle,
  *    with a document-frequency cap (`maxShingleDf`) dropping stop-shingles —
  *    one hot trigram otherwise creates a mega-bucket whose self-join is
  *    quadratic in its document frequency (the skewed-key scale-killer).
  *  - embedding near-dup: multi-table sign-LSH candidate generation
  *    (equi-join on bucket, never all-pairs), cosine-verified.
  * All constants (hash seeds, band shapes) are shared with the DuckDB-SQL
  * mirror [[DedupSql]] so Spark results and the oracle match bit-for-bit.
  */
object Dedup {

  // --- shared constants (also baked into DedupSql) -------------------------
  val Prime: Long = 2147483647L
  val NumHashes = 32
  val Bands = 8
  val Rows = 4 // NumHashes / Bands
  val ShingleN = 3
  def hashA(i: Int): Long = ((1103515245L * (i + 1) + 12345L) % (1L << 30)) | 1L
  def hashB(i: Int): Long = (69069L * (i + 1) + 1L) % (1L << 30)
  val SimHashBits = 60 // from 15 hex chars of md5 (fits int64, stays positive)
  val SimHashBands = 4 // 4 x 15-bit sub-keys
  val MaxHamming = 3
  val MaxBucket = 64 // LSH band-bucket size cap (skew hard bound)
  val MaxShingleDf = 128 // stop-shingle document-frequency cap

  /** Probe-id space ceiling for the additive probe-family offsets (1e6
    * normalized, 2e6 fuzzy/token-edit, 3e6 containment, 4e6 exact, 5e6
    * old-twin): an additive offset aliases real documents once the corpus
    * id space reaches the offset spacing (a real doc_id 1,000,013 collides
    * with the normalized family's probe of doc 13, cross-linking two probe
    * families into one false duplicate group), so every probe generator
    * routes its offset through [[probeId]], which enforces
    * `0 <= doc_id < ProbeIdSpace` AT ROW TIME — a violating corpus fails
    * loudly instead of silently corrupting the fixtures. The guard is a
    * codegen'd per-row branch over the probe SUBSET only (never the full
    * corpus scan), and on any corpus satisfying the constraint it is
    * behaviorally invisible, so the guard-free oracle mirrors stay
    * bit-identical.
    */
  val ProbeIdSpace = 1000000L

  private[graft] def probeId(offset: Long): Column =
    when(col("doc_id") >= 0 && col("doc_id") < ProbeIdSpace,
        col("doc_id") + offset)
      .otherwise(raise_error(concat(
        lit(s"probe-id offset $offset aliases corpus doc_id "),
        col("doc_id").cast("string"))).cast("long"))
  val NearDupTables = 4 // sign-LSH OR-amplification tables for embeddings

  /** Skew hard bound shared by every banded/inverted-index operator: drop
    * ALL rows of groups holding more than `cap` rows of `keyCol` (a
    * degenerate bucket is quadratic in its size under a self-join), with the
    * dropped-row count surfaced as an observe() metric — caps are never
    * silent (read via QueryExecutionListener). One window count over the
    * same hash partitioning the downstream self-join shuffles on.
    */
  private[operators] def capGroups(df: DataFrame, keyCol: String, cap: Int,
      metricName: String, metricCol: String): DataFrame =
    df.withColumn("__cnt", count("*")
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))))
      .observe(metricName,
        sum(when(col("__cnt") > cap, 1L).otherwise(0L)).as(metricCol))
      .filter(col("__cnt") <= cap)
      .drop("__cnt")

  /** Exact dedup: group identical normalized text, keep the smallest doc_id.
    * Emits one row per distinct content with its representative and
    * multiplicity. groupBy on md5 -> partial aggregation map-side, one
    * shuffle of (32-byte key, few counters) regardless of document size.
    */
  /** The ONE exact-content hash spelling (shared with
    * [[DedupSourceReport]] so the per-source rates can never disagree
    * with the dedup they predict).
    */
  private[operators] def contentHash(text: Column): Column =
    md5(trim(text).cast("binary"))

  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))

  /** Probe fixture for [[normalizedDups]]: every 250th document gains a
    * shouted twin — ASCII-upcased via explicit `translate` (locale-free,
    * mirror-exact in both engines) with trailing punctuation — whose
    * CANONICAL form is byte-identical to the original's, so the oracle row
    * asserts non-zero normalized duplicate groups (the raw corpus has none;
    * a 0==0 row would verify nothing). Probe ids ride [[probeId]], which
    * ENFORCES doc_id < [[ProbeIdSpace]] at row time.
    */
  def normProbeAugmented(docs: DataFrame): DataFrame = {
    val az = "abcdefghijklmnopqrstuvwxyz"
    val base = docs.select(col("doc_id"), col("text"))
    base.unionAll(
      base.filter(col("doc_id") % 250 === 7)
        .select(probeId(1000000L).as("doc_id"),
          concat(translate(col("text"), az, az.toUpperCase), lit(" !!!"))
            .as("text")))
  }

  /** Canonical-form dedup: exact dedup over [[TextAnalysis.normalize]]'s
    * canonical hash, catching the case/punctuation/whitespace variants that
    * byte-exact dedup misses (SHOUTED reposts, trailing "!!!", smart-quote
    * swaps). Same asymptotics as [[exact]]: the normalization is narrow and
    * codegen'd, then ONE map-side-combined shuffle of (32-byte key, two
    * counters) — document bodies never shuffle.
    */
  def normalizedDups(docs: DataFrame): DataFrame =
    TextAnalysis.normalize(docs)
      .select(col("doc_id"), col("norm_hash"))
      .groupBy("norm_hash")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))

  /** Quality-ranked duplicate-cluster representative selection: for every
    * canonical-form duplicate group, keep the HIGHEST-QUALITY copy instead of
    * [[normalizedDups]]'s arbitrary min-id — the rule production corpus
    * pipelines actually want, because the surviving copy is the one that
    * enters training (a clean original should beat its shouted,
    * punctuation-mangled repost).
    *
    * Quality is an all-INTEGER ppm re-expression of
    * [[TextAnalysis.quality]]'s three factors (length, stopword density,
    * alpha ratio, weighted 4/3/3) — `div` arithmetic end-to-end, so the
    * winner of a cluster can never flip on a float rounding boundary
    * between engines. Selection is `max(struct(q_ppm, -doc_id))`: a single
    * partially-aggregatable max, so the groupBy map-side-combines to one
    * candidate per partition per key and the shuffle carries (32-byte key,
    * one candidate tuple) — document bodies never shuffle, same asymptotics
    * as [[exact]]. A per-group window (rank-and-filter) would give the same
    * answer but shuffle every scored row; the struct-max is the 100 TB
    * spelling. Runs over [[normProbeAugmented]] so duplicate groups exist
    * at every test scale (raw corpora are dup-free).
    */
  def keepBest(docs: DataFrame): DataFrame = {
    val az = "abcdefghijklmnopqrstuvwxyz"
    val collapsed = trim(regexp_replace(regexp_replace(
      translate(col("text"), az.toUpperCase, az), "[^a-z0-9 ]", " "), " +", " "))
    val padded = concat(lit(" "), col("text"), lit(" "))
    val stopHits = Seq(" the ", " a ", " and ", " of ", " to ")
      .map(m => TF.markerCount(padded, m)).reduce(_ + _).cast("long")
    normProbeAugmented(docs)
      .select(col("doc_id"),
        md5(collapsed.cast("binary")).as("norm_hash"),
        TF.nTokens(col("text")).cast("long").as("n_tok"),
        stopHits.as("stop_hits"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
          .as("n_alpha"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("norm_hash"),
        expr("""(least((n_tok * 1000000L) div 64, 1000000L) * 4
               | + least((stop_hits * 10000000L) div greatest(n_tok, 1L), 1000000L) * 3
               | + ((n_alpha * 1000000L) div greatest(n_chars, 1L)) * 3) div 10"""
          .stripMargin).as("q_ppm"))
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("n_copies"),
        max(struct(col("q_ppm"), (-col("doc_id")).as("neg_id"))).as("best"))
      .filter(col("n_copies") >= 2)
      .select(col("norm_hash"), (-col("best.neg_id")).as("keep_id"),
        col("best.q_ppm").as("q_ppm"), col("n_copies"))
      .orderBy("norm_hash")
  }

  /** Passage chunk size for sub-document exact dedup. 8 tokens is small
    * enough that planted near-dup documents share aligned chunks and large
    * enough that chance collisions are negligible at any scale (the chunk
    * space is vocabulary^8).
    */
  val PassageTokens = 8

  /** Sub-document exact dedup: chunk every document into fixed
    * [[PassageTokens]]-token aligned windows (stride = width, the
    * "train-data dedup" chunking of Lee et al., Deduplicating Training Data
    * Makes Language Models Better), hash each chunk, and report every
    * passage that occurs in two or more distinct documents. Catches copied
    * boilerplate/quotations that whole-document hashing (exact/fingerprint)
    * misses. The trailing partial chunk is deliberately dropped — a sub-width
    * tail is mostly trivial matches and would make the chunk count
    * text-length-dependent in both engines anyway.
    *
    * Scale shape: the explode emits tokens/width rows per document (narrow,
    * pipelined with the scan); the groupBy on the 32-byte chunk hash
    * partially aggregates map-side, so the one shuffle carries at most the
    * distinct-chunk count per mapper. The >= 2 filter happens after the
    * aggregation (HAVING) — no candidate pair materialization, never
    * all-pairs.
    */
  def passageDups(docs: DataFrame): DataFrame = {
    val w = PassageTokens
    docs
      .select(col("doc_id"), TF.tokens(col("text")).as("__toks"))
      .filter(size(col("__toks")) >= w)
      .select(col("doc_id"), col("__toks"),
        explode(sequence(lit(0L), floor(size(col("__toks")) / w).cast("long") - 1)).as("__i"))
      .select(col("doc_id"),
        md5(array_join(slice(col("__toks"), (col("__i") * w + 1).cast("int"), lit(w)), " ")
          .cast("binary")).as("passage_hash"))
      .groupBy(col("passage_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Fingerprint dedup: like exact, but on the order/duplicate-insensitive
    * sorted-distinct-token fingerprint — catches shuffled/repeated-token dups.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))

  /** Per-doc distinct word-n-gram shingle sets (docs with >= n tokens),
    * as readable strings — the composable/debuggable form.
    */
  def shingleSets(docs: DataFrame, n: Int = ShingleN): DataFrame =
    docs
      .filter(TF.nTokens(col("text")) >= n)
      .select(col("doc_id"), array_distinct(TF.shingles(col("text"), n)).as("sh"))

  /** Per-doc distinct shingle sets as 60-bit md5 hashes via the one-pass
    * native expression [[graft.functions.ShingleHash60]] — the form the heavy
    * operators consume (see that scaladoc for why the composed expression
    * tree is quadratic per doc).
    */
  def hashedShingleSets(docs: DataFrame, n: Int = ShingleN,
      extra: Seq[String] = Nil): DataFrame =
    docs
      .filter(TF.nTokens(col("text")) >= n)
      .select(col("doc_id") +: extra.map(col) :+
        graft.functions.ShingleHash60(col("text"), n).as("sh"): _*)

  /** n-gram Jaccard near-dup pairs via an inverted shingle index:
    * explode -> equi-join on shingle -> count common -> |A∪B| arithmetic.
    * Output: (doc_a, doc_b, jaccard) for pairs >= threshold.
    *
    * Stop-shingle cap: a shingle present in f documents contributes O(f^2)
    * joined pairs, so one corpus-common trigram makes the self-join quadratic
    * (skewed-key shuffle). Shingles with document frequency > `maxShingleDf`
    * are dropped from the index AND from the set sizes — the standard
    * stopword treatment, mirrored exactly in the oracle so Jaccard values
    * stay bit-identical. Sizes are counted from the capped index, so both
    * numerator and denominator see the same universe.
    */
  /** Shingle document-frequency profile — the curve that JUSTIFIES
    * [[MaxShingleDf]]: per df decade (0-9 docs, 10-99, ...), how many
    * distinct shingles sit there and how many index postings they carry.
    * A shingle at df f contributes O(f²) candidate pairs to the inverted
    * self-join, so the top decades' posting mass is exactly the work the
    * stop-shingle cap deletes — a pipeline owner reads this before moving
    * the cap, instead of guessing. Decade spelling is the house integer
    * log10 ([[GapHistogram]]/Zipf rule: length(CAST) - 1).
    *
    * Scale shape: the inverted index explode is the certified
    * [[hashedShingleSets]] stage; df is ONE map-side-combined count per
    * shingle key, and the profile folds to the ~log10(max df) decade
    * domain. Nothing here is pair-quadratic — the profile prices the
    * quadratic risk without incurring it.
    */
  def shingleDfProfile(docs: DataFrame, n: Int = ShingleN): DataFrame =
    hashedShingleSets(docs, n)
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .select((length(col("df").cast("string")) - 1).cast("long")
        .as("df_decade"), col("df"))
      .groupBy(col("df_decade"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("n_postings"), max(col("df")).as("max_df"))
      .orderBy(col("df_decade"))

  /** The UNTHRESHOLDED scored co-shingle pairs — one spelling shared by
    * [[ngramJaccard]] (which filters it) and the Jaccard histogram (which
    * bands the whole curve): (doc_a, doc_b, common, sz_a, sz_b, jaccard).
    */
  private[graft] def jaccardScoredPairs(docs: DataFrame, n: Int = ShingleN,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    // 60-bit hashed shingles: 8-byte shuffle keys instead of ~20-byte strings;
    // collision odds even over 10^8 distinct shingles are ~1e-2 corpus-wide,
    // so counts match the string-keyed oracle
    val sets = Caching.cached(hashedShingleSets(docs, n))
    val inv0 = sets.select(col("doc_id"), explode(col("sh")).as("s"))
    // stop-shingle document-frequency cap — no driver-side hot list (a
    // broadcast of the stop-shingle set would grow with corpus size at 100 TB)
    val inv = capGroups(inv0, "s", maxShingleDf,
      "ngram_jaccard_caps", "dropped_postings")
    val sizes = inv.groupBy("doc_id").agg(count("*").as("sz"))
    val common = inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count("*").as("common"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("common"),
        col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"),
        (col("common").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("common")).cast("double"))
          .as("jaccard"))
  }

  def ngramJaccard(docs: DataFrame, threshold: Double = 0.4, n: Int = ShingleN,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    jaccardScoredPairs(docs, n, maxShingleDf)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Probe fixture for [[ngramContainment]]: every 200th sufficiently-long
    * document gains a PREFIX-HALF twin (first half of its tokens, re-joined
    * with single spaces — a prefix's shingles are a strict subset of the
    * original's, so the pair's containment is 1.0 by construction). The raw
    * corpus has no guaranteed subset-duplicates, so without probes the
    * oracle row could be a vacuous 0==0. Probe ids ride [[probeId]], which
    * ENFORCES doc_id < [[ProbeIdSpace]] at row time.
    */
  def containmentProbeAugmented(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    val toks = TF.tokens(col("text"))
    val base = docs.select(col("doc_id"), col("text"))
    base.unionAll(
      docs.filter(col("doc_id") % 200 === 11 && size(toks) >= 2 * n)
        .select(probeId(3000000L).as("doc_id"),
          array_join(slice(toks, lit(1), (size(toks) / 2).cast("int")), " ")
            .as("text")))
  }

  /** Asymmetric n-gram CONTAINMENT dedup — the subset-duplicate detector
    * Jaccard structurally misses: a short document fully quoted inside a
    * long one has jaccard ≈ |short|/|long| (arbitrarily small) but
    * containment |A∩B| / min(|A|,|B|) = 1. The standard screen for
    * quotation/excerpt/prefix duplicates in training corpora.
    *
    * Same scale machinery as [[ngramJaccard]] — cached hashed shingle
    * sets, df-capped inverted index (no driver-side hot list), candidate
    * generation via the posting self-join, never all-pairs — only the
    * denominator differs (least of the two capped set sizes).
    */
  def ngramContainment(docs: DataFrame, threshold: Double = 0.6,
      n: Int = ShingleN, maxShingleDf: Int = MaxShingleDf): DataFrame = {
    val sets = Caching.cached(hashedShingleSets(docs, n))
    val inv0 = sets.select(col("doc_id"), explode(col("sh")).as("s"))
    val inv = capGroups(inv0, "s", maxShingleDf,
      "ngram_containment_caps", "dropped_postings")
    val sizes = inv.groupBy("doc_id").agg(count("*").as("sz"))
    val common = inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count("*").as("common"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("containment",
        col("common").cast("double") /
          least(col("sa.sz"), col("sb.sz")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** MinHash signatures as per-doc array expressions: NumHashes
    * `array_min(transform(...))` folds over the hashed shingle array — pure
    * map-side, NO explode and NO shuffle (the previous explode + 32-way
    * min-aggregate form paid a groupBy exchange; measured 5x slower than
    * this at sf0.1 once the sets are materialized).
    *
    * CONTRACT: `sets` must be a materialization-backed frame
    * ([[Caching.cached]] / a scanned source) — on a raw expression plan,
    * projection collapse re-inlines the md5 shingle hashing into every one
    * of the NumHashes transforms: 32x the hashing work (measured 50s vs
    * sub-second on sf0.001). [[minhashLsh]] passes its cached sets.
    */
  def minhashSignatures(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), signatureExpr.as("mh"))

  /** The ONE signature-array spelling over a cached `sh` column.
    * MinHash x-values are the first 32 md5 bits == hash60 >>> 28, so the
    * hashed shingle array feeds signatures directly (no re-hashing).
    */
  private def signatureExpr: Column = signatureOf(col("sh"))

  /** The same signature fold over an explicit hashed-shingle column — the
    * form the streaming delta screen applies to its file-scan-backed probe
    * rows ([[graft.streaming.StreamingDedupDelta]]); expression-identical
    * to [[signatureExpr]] by construction.
    */
  private[graft] def signatureOf(sh: Column): Column = {
    val perms = (0 until NumHashes).map { i =>
      array_min(transform(sh, x =>
        (lit(hashA(i)) * shiftright(x, 28) + lit(hashB(i))) % lit(Prime)))
    }
    array(perms: _*)
  }

  /** (doc_id, sh, mh) in ONE projection over cached sets — the combined
    * per-doc payload [[MinhashCalibration]] fetches once per pair SIDE
    * (two equi-joins) instead of once per pair FIELD (the four-join form
    * paid two extra doc-keyed shuffles and replayed the signature
    * computation per consumer). Same [[minhashSignatures]] contract: the
    * input must be materialization-backed or projection collapse
    * re-inlines the md5 shingle hashing into all NumHashes transforms.
    */
  private[operators] def setSignaturePayload(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("sh"), signatureExpr.as("mh"))

  /** LSH band keys: "band:h1-h2-h3-h4" strings, one per band. */
  def bandKeys(mh: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)), j =>
      concat_ws("-",
        j.cast("string") +: (1 to Rows).map(k =>
          element_at(mh, j * lit(Rows) + lit(k)).cast("string")): _*))

  /** MinHash+LSH near-dup: candidates = docs sharing >= 1 band, verified with
    * exact Jaccard over the distinct shingle sets. The verification joins are
    * doc_id equi-joins against the (small) candidate-pair set — broadcast.
    *
    * Skew hard bound: a band bucket holding m docs yields m(m-1)/2 candidate
    * pairs, so a degenerate bucket (e.g. a boilerplate-heavy corpus slice
    * collapsing to one signature band) is quadratic. Buckets larger than
    * `maxBucket` are dropped entirely — their members are near-certain
    * duplicate *clusters* better handled by exact/fingerprint dedup, and at
    * 32 hashes x 8 bands a true near-dup pair has 7 other bands to meet in.
    * The bound is a window count over the same bk partitioning the self-join
    * shuffles on (no extra pass over the signature computation), mirrored in
    * the oracle.
    */
  /** Band-bucket candidate pairs over cached shingle sets — the ONE LSH
    * candidate spelling shared by [[minhashLsh]] and
    * [[MinhashCalibration]] (cap counter name varies per caller so the
    * observed-drop metrics stay attributable).
    */
  private[operators] def minhashCandidatePairs(sets: DataFrame,
      maxBucket: Int, capName: String): DataFrame =
    minhashCandidatePairsFromSigs(minhashSignatures(sets), maxBucket, capName)

  /** The same candidate stage over an already-computed (doc_id, mh)
    * signature frame — lets [[MinhashCalibration]] feed its CACHED
    * payload's signatures instead of recomputing them; [[minhashLsh]]'s
    * composition through [[minhashCandidatePairs]] is expression-identical.
    */
  private[operators] def minhashCandidatePairsFromSigs(sigs: DataFrame,
      maxBucket: Int, capName: String): DataFrame = {
    val banded = sigs
      .select(col("doc_id"), explode(bandKeys(col("mh"))).as("bk"))
    val bounded = capGroups(banded, "bk", maxBucket,
      capName, "dropped_band_rows")
    bounded.as("a")
      .join(bounded.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact pair Jaccard (unrounded) — verification is pair-local: fetch
    * each candidate's cached shingle array (two doc_id equi-joins against
    * the doc-sized sets frame) and intersect in place — no exploded
    * inverted-index scan, no per-shingle shuffle. Candidates are bounded
    * by the bucket cap, so the intersection work is O(|cand| x set size)
    * regardless of corpus scale.
    */
  /** The ONE exact pair-Jaccard spelling over two shingle arrays and
    * their precomputed intersection size — shared by [[pairJaccard]] and
    * [[MinhashCalibration]] so the verify arithmetic cannot drift.
    */
  private[graft] def jaccardOf(sha: Column, shb: Column,
      common: Column): Column =
    common.cast("double") / (size(sha) + size(shb) - common).cast("double")

  private[operators] def pairJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    cand
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard",
        jaccardOf(col("sa.sh"), col("sb.sh"), col("common")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  def minhashLsh(docs: DataFrame, threshold: Double = 0.5, n: Int = ShingleN,
      maxBucket: Int = MaxBucket): DataFrame = {
    val sets = Caching.cached(hashedShingleSets(docs, n))
    val cand = minhashCandidatePairs(sets, maxBucket, "minhash_lsh_caps")
    pairJaccard(cand, sets)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Fuzzy-dedup block width (tokens) and edit-distance threshold. */
  val FuzzyBlockTokens = 8

  val FuzzyMaxDist = 4

  /** Probe fixture for [[fuzzyDups]]: every 250th document gains a
    * TAIL-edited twin (" zz" suffix, distance 3) and every 250th-offset-13
    * a HEAD-edited twin ("zz " prefix, distance 3) — one probe per block
    * family, so the oracle row proves BOTH blocking keys recall their
    * guaranteed case (an edit confined to one half leaves the other
    * half's block key intact). Probe ids ride [[probeId]], which ENFORCES
    * doc_id < [[ProbeIdSpace]] at row time.
    */
  def fuzzyProbeAugmented(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    base
      .unionAll(base.filter(col("doc_id") % 250 === 7)
        .select(probeId(1000000L).as("doc_id"),
          concat(col("text"), lit(" zz")).as("text")))
      .unionAll(base.filter(col("doc_id") % 250 === 13)
        .select(probeId(2000000L).as("doc_id"),
          concat(lit("zz "), col("text")).as("text")))
  }

  /** Blocked EDIT-DISTANCE near-dup pairs — the character-level fuzzy
    * screen the token-set family (jaccard/containment/minhash) cannot
    * express: `levenshtein(a, b) <= maxDist` catches small in-place edits
    * (typo fixes, suffix stamps, injected bylines) that can perturb many
    * shingles at once.
    *
    * Scale shape: never all-pairs. Candidates come from TWO blocking keys
    * per doc — the first [[FuzzyBlockTokens]] tokens and the last — so any
    * pair whose edits are confined to one half shares the other half's
    * key verbatim (the recall guarantee for single-region edits; crossing
    * edits need the token-set family, which runs alongside). Blocks are
    * bucket-capped like the LSH bands (observed, never silent), candidate
    * verification joins the two texts back by doc_id (document bodies
    * never ride the block explode), a length pre-filter skips the DP for
    * pairs that cannot be within range, and the Spark side runs the
    * THRESHOLD form of levenshtein (early-exit banded DP, O(maxDist x n)
    * per pair instead of O(n^2)).
    */
  def fuzzyDups(docs: DataFrame, maxDist: Int = FuzzyMaxDist,
      maxBucket: Int = MaxBucket): DataFrame = {
    val base = Caching.cached(docs.select(col("doc_id"), col("text")))
    val toks = TF.tokens(col("text"))
    val head = concat_ws(" ", slice(toks, lit(1), lit(FuzzyBlockTokens)))
    val tail = concat_ws(" ", slice(toks,
      greatest(size(toks) - lit(FuzzyBlockTokens - 1), lit(1)),
      lit(FuzzyBlockTokens)))
    val blocks = base.select(col("doc_id"), explode(array(
      TF.hash60(concat(lit("fzh:"), head)),
      TF.hash60(concat(lit("fzt:"), tail)))).as("bk"))
    val bounded = capGroups(blocks, "bk", maxBucket,
      "fuzzy_caps", "dropped_block_rows")
    val cand = bounded.as("a")
      .join(bounded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(base.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(base.as("tb"), col("doc_b") === col("tb.doc_id"))
      .filter(abs(length(col("ta.text")) - length(col("tb.text"))) <= maxDist)
      .withColumn("dist", levenshtein(col("ta.text"), col("tb.text"), maxDist))
      .filter(col("dist") =!= -1) // threshold form: -1 means "above maxDist"
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** 60-bit SimHash per doc: bit j set iff the (frequency-weighted) majority
    * of token hashes have bit j set. Relational one-pass form: explode tokens,
    * one groupBy(doc) with 60 conditional sums — a single shuffle, fully
    * map-side combinable (the signature is 60 longs per doc in flight).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TF.tokens(col("text"))).as("t"))
      .withColumn("h", TF.hash60(col("t")))
    val bitSums = (0 until SimHashBits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"b$j")
    }
    val sig = (0 until SimHashBits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: banded equi-join on 15-bit sub-keys (a pair with
    * hamming <= 3 over 60 bits must agree on >= 1 of 4 bands), verified with
    * xor + bit_count. Same skew hard bound as [[minhashLsh]]: a band bucket of
    * m signatures yields m(m-1)/2 pairs, so buckets above `maxBucket` (a
    * boilerplate corpus slice collapsing to one sub-key) are dropped — with
    * an observed count, never silently.
    */
  /** (doc_id, simhash, bk) band rows for a signature frame — the banding
    * spelling shared by the intra-snapshot screen and the frozen-index
    * delta screen ([[DedupDelta.simhashDeltaDocuments]]).
    */
  private[graft] def simhashBanded(sigs: DataFrame): DataFrame = {
    val bandWidth = SimHashBits / SimHashBands // 15
    val bandCols = (0 until SimHashBands).map { b =>
      concat_ws(":", lit(b.toString),
        shiftright(col("simhash"), b * bandWidth)
          .bitwiseAND(lit((1L << bandWidth) - 1)).cast("string"))
    }
    sigs.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bk"))
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int = MaxHamming,
      maxBucket: Int = MaxBucket): DataFrame = {
    val banded = capGroups(simhashBanded(simhash(docs)),
      "bk", maxBucket, "simhash_caps", "dropped_band_rows")
    banded.as("a")
      .join(banded.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs above a similarity threshold.
    *
    * Candidate generation is multi-table sign-LSH ([[Similarity.tableBucket]],
    * `tables` independent 6-plane hash tables, OR-amplified): vectors meet
    * only inside a (table, bucket) equi-join — the shuffle is O(vectors x
    * tables), never the O(n^2) all-pairs theta-join. At threshold 0.95
    * (18° apart) a pair collides in >= 1 of 4 tables with p ~ 0.95; true
    * duplicates (cos > 0.99) with p > 0.996. The approximation is reproduced
    * identically by the oracle (same deterministic hyperplanes), so recall is
    * itself testable. Candidate pairs are deduped across tables BEFORE the
    * cosine verification, so each surviving pair pays the 64-dim fold once.
    */
  /** VERIFICATION FIXTURE (not a production operator): deterministic near-dup
    * copies (cos = 1) at `vec_id + 1e6` and last-coordinate-negated copies
    * (cos ~ 1 - 2*v_d²/|v|² ~ 0.97 for 64-dim) at `vec_id + 2e6`, for the
    * first `k` vectors. The driver corpus has no natural pairs above the
    * near-dup threshold (max pairwise cos ~ 0.51 at sf0.01), which left the
    * dedup_embedding correctness row vacuous (0 rows == 0 rows — any
    * bucket-parity bug passed undetected). With probes the row asserts
    * non-zero matches: LSH bucket parity, pair dedup across tables, and the
    * cosine fold are all exercised on surviving rows. Sign flips are exact
    * in IEEE floats, so Spark and DuckDB see bit-identical values; the SQL
    * twin is [[DedupSql.probeAugmentedSql]]. The probe id offsets assume the
    * corpus keeps vec_id < 1e6 (true for every driver sf) — this fixture is
    * for oracle verification, not for corpora of arbitrary scale.
    */
  def probeAugmented(emb: DataFrame, k: Int = 4): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val src = base.filter(col("vec_id") < k)
    val copies = src.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val flipped = src.select((col("vec_id") + 2000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === Similarity.Dim - 1, -x).otherwise(x)).as("embedding"))
    base.unionAll(copies).unionAll(flipped)
  }

  /** Multi-table sign-LSH candidate pairs (vec_a < vec_b, deduped across
    * tables before any cosine work) — shared by [[embeddingNearDup]] and
    * [[KnnGraph]].
    */
  private[operators] def lshCandidatePairs(emb: DataFrame,
      tables: Int, planes: Int = Similarity.NumPlanes): DataFrame = {
    // bk encodes (table, bucket) so buckets never collide across tables
    val bucketed = emb.select(col("vec_id"),
      explode(array((0 until tables).map(t =>
        Similarity.tableBucket(col("embedding"), t, planes) + lit(t.toLong << 32)): _*)).as("bk"))
    bucketed.as("a")
      .join(bucketed.as("b"), col("a.bk") === col("b.bk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.95,
      tables: Int = NearDupTables): DataFrame = {
    // norms computed once per vector BELOW the join (projection stays on its
    // side), not once per pair — same doubles, 1/3 the fold work
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      VF.norm(col("embedding")).as("nrm"))
    val cand = lshCandidatePairs(emb, tables)
    cand
      .join(withNorm.as("a"), col("vec_a") === col("a.vec_id"))
      .join(withNorm.as("b"), col("vec_b") === col("b.vec_id"))
      .withColumn("nn", col("a.nrm") * col("b.nrm"))
      .withColumn("cos", when(col("nn") === 0.0, 0.0)
        .otherwise(VF.dot(col("a.embedding"), col("b.embedding")) / col("nn")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
  }
}

/** DuckDB oracle SQL for [[Dedup]] — generated from the same constants. */
object DedupSql {
  import Dedup._

  val exactSql: String =
    """SELECT md5(trim(text)) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1
      |ORDER BY content_hash""".stripMargin

  /** [[exactSql]] restricted to the key column — the oracle for the
    * streaming horizon-scoped twin, whose certified surface is the
    * survivor KEY SET (see StreamingDedup.exactWithinHorizonFromFiles).
    */
  val exactKeySetSql: String =
    """SELECT DISTINCT md5(trim(text)) AS content_hash
      |FROM documents ORDER BY content_hash""".stripMargin

  /** SQL twin of [[Dedup.normProbeAugmented]] + [[Dedup.normalizedDups]]
    * (the canonical-form expression is [[TextAnalysisSql.normalizeSql]]'s,
    * inlined over the probe-augmented corpus).
    */
  val normalizedDupsSql: String = {
    val collapsed = "trim(regexp_replace(regexp_replace(" +
      "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')," +
      " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
       |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!'
       |  FROM documents WHERE doc_id % 250 = 7)
       |SELECT md5($collapsed) AS norm_hash, min(doc_id) AS keep_id,
       |       count(*) AS n_copies
       |FROM aug GROUP BY 1
       |ORDER BY norm_hash""".stripMargin
  }

  /** [[normalizedDupsSql]] restricted to the key column — the oracle for
    * the streaming canonical-dedup twin, whose certified surface is the
    * survivor KEY SET (see
    * StreamingDedup.normalizedWithinHorizonFromFiles).
    */
  val normalizedKeySetSql: String = {
    val collapsed = "trim(regexp_replace(regexp_replace(" +
      "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')," +
      " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
       |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!'
       |  FROM documents WHERE doc_id % 250 = 7)
       |SELECT DISTINCT md5($collapsed) AS norm_hash
       |FROM aug ORDER BY norm_hash""".stripMargin
  }

  /** Mirror of [[Dedup.keepBest]]: same probe augmentation, same canonical
    * form, same all-integer ppm quality (`//` = Spark's `div`), with the
    * struct-max re-derived as a rank-and-filter window (ORDER BY q_ppm
    * DESC, doc_id = the same (q_ppm, -doc_id) total order).
    */
  val keepBestSql: String = {
    val collapsed = "trim(regexp_replace(regexp_replace(" +
      "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')," +
      " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    val nTok = s"CAST(${TS.nTokens("text")} AS BIGINT)"
    val stopHits = Seq(" the ", " a ", " and ", " of ", " to ")
      .map(m => TS.markerCount("(' ' || text || ' ')", m))
      .mkString("CAST((", " + ", ") AS BIGINT)")
    val alpha =
      "CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)"
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    translate(text, 'abcdefghijklmnopqrstuvwxyz',
       |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!'
       |  FROM documents WHERE doc_id % 250 = 7),
       |scored AS (
       |  SELECT doc_id, md5($collapsed) AS norm_hash,
       |    (least(($nTok * 1000000) // 64, 1000000) * 4
       |     + least(($stopHits * 10000000) // greatest($nTok, 1), 1000000) * 3
       |     + (($alpha * 1000000) // greatest(CAST(length(text) AS BIGINT), 1)) * 3)
       |      // 10 AS q_ppm
       |  FROM aug),
       |g AS (
       |  SELECT norm_hash, doc_id, q_ppm,
       |    row_number() OVER (PARTITION BY norm_hash
       |      ORDER BY q_ppm DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY norm_hash) AS n_copies
       |  FROM scored)
       |SELECT norm_hash, doc_id AS keep_id, CAST(q_ppm AS BIGINT) AS q_ppm,
       |  CAST(n_copies AS BIGINT) AS n_copies
       |FROM g WHERE rn = 1 AND n_copies >= 2
       |ORDER BY norm_hash""".stripMargin
  }

  val passageDupsSql: String = {
    val w = PassageTokens
    s"""WITH toks AS (SELECT doc_id, ${TS.tokens("text")} AS t FROM documents),
       |idx AS (SELECT doc_id, t, unnest(range(len(t) // $w)) AS i
       |        FROM toks WHERE len(t) >= $w),
       |chunks AS (SELECT doc_id,
       |    md5(array_to_string(
       |      list_slice(t, CAST(i*$w+1 AS BIGINT), CAST(i*$w+$w AS BIGINT)), ' '))
       |      AS passage_hash
       |  FROM idx)
       |SELECT passage_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(count(*) AS BIGINT) AS n_occ, min(doc_id) AS first_doc
       |FROM chunks GROUP BY passage_hash
       |HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY passage_hash""".stripMargin
  }

  val fingerprintSql: String =
    s"""SELECT ${TS.fingerprint("text")} AS fp, min(doc_id) AS keep_id,
       |       count(*) AS n_copies
       |FROM documents GROUP BY 1
       |ORDER BY fp""".stripMargin

  /** CTE producing (doc_id, sh): distinct shingle sets, mirroring shingleSets. */
  def shingleCte(n: Int = ShingleN, src: String = "documents"): String =
    s"""toks AS (
       |  SELECT doc_id, ${TS.tokens("text")} AS __t FROM $src
       |  WHERE ${TS.nTokens("text")} >= $n),
       |sets AS (
       |  SELECT doc_id, list_distinct(${TS.shingles("text", n)}) AS sh FROM toks)"""
      .stripMargin

  /** Mirror of [[Dedup.shingleDfProfile]] — same shingle sets (string
    * keys stand in for the 60-bit hashes, the certified equivalence of
    * every shingle-family oracle), same decade spelling.
    */
  def shingleDfProfileSql(n: Int = ShingleN): String =
    s"""WITH ${shingleCte(n)},
       |inv AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |df AS (SELECT s, count(*) AS df FROM inv GROUP BY s)
       |SELECT CAST(length(CAST(df AS VARCHAR)) - 1 AS BIGINT) AS df_decade,
       |  count(*) AS n_shingles,
       |  CAST(sum(df) AS BIGINT) AS n_postings,
       |  max(df) AS max_df
       |FROM df GROUP BY 1
       |ORDER BY df_decade""".stripMargin

  def ngramJaccardSql(threshold: Double = 0.4, n: Int = ShingleN,
      maxShingleDf: Int = MaxShingleDf): String =
    s"""WITH ${shingleCte(n)},
       |inv0 AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > $maxShingleDf),
       |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM inv GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
       |FROM common
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SQL twin of [[Dedup.containmentProbeAugmented]] +
    * [[Dedup.ngramContainment]] — [[ngramJaccardSql]]'s machinery over the
    * probe-augmented corpus with the least-size denominator.
    */
  def ngramContainmentSql(threshold: Double = 0.6, n: Int = ShingleN,
      maxShingleDf: Int = MaxShingleDf): String =
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 3000000,
       |    array_to_string(list_slice(${TS.tokens("text")}, 1,
       |      ${TS.nTokens("text")} // 2), ' ')
       |  FROM documents
       |  WHERE doc_id % 200 = 11 AND ${TS.nTokens("text")} >= ${2 * n}),
       |toks AS (
       |  SELECT doc_id, ${TS.tokens("text")} AS __t FROM aug
       |  WHERE ${TS.nTokens("text")} >= $n),
       |sets AS (
       |  SELECT doc_id, list_distinct(${TS.shingles("text", n)}) AS sh FROM toks),
       |inv0 AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |hot AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) > $maxShingleDf),
       |inv AS (SELECT * FROM inv0 WHERE s NOT IN (SELECT s FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM inv GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(CAST(common AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE), 6)
       |         AS containment
       |FROM common
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(least(sa.sz, sb.sz) AS DOUBLE) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private[operators] def minhashExprs: String =
    (0 until NumHashes).map { i =>
      s"list_min(list_transform(hs, x -> (${hashA(i)} * x + ${hashB(i)}) % $Prime))"
    }.mkString("[", ",\n       ", "]")

  private[operators] def bandKeyExpr: String = {
    val parts = (1 to Rows).map(k => s"mh[$Rows*j+$k]::VARCHAR").mkString(" || '-' || ")
    s"list_transform(range($Bands), j -> j::VARCHAR || '-' || $parts)"
  }

  /** The shingle → signatures → banded → bounded → cand CTE chain —
    * ONE spelling shared by [[minhashLshSql]] and the calibration
    * oracle.
    */
  private[operators] def lshCandCtes(n: Int = ShingleN,
      maxBucket: Int = MaxBucket, src: String = "documents"): String =
    s"""${shingleCte(n, src)},
       |hashed AS (SELECT doc_id, sh,
       |  list_transform(sh, s -> ${TS.hash32("s")}) AS hs FROM sets),
       |mh AS (SELECT doc_id, sh, $minhashExprs AS mh FROM hashed),
       |banded AS (SELECT doc_id, unnest($bandKeyExpr) AS bk FROM mh),
       |bounded AS (
       |  SELECT doc_id, bk FROM (
       |    SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz FROM banded)
       |  WHERE bsz <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bounded a JOIN bounded b ON a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  def minhashLshSql(threshold: Double = 0.5, n: Int = ShingleN,
      maxBucket: Int = MaxBucket, src: String = "documents"): String =
    s"""WITH ${lshCandCtes(n, maxBucket, src)},
       |sizes AS (SELECT doc_id, len(sh) AS sz FROM sets),
       |inv AS (SELECT doc_id, unnest(sh) AS s FROM sets),
       |common AS (
       |  SELECT doc_a, doc_b, count(*) AS common
       |  FROM cand
       |  JOIN inv a ON doc_a = a.doc_id
       |  JOIN inv b ON doc_b = b.doc_id AND a.s = b.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       round(CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE), 6) AS jaccard
       |FROM common
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common AS DOUBLE) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SQL twin of [[Dedup.fuzzyProbeAugmented]] + [[Dedup.fuzzyDups]]: same
    * probes, same two block keys, same bucket cap, same length pre-filter
    * and threshold (DuckDB's levenshtein has no threshold form — the
    * unbounded distance filtered to the same <= maxDist emits identical
    * rows).
    */
  def fuzzyDupsSql(maxDist: Int = FuzzyMaxDist,
      maxBucket: Int = MaxBucket): String = {
    val b = FuzzyBlockTokens
    val headKey = TS.hash60(s"('fzh:' || array_to_string(tk[1:$b], ' '))")
    val tailKey = TS.hash60(
      s"('fzt:' || array_to_string(tk[greatest(len(tk)-${b - 1},1):len(tk)], ' '))")
    s"""WITH t AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' zz'
       |    FROM documents WHERE doc_id % 250 = 7
       |  UNION ALL SELECT doc_id + 2000000, 'zz ' || text
       |    FROM documents WHERE doc_id % 250 = 13),
       |tok AS (SELECT doc_id, text, ${TS.tokens("text")} AS tk FROM t),
       |blk AS (
       |  SELECT doc_id, $headKey AS bk FROM tok
       |  UNION ALL
       |  SELECT doc_id, $tailKey AS bk FROM tok),
       |bounded AS (
       |  SELECT doc_id, bk FROM (
       |    SELECT doc_id, bk, count(*) OVER (PARTITION BY bk) AS bsz FROM blk)
       |  WHERE bsz <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bounded a JOIN bounded b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       |d AS (
       |  SELECT doc_a, doc_b, levenshtein(ta.text, tb.text) AS dist
       |  FROM cand
       |  JOIN t ta ON doc_a = ta.doc_id
       |  JOIN t tb ON doc_b = tb.doc_id
       |  WHERE abs(length(ta.text) - length(tb.text)) <= $maxDist)
       |SELECT doc_a, doc_b, CAST(dist AS INT) AS dist
       |FROM d WHERE dist <= $maxDist ORDER BY doc_a, doc_b""".stripMargin
  }

  /** One tokenize→bit-majority→signature chain under a CTE-name prefix
    * over source relation `src`, ending in `${p}sigs(doc_id, simhash)` —
    * shared by the intra-snapshot oracle and the delta-screen oracle
    * ([[DedupDeltaSql]]), so the signature spelling cannot drift.
    */
  private[operators] def simhashChain(p: String, src: String): String = {
    val bitCase = (0 until SimHashBits)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n    ")
    val sig = (0 until SimHashBits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""${p}tok AS (
       |  SELECT doc_id, ${TS.hash60("unnest(" + TextSqlTokens + ")")} AS h
       |  FROM $src),
       |${p}bits AS (
       |  SELECT doc_id,
       |    $bitCase
       |  FROM ${p}tok GROUP BY doc_id),
       |${p}sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM ${p}bits)"""
      .stripMargin
  }

  /** The banded sub-key expression over a `simhash` column, mirroring
    * [[Dedup.simhashBanded]] — shared with [[DedupDeltaSql]].
    */
  private[operators] def simhashBandExpr: String = {
    val bandWidth = SimHashBits / SimHashBands
    val mask = (1L << bandWidth) - 1
    s"unnest(list_transform(range($SimHashBands),\n    " +
      s"b -> b::VARCHAR || ':' || (((simhash >> (b * $bandWidth)) & $mask))::VARCHAR))"
  }

  /** CTE producing (doc_id, simhash), mirroring [[Dedup.simhash]]. */
  val simhashCte: String = simhashChain("", "documents")
  private def TextSqlTokens: String = TS.tokens("text")

  /** The whole simhash pair pipeline as a CTE chain ending in
    * `pairs(doc_a, doc_b, hamming)` — shared by the pair query and the
    * cluster oracle.
    */
  def simhashPairsCte(maxHamming: Int = MaxHamming,
      maxBucket: Int = MaxBucket): String = {
    s"""$simhashCte,
       |banded AS (
       |  SELECT doc_id, simhash, $simhashBandExpr AS bk
       |  FROM sigs),
       |bounded AS (
       |  SELECT doc_id, simhash, bk FROM (
       |    SELECT doc_id, simhash, bk, count(*) OVER (PARTITION BY bk) AS bsz
       |    FROM banded)
       |  WHERE bsz <= $maxBucket),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM bounded a JOIN bounded b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming)""".stripMargin
  }

  def simhashPairsSql(maxHamming: Int = MaxHamming,
      maxBucket: Int = MaxBucket): String =
    s"""WITH ${simhashPairsCte(maxHamming, maxBucket)}
       |SELECT doc_a, doc_b, hamming FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SQL twin of [[Dedup.probeAugmented]] (DuckDB lambda index is 1-based,
    * so the last coordinate is `i = Dim`).
    */
  def probeAugmentedSql(k: Int = 4): String =
    s"""SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < $k
       |  UNION ALL
       |  SELECT vec_id + 2000000,
       |    list_transform(embedding,
       |      (x, i) -> CASE WHEN i = ${Similarity.Dim} THEN -x ELSE x END)
       |  FROM embeddings WHERE vec_id < $k""".stripMargin

  def embeddingNearDupSql(threshold: Double = 0.95,
      tables: Int = NearDupTables): String = {
    val bucketList = (0 until tables)
      .map(t => s"${SimilaritySql.tableBucketSql("embedding", t)} + ${t.toLong << 32}")
      .mkString("[", ",\n  ", "]")
    s"""WITH emb_aug AS (
       |  ${probeAugmentedSql()}),
       |bucketed AS (
       |  SELECT vec_id, unnest($bucketList) AS bk FROM emb_aug),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bucketed a JOIN bucketed b ON a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b,
       |       round(${VS.cosine("a.embedding", "b.embedding")}, 6) AS cos
       |FROM cand
       |JOIN emb_aug a ON vec_a = a.vec_id
       |JOIN emb_aug b ON vec_b = b.vec_id
       |WHERE ${VS.cosine("a.embedding", "b.embedding")} >= $threshold
       |ORDER BY vec_a, vec_b""".stripMargin
  }
}
