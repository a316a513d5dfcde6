package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, KmvSketch, MqttTopicMatches, RepetitionStats, ShingleHash60, SquaredDistance, TokenPositions, TopKAgg, WinnowFingerprints}

/** SQL surface for graft's native Catalyst expressions
  * (`spark.sql.extensions=graft.GraftExtensions`, or a builder's
  * `withExtensions(new GraftExtensions)`, as [[Session.local]] does):
  *
  *  - `mqtt_topic_matches(topic, filter)` — MQTT `+`/`#` subscription
  *    matching (the reference's broker-side filter, usable in WHERE);
  *  - `dot_product(a, b)` — codegen'd dense dot product over float/double
  *    arrays (the embedding-similarity hot loop);
  *  - `shingle_hash60(text, n)` — per-document distinct word-n-gram 60-bit
  *    hash set (the dedup shingling primitive); `n` must be a literal;
  *  - `repetition_stats(text)` — one-pass (n_tokens, n_distinct_tokens,
  *    max_bigram_count) struct (the text-quality repetition signals);
  *  - `squared_distance(a, b)` — codegen'd squared L2 over float/double
  *    arrays (the PQ/ADC hot loop);
  *  - `winnow_fingerprints(text, k, w)` — winnowing/MOSS passage
  *    fingerprints (sorted distinct w-window minima over the ordered
  *    k-gram hash sequence); `k` and `w` must be literals;
  *  - `kmv_kth(hash, k)` — KMV bottom-k distinct sketch AGGREGATE over
  *    int64 hashes, returning struct(n_kept, kth_hash); `k` must be a
  *    literal >= 2 (the UDAF half of the extension surface);
  *  - `top_k_pairs(value, id, k)` — bounded exact top-k AGGREGATE by
  *    (value DESC, id ASC) over int64 pairs, returning the rank-ordered
  *    array<struct(value, id)>; `k` must be a literal >= 1;
  *  - `token_positions(text)` — one-pass tokenizing GENERATOR emitting
  *    (pos, token) rows (the UDTF half; usable in LATERAL VIEW and the
  *    select list like any built-in generator).
  *
  * With these registered, a SQL-only user can run the engine's custom
  * operators without touching the Scala API — e.g.
  * `SELECT * FROM mqtt_messages WHERE mqtt_topic_matches(topic, 'tele/+/7')`
  * plans the same whole-stage-codegen'd predicate as the Column form.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("mqtt_topic_matches"),
      new ExpressionInfo(classOf[MqttTopicMatches].getName, "mqtt_topic_matches"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "mqtt_topic_matches(topic, filter)")
        MqttTopicMatches(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(a, b)")
        DotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "shingle_hash60(text, n) — n must be a literal")
        val n = children(1).eval(null) match {
          case num: Number => num.intValue()
          case other => throw new IllegalArgumentException(
            s"shingle_hash60(text, n): n must be a non-null integer literal, got $other")
        }
        ShingleHash60(children(0), n)
      }))
    ext.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "repetition_stats(text)")
        RepetitionStats(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("squared_distance"),
      new ExpressionInfo(classOf[SquaredDistance].getName, "squared_distance"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "squared_distance(a, b)")
        SquaredDistance(children(0), children(1))
      }))
    def intLit(e: Expression, what: String): Int = {
      require(e.foldable, s"$what must be a literal")
      e.eval(null) match {
        case num: Number => num.intValue()
        case other => throw new IllegalArgumentException(
          s"$what must be a non-null integer literal, got $other")
      }
    }
    ext.injectFunction((
      FunctionIdentifier("winnow_fingerprints"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fingerprints"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "winnow_fingerprints(text, k, w)")
        val k = intLit(children(1), "winnow_fingerprints k")
        val w = intLit(children(2), "winnow_fingerprints w")
        // fail at analysis time: w < 1 would walk the executor-side window
        // loop out of the hash-array bounds, k < 1 is not a shingle size
        require(k >= 1 && w >= 1,
          s"winnow_fingerprints(text, k, w): k and w must be >= 1, got k=$k w=$w")
        WinnowFingerprints(children(0), k, w)
      }))
    ext.injectFunction((
      FunctionIdentifier("kmv_kth"),
      new ExpressionInfo(classOf[KmvSketch].getName, "kmv_kth"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "kmv_kth(hash, k)")
        val k = intLit(children(1), "kmv_kth k")
        // fail at analysis time: the buffer math needs a real capacity
        require(k >= 2, s"kmv_kth(hash, k): k must be >= 2, got $k")
        KmvSketch(children(0), k).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKAgg].getName, "top_k_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "top_k_pairs(value, id, k)")
        val k = intLit(children(2), "top_k_pairs k")
        // fail at analysis time: the buffer math needs a real capacity
        require(k >= 1, s"top_k_pairs(value, id, k): k must be >= 1, got $k")
        TopKAgg(children(0), children(1), k).toAggregateExpression()
      }))
    ext.injectFunction((
      FunctionIdentifier("token_positions"),
      new ExpressionInfo(classOf[TokenPositions].getName, "token_positions"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "token_positions(text)")
        TokenPositions(children(0))
      }))
  }
}
