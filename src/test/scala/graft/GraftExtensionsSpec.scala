package graft

/** The SQL function surface injected by [[GraftExtensions]]: a SQL-only user
  * gets the engine's native expressions with identical semantics (and the
  * same codegen'd plans) as the Column API.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("mqtt_topic_matches is callable from SQL with MQTT wildcard semantics") {
    import spark.implicits._
    Seq("tele/dev/SENSOR", "tele/a/b/SENSOR", "stat/dev/POWER", "tele")
      .toDF("topic").createOrReplaceTempView("topics")
    val got = spark.sql(
      "SELECT topic FROM topics WHERE mqtt_topic_matches(topic, 'tele/+/SENSOR')")
      .as[String].collect().toSet
    assert(got == Set("tele/dev/SENSOR")) // '+' is exactly one level
    val hash = spark.sql(
      "SELECT topic FROM topics WHERE mqtt_topic_matches(topic, 'tele/#')")
      .as[String].collect().toSet
    assert(hash == Set("tele/dev/SENSOR", "tele/a/b/SENSOR", "tele")) // '#' incl. parent
  }

  test("dot_product from SQL equals the fold definition") {
    val row = spark.sql(
      """SELECT dot_product(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d,
        |       aggregate(zip_with(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F),
        |         (x, y) -> double(x) * double(y)), 0.0D, (acc, x) -> acc + x) AS ref
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 32.0 && row.getDouble(0) == row.getDouble(1))
  }

  test("shingle_hash60 from SQL equals the Column form") {
    import spark.implicits._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    df.createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql("SELECT shingle_hash60(text, 3) AS sh FROM docs_ext")
      .as[Seq[Long]].collect()(0)
    val viaCol = df.select(graft.functions.ShingleHash60(
      org.apache.spark.sql.functions.col("text"), 3).as("sh"))
      .as[Seq[Long]].collect()(0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("repetition_stats from SQL returns the one-pass struct") {
    import spark.implicits._
    Seq((1L, "spam spam spam")).toDF("doc_id", "text")
      .createOrReplaceTempView("docs_rep")
    val row = spark.sql(
      """SELECT s.n_tokens, s.n_distinct_tokens, s.max_bigram_count
        |FROM (SELECT repetition_stats(text) AS s FROM docs_rep)""".stripMargin)
      .as[(Long, Long, Long)].collect()(0)
    assert(row == ((3L, 1L, 2L))) // 3 tokens, 1 distinct, "spam spam" twice
  }

  test("squared_distance from SQL equals the fold definition") {
    val row = spark.sql(
      """SELECT squared_distance(array(1.0F, 2.0F), array(4.0F, 6.0F)) AS d,
        |       aggregate(zip_with(array(1.0F, 2.0F), array(4.0F, 6.0F),
        |         (x, y) -> (double(x) - double(y)) * (double(x) - double(y))),
        |         0.0D, (acc, v) -> acc + v) AS ref
        |""".stripMargin).collect()(0)
    assert(row.getDouble(0) == 25.0 && row.getDouble(0) == row.getDouble(1))
  }

  test("squared_distance/dot_product reject non-float arrays at analysis time") {
    // int arrays would otherwise be reinterpreted via getDouble — the check
    // must fail the QUERY, not return garbage
    Seq("squared_distance", "dot_product").foreach { fn =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $fn(array(1, 2), array(3, 4))").collect()
      }
      assert(e.getMessage.contains("array<float>") || e.getMessage.contains("requires"),
        s"$fn: ${e.getMessage}")
    }
  }

  test("winnow_fingerprints from SQL equals the Column form") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    df.createOrReplaceTempView("docs_win")
    val viaSql = spark.sql("SELECT winnow_fingerprints(text, 3, 4) AS fps FROM docs_win")
      .as[Seq[Long]].collect()(0)
    val viaCol = df.select(graft.functions.WinnowFingerprints(
      org.apache.spark.sql.functions.col("text"), 3, 4).as("fps"))
      .as[Seq[Long]].collect()(0)
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("kmv_kth from SQL is a grouped aggregate equal to the Column form") {
    import spark.implicits._
    val df = (0L until 300L).map(v => ("g" + (v % 2), v)).toDF("grp", "hv")
    df.createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      """SELECT grp, s.n_kept, s.kth_hash
        |FROM (SELECT grp, kmv_kth(hv, 64) AS s FROM kmv_in GROUP BY grp)
        |ORDER BY grp""".stripMargin)
      .as[(String, Int, Long)].collect().toSeq
    val viaCol = df.groupBy($"grp")
      .agg(graft.functions.KmvSketch.agg($"hv", 64).as("s"))
      .select($"grp", $"s.n_kept", $"s.kth_hash")
      .orderBy($"grp").as[(String, Int, Long)].collect().toSeq
    assert(viaSql == viaCol && viaSql.forall(_._2 == 64))
  }

  test("token_positions from SQL is a generator equal to posexplode(split)") {
    import spark.implicits._
    Seq((1L, "  a  b c "), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").createOrReplaceTempView("docs_tp")
    val viaSql = spark.sql(
      "SELECT doc_id, pos, token FROM docs_tp LATERAL VIEW token_positions(text) t")
      .as[(Long, Int, String)].collect().toSet
    val viaBuiltin = spark.sql(
      """SELECT doc_id, pos, token FROM docs_tp
        |LATERAL VIEW posexplode(split(trim(text), ' +')) t AS pos, token"""
        .stripMargin)
      .as[(Long, Int, String)].collect().toSet
    assert(viaSql == viaBuiltin)
    // doc 1: space runs collapse; doc 2: one empty token (split semantics);
    // doc 3: null text generates nothing
    assert(viaSql == Set((1L, 0, "a"), (1L, 1, "b"), (1L, 2, "c"), (2L, 0, "")))
  }

  test("kmv_kth rejects a capacity below 2 at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT kmv_kth(CAST(1 AS BIGINT), 1)").collect()
    }
    assert(e.getMessage.contains("k must be >= 2"), e.getMessage)
  }
}
