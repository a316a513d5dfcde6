package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Whole-stage-codegen COMPILATION is part of the performance contract:
  * with `spark.sql.codegen.fallback=true` (the default) a Janino failure
  * only logs `ERROR CodeGenerator` and silently drops the stage to
  * interpreted execution — which is exactly how the round-15 lang-ID CASE
  * regression shipped (25 hashAgg compile failures in the suite log,
  * correct answers, interpreted hot path). This suite re-executes the
  * ENTIRE non-eager driver surface with fallback DISABLED, so a generated
  * method exceeding Janino's limit fails the suite instead of the
  * throughput. (Expression-level CodegenFallback implementations like
  * RepetitionStats are deliberate and unaffected — the conf governs
  * whole-stage compilation failures, which are never intentional.)
  */
class CodegenCompileSpec extends SparkSpec {

  private def withStrictCodegen[A](body: => A): A = {
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.codegen.fallback")
    conf.set("spark.sql.codegen.fallback", "false")
    try body
    finally prev match {
      case Some(v) => conf.set("spark.sql.codegen.fallback", v)
      case None => conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("EVERY non-eager driver query compiles under whole-stage codegen " +
      "(no Janino fallback anywhere)") {
    // suite-wide invariant, not just the round-15 failure set: a silent
    // interpreted fallback on ANY driver path is a shipped constant-factor
    // loss the normal suite cannot see
    withStrictCodegen {
      val offenders = graft.SparkEntry.catalog.filterNot(_.eager)
        .flatMap { q =>
          try { q.run(spark, sf0001).count(); None }
          catch { case e: Throwable =>
            Some(s"${q.name}: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(200))
          }
        }
      assert(offenders.isEmpty,
        s"queries failing strict codegen:\n${offenders.mkString("\n")}")
    }
  }

  test("the langPredict gate predicate compiles inside a hash aggregate") {
    // the round-15 failure shape: the combined lang+quality gate feeding
    // a hashAgg_doAggregate method — reproduced directly
    withStrictCodegen {
      val docs = graft.sources.Tables.documents(spark, sf0001)
      val gated = CleanCorpus.gatedDocs(docs)
        .groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n"), avg(col("quality")).as("q"))
      assert(gated.count() > 0)
    }
  }
}
