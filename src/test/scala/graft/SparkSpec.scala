package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session per suite, built by the engine's
  * one factory ([[Session.local]]) on 4 cores — the same confs Bench and
  * Verify run with, including [[GraftExtensions]], so SQL-surface tests
  * (e.g. `top_k_pairs` in BoundedTopKSpec) resolve the registered functions
  * no matter which suite's `getOrCreate` builds the shared session.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def sf0001 = "/root/testdata/sf0.001"
}
