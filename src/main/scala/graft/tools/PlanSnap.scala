package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` for the named driver-contract queries to
  * `<outDir>/<query>_<tag>.txt` — the per-query before/after plan artifact
  * the optimization rounds commit under plans/r{N}/ (DumpPlans writes the
  * whole-suite index; this writes the judge-checkable per-query files).
  * Eagerly-executing queries (SparkEntry.eagerQueries) are skipped — their
  * returned frame's plan is a post-collect LocalTableScan.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <tag> [-f] <query> [query...]
  *
  * `-f` dumps eager queries too: their returned frame's plan is the
  * READBACK surface (e.g. the streaming twins' post-sink frame), which is
  * exactly the artifact that documents a readback-seam change
  * (LocalTableScan = driver-resident vs an RDD/file scan = distributed).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val force = args.length > 2 && args(2) == "-f"
    val names = args.drop(if (force) 3 else 2).toSeq
    require(names.nonEmpty, "usage: PlanSnap <outDir> <tag> [-f] <query> [query...]")
    val outDir = args(0)
    val tag = args(1)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      if (!force && graft.SparkEntry.eagerQueries.contains(name)) {
        println(s"[plansnap] skip eager $name")
      } else {
        val qe = graft.SparkEntry.queries(name)(spark, dir).queryExecution
        val txt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        val plan = qe.executedPlan.toString
        def n(p: String) = p.r.findAllIn(plan).length
        println(s"[plansnap] $name: exchanges=${n("Exchange (hash|range)partitioning")} " +
          s"BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
          s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")}")
      }
    }
    spark.stop()
  }
}
