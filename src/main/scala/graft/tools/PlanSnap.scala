package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for the named driver-contract queries to
  * `<outDir>/<query>_<tag>.txt` — the per-query before/after plan artifact
  * the optimization rounds commit under plans/r{N}/ (DumpPlans writes the
  * whole-suite index; this writes the judge-checkable per-query files).
  * Eagerly-executing queries (the `eager` flag of SparkEntry.Query) are
  * skipped — their returned frame's plan is a post-collect LocalTableScan.
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
    val spark = graft.Session.local(4)
    new java.io.File(outDir).mkdirs()
    val byName = graft.SparkEntry.catalog.map(q => q.name -> q).toMap
    names.foreach { name =>
      val q = byName(name)
      if (!force && q.eager) {
        println(s"[plansnap] skip eager $name")
      } else {
        val qe = q.run(spark, dir).queryExecution
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
