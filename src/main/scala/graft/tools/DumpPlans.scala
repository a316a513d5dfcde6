package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Writes every driver-contract query's formatted physical plan to one
  * markdown file — the reviewable artifact behind the scale claims: pushed
  * filters, pruned read schemas, broadcast vs sort-merge picks, codegen
  * spans, and the absence of nested-loop joins. Eagerly-executing queries
  * (streaming, iterative) are skipped — their plan-shape claims rest on
  * their batch twins' plans / the DedupClusters scaladoc (see the `eager`
  * flag of SparkEntry.Query).
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <out.md>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: DumpPlans <sfDir> <out.md>")
    val Array(dir, out) = args
    val spark = graft.Session.local(4)
    val sb = new StringBuilder
    sb.append(s"# Physical plans ($dir, formatted explain)\n\n")
    sb.append("Generated by `graft.tools.DumpPlans`. Streaming/iterative " +
      "queries excluded (executed eagerly; see SparkEntry.Query).\n")
    val batch = SparkEntry.catalog.filterNot(_.eager).sortBy(_.name)
    // plan each query ONCE; derive both the index counts and the formatted
    // dump from the same QueryExecution
    val planned = batch.map { q =>
      val qe = q.run(spark, dir).queryExecution
      (q.name, qe.executedPlan.toString,
        qe.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    // shuffle/join-shape index first — the one-glance scale review: how many
    // exchanges each query pays and which join strategies it planned
    sb.append("\n## Shuffle / join-shape index\n\n")
    sb.append("| query | exchanges | BHJ | SMJ | SHJ | BNLJ |\n|---|---|---|---|---|---|\n")
    planned.foreach { case (name, plan, _) =>
      def n(p: String) = p.r.findAllIn(plan).length
      sb.append(s"| $name | ${n("Exchange (hash|range)partitioning")} | " +
        s"${n("BroadcastHashJoin")} | ${n("SortMergeJoin")} | " +
        s"${n("ShuffledHashJoin")} | ${n("BroadcastNestedLoopJoin")} |\n")
    }
    planned.foreach { case (name, _, formatted) =>
      sb.append(s"\n## $name\n\n```\n$formatted```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
