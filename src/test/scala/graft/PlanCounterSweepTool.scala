package graft

import graft.operators.PlanAudit

/** Dev tool (Test/runMain graft.PlanCounterSweepTool <counter> [sf]):
  * sweep EVERY declared query's static plan and print the nonzero
  * values of one [[PlanAudit.Audit]] counter as a ready-to-paste
  * pin-map body. Counters: shuffles, broadcasts, scans, cartesians,
  * nested_loop_joins, codegen_spans, nodes, unpartitioned_windows,
  * single_partition_exchanges, reused_exchanges, reused_subqueries.
  * Audit failures are loud (stderr + nonzero exit) — a silently-absent
  * entry would under-pin (the window-sweep lesson, ADVICE r15). */
object PlanCounterSweepTool {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: PlanCounterSweepTool <counter> [sfDir]")
    val counter = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val get: PlanAudit.Audit => Long = counter match {
      case "shuffles" => _.shuffles
      case "broadcasts" => _.broadcasts
      case "scans" => _.scans
      case "cartesians" => _.cartesians
      case "nested_loop_joins" => _.nestedLoopJoins
      case "codegen_spans" => _.codegenSpans
      case "nodes" => _.nodes
      case "unpartitioned_windows" => _.unpartitionedWindows
      case "single_partition_exchanges" => _.singlePartitionExchanges
      case "reused_exchanges" => _.reusedExchanges
      case "reused_subqueries" => _.reusedSubqueries
      case other => sys.error(s"unknown counter: $other")
    }
    val spark = SparkSuite.session
    var failures = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val v = get(PlanAudit.of(fn(spark, sf)))
        if (v > 0) println(s"""      "$name" -> ${v}L,""")
      } catch { case e: Throwable =>
        failures += 1
        println(s"      // $name: AUDIT FAILED — entry missing: " +
          s"${e.getMessage}")
        System.err.println(s"[counter-sweep] $name audit failed: $e")
      }
    }
    println(if (failures == 0) s"      // [end of $counter sweep]"
      else s"      // [end of $counter sweep — INCOMPLETE: " +
        s"$failures failure(s)]")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
