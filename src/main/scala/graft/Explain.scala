package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: formatted physical plans for selected queries, under the
  * session Bench runs (graft.Session), so the plan shown is the plan the
  * benchmark executes. The Store is cleared before each query: a shared
  * session would otherwise embed the previous queries' materialized cache
  * trees into this plan's text, making before/after operator counts
  * incomparable.
  *
  * Usage: runMain graft.Explain <sfDir> <query1,query2,...> [outDir]
  * Prints the plans, or writes `<outDir>/<query>.txt` when outDir is given.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("rpt_pricing_summary", "fct_orders_items", "metrics_regional_revenue")
    val outDir = args.lift(2).map(java.nio.file.Paths.get(_))
    outDir.foreach(java.nio.file.Files.createDirectories(_))
    val spark = Session()
    names.foreach { n =>
      Store.clear(spark)
      val plan = Registry.all(n).fn(Ctx(spark, sfDir))
        .queryExecution.explainString(FormattedMode)
      outDir match {
        case Some(dir) =>
          java.nio.file.Files.write(dir.resolve(s"$n.txt"), plan.getBytes("UTF-8"))
          println(s"[explain] wrote $n.txt (${plan.length} chars)")
        case None => println(s"\n========== $n ==========\n$plan")
      }
    }
    spark.stop()
  }
}
