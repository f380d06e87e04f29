package graft

import java.nio.file.{Files, Paths}

/** Physical-plan dump for the driver contract — the audit artifact
  * behind the plan-shape claims scattered through SURVEY.md §2 and
  * BASELINE.md (pushed filters, broadcasts vs SMJs, exchange counts,
  * WindowGroupLimit, ReuseExchange). PlanSpec pins the load-bearing
  * shapes as tests; this main writes them to one reviewable file so a
  * reader can check any claim without running Spark.
  *
  * Without a query list it emits, for every query, the formatted-explain
  * TREE section (node details trimmed — the tree carries the shape; the
  * detail blocks triple the size with column ids that change run to
  * run). With a comma list of query names it emits the COMPLETE
  * formatted explain of just those — tree plus node details with
  * PushedFilters/ReadSchema — the per-query before/after evidence of an
  * optimization.
  *
  * Usage: `runMain graft.Plans [sfDir] [outPath] [q1,q2,...]` — defaults
  * sf0.001 and ./plans.txt. Plan CONSTRUCTION for a few queries runs
  * small jobs by design (q51's coarse quantizer fit, q67's eager
  * split checkpoint, q76's bounded count collect), so the tiny SF is
  * the right input.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("plans.txt")
    val only = args.lift(2).map(Harness.names)
    val spark = GraftSession.local(cpus = 8, appName = "graft-plans")
    val queries = only.fold(SparkEntry.queries.toSeq.sortBy(_._1))(_.map { name =>
      name -> SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    })
    val out = new StringBuilder
    queries.foreach { case (name, fn) =>
      val explain = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val text = if (only.isDefined) explain else explain.split("\n\n")(0)
      out ++= s"==== $name ====\n$text\n\n"
    }
    Files.writeString(Paths.get(outPath), out.toString)
    println(s"wrote ${queries.size} plans to $outPath")
    spark.stop()
  }
}
