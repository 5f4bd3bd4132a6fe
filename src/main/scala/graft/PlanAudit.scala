package graft

import java.nio.file.{Files, Paths}

/**
 * Dumps `explain("formatted")` for every registered query to a file so the
 * plan shapes (PushedFilters, ReadSchema, join strategies, codegen spans)
 * can be audited — see PLANS.md for the distilled findings.
 *
 * Usage: sbt "runMain graft.PlanAudit [sfDir] [out] [query...]". Named
 * queries are run (`toRdd.count()`) before their dump, so it shows the
 * executed plan with every adaptive stage final — the form two commits'
 * plans are diffed in.
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "target/plans.txt"
    val spark = SparkEntry.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    val named = args.drop(2).toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => named.isEmpty || named(name) }
      .foreach { case (name, fn) =>
        sb.append(s"\n===== $name =====\n")
        try {
          val df = fn(spark, sfDir)
          if (named.nonEmpty) df.queryExecution.toRdd.count()
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch { case e: Throwable => sb.append(s"ERROR: ${e.getMessage}\n") }
      }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
