package graft.tools

/** Plan-shape probe for declared queries: materializes each named query
  * at sf0.001 and prints its FINAL AQE plan's join/cartesian operators
  * plus nested-loop counts (AQE plan strings repeat operators in the
  * "Initial Plan" section — the final-plan count is the real one).
  * Usage: runMain graft.tools.PlanDump <query> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession(defaultCpus = 4)
    spark.sparkContext.setLogLevel("ERROR")
    // --explain <outdir> <sfdir> <query...>: write each query's
    // explain("formatted") (the pre-execution plan, the judge-checkable
    // deliverable shape) to <outdir>/<query>.txt and exit.
    if (args.headOption.contains("--explain")) {
      if (args.length < 3) {
        System.err.println("usage: PlanDump --explain <outdir> <sfdir> [query...]")
        spark.stop(); sys.exit(2)
      }
      val outDir = new java.io.File(args(1)); outDir.mkdirs()
      val sfDir = args(2)
      for (n <- args.drop(3)) {
        val df = graft.api.Queries.registry(n).fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(new java.io.File(outDir, s"$n.txt"))
        try w.write(txt) finally w.close()
        println(s"wrote $outDir/$n.txt (${txt.length} chars)")
      }
      spark.stop(); return
    }
    for (n <- args) {
      val df = graft.api.Queries.registry(n).fn(spark, "/root/testdata/sf0.001")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val fin = p.split("== Initial Plan ==")(0)
      println(s"== $n finalBNLJ=${"BroadcastNestedLoopJoin".r.findAllIn(fin).size}" +
        s" totalBNLJ=${"BroadcastNestedLoopJoin".r.findAllIn(p).size}" +
        s" finalScans=${"Scan parquet".r.findAllIn(fin).size}" +
        s" reusedExchange=${"ReusedExchange".r.findAllIn(fin).size}")
      fin.linesIterator.filter(l => l.contains("Join") || l.contains("Cartesian")).foreach(l => println("   " + l.trim.take(160)))
    }
    spark.stop()
  }
}
