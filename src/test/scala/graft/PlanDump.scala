package graft

/** Optimization-round instrumentation (guide §1): for each named query,
  * capture `.explain("formatted")` to a file and time the computation
  * against the noop sink (every column of every row materialized, no
  * count-path column pruning). Not part of the driver contract.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <outDir> [sfDir] [query ...]"
  * With no query names, dumps every declared query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count() // warm codegen/session init
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        plan.getBytes("UTF-8"))
      // warm once (cold JVM/codegen noise), then time the noop write
      df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      println(f"PLANDUMP $name%-40s noop_warm_sec=$secs%8.3f")
      name -> secs
    }
    println("PLANDUMP_TOTAL " + results.map(_._2).sum)
    spark.stop()
  }
}
