package graft


/** Dump `.explain("formatted")` for named queries to files — the
  * optimization rounds' plan-evidence tool (`plans/r<k>/<query>_{before,
  * after}.txt`). Runs under the exact session configuration Bench uses,
  * so the dumped plan is the one the measured query executes.
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <query>...`
  * writes `<outDir>/<query>_<suffix>.txt` per query. The query function
  * is INVOKED to obtain the frame (for the pipeline queries that means
  * the fixture pipeline runs first — their returned frame is the
  * read-back whose plan is dumped). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = EngineSession.local(EngineSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
