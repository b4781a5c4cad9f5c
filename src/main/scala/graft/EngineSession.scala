package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. The engine conf (graft's SQL
  * extensions, no UI) is set here once; each caller passes only its own
  * settings, which apply last. */
object EngineSession {
  def apply(settings: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
    settings.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
  }

  /** The local session `Bench`, `Verify`, `PlanDump` and the test suite
    * run under — one configuration, so a dumped plan, a verified result
    * and a spec all come from the session the bench measures. */
  def local(cpus: String, extra: (String, String)*): SparkSession =
    apply(Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      // testdata tables are single ~50 MB parquet files; the 128 MB
      // default makes every scan one task. Smaller splits keep all
      // cores busy at these SFs (at 100 TB the default is fine).
      "spark.sql.files.maxPartitionBytes" -> "8m",
      // local-FS open cost: the 4 MB default models object-store opens
      // and caps packing at 2 files per 8 MB split — every freshly
      // written lake's read-back (60-150 KB-sized day files) then pays
      // ~file-count/2 scheduled tasks for KBs of data (measured: a 90-
      // file read-back = 90 tasks, 0.55 s). 128 KB reflects a local-FS
      // open and packs those scans to a handful of tasks; single-file
      // table scans are unaffected (at 100 TB on an object store the
      // default is right — this is split-packing, not a plan change).
      "spark.sql.files.openCostInBytes" -> (128L * 1024).toString,
    ) ++ extra: _*)

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
}
