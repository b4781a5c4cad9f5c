package graft

import org.apache.spark.sql.SparkSession

/** The local session `Bench`, `Verify` and `PlanDump` run under — one
  * configuration, so a dumped plan and a verified result come from the
  * session the bench measures. `extra` settings apply last. */
object LocalSession {
  def apply(cpus: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // testdata tables are single ~50 MB parquet files; the 128 MB
      // default makes every scan one task. Smaller splits keep all
      // cores busy at these SFs (at 100 TB the default is fine).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // local-FS open cost: the 4 MB default models object-store opens
      // and caps packing at 2 files per 8 MB split — every freshly
      // written lake's read-back (60-150 KB-sized day files) then pays
      // ~file-count/2 scheduled tasks for KBs of data (measured: a 90-
      // file read-back = 90 tasks, 0.55 s). 128 KB reflects a local-FS
      // open and packs those scans to a handful of tasks; single-file
      // table scans are unaffected (at 100 TB on an object store the
      // default is right — this is split-packing, not a plan change).
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      // filterless COUNT/MIN/MAX answered from parquet footer stats
      // (exact; Spark refuses the pushdown where NaN could lie)
      .config("spark.sql.parquet.aggregatePushDown", "true")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
    extra.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
  }

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
}
