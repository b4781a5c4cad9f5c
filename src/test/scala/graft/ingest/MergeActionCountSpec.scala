package graft.ingest

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Pins the r22 micro-batch job-structure optimization: an UPDATE merge
  * (no TRUNCATE) runs exactly THREE driver actions —
  *   1. the truncate-marker probe aggregate,
  *   2. the ONE fused touched-day probe (affected ∪ new days; the
  *      latest-per-key cache fills inside it),
  *   3. the survivors+upserts write.
  * Before the fusion the day probe was three independent actions (the
  * per-batch job count is the streaming sinks' fixed overhead, guide
  * §1.2); a regression re-splitting it shows up here as extra actions,
  * not as a silent slowdown. The second test pins the task count of a
  * small merge: no stage may be sized by `spark.sql.shuffle.partitions`.
  * The third pins the append sink's write fan-out: a one-day batch
  * writes each table in one task, with no shuffle in front of it. */
class MergeActionCountSpec extends AnyFunSuite with SparkTestBase {

  private def envelope(ids: Seq[Long], lsnBase: Int) = {
    import spark.implicits._
    ids.zipWithIndex.map { case (id, i) =>
      (id, id * 10, 1.0, "INSERT",
        java.sql.Timestamp.valueOf(f"2024-01-${(id % 3) + 1}%02d 00:00:00"),
        f"${lsnBase + i}%016d")
    }.toDF("user_id", "event_id", "value",
      Cdc.OpColumn, Cdc.TsColumn, Cdc.LsnColumn)
  }

  /** Driver actions (`QueryExecutionListener` successes) that `body`
    * runs, waiting up to 15 s for three to land. The listener sees the
    * whole session, so nothing else may run on it meanwhile. */
  private def countActions(body: => Unit): Int = {
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        actions.incrementAndGet(): Unit
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    // listener events post asynchronously on a shared bus: give any
    // PRIOR suite's (or the bootstrap merge's) in-flight events time to
    // land before the counted window opens, so they are never attributed
    // to the measured merge
    Thread.sleep(500)
    spark.listenerManager.register(listener)
    try {
      body
      // listener events post asynchronously; poll-bounded drain
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (actions.get < 3 && System.nanoTime() < deadline) Thread.sleep(25)
      Thread.sleep(300) // catch any EXTRA action still in flight
      actions.get
    } finally spark.listenerManager.unregister(listener)
  }

  /** A submitted stage: its task count, whether it ran for a file write
    * (a SQL execution of `InsertIntoHadoopFsRelationCommand`) and the
    * shuffle records it wrote (0 for a stage that feeds no shuffle). */
  private case class Stage(tasks: Int, write: Boolean, shuffleRecords: Long)

  /** Every stage `body` submits. Stages are matched by a local property
    * set on the calling thread, which Spark copies into every job the
    * call starts (broadcast and AQE stage jobs included). Jobs that
    * `body` starts from pooled threads (a parallel collection's workers)
    * need not carry it: `wholeSession` takes every stage submitted while
    * `body` runs instead, so nothing else may run on the session. */
  private def stageTasks(body: => Unit, wholeSession: Boolean = false): Seq[Stage] = {
    import org.apache.spark.scheduler._
    val tag = "graft.test.measured"
    val label = java.util.UUID.randomUUID().toString
    val writeExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val submitted = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    val shuffled = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
          writeExecs.add(s.executionId.toString): Unit
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (wholeSession ||
          (e.properties != null && e.properties.getProperty(tag) == label)) {
          val exec = Option(e.properties).map(_.getProperty("spark.sql.execution.id"))
          submitted.put(e.stageInfo.stageId, Stage(e.stageInfo.numTasks,
            exec.exists(writeExecs.contains), 0L)): Unit
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m => shuffled.put(
          e.stageInfo.stageId, m.shuffleWriteMetrics.recordsWritten))
    }
    // as in countActions: let earlier stage events land first
    if (wholeSession) Thread.sleep(500)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, label)
    try {
      body
      Thread.sleep(500) // stage events post asynchronously
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
    submitted.asScala.toSeq.sortBy(_._1).map { case (id, st) =>
      st.copy(shuffleRecords = shuffled.getOrDefault(id, 0L))
    }
  }

  test("update merge runs exactly 3 actions: marker probe, fused day probe, write") {
    val dir = java.nio.file.Files.createTempDirectory("mergeactions").toString
    // bootstrap commit (not measured: the first merge has extra
    // import/bootstrap structure)
    CdcWriter.merge(spark, s"$dir/t", envelope(1L to 9L, 100), Seq("user_id"))
    // an update batch touching a subset of keys, no TRUNCATE marker
    val actions = countActions(
      CdcWriter.merge(spark, s"$dir/t", envelope(Seq(2L, 5L), 200), Seq("user_id")))
    assert(actions == 3,
      s"expected 3 actions (marker probe, fused day probe, write), got $actions")

    // and the merge result stays exact: the update touches one day, so
    // its write is the single-task one, and the layout is still one
    // file per day
    val got = CdcWriter.read(spark, s"$dir/t")
      .select("user_id", "event_id").as[(Long, Long)](
        spark.implicits.newProductEncoder[(Long, Long)])
      .collect().sorted
    assert(got.toSeq == (1L to 9L).map(id => (id, id * 10)))
    val days = graft.lake.SnapshotLog.currentSnapshot(spark, s"$dir/t").get
      .files.map(_.partition)
    assert(days.sorted == Seq("2024-01-01", "2024-01-02", "2024-01-03"))
  }

  test("a small merge runs no stage sized by spark.sql.shuffle.partitions") {
    // The merges cache the latest-per-key delta. A cache planned with a
    // fixed output partitioning keeps every shuffle partition, and each
    // of its consumers then runs that many tasks over a few rows. P sits
    // above anything the batch itself justifies: writeData pins its
    // repartition to defaultParallelism, so that many write tasks are
    // legitimate on any host.
    val p = 4 * spark.sparkContext.defaultParallelism + 1
    val dir = java.nio.file.Files.createTempDirectory("mergetasks").toString
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, p.toString)
    try {
      CdcWriter.merge(spark, s"$dir/cow", envelope(1L to 9L, 100), Seq("user_id"))
      CdcWriter.morMerge(spark, s"$dir/mor", envelope(1L to 9L, 100), Seq("user_id"))
      var actions = 0
      val cow = stageTasks {
        actions = countActions(
          CdcWriter.merge(spark, s"$dir/cow", envelope(Seq(2L, 5L), 200), Seq("user_id")))
      }
      val mor = stageTasks(
        CdcWriter.morMerge(spark, s"$dir/mor", envelope(Seq(2L, 5L), 200), Seq("user_id")))
      assert(cow.nonEmpty && mor.nonEmpty)
      assert(cow.forall(_.tasks < p), s"merge stages at $p shuffle partitions: $cow")
      assert(mor.forall(_.tasks < p), s"morMerge stages at $p shuffle partitions: $mor")
      assert(actions == 3, s"expected 3 merge actions, got $actions")
      for (t <- Seq("cow", "mor")) {
        val got = CdcWriter.read(spark, s"$dir/$t")
          .select("user_id").as[Long](spark.implicits.newLongEncoder)
          .collect().sorted
        assert(got.toSeq == (1L to 9L), t)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a one-day append batch writes each table in one task, without a shuffle") {
    // The append sink's slices usually hold one day. Hash-pinning such a
    // slice to defaultParallelism ran a shuffle-map job and a write job
    // of defaultParallelism tasks, all but one of them empty, per table.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("appendtasks").toString
    val tables = Seq("t_a", "t_b", "t_c", "t_d")
    val batch = tables.zipWithIndex.flatMap { case (t, i) =>
      (0 until 6).map { j =>
        val id = 10L * i + j
        (id, id * 10, 1.0, "INSERT",
          java.sql.Timestamp.valueOf(f"2024-01-05 ${j + 1}%02d:00:00"),
          f"$id%016d", t)
      }
    }.toDF("user_id", "event_id", "value",
      Cdc.OpColumn, Cdc.TsColumn, Cdc.LsnColumn, "_cdc_table")
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    try {
      batch.count()
      val cfg = graft.streaming.IngestConfig(outDir = s"$dir/lake",
        dlqDir = s"$dir/dlq", checkpointDir = s"$dir/ckpt",
        metrics = new graft.observe.Metrics.Registry)
      val stages = stageTasks(
        graft.streaming.IngestPipeline.processBatch(cfg)(batch, 0L),
        wholeSession = true)
      val writes = stages.filter(_.write)
      assert(writes.size == tables.size && writes.forall(_.tasks == 1),
        s"expected one 1-task write stage per table, got $stages")
      assert(writes.forall(_.shuffleRecords == 0L),
        s"a one-day write ran a shuffle-map stage: $stages")
      for (t <- tables) {
        val snap = graft.lake.SnapshotLog.currentSnapshot(spark, s"$dir/lake/$t").get
        assert(snap.files.map(_.partition) == Seq("2024-01-05"), t)
        assert(CdcWriter.read(spark, s"$dir/lake/$t").count() == 6L, t)
      }
      assert(cfg.metrics.counter("iceberg", "commits_total") == tables.size)
    } finally batch.unpersist(blocking = true)
  }
}
