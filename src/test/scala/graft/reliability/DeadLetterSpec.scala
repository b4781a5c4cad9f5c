package graft.reliability

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** [[DeadLetter.replay]]: Read → repair → reprocess → MarkRetried
  * (ref internal/cdc/deadletter/postgres.go:199-238). The registered
  * `dlq_replay` query hash-checks replayed ≡ never-failed end-to-end;
  * this spec pins the bookkeeping the hash can't see — what gets marked,
  * what stays pending, and idempotence. */
class DeadLetterSpec extends SparkTestBase {

  private def poisonBatch: DataFrame = {
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("id", "payload")
  }

  test("replay decodes, repairs, reprocesses, and marks; a second replay is a no-op") {
    import spark.implicits._
    val dlqDir = Files.createTempDirectory("graft-dlq-replay").toString + "/dlq"
    DeadLetter.append(poisonBatch, dlqDir, "src", "bad name",
      new IllegalArgumentException("invalid table name"), retryCount = 2)

    var processed: Seq[(Long, String)] = Seq.empty
    val n = DeadLetter.replay(spark, dlqDir, poisonBatch.schema,
      repair = b => b.withColumn("payload", upper(col("payload"))),
      process = b => processed = b.select($"id", $"payload")
        .as[(Long, String)].collect().toSeq.sortBy(_._1))
    assert(n === 2)
    // the processed batch is the decoded ORIGINAL columns, repaired
    assert(processed === Seq((1L, "X"), (2L, "Y")))
    // every row is marked retried; nothing pending
    val dlq = DeadLetter.read(spark, dlqDir)
    assert(dlq.filter(col("retried_at").isNull).count() === 0)
    assert(dlq.count() === 2)
    // idempotence: nothing pending → nothing replayed, nothing re-marked
    val n2 = DeadLetter.replay(spark, dlqDir, poisonBatch.schema,
      repair = identity, process = _ => fail("must not process an empty replay"))
    assert(n2 === 0)
  }

  test("rows that fail AGAIN during replay stay pending for the next pass") {
    import spark.implicits._
    val dlqDir = Files.createTempDirectory("graft-dlq-refail").toString + "/dlq"
    DeadLetter.append(poisonBatch, dlqDir, "src", "bad name",
      new IllegalArgumentException("invalid table name"), retryCount = 2)
    val n = DeadLetter.replay(spark, dlqDir, poisonBatch.schema,
      repair = identity,
      process = b => DeadLetter.append(b.filter($"id" === 2L), dlqDir, "src",
        "still bad", new IllegalArgumentException("still invalid"), retryCount = 2))
    assert(n === 2)
    val dlq = DeadLetter.read(spark, dlqDir)
    // the original 2 are marked; the re-failure is a NEW pending row
    assert(dlq.count() === 3)
    assert(dlq.filter(col("retried_at").isNotNull).count() === 2)
    val stillPending = dlq.filter(col("retried_at").isNull)
      .select(col("error_message")).as[String].collect().toSeq
    assert(stillPending === Seq("still invalid"))
  }

  test("a rewrite landing during replay is detected, not composed into duplicates") {
    val dlqDir = Files.createTempDirectory("graft-dlq-race").toString + "/dlq"
    DeadLetter.append(poisonBatch, dlqDir, "src", "bad name",
      new IllegalArgumentException("invalid table name"), retryCount = 2)
    // a concurrent CLEANUP rewrites the whole DLQ while replay's process
    // runs (append-vs-rewrite composes; rewrite-vs-rewrite cannot —
    // marking against the replaced basis would duplicate every row or
    // crash on expired paths). The mark phase must fail loudly instead.
    val e = intercept[graft.lake.SnapshotLog.ConcurrentCommitException] {
      DeadLetter.replay(spark, dlqDir, poisonBatch.schema,
        repair = identity,
        process = b => {
          b.count(): Unit // force the decode before the files vanish
          DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 0L,
            now = new java.sql.Timestamp(System.currentTimeMillis() + 3600_000L)): Unit
        })
    }
    assert(e.getMessage.contains("lost its snapshot basis"))
  }

  test("cleanup drops only expired rows; filtered reads slice by source and table") {
    val dlqDir = Files.createTempDirectory("graft-dlq-ttl").toString + "/dlq"
    DeadLetter.append(poisonBatch, dlqDir, "srcA", "t1",
      new IllegalArgumentException("bad"), retryCount = 2)
    DeadLetter.append(poisonBatch, dlqDir, "srcB", "t2",
      new java.io.IOException("flaky"), retryCount = 2)
    def rows(c: String, v: String) =
      DeadLetter.read(spark, dlqDir).filter(col(c) === v).count()
    assert(rows("source_id", "srcA") === 2)
    assert(rows("table_name", "t2") === 2)
    assert(rows("source_id", "absent") === 0)
    // nothing is older than an hour: cleanup with a 1h TTL drops nothing
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    assert(DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 3600L, now) === 0L)
    assert(DeadLetter.read(spark, dlqDir).count() === 4)
    // everything expires when `now` jumps past created_at + TTL — the
    // deterministic-now parameter is what makes this testable
    val later = new java.sql.Timestamp(System.currentTimeMillis() + 7200L * 1000)
    assert(DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 3600L, later) === 4L)
    assert(DeadLetter.read(spark, dlqDir).count() === 0)
    // idempotent on the emptied table
    assert(DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 3600L, later) === 0L)
  }

  test("cleanup composes with concurrent appends: no row is ever silently lost") {
    // the old rename-aside rewrite had a listing→swap window where a row
    // appended mid-rewrite vanished; the snapshot commit log serializes
    // resolution+commit under the table lock, so every appended row is
    // either dropped BY a cleanup (counted) or still present — the
    // accounting identity holds under any interleaving
    val dlqDir = Files.createTempDirectory("graft-dlq-race").toString + "/dlq"
    val appends = 6
    val everythingExpired = new java.sql.Timestamp(
      System.currentTimeMillis() + 7200L * 1000)
    @volatile var dropped = 0L
    val appender = new Thread(() => (1 to appends).foreach { i =>
      DeadLetter.append(poisonBatch, dlqDir, "src", s"t$i",
        new IllegalArgumentException("bad"), retryCount = 1)
    })
    appender.start()
    while (appender.isAlive) {
      dropped += DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 3600L,
        everythingExpired)
      Thread.sleep(100) // intrinsic locks are unfair — give appends a turn
    }
    dropped += DeadLetter.cleanup(spark, dlqDir, ttlSeconds = 3600L,
      everythingExpired)
    appender.join()
    val remaining = DeadLetter.read(spark, dlqDir).count()
    assert(dropped + remaining === appends * 2L)
    assert(remaining === 0L) // the final cleanup ran after the last append
  }

  /** One DLQ row by its table name and payload id — the predicate a SQL
    * `DELETE FROM` on the served DLQ turns into. */
  private def row(table: String, id: Long) =
    col("table_name") === table &&
      get_json_object(col("event_data"), "$.id") === id.toString

  test("a row deleted from the DLQ stays deleted across later appends") {
    val dlqDir = Files.createTempDirectory("graft-dlq-del").toString + "/dlq"
    Seq("t1", "t2").foreach(t => DeadLetter.append(poisonBatch, dlqDir, "src", t,
      new IllegalArgumentException("bad"), retryCount = 1))
    assert(graft.lake.SnapshotLog.deleteWhere(spark, dlqDir, row("t1", 1L)).isDefined)
    DeadLetter.append(poisonBatch, dlqDir, "src", "t3",
      new IllegalArgumentException("bad"), retryCount = 1)
    val dlq = DeadLetter.read(spark, dlqDir)
    assert(dlq.count() === 5)
    assert(dlq.filter(row("t1", 1L)).count() === 0)
  }

  test("rows deleted while a replay runs stay deleted after its mark commit") {
    val dlqDir = Files.createTempDirectory("graft-dlq-replay-del").toString + "/dlq"
    DeadLetter.append(poisonBatch, dlqDir, "src", "t1",
      new IllegalArgumentException("bad"), retryCount = 1)
    val n = DeadLetter.replay(spark, dlqDir, poisonBatch.schema,
      repair = identity,
      process = b => {
        // both rows fail again into a file committed after the replay's
        // snapshot; one of them, and one replayed row, are then deleted
        DeadLetter.append(b, dlqDir, "src", "t2",
          new IllegalArgumentException("still bad"), retryCount = 2)
        graft.lake.SnapshotLog.deleteWhere(spark, dlqDir, row("t2", 2L))
        graft.lake.SnapshotLog.deleteWhere(spark, dlqDir, row("t1", 1L)): Unit
      })
    assert(n === 2)
    val dlq = DeadLetter.read(spark, dlqDir)
    assert(dlq.filter(row("t2", 2L)).count() === 0)
    assert(dlq.filter(row("t1", 1L)).count() === 0)
    assert(dlq.count() === 2)
    assert(dlq.filter(col("retried_at").isNull).count() === 1) // t2's row 1
  }

  test("a DLQ dir written without retried_at reads back as all-pending") {
    import spark.implicits._
    val dlqDir = Files.createTempDirectory("graft-dlq-old").toString + "/dlq"
    // simulate a pre-evolution DLQ: same columns minus retried_at
    Seq(("{}", "src", "t", "boom", "unknown", 2))
      .toDF("event_data", "source_id", "table_name", "error_message",
        "error_type", "retry_count")
      .withColumn("created_at", current_timestamp())
      .write.parquet(dlqDir)
    val dlq = DeadLetter.read(spark, dlqDir)
    assert(dlq.columns.contains("retried_at"))
    assert(dlq.filter(col("retried_at").isNull).count() === 1)
  }
}
