package graft.lake

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import java.nio.file.Files
import scala.util.Random

/** MODEL-BASED check of the segment planner: a long random sequence of
  * appends, partial removals, full replaces, rollbacks and expires runs
  * against the real SnapshotLog (fabricated metadata-only entries) and
  * a trivial in-memory model (a Map of path → entry per snapshot).
  * After every operation the log must resolve EXACTLY the model's file
  * set — no double-covered entry (a reused segment overlapping the
  * residue), no lost entry (an over-eager fold), no stale seq — and the
  * structural invariants (bounded segment count, sub-quadratic entry
  * writes) must hold at the end. A fixed RNG seed keeps failures
  * replayable. */
class ManifestModelSpec extends SparkTestBase {

  import SnapshotLog.DataFile

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  private def entry(i: Int): DataFile =
    DataFile(f"data/m/f$i%06d.parquet", "", rows = 1L,
      sizeBytes = 10L, minLsn = Some(f"$i%016d"), maxLsn = Some(f"$i%016d"),
      seq = -1L, statsCol = Some(graft.ingest.Cdc.LsnColumn))

  test("random op sequences: log resolution equals the model at every step") {
    val rng = new Random(20260814L)
    val dir = Files.createTempDirectory("graft-model").toString + "/t"
    var model = Map.empty[String, Long] // path -> seq it was added by
    var nextFile = 0
    var history = Vector.empty[(Long, Map[String, Long])]

    def commitOp(op: String, files: Seq[DataFile]): Unit = {
      val sn = SnapshotLog.withTableLock(dir) {
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        SnapshotLog.commit(spark, dir, op, files, schema, parent = cur)
      }
      model = sn.files.map(f => f.path -> f.seq).toMap
      history :+= (sn.id, model)
    }

    def carried: Seq[DataFile] =
      SnapshotLog.currentSnapshot(spark, dir).toSeq.flatMap(_.files)

    for (step <- 1 to 120) {
      rng.nextInt(10) match {
        case n if n <= 5 => // append 1-4 fresh files
          val fresh = (1 to 1 + rng.nextInt(4)).map { _ =>
            nextFile += 1; entry(nextFile)
          }
          commitOp("append", carried ++ fresh)
        case 6 | 7 => // remove a random subset (partial rewrite shape)
          val cur = carried
          if (cur.nonEmpty) {
            val keep = cur.filter(_ => rng.nextBoolean())
            commitOp("replace", keep)
          }
        case 8 => // rollback to a random retained snapshot
          val ids = SnapshotLog.snapshotIds(spark, dir)
          if (ids.nonEmpty) {
            val target = ids(rng.nextInt(ids.size))
            SnapshotLog.withTableLock(dir) {
              SnapshotLog.rollback(spark, dir, target)
            }
            val sn = SnapshotLog.currentSnapshot(spark, dir).get
            model = sn.files.map(f => f.path -> f.seq).toMap
            history :+= (sn.id, model)
          }
        case _ => // expire most history (keeps segments honest)
          if (SnapshotLog.snapshotIds(spark, dir).nonEmpty) {
            SnapshotLog.expire(spark, dir, keepLast = 1 + rng.nextInt(3))
            val ids = SnapshotLog.snapshotIds(spark, dir).toSet
            history = history.filter(h => ids.contains(h._1))
          }
      }
      // the log's CURRENT resolution must equal the model exactly
      val got = SnapshotLog.currentSnapshot(spark, dir).toSeq
        .flatMap(_.files).map(f => f.path -> f.seq)
      assert(got.size === got.toMap.size, s"step $step: duplicate entries")
      assert(got.toMap === model, s"step $step: resolution diverged")
      // every RETAINED historical snapshot replays its recorded state
      if (step % 20 == 0) history.foreach { case (id, m) =>
        val h = SnapshotLog.snapshotAt(spark, dir, id)
        assert(h.files.map(f => f.path -> f.seq).toMap === m,
          s"step $step: history $id diverged")
      }
    }
    // structural invariants after the full walk
    val ids = SnapshotLog.snapshotIds(spark, dir)
    ids.foreach(id => assert(
      SnapshotLog.segmentCount(spark, dir, id) <= SnapshotLog.MaxSegments))
    // no unreferenced junk beyond what expire's grace rules allow: a
    // final expire reclaims everything dead, and what remains resolves
    SnapshotLog.expire(spark, dir, keepLast = 1, debrisGraceMs = 0L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new Path(dir, SnapshotLog.MetaDirName)
    val entriesOnDisk = SnapshotLog.totalSegmentEntries(spark, dir)
    assert(entriesOnDisk >= model.size.toLong)
    assert(SnapshotLog.currentSnapshot(spark, dir).get
      .files.map(f => f.path -> f.seq).toMap === model)
    assert(fs.exists(md))
  }

  test("lock-free concurrent appenders all land (cross-process emulation)") {
    // two appenders deliberately BYPASS withTableLock — the in-JVM
    // emulation of two processes: every collision must rebase, every
    // batch must land exactly once, ids must stay gapless
    val dir = Files.createTempDirectory("graft-model-conc").toString + "/t"
    SnapshotLog.withTableLock(dir) {
      SnapshotLog.commit(spark, dir, "append", Seq(entry(0)), schema, None)
    }
    // three writers, enough rounds that the rename-overwrite race this
    // test CAUGHT (POSIX rename silently overwrites — two "winners",
    // one destroyed manifest) reproduces reliably without the fix
    val perWriter = 15
    val bases = Seq(1000, 2000, 3000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bases.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def writer(base: Int) = scala.concurrent.Future {
      (1 to perWriter).foreach { k =>
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        SnapshotLog.appendFiles(spark, dir, Seq(entry(base + k)), schema,
          expectedParent = cur, maxRetries = 200)
      }
    }
    val done = scala.concurrent.Future.sequence(bases.map(writer))
    scala.concurrent.Await.result(done, scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    val cur = SnapshotLog.currentSnapshot(spark, dir).get
    assert(cur.id === (1 + bases.size * perWriter).toLong) // gapless ids
    val paths = cur.files.map(_.path)
    assert(paths.distinct.size === paths.size)
    assert(paths.size === 1 + bases.size * perWriter) // each batch exactly once
    for (b <- bases; k <- 1 to perWriter)
      assert(paths.contains(entry(b + k).path))
  }

  test("chaos sweep: crash debris injected under concurrent writers — every surviving snapshot reads whole") {
    // Crash injection by artifact: a writer can die at exactly three
    // points — after data files (orphan data), after segment files
    // (orphan/truncated seg-*.json), after the temp manifest but before
    // the exclusive publish (un-renamed, possibly truncated .tmp-snap).
    // A chaos thread plants ALL of those continuously while three
    // lock-free writers race; none of it may become visible, corrupt a
    // committed snapshot, or wedge a later commit, and expire must
    // reclaim it.
    val dir = Files.createTempDirectory("graft-chaos").toString + "/t"
    SnapshotLog.withTableLock(dir) {
      SnapshotLog.commit(spark, dir, "append", Seq(entry(0)), schema, None)
    }
    val md = new Path(dir, SnapshotLog.MetaDirName)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plant(p: Path, bytes: Array[Byte]): Unit = {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
    val perWriter = 10
    val bases = Seq(1000, 2000, 3000)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bases.size + 1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val chaos = scala.concurrent.Future {
      var i = 0
      while (!stop.get()) {
        i += 1
        i % 4 match {
          case 0 => // un-renamed temp manifest, garbage bytes
            plant(new Path(md, s".tmp-snap-chaos-$i"),
              "{not json".getBytes("UTF-8"))
          case 1 => // truncated orphan segment (crashed mid-write)
            plant(new Path(md, s"seg-chaos-$i.json"),
              """{"entries":[{"path":"data/x.par""".getBytes("UTF-8"))
          case 2 => // orphan data file no snapshot references
            plant(new Path(new Path(dir, "data"), s"chaos-$i.parquet"),
              Array.fill[Byte](16)(0x7f))
          case _ => // empty temp manifest (crash between create and write)
            plant(new Path(md, s".tmp-snap-chaos-$i"), Array.emptyByteArray)
        }
        Thread.sleep(3)
      }
    }
    def writer(base: Int) = scala.concurrent.Future {
      (1 to perWriter).foreach { k =>
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        SnapshotLog.appendFiles(spark, dir, Seq(entry(base + k)), schema,
          expectedParent = cur, maxRetries = 200)
      }
    }
    val done = scala.concurrent.Future.sequence(bases.map(writer))
    scala.concurrent.Await.result(done, scala.concurrent.duration.Duration(180, "s"))
    stop.set(true)
    scala.concurrent.Await.result(chaos, scala.concurrent.duration.Duration(30, "s"))
    pool.shutdown()
    // EVERY surviving snapshot reads whole: ids gapless, each manifest
    // parses, each resolved file set free of dupes, monotone growth
    val snaps = SnapshotLog.snapshots(spark, dir)
    val total = 1 + bases.size * perWriter
    assert(snaps.map(_.id) === (1L to total.toLong))
    snaps.foreach { s =>
      val ps = s.files.map(_.path)
      assert(ps.distinct.size === ps.size, s"snapshot ${s.id} double-counts")
    }
    assert(snaps.map(_.files.size) === (1 to total))
    for (b <- bases; k <- 1 to perWriter)
      assert(snaps.last.files.map(_.path).contains(entry(b + k).path))
    // the debris never wedges a later commit...
    val next = SnapshotLog.appendFiles(spark, dir, Seq(entry(7777)), schema,
      expectedParent = Some(snaps.last), maxRetries = 50)
    assert(next.files.size === total + 1)
    // ...and expire reclaims every planted artifact (grace 0: sweep now)
    SnapshotLog.expire(spark, dir, keepLast = 1, debrisGraceMs = 0L)
    val leftMeta = fs.listStatus(md).map(_.getPath.getName)
    assert(!leftMeta.exists(_.contains("chaos")),
      s"unclaimed metadata debris: ${leftMeta.filter(_.contains("chaos")).take(5).mkString(",")}")
    val dataDir = new Path(dir, "data")
    val leftData =
      if (fs.exists(dataDir)) fs.listStatus(dataDir).map(_.getPath.getName)
      else Array.empty[String]
    assert(!leftData.exists(_.contains("chaos")),
      s"unclaimed data debris: ${leftData.filter(_.contains("chaos")).take(5).mkString(",")}")
    val after = SnapshotLog.currentSnapshot(spark, dir).get
    assert(after.files.map(_.path).size === total + 1)
  }

  test("reader sweep: lock-free readers race a continuous expire loop without errors") {
    // The other half of the chaos sweep (writers were r18): readers are
    // lock-free, expire holds the table lock but deletes manifests and
    // segments OUT from under a reader that has already listed them.
    // Contract: a vanished manifest reads as never-listed (the answer a
    // later listing gives), the current snapshot re-resolves to the
    // newer head expire must have kept, and nothing ever throws.
    val dir = Files.createTempDirectory("graft-read-race").toString + "/t"
    SnapshotLog.withTableLock(dir) {
      SnapshotLog.commit(spark, dir, "append", Seq(entry(0)), schema, None)
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def guard[A](body: => A): Unit =
      try { body; () } catch { case t: Throwable => failures.add(t); stop.set(true) }
    val nCommits = 40
    val writer = scala.concurrent.Future(guard {
      (1 to nCommits).foreach { k =>
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        SnapshotLog.appendFiles(spark, dir, Seq(entry(k)), schema,
          expectedParent = cur, maxRetries = 200)
      }
      stop.set(true)
    })
    val expirer = scala.concurrent.Future(guard {
      while (!stop.get()) {
        // grace > commit latency: with WRITERS live, a zero grace is
        // outside expire's contract — a writer's freshly written
        // segment is indistinguishable from crashed-writer debris
        // until its manifest publishes, and the modtime grace window
        // is exactly what shields it (this sweep CAUGHT that: grace 0
        // here corrupted a mid-flight commit). Dropped snapshots'
        // manifests and their exclusive segments are reclaimed
        // IMMEDIATELY regardless of grace, so the reader races stay
        // fully exercised.
        SnapshotLog.expire(spark, dir, keepLast = 2, debrisGraceMs = 60000L)
        Thread.sleep(2)
      }
    })
    def reader = scala.concurrent.Future(guard {
      var lastSeen = 0L
      while (!stop.get()) {
        val snaps = SnapshotLog.snapshots(spark, dir)
        assert(snaps.map(_.id) === snaps.map(_.id).sorted, "ids out of order")
        // the head never goes backwards for any reader
        val head = snaps.lastOption.map(_.id).getOrElse(0L)
        assert(head >= lastSeen, s"head regressed: $head < $lastSeen")
        lastSeen = head
        // every snapshot a reader gets back resolves a coherent file set
        snaps.foreach(s => assert(s.files.map(_.path).distinct.size === s.files.size))
        val headers = SnapshotLog.snapshotHeaders(spark, dir)
        assert(headers.map(_.id) === headers.map(_.id).sorted)
        val cur = SnapshotLog.currentSnapshot(spark, dir)
        assert(cur.nonEmpty, "table never empties (keepLast = 2)")
        // binary-search time travel races probes against expiring mids
        val asOf = SnapshotLog.snapshotAsOfTime(spark, dir, Long.MaxValue)
        assert(asOf.nonEmpty, "as-of(infinity) always resolves the head")
        assert(asOf.get.id >= lastSeen, "as-of head regressed")
        // tag listing races deleteTag/expire-era listings harmlessly
        SnapshotLog.tags(spark, dir)
      }
    })
    val readers = Seq(reader, reader)
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(writer, expirer) ++ readers),
      scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    if (!failures.isEmpty) throw failures.peek()
    // final state: exactly the last 2 snapshots retained, fully readable
    SnapshotLog.expire(spark, dir, keepLast = 2, debrisGraceMs = 0L)
    val left = SnapshotLog.snapshots(spark, dir)
    assert(left.map(_.id) === Seq(nCommits.toLong, nCommits + 1L))
    assert(left.last.files.size === nCommits + 1)
  }
}
