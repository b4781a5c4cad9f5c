package graft.lake

import graft.SparkTestBase
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/** The manifest-list layer (ref internal/iceberg/types.go:105-153
  * Snapshot.manifest-list): commit cost must be O(new files), not
  * O(total files), or a long-lived table's every commit rewrites its
  * whole history — THE metadata scale-killer at 100 TB. This spec
  * commits 200 snapshots of fabricated entries (metadata only — the
  * protocol never opens data files at commit time) and measures real
  * bytes on disk, then re-proves the crash windows and the pre-segment
  * compatibility path under the two-level layout. */
class ManifestScalingSpec extends SparkTestBase {

  import SnapshotLog.DataFile

  private def entry(i: Int): DataFile =
    DataFile(f"data/fake/f$i%05d.parquet", "", rows = 1L,
      sizeBytes = 100L, minLsn = Some(f"$i%016d"), maxLsn = Some(f"$i%016d"),
      seq = -1L, statsCol = Some(graft.ingest.Cdc.LsnColumn))

  private def mdBytes(dir: String): Long = {
    val p = new Path(dir, SnapshotLog.MetaDirName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  test("200 append commits: manifest bytes per commit stay flat, " +
    "resolution stays bounded, every historical id stays exact") {
    val dir = Files.createTempDirectory("graft-mscale").toString + "/t"
    val n = 200
    var cur: Option[SnapshotLog.Snapshot] = None
    val perCommit = Array.ofDim[Long](n + 1)
    for (i <- 1 to n) {
      val before = mdBytes(dir)
      cur = Some(SnapshotLog.withTableLock(dir) {
        SnapshotLog.commit(spark, dir, "append",
          cur.map(_.files).getOrElse(Seq.empty) :+ entry(i), schema,
          parent = cur)
      })
      perCommit(i) = mdBytes(dir) - before
    }
    // every snapshot resolves its exact historical file set
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size === n)
    assert(SnapshotLog.snapshotAt(spark, dir, 73L).files.size === 73)
    assert(SnapshotLog.snapshotAt(spark, dir, 1L).files.map(_.path)
      === Seq(entry(1).path))
    // carried entries keep their original seq through every re-segmenting
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files
      .find(_.path == entry(42).path).get.seq === 42L)
    // resolution is bounded: no snapshot references more than MaxSegments
    (1 to n).foreach { i =>
      assert(SnapshotLog.segmentCount(spark, dir, i.toLong)
        <= SnapshotLog.MaxSegments, s"snapshot $i over segment bound")
    }
    // FLAT per-commit cost: the inline layout writes ~i entries at commit
    // i, so its late-half/early-half byte ratio is ~3x and total is
    // quadratic. Medians are steal-proof (the occasional fold spike is
    // deliberate amortization, the median must not see it).
    def median(xs: Seq[Long]): Long = xs.sorted.apply(xs.size / 2)
    val early = median(perCommit.slice(2, 101).toSeq)
    val late = median(perCommit.slice(101, n + 1).toSeq)
    assert(late < early * 2,
      s"per-commit manifest bytes grew with history: early-median $early, " +
        s"late-median $late")
    // SUB-QUADRATIC total: entries ever written across all segments stay
    // within a log-ish factor of the live manifest (inline would be
    // n^2/2 = 20100 entries here)
    val written = SnapshotLog.totalSegmentEntries(spark, dir)
    assert(written < 8L * n,
      s"total segment entries $written exceed O(n log n) envelope")
  }

  test("orphaned segment files are invisible and reclaimed by expire") {
    val dir = Files.createTempDirectory("graft-mscale-orphan").toString + "/t"
    var cur: Option[SnapshotLog.Snapshot] = None
    (1 to 3).foreach { i =>
      cur = Some(SnapshotLog.withTableLock(dir) {
        SnapshotLog.commit(spark, dir, "append",
          cur.map(_.files).getOrElse(Seq.empty) :+ entry(i), schema,
          parent = cur)
      })
    }
    // a crashed commit's segment: written, never referenced by a renamed
    // manifest — readers must not see it, expire must reclaim it
    val md = new Path(dir, SnapshotLog.MetaDirName)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new Path(md, "seg-orphan-debris.json")
    val out = fs.create(orphan, false)
    out.write("""{"files":[{"path":"data/ghost.parquet","partition":"",
      "hive":false,"rows":9,"size_bytes":9,"seq":9}]}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size === 3)
    // a truncated orphan (crashed mid-write) is equally inert: reads and
    // the measurement surface must not throw on it
    val truncated = new Path(md, "seg-truncated-debris.json")
    val out2 = fs.create(truncated, false)
    out2.write("""{"files":[{"pa""".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    out2.close()
    assert(SnapshotLog.totalSegmentEntries(spark, dir) >= 3L)
    // the debris grace shields a FRESH unreferenced segment — the
    // cross-process window where a racing writer wrote it but has not
    // renamed its manifest yet (Iceberg's orphan-cleanup age rule)
    SnapshotLog.expire(spark, dir, keepLast = 3,
      debrisGraceMs = 10 * 60 * 1000L)
    assert(fs.exists(orphan), "grace window did not shield fresh debris")
    // grace 0 = strict single-process semantics: reclaim immediately
    SnapshotLog.expire(spark, dir, keepLast = 3, debrisGraceMs = 0L)
    assert(!fs.exists(orphan), "orphan segment survived expire")
    assert(!fs.exists(truncated), "truncated orphan survived expire")
    assert(SnapshotLog.currentSnapshot(spark, dir).get.files.size === 3)
  }

  test("expire reclaims expired history's exclusive segments, keeps shared ones") {
    val dir = Files.createTempDirectory("graft-mscale-exp").toString + "/t"
    var cur: Option[SnapshotLog.Snapshot] = None
    (1 to 40).foreach { i =>
      cur = Some(SnapshotLog.withTableLock(dir) {
        SnapshotLog.commit(spark, dir, "append",
          cur.map(_.files).getOrElse(Seq.empty) :+ entry(i), schema,
          parent = cur)
      })
    }
    SnapshotLog.expire(spark, dir, keepLast = 2)
    val md = new Path(dir, SnapshotLog.MetaDirName)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segsOnDisk = fs.listStatus(md).map(_.getPath.getName)
      .filter(n => n.startsWith("seg-") && n.endsWith(".json")).toSet
    // everything on disk is referenced by a retained manifest, and the
    // retained manifests resolve whole
    assert(SnapshotLog.snapshotAt(spark, dir, 40L).files.size === 40)
    assert(SnapshotLog.snapshotAt(spark, dir, 39L).files.size === 39)
    val entriesOnDisk = SnapshotLog.totalSegmentEntries(spark, dir)
    // retained manifests need at most 40 + 39 entries; shared segments
    // are stored once, so disk must hold between 40 and 79 entries
    assert(entriesOnDisk >= 40L && entriesOnDisk <= 79L,
      s"unreferenced segments left behind: $entriesOnDisk entries on disk")
    assert(segsOnDisk.nonEmpty)
  }

  test("pre-segment inline manifests stay readable; the next commit migrates") {
    val dir = Files.createTempDirectory("graft-mscale-v1").toString + "/t"
    import spark.implicits._
    // build real data via the normal writer, then rewrite the manifest
    // into the OLD inline form (what pre-round-10 fixture caches hold)
    val df = Seq((1L, f"${1}%016d"), (2L, f"${2}%016d"))
      .toDF("id", graft.ingest.Cdc.LsnColumn).coalesce(1)
    val s1 = SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.commit(spark, dir, "append", files, df.schema, parent = None)
    }
    val md = new Path(dir, SnapshotLog.MetaDirName)
    val fs = md.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new Path(md, f"snap-${s1.id}%012d.json")
    val inline = {
      val f = s1.files.head
      s"""{"id":1,"ts_ms":${s1.tsMs},"operation":"append",
         |"schema":${com.fasterxml.jackson.databind.json.JsonMapper.builder()
          .build().writeValueAsString(s1.schemaJson)},
         |"files":[{"path":"${f.path}","partition":"","hive":false,
         |"rows":${f.rows},"size_bytes":${f.sizeBytes},
         |"min_lsn":"${f.minLsn.get}","max_lsn":"${f.maxLsn.get}",
         |"seq":1,"stats_col":"${graft.ingest.Cdc.LsnColumn}"}]}""".stripMargin
    }
    fs.delete(manifest, false)
    // drop the now-orphan segment so only the inline form remains
    fs.listStatus(md).filter(_.getPath.getName.startsWith("seg-"))
      .foreach(st => fs.delete(st.getPath, false))
    val out = fs.create(manifest, false)
    out.write(inline.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    // inline manifest reads whole
    val v1 = SnapshotLog.currentSnapshot(spark, dir).get
    assert(v1.files.size === 1 && v1.totalRows === 2L)
    assert(SnapshotLog.read(spark, dir, v1).count() === 2L)
    // the NEXT commit finds no reusable segments (inline parent) and
    // writes the full state as fresh segments — lazy migration
    val df2 = Seq((3L, f"${3}%016d")).toDF("id", graft.ingest.Cdc.LsnColumn)
    val s2 = SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df2, None)
      SnapshotLog.commit(spark, dir, "append", v1.files ++ files, df2.schema,
        parent = Some(v1))
    }
    assert(SnapshotLog.segmentCount(spark, dir, s2.id) >= 1)
    assert(SnapshotLog.read(spark, dir, s2).count() === 3L)
    // an inline entry of the retired directory-layout import ("hive":
    // true keeps its partition value in the directory name only) must
    // fail resolution loudly, naming the file — never read as inline
    val legacy = new Path(md, f"snap-${s2.id + 1}%012d.json")
    val hiveOut = fs.create(legacy, false)
    hiveOut.write(inline.replace("\"id\":1", s"\"id\":${s2.id + 1}")
      .replace("\"hive\":false", "\"hive\":true")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    hiveOut.close()
    val e = intercept[IllegalStateException](SnapshotLog.currentSnapshot(spark, dir))
    assert(e.getMessage.contains(s1.files.head.path), e.getMessage)
  }
}
