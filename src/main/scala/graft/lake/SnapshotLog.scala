package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Iceberg-style snapshot commit log over a plain filesystem — the commit
  * protocol of the reference's Iceberg tables (ref internal/iceberg/
  * catalog/rest.go:187-217 CommitSnapshot, internal/iceberg/types.go:
  * 78-153 DataFile/Snapshot/TableMetadata), emulated locally because no
  * iceberg-spark runtime ships in this container.
  *
  * Model:
  *  - Data files are IMMUTABLE and invisible until referenced. Writers
  *    drop new parquet files anywhere under the table dir (a fresh
  *    `data/<uuid>/` tree per commit); nothing reads them until a
  *    snapshot manifest lists them.
  *  - A snapshot is ONE json file `metadata/snap-<id>.json` holding the
  *    table schema, the parent id, the operation, and the list of
  *    immutable manifest SEGMENTS (`metadata/seg-<uuid>.json`) that
  *    together carry the complete file manifest (path, partition value,
  *    row count, size, LSN bounds per entry) — Iceberg's manifest-list
  *    two-level layout. A commit reuses every parent segment whose
  *    entries survive and writes one segment for the delta, so append
  *    commits cost O(new files) manifest bytes regardless of table age.
  *    The snapshot file is written to a temp name and RENAMED into
  *    place — the rename IS the commit (POSIX rename atomicity), so a
  *    reader can never observe a partial commit: segments are invisible
  *    until a renamed snapshot references them, and either the snapshot
  *    file exists whole or the previous snapshot is current.
  *  - Resolution: current = highest snapshot id present (Iceberg's
  *    version-hint fallback — robust to any crash, needs no second
  *    pointer write). Historical reads resolve any retained id.
  *  - Uncommitted debris (a crashed writer's data files, an un-renamed
  *    temp manifest) is INVISIBLE by construction and reclaimed by
  *    [[expire]].
  *
  * Concurrency: commits run under a per-table JVM lock and rebuild their
  * manifest from the freshly-resolved current snapshot inside the lock —
  * so an append racing a rewrite (the DLQ case) composes instead of
  * losing rows. Cross-process writers are out of scope by construction
  * (the reference's writer is equally single-process per table).
  *
  * 100 TB notes: the manifest is metadata — O(files), kilobytes per
  * thousand files — and lives on the driver only at commit time. Reads
  * prune at the MANIFEST level (partition value + LSN bounds per file)
  * before any footer is opened, which is exactly the scan-planning
  * shortcut Iceberg metadata buys over directory listing. Per-file
  * row counts and LSN bounds come from parquet footers at commit time
  * (driver-side metadata reads, O(new files per commit), never a data
  * scan).
  */
object SnapshotLog {

  val MetaDirName = "metadata"

  /** One immutable data file (ref types.go:78-103 DataFile).
    * `path` is relative to the table dir. `partition` is the partition
    * value ("" = unpartitioned); the partition column is stored inline
    * in every file, so a file list reads back without directory
    * semantics.
    * `seq` is the id of the snapshot that ADDED the file (Iceberg's
    * data-sequence-number): equality deletes apply only to files with a
    * strictly LOWER seq, which is what lets an upsert's new row and its
    * own delete coexist in one commit. -1 = "added by the commit in
    * flight" ([[commit]] stamps the real id); 0 = pre-seq legacy, which
    * every delete outranks.
    * `statsCol` names the column `minLsn`/`maxLsn` describe (None = the
    * LSN column, the pre-statsCol manifest default) — a clustered rewrite
    * ([[clusterBy]]) records bounds of its sort column instead, and
    * pruning only trusts bounds recorded FOR the queried column.
    * `spec` names the partition TRANSFORM the partition value was
    * produced by (None = identity on the table's partition column;
    * "month" = the day's yyyy-MM prefix) — Iceberg partition-spec
    * evolution: a table may hold files under several specs at once, and
    * pruning evaluates the day predicate PER SPEC instead of assuming
    * one layout. Unknown specs never prune.
    * `extraBounds` carries min/max for ADDITIONAL columns beyond the
    * primary stats column — the multi-dimension skipping surface a
    * grid/z-order rewrite ([[clusterByGrid]]) records so range queries
    * on EVERY clustered dimension prune at the manifest. */
  final case class DataFile(path: String, partition: String,
                            rows: Long, sizeBytes: Long,
                            minLsn: Option[String], maxLsn: Option[String],
                            seq: Long = 0L, statsCol: Option[String] = None,
                            spec: Option[String] = None,
                            extraBounds: Map[String, (String, String)] = Map.empty,
                            schemaId: Int = 0) {
    def boundsColumn: String = statsCol.getOrElse(graft.ingest.Cdc.LsnColumn)

    /** Recorded [min, max] for `column`, from the primary stats pair or
      * the extra-bounds map; None = no bounds recorded FOR that column
      * (pruning must keep the file). */
    def boundsFor(column: String): Option[(String, String)] =
      if (boundsColumn == column)
        for (mn <- minLsn; mx <- maxLsn) yield (mn, mx)
      else extraBounds.get(column)

    /** Does this file's partition possibly hold rows of `day`? The full
      * reference transform family (ref internal/iceberg/types.go:54-75:
      * identity/year/month/day/hour) evaluates against the day string's
      * prefix — hour values are `yyyy-MM-dd HH`, finer than a day, so an
      * hour file prunes EXACTLY for day predicates. */
    def matchesDay(day: String): Boolean = spec match {
      case None | Some("identity") | Some("day") => partition == day
      case Some("month")           => partition == day.take(7)
      case Some("year")            => partition == day.take(4)
      case Some("hour")            => partition.take(10) == day
      case Some(_)                 => true // unknown transform: never prune
    }
  }

  /** One equality-delete file (Iceberg v2 merge-on-read): a parquet file
    * of key tuples under `eqCols`; at read time a key's rows are dropped
    * from every data file with `seq` strictly below the delete's. */
  final case class DeleteFile(path: String, eqCols: Seq[String], rows: Long,
                              sizeBytes: Long, seq: Long = 0L)

  /** One positional-delete file (Iceberg v2): a parquet file of
    * `(file: String, pos: Long)` rows naming exact dead row slots —
    * `file` is a data-file path relative to the table dir, `pos` the row
    * ordinal within that file. Position deletes target file IDENTITY, so
    * they apply regardless of seq and become inert when the file is
    * rewritten out (the rewrite materializes them first). */
  final case class PosDeleteFile(path: String, rows: Long, sizeBytes: Long,
                                 seq: Long = 0L)

  /** One committed table state (ref types.go:105-131 Snapshot).
    * `deletes` is the live equality-delete set and `posDeletes` the live
    * positional-delete set (both empty for copy-on-write tables);
    * [[read]] applies both transparently. */
  /** `schemaId`/`lastColumnId`/`schemasById` are the field-id evolution
    * surface (Iceberg's schema-id + last-column-id + schema list):
    * `schemasById` maps every schema id still referenced by a live data
    * file (plus the current one) to its json, so a file written under a
    * RENAMED-away name resolves its columns BY FIELD ID regardless of
    * how old it is — including after its write-era snapshot expired.
    * `schemaId`/file.schemaId 0 = pre-field-id legacy: read by name. */
  final case class Snapshot(id: Long, parentId: Option[Long], tsMs: Long,
                            operation: String, schemaJson: String,
                            files: Seq[DataFile],
                            deletes: Seq[DeleteFile] = Nil,
                            posDeletes: Seq[PosDeleteFile] = Nil,
                            schemaId: Int = 0, lastColumnId: Int = 0,
                            schemasById: Map[Int, String] = Map.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def totalRows: Long = files.map(_.rows).sum

    /** Per-resolution memo for plan-time fold decisions: the optimizer
      * asks the scan builder the same O(files) questions several times
      * per plan (supportCompletePushDown, pushAggregation, build — each
      * re-parsing every file's BigDecimal bounds or era schema), and
      * they all hold THIS resolved instance. Memoizing on the instance
      * makes each fold run once per plan with zero cross-snapshot
      * staleness risk (a re-resolved snapshot is a new instance). */
    @transient private lazy val planMemo =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    private[lake] def planMemoized(aspect: String)(compute: => Boolean): Boolean = {
      val hit = planMemo.get(aspect)
      if (hit != null) hit.booleanValue()
      else { val v = compute; planMemo.put(aspect, java.lang.Boolean.valueOf(v)); v }
    }
    def lsnWatermark: Option[String] = {
      val lsnFiles = files.filter(f =>
        f.boundsColumn == graft.ingest.Cdc.LsnColumn && f.maxLsn.isDefined)
      if (lsnFiles.nonEmpty) Some(lsnFiles.flatMap(_.maxLsn).max) else None
    }
  }

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  // ---- per-table JVM lock (single-process engine; see scaladoc)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withTableLock[T](tableDir: String)(body: => T): T = {
    val key = new Path(tableDir).toUri.normalize().toString
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }

  /** Bounded optimistic retry for row-level DML (the cross-process
    * counterpart of [[appendFiles]]' rebase): a stale-parent commit —
    * a FOREIGN process committed between this operation's snapshot
    * resolution and its manifest rename — re-derives the WHOLE
    * operation against the new current snapshot. Re-derivation is
    * strictly stronger than Iceberg's validate-or-fail: the retried
    * statement is semantically the statement executing AFTER the
    * concurrent commit (serializable last-writer order), so there is
    * no conflict class to refuse. A failed attempt's written files
    * (pos-delete + replacement data) are never-referenced debris,
    * shielded by expire's grace window and then reclaimed. Bounded —
    * a pathological commit storm still fails loudly. */
  private def retryOnConflict[T](maxRetries: Int = 5,
                                 onConflict: () => Unit = () => ())(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          onConflict()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deterministic cross-process race injection for SPECS: invoked at
    * the top of [[commit]] with the operation name, before the parent
    * check — a test lands a foreign commit here (the per-table lock is
    * reentrant) to make the enclosing operation's parent stale at a
    * precise point. A no-op in production. */
  private[lake] var commitTestHook: (String, String) => Unit = (_, _) => ()

  /** Filesystem plus the FULLY-QUALIFIED table root — listStatus returns
    * qualified paths, so relativization must strip a qualified prefix. */
  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def metaDir(root: Path) = new Path(root, MetaDirName)
  private val SnapRe = "snap-(\\d+)\\.json".r

  // ---- JSON codec (Jackson ships with Spark; all metadata is tiny)

  /** The manifest entries one segment file carries — the unit of
    * manifest REUSE across commits (see [[planSegments]]). */
  private[lake] final case class SegContent(files: Seq[DataFile],
                                            deletes: Seq[DeleteFile],
                                            posDeletes: Seq[PosDeleteFile]) {
    def entryCount: Int = files.size + deletes.size + posDeletes.size
    def isEmpty: Boolean = entryCount == 0
  }

  private val mapper = new ObjectMapper()

  private def entriesToNode(o: ObjectNode, c: SegContent): Unit = {
    val arr = o.putArray("files")
    c.files.foreach { f =>
      val fo = arr.addObject()
      fo.put("path", f.path)
      fo.put("partition", f.partition)
      fo.put("rows", f.rows)
      fo.put("size_bytes", f.sizeBytes)
      f.minLsn.foreach(fo.put("min_lsn", _))
      f.maxLsn.foreach(fo.put("max_lsn", _))
      fo.put("seq", f.seq)
      f.statsCol.foreach(fo.put("stats_col", _))
      f.spec.foreach(fo.put("spec", _))
      if (f.schemaId != 0) fo.put("schema_id", f.schemaId)
      if (f.extraBounds.nonEmpty) {
        val barr = fo.putArray("col_bounds")
        f.extraBounds.toSeq.sortBy(_._1).foreach { case (col, (mn, mx)) =>
          val bo = barr.addObject()
          bo.put("col", col); bo.put("min", mn); bo.put("max", mx)
        }
      }
    }
    if (c.deletes.nonEmpty) {
      val darr = o.putArray("deletes")
      c.deletes.foreach { d =>
        val dob = darr.addObject()
        dob.put("path", d.path)
        val cols = dob.putArray("eq_cols")
        d.eqCols.foreach(cols.add)
        dob.put("rows", d.rows)
        dob.put("size_bytes", d.sizeBytes)
        dob.put("seq", d.seq)
      }
    }
    if (c.posDeletes.nonEmpty) {
      val parr = o.putArray("pos_deletes")
      c.posDeletes.foreach { p =>
        val pob = parr.addObject()
        pob.put("path", p.path)
        pob.put("rows", p.rows)
        pob.put("size_bytes", p.sizeBytes)
        pob.put("seq", p.seq)
      }
    }
  }

  private def entriesFromNode(n: JsonNode): SegContent = {
    def optText(node: JsonNode, field: String): Option[String] =
      Option(node.get(field)).map(_.asText())
    val files = n.get("files") match {
      case arr: ArrayNode =>
        (0 until arr.size()).map { i =>
          val f = arr.get(i)
          val extra = f.get("col_bounds") match {
            case b: ArrayNode => (0 until b.size()).map { j =>
              val bo = b.get(j)
              bo.get("col").asText() ->
                (bo.get("min").asText(), bo.get("max").asText())
            }.toMap
            case _ => Map.empty[String, (String, String)]
          }
          // entries of the retired directory-layout import kept their
          // partition value in the directory name only — reading them
          // with inline semantics would null the partition column
          if (Option(f.get("hive")).exists(_.asBoolean()))
            throw new IllegalStateException(
              s"manifest entry ${f.get("path").asText()} is a directory-layout " +
                "(hive) import, which is no longer readable — re-ingest the table")
          DataFile(f.get("path").asText(), f.get("partition").asText(),
            f.get("rows").asLong(),
            f.get("size_bytes").asLong(),
            optText(f, "min_lsn"), optText(f, "max_lsn"),
            Option(f.get("seq")).map(_.asLong()).getOrElse(0L),
            optText(f, "stats_col"), optText(f, "spec"), extra,
            Option(f.get("schema_id")).map(_.asInt()).getOrElse(0))
        }
      case _ => Seq.empty[DataFile]
    }
    val deletes = n.get("deletes") match {
      case arr: ArrayNode =>
        (0 until arr.size()).map { i =>
          val d = arr.get(i)
          val cols = d.get("eq_cols") match {
            case c: ArrayNode => (0 until c.size()).map(c.get(_).asText())
            case _            => Seq.empty[String]
          }
          DeleteFile(d.get("path").asText(), cols, d.get("rows").asLong(),
            d.get("size_bytes").asLong(), d.get("seq").asLong())
        }
      case _ => Seq.empty[DeleteFile]
    }
    val posDeletes = n.get("pos_deletes") match {
      case arr: ArrayNode =>
        (0 until arr.size()).map { i =>
          val p = arr.get(i)
          PosDeleteFile(p.get("path").asText(), p.get("rows").asLong(),
            p.get("size_bytes").asLong(), p.get("seq").asLong())
        }
      case _ => Seq.empty[PosDeleteFile]
    }
    SegContent(files, deletes, posDeletes)
  }

  // ---- manifest segments (Iceberg's manifest-list layer)
  //
  // A committed snapshot file holds the header (id, parent, ts,
  // operation, schema) plus a LIST of immutable segment file names
  // (`metadata/seg-<uuid>.json`), each carrying a slice of the manifest
  // entries. A commit REUSES every parent segment whose entries all
  // survive and writes ONE new segment for the rest — append commits
  // therefore write O(new files) manifest bytes, not O(total files),
  // which is the property that keeps a long-lived 100 TB table's commit
  // cost flat as history grows. Segment files are invisible until a
  // snapshot rename references them, so the crash story is unchanged:
  // an orphaned segment is debris for [[expire]].
  //
  // Pre-segment manifests (inline entry arrays) stay readable — fixture
  // caches and long-lived tables migrate lazily: their first new commit
  // writes the full state as fresh segments.

  /** Resolution-read bound: a commit that would reference more segments
    * than this first folds the smallest ones into one (log-structured
    * merge) — amortized O(new + log) manifest bytes per commit, and
    * snapshot resolution opens at most this many segment files. */
  val MaxSegments = 32

  /** Immutable-segment cache: segments never change once referenced, so
    * a (qualified path → content) cache is sound and makes repeated
    * resolution (streaming sinks, history scans) metadata-cheap. */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, SegContent]()
  // budget in ENTRIES (the byte driver — a folded mega-segment carries
  // the near-full manifest), not file count: bounds driver heap to
  // ~entries × ~200 B across every open table
  private val SegCacheEntryBudget = 2L * 1000 * 1000
  private val segCacheEntries = new java.util.concurrent.atomic.AtomicLong(0L)

  private def segCachePut(key: String, content: SegContent): Unit = {
    if (segCacheEntries.get() + content.entryCount > SegCacheEntryBudget) {
      segCache.clear()
      segCacheEntries.set(0L)
    }
    if (segCache.put(key, content) == null)
      segCacheEntries.addAndGet(content.entryCount.toLong)
  }

  private def segCacheDrop(key: String): Unit = {
    val prev = segCache.remove(key)
    if (prev != null) segCacheEntries.addAndGet(-prev.entryCount.toLong)
  }

  private def loadSegment(fs: FileSystem, md: Path, name: String): SegContent = {
    val key = fs.makeQualified(new Path(md, name)).toString
    val hit = segCache.get(key)
    if (hit != null) return hit
    val content = entriesFromNode(mapper.readTree(readFully(fs, new Path(md, name))))
    segCachePut(key, content)
    content
  }

  /** Write `content` as a new immutable segment file and return its
    * name. The file is unreferenced (invisible) until a snapshot rename
    * points at it, so a plain create is crash-safe. */
  private def writeSegment(fs: FileSystem, md: Path, content: SegContent): String = {
    val name = s"seg-${java.util.UUID.randomUUID()}.json"
    val o = mapper.createObjectNode()
    entriesToNode(o, content)
    val out = fs.create(new Path(md, name), false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val key = fs.makeQualified(new Path(md, name)).toString
    segCachePut(key, content)
    name
  }

  /** Segment names a manifest file references (empty for pre-segment
    * inline manifests) — the raw read [[expireCore]] uses for liveness. */
  private def segmentNamesOf(fs: FileSystem, manifest: Path): Seq[String] = {
    val n = mapper.readTree(readFully(fs, manifest))
    n.get("segments") match {
      case arr: ArrayNode => (0 until arr.size()).map(arr.get(_).asText())
      case _              => Seq.empty
    }
  }

  /** Plan the segment list for a snapshot whose complete entry set is
    * `content`: reuse each candidate segment (from the manifests at
    * `reuseFrom`, typically the parent) whose entries ALL survive into
    * `content` and overlap nothing already covered, write the residue as
    * one new segment, then fold the smallest segments when the list
    * exceeds [[MaxSegments]]. Returns the ordered segment names plus
    * every segment file this call CREATED (for cleanup if the commit
    * rename loses). */
  private def planSegments(fs: FileSystem, md: Path, reuseFrom: Seq[Path],
                           content: SegContent): (Seq[String], Seq[String]) = {
    val candidates: Seq[(String, SegContent)] = reuseFrom
      .filter(fs.exists(_))
      .flatMap(p => segmentNamesOf(fs, p))
      .distinct
      .map(name => name -> loadSegment(fs, md, name))
    val fset = content.files.toSet
    val dset = content.deletes.toSet
    val pset = content.posDeletes.toSet
    // greedy selection with an overlap guard: reuse candidates from
    // different lineages (parent + a rollback target) may share entries,
    // and a doubly-covered file would be read twice
    var coveredF = Set.empty[DataFile]
    var coveredD = Set.empty[DeleteFile]
    var coveredP = Set.empty[PosDeleteFile]
    val reused = candidates.filter { case (_, c) =>
      val fits = c.files.forall(fset) && c.deletes.forall(dset) &&
        c.posDeletes.forall(pset) && !c.isEmpty
      val disjoint = !c.files.exists(coveredF) && !c.deletes.exists(coveredD) &&
        !c.posDeletes.exists(coveredP)
      if (fits && disjoint) {
        coveredF ++= c.files; coveredD ++= c.deletes; coveredP ++= c.posDeletes
        true
      } else false
    }
    val residue = SegContent(
      content.files.filterNot(coveredF),
      content.deletes.filterNot(coveredD),
      content.posDeletes.filterNot(coveredP))
    // fold decision BEFORE any write, so a folding commit writes its
    // residue once inside the folded segment instead of creating an
    // instantly-orphaned residue file (double bytes, debris)
    var created = Seq.empty[String]
    val wouldBe = reused.size + (if (residue.isEmpty) 0 else 1)
    if (wouldBe > MaxSegments) {
      // fold the smallest segments (residue riding along) down to half
      // the bound — the classic log-structured amortization: every
      // entry is rewritten O(log total) times across a table's life
      val keepCount = MaxSegments / 2
      val (small, big) = reused.sortBy(_._2.entryCount)
        .splitAt(reused.size - keepCount + 1)
      val foldedContent = SegContent(
        small.flatMap(_._2.files) ++ residue.files,
        small.flatMap(_._2.deletes) ++ residue.deletes,
        small.flatMap(_._2.posDeletes) ++ residue.posDeletes)
      val name = writeSegment(fs, md, foldedContent)
      created :+= name
      ((big.map(_._1) :+ name), created)
    } else if (!residue.isEmpty) {
      val name = writeSegment(fs, md, residue)
      created :+= name
      (reused.map(_._1) :+ name, created)
    } else (reused.map(_._1), created)
  }

  /** Header + segment list of a committed snapshot file. */
  private def manifestJson(s: Snapshot, segNames: Seq[String]): String = {
    val o = mapper.createObjectNode()
    o.put("id", s.id)
    s.parentId.foreach(o.put("parent_id", _))
    o.put("ts_ms", s.tsMs)
    o.put("operation", s.operation)
    o.put("schema", s.schemaJson)
    if (s.schemaId != 0) o.put("schema_id", s.schemaId)
    if (s.lastColumnId != 0) o.put("last_column_id", s.lastColumnId)
    if (s.schemasById.nonEmpty) {
      val so = o.putObject("schemas")
      s.schemasById.toSeq.sortBy(_._1).foreach { case (id, json) =>
        so.put(id.toString, json)
      }
    }
    val arr = o.putArray("segments")
    segNames.foreach(arr.add)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  /** Parse a manifest file: segment form resolves its segments (cached),
    * pre-segment form reads the inline entry arrays. `md` is the
    * metadata dir segments live in — always the MAIN metadata dir, also
    * for branch-staged manifests (the shared namespace is what lets
    * publish move metadata only). */
  private def readManifest(fs: FileSystem, md: Path, p: Path): Snapshot = {
    val n = mapper.readTree(readFully(fs, p))
    val c = n.get("segments") match {
      case arr: ArrayNode =>
        val parts = (0 until arr.size()).map(i => loadSegment(fs, md, arr.get(i).asText()))
        SegContent(parts.flatMap(_.files), parts.flatMap(_.deletes),
          parts.flatMap(_.posDeletes))
      case _ => entriesFromNode(n)
    }
    val schemas = n.get("schemas") match {
      case o: ObjectNode =>
        val it = o.fieldNames()
        val b = Map.newBuilder[Int, String]
        while (it.hasNext) { val k = it.next(); b += k.toInt -> o.get(k).asText() }
        b.result()
      case _ => Map.empty[Int, String]
    }
    Snapshot(n.get("id").asLong(),
      Option(n.get("parent_id")).map(_.asLong()),
      n.get("ts_ms").asLong(), n.get("operation").asText(),
      n.get("schema").asText(), c.files, c.deletes, c.posDeletes,
      Option(n.get("schema_id")).map(_.asInt()).getOrElse(0),
      Option(n.get("last_column_id")).map(_.asInt()).getOrElse(0),
      schemas)
  }

  // ---- resolution

  /** Read a manifest TOLERATING a concurrent expire: readers are
    * lock-free, so a manifest listed a moment ago (or its exclusive
    * segments — expire deletes the manifest first, segments after) may
    * vanish mid-read. None iff the manifest file no longer exists — for
    * this reader the snapshot was already expired, the same answer a
    * slightly later listing would have given. A read failure while the
    * manifest IS still present can't be expiry (retained manifests'
    * segments are never reclaimed) and stays loud. */
  private def readManifestIfPresent(fs: FileSystem, md: Path,
                                    p: Path): Option[Snapshot] =
    try Some(readManifest(fs, md, p))
    catch {
      // NonFatal only: an interrupt or VM-level error must propagate,
      // not dissolve into "snapshot never existed"
      case scala.util.control.NonFatal(e) if !fs.exists(p) => None
    }

  /** All committed snapshots, ascending id. Un-renamed temp manifests and
    * foreign files are ignored — a crashed commit simply never exists —
    * and so are manifests a concurrent expire reclaims mid-listing. */
  def snapshots(spark: SparkSession, tableDir: String): Seq[Snapshot] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq
      .flatMap(st => st.getPath.getName match {
        case SnapRe(_) => Some(st.getPath)
        case _         => None
      })
      .flatMap(p => readManifestIfPresent(fs, metaDir(root), p))
      .sortBy(_.id)
  }

  /** Header view of one committed snapshot — the catalog-surface
    * fields, resolvable without touching segments or file lists. */
  final case class SnapshotHeader(id: Long, parentId: Option[Long],
                                  tsMs: Long, operation: String,
                                  schemaId: Int)

  /** All snapshot HEADERS, ascending id: one small-JSON parse per
    * retained manifest, segments never resolved — the metadata-serving
    * path ([[RestCatalogServer]]) must not pay O(history × files) per
    * request the way [[snapshots]] does. */
  def snapshotHeaders(spark: SparkSession,
                      tableDir: String): Seq[SnapshotHeader] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq
      .flatMap(st => st.getPath.getName match {
        case SnapRe(_) => Some(st.getPath)
        case _         => None
      })
      .flatMap { p =>
        // same expiry tolerance as [[snapshots]]: vanished = never listed
        try {
          val n = mapper.readTree(readFully(fs, p))
          Some(SnapshotHeader(n.get("id").asLong(),
            Option(n.get("parent_id")).map(_.asLong()),
            n.get("ts_ms").asLong(), n.get("operation").asText(),
            Option(n.get("schema_id")).map(_.asInt()).getOrElse(0)))
        } catch { case scala.util.control.NonFatal(e) if !fs.exists(p) => None }
      }
      .sortBy(_.id)
  }

  /** The branch's head snapshot ID from the filename listing alone —
    * the newest staged manifest, or the base when nothing is staged. */
  def branchHeadId(spark: SparkSession, tableDir: String,
                   name: String): Long = {
    val base = branchBase(spark, tableDir, name) // existence check
    val (fs, root) = fsOf(spark, tableDir)
    fs.listStatus(branchDir(root, name)).toSeq
      .flatMap(st => st.getPath.getName match {
        case SnapRe(id) if st.isFile => Some(id.toLong)
        case _                       => None
      })
      .maxOption.getOrElse(base)
  }

  /** Retained snapshot ids, ascending — a pure FILENAME listing, no
    * manifest is parsed. The window/history readers below resolve ids
    * first and parse only the manifests they need: each manifest carries
    * a full file list, so parsing all of them makes per-call driver cost
    * grow with stream age (the same trap [[currentSnapshot]]'s O(1)
    * resolution already avoids). */
  def snapshotIds(spark: SparkSession, tableDir: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq.flatMap(st => st.getPath.getName match {
      case SnapRe(id) => Some(id.toLong)
      case _          => None
    }).sorted
  }

  /** Resolve the snapshots in `(fromId, toId]`, REQUIRING every id in the
    * range to still be retained: an expired snapshot inside the window
    * would make an incremental feed silently lose its changes (Iceberg's
    * incremental-scan contract errors the same way). */
  private def resolveWindow(spark: SparkSession, tableDir: String,
                            fromId: Long, toId: Long): Seq[Snapshot] = {
    val retained = snapshotIds(spark, tableDir)
      .filter(id => id > fromId && id <= toId)
    val missing = ((fromId + 1) to toId).filterNot(retained.contains)
    require(missing.isEmpty,
      s"snapshots ${missing.mkString(", ")} in ($fromId, $toId] are expired " +
        s"or absent from $tableDir — the incremental feed would silently " +
        "lose their changes")
    retained.map(id => snapshotAt(spark, tableDir, id))
  }

  /** Current = highest id. Resolution is O(1) manifest reads: the id is
    * in the FILENAME, so one listing picks the max and exactly one json
    * file is parsed — a streaming sink resolving before every trigger
    * must not re-parse the whole history (each manifest carries a full
    * file list; parsing all of them made per-trigger driver cost grow
    * linearly with stream age). */
  def currentSnapshot(spark: SparkSession, tableDir: String): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, tableDir)
    // If the picked maximum vanishes mid-read, an expire raced us —
    // and expire keeps the newest snapshot, so a NEWER current must
    // exist (a writer advanced the log): re-list and pick it up. The
    // retry can only be starved by the log advancing, so a small bound
    // distinguishes that from genuine corruption.
    var attempt = 0
    while (attempt < 5) {
      val md = metaDir(root)
      if (!fs.exists(md)) return None
      val cand = fs.listStatus(md).toSeq
        .flatMap(st => st.getPath.getName match {
          case SnapRe(id) => Some(id.toLong -> st.getPath)
          case _          => None
        })
        .maxByOption(_._1)
      cand match {
        case None => return None
        case Some((_, p)) =>
          readManifestIfPresent(fs, metaDir(root), p) match {
            case some @ Some(_) => return some
            case None           => attempt += 1
          }
      }
    }
    throw new IllegalStateException(
      s"current snapshot of $tableDir kept vanishing mid-read " +
        "(5 attempts) — expiry racing faster than re-listing")
  }

  /** Resolve the newest snapshot committed at or before `tsMs` —
    * Iceberg's `FOR TIMESTAMP AS OF` against the commit log (commit
    * wall-clocks are recorded in each manifest; ids and timestamps are
    * both monotone, so a binary search over the id listing parses
    * O(log history) manifests, not all of them). None if the oldest
    * retained snapshot is already newer. */
  def snapshotAsOfTime(spark: SparkSession, tableDir: String,
                       tsMs: Long): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    // A probed id can expire between the listing and its header read
    // — even when the ANSWER snapshot is retained. The correct result
    // under that race is whatever a moment-later listing yields, so:
    // re-list and re-search (bounded; expiry racing a binary search
    // more than a few times means something else is wrong).
    var attempt = 0
    while (attempt < 5) {
      val ids = snapshotIds(spark, tableDir)
      var lo = 0
      var hi = ids.size - 1
      var best: Option[Long] = None
      var vanished = false
      while (lo <= hi && !vanished) {
        val mid = (lo + hi) >>> 1
        val p = new Path(md, f"snap-${ids(mid)}%012d.json")
        // header-only probe: the search needs ts_ms, not the file
        // list — segment resolution happens once, for the winner.
        // A probe whose manifest VANISHED re-lists; a read failure
        // with the file still present is corruption and stays loud
        // (same discipline as readManifestIfPresent).
        try {
          val t = mapper.readTree(readFully(fs, p)).get("ts_ms").asLong()
          if (t <= tsMs) { best = Some(ids(mid)); lo = mid + 1 }
          else hi = mid - 1
        } catch {
          case scala.util.control.NonFatal(e) if !fs.exists(p) =>
            vanished = true
        }
      }
      if (!vanished) best match {
        case None => return None
        case Some(id) =>
          // the winner itself can expire between its probe and the full
          // read: snapshotAt reports that as NoSuchElementException
          // (either its exists precheck or the expired-mid-read path) —
          // a race by construction, since the id came from the listing.
          // Real corruption (segments missing under a live manifest)
          // surfaces as a different exception and propagates.
          try return Some(snapshotAt(spark, tableDir, id))
          catch { case _: NoSuchElementException => }
      }
      attempt += 1
    }
    throw new IllegalStateException(
      s"as-of-time resolution on $tableDir kept losing probes to " +
        "concurrent expiry (5 attempts)")
  }

  // ---- named refs (Iceberg tags): a tag pins a snapshot id under a
  // name and PROTECTS it from expiry — the retention story for "the
  // snapshot we trained run X against".

  private val TagRe = "ref-(.+)\\.json".r

  /** Pin `name` to snapshot `id` (must be retained). Re-tagging replaces
    * the pin atomically; both steps run under the table lock so a
    * concurrent expire never sees a half-replaced ref. */
  def tag(spark: SparkSession, tableDir: String, name: String, id: Long): Unit =
    withTableLock(tableDir) {
      validRefName(name)
      require(name != "main",
        "'main' is reserved for the implicit main branch (Iceberg reserves it)")
      snapshotAt(spark, tableDir, id) // throws if not retained
      val (fs, root) = fsOf(spark, tableDir)
      val md = metaDir(root)
      fs.mkdirs(md)
      val tmp = new Path(md, s".tmp-ref-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, false)
      try out.write(s"""{"name":"$name","snapshot_id":$id}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val dst = new Path(md, s"ref-$name.json")
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(s"lost tag race for $dst")
      }
    }

  /** All tags: name → pinned snapshot id. A tag file deleted (deleteTag)
    * between the listing and its read is skipped — the answer a later
    * listing gives; a failed read of a still-present file stays loud. */
  def tags(spark: SparkSession, tableDir: String): Map[String, Long] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return Map.empty
    fs.listStatus(md).toSeq.flatMap(st => st.getPath.getName match {
      case TagRe(name) =>
        try Some(name ->
          mapper.readTree(readFully(fs, st.getPath)).get("snapshot_id").asLong())
        catch {
          case scala.util.control.NonFatal(e) if !fs.exists(st.getPath) => None
        }
      case _ => None
    }).toMap
  }

  /** Resolve a tag to its pinned snapshot. */
  def snapshotAtTag(spark: SparkSession, tableDir: String, name: String): Snapshot =
    tags(spark, tableDir).get(name) match {
      case Some(id) => snapshotAt(spark, tableDir, id)
      case None => throw new NoSuchElementException(s"no tag $name in $tableDir")
    }

  def dropTag(spark: SparkSession, tableDir: String, name: String): Unit =
    withTableLock(tableDir) {
      validRefName(name) // a crafted name must never escape metadata/
      val (fs, root) = fsOf(spark, tableDir)
      fs.delete(new Path(metaDir(root), s"ref-$name.json"), false)
    }

  // ---- branches (Iceberg write-audit-publish): stage commits into a
  // branch namespace invisible to main readers, audit the branch head,
  // then PUBLISH by fast-forwarding the staged manifests into main.
  //
  // Layout: `metadata/branch-<name>/` holds `base.json` (the main
  // snapshot id the branch forked from) plus staged `snap-<id>.json`
  // manifests numbered base+1, base+2, … — the exact ids they will own
  // on main. Staged manifests are self-contained (full file lists), and
  // their data files live in the shared `data/` namespace, so publish
  // moves METADATA only: one rename per staged commit, each atomic, each
  // a complete valid snapshot — a crash mid-publish lands a prefix of
  // the staged commits, indistinguishable from crashing between two
  // ordinary commits. A main commit racing the branch takes id base+1
  // first and publish fails loudly (stale fast-forward, Iceberg's
  // non-fast-forward error); re-staging is the rebase.

  private def branchDir(root: Path, name: String): Path =
    new Path(metaDir(root), s"branch-$name")

  private def validRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_.-]+"), s"invalid ref name: $name")

  /** Fork a branch at the current main head. */
  def createBranch(spark: SparkSession, tableDir: String, name: String): Long =
    withTableLock(tableDir) {
      validRefName(name)
      require(name != "main",
        "'main' is reserved for the implicit main branch (Iceberg reserves it)")
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val (fs, root) = fsOf(spark, tableDir)
      val bd = branchDir(root, name)
      require(!fs.exists(bd), s"branch $name already exists in $tableDir")
      fs.mkdirs(bd)
      val out = fs.create(new Path(bd, "base.json"), false)
      try out.write(s"""{"base":${cur.id}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      cur.id
    }

  /** The main snapshot id branch `name` forked from. */
  def branchBase(spark: SparkSession, tableDir: String, name: String): Long = {
    val (fs, root) = fsOf(spark, tableDir)
    val f = new Path(branchDir(root, name), "base.json")
    if (!fs.exists(f))
      throw new NoSuchElementException(s"no branch $name in $tableDir")
    mapper.readTree(readFully(fs, f)).get("base").asLong()
  }

  /** Staged snapshots of branch `name`, ascending id (may be empty). */
  def branchSnapshots(spark: SparkSession, tableDir: String,
                      name: String): Seq[Snapshot] = {
    branchBase(spark, tableDir, name) // existence check
    val (fs, root) = fsOf(spark, tableDir)
    fs.listStatus(branchDir(root, name)).toSeq
      .filter(st => st.isFile && SnapRe.pattern.matcher(st.getPath.getName).matches())
      .sortBy(_.getPath.getName)
      .map(st => readManifest(fs, metaDir(root), st.getPath))
  }

  /** The branch's newest state: its last staged snapshot, or the base
    * snapshot when nothing is staged yet. */
  def branchHead(spark: SparkSession, tableDir: String, name: String): Snapshot = {
    val staged = branchSnapshots(spark, tableDir, name)
    staged.lastOption.getOrElse(
      snapshotAt(spark, tableDir, branchBase(spark, tableDir, name)))
  }

  /** Append `df` to branch `name` — data files land in the shared data
    * namespace, the manifest lands in the branch namespace, main readers
    * see NOTHING until [[publish]]. */
  def appendToBranch(spark: SparkSession, tableDir: String, name: String,
                     df: DataFrame,
                     partitionCol: Option[String] = None): Snapshot =
    withTableLock(tableDir) {
      val head = branchHead(spark, tableDir, name)
      // staged rows written unpartitioned into a partitioned table would
      // publish with partition "" and vanish from day-pruned reads
      require(partitionCol.isDefined || head.files.forall(_.partition.isEmpty),
        s"$tableDir is partitioned; pass partitionCol so staged rows " +
          "keep their partition value")
      val files = writeData(spark, tableDir, df, partitionCol)
      val id = head.id + 1
      val snap = buildSnapshot(Some(head), id, "append",
        head.files ++ files, df.schema, head.deletes, head.posDeletes,
        preReconciled = false)
      val (fs, root) = fsOf(spark, tableDir)
      val bd = branchDir(root, name)
      val md = metaDir(root)
      // reuse from the branch head's manifest — staged (branch dir) or
      // the fork base (main dir); segments live in the SHARED main
      // namespace either way, which is what keeps publish metadata-only
      val headPaths = Seq(new Path(bd, f"snap-${head.id}%012d.json"),
        new Path(md, f"snap-${head.id}%012d.json"))
      writeManifestFile(fs, md, snap, headPaths, bd)
      snap
    }

  /** Fast-forward main to the branch head: rename each staged manifest
    * into the main namespace (ids were allocated contiguously from the
    * base, so they slot in exactly), then drop the branch. Fails loudly
    * if main advanced past the base — the staged ids are taken and the
    * audit ran against a stale parent; re-stage to rebase. Returns the
    * published snapshot ids. */
  def publish(spark: SparkSession, tableDir: String, name: String): Seq[Long] =
    withTableLock(tableDir) {
      val staged = branchSnapshots(spark, tableDir, name)
      val base = branchBase(spark, tableDir, name)
      val (fs, root) = fsOf(spark, tableDir)
      if (staged.isEmpty) { fs.delete(branchDir(root, name), true); return Nil }
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      // fast-forward is valid iff the REMAINING staged manifests start
      // exactly at cur.id + 1. Fresh publish: staged starts at base+1
      // and cur == base. Crash-resume: the renamed prefix already IS
      // main's head, the suffix continues from it. A foreign main
      // commit breaks the contiguity (or makes the rename below find
      // its target id taken) and fails loudly.
      if (staged.head.id != cur.id + 1)
        throw new ConcurrentCommitException(
          s"cannot fast-forward branch $name: main is at ${cur.id}, " +
            s"next staged id is ${staged.head.id} (base $base) — " +
            "re-stage against the new head")
      val md = metaDir(root)
      val bd = branchDir(root, name)
      staged.foreach { s =>
        val src = new Path(bd, f"snap-${s.id}%012d.json")
        val dst = new Path(md, f"snap-${s.id}%012d.json")
        if (!publishExclusive(fs, src, dst))
          throw new ConcurrentCommitException(s"lost publish race for $dst")
      }
      fs.delete(bd, true)
      staged.map(_.id)
    }

  /** Discard a branch and its staged manifests (the staged DATA files
    * become unreferenced debris for [[expire]] to reclaim). */
  def dropBranch(spark: SparkSession, tableDir: String, name: String): Unit =
    withTableLock(tableDir) {
      // validate BEFORE the recursive delete: "x/../.." would resolve
      // branchDir to the table root and destroy the table
      validRefName(name)
      val (fs, root) = fsOf(spark, tableDir)
      fs.delete(branchDir(root, name), true)
    }

  /** All live branch names. */
  def branches(spark: SparkSession, tableDir: String): Seq[String] = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("branch-") =>
        st.getPath.getName.stripPrefix("branch-")
    }.sorted
  }

  /** Resolve one historical snapshot — a single manifest read (the id is
    * the filename), not a history scan. */
  def snapshotAt(spark: SparkSession, tableDir: String, id: Long): Snapshot = {
    val (fs, root) = fsOf(spark, tableDir)
    val p = new Path(metaDir(root), f"snap-$id%012d.json")
    if (!fs.exists(p))
      throw new NoSuchElementException(s"no snapshot $id in $tableDir")
    // expired between the exists check and the read = same answer,
    // consistent exception type for time-travel-of-expired-id callers
    readManifestIfPresent(fs, metaDir(root), p).getOrElse(
      throw new NoSuchElementException(
        s"no snapshot $id in $tableDir (expired mid-read)"))
  }

  /** Measurement surface for the metadata-scaling gates: the segment
    * count a snapshot's manifest references (0 for a pre-segment inline
    * manifest — resolution is then one read regardless). */
  def segmentCount(spark: SparkSession, tableDir: String, id: Long): Int = {
    val (fs, root) = fsOf(spark, tableDir)
    val p = new Path(metaDir(root), f"snap-$id%012d.json")
    if (!fs.exists(p))
      throw new NoSuchElementException(s"no snapshot $id in $tableDir")
    segmentNamesOf(fs, p).size
  }

  /** Total manifest entries across every segment file PRESENT under the
    * table's metadata dir (orphans included) — the cumulative
    * manifest-write cost proxy the scaling gates compare against the
    * live file count: O(new)-cost commits keep this within a small
    * multiple of the current manifest size; inline manifests would make
    * it quadratic in commit count. */
  def totalSegmentEntries(spark: SparkSession, tableDir: String): Long = {
    val (fs, root) = fsOf(spark, tableDir)
    val md = metaDir(root)
    if (!fs.exists(md)) return 0L
    fs.listStatus(md).toSeq.filter { st =>
      val nm = st.getPath.getName
      st.isFile && nm.startsWith("seg-") && nm.endsWith(".json")
    }.map { st =>
      // a crashed writer's truncated orphan must stay inert debris for
      // expire, not fail the measurement surface
      try loadSegment(fs, md, st.getPath.getName).entryCount.toLong
      catch { case _: Exception => 0L }
    }.sum
  }

  /** True iff the directory holds a table: a commit log exists (callers
    * also use this to tell a table from a namespace directory). */
  def isSnapshotTable(spark: SparkSession, tableDir: String): Boolean = {
    val (fs, root) = fsOf(spark, tableDir)
    fs.exists(metaDir(root))
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  // ---- commit

  /** Commit a new snapshot. MUST be called inside [[withTableLock]] —
    * callers resolve current, build the next manifest, and commit, all
    * under the one lock, so concurrent commits compose. `parent` is the
    * snapshot the manifest was built from; a mismatch with the true
    * current (a commit that slipped in outside the lock discipline)
    * fails loudly instead of silently dropping its files. */
  def commit(spark: SparkSession, tableDir: String, operation: String,
             files: Seq[DataFile], schema: StructType,
             parent: Option[Snapshot],
             deletes: Seq[DeleteFile] = Nil,
             posDeletes: Seq[PosDeleteFile] = Nil,
             reuseFrom: Seq[Long] = Nil,
             preReconciled: Boolean = false,
             carrySchemas: Map[Int, String] = Map.empty): Snapshot = {
    commitTestHook(tableDir, operation)
    val (fs, root) = fsOf(spark, tableDir)
    val cur = currentSnapshot(spark, tableDir)
    if (cur.map(_.id) != parent.map(_.id))
      throw new ConcurrentCommitException(
        s"commit to $tableDir based on ${parent.map(_.id)} but current is ${cur.map(_.id)}")
    val id = cur.map(_.id).getOrElse(0L) + 1
    val snap = buildSnapshot(cur, id, operation, files, schema,
      deletes, posDeletes, preReconciled, carrySchemas)
    val md = metaDir(root)
    fs.mkdirs(md)
    // segment reuse candidates: the parent manifest (carried entries),
    // plus callers' hints — rollback passes its target so the restored
    // file set reuses the target's own segments instead of rewriting it
    val reusePaths = (cur.map(_.id).toSeq ++ reuseFrom).distinct
      .map(i => new Path(md, f"snap-$i%012d.json"))
    writeManifestFile(fs, md, snap, reusePaths, md)
    snap
  }

  /** Append already-written data files with OPTIMISTIC concurrency —
    * Iceberg's commit contract (ref internal/iceberg/catalog/rest.go:
    * 187-217: CommitSnapshot is a conditional PUT on the expected
    * metadata location): attempt the commit against `expectedParent`,
    * and when a foreign writer moved the head first, REBASE instead of
    * failing — re-resolve current, re-derive the manifest as
    * current ∪ the new files, re-commit. No data file is rewritten: an
    * append commutes with every committed operation because the rebase
    * rebuilds from the winner's state (a concurrent truncate serializes
    * BEFORE the append, a concurrent delete outranks nothing the append
    * adds — the new files take a later seq).
    *
    * The snapshot schema rebases too: if the head evolved while we
    * raced, the committed schema is the add-only merge of the evolved
    * schema and ours (our files read whole under any superset).
    *
    * This is the cross-process safety net ON TOP of the per-table JVM
    * lock: in-process writers never race (the lock serializes them);
    * a second process' interleaved commits land here as stale-parent
    * attempts and compose instead of erroring. Bounded retries — a
    * pathological commit storm still fails loudly rather than looping. */
  /** Can a parquet column written as `from` be READ as `to` by Spark's
    * widening reads (no rewrite)? The lattice Spark 4 supports without
    * a rewrite: byte→short→int→long, int→double, float→double. The
    * long→double promotion needs a file rewrite and is deliberately
    * absent (the merge writers rewrite in-commit for that crossing). */
  private def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    if (from == to) return true
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType)            => true
      case (IntegerType, LongType | DoubleType)                        => true
      case (FloatType, DoubleType)                                     => true
      case _                                                           => false
    }
  }

  def appendFiles(spark: SparkSession, tableDir: String,
                  files: Seq[DataFile], schema: StructType,
                  expectedParent: Option[Snapshot],
                  maxRetries: Int = 5,
                  revalidate: Snapshot => Unit = _ => ()): Snapshot = {
    var parent = expectedParent
    // the add-only merge applies on EVERY attempt, not just rebases: an
    // append whose batch predates an ALTER ADD COLUMN must not shrink
    // the head schema depending on whether it happened to race. Matched
    // fields take the WIDER of the two types — the head schema must
    // read BOTH file generations: a promoted batch's wide type wins
    // over a narrow parent (appendCommit mid-promotion), a stale
    // batch's narrow type loses to an already-promoted parent (a SQL
    // INSERT rebasing over a concurrent promotion must not regress the
    // head). Types neither of which widens to the other refuse the
    // commit loudly — the old pre-rebase behavior, never a head schema
    // that cannot read some live file.
    def mergedSchema: StructType = parent match {
      case Some(p) =>
        val incoming = schema.fields.map(f => f.name -> f).toMap
        val parentNames = p.schema.fieldNames.toSet
        // a batch column ABSENT from the parent by name is either a
        // genuine add (fresh id) or a stale writer still holding a
        // pre-RENAME schema — and the add-only merge must not let the
        // latter silently re-create the renamed-away name as a
        // permanently-null new column. Detectable exactly when the old
        // name survives in a retained historical schema whose field id
        // now lives under another name in the head; a DROPPED name
        // (id gone from the head) stays a legal re-add by design.
        locally {
          val pSchema = p.schema
          val newNames = schema.fields.filterNot(f => parentNames.contains(f.name))
          // the historical-schema parse is gated on a genuinely new name
          // being present: the common append (batch schema == head) must
          // not JSON-parse every retained schema — and mergedSchema
          // re-runs on every optimistic-rebase retry
          if (newNames.nonEmpty && graft.model.FieldIds.hasIds(pSchema)) {
            val historical = p.schemasById.values.map(j =>
              DataType.fromJson(j).asInstanceOf[StructType])
            for {
              nf  <- newNames
              hs  <- historical
              hf  <- hs.fields.find(_.name == nf.name)
              hid <- graft.model.FieldIds.idOf(hf)
              cf  <- graft.model.FieldIds.fieldById(pSchema, hid)
              if cf.name != nf.name
            } throw new IllegalStateException( // not retryable: the writer's schema is stale
              s"append to $tableDir writes column ${nf.name}, which was " +
                s"renamed to ${cf.name} — refresh the table schema and " +
                "write under the current name")
          }
        }
        StructType(
          p.schema.fields.map { pf =>
            incoming.get(pf.name) match {
              case Some(inf) if widensTo(inf.dataType, pf.dataType) => pf
              case Some(inf) if widensTo(pf.dataType, inf.dataType) => inf
              case Some(inf) =>
                // NOT the retryable kind: retrying cannot change it
                throw new IllegalStateException(
                  s"append to $tableDir cannot reconcile column " +
                    s"${pf.name}: table has ${pf.dataType.simpleString}, " +
                    s"batch has ${inf.dataType.simpleString} — neither " +
                    "reads the other's files without a rewrite")
              case None => pf
            }
          } ++ schema.fields.filterNot(f => parentNames.contains(f.name)))
      case None => schema
    }
    retryOnConflict(maxRetries,
      onConflict = () => parent = currentSnapshot(spark, tableDir)) { // rebase
      // statement-time guards re-check against the REBASE parent: a
      // foreign commit may have changed what made the append legal
      // (e.g. a cluster_by switching the table to a managed layout)
      parent.foreach(revalidate)
      commit(spark, tableDir, "append",
        parent.map(_.files).getOrElse(Seq.empty) ++ files, mergedSchema,
        parent,
        deletes = parent.map(_.deletes).getOrElse(Nil),
        posDeletes = parent.map(_.posDeletes).getOrElse(Nil))
    }
  }

  /** Build the next snapshot: stamp seq (and schema id) on fresh
    * entries, reconcile field ids against the parent schema, and carry
    * forward exactly the historical schemas still referenced by a live
    * file — the shared construction of [[commit]] and
    * [[appendToBranch]].
    *
    * Field-id rules (Iceberg's): fields matching a parent field by name
    * inherit its id; new fields take ids above the table's
    * last-column-id high-water mark (NEVER reused after a drop, so a
    * re-added name cannot resurrect a dropped column's bytes). A
    * pre-field-id parent is stamped ordinally first — its already-
    * committed files keep schemaId 0 (read-by-name legacy). `schemaId`
    * advances only when the reconciled schema actually changed. */
  private def buildSnapshot(cur: Option[Snapshot], id: Long, operation: String,
                            files: Seq[DataFile], schema: StructType,
                            deletes: Seq[DeleteFile],
                            posDeletes: Seq[PosDeleteFile],
                            preReconciled: Boolean,
                            carrySchemas: Map[Int, String] = Map.empty): Snapshot = {
    import graft.model.FieldIds
    def maxIdIn(s: StructType): Int =
      s.fields.flatMap(FieldIds.idOf).foldLeft(0)(math.max)
    val (parentSchema, parentLast) = cur match {
      case Some(c) =>
        val base = c.schema
        if (FieldIds.hasIds(base))
          (Some(base), math.max(c.lastColumnId, maxIdIn(base)))
        else {
          val (stamped, n) = FieldIds.stamp(base)
          (Some(stamped), math.max(c.lastColumnId, n))
        }
      case None => (None, 0)
    }
    val (newSchema, newLast) =
      if (preReconciled) (schema, math.max(parentLast, maxIdIn(schema)))
      else parentSchema match {
        case Some(ps) => FieldIds.reconcile(ps, parentLast, schema)
        case None     => FieldIds.stamp(schema)
      }
    val parentSchemas = cur.map(_.schemasById).getOrElse(Map.empty)
    val parentSchemaId = cur.map(_.schemaId).getOrElse(0)
    val unchanged = parentSchemaId != 0 &&
      cur.exists(_.schemasById.get(parentSchemaId).contains(newSchema.json))
    val newSchemaId =
      if (unchanged) parentSchemaId
      else (parentSchemas.keySet + parentSchemaId + 0).max + 1
    val stampedFiles = files.map(f =>
      if (f.seq < 0) f.copy(seq = id, schemaId = newSchemaId) else f)
    // carry only the schemas a live file (or the head) still references;
    // `carrySchemas` covers files restored from OUTSIDE the parent
    // lineage (rollback), whose write schemas the head may have pruned
    val referenced = stampedFiles.map(_.schemaId).toSet + newSchemaId - 0
    val schemas = (carrySchemas ++ parentSchemas + (newSchemaId -> newSchema.json))
      .filter { case (k, _) => referenced.contains(k) }
    val unresolved = referenced -- schemas.keySet
    require(unresolved.isEmpty,
      s"commit carries files written under schema id(s) " +
        s"${unresolved.mkString(", ")} that no retained schema resolves — " +
        "pass carrySchemas from the files' source snapshot")
    Snapshot(id, cur.map(_.id), System.currentTimeMillis(), operation,
      newSchema.json, stampedFiles,
      deletes.map(d => if (d.seq < 0) d.copy(seq = id) else d),
      posDeletes.map(p => if (p.seq < 0) p.copy(seq = id) else p),
      newSchemaId, newLast, schemas)
  }

  /** Plan segments for `snap`, write the new segment file(s), and rename
    * the manifest into `dstDir` — the shared commit tail of [[commit]]
    * and [[appendToBranch]] (segments always land in the MAIN metadata
    * dir `md`; only the manifest location differs). A lost rename race
    * cleans up this call's segment files and fails loudly. */
  private def writeManifestFile(fs: FileSystem, md: Path, snap: Snapshot,
                                reusePaths: Seq[Path], dstDir: Path): Unit = {
    val (segNames, created) = planSegments(fs, md, reusePaths,
      SegContent(snap.files, snap.deletes, snap.posDeletes))
    val tmp = new Path(dstDir, s".tmp-snap-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(manifestJson(snap, segNames)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(dstDir, f"snap-${snap.id}%012d.json")
    // the exclusive publish IS the commit: the snapshot either exists
    // whole or not at all, and exactly one racing writer can win
    if (!publishExclusive(fs, tmp, dst)) {
      fs.delete(tmp, false)
      created.foreach { name =>
        fs.delete(new Path(md, name), false)
        segCacheDrop(fs.makeQualified(new Path(md, name)).toString)
      }
      throw new ConcurrentCommitException(s"lost commit race for $dst")
    }
  }

  /** ATOMIC-EXCLUSIVE manifest publish: move `src` to `dst` such that
    * exactly ONE of two concurrent publishers can ever succeed. On the
    * local filesystem an exists-check + rename is NOT that — POSIX
    * rename silently OVERWRITES an existing destination, so two
    * lock-free committers (the cross-process appendFiles flow) could
    * both "win" while one manifest is destroyed (caught by
    * ManifestModelSpec's concurrent-appender stress under load). A
    * hard LINK is create-exclusive by contract, so local publishes
    * link-then-unlink; filesystems whose rename refuses an existing
    * destination (HDFS) keep the rename. Object stores need a
    * conditional-put catalog — out of scope here, like Iceberg's. */
  private def publishExclusive(fs: FileSystem, src: Path, dst: Path): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        fs.delete(src, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else !fs.exists(dst) && fs.rename(src, dst)
  }



  // ---- data-file production

  /** A committed parquet data file's name (not a _SUCCESS marker, dot
    * file, or in-flight temp) — the one listing contract every
    * data/delete-file producer shares. */
  private def isParquetFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** Per-file parquet footer stats: row count plus min/max of `statsCol`
    * (driver-side metadata read — never a data scan). */
  private[lake] def footerStats(conf: Configuration, file: Path, statsCol: String)
  : (Long, Option[String], Option[String]) = {
    val (rows, bounds) = footerStatsMulti(conf, file, Seq(statsCol))
    bounds.get(statsCol) match {
      case Some((mn, mx)) => (rows, Some(mn), Some(mx))
      case None           => (rows, None, None)
    }
  }

  /** Read options for footer opens, built once: deriving them from the
    * Hadoop conf on every open costs ~10 ms per file (measured on a
    * 4-core host), which made the stats pass of a 30-day append commit
    * cost more than its write job. */
  private lazy val FooterReadOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** [[footerStats]] for several columns in ONE footer open — the
    * multi-dimension variant [[clusterByGrid]] records, and the REST
    * commit verifier reads (declared counts and identity partition
    * values are checked against the file's own footer in one open).
    * Columns whose stats are absent or carry nulls are simply missing
    * from the map. */
  private[lake] def footerStatsMulti(conf: Configuration, file: Path,
                               cols: Seq[String])
  : (Long, Map[String, (String, String)]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      FooterReadOptions)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      def asStr(v: Any): String = v match {
        case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
        case o                                   => String.valueOf(o)
      }
      // per-row-group stats fold under the VALUE's own ordering — a
      // lexical fold over string renderings would invert numeric bounds
      // across row groups ("100.0" < "99.0" lexically) and make pruning
      // silently drop matching files
      def fold(vs: Seq[Any], takeMin: Boolean): Any = vs.reduce { (a, b) =>
        val aFirst = (a, b) match {
          case (x: Number, y: Number) =>
            BigDecimal(x.toString) <= BigDecimal(y.toString)
          case _ => asStr(a) <= asStr(b)
        }
        if (aFirst == takeMin) a else b
      }
      val bounds = cols.flatMap { c =>
        val stats = blocks.flatMap(_.getColumns.asScala)
          .filter(ch => ch.getPath.toDotString == c)
          .map(_.getStatistics)
        val ok = stats.nonEmpty &&
          stats.forall(s => s != null && s.hasNonNullValue)
        if (ok)
          Some(c -> (asStr(fold(stats.map(_.genericGetMin), takeMin = true)),
            asStr(fold(stats.map(_.genericGetMax), takeMin = false))))
        else None
      }.toMap
      (rows, bounds)
    } finally reader.close()
  }

  /** Write `df` as new immutable data files under `data/<uuid>/` and
    * return their manifest entries (not yet visible — commit them).
    *
    * Call this INSIDE [[withTableLock]] when any concurrent task may run
    * [[expire]] on the table: expire reclaims every unreferenced file, so
    * a mid-flight uncommitted write outside the lock looks like crashed-
    * writer debris and gets swept before its commit.
    *
    * With `partitionCol` set, the frame keeps the column INLINE (so file
    * lists read back without basePath tricks) and is ALSO dir-partitioned
    * by a `_pday` copy, which yields the exact per-file partition value
    * for manifest pruning. `statsCol` feeds per-file min/max bounds. */
  def writeData(spark: SparkSession, tableDir: String, df: DataFrame,
                partitionCol: Option[String],
                statsCol: String = graft.ingest.Cdc.LsnColumn,
                spec: Option[String] = None,
                extraStatsCols: Seq[String] = Nil): Seq[DataFile] = {
    val (fs, root) = fsOf(spark, tableDir)
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val dest = new Path(root, rel)
    partitionCol match {
      case Some(pc) =>
        // PINNED partition count: an unpinned repartition is
        // AQE-coalesced to one task on small batches, serializing every
        // day's file write behind a single core (measured: ~0.55 s
        // per-table write jobs on the streaming queries). Each day still
        // hashes to exactly one task (one file per day per commit).
        df.withColumn("_pday", col(pc))
          .repartition(df.sparkSession.sparkContext.defaultParallelism, col(pc))
          .write.partitionBy("_pday").parquet(dest.toString)
      case None =>
        df.write.parquet(dest.toString)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // list first, then read every file's footer in PARALLEL: the footer
    // stats are a driver-side metadata pass that used to run file by
    // file — a day-spread commit writes O(days × targetFiles) files per
    // merge, and on the streaming sinks this sequential scan was a
    // visible per-batch driver gap between the write job and the commit
    def listFiles(dir: Path, partition: String)
    : Seq[(org.apache.hadoop.fs.FileStatus, String)] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val nm = st.getPath.getName
        if (st.isDirectory && nm.startsWith("_pday="))
          listFiles(st.getPath, nm.stripPrefix("_pday="))
        else if (st.isFile && isParquetFile(nm)) Seq(st -> partition)
        else Seq.empty
      }
    import scala.collection.parallel.CollectionConverters._
    listFiles(dest, "").par.map { case (st, partition) =>
      val (rows, bounds) =
        footerStatsMulti(conf, st.getPath, statsCol +: extraStatsCols)
      val (lo, hi) = bounds.get(statsCol)
        .map { case (mn, mx) => (Some(mn), Some(mx)) }
        .getOrElse((None, None))
      val relPath = st.getPath.toString.stripPrefix(root.toString + "/")
      DataFile(relPath, partition, rows,
        st.getLen, lo, hi, seq = -1L, statsCol = Some(statsCol),
        spec = spec, extraBounds = bounds - statsCol)
    }.seq
  }

  /** Drop the 0-row entries of a fresh [[writeData]] result: delete each
    * empty part file individually and return only the row-bearing
    * entries — a SELECTIVE write keeps its real files while empty-task
    * part files never reach the manifest (where every later snapshot
    * would carry them forever). Emptied `data/<uuid>` dirs fall to
    * [[expire]]'s empty-dir sweep. */
  private def dropEmptyFiles(spark: SparkSession, tableDir: String,
                             written: Seq[DataFile]): Seq[DataFile] = {
    val (empty, kept) = written.partition(_.rows == 0L)
    if (empty.nonEmpty) {
      val (fs, root) = fsOf(spark, tableDir)
      empty.foreach(f => fs.delete(new Path(root, f.path), false))
    }
    kept
  }

  /** Write `keys` (distinct tuples under `eqCols`) as ONE immutable
    * equality-delete file and return its manifest entry (seq stamped at
    * commit). One file per commit by design: the delete set is
    * delta-sized (the keys one CDC batch touched), and a single file
    * keeps the read-side delete union at one entry per retained commit —
    * the same shape Iceberg's upsert writers produce. Call inside
    * [[withTableLock]] for the same expire-race reason as [[writeData]]. */
  def writeDeletes(spark: SparkSession, tableDir: String, keys: DataFrame,
                   eqCols: Seq[String]): Seq[DeleteFile] = {
    val (fs, root) = fsOf(spark, tableDir)
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val dest = new Path(root, rel)
    keys.select(eqCols.map(col): _*).distinct()
      .repartition(1).write.parquet(dest.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(dest).toSeq
      .filter(st => st.isFile && isParquetFile(st.getPath.getName))
      .map { st =>
        val relPath = st.getPath.toString.stripPrefix(root.toString + "/")
        val (rows, _, _) = footerStats(conf, st.getPath, eqCols.head)
        DeleteFile(relPath, eqCols, rows, st.getLen, seq = -1L)
      }
  }

  /** DELETE FROM ... WHERE through positional deletes (Iceberg v2's
    * DELETE path, complementing the CDC writers' equality deletes): scan
    * the current file set with row lineage, record each matching row's
    * exact `(data file, row ordinal)` slot in ONE new positional-delete
    * file, and commit a "delete" snapshot that carries every manifest
    * entry plus the new delete file. No data file is touched — the
    * delete is O(matches) bytes, the Iceberg answer to "delete 0.01% of
    * rows from a 100 TB table without rewriting a single data file".
    * Returns None (no commit) when nothing matches.
    *
    * The predicate is evaluated on the LIVE state (existing deletes
    * applied — SQL DELETE semantics), so slot counts are live-match
    * counts. Old snapshots keep exact time travel (the rows were live
    * then). [[foldDeletes]] is the maintenance rewrite that retires the
    * accumulated delete set. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  keep: DataFile => Boolean = _ => true,
                  maxRetries: Int = 5): Option[Snapshot] =
    withTableLock(tableDir) { retryOnConflict(maxRetries) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      // manifest pruning for DML: callers derive `keep` from the
      // predicate's prunable conjuncts (partition value, stats bounds)
      // so a day-targeted delete on a 100 TB table scans only that
      // day's files. Pruning is conservative-by-contract: `keep` must
      // admit every file that COULD hold a matching row — the row
      // predicate still applies to everything scanned.
      val hits = readCore(spark, tableDir,
        cur.copy(files = cur.files.filter(keep)), None, keepLineage = true)
        .filter(predicate)
      val entries = writePosFile(spark, tableDir, slotsOf(spark, tableDir, hits))
      if (entries.isEmpty) return None
      Some(commit(spark, tableDir, "delete", cur.files, cur.schema,
        parent = Some(cur), deletes = cur.deletes,
        posDeletes = cur.posDeletes ++ entries))
    } }

  /** Full truncate (SQL `DELETE FROM t` with no WHERE): one "delete"
    * snapshot with an empty live set, retried like every other
    * statement-level write — re-derivation against a foreign winner is
    * the same empty commit with a fresh parent. */
  def truncateAll(spark: SparkSession, tableDir: String,
                  maxRetries: Int = 5): Snapshot =
    withTableLock(tableDir) { retryOnConflict(maxRetries) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      commit(spark, tableDir, "delete", Seq.empty, cur.schema,
        parent = Some(cur))
    } }

  /** UPDATE ... SET ... WHERE through the commit log: ONE snapshot that
    * pos-deletes every live matching row's slot AND appends the
    * reassigned replacement rows — Iceberg's merge-on-read UPDATE.
    * Writes O(matches) bytes, touches zero stored files, and is atomic
    * at the manifest rename: no reader can see the delete without the
    * replacement. Assignment expressions see the old row (SQL UPDATE
    * semantics) and are cast to the column's declared type. Returns None
    * when nothing matches. */
  def updateWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column],
                  partitionCol: Option[String] = None,
                  keep: DataFile => Boolean = _ => true,
                  maxRetries: Int = 5): Option[Snapshot] =
    withTableLock(tableDir) { retryOnConflict(maxRetries) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val schema = cur.schema
      assignments.keys.foreach(k => require(schema.fieldNames.contains(k),
        s"assignment to unknown column $k in $tableDir"))
      // replacement rows written unpartitioned on a partitioned table
      // would carry partition "" and vanish from partition-pruned reads
      require(partitionCol.isDefined || cur.files.forall(_.partition.isEmpty),
        s"$tableDir is partitioned; pass partitionCol so replacement " +
          "rows keep their partition value")
      // same manifest-pruning contract as [[deleteWhere]]
      val matched = readCore(spark, tableDir,
        cur.copy(files = cur.files.filter(keep)), None, keepLineage = true)
        .filter(predicate).persist()
      try {
        val slots = writePosFile(spark, tableDir, slotsOf(spark, tableDir, matched))
        if (slots.isEmpty) return None
        val replacement = matched.select(schema.fields.toSeq.map(f =>
          assignments.get(f.name).map(_.cast(f.dataType))
            .getOrElse(col(f.name)).as(f.name)): _*)
        val newFiles = writeData(spark, tableDir, replacement, partitionCol)
        Some(commit(spark, tableDir, "update", cur.files ++ newFiles, schema,
          parent = Some(cur), deletes = cur.deletes,
          posDeletes = cur.posDeletes ++ slots))
      } finally matched.unpersist(blocking = true)
    } }

  // ---- SQL INSERT (the catalog's write path)

  /** The engine's hidden-partition convention, stated once: a table
    * whose schema carries the standard partition column stays
    * day-partitioned through SQL writes and maintenance. */
  def conventionPartitionCol(schema: StructType): Option[String] = {
    val p = graft.model.SchemaBuilder.partitionColumn
    if (schema.fieldNames.contains(p)) Some(p) else None
  }

  /** INSERT INTO / INSERT OVERWRITE through the commit log: align the
    * frame to the stored schema by name, write immutable files, commit
    * ONE snapshot — append carries every live manifest entry, overwrite
    * replaces the complete file+delete set (truncate-and-load, Iceberg's
    * `INSERT OVERWRITE` on an unpartitioned-overwrite table).
    *
    * Partitioning follows the engine convention: a table whose schema
    * carries the partition column stays day-partitioned on insert.
    * Layout-managed tables (non-identity partition transforms from
    * [[clusterBy]] / spec evolution) refuse SQL inserts loudly — a
    * naively-partitioned file would break the layout the manifest's
    * stats pruning reasons about. */
  def sqlInsert(spark: SparkSession, tableDir: String, df: DataFrame,
                overwrite: Boolean): Snapshot =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val schema = cur.schema
      val have = df.columns.toSet
      require(schema.fieldNames.forall(have.contains),
        s"INSERT into $tableDir misses columns " +
          schema.fieldNames.filterNot(have.contains).mkString(", "))
      val aligned = df.select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
      def layoutGuard(sn: Snapshot): Unit =
        require(sn.files.forall(f => f.partition.isEmpty ||
            f.spec.isEmpty || f.spec.contains("identity")),
          s"$tableDir has a non-identity partition layout — SQL INSERT " +
            "would break it; use the engine writers")
      layoutGuard(cur)
      val pcol = conventionPartitionCol(schema)
      // 0-row part files (non-partitioned writes emit one per empty
      // task) must not enter the manifest — every later commit would
      // carry them forever; an all-empty OVERWRITE is a real truncate
      // and commits with no files
      val files = dropEmptyFiles(spark, tableDir,
        writeData(spark, tableDir, aligned, pcol))
      if (files.isEmpty && !overwrite) return cur
      if (overwrite)
        // overwrite re-derivation is safe under last-writer order ONLY
        // while the schema is unchanged: serial execution would have
        // re-analyzed the statement against a foreign evolution's new
        // schema (and failed on a missing column), so a schema change
        // refuses loudly instead of silently committing a head that
        // drops the foreign column. The layout guard re-checks per
        // attempt.
        retryOnConflict() {
          val p = currentSnapshot(spark, tableDir)
          p.foreach { par =>
            if (par.schema != schema)
              throw new IllegalStateException( // not retryable
                s"INSERT OVERWRITE into $tableDir raced a schema " +
                  "evolution — rerun the statement against the new schema")
            layoutGuard(par)
          }
          commit(spark, tableDir, "overwrite", files, schema, parent = p)
        }
      else
        // optimistic append: a cross-process writer racing this INSERT
        // triggers a manifest-only rebase, never a lost statement; the
        // layout guard re-checks against each rebase parent (a racing
        // cluster_by must fail the INSERT loudly, not get broken)
        appendFiles(spark, tableDir, files, schema, expectedParent = Some(cur),
          revalidate = layoutGuard)
    }

  // ---- MERGE INTO (generic row-level merge, Iceberg's MERGE verb)

  /** One WHEN-clause of [[mergeInto]]. Conditions and update assignments
    * are Columns over the JOINED row: target columns under their own
    * names, source columns prefixed `_src_` (join keys stay unprefixed —
    * they are equal by construction). Clauses apply in list order: the
    * first matched-clause whose condition holds wins the row (SQL MERGE
    * semantics); at most one not-matched clause is consulted for source
    * rows without a live match; not-matched-BY-SOURCE clauses apply
    * first-wins to target rows without a source match (their conditions
    * and assignments see target columns ONLY — referencing a `_src_`
    * column there fails at analysis: the unmatched rows come from an
    * anti-join that carries none). */
  private val MergeActionCol = "__graft_merge_action__"

  sealed trait MergeClause
  final case class MatchedUpdate(condition: Option[org.apache.spark.sql.Column],
                                 assignments: Map[String, org.apache.spark.sql.Column])
    extends MergeClause
  final case class MatchedDelete(condition: Option[org.apache.spark.sql.Column])
    extends MergeClause
  /** `assignments` (target column → expression over `_src_` columns)
    * override the default project-source-by-name insert — SQL MERGE's
    * explicit `INSERT (cols) VALUES (exprs)` form. Unassigned columns
    * fall back to the by-name projection. */
  final case class NotMatchedInsert(condition: Option[org.apache.spark.sql.Column],
                                    assignments: Map[String, org.apache.spark.sql.Column] = Map.empty)
    extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE THEN UPDATE` — acts on TARGET rows with
    * no source match (the full-sync form: "source is the truth, demote
    * everything it no longer mentions"). Conditions and assignments see
    * target columns only (a `_src_` reference fails at analysis). */
  final case class NotMatchedBySourceUpdate(condition: Option[org.apache.spark.sql.Column],
                                            assignments: Map[String, org.apache.spark.sql.Column])
    extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE THEN DELETE` — drops target rows the
    * source no longer mentions. */
  final case class NotMatchedBySourceDelete(condition: Option[org.apache.spark.sql.Column])
    extends MergeClause

  /** MERGE INTO the table USING `source` ON equality of `onCols` — ONE
    * snapshot that pos-deletes every actioned matched row's slot and
    * appends the updated + inserted rows (Iceberg's merge-on-read MERGE;
    * the reference's product surface reaches this verb through its query
    * engines over Iceberg tables). Atomic at the manifest rename: no
    * reader sees a delete without its replacement. Writes O(|source| +
    * |matches|) bytes and touches zero stored files — the stored table
    * is scanned once for the matched family (and once more for the
    * by-source family when those clauses exist), never cached whole,
    * and predicates evaluate on the LIVE state (SQL MERGE semantics: a
    * row already dead under existing deletes can neither update nor
    * delete again).
    *
    * `source` must be unique under `onCols` — SQL MERGE's cardinality
    * rule, enforced loudly here because a duplicate source row would
    * nondeterministically pick a winner. Insert rows project onto the
    * target schema by name (missing source columns → null, cast to the
    * declared type). Returns None when no clause actions any row. */
  def mergeInto(spark: SparkSession, tableDir: String, source: DataFrame,
                onCols: Seq[String], clauses: Seq[MergeClause],
                partitionCol: Option[String] = None,
                maxRetries: Int = 5): Option[Snapshot] =
    withTableLock(tableDir) { retryOnConflict(maxRetries) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val schema = cur.schema
      require(clauses.nonEmpty, "MERGE INTO with no WHEN clauses")
      // one not-matched clause only: two would each scan the full
      // unmatched set and insert a row satisfying both conditions twice
      require(clauses.count(_.isInstanceOf[NotMatchedInsert]) <= 1,
        "MERGE INTO supports at most one WHEN NOT MATCHED clause")
      require(partitionCol.isDefined || cur.files.forall(_.partition.isEmpty),
        s"$tableDir is partitioned; pass partitionCol so merged rows " +
          "keep their partition value")
      (clauses.collect { case u: MatchedUpdate => u.assignments } ++
        clauses.collect { case u: NotMatchedBySourceUpdate => u.assignments })
        .foreach(_.keys.foreach(k => require(schema.fieldNames.contains(k),
          s"MERGE assignment to unknown column $k in $tableDir")))
      // prefixed names must stay collision-free: a source column
      // literally named `_src_<other source col>` would silently shadow
      // data after renaming — refuse instead
      val prefixed = source.columns.toSeq.map(c =>
        if (onCols.contains(c)) c else s"_src_$c")
      require(prefixed.distinct.size == prefixed.size,
        s"MERGE INTO $tableDir: source column names collide after " +
          s"_src_ prefixing: ${prefixed.diff(prefixed.distinct).mkString(", ")}")
      // the source is evaluated ONCE (persisted for the whole merge): a
      // nondeterministic source re-evaluated per leg could pass the
      // cardinality check yet join duplicates, and an expensive one
      // would be recomputed for the insert leg
      val src = source.select(source.columns.toSeq.map(c =>
        if (onCols.contains(c)) col(c) else col(c).as(s"_src_$c")): _*)
        .persist()
      try {
        // SQL MERGE cardinality rule: one source row per key, or the
        // merge is nondeterministic — refuse loudly (delta-sized agg,
        // and it materializes the persisted source for the legs below)
        val dups = src.groupBy(onCols.map(col): _*)
          .count().filter(col("count") > 1).limit(1).count()
        require(dups == 0L,
          s"MERGE INTO $tableDir: source has duplicate rows under " +
            s"(${onCols.mkString(", ")}) — cardinality violation")
      val live = readCore(spark, tableDir, cur, None, keepLineage = true)
      // size-gated: the dup check above materialized the persisted
      // source, so the cached relation's stats are REAL bytes — a
      // delta-sized source broadcasts, a bulk-load source shuffle-hash-
      // joins on the keys (the stored table hashes, never sorts)
      val srcBytes = {
        val b = src.queryExecution.optimizedPlan.stats.sizeInBytes
        if (b.isValidLong) b.toLong else Long.MaxValue
      }
      // the MATCHED family is an INNER join — delta-sized by the
      // cardinality rule (each live row meets at most one source row),
      // so the persist below caches O(|source| + |matches|), never the
      // stored table. The old shape (persist the whole LEFT join) cached
      // an entire 100 TB table to save the by-source anti-join's second
      // scan — a scan is cheap, a table-sized cache is a cluster-killer.
      val matched = live.join(sizeGated(spark, src, srcBytes), onCols, "inner")
        .persist()
      var bsPersisted: Option[DataFrame] = None
      try {
        // first-clause-wins action resolution, encoded as one expression
        // (per clause FAMILY: matched rows and not-matched-by-source rows
        // are disjoint sets, each consulting only its own clauses)
        val matchedClauses = clauses.filter(c =>
          c.isInstanceOf[MatchedUpdate] || c.isInstanceOf[MatchedDelete])
        def firstWins(cls: Seq[MergeClause]): org.apache.spark.sql.Column =
          cls.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (cl, i)) =>
            val cond = cl match {
              case MatchedUpdate(c, _)            => c.getOrElse(lit(true))
              case MatchedDelete(c)               => c.getOrElse(lit(true))
              case NotMatchedBySourceUpdate(c, _) => c.getOrElse(lit(true))
              case NotMatchedBySourceDelete(c)    => c.getOrElse(lit(true))
              case _: NotMatchedInsert            => lit(false)
            }
            // earlier clauses take precedence: keep acc when already set
            when(acc.isNotNull, acc).otherwise(when(cond, lit(i)))
          }
        // reserved internal name: a target column named `_action` must
        // survive the merge unharmed
        require(!schema.fieldNames.contains(MergeActionCol) &&
            !source.columns.contains(MergeActionCol),
          s"$MergeActionCol is a reserved name")
        val actioned = matched.withColumn(MergeActionCol, firstWins(matchedClauses))
          .filter(col(MergeActionCol).isNotNull)
        // WHEN NOT MATCHED BY SOURCE: target rows with no source match.
        // This clause family intrinsically touches every unmatched
        // target row — the full-sync semantics — but still writes only
        // O(actioned) bytes: slots for the demoted rows, replacements
        // for the updates.
        val bySourceClauses = clauses.filter(c =>
          c.isInstanceOf[NotMatchedBySourceUpdate] ||
            c.isInstanceOf[NotMatchedBySourceDelete])
        // unmatched target rows come from a SEPARATE anti-join scan of
        // the live state against the (size-gated) source keys: one more
        // scan only when by-source clauses exist, and the persisted set
        // is the ACTIONED rows — the merge's intrinsic write set — not
        // the table. Conditions here see target columns only, loudly.
        val bsActioned =
          if (bySourceClauses.isEmpty) None
          else {
            val srcKeys = src.select(onCols.map(col): _*)
            // the anti-join carries the KEYS only — gate on a width-
            // proportional estimate, not the full wide source's bytes,
            // or a wide source forfeits the broadcast exactly where the
            // stored table is biggest
            val keyBytes = keyWidthEstimate(srcBytes, src.columns.length,
              onCols.size)
            val bs = live.join(sizeGated(spark, srcKeys, keyBytes),
              onCols, "left_anti")
              .withColumn(MergeActionCol, firstWins(bySourceClauses))
              .filter(col(MergeActionCol).isNotNull)
              .persist()
            bsPersisted = Some(bs)
            Some(bs)
          }
        val allSlotRows = bsActioned
          .map(bs => actioned.select(col("_abs"), col("_pos"))
            .unionByName(bs.select(col("_abs"), col("_pos"))))
          .getOrElse(actioned)
        val slots = writePosFile(spark, tableDir,
          slotsOf(spark, tableDir, allSlotRows))
        val updates = matchedClauses.zipWithIndex.collect {
          case (MatchedUpdate(_, assign), i) =>
            actioned.filter(col(MergeActionCol) === i)
              .select(schema.fields.toSeq.map(f =>
                assign.get(f.name).map(_.cast(f.dataType))
                  .getOrElse(col(f.name)).as(f.name)): _*)
        } ++ bySourceClauses.zipWithIndex.collect {
          case (NotMatchedBySourceUpdate(_, assign), i) =>
            bsActioned.get.filter(col(MergeActionCol) === i)
              .select(schema.fields.toSeq.map(f =>
                assign.get(f.name).map(_.cast(f.dataType))
                  .getOrElse(col(f.name)).as(f.name)): _*)
        }
        // matched keys are bounded by the source keys and already in the
        // persisted join — the not-matched set is a size-gated anti-join
        // of two source-sized frames; the stored table is never rescanned
        val matchedKeys = matched.select(onCols.map(col): _*).distinct()
        val inserts = clauses.collect { case NotMatchedInsert(condOpt, assign) =>
          // keys-only frame: gate on key width, not the wide source's
          // bytes (same rule as the by-source leg)
          val unmatchedKeys =
            src.join(sizeGated(spark, matchedKeys,
              keyWidthEstimate(srcBytes, src.columns.length, onCols.size)),
              onCols, "left_anti")
          val eligible = condOpt.map(unmatchedKeys.filter).getOrElse(unmatchedKeys)
          val have = eligible.columns.toSet
          eligible.select(schema.fields.toSeq.map { f =>
            val srcName = if (onCols.contains(f.name)) f.name else s"_src_${f.name}"
            assign.get(f.name)
              .getOrElse(if (have.contains(srcName)) col(srcName) else lit(null))
              .cast(f.dataType).as(f.name)
          }: _*)
        }
        val newRows = (updates ++ inserts).reduceOption(_ unionByName _)
        val written = newRows match {
          case Some(rows) => writeData(spark, tableDir, rows, partitionCol)
          case None       => Seq.empty
        }
        // 0-row part files never enter the manifest (a no-op merge must
        // not commit a junk snapshot, and a selective one must not carry
        // empty-task debris forever)
        val newFiles = dropEmptyFiles(spark, tableDir, written)
        if (slots.isEmpty && newFiles.isEmpty) return None
        Some(commit(spark, tableDir, "merge-into",
          cur.files ++ newFiles, schema, parent = Some(cur),
          deletes = cur.deletes, posDeletes = cur.posDeletes ++ slots))
      } finally {
        matched.unpersist(blocking = true)
        bsPersisted.foreach(_.unpersist(blocking = true))
      }
      } finally src.unpersist(blocking = true)
    } }

  /** Size-gated small-side join shaping: broadcast `small` when its
    * estimated in-memory bytes clear the session broadcast threshold,
    * else hint a SHUFFLE HASH join built on the small(er) side — the
    * stored table must never SORT for delete application or a merge,
    * and a huge delete set / merge source must never OOM the driver
    * through a forced broadcast. `estBytes < 0` (unknown) defers to the
    * planner unhinted. */
  private[lake] def sizeGated(spark: SparkSession, small: DataFrame,
                              estBytes: Long): DataFrame = {
    if (estBytes < 0) return small
    val threshold = broadcastThresholdBytes(spark)
    if (threshold > 0 && estBytes <= threshold) broadcast(small)
    else small.hint("shuffle_hash")
  }

  /** Conservative parquet→in-memory expansion for manifest-recorded
    * delete-file sizes (dictionary/RLE decode, JVM object headers). */
  private[lake] def estInMemory(parquetBytes: Long): Long = parquetBytes * 8

  /** Scale a source-size estimate down to the width of its key columns
    * (the bytes a keys-only projection of it would carry). Divides
    * BEFORE multiplying, and passes the Long.MaxValue unknown-size
    * sentinel through untouched: `MaxValue * nKeys` wraps negative, and
    * a max(1, …) clamp on the wrapped product would force-broadcast the
    * one source the size gate exists to keep off the driver. */
  private[lake] def keyWidthEstimate(srcBytes: Long, nSrcCols: Int,
                                     nKeyCols: Int): Long =
    if (srcBytes == Long.MaxValue) Long.MaxValue
    else math.max(1L, srcBytes / math.max(nSrcCols, 1) * nKeyCols)

  /** The `_abs` lineage form of the qualified table root: the root's
    * full URI with only the scheme prefix collapsed to `/` — keeps the
    * authority (s3a bucket, hdfs nameservice) AND the percent-encoding,
    * exactly like the regexp-normalized `_metadata.file_path` the
    * lineage column is derived from. Every path-identity join in the
    * engine must key on THIS form: a raw manifest path differs from it
    * precisely where it matters (URI-escaped partition values such as
    * hour specs' space, authority-bearing filesystems). */
  private[lake] def absRoot(root: Path): String =
    root.toUri.toASCIIString.replaceFirst("^[a-z0-9]+:/+", "/")

  /** The `_abs` form of a manifest-relative path under `root`. */
  private[lake] def absKey(root: Path, rel: String): String =
    new Path(root, rel).toUri.toASCIIString.replaceFirst("^[a-z0-9]+:/+", "/")

  /** Distinct dead `(abs, pos)` slots from ALL of `snap`'s positional-
    * delete files — ONE multi-path scan, size-gated from manifest bytes
    * for the anti-join above the stored side. Shared by the V1 MOR read
    * and the columnar MOR rewrite so the two paths cannot drift. */
  // ---- content-addressed delete-frame cache -------------------------
  // Delete files are immutable once committed, so the MATERIALIZED
  // small-side frames (distinct pos-delete slots, per-key newest
  // eq-delete seq) are pure functions of (table lineage root, delete
  // file paths + seqs [, key schema]). Repeated reads of the same MOR
  // snapshot — the steady state between foldDeletes runs — pay the
  // delete-side listing + parquet scan ONCE; afterwards the frame
  // rebuilds as a LocalRelation from cached rows: no driver listing,
  // no executor re-read, fresh attribute ids per use (self-joins stay
  // sound — nothing plan-shaped is ever shared across queries).
  // Only broadcast-sized sets materialize (the same gate [[sizeGated]]
  // applies): a huge delete set must never collect to the driver.
  //
  // Known cost, accepted: broadcasting a LocalRelation runs one small
  // parallelize job first (BroadcastExchangeExec materializes via
  // executeCollectIterator, which LocalTableScanExec does not override
  // with a driver-local path), so each task of that job carries its
  // slice of the cached rows — Spark may warn about >1 MiB tasks on
  // multi-MB sets. Total bytes moved equal ONE broadcast's worth
  // (threshold-bounded), strictly less than the uncached path's
  // per-query delete-file scan + aggregate + identical broadcast.

  /** (key → catalyst rows), LRU in ACCESS order, guarded by its own
    * monitor; `deleteFrameRowsHeld` (same monitor) tracks the row
    * budget so eviction trims least-recently-used entries — superseded
    * delete-era keys age out individually, never a whole-cache clear. */
  private val deleteFrameCache =
    new java.util.LinkedHashMap[String, Array[org.apache.spark.sql.catalyst.InternalRow]](
      16, 0.75f, true)
  private var deleteFrameRowsHeld = 0L
  private val DeleteFrameRowBudget = 2L * 1000 * 1000
  /** A key never enters the cache on FIRST sighting — plan-time frame
    * construction (EXPLAIN, the MOR rewrite inside analysis) must not
    * run collect jobs for one-off plans. A repeated key is a proven
    * re-read; only that pays the one collect that fills the cache.
    * Bounded LRU so the sighting record itself cannot grow unbounded. */
  private val deleteFrameSeen = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size() > 4096
    })
  /** Frame builds actually planned (cache misses) — spec observability. */
  private[lake] val deleteFrameBuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  private def deleteCacheEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.deleteFrameCache.enabled")
      .forall(_ == "true")

  /** Broadcast-threshold bytes the size gate uses (-1 = disabled) —
    * the ONE parse shared with [[sizeGated]], so "only broadcast-sized
    * sets materialize" and "broadcast it" can never disagree. */
  private def broadcastThresholdBytes(spark: SparkSession): Long = {
    val raw = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
      .getOrElse("10MB").trim
    if (raw.startsWith("-")) -1L
    else try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    catch { case _: Exception => 10L * 1024 * 1024 }
  }

  /** The cached rows as a fresh LocalRelation under the caller's
    * schema: attribute ids are minted per use (self-joins stay sound)
    * while the row payload — already catalyst-converted — is shared,
    * so a cache hit is O(1) driver work. */
  private def localFrame(spark: SparkSession, outSchema: StructType,
                         rows: Array[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(outSchema)
    org.apache.spark.sql.classic.GraftShim.ofRows(castToImpl(spark),
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        attrs, rows.toSeq, isStreaming = false))
  }

  /** Serve `build`'s rows from the content cache when the estimate is
    * broadcast-sized. First sighting of a key stays LAZY (the built
    * frame is returned unexecuted); a repeated key collects once and
    * every later use rebuilds a [[localFrame]] from the cached rows. */
  private def deleteFrameCached(spark: SparkSession, key: String,
                                outSchema: StructType, estBytes: Long)
                               (build: => DataFrame): DataFrame = {
    val threshold = broadcastThresholdBytes(spark)
    if (!deleteCacheEnabled(spark) || threshold <= 0 ||
        estBytes < 0 || estBytes > threshold) {
      deleteFrameBuilds.incrementAndGet()
      return build
    }
    val hit = deleteFrameCache.synchronized { deleteFrameCache.get(key) }
    if (hit != null) {
      // (re)announce the rows→key identity so the physical broadcast-
      // reuse rule can recognize this frame's LocalTableScan
      if (hit.nonEmpty) GraftBroadcastCache.registerFrame(hit(0), key)
      return localFrame(spark, outSchema, hit)
    }
    deleteFrameBuilds.incrementAndGet()
    val df = build
    val seenBefore = deleteFrameSeen.put(key, java.lang.Boolean.TRUE) != null
    if (!seenBefore) return df
    // executeCollect returns freshly-deserialized rows — safe to retain
    val rows = df.queryExecution.executedPlan.executeCollect()
    // an entry that alone dwarfs the budget is served once, not cached:
    // admitting it would evict everything else for one pathological set
    if (rows.length <= DeleteFrameRowBudget / 4) {
      deleteFrameCache.synchronized {
        if (!deleteFrameCache.containsKey(key)) {
          deleteFrameCache.put(key, rows)
          deleteFrameRowsHeld += rows.length
          val it = deleteFrameCache.entrySet().iterator()
          while (deleteFrameRowsHeld > DeleteFrameRowBudget && it.hasNext) {
            val e = it.next()
            if (e.getKey != key) {
              deleteFrameRowsHeld -= e.getValue.length
              it.remove()
              // rows gone → their broadcasts go too
              GraftBroadcastCache.dropFrame(e.getKey)
            }
          }
        }
      }
      if (rows.nonEmpty) GraftBroadcastCache.registerFrame(rows(0), key)
    }
    localFrame(spark, outSchema, rows)
  }

  private[lake] def posDeleteSlotsFrame(spark: SparkSession, tableDir: String,
                                        snap: Snapshot, absCol: String,
                                        posCol: String): DataFrame = {
    val (_, root) = fsOf(spark, tableDir)
    val posSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType)))
    val est = estInMemory(snap.posDeletes.map(_.sizeBytes).sum)
    val key = s"pos|${absRoot(root)}|" + snap.posDeletes
      .map(p => s"${p.path}@${p.seq}#${p.sizeBytes}").sorted.mkString(",")
    val outSchema = StructType(Seq(
      org.apache.spark.sql.types.StructField(absCol,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField(posCol,
        org.apache.spark.sql.types.LongType)))
    val dels = deleteFrameCached(spark, key, outSchema, est) {
      spark.read.schema(posSchema)
        .parquet(snap.posDeletes.map(p => s"$tableDir/${p.path}"): _*)
        .select(concat(lit(s"${absRoot(root)}/"), col("file")).as(absCol),
          col("pos").as(posCol)).distinct()
    }
    sizeGated(spark, dels, est)
  }

  /** One row per equality-deleted key with the NEWEST delete seq — a
    * row survives iff no delete outranks its file. ONE multi-path scan
    * of all delete files; each key's seq joins in from a broadcast
    * manifest-derived (path → seq) map, so plan width stays O(1) in
    * un-folded commit count. Size-gated; shared by both MOR paths.
    *
    * `deletes` must share ONE key-column set — a snapshot whose delete
    * files span key-set ERAS (the merge keys changed between folds)
    * applies one frame per era, stacked by the callers. */
  private[lake] def eqDeleteMaxFrame(spark: SparkSession, tableDir: String,
                                     snap: Snapshot, seqCol: String,
                                     deletes: Seq[DeleteFile]): DataFrame = {
    val schema = snap.schema
    val eqColSets = deletes.map(_.eqCols).distinct
    require(eqColSets.size == 1,
      s"mixed equality-delete key sets in one frame for $tableDir: $eqColSets")
    val eqCols = eqColSets.head
    val keySchema = StructType(eqCols.map(c => schema(c)))
    val (_, root) = fsOf(spark, tableDir)
    val est = estInMemory(deletes.map(_.sizeBytes).sum)
    // key carries the key-column schema: a type-evolving era must not
    // serve rows collected under the old key types
    val key = s"eq|${absRoot(root)}|${keySchema.json}|" + deletes
      .map(d => s"${d.path}@${d.seq}#${d.sizeBytes}").sorted.mkString(",")
    val outSchema = StructType(keySchema.fields.map(_.copy(nullable = true)) :+
      org.apache.spark.sql.types.StructField(seqCol,
        org.apache.spark.sql.types.LongType))
    val delMax = deleteFrameCached(spark, key, outSchema, est) {
      import spark.implicits._
      val seqOfDelete = broadcast(
        deletes.map(d => (absKey(root, d.path), d.seq))
          .toDF("_dabs", "_dseq"))
      spark.read.schema(keySchema)
        .parquet(deletes.map(d => s"$tableDir/${d.path}"): _*)
        .withColumn("_dabs",
          regexp_replace(col("_metadata.file_path"), "^[a-z0-9]+:/+", "/"))
        .join(seqOfDelete, Seq("_dabs"), "inner")
        .groupBy(eqCols.map(col): _*).agg(max(col("_dseq")).as(seqCol))
    }
    sizeGated(spark, delMax, est)
  }

  /** Lineage rows → table-relative `(file, pos)` slots (the manifest's
    * path form — stable if the table dir moves). */
  private def slotsOf(spark: SparkSession, tableDir: String,
                      lineageRows: DataFrame): DataFrame = {
    val (_, root) = fsOf(spark, tableDir)
    val rootNorm = absRoot(root)
    // `_abs` comes from the (percent-encoded) file URI with only the
    // scheme stripped; the offset math below is only sound when the
    // table path needs no encoding — refuse loudly rather than record
    // misaligned slots that would silently never apply
    require(new java.net.URI(null, null, rootNorm, null).getRawPath == rootNorm,
      s"table dir $rootNorm contains URI-escaped characters; " +
        "row-level DML path mapping would misalign")
    lineageRows
      .select(expr(s"substring(_abs, ${rootNorm.length + 2})").as("file"),
        col("_pos").as("pos"))
      .distinct()
  }

  /** Write `(file, pos)` slots as positional-delete file(s); empty
    * result (no slots) writes nothing and returns Nil.
    *
    * The write is DISTRIBUTED: slots arrive hash-partitioned from the
    * upstream distinct's shuffle, and AQE coalesces the small case to a
    * single file while a mass delete (the "delete 3 months of a 100 TB
    * table's rows" shape) fans out across the executor pool — the
    * manifest holds a SET of delete files precisely so this write never
    * serializes through one task. 0-row part files (empty-task debris)
    * are dropped individually, like data writes. */
  private def writePosFile(spark: SparkSession, tableDir: String,
                           slots: DataFrame): Seq[PosDeleteFile] = {
    val (fs, root) = fsOf(spark, tableDir)
    val rel = s"data/${java.util.UUID.randomUUID()}"
    val dest = new Path(root, rel)
    // the fan-out relies on AQE coalescing the delta case down to one
    // file; without AQE a 10-slot delete would land one tiny file per
    // shuffle partition — fall back to the serialized single file there
    val aqeOn = spark.conf.getOption("spark.sql.adaptive.enabled")
      .forall(_.toBoolean)
    (if (aqeOn) slots else slots.repartition(1)).write.parquet(dest.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = fs.listStatus(dest).toSeq
      .filter(st => st.isFile && isParquetFile(st.getPath.getName))
      .map { st =>
        val relPath = st.getPath.toString.stripPrefix(root.toString + "/")
        val (rows, _, _) = footerStats(conf, st.getPath, "pos")
        PosDeleteFile(relPath, rows, st.getLen, seq = -1L)
      }
    if (entries.forall(_.rows == 0L)) { fs.delete(dest, true); Nil }
    else {
      val (empty, kept) = entries.partition(_.rows == 0L)
      empty.foreach(e => fs.delete(new Path(root, e.path), false))
      kept
    }
  }

  /** Adopt an existing FLAT directory of parquet files (no partition
    * dirs) as snapshot 1 under an explicit schema — a pure listing, no
    * rewrite. Files missing columns of `schema` (pre-evolution layouts)
    * read back as nulls. Must run inside [[withTableLock]]. */
  def importFlat(spark: SparkSession, tableDir: String, schema: StructType,
                 statsCol: String = graft.ingest.Cdc.LsnColumn): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, tableDir)
    if (!fs.exists(root)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(root).toSeq
      .filter(st => st.isFile && isParquetFile(st.getPath.getName))
      .map { st =>
        val (rows, lo, hi) = footerStats(conf, st.getPath, statsCol)
        DataFile(st.getPath.getName, "", rows, st.getLen, lo, hi,
          statsCol = Some(statsCol))
      }
    if (files.isEmpty) None
    else Some(commit(spark, tableDir, "import", files, schema, parent = None))
  }

  // ---- reads

  /** The snapshot's schema-id map parsed to StructTypes — the write-era
    * resolution table [[readFiles]] projects old files through. */
  private[lake] def parsedSchemas(snap: Snapshot): Map[Int, StructType] =
    snap.schemasById.map { case (k, j) =>
      k -> DataType.fromJson(j).asInstanceOf[StructType]
    }

  /** Read an explicit file subset under the stored schema (no delete
    * application — the building block for [[read]]). */
  /** Read an explicit file subset under the stored schema. With
    * `lineage`, two extra columns ride along: `_abs` (the row's
    * data-file path, scheme-normalized to a bare filesystem path) and
    * `_pos` (the row ordinal within that file, from the parquet
    * reader's `_metadata.row_index`) — the join identity positional
    * deletes target. */
  private def readFiles(spark: SparkSession, tableDir: String,
                        schema: StructType, files: Seq[DataFile],
                        lineage: Boolean = false,
                        schemasById: Map[Int, StructType] = Map.empty): DataFrame = {
    import graft.model.FieldIds
    val lineageCols =
      if (!lineage) Seq.empty
      else Seq(
        regexp_replace(col("_metadata.file_path"), "^[a-z0-9]+:/+", "/").as("_abs"),
        col("_metadata.row_index").as("_pos"))
    if (files.isEmpty) {
      val outSchema =
        if (!lineage) schema
        else StructType(schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_abs",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_pos",
            org.apache.spark.sql.types.LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    }
    val ordered = schema.fieldNames.toSeq
    // field-id resolution (rename/drop evolution): files whose write-era
    // schema maps some shared field id to a DIFFERENT name cannot read
    // by name — each such era reads under its own physical schema and
    // projects onto the target BY ID (renamed columns follow the id,
    // dropped-then-re-added names stay null). Files whose era agrees on
    // every shared name — the overwhelming steady state — keep the
    // single by-name scan.
    val (renamed, inlineFiles) = files.partition(f =>
      f.schemaId != 0 && schemasById.get(f.schemaId)
        .exists(ws => !FieldIds.byNameSafe(ws, schema)))
    val renamedParts = renamed.groupBy(_.schemaId).toSeq.map { case (sid, fset) =>
      val ws = schemasById(sid)
      spark.read.schema(ws)
        .parquet(fset.map(f => s"$tableDir/${f.path}"): _*)
        .select(schema.fields.toSeq.map { tf =>
          FieldIds.idOf(tf).flatMap(FieldIds.fieldById(ws, _)) match {
            case Some(wf) => col(wf.name).cast(tf.dataType).as(tf.name)
            case None     => lit(null).cast(tf.dataType).as(tf.name)
          }
        } ++ lineageCols: _*)
    }
    val parts = renamedParts ++
      (if (inlineFiles.isEmpty) None
       // explicit schema: no footer-merge pass; files missing a column
       // (pre-evolution) surface it as null
       else Some(spark.read.schema(schema)
         .parquet(inlineFiles.map(f => s"$tableDir/${f.path}"): _*)
         .select(ordered.map(col) ++ lineageCols: _*)))
    parts.reduce(_ unionByName _)
  }

  /** Read a snapshot's file set, optionally pruned to partition values —
    * manifest-level file skipping, no directory listing. Missing columns
    * (schema evolution) surface as nulls via the explicit stored schema.
    *
    * Equality deletes (merge-on-read, Iceberg v2) apply transparently: a
    * key tuple in a delete file with seq S drops that key's rows from
    * every data file with seq < S. The deletes-free path is untouched —
    * one multi-path scan, no extra plan nodes. With deletes, data files
    * group by seq (one scan per retained commit — bounded by the fold
    * cadence, see [[foldDeletes]]) and the delete set joins SIZE-GATED
    * from the manifest's recorded bytes: delta-sized delete sets
    * broadcast (the common CDC shape — the stored table never shuffles
    * for delete application), a mass-delete's accumulated set
    * shuffle-hash-joins instead of OOMing the driver. */
  def read(spark: SparkSession, tableDir: String, snap: Snapshot,
           partitions: Option[Seq[String]] = None): DataFrame =
    readCore(spark, tableDir, snap, partitions, keepLineage = false)

  /** [[read]] with `_abs`/`_pos` lineage retained on the LIVE rows —
    * the scan row-level DML ([[deleteWhere]], [[updateWhere]]) evaluates
    * predicates on: a row already dead under existing deletes must not
    * match again (for UPDATE that would resurrect it). */
  private def readCore(spark: SparkSession, tableDir: String, snap: Snapshot,
                       partitions: Option[Seq[String]],
                       keepLineage: Boolean): DataFrame = {
    val schema = snap.schema
    // spec-aware pruning: each requested day is evaluated under the
    // FILE's partition transform (identity: value equality; month: the
    // day's month prefix) — partition-spec evolution means one snapshot
    // can mix layouts, and the predicate must follow the file, not the
    // table (Iceberg evaluates residuals per spec the same way)
    val wanted = partitions.map(_.toSet)
    val files = snap.files.filter(f =>
      wanted.forall(ws => ws.exists(f.matchesDay)))
    val out = schema.fieldNames.toSeq ++
      (if (keepLineage) Seq("_abs", "_pos") else Seq.empty)
    if ((snap.deletes.isEmpty && snap.posDeletes.isEmpty) || files.isEmpty)
      return readFiles(spark, tableDir, schema, files, lineage = keepLineage,
        schemasById = parsedSchemas(snap))
    // equality deletes need each row's data-sequence-number, derived from
    // the row's FILE — lineage rides along whenever either delete kind
    // (or the caller) needs row identity
    val haveLineage = snap.posDeletes.nonEmpty || keepLineage ||
      snap.deletes.nonEmpty
    val (_, root) = fsOf(spark, tableDir)
    def load(fset: Seq[DataFile]): DataFrame =
      readFiles(spark, tableDir, schema, fset, lineage = haveLineage,
        schemasById = parsedSchemas(snap))
    val base =
      if (snap.deletes.isEmpty) load(files)
      else {
        // ONE multi-path scan for ALL data files: each row's seq joins in
        // from a broadcast manifest-derived (path → seq) map instead of
        // one union leg per distinct seq — plan width stays O(1) however
        // many un-folded commits the snapshot carries (at 100 TB a CDC
        // table between foldDeletes runs holds hundreds). Keys MUST be
        // the `_abs` form ([[absKey]]) — a raw manifest path diverges on
        // URI-escaped partition values and the join would drop rows.
        import spark.implicits._
        val seqMap = broadcast(
          files.map(f => (absKey(root, f.path), f.seq))
            .toDF("_abs", "_seq"))
        load(files).join(seqMap, Seq("_abs"), "inner")
      }
    // positional deletes first: row identity (file, pos) is absolute —
    // independent of seq, dead regardless of which commit added the row.
    // Size-gated from manifest bytes: a delta-sized slot set broadcasts,
    // a mass-delete's shuffle-hash-joins (the stored table hashes on
    // lineage — never sorts, never builds a driver-sized table).
    val afterPos =
      if (snap.posDeletes.isEmpty) base
      else base.join(
        posDeleteSlotsFrame(spark, tableDir, snap, "_abs", "_pos"),
        Seq("_abs", "_pos"), "left_anti")
    // one frame per key-set ERA (merge keys may change between folds):
    // a row dies when ANY era's newest matching delete outranks its
    // file, so the eras stack as independent join+filter legs
    val afterEq = if (snap.deletes.isEmpty) afterPos else {
      snap.deletes.groupBy(_.eqCols).toSeq.sortBy(_._1.mkString(","))
        .foldLeft(afterPos) { case (acc, (eqCols, dels)) =>
          acc.join(eqDeleteMaxFrame(spark, tableDir, snap, "_del_seq", dels),
            eqCols, "left")
            .filter(col("_del_seq").isNull || col("_seq") >= col("_del_seq"))
            .drop("_del_seq")
        }
    }
    afterEq.select(out.map(col): _*)
  }

  /** Read the current table state (empty frame with the last committed
    * schema if the table committed empty; None if no log exists). */
  def readCurrent(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentSnapshot(spark, tableDir).map(read(spark, tableDir, _))

  /** [[read]] restricted to the manifest entries `keep` selects — the
    * scan-planning hook for [[GraftCatalog]]'s SQL pushdown. Callers must
    * only drop files whose recorded partition value or stats bounds prove
    * no selected row lives there (pruning is an optimization, never a
    * correctness shortcut: the row-level predicate is still applied).
    * Delete application is unchanged — dropping data files can only
    * remove rows, and both delete kinds target surviving files the same
    * way they would in the full read. */
  def readPruned(spark: SparkSession, tableDir: String, snap: Snapshot,
                 keep: DataFile => Boolean): DataFrame =
    readCore(spark, tableDir, snap.copy(files = snap.files.filter(keep)),
      None, keepLineage = false)

  /** Manifest-level file skipping by LSN range: the files of `snap` that
    * can hold a row with `lo <= lsn <= hi`, decided from the per-file
    * footer bounds recorded at commit time — no footer is opened, no
    * data is read. This is the Iceberg scan-planning shortcut beyond
    * partition pruning: a predicate on the stats column turns into a
    * file-list restriction BEFORE the scan is planned, so a query over
    * an LSN window of a 100 TB table reads only the commits that overlap
    * it. Files without recorded bounds are kept (never a correctness
    * shortcut). Callers still apply the row-level filter — bounds
    * overlap is necessary, not sufficient. */
  def pruneByLsn(snap: Snapshot, lo: String, hi: String): Seq[DataFile] =
    snap.files.filter(f => (f.minLsn, f.maxLsn) match {
      case (Some(mn), Some(mx))
        if f.boundsColumn == graft.ingest.Cdc.LsnColumn =>
        mn <= hi && mx >= lo
      case _ => true // bounds absent or for another column: never skip
    })

  /** The files of `snap` that can hold rows of any of `days`, evaluated
    * under each FILE's own partition transform ([[DataFile.matchesDay]])
    * — the measurement surface for spec-evolution pruning. */
  def pruneToDays(snap: Snapshot, days: Seq[String]): Seq[DataFile] =
    snap.files.filter(f => days.exists(f.matchesDay))

  /** Manifest-level file skipping by NUMERIC range on an arbitrary data
    * column: keeps the files of `snap` whose recorded `[min, max]` for
    * `column` overlaps the closed `[lo, hi]` — compared as numbers (the
    * stored bounds are footer stats rendered to strings; LSNs compare
    * lexically because they are zero-padded, data columns must not).
    * Files whose bounds describe a DIFFERENT column, or carry no bounds,
    * are always kept — skipping is an optimization, never a correctness
    * shortcut. Selective only after [[clusterBy]] makes per-file ranges
    * disjoint; on ingest-ordered files every range overlaps everything. */
  def pruneByStats(snap: Snapshot, column: String,
                   lo: BigDecimal, hi: BigDecimal): Seq[DataFile] =
    snap.files.filter(f => f.boundsFor(column) match {
      case Some((mn, mx)) => BigDecimal(mn) <= hi && BigDecimal(mx) >= lo
      case None           => true
    })

  /** Read exactly the files [[pruneByStats]] selects under the snapshot's
    * schema. Callers still apply the row-level predicate — bounds overlap
    * is necessary, not sufficient. */
  def readStatsRange(spark: SparkSession, tableDir: String, snap: Snapshot,
                     column: String, lo: BigDecimal, hi: BigDecimal): DataFrame = {
    require(snap.deletes.isEmpty && snap.posDeletes.isEmpty,
      s"readStatsRange on a deletes-bearing snapshot of $tableDir — " +
        "fold deletes first or use read()")
    readFiles(spark, tableDir, snap.schema, pruneByStats(snap, column, lo, hi),
      schemasById = parsedSchemas(snap))
  }

  /** Read exactly the files [[pruneByLsn]] selects under the snapshot's
    * schema (delete application is the caller's concern — the gated use
    * is an append-only fixture; compose with [[read]] for MOR tables). */
  def readLsnRange(spark: SparkSession, tableDir: String, snap: Snapshot,
                   lo: String, hi: String): DataFrame = {
    require(snap.deletes.isEmpty && snap.posDeletes.isEmpty,
      s"readLsnRange on a deletes-bearing snapshot of $tableDir — " +
        "fold deletes first or use read()")
    readFiles(spark, tableDir, snap.schema, pruneByLsn(snap, lo, hi),
      schemasById = parsedSchemas(snap))
  }

  // ---- compaction

  /** Rewrite every partition holding more than `maxFiles` files down to
    * ONE file each and commit the result as a "replace" snapshot that
    * carries every untouched manifest entry unchanged — Iceberg's
    * `rewrite_data_files` expressed through the commit log.
    *
    * The ingest side accretes exactly this debt: the reference writer
    * flushes one immutable file per partition per micro-batch (ref
    * internal/iceberg/writer/writer.go:141-163), so a day receiving k
    * batches holds k small files until a rewrite folds them.
    *
    * Old snapshots keep referencing the small files — time travel across
    * a compaction is exact, and the replaced bytes are reclaimed by
    * [[expire]], never by the rewrite itself. ONE distributed job
    * rewrites all oversized partitions (manifest-pruned read of just
    * those partitions' files, clustered so each partition lands in one
    * output file); a crash at any point leaves the pre-compaction
    * snapshot current and complete. Returns the rewritten partition
    * values (sorted). */
  def compact(spark: SparkSession, tableDir: String,
              partitionCol: Option[String], maxFiles: Int = 4,
              statsCol: String = graft.ingest.Cdc.LsnColumn): Seq[String] =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(return Seq.empty)
      // a partial rewrite cannot retire equality deletes (they hit every
      // partition), and rewritten rows jumping to a higher seq while
      // their old deletes stay live is correct but wasteful — fold first
      // positional deletes equally: carried delete files naming a
      // rewritten-away file would go inert, ones naming kept files can't
      // be split per-partition without a rewrite of the delete file
      require(cur.deletes.isEmpty && cur.posDeletes.isEmpty,
        s"$tableDir carries live deletes; run foldDeletes before compact")
      // may-contain pruning (month/cluster specs) would pull foreign
      // rows into the rewrite while the untouched list keeps their
      // files — duplication. Per-partition rewrites need exact values.
      require(allIdentitySpec(cur),
        s"$tableDir holds non-identity partition layouts; " +
          "run normalizeLayout before compact")
      val oversized = cur.files.groupBy(_.partition)
        .collect { case (p, fs) if fs.size > maxFiles => p }.toSeq.sorted
      if (oversized.isEmpty) return Seq.empty
      val pruned = read(spark, tableDir, cur, Some(oversized))
      // an unpartitioned rewrite has no partition column to cluster by —
      // fold the oversized file set into a single output file; with a
      // partition column, writeData's repartition(pcol) already yields
      // one file per partition value
      val source = if (partitionCol.isDefined) pruned else pruned.repartition(1)
      // compaction is bandwidth-bound over exactly the tiny files it
      // removes — pack them into big input splits for this job instead of
      // paying per-file task-scheduling overhead
      val splitKey = "spark.sql.files.maxPartitionBytes"
      val prevSplit = spark.conf.getOption(splitKey)
      spark.conf.set(splitKey, (512L * 1024 * 1024).toString)
      val newFiles =
        try writeData(spark, tableDir, source, partitionCol, statsCol)
        finally prevSplit match {
          case Some(v) => spark.conf.set(splitKey, v)
          case None    => spark.conf.unset(splitKey)
        }
      val oset = oversized.toSet
      val untouched = cur.files.filterNot(f => oset(f.partition))
      commit(spark, tableDir, "replace", untouched ++ newFiles, cur.schema,
        parent = Some(cur))
      oversized
    }

  /** Retention: drop every day partition strictly older than `cutoffDay`
    * (yyyy-MM-dd) with ONE metadata-only "delete" commit of the filtered
    * manifest — no data file is read or rewritten (Iceberg's
    * delete-where on the partition column). The reference deletes
    * processed buffer rows past a retention window on a ticker (ref
    * internal/cdc/buffer/postgres.go:218-234, default 7 d). Old
    * snapshots keep exact time travel; dropped bytes are reclaimed by
    * [[expire]]. Partition values compare as day strings, so only
    * identity-day layouts qualify — a month or cluster file may hold
    * rows on both sides of the cutoff. Returns the dropped days (sorted);
    * nothing to drop commits nothing. */
  def dropDaysBefore(spark: SparkSession, tableDir: String,
                     cutoffDay: String): Seq[String] =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(return Seq.empty)
      require(allIdentitySpec(cur),
        s"$tableDir holds non-identity partition layouts; " +
          "run normalizeLayout before a retention drop")
      val (dropped, kept) = cur.files.partition(f =>
        f.partition.nonEmpty && f.partition < cutoffDay)
      if (dropped.isEmpty) return Seq.empty
      commit(spark, tableDir, "delete", kept, cur.schema, parent = Some(cur),
        deletes = cur.deletes, posDeletes = cur.posDeletes)
      dropped.map(_.partition).distinct.sorted
    }

  /** Rewrite the WHOLE table range-clustered by `sortCol` and commit the
    * result as a "replace" snapshot whose per-file manifest bounds
    * describe `sortCol` — Iceberg's `rewrite_data_files` with a sort
    * strategy, the step that turns [[pruneByStats]] from a no-op into
    * real scan planning: ingest-ordered files each span the full value
    * range (every range query reads everything), clustered files own
    * disjoint ranges (a range query reads only the overlapping buckets).
    *
    * `splits` are explicit ascending bucket boundaries; row → bucket is
    * `count(splits <= value)` — a DETERMINISTIC transform, deliberately
    * not `repartitionByRange` (whose sampled boundaries differ run to
    * run, making file layouts and prune counts unreproducible). At 100 TB
    * the splits come from `approxQuantile` on a sample or from the
    * previous manifest's bounds; the rewrite itself is ONE distributed
    * job (bucket id is a hidden dir-partition through [[writeData]], so
    * each bucket lands in its own file), and per-bucket skew is visible
    * in the manifest as file sizes. Null sort values bucket to 0 and are
    * never selected by a range predicate, so pruning them away with
    * bucket 0 is sound. Old snapshots keep exact time travel; replaced
    * bytes are reclaimed by [[expire]].
    *
    * The bucket column is written inline under a reserved name but the
    * committed schema is unchanged — readers project it away (Iceberg
    * hidden partitioning: the transform is table layout, not table
    * schema). */
  def clusterBy(spark: SparkSession, tableDir: String, sortCol: String,
                splits: Seq[Double]): Snapshot =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      require(cur.deletes.isEmpty && cur.posDeletes.isEmpty,
        s"$tableDir carries live deletes; run foldDeletes before clusterBy")
      require(splits.nonEmpty && splits == splits.sorted &&
        splits.distinct.size == splits.size,
        s"splits must be ascending and distinct: $splits")
      require(cur.schema.fieldNames.contains(sortCol),
        s"sort column $sortCol not in schema of $tableDir")
      val state = read(spark, tableDir, cur)
      val bucket = splits.foldLeft(lit(0)) { (acc, sp) =>
        acc + when(col(sortCol) >= lit(sp), 1).otherwise(0)
      }
      val tagged = state.withColumn(ClusterBucketCol,
        format_string("%04d", bucket))
      // spec "cluster": the partition value is a bucket id, NOT a day —
      // day pruning must never mistake it for an identity value (an
      // unknown transform is never pruned, so day reads stay correct,
      // just unpruned — range skipping is this layout's pruning story)
      val files = writeData(spark, tableDir, tagged, Some(ClusterBucketCol),
        statsCol = sortCol, spec = Some("cluster"))
      commit(spark, tableDir, "replace", files, cur.schema,
        parent = Some(cur))
    }

  /** Reserved hidden-partition column name [[clusterBy]] writes under. */
  val ClusterBucketCol = "_cluster_bucket"

  /** Multi-dimension clustered rewrite — the deterministic GRID form of
    * Iceberg's `rewrite_data_files` z-order strategy. Each dimension
    * gets explicit ascending splits; a row's cell is the tuple of its
    * per-dimension bucket indices (`count(splits <= value)` each —
    * deterministic, like [[clusterBy]], deliberately not sampled), and
    * each non-empty cell lands in its own file whose manifest entry
    * records min/max bounds for EVERY dimension. A range predicate on
    * ANY clustered column then prunes at the manifest — the property
    * z-order buys; the grid form trades Morton-order file packing for a
    * reproducible layout (at 100 TB, cells are sized by choosing splits
    * from quantiles so each cell ≈ one target file; a Morton sort would
    * pack sparse cells together at the cost of widening per-file bounds
    * on every dimension). Null values bucket to 0 per dimension — range
    * predicates never select nulls, so pruning them with bucket 0 stays
    * sound. Old snapshots keep exact time travel; replaced bytes fall to
    * [[expire]]. */
  def clusterByGrid(spark: SparkSession, tableDir: String,
                    dims: Seq[(String, Seq[Double])]): Snapshot =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      require(cur.deletes.isEmpty && cur.posDeletes.isEmpty,
        s"$tableDir carries live deletes; run foldDeletes before clusterByGrid")
      require(dims.size >= 2,
        "clusterByGrid needs >= 2 dimensions; use clusterBy for one")
      dims.foreach { case (c, splits) =>
        require(cur.schema.fieldNames.contains(c),
          s"cluster column $c not in schema of $tableDir")
        require(splits.nonEmpty && splits == splits.sorted &&
          splits.distinct.size == splits.size,
          s"splits for $c must be ascending and distinct: $splits")
      }
      val state = read(spark, tableDir, cur)
      val cell = concat_ws("-", dims.map { case (c, splits) =>
        val b = splits.foldLeft(lit(0)) { (acc, sp) =>
          acc + when(col(c) >= lit(sp), 1).otherwise(0)
        }
        format_string("%04d", b)
      }: _*)
      val tagged = state.withColumn(ClusterBucketCol, cell)
      val files = writeData(spark, tableDir, tagged, Some(ClusterBucketCol),
        statsCol = dims.head._1, spec = Some("cluster"),
        extraStatsCols = dims.tail.map(_._1))
      commit(spark, tableDir, "replace", files, cur.schema,
        parent = Some(cur))
    }

  /** Fold the live equality-delete set into clean data files: materialize
    * the current state (deletes applied), rewrite it whole, and commit a
    * "replace" snapshot with ZERO delete files — Iceberg's
    * rewrite_data_files + rewrite_position_deletes pair expressed through
    * the commit log. This is the MOR maintenance cadence: merges stay
    * O(delta) ([[graft.ingest.CdcWriter.morMerge]]), the read-side
    * per-commit scan count and delete union grow until a fold resets
    * them, and old snapshots keep exact time travel (their delete files
    * stay referenced until [[expire]]). No-op (None) without deletes. */
  def foldDeletes(spark: SparkSession, tableDir: String,
                  partitionCol: Option[String],
                  statsCol: String = graft.ingest.Cdc.LsnColumn): Option[Snapshot] =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(return None)
      if (cur.deletes.isEmpty && cur.posDeletes.isEmpty) return None
      Some(rewriteWhole(spark, tableDir, cur, partitionCol, statsCol))
    }

  /** Rewrite the WHOLE table back to an identity partition layout (and
    * retire any live deletes along the way) — the normalization step
    * that makes a spec-evolved or clustered table eligible again for
    * the per-partition rewrites ([[compact]]) and the CDC writers'
    * touched-day COW merge, both of which require identity values. */
  def normalizeLayout(spark: SparkSession, tableDir: String,
                      partitionCol: Option[String],
                      statsCol: String = graft.ingest.Cdc.LsnColumn): Option[Snapshot] =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(return None)
      Some(rewriteWhole(spark, tableDir, cur, partitionCol, statsCol))
    }

  /** Materialize the full live state (all deletes applied) and commit it
    * as a clean identity-layout "replace" snapshot. Call under the lock. */
  private def rewriteWhole(spark: SparkSession, tableDir: String,
                           cur: Snapshot, partitionCol: Option[String],
                           statsCol: String): Snapshot = {
    val state = read(spark, tableDir, cur)
    val files = writeData(spark, tableDir, state, partitionCol, statsCol)
    commit(spark, tableDir, "replace", files, cur.schema,
      parent = Some(cur), deletes = Nil)
  }

  /** Every file's partition value is an identity value (or the file is
    * unpartitioned) — the precondition for treating partition values as
    * exact day keys in per-partition rewrites. */
  def allIdentitySpec(snap: Snapshot): Boolean =
    snap.files.forall(f => f.spec.isEmpty || f.spec.contains("identity"))

  /** RENAME COLUMN — metadata only (Iceberg's rename): the field keeps
    * its id under a new name, zero files are touched, and every old file
    * resolves the column BY ID through the carried write-era schemas.
    * Refused while any live file predates field ids (schemaId 0 reads by
    * name and would silently null out — rewrite first) or while live
    * equality deletes key on the column (their files store the old
    * physical name). The hidden partition column is layout, not schema —
    * renaming it would orphan the partition values. */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String): Snapshot =
    withTableLock(tableDir) {
      import graft.model.FieldIds
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val schema0 = cur.schema
      require(schema0.fieldNames.contains(from),
        s"no column $from in $tableDir")
      require(!schema0.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column $to already exists in $tableDir")
      graft.model.Identifiers.validate(to, "column")
      evolutionGuards(cur, from, "rename")
      val (stamped, _) =
        if (FieldIds.hasIds(schema0)) (schema0, 0) else FieldIds.stamp(schema0)
      val schema = StructType(stamped.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      commit(spark, tableDir, "evolve-schema", cur.files, schema,
        parent = Some(cur), deletes = cur.deletes,
        posDeletes = cur.posDeletes, preReconciled = true)
    }

  /** DROP COLUMN — projection-masked (Iceberg's drop): the schema loses
    * the field, files keep their bytes, old snapshots still read the
    * column via time travel. The field's id is RETIRED: a later re-add
    * of the same name takes a fresh id (last-column-id never decreases),
    * so the dropped bytes can never leak into the new column. Guards as
    * [[renameColumn]]. */
  def dropColumn(spark: SparkSession, tableDir: String,
                 name: String): Snapshot =
    withTableLock(tableDir) {
      import graft.model.FieldIds
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshot log at $tableDir"))
      val schema0 = cur.schema
      require(schema0.fieldNames.contains(name),
        s"no column $name in $tableDir")
      require(schema0.fields.length > 1,
        s"cannot drop the last column of $tableDir")
      evolutionGuards(cur, name, "drop")
      val (stamped, _) =
        if (FieldIds.hasIds(schema0)) (schema0, 0) else FieldIds.stamp(schema0)
      val schema = StructType(stamped.fields.filterNot(_.name == name))
      commit(spark, tableDir, "evolve-schema", cur.files, schema,
        parent = Some(cur), deletes = cur.deletes,
        posDeletes = cur.posDeletes, preReconciled = true)
    }

  /** The structural refusals rename/drop share: pre-field-id files,
    * live equality-delete keys, and the partition column. */
  private def evolutionGuards(cur: Snapshot, column: String, what: String): Unit = {
    val legacy = cur.files.filter(_.schemaId == 0)
    require(legacy.isEmpty,
      s"cannot $what $column: ${legacy.size} live file(s) predate field " +
        "ids and read by name — rewrite first (compact/normalizeLayout)")
    require(!cur.deletes.exists(_.eqCols.contains(column)),
      s"cannot $what $column: live equality deletes key on it — " +
        "run foldDeletes first")
    require(!cur.files.exists(f => f.partition.nonEmpty) ||
        column != graft.model.SchemaBuilder.partitionColumn,
      s"cannot $what the partition column $column of a partitioned table")
  }

  /** Roll the table back to a historical snapshot by committing a NEW
    * snapshot that references the target's exact file and delete sets
    * (Iceberg's rollback_to_snapshot): history stays intact, readers of
    * old ids are unaffected, and the rolled-back state is reachable as
    * plain current. Carried entries keep their original seq, so delete
    * application replays exactly. */
  def rollback(spark: SparkSession, tableDir: String, toId: Long): Snapshot =
    withTableLock(tableDir) {
      val cur = currentSnapshot(spark, tableDir).getOrElse(
        throw new NoSuchElementException(s"no snapshots in $tableDir"))
      val target = snapshotAt(spark, tableDir, toId)
      commit(spark, tableDir, "rollback", target.files, target.schema,
        parent = Some(cur), deletes = target.deletes,
        posDeletes = target.posDeletes,
        reuseFrom = Seq(toId), // restore the target's own segments
        carrySchemas = target.schemasById)
    }

  /** Incremental append-scan: the rows ADDED by snapshots in
    * `(fromId, toId]` — the CDC-consumer surface Iceberg exposes as
    * incremental reads. Only pure appends are expressible: "append"
    * snapshots contribute the files they added (seq == snapshot id);
    * "replace" snapshots (compaction/fold rewrites) change no data and
    * are skipped; any other operation in the window (merge, truncate,
    * rollback) rewrites or removes rows and fails loudly — exactly
    * Iceberg's incremental-scan contract. */
  def readIncremental(spark: SparkSession, tableDir: String,
                      fromId: Long, toId: Long): DataFrame = {
    require(fromId <= toId, s"incremental range ($fromId, $toId] is empty")
    val window = resolveWindow(spark, tableDir, fromId, toId)
    // "replace" (compaction/fold) and "evolve-schema" (rename/drop/add
    // metadata commits) change no rows — skipped, like Iceberg's
    // incremental scan over rewrites; anything else fails loudly
    val bad = window.filterNot(s =>
      Set("append", "replace", "evolve-schema").contains(s.operation))
    require(bad.isEmpty,
      s"incremental read over non-append snapshots " +
        s"${bad.map(s => s"${s.id}:${s.operation}").mkString(", ")} in $tableDir")
    val added = window.filter(_.operation == "append")
      .flatMap(s => s.files.filter(_.seq == s.id))
    val schema = window.lastOption.map(_.schema).getOrElse(
      currentSnapshot(spark, tableDir).map(_.schema).getOrElse(
        throw new NoSuchElementException(s"no snapshots in $tableDir")))
    // era schemas union across the WINDOW: an added file replaced away
    // by a later window snapshot may be pruned from the last snapshot's
    // schema map, but its own snapshot still carries its era. Union the
    // RAW maps first (schemas are immutable per id), parse each id once.
    val eraJson = window.map(_.schemasById)
      .foldLeft(Map.empty[Int, String])(_ ++ _)
    readFiles(spark, tableDir, schema, added,
      schemasById = eraJson.map { case (k, j) =>
        k -> DataType.fromJson(j).asInstanceOf[StructType]
      })
  }

  /** Changelog scan (Iceberg's CDC-out surface): the NET row changes each
    * snapshot in `(fromId, toId]` committed, as
    * `(_change_snapshot_id, _change_type, <table columns>)` rows.
    *
    *  - "mor-merge" commits: their added data files ARE the batch's
    *    latest-per-key upserts (`_change_type` = "upsert"); their
    *    equality-delete keys minus the upserted keys are the net
    *    deletions (`_change_type` = "delete", non-key columns null —
    *    a retraction marker: it also covers deletes of keys that never
    *    materialized, exactly what the delete file records).
    *  - "append" commits: added rows as upserts (no delete files).
    *  - "replace" (compaction / fold): no logical change — skipped.
    *  - anything else (COW merge rewrites carry survivor rows in new
    *    files — added-file identity no longer means added-row) is
    *    refused loudly, like [[readIncremental]].
    *
    * 100 TB shape: per-commit file groups read directly (no stored-table
    * scan), the anti-join of delete keys against upsert keys is
    * broadcast at delta size. */
  def readChangelog(spark: SparkSession, tableDir: String,
                    fromId: Long, toId: Long): DataFrame = {
    require(fromId <= toId, s"changelog range ($fromId, $toId] is empty")
    val window = resolveWindow(spark, tableDir, fromId, toId)
    val bad = window.filterNot(s =>
      Set("append", "mor-merge", "replace", "evolve-schema")
        .contains(s.operation))
    require(bad.isEmpty,
      s"changelog over non-append/mor snapshots " +
        s"${bad.map(s => s"${s.id}:${s.operation}").mkString(", ")} in $tableDir")
    val schema = window.lastOption.map(_.schema).getOrElse(
      currentSnapshot(spark, tableDir).map(_.schema).getOrElse(
        throw new NoSuchElementException(s"no snapshots in $tableDir")))
    val ordered = schema.fieldNames.toSeq
    val parts = window.filterNot(s =>
      s.operation == "replace" || s.operation == "evolve-schema").flatMap { s =>
      val added = s.files.filter(_.seq == s.id)
      val upserts = readFiles(spark, tableDir, s.schema, added,
        schemasById = parsedSchemas(s))
      val up = upserts.select(
        lit(s.id).as("_change_snapshot_id") +: lit("upsert").as("_change_type") +:
          ordered.map(c => (if (upserts.columns.contains(c)) col(c)
          else lit(null).cast(schema(c).dataType)).as(c)): _*)
      val newDeletes = s.deletes.filter(_.seq == s.id)
      val del = if (newDeletes.isEmpty) None else {
        val eqCols = newDeletes.map(_.eqCols).distinct match {
          case Seq(one) => one
          case many => throw new IllegalStateException(
            s"mixed delete key sets in commit ${s.id}: $many")
        }
        val keySchema = StructType(eqCols.map(c => s.schema(c)))
        val keys = spark.read.schema(keySchema)
          .parquet(newDeletes.map(d => s"$tableDir/${d.path}"): _*)
          .join(broadcast(upserts.select(eqCols.map(col): _*).distinct()),
            eqCols, "left_anti")
        Some(keys.select(
          lit(s.id).as("_change_snapshot_id") +: lit("delete").as("_change_type") +:
            ordered.map(c => (if (eqCols.contains(c)) col(c)
            else lit(null).cast(schema(c).dataType)).as(c)): _*))
      }
      Seq(up) ++ del
    }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          org.apache.spark.sql.types.StructField("_change_snapshot_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType)) ++ schema.fields))
    else parts.reduce(_ unionByName _)
  }

  // ---- retention

  /** Expire all but the newest `keepLast` snapshots — TAGGED snapshots
    * are always kept (Iceberg ref retention) — and delete every
    * unreferenced file under the table dir (old data files, crashed
    * writers' debris, un-renamed temp manifests/refs). Returns the
    * number of data files deleted. Runs under the table lock. */
  /** `debrisGraceMs` shields NEVER-REFERENCED files (a mid-flight
    * writer's data/segment files, un-renamed temp manifests) younger
    * than the grace from the sweep — the Iceberg orphan-cleanup rule.
    * The DEFAULT is a conservative 5 minutes: [[appendFiles]]' optimistic
    * rebase flow makes cross-process writers a supported deployment
    * shape, and a 0 default would let expire sweep a racing writer's
    * just-written segment between its creation and its manifest rename.
    * Strict single-process callers (all writers inside this JVM's table
    * lock, where a mid-flight write cannot overlap an expire) may pass 0
    * explicitly for an immediate debris sweep. Previously-referenced
    * files of expired snapshots are reclaimed regardless of the grace —
    * they were visible, so no in-flight commit can be about to
    * reference them. */
  val DefaultDebrisGraceMs: Long = 5 * 60 * 1000L

  def expire(spark: SparkSession, tableDir: String, keepLast: Int,
             debrisGraceMs: Long = DefaultDebrisGraceMs): Int =
    expireCore(spark, tableDir, keepLast, olderThanMs = Long.MaxValue,
      debrisGraceMs)

  /** Age-based retention (Iceberg's `expire_snapshots(older_than,
    * retain_last)`): expire snapshots committed strictly before
    * `olderThanMs`, always keeping the newest `retainLast` and every
    * tagged snapshot regardless of age. The production cadence: "keep 7
    * days of time travel, but never fewer than N snapshots, and never a
    * pinned training-run snapshot". */
  def expireOlderThan(spark: SparkSession, tableDir: String,
                      olderThanMs: Long, retainLast: Int = 1,
                      debrisGraceMs: Long = DefaultDebrisGraceMs): Int =
    expireCore(spark, tableDir, retainLast, olderThanMs, debrisGraceMs)

  private def expireCore(spark: SparkSession, tableDir: String,
                         keepLast: Int, olderThanMs: Long,
                         debrisGraceMs: Long = 0L): Int =
    withTableLock(tableDir) {
      require(keepLast >= 1, s"must keep at least the current snapshot")
      val debrisCutoffMs = System.currentTimeMillis() - debrisGraceMs
      val (fs, root) = fsOf(spark, tableDir)
      val all = snapshots(spark, tableDir)
      if (all.isEmpty) return 0
      val tagged = tags(spark, tableDir).values.toSet
      val newest = all.takeRight(keepLast).map(_.id).toSet
      val (keep, drop) = all.partition(s =>
        newest(s.id) || tagged(s.id) || s.tsMs >= olderThanMs)
      // staged branch commits reference data files main can't see yet —
      // they are LIVE (a publish would need them), not crashed debris.
      // A branch dir WITHOUT base.json (createBranch crashed between
      // mkdir and the base write) IS debris: reclaim it here instead of
      // failing every future expire on the table.
      val branchKeep = branches(spark, tableDir).flatMap { b =>
        try branchSnapshots(spark, tableDir, b)
        catch {
          case _: NoSuchElementException =>
            fs.delete(branchDir(root, b), true)
            Seq.empty
        }
      }
      val live: Set[String] =
        (keep ++ branchKeep).flatMap(s => s.files.map(_.path) ++
          s.deletes.map(_.path) ++ s.posDeletes.map(_.path)).toSet
      val md = metaDir(root)
      // previously-REFERENCED paths (expired snapshots' files and
      // segments): visible history, safe to reclaim immediately — no
      // in-flight commit can be about to reference them. Everything
      // else unreferenced is potential mid-flight debris and honors
      // the grace window. Dropped manifests' segment names are read
      // BEFORE their manifests are deleted.
      val droppedSegs: Set[String] = drop
        .map(s => new Path(md, f"snap-${s.id}%012d.json"))
        .filter(fs.exists(_)).flatMap(segmentNamesOf(fs, _)).toSet
      val wasReferenced: Set[String] = drop.flatMap(s =>
        s.files.map(_.path) ++ s.deletes.map(_.path) ++
          s.posDeletes.map(_.path)).toSet
      drop.foreach(s => fs.delete(new Path(md, f"snap-${s.id}%012d.json"), false))
      // segment liveness: a segment file survives iff SOME retained
      // manifest (main or branch-staged) still references it; orphans —
      // expired history's exclusive segments, crashed commits' debris —
      // are reclaimed like data files
      val liveSegs: Set[String] = {
        val mainManifests = keep.map(s => new Path(md, f"snap-${s.id}%012d.json"))
        val branchManifests = branches(spark, tableDir).flatMap { b =>
          val bd = branchDir(root, b)
          if (!fs.exists(bd)) Seq.empty
          else fs.listStatus(bd).toSeq.filter(st => st.isFile &&
            SnapRe.pattern.matcher(st.getPath.getName).matches()).map(_.getPath)
        }
        (mainManifests ++ branchManifests).filter(fs.exists(_))
          .flatMap(segmentNamesOf(fs, _)).toSet
      }
      fs.listStatus(md).foreach { st =>
        val nm = st.getPath.getName
        if (st.isFile && nm.startsWith("seg-") && nm.endsWith(".json") &&
            !liveSegs.contains(nm) &&
            (droppedSegs.contains(nm) ||
              st.getModificationTime < debrisCutoffMs)) {
          fs.delete(st.getPath, false)
          segCacheDrop(fs.makeQualified(st.getPath).toString)
        }
      }
      // temp manifests/refs from crashed commits and tag/branch writes
      def cleanTmp(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) cleanTmp(st.getPath)
        else if (st.getPath.getName.startsWith(".tmp-") &&
            st.getModificationTime < debrisCutoffMs)
          fs.delete(st.getPath, false)
      }
      cleanTmp(md)
      var deleted = 0
      def sweep(dir: Path): Boolean = { // returns true if dir is now empty
        var empty = true
        fs.listStatus(dir).foreach { st =>
          val rel = st.getPath.toString.stripPrefix(root.toString + "/")
          if (st.isDirectory) {
            if (rel == MetaDirName) empty = false
            else if (sweep(st.getPath)) fs.delete(st.getPath, true)
            else empty = false
          } else if (!live.contains(rel)) {
            if (wasReferenced(rel) || st.getModificationTime < debrisCutoffMs) {
              fs.delete(st.getPath, false); deleted += 1
            } else empty = false
          } else empty = false
        }
        empty
      }
      sweep(root)
      deleted
    }
}
