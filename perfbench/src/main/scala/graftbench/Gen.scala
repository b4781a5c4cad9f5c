package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** Shape of one seeded change stream (see `perfbench/workloads.json`). */
final case class GenParams(
    tables: Seq[String],
    insertShare: Double,
    updateShare: Double,
    recentWindow: Int,
    users: Int,
    msPerEvent: Long,
    t0Ms: Long,
    truncateAt: Option[Long] = None)

/** The expected current version of one key. */
final case class LiveRow(user: Long, cents: Long, tsMs: Long) {
  def day: String = java.time.Instant.ofEpochMilli(tsMs).toString.take(10)
}

/** One generated change: `op` is the Debezium op letter (c, u, d, t). */
final case class Ev(lsn: Long, tsMs: Long, op: Char, table: String,
                    key: Long, user: Long, cents: Long)

/** Seeded Debezium change stream over `CdcQueries.SourcePayloadSchema`
  * rows `(user_id, event_id, value)`, keyed by `event_id`.
  *
  * Time advances with LSN (`msPerEvent` per event). Keys are clustered in
  * time: an update or delete picks a key among the `recentWindow` most
  * recently inserted ones, so a batch touches the newest days. A key is
  * routed to `tables(key % tables.size)` for its whole life. The generator
  * keeps the expected current state of every table, honouring TRUNCATE,
  * so readers can check answers without asking the engine. */
final class Gen(seed: Long, p: GenParams, lsn0: Long = 1L) {
  private val rnd = new java.util.Random(seed)
  private var nextLsn = lsn0
  private var nextKey = 1L
  private val recent = new Array[Long](p.recentWindow)
  private var recentN = 0L
  /** key -> current version of every live row. */
  val live = new java.util.HashMap[Long, LiveRow]()

  def tableOf(key: Long): String = p.tables((key % p.tables.size).toInt)

  private def pickRecent(): Long = {
    var tries = 0
    while (tries < 4 && recentN > 0) {
      val span = math.min(recentN, p.recentWindow.toLong)
      val k = recent(((recentN - 1 - rnd.nextInt(span.toInt)) % p.recentWindow).toInt)
      if (live.containsKey(k)) return k
      tries += 1
    }
    -1L
  }

  def next(): Ev = {
    val lsn = nextLsn
    val ts = p.t0Ms + (lsn - lsn0) * p.msPerEvent
    nextLsn += 1
    if (p.truncateAt.contains(lsn - lsn0)) {
      live.clear()
      return Ev(lsn, ts, 't', p.tables.head, -1L, 0L, 0L)
    }
    val r = rnd.nextDouble()
    val target = if (r < p.insertShare) -1L else pickRecent()
    if (target < 0) {
      val k = nextKey
      nextKey += 1
      recent((recentN % p.recentWindow).toInt) = k
      recentN += 1
      val e = Ev(lsn, ts, 'c', tableOf(k), k, rnd.nextInt(p.users).toLong,
        rnd.nextInt(1000000).toLong)
      live.put(k, LiveRow(e.user, e.cents, ts))
      e
    } else if (r < p.insertShare + p.updateShare) {
      val user = live.get(target).user
      val e = Ev(lsn, ts, 'u', tableOf(target), target, user, rnd.nextInt(1000000).toLong)
      live.put(target, LiveRow(user, e.cents, ts))
      e
    } else {
      val old = live.remove(target)
      Ev(lsn, ts, 'd', tableOf(target), target, old.user, old.cents)
    }
  }
}

object Gen {

  def value(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"
  def dec(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)

  /** One Debezium JSON line in the shape `EnvelopeDecoder.decode` reads. */
  def line(e: Ev, sb: java.lang.StringBuilder): Unit = {
    def image(): Unit = sb.append("{\"user_id\":").append(e.user)
      .append(",\"event_id\":").append(e.key)
      .append(",\"value\":").append(value(e.cents)).append('}')
    sb.append("{\"before\":")
    if (e.op == 'd') image() else sb.append("null")
    sb.append(",\"after\":")
    if (e.op == 'c' || e.op == 'u') image() else sb.append("null")
    sb.append(",\"op\":\"").append(e.op).append("\",\"ts_ms\":").append(e.tsMs)
      .append(",\"source\":{\"schema\":\"public\",\"table\":\"").append(e.table)
      .append("\",\"lsn\":").append(e.lsn).append(",\"txId\":").append(e.lsn)
      .append("}}\n")
  }

  /** Publish a segment atomically: write a `.`-prefixed temp file, then
    * rename it. `CdcLog.logFiles` skips dot-files, so the source never
    * sees a torn segment. */
  def publish(dir: Path, name: String, events: Iterable[Ev]): Unit = {
    val sb = new java.lang.StringBuilder(events.size * 160)
    events.foreach(line(_, sb))
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write `n` events of `g` as `segments` atomically published files. */
  def writeLog(dir: Path, g: Gen, n: Long, segments: Int): Vector[Ev] = {
    Files.createDirectories(dir)
    val all = Vector.fill(n.toInt)(g.next())
    val per = math.max(1, (all.size + segments - 1) / segments)
    all.grouped(per).zipWithIndex.foreach { case (seg, i) =>
      publish(dir, f"seg-$i%06d.jsonl", seg)
    }
    all
  }
}
