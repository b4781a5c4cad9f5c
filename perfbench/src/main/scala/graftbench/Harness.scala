package graftbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Everything one workload run shares: the session, its scratch directory,
  * the parsed arguments, and the result being built. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val trace: Boolean, val quick: Boolean,
                val injectWrong: Boolean, val params: JValue,
                val progress: ProgressListener, val jobs: Option[JobListener]) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  var correct = true
  private var injected = false

  def set(name: String, v: Double): Unit = metrics(name) = v

  /** Integer parameter of this workload; quick mode reads `quick_<name>`
    * when the workload defines one. */
  def int(name: String): Int = num(name).toInt
  def num(name: String): Double = {
    val q = params \ s"quick_$name"
    val v = if (quick && q != JNothing) q else params \ name
    v match {
      case JInt(i)     => i.toDouble
      case JDouble(d)  => d
      case JDecimal(d) => d.toDouble
      case _ => throw new IllegalArgumentException(s"workload parameter '$name' is missing")
    }
  }

  /** Count one operation; `ok` false marks it failed. With
    * `--inject-wrong 1` the first checked answer is treated as wrong, which
    * is how the benchmark's own tests prove a wrong answer is caught. */
  def op(ok: Boolean, what: => String = ""): Unit = {
    attempted += 1
    val okk = if (injectWrong && !injected) { injected = true; false } else ok
    if (!okk) {
      failed += 1
      correct = false
      System.err.println(s"[perfbench] failed: $what")
    }
  }

  /** A whole-run correctness gate (not an operation). */
  def gate(name: String, ok: Boolean, detail: => String = ""): Unit = {
    System.err.println(s"[perfbench] gate $name: ${if (ok) "pass" else s"FAIL $detail"}")
    if (!ok) correct = false
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")

  /** The engine's service over `warehouse`, with its periodic alerting,
    * scaling and metrics-sampling loops off so they cannot fire at random
    * points of a run. */
  def serve(warehouse: Path): graft.Serve.Handle =
    graft.Serve.start(spark, warehouse.toString, alertIntervalMs = 0L,
      scalingIntervalMs = 0L, metricsSampleMs = 0L)
}

object Stats {
  /** Linear-interpolation quantile (NaN for no samples). */
  def q(xs: Iterable[Double], p: Double): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) Double.NaN
    else {
      val h = (a.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, a.length - 1)
      a(lo) + (h - lo) * (a(hi) - a(lo))
    }
  }
  def median(xs: Iterable[Double]): Double = q(xs, 0.5)

  /** Least-squares slope of `ys` over `xs`. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val den = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (den == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / den
    }
}

/** Order-insensitive answer comparison: every cell is rendered the same way
  * whether it came from the HTTP API's JSON or from a DataFrame `Row`. */
object Answer {
  private def num(b: BigDecimal): String =
    b.bigDecimal.stripTrailingZeros.toPlainString

  def cell(v: Any): String = v match {
    case null | JNull | JNothing => "null"
    case JInt(i)                 => num(BigDecimal(i))
    case JDouble(d)              => num(BigDecimal(d))
    case JDecimal(d)             => num(d)
    case JString(s)              => s
    case JBool(b)                => b.toString
    case i: Int                  => i.toString
    case l: Long                 => l.toString
    case s: Short                => s.toString
    case d: Double               => num(BigDecimal(d))
    case f: Float                => num(BigDecimal(f.toDouble))
    case d: java.math.BigDecimal => num(BigDecimal(d))
    case other                   => other.toString
  }

  def ofJson(rows: Seq[Seq[JValue]]): Seq[String] =
    rows.map(_.map(cell).mkString("|")).sorted
  def ofRows(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map(cell).mkString("|")).sorted
  def ofCells(rows: Seq[Seq[Any]]): Seq[String] =
    rows.map(_.map(cell).mkString("|")).sorted
}

/** Client of the service's `/query/sql` route, following `next_uri` pages. */
final class Api(base: String) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def send(req: HttpRequest): JValue = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode != 200)
      throw new RuntimeException(s"HTTP ${resp.statusCode}: ${resp.body.take(300)}")
    JsonMethods.parse(resp.body)
  }

  /** Rows of `sql` and the number of pages it took. */
  def sql(sql: String, pageSize: Int = 100): (Seq[Seq[JValue]], Int) = {
    val body = JsonMethods.compact(JObject("sql" -> JString(sql),
      "page_size" -> JInt(pageSize)))
    var page = send(HttpRequest.newBuilder(URI.create(s"$base/query/sql"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
    val rows = mutable.ArrayBuffer.empty[Seq[JValue]]
    var pages = 1
    var more = true
    while (more) {
      page \ "rows" match {
        case JArray(rs) => rs.foreach {
          case JArray(cells) => rows += cells
          case other         => rows += Seq(other)
        }
        case _ =>
      }
      page \ "next_uri" match {
        case JString(next) =>
          page = send(HttpRequest.newBuilder(URI.create(base + next)).GET().build())
          pages += 1
        case _ => more = false
      }
    }
    (rows.toSeq, pages)
  }
}

/** Regime controls and whole-process resource readings. */
object Host {

  /** Fixed single-thread arithmetic loop (the shape of `graft.Bench`'s
    * `cal_sec`, one tenth of its length). */
  def cal(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 200000000L) { acc += i ^ (acc >>> 3); i += 1 }
    if (acc == 42) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed CPU-bound job of 256 independent tasks. */
  def parCal(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to 256, 256).map { s =>
      var acc = s.toLong; var i = 0L
      while (i < 2000000L) { acc += i ^ (acc >>> 3); i += 1 }
      acc
    }.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed write + fsync + read-back loop: 8 files of 2 MiB. */
  def ioCal(dir: Path): Double = {
    Files.createDirectories(dir)
    val buf = new Array[Byte](2 << 20)
    new java.util.Random(7).nextBytes(buf)
    val t0 = System.nanoTime()
    var check = 0L
    (0 until 8).foreach { i =>
      val f = dir.resolve(s"io-$i.bin")
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true) } finally ch.close()
      check += Files.readAllBytes(f).length
      Files.delete(f)
    }
    if (check != 8L * buf.length) throw new IllegalStateException("io calibration short read")
    (System.nanoTime() - t0) / 1e9
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  @volatile private var peakAfterGc = 0L

  /** Track the largest heap occupancy left after any collection: the
    * peak of live (retained) heap, insensitive to when the collector
    * happens to run. */
  def watchHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            synchronized { if (used > peakAfterGc) peakAfterGc = used }
          }
        }, null, null)
      case _ =>
    }
  }

  def heapPeakMb(): Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peakAfterGc > 0L) peakAfterGc else now) / 1048576.0
  }
}
