package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.{Cdc, CdcWriter, EnvelopeDecoder}
import graft.lake.SnapshotLog
import graft.sources.CdcLog

/** `lake_query`: one closed-loop client sends the sample-query mix (SURVEY
  * §2.4 Q1–Q19) plus point and range lookups over `/query/sql`, with
  * paging, against a static lake the engine's own writers built. */
object LakeQuery {

  private final case class Q(name: String, sql: String, pageSize: Int,
                             check: Seq[String] => Boolean, lookup: Boolean = false)

  private final case class Lake(wh: Path, gen: Gen, events: Vector[Ev], env: DataFrame,
                                customers: DataFrame, firstSnapshot: Long,
                                firstCut: Long, tables: Seq[String])

  private val Regions = Vector("central", "east", "north", "south", "west")
  private val CustomerSchema = new StructType()
    .add("user_id", "long").add("region", "string").add("tier", "long")

  private def customerLines(c: Ctx, users: Int, lsn0: Long): Seq[String] = {
    val rnd = new java.util.Random(c.seed * 13 + 1)
    val inserts = (0 until users).map(u => (u.toLong, 'c', rnd.nextInt(Regions.size), rnd.nextInt(3)))
    val moves = (0 until users / 5).map { _ =>
      (rnd.nextInt(users).toLong, 'u', rnd.nextInt(Regions.size), rnd.nextInt(3))
    }
    (inserts ++ moves).zipWithIndex.map { case ((u, op, r, tier), i) =>
      val lsn = lsn0 + i
      s"""{"before":null,"after":{"user_id":$u,"region":"${Regions(r)}","tier":$tier},""" +
        s""""op":"$op","ts_ms":${1767225600000L + i},"source":{"schema":"public",""" +
        s""""table":"customers","lsn":$lsn,"txId":$lsn}}"""
    }
  }

  /** Build the lake with the engine's writers: a COW-merged current-state
    * table, an append-history table of many small files, a merge-on-read
    * table carrying live deletes, and a merged customers table. */
  private def build(c: Ctx, wh: Path, rep: Int): Lake = {
    val spark = c.spark
    import spark.implicits._
    val n = c.int("events").toLong
    val days = c.int("days")
    val g = new Gen(c.seed, GenParams(Seq("orders"), c.num("insert_share"),
      c.num("update_share"), c.int("recent_window"), c.int("users"),
      msPerEvent = days * 86400000L / n, t0Ms = 1767225600000L))
    val log = c.work.resolve(s"lake-log-$rep")
    val events = Gen.writeLog(log, g, n, 1)
    val env = Ingest.batch(c, log).persist()
    def chunks(k: Int): Seq[(Long, DataFrame)] = (1 to k).map { i =>
      val lo = events((((i - 1) * n) / k).toInt).lsn - 1
      val hi = events(((i * n) / k - 1).toInt).lsn
      hi -> env.filter(col(Cdc.LsnColumn) > CdcLog.lsnString(lo) &&
        col(Cdc.LsnColumn) <= CdcLog.lsnString(hi))
    }
    val shop = wh.resolve("shop")
    val cur = shop.resolve("orders_current").toString
    var firstSnapshot = -1L
    val merges = chunks(c.int("merge_batches"))
    merges.foreach { case (_, df) =>
      CdcWriter.merge(spark, cur, df, Seq("event_id"))
      if (firstSnapshot < 0) firstSnapshot = SnapshotLog.currentSnapshot(spark, cur).get.id
    }
    chunks(c.int("append_batches")).foreach { case (_, df) =>
      CdcWriter.appendCommit(spark, shop.resolve("orders_history").toString, df)
    }
    chunks(c.int("mor_batches")).foreach { case (_, df) =>
      CdcWriter.morMerge(spark, shop.resolve("orders_mor").toString, df, Seq("event_id"))
    }
    val custEnv = EnvelopeDecoder.flattened(EnvelopeDecoder.decode(
      customerLines(c, c.int("users"), n + 1000).toDF("value"), "value", CustomerSchema))
    CdcWriter.merge(spark, shop.resolve("customers").toString, custEnv, Seq("user_id"))
    Lake(wh, g, events, env, custEnv, firstSnapshot, merges.head._1,
      Seq("customers", "orders_current", "orders_history", "orders_mor"))
  }

  /** The query mix, each with an answer recomputed from the decoded log
    * with plain DataFrame operators (never through the catalog). */
  private def queries(c: Ctx, l: Lake): Seq[Q] = {
    val env = l.env
    val cur = Cdc.currentState(env, Seq("event_id"))
    val hist = CdcWriter.withPartitionColumn(env)
    val cust = Cdc.currentState(l.customers, Seq("user_id"))
    val first = Cdc.currentState(
      env.filter(col(Cdc.LsnColumn) <= CdcLog.lsnString(l.firstCut)), Seq("event_id"))
    val T = "graft.shop"
    def eq(df: DataFrame): Seq[String] => Boolean = {
      val want = Answer.ofRows(df.collect().toSeq)
      got => got == want
    }
    def eqRows(rows: Seq[Seq[Any]]): Seq[String] => Boolean = {
      val want = Answer.ofCells(rows)
      got => got == want
    }
    def cells(got: Seq[String]) = got.map(_.split('|').toSeq)
    val r2 = (x: org.apache.spark.sql.Column) => round(x, 2)
    val weekAgo = new java.sql.Timestamp(l.events.last.tsMs - 7L * 86400000L).toInstant
      .toString.replace("T", " ").stripSuffix("Z")
    val days = l.events.map(e => java.time.Instant.ofEpochMilli(e.tsMs).toString.take(10)).distinct
    val day = days(days.size / 2)
    val rnd = new java.util.Random(c.seed * 7 + 11)
    val user = l.events(rnd.nextInt(l.events.size)).user
    val key = l.events.filter(_.op == 'u').map(_.key)
      .apply(rnd.nextInt(math.max(1, l.events.count(_.op == 'u'))))
    val curDir = l.wh.resolve("shop").resolve("orders_current").toString
    val nSnaps = SnapshotLog.snapshots(c.spark, curDir).size.toLong
    val nFiles = SnapshotLog.currentSnapshot(c.spark, curDir).get.files.size.toLong
    Seq(
      Q("q01_show_tables", s"SHOW TABLES IN $T", 100,
        got => cells(got).map(_(1)).sorted == l.tables),
      Q("q01_describe", s"DESCRIBE $T.orders_current", 100, got => {
        val names = cells(got).map(_.head).toSet
        Seq("event_id", "user_id", "value", Cdc.LsnColumn).forall(names)
      }),
      Q("q02_projection_limit",
        s"SELECT event_id, user_id, value FROM $T.orders_current ORDER BY event_id LIMIT 100",
        25, eq(cur.select("event_id", "user_id", "value").orderBy("event_id").limit(100))),
      Q("q03_count", s"SELECT count(*) FROM $T.orders_current", 100,
        eqRows(Seq(Seq(cur.count())))),
      Q("q04_date_filter",
        s"SELECT count(*) FROM $T.orders_history " +
          s"WHERE ${Cdc.TsColumn} > TIMESTAMP '$weekAgo'", 100,
        eqRows(Seq(Seq(hist.filter(col(Cdc.TsColumn) > to_timestamp(lit(weekAgo))).count())))),
      Q("q05_time_travel",
        s"SELECT count(*), round(sum(value), 2) FROM $T.orders_current " +
          s"VERSION AS OF ${l.firstSnapshot}", 100,
        eq(first.agg(count(lit(1)), r2(sum("value"))))),
      Q("q06_snapshots", s"SELECT count(*) FROM $T.orders_current.snapshots", 100,
        eqRows(Seq(Seq(nSnaps)))),
      Q("q06_files", s"SELECT count(*) FROM $T.orders_current.files", 100,
        eqRows(Seq(Seq(nFiles)))),
      Q("q07_day_groups",
        s"SELECT CAST(date_trunc('DAY', ${Cdc.TsColumn}) AS STRING) d, count(*) n " +
          s"FROM $T.orders_history GROUP BY 1 ORDER BY 1 DESC", 100,
        eq(hist.groupBy(date_trunc("DAY", col(Cdc.TsColumn)).cast("string"))
          .agg(count(lit(1))))),
      Q("q08_top_n",
        s"SELECT event_id, value FROM $T.orders_current ORDER BY value DESC, event_id LIMIT 10",
        100, eq(cur.select("event_id", "value")
          .orderBy(col("value").desc, col("event_id")).limit(10))),
      Q("q09_running_total",
        s"SELECT event_id, ${Cdc.LsnColumn}, round(sum(value) OVER (ORDER BY ${Cdc.LsnColumn} " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) " +
          s"FROM $T.orders_history WHERE user_id = $user", 100,
        eq(hist.filter(col("user_id") === user).select(col("event_id"), col(Cdc.LsnColumn),
          r2(sum("value").over(Window.orderBy(Cdc.LsnColumn)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))))),
      Q("q10_latest_per_key",
        s"SELECT count(*), round(sum(value), 2) FROM (SELECT value, ${Cdc.OpColumn}, " +
          s"row_number() OVER (PARTITION BY event_id ORDER BY ${Cdc.TsColumn} DESC, " +
          s"${Cdc.LsnColumn} DESC) rn FROM $T.orders_history) " +
          s"WHERE rn = 1 AND ${Cdc.OpColumn} <> 'DELETE'", 100,
        eq(cur.agg(count(lit(1)), r2(sum("value"))))),
      Q("q11_key_history",
        s"SELECT ${Cdc.OpColumn}, ${Cdc.LsnColumn}, value FROM $T.orders_history " +
          s"WHERE event_id = $key ORDER BY ${Cdc.LsnColumn}", 100,
        eq(hist.filter(col("event_id") === key)
          .select(Cdc.OpColumn, Cdc.LsnColumn, "value"))),
      Q("q12_op_counts",
        s"SELECT ${Cdc.OpColumn}, count(*) FROM $T.orders_history GROUP BY 1 ORDER BY 1", 100,
        eq(hist.groupBy(Cdc.OpColumn).agg(count(lit(1))))),
      Q("q13_join",
        s"SELECT c.region, count(*), round(sum(o.value), 2) FROM $T.orders_current o " +
          s"JOIN $T.customers c ON o.user_id = c.user_id GROUP BY c.region ORDER BY c.region",
        100, eq(cur.join(cust.select("user_id", "region"), "user_id")
          .groupBy("region").agg(count(lit(1)), r2(sum("value"))))),
      Q("q14_duplicates",
        s"SELECT event_id, count(*) n FROM $T.orders_history GROUP BY event_id " +
          s"HAVING count(*) > 1 ORDER BY n DESC, event_id LIMIT 200", 50,
        eq(hist.groupBy("event_id").agg(count(lit(1)).as("n")).filter(col("n") > 1)
          .orderBy(col("n").desc, col("event_id")).limit(200))),
      Q("q15_null_profile",
        s"SELECT count(*), count(user_id), count(value) FROM $T.orders_mor", 100,
        eq(cur.agg(count(lit(1)), count(col("user_id")), count(col("value"))))),
      Q("q16_freshness",
        s"SELECT CAST(max(${Cdc.TsColumn}) AS STRING), count(*) FROM $T.orders_current", 100,
        eq(cur.agg(max(col(Cdc.TsColumn)).cast("string"), count(lit(1))))),
      Q("q17_explain",
        s"EXPLAIN SELECT count(*) FROM $T.orders_current WHERE _cdc_date = '$day'", 100,
        got => got.size == 1 && got.head.contains("Physical Plan")),
      Q("q18_partition_prune",
        s"SELECT count(*), round(sum(value), 2) FROM $T.orders_current WHERE _cdc_date = '$day'",
        100, eq(CdcWriter.withPartitionColumn(cur).filter(col("_cdc_date") === day)
          .agg(count(lit(1)), r2(sum("value"))))),
      Q("q19_monitoring",
        s"SELECT _cdc_table, count(*), CAST(min(${Cdc.TsColumn}) AS STRING), " +
          s"CAST(max(${Cdc.TsColumn}) AS STRING) FROM $T.orders_history GROUP BY _cdc_table",
        100, eq(hist.groupBy("_cdc_table").agg(count(lit(1)),
          min(col(Cdc.TsColumn)).cast("string"), max(col(Cdc.TsColumn)).cast("string"))))
    )
  }

  def run(c: Ctx): Unit = {
    val reps = c.int("setup_reps")
    var handle: graft.Serve.Handle = null
    var lake: Lake = null
    val setups = (1 to reps).map { r =>
      if (handle != null) handle.close()
      if (lake != null) lake.env.unpersist()
      val t0 = Spans.clock()
      lake = build(c, c.work.resolve(s"wh-$r"), r)
      handle = c.serve(lake.wh)
      (Spans.clock() - t0) / 1000.0
    }
    c.set("setup_s", Stats.median(setups))
    c.log(s"set up: ${setups.mkString(" ")}")
    val api = new Api(handle.api.baseUri)
    try {
      val mix = queries(c, lake)
      c.log(s"${mix.size} queries with recomputed answers")
      val rnd = new java.util.Random(c.seed * 101 + 9)
      val top = Reads.maxKey(lake.gen)
      val span = c.int("range_keys")
      def lookups(): Seq[Q] = (0 until c.int("lookups_per_cycle")).map { i =>
        val point = i % 2 == 0
        val table = if (point) "graft.shop.orders_mor" else "graft.shop.orders_current"
        val (sql, want) =
          Reads.read(if (point) "point" else "range", table, lake.gen, rnd, top, span)
        Q(if (point) "lookup_point" else "lookup_range", sql, 100, _ == want, lookup = true)
      }
      val qtrace = if (c.trace) Some(new QueryTrace(c)) else None
      val lat = mutable.ArrayBuffer.empty[Double]
      val readLat = mutable.ArrayBuffer.empty[Double]
      def once(q: Q, measured: Boolean): Unit = {
        val t0 = Spans.clock()
        val (ok, pages) = try {
          val (rows, p) = api.sql(q.sql, q.pageSize)
          (q.check(Answer.ofJson(rows)), p)
        } catch { case e: Exception => c.log(s"${q.name} error: $e"); (false, 0) }
        val s = (Spans.clock() - t0) / 1000.0
        c.op(ok, s"${q.name} `${q.sql}`")
        if (measured) {
          (if (q.lookup) readLat else lat) += s
          qtrace.foreach(_.record(q.sql, t0, t0 + s * 1000.0, pages))
        }
      }
      (mix ++ lookups()).foreach(once(_, measured = false)) // warm-up cycle
      c.log("warm-up cycle done")
      val cpu0 = Host.cpuSeconds(); val gc0 = Host.gcSeconds()
      val start = Spans.clock()
      val end = start + (if (c.quick) c.num("seconds") else c.seconds.toDouble) * 1000.0
      var n = 0
      while (Spans.clock() < end) {
        val cycle = new java.util.ArrayList[Q]()
        (mix ++ lookups()).foreach(cycle.add)
        java.util.Collections.shuffle(cycle, rnd)
        val it = cycle.iterator()
        while (it.hasNext && Spans.clock() < end) { once(it.next(), measured = true); n += 1 }
      }
      val wall = (Spans.clock() - start) / 1000.0
      c.set("host.gc_s", Host.gcSeconds() - gc0)
      c.set("host.cpu_busy_share", (Host.cpuSeconds() - cpu0) /
        (wall * Runtime.getRuntime.availableProcessors()))
      c.log(f"$n queries in $wall%.2f s (${lat.size} mix, ${readLat.size} lookups)")
      c.set("rate_per_s", n / wall)
      c.set("latency_p50_s", Stats.median(lat))
      c.set("latency_p90_s", Stats.q(lat, 0.9))
      c.set("read_p50_s", Stats.median(readLat))
      c.set("read_p90_s", Stats.q(readLat, 0.9))
      val snaps = lake.tables.map(t =>
        SnapshotLog.currentSnapshot(c.spark, lake.wh.resolve("shop").resolve(t).toString).get)
      val files = snaps.flatMap(_.files)
      c.set("bytes_per_row", files.map(_.sizeBytes).sum.toDouble / math.max(1L, files.map(_.rows).sum))
      if (c.trace) {
        c.set("lake.snapshot_files", files.size.toDouble)
        c.set("lake.resolve_ms", Stats.median((1 to 20).flatMap(_ => lake.tables.map { t =>
          val s = Spans.clock()
          SnapshotLog.currentSnapshot(c.spark, lake.wh.resolve("shop").resolve(t).toString)
          Spans.clock() - s
        })))
        qtrace.foreach(_.emit())
      }
    } finally handle.close()
  }
}
