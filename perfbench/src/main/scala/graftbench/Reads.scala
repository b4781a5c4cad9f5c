package graftbench

import scala.jdk.CollectionConverters._

/** Reads over `/query/sql` against a table whose expected current state is
  * the generator's model, so every answer is checked without the engine. */
object Reads {

  /** One read: the SQL and its expected answer rows. Kinds: `point` (one
    * key), `range` (count and sum over a key range), `count` (whole-table
    * count), `day` (one day partition, which manifest pruning should
    * narrow to one file), `top` (top 10 by value). */
  def read(kind: String, table: String, gen: Gen, rnd: java.util.Random,
           maxKey: Long, span: Int): (String, Seq[String]) = {
    val rows = gen.live.asScala
    kind match {
      case "point" =>
        val k = 1L + (rnd.nextDouble() * maxKey).toLong
        val row = Option(gen.live.get(k)).toSeq.map(r => Seq[Any](r.user, Gen.dec(r.cents)))
        (s"SELECT user_id, value FROM $table WHERE event_id = $k", Answer.ofCells(row))
      case "range" =>
        val a = 1L + (rnd.nextDouble() * math.max(1L, maxKey - span)).toLong
        val hits = (a to a + span).flatMap(k => Option(gen.live.get(k)))
        val sum = if (hits.isEmpty) null else Gen.dec(hits.map(_.cents).sum)
        (s"SELECT count(*), round(sum(value), 2) FROM $table " +
          s"WHERE event_id BETWEEN $a AND ${a + span}",
          Answer.ofCells(Seq(Seq[Any](hits.size.toLong, sum))))
      case "count" =>
        (s"SELECT count(*) FROM $table", Answer.ofCells(Seq(Seq[Any](rows.size.toLong))))
      case "day" =>
        val days = rows.values.map(_.day).toSeq.distinct.sorted
        val d = days(rnd.nextInt(days.size))
        val hits = rows.values.filter(_.day == d)
        (s"SELECT count(*), round(sum(value), 2) FROM $table WHERE _cdc_date = '$d'",
          Answer.ofCells(Seq(Seq[Any](hits.size.toLong, Gen.dec(hits.map(_.cents).sum)))))
      case "top" =>
        val top = rows.toSeq.sortBy { case (k, r) => (-r.cents, k) }.take(10)
        (s"SELECT event_id, value FROM $table ORDER BY value DESC, event_id LIMIT 10",
          Answer.ofCells(top.map { case (k, r) => Seq[Any](k, Gen.dec(r.cents)) }))
    }
  }

  def maxKey(gen: Gen): Long = gen.live.keySet.asScala.foldLeft(1L)(math.max)

  /** `reads` measured reads (after `read_warmup` unmeasured ones) cycling
    * through the configured kinds; returns the measured latencies in
    * seconds. */
  def drained(c: Ctx, api: Api, gen: Gen, table: String,
              qtrace: Option[QueryTrace]): Seq[Double] = {
    val rnd = new java.util.Random(c.seed * 31 + 5)
    val top = maxKey(gen)
    val kinds = c.params \ "read_kinds" match {
      case org.json4s.JArray(ks) => ks.collect { case org.json4s.JString(k) => k }
      case _ => Seq("point", "range")
    }
    val warm = c.int("read_warmup")
    (0 until warm + c.int("reads")).flatMap { i =>
      val (sql, want) = read(kinds(i % kinds.size), table, gen, rnd, top, c.int("range_keys"))
      val t0 = Spans.clock()
      val (ok, pages) = try {
        val (rows, p) = api.sql(sql)
        (Answer.ofJson(rows) == want, p)
      } catch { case e: Exception => c.log(s"read error: $e"); (false, 0) }
      val s = (Spans.clock() - t0) / 1000.0
      c.op(ok, s"read `$sql`")
      if (i >= warm) { qtrace.foreach(_.record(sql, t0, t0 + s * 1000.0, pages)); Some(s) }
      else None
    }
  }
}

/** Traced-run breakdown of SQL reads: each query is also run directly on
  * the session (parse + analysis, physical planning, execution timed
  * apart), and its jobs are tagged so their input and task counts can be
  * summed once the listener bus has delivered them. */
final class QueryTrace(c: Ctx) {
  private case class Q(tag: String, analyzeMs: Double, planMs: Double, execMs: Double,
                       overheadMs: Double, pages: Int, rows: Long)
  private val qs = new java.util.concurrent.ConcurrentLinkedQueue[Q]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  /** Run `sql` directly after its HTTP round trip `[httpStart, httpEnd]`. */
  def record(sql: String, httpStart: Double, httpEnd: Double, pages: Int): Unit = {
    val sc = c.spark.sparkContext
    val tag = s"q${ids.incrementAndGet()}"
    sc.setLocalProperty(JobListener.TagKey, tag)
    try {
      val t0 = Spans.clock()
      val df = c.spark.sql(sql)
      val t1 = Spans.clock()
      df.queryExecution.executedPlan
      val t2 = Spans.clock()
      val n = df.collect().length.toLong
      val t3 = Spans.clock()
      Spans.add("api.query", httpStart, httpEnd, group = tag)
      val direct = Spans.add("lake.direct", t0, t3, group = tag)
      Spans.add("lake.analyze", t0, t1, direct, tag)
      Spans.add("lake.plan", t1, t2, direct, tag)
      Spans.add("lake.exec", t2, t3, direct, tag)
      qs.add(Q(tag, t1 - t0, t2 - t1, t3 - t2, (httpEnd - httpStart) - (t3 - t0), pages, n))
    } finally sc.setLocalProperty(JobListener.TagKey, null)
  }

  def emit(): Unit = {
    Thread.sleep(500) // let the listener bus deliver the last job ends
    val all = qs.asScala.toSeq
    val byTag = c.jobs.toSeq.flatMap(_.jobs).groupBy(_.tag)
    def jobsOf(q: Q) = byTag.getOrElse(q.tag, Nil)
    c.set("lake.analyze_ms", Stats.median(all.map(_.analyzeMs)))
    c.set("lake.plan_ms", Stats.median(all.map(_.planMs)))
    c.set("lake.exec_ms", Stats.median(all.map(_.execMs)))
    c.set("api.overhead_ms", Stats.median(all.map(_.overheadMs)))
    c.set("api.pages_per_query", all.map(_.pages.toDouble).sum / math.max(1, all.size))
    c.set("lake.bytes_read_per_query",
      all.map(q => jobsOf(q).map(_.bytesRead).sum.toDouble).sum / math.max(1, all.size))
    c.set("lake.rows_read_per_row_returned",
      all.map(q => jobsOf(q).map(_.recordsRead).sum).sum.toDouble /
        math.max(1L, all.map(_.rows).sum))
    c.set("lake.tasks_per_query",
      all.map(q => jobsOf(q).map(_.tasks).sum.toDouble).sum / math.max(1, all.size))
  }
}
