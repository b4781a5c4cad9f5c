package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Entry point of one benchmark run:
  *
  * {{{
  * graftbench.Main --workload wal_drain --seed 1 --seconds 10 --trace 0 \
  *   --spec BENCHMARK.json --params perfbench/workloads.json --work <dir>
  * }}}
  *
  * Prints progress to stderr and, as the last line of stdout, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}` holding every
  * end-to-end metric of the spec (`--trace 0`) or every per-layer metric
  * (`--trace 1`). `--quick 1` shrinks every size for the harness's own
  * tests; `--inject-wrong 1` treats the first checked answer as wrong. */
object Main {

  /** The session settings `graft.Serve.main` applies; the benchmark
    * measures what a deployment runs. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .appName("graft-serve")
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = arg("workload")
    val trace = arg("trace") == "1"
    val spec = JsonMethods.parse(Files.readString(Paths.get(arg("spec"))))
    val allParams = JsonMethods.parse(Files.readString(Paths.get(arg("params"))))
    val params = allParams \ "workloads" \ workload
    if (params == JNothing) throw new IllegalArgumentException(s"unknown workload '$workload'")
    val work = Paths.get(arg("work")).toAbsolutePath
    deleteTree(work)
    Files.createDirectories(work)

    Host.watchHeap()
    Spans.enabled = trace
    val spark = session()
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val jobs = if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val c = new Ctx(spark, work, arg("seed").toLong, arg("seconds").toInt, trace,
      args.get("quick").contains("1"), args.get("inject-wrong").contains("1"),
      params, progress, jobs)

    val before = (Host.cal(), Host.parCal(spark), Host.ioCal(work.resolve("io")))
    c.log("session up, regime measured")
    try workload match {
      case "wal_drain"  => WalDrain.run(c)
      case "wal_live"   => WalLive.run(c)
      case "lake_query" => LakeQuery.run(c)
      case other        => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        // an operation that threw is a failed one, and the run is not correct
        c.log(s"workload aborted: $e")
        e.printStackTrace()
        c.op(ok = false, s"$workload aborted")
    }
    val after = (Host.cal(), Host.parCal(spark), Host.ioCal(work.resolve("io")))
    c.set("host.cal_s", (before._1 + after._1) / 2)
    c.set("host.par_cal_s", (before._2 + after._2) / 2)
    c.set("host.io_cal_s", (before._3 + after._3) / 2)
    c.log(f"regime: cal ${before._1}%.3f/${after._1}%.3f s, par_cal ${before._2}%.3f/" +
      f"${after._2}%.3f s, io_cal ${before._3}%.3f/${after._3}%.3f s")
    c.set("heap_peak_mb", Host.heapPeakMb())
    if (trace) {
      // the traced run's own end-to-end figures; minus an untraced run's
      // they give the tracing overhead
      c.metrics.get("latency_p50_s").foreach(c.set("trace.latency_p50_s", _))
      c.metrics.get("rate_per_s").foreach(c.set("trace.rate_per_s", _))
      val out = work.getParent.resolve("traces").resolve(s"$workload-seed${c.seed}.jsonl")
      Spans.write(out)
      c.log(s"spans written to $out")
    }
    spark.stop()
    c.log("session stopped")

    val section = if (trace) "per_layer" else "end_to_end"
    val declared = (spec \ section) match {
      case JArray(ms) => ms.map(m => ((m \ "name").extract[String](DefaultFormats, manifest[String]),
        (m \ "unit").extract[String](DefaultFormats, manifest[String])))
      case _ => Nil
    }
    c.metrics.filterNot { case (k, _) => declared.exists(_._1 == k) }.foreach { case (k, v) =>
      c.log(s"also measured $k = $v")
    }
    val missing = declared.filter { case (n, _) =>
      !trace && !c.metrics.get(n).exists(v => !v.isNaN)
    }
    if (missing.nonEmpty) {
      c.log(s"end-to-end metrics not measured: ${missing.map(_._1).mkString(", ")}")
      c.correct = false
    }
    val metrics = JObject(declared.map { case (n, unit) =>
      val v = c.metrics.getOrElse(n, 0.0) // a layer this workload does not exercise
      n -> JObject("value" -> (if (v.isNaN) JDouble(0.0) else JDouble(v)), "unit" -> JString(unit))
    })
    deleteTree(work)
    if (missing.nonEmpty) sys.exit(1)
    println(JsonMethods.compact(JObject(
      "correct" -> JBool(c.correct && c.failed == 0),
      "attempted" -> JInt(math.max(1L, c.attempted)),
      "failed" -> JInt(c.failed),
      "metrics" -> metrics)))
    System.out.flush()
    sys.exit(0)
  }
}
