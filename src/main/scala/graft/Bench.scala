package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: measures every registered query at
  * `SPARK_GRAFT_SF_DIR`, emits ONE stdout JSON line for the driver.
  *
  * Self-defense against a hostile clock: this VM shows 3-8x run-to-run
  * variance from hypervisor CPU steal (identical binaries measured 65 s
  * and 571 s twenty minutes apart; round 3 recorded 1833 s for a run
  * that replays at 79 s; a round-4 run had a 3.5-minute mid-run steal
  * window that inflated a contiguous alphabetical block q28..q40 by
  * 20-60x while calibration loops at BOTH ends of the run were clean).
  * End-of-run calibration alone therefore cannot catch a transient
  * window — the defense has to be per query:
  *
  *  1. a fixed single-thread calibration loop runs before and after the
  *     measured pass (~1.7 s clean; scales linearly with steal);
  *  2. every query's time is compared against its best historically
  *     observed time — committed per-SF baselines under `bench/` seed
  *     the fresh-checkout case, and `target/bench_history_<tag>.json`
  *     min-merges every local run on top;
  *  3. queries that exceed 3x their best (with absolute slack, so
  *     sub-second jitter never triggers) are re-measured — up to two
  *     extra rounds, keeping the per-query minimum ("best observed",
  *     the same rule hyperfine/criterion report) — steal windows are
  *     transient, so a re-measure rarely lands in a second one;
  *  4. with no baseline at all, a whole-pass re-run triggers on the
  *     calibration heuristics alone.
  */
object Bench {

  private def tag(sfDir: String) = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** Fixed single-thread arithmetic loop; ~1.7 s on this host unstolen. */
  private def calibrate(): Double = {
    val c0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 2000000000L) { acc += i ^ (acc >>> 3); i += 1 }
    val sec = (System.nanoTime() - c0) / 1e9
    if (acc == 42) System.err.println("") // defeat dead-code elimination
    sec
  }

  /** Fixed write + `force(true)` + read-back + delete loop over 8 files
    * of 2 MiB, the same loop as perfbench's `Host.ioCal`: the IO regime
    * control next to `cal_sec`. It goes through `java.nio`, not Hadoop,
    * so it measures the host's disk, not the engine's IO layer. */
  private def ioCalibrate(dir: java.nio.file.Path): Double = {
    import java.nio.file.{Files, StandardOpenOption => O}
    Files.createDirectories(dir)
    val buf = new Array[Byte](2 << 20)
    new java.util.Random(7).nextBytes(buf)
    val t0 = System.nanoTime()
    var check = 0L
    (0 until 8).foreach { i =>
      val f = dir.resolve(s"io-$i.bin")
      val ch = java.nio.channels.FileChannel.open(f, O.CREATE, O.WRITE, O.TRUNCATE_EXISTING)
      try { ch.write(java.nio.ByteBuffer.wrap(buf)); ch.force(true) } finally ch.close()
      check += Files.readAllBytes(f).length
      Files.delete(f)
    }
    if (check != 8L * buf.length) throw new IllegalStateException("io calibration short read")
    (System.nanoTime() - t0) / 1e9
  }

  /** Parse a flat {"name":sec,...} JSON map (the only shape we write). */
  private def parseTimes(path: java.nio.file.Path): Map[String, Double] =
    try {
      val s = java.nio.file.Files.readString(path)
      """"([^"]+)":([0-9][0-9.eE+-]*)""".r.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }

  private def writeTimes(path: java.nio.file.Path, times: Map[String, Double]): Unit =
    try {
      java.nio.file.Files.createDirectories(path.getParent)
      java.nio.file.Files.writeString(path,
        times.toSeq.sortBy(_._1)
          .map { case (k, v) => s""""$k":${BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)}""" }
          .mkString("{", ",", "}"))
    } catch { case _: Throwable => }

  /** Best known per-query seconds: committed per-SF baseline min-merged
    * with this machine's accumulated history (`_cal` tracks the loop). */
  private def baseline(sfDir: String): Map[String, Double] = {
    val committed = parseTimes(java.nio.file.Paths.get(s"bench/baseline_${tag(sfDir)}.json"))
    val local = parseTimes(java.nio.file.Paths.get(s"target/bench_history_${tag(sfDir)}.json"))
    (committed.keySet ++ local.keySet).map { k =>
      k -> math.min(committed.getOrElse(k, Double.MaxValue),
        local.getOrElse(k, Double.MaxValue))
    }.toMap
  }

  /** A time is suspect vs its best. Three triggers, because the heaviest
    * queries are precisely where a sub-3x inflation dominates the total
    * (a 5.9 s-best query reporting 16.9 s is 2.85x — under the classic
    * ratio — yet carries ~11 extra seconds):
    *  - the classic 3x AND >0.5 s absolute — the SAME absolute slack the
    *    weak verdict uses, so anything that could flag weak first earns a
    *    defensive re-measure (a 1.0 s gate here once let a 0.2 s-best
    *    query flag weak three passes running on ~0.9 s of neighborhood
    *    noise it was never re-measured out of);
    *  - 2x for heavy queries (best > 3 s);
    *  - any absolute excess above 5% of the suite's best total — weight-
    *    scaled, so whatever could move the headline number gets re-checked. */
  private def suspect(t: Double, best: Double, totalBest: Double): Boolean =
    (t > 3 * best && t - best > 0.5) ||
      (best > 3.0 && t > 2 * best) ||
      (t - best > math.max(1.0, 0.05 * totalBest))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // testdata tables are single ~50 MB parquet files; the 128 MB
      // default makes every scan one task. Smaller splits keep all
      // cores busy at these SFs (at 100 TB the default is fine).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // local-FS open cost: the 4 MB default models object-store opens
      // and caps packing at 2 files per 8 MB split — every freshly
      // written lake's read-back (60-150 KB-sized day files) then pays
      // ~file-count/2 scheduled tasks for KBs of data (measured: a 90-
      // file read-back = 90 tasks, 0.55 s). 128 KB reflects a local-FS
      // open and packs those scans to a handful of tasks; single-file
      // table scans are unaffected (at 100 TB on an object store the
      // default is right — this is split-packing, not a plan change).
      .config("spark.sql.files.openCostInBytes", (128L * 1024).toString)
      // filterless COUNT/MIN/MAX answered from parquet footer stats
      // (exact; Spark refuses the pushdown where NaN could lie)
      .config("spark.sql.parquet.aggregatePushDown", "true")
      .config("spark.sql.extensions", "graft.lake.GraftSqlExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: NON-measured work only (the sf0.001 flagship), so all
    // registered queries are measured under identical first-run
    // conditions — JVM/JIT/codegen-compiler start-up is absorbed here,
    // and no measured query gets a private head start.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // Structured Streaming machinery (micro-batch executor, state
    // store, file-source listing, foreachBatch sink) JIT-compiles on
    // its first run and costs multiple seconds nobody's query owns —
    // without this SHARED warmup the bill lands on whichever streaming
    // query happens to run first (and on every query in a focused
    // `runMain graft.Bench <name>` measure). One tiny non-measured
    // stateful AvailableNow pass absorbs it for everyone equally.
    try {
      import org.apache.spark.sql.functions._
      val wbase = s"/tmp/graft-bench-warm-${java.util.UUID.randomUUID()}"
      // exactly 2 source files → 2 micro-batches: enough to JIT both the
      // first-batch path AND the carried-state path. (An unrepartitioned
      // range(64) wrote one file per core — 32 micro-batches at ~0.9 s of
      // pure state-store machinery each, ~29 s of unmeasured wall per
      // bench invocation for no extra warmup coverage.)
      spark.range(64)
        .select(current_timestamp().as("ts"), col("id"))
        .repartition(2)
        .write.parquet(s"$wbase/src")
      val sch = spark.read.parquet(s"$wbase/src").schema
      spark.readStream.schema(sch).option("maxFilesPerTrigger", "1")
        .parquet(s"$wbase/src")
        .groupBy(window(col("ts"), "1 day")).count()
        .writeStream
        .option("checkpointLocation", s"$wbase/ckpt")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("overwrite").parquet(s"$wbase/out")
        }
        .start().awaitTermination()
      val wp = new org.apache.hadoop.fs.Path(wbase)
      wp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(wp, true)
    } catch { case e: Throwable => System.err.println(s"[bench] stream warmup: $e") }
    // Corpus warmup, same philosophy: the FIRST query to touch each
    // testdata file pays its cold IO (file listing, footer decode, the
    // OS page-cache fill) — a bill that belongs to the corpus, not to
    // whichever query sorts first alphabetically (observed: alert_eval,
    // the pass's first query, measuring ~3x its own best purely as the
    // first reader of events.parquet). One non-measured full scan of
    // each table levels every query to warm-file conditions.
    try Tables.names.foreach { n =>
      Tables.load(spark, sfDir, n).write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => System.err.println(s"[bench] corpus warmup: $e") }

    // noop sink: fully materializes every row (honest timing for the
    // ORDER-BY-heavy queries, whose sorts a bare count() would let the
    // optimizer elide) without paying for an output format.
    // Errored queries report their (tiny) failure time but must never
    // enter the history: a 0.01 s "best" from a crash would make every
    // healthy future run look steal-inflated.
    val errored = scala.collection.mutable.Set.empty[String]
    def measure(names: Seq[String]): Map[String, Double] =
      names.map { name =>
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          errored += name
          System.err.println(s"[bench] $name: $e")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap

    // Focused mode: `runMain graft.Bench <name>...` measures just those
    // queries (3 passes each, all reported) — for iterating on one
    // operator without a full suite run. No history/defense involved.
    // `--full-context` first runs EVERY registered query once,
    // unmeasured, so the named queries are then measured under the
    // exact cache/memory/fixture state a driver full pass puts them in
    // (weak-flag adjudication without driver archaeology): pass 1 is
    // the full-pass-equivalent number, passes 2-3 show the warm floor.
    if (args.nonEmpty) {
      val (flags, names) = args.partition(_.startsWith("--"))
      if (flags.contains("--full-context")) {
        System.err.println("[bench] building full-pass context (unmeasured)...")
        measure(SparkEntry.queries.keys.toSeq.sorted.filterNot(names.contains))
      }
      names.foreach { name =>
        val ts = (1 to 3).map { _ => measure(Seq(name))(name) }
        println(s"""{"query":"$name","passes":[${ts.map(t => f"$t%.3f").mkString(",")}]}""")
      }
      spark.stop()
      return
    }

    val base = baseline(sfDir)
    val totalBest = (base - "_cal").values.sum
    val allNames = SparkEntry.queries.keys.toSeq.sorted
    val ioCalDir = java.nio.file.Paths.get("target", "io_cal")
    val preCal = calibrate()
    val preIoCal = ioCalibrate(ioCalDir)
    var times = measure(allNames)
    // As-measured total of the single first pass, before any defensive
    // re-measures: consumers see both the defended composite and the
    // raw number one real pass produced.
    val firstPassTotal = times.values.sum
    val postCal = calibrate()
    // the IO control is reported like `cal_sec`: the better of two
    // bracketing runs, so a transient stall at one end does not set it
    val ioCal = math.min(preIoCal, ioCalibrate(ioCalDir))
    var cal = math.min(preCal, postCal)
    var reruns = 0

    if (base.nonEmpty) {
      // Per-query defense: re-measure whatever exceeds its known best.
      var round = 0
      while (round < 2 &&
        allNames.exists(n => base.get(n).exists(b => suspect(times(n), b, totalBest)))) {
        val bad = allNames.filter(n => base.get(n).exists(b => suspect(times(n), b, totalBest)))
        System.err.println(s"[bench] ${bad.size} inflated queries " +
          s"(steal window?) — re-measuring: ${bad.take(8).mkString(",")}...")
        // Re-measures must be comparable to a first pass: the dedup/
        // similarity queries share persisted caches, and a re-measure
        // against a warm cache records an un-reproducible "best" that
        // flags every future cold run as inflated (a ratchet). Drop the
        // caches so the flagged queries pay the same fills a fresh pass
        // would.
        EngineCaches.invalidateAll()
        val again = measure(bad)
        times = times.map { case (k, v) => k -> math.min(v, again.getOrElse(k, v)) }
        cal = math.min(cal, calibrate())
        reruns += 1
        round += 1
      }
    } else {
      // Blind case (unknown SF dir): calibration heuristics only — a pass
      // whose own calibrations disagree wildly, or sit far above the
      // clean-hardware envelope (~1.7 s on any recent core), is suspect.
      if (math.max(preCal, postCal) > 2.5 * cal || cal > 5.0) {
        System.err.println(
          s"[bench] inflated pass suspected (preCal=$preCal postCal=$postCal) — re-measuring all")
        EngineCaches.invalidateAll() // cold-comparable re-pass (see above)
        val again = measure(allNames)
        times = times.map { case (k, v) => k -> math.min(v, again.getOrElse(k, v)) }
        cal = math.min(cal, calibrate())
        reruns += 1
      }
    }

    val total = times.values.sum
    val results = times.toSeq.sortBy(_._1)
    // Min-merge this run into the local history for the next run. An
    // errored query contributes nothing but keeps its prior best.
    val hist = (base.keySet ++ times.keySet + "_cal").flatMap { k =>
      val v =
        if (k == "_cal") Some(math.min(base.getOrElse(k, Double.MaxValue), cal))
        else if (errored(k)) base.get(k)
        else Some(math.min(base.getOrElse(k, Double.MaxValue),
          times.getOrElse(k, Double.MaxValue)))
      v.map(k -> _)
    }.toMap
    writeTimes(java.nio.file.Paths.get(s"target/bench_history_${tag(sfDir)}.json"), hist)

    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    def jmap(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Full per-query map for local inspection (stderr + file) … with an
    // `_sf_<tag>` sentinel so tools/rebase_baselines.py can refuse a
    // cross-SF merge (min-merging a smaller SF's pass into a bigger
    // SF's baseline corrupts every scale-dependent best). ERRORED
    // queries are excluded like the history excludes them — their tiny
    // failure durations must never min-merge into a committed best and
    // poison every future healthy run as "inflated".
    System.err.println(s"[bench] full: ${jmap(results)}")
    writeTimes(java.nio.file.Paths.get("target/bench_full.json"),
      times.filter { case (k, _) => !errored(k) } +
        (s"_sf_${tag(sfDir)}" -> 0.0))
    // Calibration-relative defense REPORTING: CPU steal inflates every
    // measured second by roughly cal / committed-cal (the fixed
    // arithmetic loop scales linearly with steal), so a per-query "weak"
    // verdict computed from RAW ratios manufactures regressions on a
    // stolen machine and can drown a real one on a clean machine whose
    // committed bests were themselves recorded under steal. The line
    // carries both: the raw ratio vs the committed bests, the
    // steal-corrected ratio (raw / steal), and the weak set — queries
    // STILL >2x their best after correction and defensive re-measures,
    // with absolute slack so sub-second jitter never flags.
    val committedCal = base.getOrElse("_cal", cal)
    val steal = math.max(1.0, if (committedCal > 0) cal / committedCal else 1.0)
    val ratioRaw = if (totalBest > 0) total / totalBest else 0.0
    val ratioCorrected = ratioRaw / steal
    // the arithmetic calibration sees CPU steal but not the run's
    // per-query FIXED overhead (scheduler/IO/page-cache state adds a
    // near-constant few hundred ms to every query on a bad day, which
    // multiplies sub-second queries into false 3-5x "regressions").
    // The MEDIAN steal-corrected excess over ~190 queries estimates
    // that floor robustly (a handful of true regressions cannot move
    // a median), and the weak test subtracts it.
    val excesses = allNames.flatMap(n =>
      base.get(n).filter(_ => !errored(n)).map(b => times(n) / steal - b))
      .sorted
    val floorSec = math.max(0.0,
      if (excesses.isEmpty) 0.0 else excesses(excesses.size / 2))
    val weak = allNames.filter { n =>
      !errored(n) && base.get(n).exists { b =>
        val corrected = times(n) / steal - floorSec
        corrected > 2 * b && corrected - b > 0.5
      }
    }
    val weakJson = weak.take(8).map("\"" + _ + "\"").mkString("[", ",", "]")
    // … but the stdout contract line must survive the driver's 2000-char
    // output-tail window (sbt appends a ~75-char "[success]" line after
    // us). r02's line carried all 68 queries, ran ~2.3 KB, and the tail
    // truncated its head — the driver parsed nothing. Report the slowest
    // 18 queries (the informative ones) and keep the line well under 2 KB.
    val slowest = results.sortBy(-_._2).take(18).sortBy(_._1)
    // `cpus`/`master` echo the HONORED core count (additions-only,
    // contract-safe): the driver's low-core scaling pass previously had
    // no way to distinguish "bench honored $SPARK_GRAFT_CPUS" from
    // "bench ignored it" and flagged suspect_cpus_ignored against a
    // harness that honors it (Bench builds local[$cpus] above).
    // `par_cal_sec` is the positive control: a fixed CPU-bound job of
    // 256 independent tasks, timed — its wall time scales ~1/cores, so
    // a scaling pass can verify the core count from timings alone even
    // when every real query is fixed-overhead-bound at bench SF.
    val parCal = {
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(1 to 256, 256).map { s =>
        var acc = s.toLong; var i = 0L
        while (i < 40000000L) { acc += i ^ (acc >>> 3); i += 1 }
        acc
      }.reduce(_ ^ _)
      (System.nanoTime() - t0) / 1e9
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"master":"local[$cpus]","par_cal_sec":${fmt(parCal)},"io_cal_sec":${fmt(ioCal)},"first_pass_total":${fmt(firstPassTotal)},"n_queries":${results.size},"cal_sec":${fmt(cal)},"cal_committed":${fmt(committedCal)},"steal":${fmt(steal)},"floor_sec":${fmt(floorSec)},"ratio_raw":${fmt(ratioRaw)},"ratio_corrected":${fmt(ratioCorrected)},"weak_n":${weak.size},"weak":$weakJson,"reruns":$reruns,"queries":${jmap(slowest)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
