package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** The streaming MERGE sink: per-batch upserts into the stored table
  * over LSN-ordered micro-batches must land exactly the batch
  * current-state — the incremental ≡ recompute equivalence through the
  * real streaming machinery (the DuckDB oracle hash-checks the same
  * thing; this is the fast in-process pin). */
class StreamMergeSpec extends SparkTestBase {

  test("streaming MERGE materializes exactly the batch current state") {
    val merged = SparkEntry.queries("cdc_stream_merge")(spark, sf0001).collect()
    val recomputed = SparkEntry.queries("cdc_current_state")(spark, sf0001).collect()
    assert(merged.length === recomputed.length)
    assert(merged.toSeq === recomputed.toSeq)
  }

  test("the full WAL→decode→merge chain materializes the batch current state") {
    // S1→S8 + upsert sink in one assertion: the DSv2 log source's
    // LSN-interval batches drive per-batch merges whose final table must
    // equal the plain batch recompute — including the double `value`
    // column surviving the JSON encode/decode round-trip bit-exactly
    val merged = SparkEntry.queries("cdc_e2e_state")(spark, sf0001).collect()
    val recomputed = SparkEntry.queries("cdc_current_state")(spark, sf0001).collect()
    assert(merged.length === recomputed.length)
    assert(merged.toSeq === recomputed.toSeq)
  }

  test("the ordered source files carry strictly increasing mtimes and LSN ranges") {
    // the admission-order contract the merge correctness rests on:
    // file k older (mtime) AND strictly smaller LSNs than file k+1
    import org.apache.spark.sql.functions._
    import spark.implicits._
    SparkEntry.queries("cdc_stream_merge")(spark, sf0001).collect() // materialize src
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_src_ordmerge_" +
      s"${spark.sparkContext.applicationId}_root_testdata_sf0_001"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    assert(parts.length === 4)
    assert(parts.map(_.getModificationTime).toSeq ===
      parts.map(_.getModificationTime).toSeq.sorted)
    assert(parts.map(_.getModificationTime).distinct.length === parts.length)
    val ranges = parts.map { f =>
      val d = spark.read.parquet(f.getPath.toString)
        .agg(min(col("_cdc_lsn")), max(col("_cdc_lsn"))).as[(String, String)].head()
      d
    }
    ranges.sliding(2).foreach {
      case Array((_, hiPrev), (loNext, _)) => assert(hiPrev < loNext)
      case _ => ()
    }
  }
}
