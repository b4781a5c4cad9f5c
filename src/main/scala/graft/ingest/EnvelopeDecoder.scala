package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Decoder for Debezium-format CDC envelopes (the lingua franca of
  * Postgres logical replication streams; the reference's pgstream emits
  * an equivalent shape it converts in `convertEvent`,
  * ref internal/cdc/source/postgres/reader.go:172-242).
  *
  * Input: a DataFrame with one JSON string column holding
  * `{"before":{...}|null, "after":{...}|null, "op":"c|r|u|d|t",
  *   "ts_ms":..., "source":{"schema":..., "table":..., "lsn":..., "txId":...}}`.
  * Output: typed `before`/`after` structs (per-table payload schema from
  * [[graft.model.SchemaBuilder]]) plus the `_cdc_*` system columns —
  * a pure projection, fully codegen'd, no UDFs.
  *
  * Op mapping (ref reader.go action mapping I/U/D/T): c (create) and
  * r (snapshot read) → INSERT; u → UPDATE; d → DELETE; t → TRUNCATE.
  */
object EnvelopeDecoder {

  /** Zero-padded sortable LSN string — the total order Postgres provides
    * (ref internal/cdc/types.go LSN; string form keeps it portable). */
  def lsnString(lsn: Column): Column = lpad(lsn.cast("string"), 16, "0")

  def opFromDebezium(op: Column): Column =
    when(op.isin("c", "r"), "INSERT")
      .when(op === "u", "UPDATE")
      .when(op === "d", "DELETE")
      .when(op === "t", "TRUNCATE")
      .otherwise("UNKNOWN")

  /** Decode a JSON envelope column into the typed CDC envelope. */
  def decode(raw: DataFrame, jsonCol: String, payloadSchema: StructType): DataFrame = {
    val envelopeSchema = new StructType()
      .add("before", payloadSchema)
      .add("after", payloadSchema)
      .add("op", "string")
      .add("ts_ms", "long")
      .add("source", new StructType()
        .add("schema", "string").add("table", "string")
        .add("lsn", "long").add("txId", "long"))
    raw
      .withColumn("_env", from_json(col(jsonCol), envelopeSchema))
      .select(
        col("_env.before").as("before"),
        col("_env.after").as("after"),
        opFromDebezium(col("_env.op")).as(Cdc.OpColumn),
        timestamp_millis(col("_env.ts_ms")).as(Cdc.TsColumn),
        lsnString(col("_env.source.lsn")).as(Cdc.LsnColumn),
        col("_env.source.schema").as("_cdc_schema"),
        col("_env.source.table").as("_cdc_table"),
        col("_env.source.txId").as("_cdc_txid"))
  }

  /** Flatten the row image a reader would query: after for upserts,
    * before for deletes (TRUNCATE rows carry no image — ref
    * reader.go:237-238, represented as all-null payload). */
  def flattened(decoded: DataFrame): DataFrame = {
    val image = when(col(Cdc.OpColumn) === "DELETE", col("before"))
      .otherwise(col("after"))
    decoded.withColumn("_image", image)
      .select(col("_image.*"),
        col(Cdc.OpColumn), col(Cdc.TsColumn), col(Cdc.LsnColumn),
        col("_cdc_schema"), col("_cdc_table"), col("_cdc_txid"))
  }
}

/** Schema-evolving decoder for a live stream: the reference's
  * BuildFromEvents → MergeSchemas → ensureTable chain (ref internal/
  * iceberg/schema/schema.go:25-52,149-174, writer/writer.go:197-253)
  * applied per micro-batch. Each batch's payload schema is INFERRED from
  * its raw JSON (a distributed `spark.read.json` schema pass — After
  * wins, Before fills gaps), add-only-merged into the registered schema
  * ([[graft.model.SchemaBuilder.merge]]: existing fields keep position
  * and type, new fields append, version bumps), and the batch decodes
  * with the MERGED schema — so a column that appears mid-stream starts
  * landing in the lake from its first batch, while files written before
  * it read back as null under a mergeSchema scan.
  *
  * Scale note: TYPE inference is SAMPLE-BOUNDED. A WAL batch is
  * LSN-ordered and schema drift is MONOTONE — a column (or a widened
  * type) that appears at some LSN persists in every later event — so
  * the batch's max-LSN tail witnesses every column and type the batch
  * carries. Type inference therefore runs over just `sampleLines`
  * lines, flat however large the batch grows.
  *
  * Monotone PRESENCE, however, is not guaranteed by monotone drift:
  * JSON encoders that omit null-valued fields (Spark's own `to_json`
  * default, and hand-rolled producers) make field presence
  * value-dependent — a column live mid-batch whose tail rows happen to
  * be null would vanish from the sample, and its mid-batch values
  * would silently decode away. So the sample is VERIFIED against the
  * full batch's key-presence set: any field present anywhere in the
  * batch that the tail did not witness falls back to full-batch
  * inference for that batch — sound for both the field and its type,
  * and rare by the monotone-drift argument. Tail selection and the
  * presence set are computed in ONE fused pass ([[tailAndKeys]]): one
  * JSON parse per line reducing to O(sampleLines + fields) per
  * partition, no shuffle — where the unfused shape paid two full-batch
  * jobs (a TakeOrdered sort on an extracted field, then a
  * json_object_keys pass with a distinct shuffle), each re-reading the
  * micro-batch source. What remains contractual is value
  * REPRESENTATION: a widened column whose tail values happen to encode
  * narrow (a double column emitting `7`, not `7.0`) is indistinguishable
  * from an unwidened one in any sample; real wire formats (Debezium
  * with schemas) encode per the declared type, and the promotion path
  * heals the table when the wide form surfaces.
  *
  * The seed is the known payload schema (empty for a live pgoutput
  * pipeline: PgWire emits numbers and booleans as bare JSON and every
  * other value as a JSON string): the decoder infers every type from
  * the JSON it sees and absorbs drift by the add-only merge, so a
  * column once seen is never dropped. State is one StructType on the
  * driver — O(columns), never data. */
final class EvolvingDecoder(seed: StructType, sampleLines: Int = 1024) {
  @volatile private var registered: StructType = seed
  @volatile private var ver: Int = 1
  def payloadSchema: StructType = registered
  def version: Int = ver

  /** Decode one micro-batch, evolving the registered schema first. */
  def decode(raw: DataFrame, jsonCol: String): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val lines = raw.select(col(jsonCol).cast("string").as("line")).as[String]
    def payloadFields(env: StructType): Seq[org.apache.spark.sql.types.StructField] = {
      def payloadOf(name: String): Seq[org.apache.spark.sql.types.StructField] =
        env.find(_.name == name).map(_.dataType) match {
          case Some(s: StructType) => s.fields.toSeq
          case _                   => Seq.empty
        }
      val after = payloadOf("after")
      val haveAfter = after.map(_.name).toSet
      after ++ payloadOf("before").filterNot(f => haveAfter.contains(f.name))
    }
    val (tailLines, present) = tailAndKeys(lines, sampleLines)
    val sampled = StructType(payloadFields(
      spark.read.json(spark.createDataset(tailLines)).schema))
    // presence verification (see scaladoc): every key present ANYWHERE
    // in the batch must have been witnessed by the tail sample — a
    // null-omitting encoder can hide a live column from any sample
    val incoming =
      if ((present -- sampled.fieldNames).isEmpty) sampled
      else StructType(payloadFields(spark.read.json(lines).schema))
    val (added, _) = graft.model.SchemaBuilder.merge(registered, incoming, ver)
    // JSON-inference widening: a column that FIRST appeared with only
    // integral values infers long; a later batch carrying 10.5 would
    // decode to null under the frozen type (from_json PERMISSIVE) —
    // silent corruption. Promote along the lake's one lattice instead
    // (SchemaEvolution.promotes: the widening reads plus long→double,
    // which only ever arises here from inference, never from a declared
    // source type). Existing fields otherwise keep position and type,
    // per the add-only contract.
    val incomingTypes = incoming.fields.map(f => f.name -> f.dataType).toMap
    val merged = StructType(added.fields.map(f => incomingTypes.get(f.name) match {
      case Some(t) if graft.lake.SchemaEvolution.promotes(f.dataType, t) => f.copy(dataType = t)
      case _ => f
    }))
    if (merged != registered) ver += 1
    registered = merged
    EnvelopeDecoder.decode(raw, jsonCol, merged)
  }

  /** ONE pass over the batch computing both inference inputs: the `k`
    * max-LSN lines (the type sample) and the distinct payload key set
    * of the WHOLE batch (presence verification). One JSON parse per
    * line, reducing to O(k + fields) per partition — a bounded heap of
    * candidate tail lines plus a key-name set — with no shuffle; the
    * driver merges P partition results. Malformed lines rank below
    * every valid LSN (the nulls-last ordering of the sort this
    * replaces) and contribute no keys. */
  private def tailAndKeys(lines: org.apache.spark.sql.Dataset[String], k: Int)
  : (Seq[String], Set[String]) = {
    val spark = lines.sparkSession
    import spark.implicits._
    val parts = lines.mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      // min-heap over LSN: keeps the k largest-LSN lines of the partition
      val heap = new java.util.PriorityQueue[(Long, String)](
        math.max(1, k), Ordering.by[(Long, String), Long](_._1))
      val keys = scala.collection.mutable.HashSet.empty[String]
      it.foreach { line =>
        var lsn = Long.MinValue
        try {
          val n = mapper.readTree(line)
          def keysOf(name: String): Unit = {
            val o = n.get(name)
            if (o != null && o.isObject) {
              val names = o.fieldNames()
              while (names.hasNext) keys += names.next()
            }
          }
          keysOf("after"); keysOf("before")
          val src = n.get("source")
          val l = if (src == null) null else src.get("lsn")
          if (l != null) {
            if (l.isNumber) lsn = l.asLong()
            else if (l.isTextual)
              lsn = try l.asText().trim.toLong
              catch { case _: NumberFormatException => Long.MinValue }
          }
        } catch { case _: Exception => () }
        heap.add((lsn, line))
        if (heap.size > k) heap.poll()
      }
      import scala.jdk.CollectionConverters._
      val entries = heap.asScala.toArray
      Iterator.single(
        (entries.map(_._1), entries.map(_._2), keys.toArray))
    }.collect()
    val top = parts.iterator
      .flatMap(p => p._1.iterator.zip(p._2.iterator))
      .toSeq.sortBy(-_._1).take(k).map(_._2)
    (top, parts.iterator.flatMap(_._3).toSet)
  }
}
