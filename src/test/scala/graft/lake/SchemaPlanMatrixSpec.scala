package graft.lake

import java.nio.file.Files

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ingest.{Cdc, CdcWriter}

/** Every writer meets an incoming schema by the one rule,
  * [[SchemaEvolution.plan]]: for each (head, incoming) pair, the append
  * path, the COW merge, the MOR merge and the REST `add-schema` commit
  * the same schema or give the same refusal. Three documented
  * exceptions:
  *  - only the COW merge performs a rewrite promotion (long → double);
  *  - the writers that cannot rewrite carried files refuse it;
  *  - SQL INSERT never evolves a table: it casts to the stored schema,
  *    and refuses a statement that misses a stored column. */
class SchemaPlanMatrixSpec extends SparkTestBase {

  private val writers = Seq("append", "cow", "mor", "rest", "sql")

  /** One envelope row: key `id`, the given typed columns (each a
    * non-null literal), and the CDC metadata columns. */
  private def env(id: Long, cols: (String, String)*): DataFrame =
    spark.range(1).select(Seq(lit(id).as("id")) ++
      cols.map { case (n, t) => lit(id).cast(t).as(n) } ++
      Seq(lit("INSERT").as(Cdc.OpColumn),
        to_timestamp(lit(s"2024-01-0$id 12:00:00")).as(Cdc.TsColumn),
        lit(f"$id%016d").as(Cdc.LsnColumn)): _*)

  /** The outcome: the committed user columns (name, type, nullable),
    * or the refusal message. */
  private type Outcome = Either[String, Seq[(String, String, Boolean)]]

  private def userColumns(dir: String): Seq[(String, String, Boolean)] =
    SnapshotLog.currentSnapshot(spark, dir).get.schema.fields.toSeq
      .filterNot(_.name.startsWith("_cdc"))
      .map(f => (f.name, f.dataType.simpleString, f.nullable))

  private case class Row(name: String, head: String, incoming: Seq[(String, String)],
                         rename: Boolean = false)

  private def run(cli: RestCatalogClient, row: Row, writer: String): Outcome = {
    val t = s"${row.name}_$writer"
    val headBatch = env(1, "v" -> row.head)
    val dir = if (writer == "rest") {
      cli.createTable(Seq("db"), t, CdcWriter.withPartitionColumn(headBatch).schema)
      cli.loadTable(Seq("db"), t).location
    } else Files.createTempDirectory("graft-matrix").toString + "/t"
    CdcWriter.appendCommit(spark, dir, headBatch)
    if (row.rename) SnapshotLog.renameColumn(spark, dir, "v", "score")
    val in = env(2, row.incoming: _*)
    Try(writer match {
      case "append" => CdcWriter.appendCommit(spark, dir, in)
      case "cow"    => CdcWriter.merge(spark, dir, in, Seq("id"))
      case "mor"    => CdcWriter.morMerge(spark, dir, in, Seq("id"))
      case "sql"    => SnapshotLog.sqlInsert(spark, dir,
        CdcWriter.withPartitionColumn(in), overwrite = false)
      case "rest"   =>
        // the protocol refuses a required added column as invalid input
        // (RestCatalogSpec pins that 400), so the declared schema adds
        // nullable columns
        val head = SnapshotLog.currentSnapshot(spark, dir).get.schema.fieldNames.toSet
        val declared = CdcWriter.withPartitionColumn(in).schema
        cli.evolveSchema(Seq("db"), t, org.apache.spark.sql.types.StructType(
          declared.fields.map(f => if (head(f.name)) f else f.copy(nullable = true))))
    }).toEither.left.map(e => String.valueOf(e.getMessage)).map(_ => userColumns(dir))
  }

  private val id = ("id", "bigint", false)
  private def v(t: String) = ("v", t, false)

  /** (row, expected outcome per writer). */
  private val matrix: Seq[(Row, Map[String, Outcome])] = {
    def all(o: Outcome) = writers.map(_ -> o).toMap
    def refused(col: String, head: String, in: String) =
      Left(s"cannot reconcile column $col: table has $head, batch has $in")
    Seq(
      Row("renamed", "bigint", Seq("v" -> "bigint"), rename = true) ->
        (all(Left("batch writes column v, which was renamed to score")) +
          ("sql" -> Left("misses columns score"))),
      Row("string_int", "string", Seq("v" -> "int")) ->
        (all(refused("v", "string", "int")) + ("sql" -> Right(Seq(id, v("string"))))),
      Row("int_string", "int", Seq("v" -> "string")) ->
        (all(refused("v", "int", "string")) + ("sql" -> Right(Seq(id, v("int"))))),
      Row("long_double", "bigint", Seq("v" -> "double")) ->
        (all(Left("cannot reconcile column v: table has bigint, batch has double — " +
          "its files need a rewrite that only a COW merge performs")) +
          ("cow" -> Right(Seq(id, v("double")))) + ("sql" -> Right(Seq(id, v("bigint"))))),
      Row("double_long", "double", Seq("v" -> "bigint")) ->
        (all(refused("v", "double", "bigint")) + ("sql" -> Right(Seq(id, v("double"))))),
      Row("added", "bigint", Seq("v" -> "bigint", "w" -> "bigint")) ->
        (all(Right(Seq(id, v("bigint"), ("w", "bigint", true)))) +
          ("sql" -> Right(Seq(id, v("bigint"))))),
      Row("int_long", "int", Seq("v" -> "bigint")) ->
        (all(Right(Seq(id, v("bigint")))) + ("sql" -> Right(Seq(id, v("int"))))),
      Row("long_int", "bigint", Seq("v" -> "int")) ->
        all(Right(Seq(id, v("bigint")))))
  }

  test("every writer commits the same schema or gives the same refusal") {
    val wh = Files.createTempDirectory("graft-matrix-rest").toString
    val srv = new RestCatalogServer(spark, wh, prefix = "lake")
    val cli = new RestCatalogClient(srv.baseUri, "lake")
    try {
      val mismatches = for {
        (row, expected) <- matrix
        w <- writers
        got = run(cli, row, w)
        ok = (got, expected(w)) match {
          case (Left(m), Left(want))  => m.contains(want)
          case (Right(s), Right(want)) => s == want
          case _                       => false
        }
        if !ok
      } yield s"${row.name}/$w: expected ${expected(w)}, got $got"
      assert(mismatches.isEmpty, mismatches.mkString("\n", "\n", ""))
    } finally { srv.close(); cli.close() }
  }
}
