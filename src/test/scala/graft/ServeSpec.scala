package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.lake.SnapshotLog

/** The deployable service wiring: one start() brings up the query API,
  * the control plane, and the REST catalog over one warehouse. */
class ServeSpec extends SparkTestBase {

  test("main's master: GRAFT_MASTER wins, an existing spark.master is kept, else local[*]") {
    val submitted = Map("spark.master" -> "yarn")
    assert(Serve.master(Map("GRAFT_MASTER" -> "local[2]"), submitted) === Some("local[2]"))
    assert(Serve.master(Map.empty, submitted) === None)
    assert(Serve.master(Map.empty, Map.empty) === Some("local[*]"))
  }

  test("start wires API + control plane + REST catalog over one warehouse") {
    val wh = Files.createTempDirectory("graft-serve").toString
    val dir = s"$wh/db/t"
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    SnapshotLog.withTableLock(dir) {
      val files = SnapshotLog.writeData(spark, dir, df, None)
      SnapshotLog.commit(spark, dir, "append", df.schema, parent = None,
        add = files)
    }
    val handle = Serve.start(spark, wh, token = Some("srv-tok"),
      prefix = "lake", catalogName = "servetest")
    try {
      val http = HttpClient.newHttpClient()
      def get(base: String, path: String, auth: Boolean = true): (Int, String) = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
        if (auth) b.header("Authorization", "Bearer srv-tok")
        val r = http.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // query API: health open, catalogs behind the token
      assert(get(handle.api.baseUri, "/query/health", auth = false)._1 === 200)
      assert(get(handle.api.baseUri, "/query/catalogs", auth = false)._1 === 401)
      val (cs, cb) = get(handle.api.baseUri, "/query/catalogs")
      assert(cs === 200 && cb.contains("servetest"))
      // control plane mounted
      val (ps, pb) = get(handle.api.baseUri, "/api/v1/pipelines")
      assert(ps === 200 && pb.contains("\"total\":0"))
      // REST catalog serves the same warehouse
      val (rs, rb) = get(handle.rest.baseUri, "/catalog/v1/config")
      assert(rs === 200 && rb.contains("\"prefix\":\"lake\""))
      val (ts, tb) = get(handle.rest.baseUri,
        "/catalog/v1/lake/namespaces/db/tables/t")
      assert(ts === 200 && tb.contains("\"current-snapshot-id\":1"))
      // and the SQL catalog resolves it
      assert(spark.sql("SELECT count(*) FROM servetest.db.t")
        .collect().head.getLong(0) === 2L)
      assert(SnapshotLog.readCurrent(spark, dir).get
        .filter(col("id") === 1L).count() === 1L)
    } finally handle.close()
  }
}
