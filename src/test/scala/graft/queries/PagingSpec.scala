package graft.queries

import graft.{SparkEntry, SparkTestBase}

/** Cursor pagination semantics (ref query.go:335-426 nextUri loop). */
class PagingSpec extends SparkTestBase {

  test("cursor pages cover the result exactly, in order, without overlap") {
    val df = SparkEntry.queries("q02_filter_project")(spark, sf0001)
    val expected = df.collect().toSeq
    val cur = Paging.cursor(df, pageSize = 30)
    var pages = Vector.empty[Seq[org.apache.spark.sql.Row]]
    while (cur.hasMore) pages :+= cur.nextPage()
    // page shape: ceil(100/30) pages, all full but the last
    assert(pages.map(_.size) === Vector(30, 30, 30, 10))
    // concatenation is exactly the ordered result — no loss, dup, or skew
    assert(pages.flatten === expected)
    assert(cur.nextPage().isEmpty)
  }
}
