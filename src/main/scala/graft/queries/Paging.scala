package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Engine-side equivalent of the reference API's cursor pagination
  * (ref internal/api/services/query.go:335-426: results stream from
  * Trino `/v1/statement` page by page behind a `nextUri` cursor).
  *
  * [[QueryCursor]] holds the executed query's result iterator
  * server-side — `toLocalIterator` fetches ONE partition at a time from
  * the cluster, so the driver never materializes more than a partition
  * regardless of result size, and each `nextPage()` hands out `pageSize`
  * rows. That is the same state model as the reference (cursor state
  * lives with the engine; the client holds an opaque handle). The input
  * must carry a deterministic ORDER BY for pages to be stable — same
  * contract Trino imposes.
  */
object Paging {

  /** Open a server-side cursor over `df`'s result. */
  def cursor(df: DataFrame, pageSize: Int): QueryCursor = {
    require(pageSize > 0, "pageSize must be positive")
    new QueryCursor(df, pageSize)
  }

  final class QueryCursor private[Paging] (df: DataFrame, pageSize: Int)
    extends AutoCloseable {
    private val it = df.toLocalIterator().asScala

    /** Next page of up to `pageSize` rows; empty when exhausted.
      * Explicit drain loop: `Iterator.take` documents that the original
      * iterator must be discarded afterwards, so reusing `it` across
      * pages via `take` would lean on an implementation detail. */
    def nextPage(): Seq[Row] = {
      val buf = Vector.newBuilder[Row]
      var k = 0
      while (k < pageSize && it.hasNext) { buf += it.next(); k += 1 }
      buf.result()
    }

    def hasMore: Boolean = it.hasNext
    override def close(): Unit = () // iterator resources follow the session
  }
}
