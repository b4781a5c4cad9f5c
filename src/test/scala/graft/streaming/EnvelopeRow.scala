package graft.streaming

/** One flattened CDC envelope row, the element type of the streaming
  * specs' memory streams. Top-level on purpose: nested in a spec class,
  * its generated encoder failed Janino compilation (a
  * `CompileException` at `_cdc_table()`) and Spark ran it as
  * interpreted code instead. */
final case class EnvelopeRow(user_id: Long, event_id: Long, value: Double,
                             _cdc_operation: String, _cdc_timestamp: java.sql.Timestamp,
                             _cdc_lsn: String, _cdc_table: String)
