package graft.sources

import org.apache.spark.sql.sources

/** The one rule both connectors apply to decide which filters a scan
  * takes as Exact (the reference's `Exact`-vs-`Unsupported`
  * classification, `webengine/src/web_source.rs:98-160`,
  * `expr_to_sql.rs:32-106`): a simple comparison or null test, possibly
  * negated, on a column with a primitive literal. The file connector
  * ([[GraftScanBuilder]]) compiles these into its per-branch row filter;
  * the relay scan (`graft.transport.RelayScan`) renders them into the SQL
  * it sends a peer. Everything else stays with Spark above the scan. */
object ExactFilters {
  def accepts(f: sources.Filter): Boolean = f match {
    case sources.EqualTo(_, v)            => primitive(v)
    case sources.GreaterThan(_, v)        => primitive(v)
    case sources.GreaterThanOrEqual(_, v) => primitive(v)
    case sources.LessThan(_, v)           => primitive(v)
    case sources.LessThanOrEqual(_, v)    => primitive(v)
    case sources.IsNull(_)                => true
    case sources.IsNotNull(_)             => true
    case sources.Not(child)               => accepts(child)
    case _                                => false // In/Like/StartsWith/... -> Unsupported
  }

  /** Literal values both connectors carry without loss: Catalyst hands a
    * DATE as `java.sql.Date` or `LocalDate` and a TIMESTAMP as
    * `java.sql.Timestamp` or `Instant`, depending on the session's
    * java8 datetime setting. */
  private def primitive(v: Any): Boolean = v match {
    case _: Boolean | _: Int | _: Long | _: Double | _: Float | _: Short |
         _: Byte | _: String | _: java.sql.Date | _: java.time.LocalDate |
         _: java.sql.Timestamp | _: java.time.Instant => true
    case _ => false
  }
}
