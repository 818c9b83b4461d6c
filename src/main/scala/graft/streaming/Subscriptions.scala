package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SepModel subscription equivalent (SURVEY §2.G): named, filtered
  * views over the mutation stream that independent consumers attach
  * to. In the reference a subscription is a replication peer with
  * table/column-family filters; here it is a declarative filter over
  * the WAL stream — each subscription can power its own streaming
  * query (fan-out), and Spark's source tracks offsets per query
  * exactly like the reference tracks per-subscription progress in ZK.
  */
final case class Subscription(
    name: String,
    table: Option[String] = None,
    family: Option[String] = None,
    qualifier: Option[String] = None) {

  /** The subscribed family/qualifier match on one cell; None when the
    * subscription takes every cell. */
  private val cellMatch: Option[Column => Column] =
    if (family.isEmpty && qualifier.isEmpty) None
    else Some(c =>
      family.map(c.getField("family") === _).getOrElse(lit(true)) &&
        qualifier.map(c.getField("qualifier") === _).getOrElse(lit(true)))

  /** Predicate over the WAL schema (seq, ts, table, rowkey, cells). */
  def predicate: Column =
    table.map(col("table") === _).getOrElse(lit(true)) &&
      cellMatch.map(exists(col("cells"), _)).getOrElse(lit(true))

  /** `cells` narrowed to the subscribed family/qualifier. */
  def narrow(cells: Column): Column = cellMatch.fold(cells)(filter(cells, _))

  /** The subscription's view of the stream; cells are narrowed to the
    * subscribed family/qualifier (like SEP's per-subscription
    * KeyValue filtering). */
  def apply(wal: DataFrame): DataFrame =
    if (cellMatch.isEmpty) wal.filter(predicate)
    else wal.filter(predicate).withColumn("cells", narrow(col("cells")))
}

object Subscriptions {
  /** Fan-out: attach each subscription to the shared stream. */
  def fanOut(wal: DataFrame, subs: Seq[Subscription]): Map[String, DataFrame] =
    subs.map(s => s.name -> s(wal)).toMap
}
