package graft

import org.apache.spark.sql.Row

package object streaming {

  /** The rows a [[CollectingSink]] received for one table, in write order. */
  implicit class CollectedRows(private val sink: CollectingSink) extends AnyVal {
    def rowsFor(table: String): Seq[Row] =
      sink.batches.synchronized { sink.batches.filter(_._2 == table).flatMap(_._3).toSeq }
  }
}
