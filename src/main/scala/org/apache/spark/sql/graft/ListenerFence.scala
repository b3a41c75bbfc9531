package org.apache.spark.sql.graft

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Observation, Row}

/** A barrier on the listener bus's shared queue, the queue that completes
  * `Observation`s (through a `QueryExecutionListener`) and that
  * `SparkContext.addSparkListener` listeners sit on. Posting to the bus is
  * `private[spark]`, hence this package.
  */
object ListenerFence {

  /** Blocks until the shared queue has dispatched every event posted before
    * the call: a marker is posted behind them and awaited. Throws a
    * `TimeoutException` if the queue does not reach it within `timeout`.
    */
  def await(sc: SparkContext, timeout: Duration): Unit = {
    val marker = new Marker
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e eq marker) marker.seen.trySuccess(())
    }
    sc.addSparkListener(listener)
    try {
      sc.listenerBus.post(marker)
      Await.result(marker.seen.future, timeout)
    } finally sc.removeSparkListener(listener)
  }

  /** The observed row if a finished action filled `o`, without the
    * unbounded wait of `Observation.get`: after a [[await]], `None` means no
    * action over the observed plan ran.
    */
  def observed(sc: SparkContext, o: Observation, timeout: Duration): Option[Row] = {
    if (!o.future.isCompleted) await(sc, timeout)
    o.future.value.map(_.get)
  }

  private final class Marker extends SparkListenerEvent {
    val seen: Promise[Unit] = Promise[Unit]()
    override protected[spark] def logEvent: Boolean = false
  }
}
