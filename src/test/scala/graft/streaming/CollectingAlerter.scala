package graft.streaming

/** Collects alerts for assertions (test double). */
final class CollectingAlerter extends Alerter {
  val alerts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def alert(subject: String, body: String): Unit =
    alerts.synchronized { alerts += ((subject, body)) }
}
