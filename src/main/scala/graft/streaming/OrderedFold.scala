package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.util.LongAccumulator

/** One key's tracker state plus its seal: the greatest order key
  * `(seal_ts, seal_tie)` folded so far. */
case class Sealed[S](state: S, seal_ts: Long, seal_tie: Long)

/** What an event-time tracker does when its key times out: `deadlineUs` is
  * the event time after which the state can change without input, and
  * `expire(key, state, watermarkUs)` is that change and what it emits. */
final case class Expiry[S, O](deadlineUs: S => Long,
    expire: (Long, S, Long) => (S, Seq[O]))

/** The ONE lateness policy of the `GroupState` trackers, as the function a
  * `flatMapGroupsWithState` over `GroupState[Sealed[S]]` calls per key and
  * batch. It sorts the batch by `orderKey` and drops (and counts in
  * `lateRows`) each row strictly behind the key's seal — a row AT the seal
  * passes — then folds the tracker's pure `step` over the rest, in order.
  * `endOfBatch` sees the batch's accepted rows once they are all folded
  * (emissions that depend on a whole batch, such as equal-time peers).
  *
  * This is the no-grace window contract of Kafka Streams (a record behind
  * its closed window is dropped and counted) applied per key. Spark's own
  * late-row filter does not cover it: it runs only under
  * `EventTimeTimeout`, and it reads the previous batch's watermark, so a
  * file that lands one trigger late passes it.
  *
  * With an `expiry` (and `EventTimeTimeout`), the order key's first
  * component is event time in µs, and the timeout is set to the later of
  * the deadline and the seal, ceiled to milliseconds and floored at
  * `watermark + 1` (`setTimeoutTimestamp` throws below the watermark). On a
  * timeout the state is removed once `expire` leaves it at `zero`: by then
  * the watermark has passed the seal, so Spark's filter drops every row the
  * seal would. */
final class OrderedFold[E, S, O](
    lateRows: LongAccumulator,
    orderKey: E => (Long, Long),
    zero: S,
    step: (S, E) => (S, Seq[O]),
    endOfBatch: (S, Seq[E]) => (S, Seq[O]) = (s: S, _: Seq[E]) => (s, Nil),
    expiry: Option[Expiry[S, O]] = None)
    extends ((Long, Iterator[E], GroupState[Sealed[S]]) => Iterator[O])
    with Serializable {

  def apply(key: Long, events: Iterator[E],
      gs: GroupState[Sealed[S]]): Iterator[O] = {
    val out = ArrayBuffer.empty[O]
    def emit(r: (S, Seq[O])): S = { out ++= r._2; r._1 }
    val prior = gs.getOption.getOrElse(Sealed(zero, Long.MinValue, Long.MinValue))
    val next =
      if (gs.hasTimedOut)
        prior.copy(state = emit(expiry.get.expire(key, prior.state,
          gs.getCurrentWatermarkMs() * 1000)))
      else {
        var s = prior.state
        var seal = (prior.seal_ts, prior.seal_tie)
        val accepted = ArrayBuffer.empty[E]
        events.toSeq.sortBy(orderKey).foreach { e =>
          val k = orderKey(e)
          if (Ordering[(Long, Long)].lt(k, seal)) lateRows.add(1L)
          else { s = emit(step(s, e)); seal = k; accepted += e }
        }
        Sealed(emit(endOfBatch(s, accepted.toSeq)), seal._1, seal._2)
      }
    if (gs.hasTimedOut && next.state == zero) gs.remove()
    else {
      gs.update(next)
      expiry.foreach { x =>
        // ceil to millis: floor would fire up to 1 ms early
        gs.setTimeoutTimestamp(math.max(
          (math.max(x.deadlineUs(next.state), next.seal_ts) + 999) / 1000,
          gs.getCurrentWatermarkMs() + 1))
      }
    }
    out.iterator
  }
}
