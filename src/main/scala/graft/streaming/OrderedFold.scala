package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The incremental per-key fold of the ordered per-user state machines
  * (s11–s14): each user's events fold, in event order, into a bounded
  * accumulator whose rows re-emit in Update mode every micro-batch that
  * touches the user — `mr.exec`'s reduce over a key's values, run
  * incrementally the way Structured Streaming runs a stateful plan.
  *
  * Ordering contract: WITHIN a micro-batch a user's events sort by
  * (ts_us, event_id); ACROSS batches the fold trusts arrival order but
  * REFUSES regressions — an event older than the last folded one (an
  * earlier ts_us, or the same ts_us with a smaller event_id) is counted
  * in the state's `lateDropped` and never reaches `step`, so it can
  * neither fabricate a backward gap or transition nor reopen a closed
  * window. Under in-order arrival the quiet-period state therefore
  * equals the module's batch lag-window form for ANY batch split
  * (StreamingSpec's ordering-contract test runs all four folds).
  */
object OrderedFold {

  /** What the fold reads of an event; the module's event case class
    * carries its own payload beside these.
    */
  trait Event {
    def user_id: Long
    def ts_us: Long
    def event_id: Long
  }

  /** Per-user state: the last folded event's (ts_us, event_id), whether
    * one was folded, the refused late events, and the module's own
    * accumulator.
    */
  case class Cursor[A](lastTs: Long, lastEid: Long, seen: Boolean,
      lateDropped: Long, acc: A)

  /** The projection every fold reads: `user_id`, the event time in
    * microseconds, `event_id`, then the `payload` columns.
    */
  def events[E <: Product with Event : TypeTag](df: DataFrame,
      payload: String*): Dataset[E] =
    df.select(Seq(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id")) ++ payload.map(col): _*)
      .as(Encoders.product[E])

  /** Folds each user's events into `step(acc, seen, event)` from `zero`
    * (`seen`: an earlier event was folded) and re-emits `emit(user, acc)`
    * for every user a micro-batch touches (Update mode).
    */
  def fold[E <: Event, A: TypeTag, O <: Product : TypeTag](
      events: Dataset[E], zero: A)(step: (A, Boolean, E) => A)(
      emit: (Long, A) => Iterator[O]): Dataset[O] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[E], state: GroupState[Cursor[A]]) =>
          val c = it.toVector.sortBy(e => (e.ts_us, e.event_id))
            .foldLeft(state.getOption.getOrElse(
              Cursor(0L, 0L, seen = false, 0L, zero))) { (c, e) =>
              if (c.seen && (e.ts_us < c.lastTs ||
                  (e.ts_us == c.lastTs && e.event_id < c.lastEid)))
                c.copy(lateDropped = c.lateDropped + 1L)
              else Cursor(e.ts_us, e.event_id, seen = true, c.lateDropped,
                step(c.acc, c.seen, e))
            }
          state.update(c)
          emit(user, c.acc)
      }(Encoders.product[Cursor[A]], Encoders.product[O])

  /** `n`'s share of its total over `by`, rounded to 6 places (the
    * oracle's rounding of the exact integer division).
    */
  def share(n: Column, by: Column): Column =
    round(n.cast("double") /
      sum(n).over(Window.partitionBy(by)).cast("double"), 6)
}
