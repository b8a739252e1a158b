package graft.kernel

import org.apache.spark.util.LongAccumulator

/** Layout-validation telemetry for the kernel stage: an optional per-task
  * [[Sink]] of Spark `LongAccumulator`s, the channel that reaches the
  * driver on a multi-executor cluster. [[graft.io.ExtractJob.run]]
  * registers the accumulators and writes their merged values into the
  * job's `_metrics` table, so a real-model deployment inherits the "no
  * silently-authored-away layouts" invariant as a monitorable counter
  * (VERDICT r3 task 9). Outside such a job no sink is installed and the
  * bumps are no-ops.
  *
  * The sink is installed per PARTITION (a Spark task runs its whole
  * iterator on one thread, so ThreadLocal scoping is exact; re-installing
  * at every partition start makes executor thread reuse safe). */
object LayoutTelemetry {

  /** Driver-registered accumulators, captured by the extraction closure:
    * `authoredAway` counts pages where every HARD candidate layout failed
    * validation and the plain single column was used instead;
    * `unsolvable` pages where even the single column failed; `insertPages`
    * pages accepted with a nested-insert region layout. */
  case class Sink(authoredAway: LongAccumulator, unsolvable: LongAccumulator,
      insertPages: LongAccumulator) extends Serializable

  private val taskSink = new ThreadLocal[Sink]

  /** Install `s` for the current task thread (call at partition start). */
  def install(s: Sink): Unit = taskSink.set(s)

  def bumpAuthoredAway(): Unit = bump(_.authoredAway)
  def bumpUnsolvable(): Unit = bump(_.unsolvable)
  def bumpInsertPages(): Unit = bump(_.insertPages)

  private def bump(acc: Sink => LongAccumulator): Unit = {
    val s = taskSink.get; if (s != null) acc(s).add(1L)
  }
}
