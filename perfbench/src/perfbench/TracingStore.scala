package perfbench

import org.apache.spark.sql.DataFrame
import graft.engine.{StateStore, SuperstepMetrics}
import scala.collection.mutable

/** A [[StateStore]] that delegates to the engine's store and watches the
  * loop through it: every [[SuperstepMetrics]] arrives through `log`, so
  * each superstep becomes a span whose length is exactly the engine's own
  * `wallSec`, ending at the `log` call. The span is opened in `persist`,
  * before the superstep's jobs run, so they are attributed to it.
  *
  * @param stopAfter when > 0, throw [[TracingStore.Stopped]] once superstep
  *   `stopAfter` is logged: a run killed mid-loop, for the resume workload
  */
final class TracingStore(inner: StateStore, tracer: Tracer, stopAfter: Int = 0)
    extends StateStore {
  val steps = mutable.ArrayBuffer.empty[SuperstepMetrics]
  val stepSpans = mutable.ArrayBuffer.empty[Span]
  /** Seconds of each `persist` call, the iteration-0 one included. */
  val persistWalls = mutable.ArrayBuffer.empty[Double]
  var resumeNs = 0L
  private var open: Option[Span] = None

  override def persist(state: DataFrame, iter: Int): DataFrame = {
    if (iter > 0 && tracer.enabled) open = Some(tracer.open("engine.superstep"))
    val t0 = System.nanoTime()
    try inner.persist(state, iter)
    finally persistWalls += (System.nanoTime() - t0) / 1e9
  }

  override def log(m: SuperstepMetrics): Unit = {
    inner.log(m)
    steps += m
    open.foreach { s =>
      tracer.close(s)
      s.start = s.end - (m.wallSec * 1e9).toLong
      stepSpans += s
    }
    open = None
    if (stopAfter > 0 && m.iter >= stopAfter) throw TracingStore.Stopped(m.iter)
  }

  override def resumePoint(): Option[(Int, DataFrame)] = {
    val t0 = System.nanoTime()
    try inner.resumePoint() finally resumeNs += System.nanoTime() - t0
  }

  override def release(state: DataFrame): Unit = inner.release(state)
}

object TracingStore {
  final case class Stopped(iter: Int)
      extends RuntimeException(s"stopped after superstep $iter")
}
