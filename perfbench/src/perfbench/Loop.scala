package perfbench

import scala.collection.mutable

/** What a family reports after its ops ran: the generic end-to-end figures
  * (`items_per_s`, `output_quality`, `write_bytes_per_input_byte`), the
  * same figures under the family's own names for the report lines, and
  * per-layer metrics.
  */
final case class Report(e2e: Map[String, Double], named: Map[String, Double],
                        layers: Map[String, Double])

/** One family of ops over one generated input set. Its ops run in a fixed
  * cycle: `step(rec, i)` runs op `i` of the closed loop, timing it through
  * the recorder; step 0 of each cycle is the secondary op, the rest are
  * primary ops.
  */
trait Family {
  def name: String
  /** The op whose wall is `op_p50_s` / `op_tail_s`. */
  def primary: String
  /** The op that starts each cycle (`secondary_p50_s`). */
  def secondary: String
  def cycle: Int
  /** Generator parameters, row counts and input bytes. */
  def info: Map[String, Double]
  /** Once, before the first step: state the steps work on. */
  def start(rec: Recorder): Unit = ()
  def step(rec: Recorder, i: Int): Unit
  /** After a run of steps: output checks deferred by the steps. */
  def finish(rec: Recorder): Unit = ()
  /** End-to-end figures over everything `rec` saw and, from traced steps,
    * per-layer metrics.
    */
  def report(rec: Recorder): Report
}

/** Thrown by an output check; the op counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/** Runs a frame to completion and discards the rows: a layer call's full
  * cost without a sink's.
  */
object Noop {
  def apply(df: org.apache.spark.sql.DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Samples of one closed loop: op walls under the op's name and any other
  * per-op values a family notes. Timed ops and their checks run through
  * [[op]]; in traced steps the tracer's spans hold the Spark counters.
  * A `strict` recorder (warm-up) rethrows the first failure.
  */
final class Recorder(val tracer: Tracer, strict: Boolean = false) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** True while the loop runs a traced step (counters and layer spans). */
  var traced = false

  def note(key: String, v: Double): Unit = samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def times(key: String): Seq[Double] = samples.getOrElse(key, mutable.ArrayBuffer.empty).toSeq
  def total(key: String): Double = times(key).sum
  def spansOf(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Runs `work` as one timed op named `kind`, then `check` on its result
    * (untimed). A throw from either fails the op, and a failed op records
    * no time sample. (Checks a family defers to [[Family.finish]] fail
    * their op after its sample is taken.) Traced steps keep the op's span.
    */
  def op[A](kind: String)(work: => A)(check: A => Unit): Unit = {
    attempted += 1
    try {
      val (out, span) = tracer.span(kind)(work)
      System.err.println(f"perfbench: op $kind ${span.wallS}%.3f s")
      check(out)
      note(kind, span.wallS)
      if (traced) spans += span else note(kind + ".untraced", span.wallS)
    } catch {
      case e: Exception if !strict =>
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  /** A layer span; kept only in traced steps. */
  def layer[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val (out, span) = tracer.span(name)(body)
      System.err.println(f"perfbench: layer $name ${span.wallS}%.3f s")
      spans += span
      out
    }
}
