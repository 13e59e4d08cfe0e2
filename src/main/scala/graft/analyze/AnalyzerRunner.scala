package graft.analyze

import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame

/** Runs a set of analyzers concurrently: every analyzer (plan
  * construction and `use`) on a thread of its own, all started before
  * any is joined. On a small workload each analyzer is a handful of
  * short Spark jobs that cost more to plan and schedule than to run, so
  * running the 28 one after another leaves the cores idle between jobs;
  * submitted together, their jobs overlap.
  *
  * The threads are created inside each call, never pooled: Spark's local
  * properties are inheritable, so each thread starts with the caller's
  * job group (and any other `setLocalProperty`) at the moment of the
  * call — a shared pool would carry whatever its threads inherited when
  * they were first created. The registry bounds the thread count, so no
  * size setting is needed.
  */
object AnalyzerRunner {

  /** Starts `body` on a new daemon thread; the returned function joins it
    * and yields its outcome. A fatal error (VM error, interrupt) is
    * rethrown on the joining thread instead of being returned.
    */
  def fork[T](name: String)(body: => T): () => Try[T] = {
    var result: Try[T] = null
    val t = new Thread(() => result =
      try Success(body) catch { case e: Throwable => Failure(e) }, s"analyzer-$name")
    t.setDaemon(true)
    t.start()
    () => {
      t.join() // join orders the thread's write of `result` before this read
      result match {
        case Failure(e) if !NonFatal(e) => throw e
        case r => r
      }
    }
  }

  /** A failed analyzer's message for a `failed:` line: the exception's
    * message, or its class name when the message is null (an NPE's, say).
    */
  def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)

  /** Builds each analyzer's DataFrame and applies `use` to it, all
    * analyzers concurrently; returns once every one has finished, in
    * analyzer-name order whatever order they finished in. A failing
    * analyzer yields its own `Failure` and never stops the others.
    */
  def run[T](analyzers: Map[String, () => DataFrame])(
      use: (String, DataFrame) => T): Seq[(String, Try[T])] =
    analyzers.toSeq.sortBy(_._1)
      .map { case (name, f) => name -> fork(name)(use(name, f())) }
      .map { case (name, join) => name -> join() }
}
