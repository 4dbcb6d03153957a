package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run accumulates: operation counts, metrics and the
  * lines it prints before the result. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val workDir: String, val dataDir: String) {
  private val attempts = new java.util.concurrent.atomic.AtomicLong
  private val failures = new java.util.concurrent.atomic.AtomicLong
  def attempted: Long = attempts.get
  def failed: Long = failures.get
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty

  /** One counted operation. A throw is a failed operation, never a time. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempts.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failures.incrementAndGet()
        System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** One counted output check: a mismatch or a throw is a failed operation. */
  def check(what: String)(ok: => Boolean): Unit =
    op(what)(ok) match {
      case Some(false) =>
        failures.incrementAndGet()
        System.err.println(s"[perfbench] MISMATCH $what")
      case _ => ()
    }

  def put(name: String, value: Double, unit: String): Unit = synchronized(metrics(name) = (value, unit))

  def dir(name: String): String = {
    val d = new java.io.File(workDir, name)
    d.mkdirs()
    d.getPath
  }
}

object Run {
  private val jvmStart = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${secondsSince(jvmStart)}%7.2f s  $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, secondsSince(t0))
  }
}
