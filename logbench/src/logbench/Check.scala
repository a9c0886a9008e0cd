package logbench

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Output checks and the attempted / failed operation count. An operation
  * fails when it throws or when any check inside it does not hold. Time
  * spent checking is kept out of the operation's latency. */
final class Check {
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  private var checkNs = 0L

  def op(body: => Double): Double = {
    attempted += 1
    val before = errors.size
    try {
      val d = body
      if (errors.size > before) failed += 1
      d
    } catch {
      case e: Throwable =>
        errors += s"exception: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ").take(300)}"
        failed += 1
        Double.NaN
    }
  }

  def time[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNs += System.nanoTime() - t0
  }

  /** Seconds spent in checks since the last call. */
  def takeSeconds(): Double = { val s = checkNs / 1e9; checkNs = 0L; s }

  private def fail(msg: String): Unit = if (errors.size < 50) errors += msg else errors(49) = msg

  def that(what: String, ok: Boolean): Unit = if (!ok) fail(s"$what: check failed")
  def equal(what: String, got: Long, want: Long): Unit =
    if (got != want) fail(s"$what: got $got, want $want")
  def within(what: String, got: Long, want: Long, tolerance: Double): Unit =
    if (math.abs(got - want) > tolerance * want) fail(s"$what: got $got, want $want ± ${tolerance * 100}%")
}

object Check {
  def serializedBytes(o: AnyRef): Long = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size().toLong
  }

  /** Order-independent digest of a result: column names plus sorted rows. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString(",").getBytes("UTF-8"))
    rows.map(_.toString).sorted.foreach { r => md.update(0: Byte); md.update(r.getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Plan fingerprint: shuffle / broadcast / reused exchange counts. */
  def exchanges(plan: SparkPlan): Map[String, Int] = {
    val n = mutable.Map("shuffle" -> 0, "broadcast" -> 0, "reused" -> 0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
          p match {
            case _: ShuffleExchangeLike => n("shuffle") += 1
            case _: BroadcastExchangeLike => n("broadcast") += 1
            case _: ReusedExchangeExec => n("reused") += 1
            case _ =>
          }
          p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    n.toMap
  }
}
