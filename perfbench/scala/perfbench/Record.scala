package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed call into the library: its wall time, the process's CPU
  * time outside the JIT compiler threads and theirs (see [[ProcessCpu]]).
  * `units` is the work it completed (triples, input triples, rows); a call that throws or fails its output
  * check is kept with `ok = false`, so it stays in every denominator. */
final case class Call(kind: String, pass: Int, traced: Boolean, wallS: Double,
    cpuS: Double, jitS: Double, ok: Boolean, units: Long, error: String)

/** CPU time of this process, in seconds. `work` leaves out the JIT
  * compiler threads: they keep compiling in the background all through a
  * run, and how far they have got depends on how much CPU the host left
  * them, not on the program's work. */
object ProcessCpu {
  import java.lang.management.ManagementFactory
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tickS = 0.01 // USER_HZ = 100 on Linux

  def total(): Double = os.getProcessCpuTime / 1e9

  /** CPU of every thread but the JIT compiler threads, so far. */
  def work(): Double = total() - jit()

  /** CPU of the JIT compiler threads so far, from /proc/self/task. */
  def jit(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0.0
    else tasks.iterator.map { t =>
      val stat = try new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        catch { case _: java.io.IOException => "" }
      val comm = stat.indexOf('(')
      val end = stat.lastIndexOf(')')
      if (comm < 0 || end < 0 || !stat.substring(comm + 1, end).contains("CompilerThre")) 0.0
      else {
        val f = stat.substring(end + 2).split(' ')
        (f(11).toLong + f(12).toLong) * tickS // utime + stime
      }
    }.sum
  }
}

final class Recorder {
  val calls = mutable.ArrayBuffer.empty[Call]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var pass = 0
  var traced = false

  /** Time `body`, which returns its result and the units of work done. */
  def call[A](kind: String)(body: => (A, Long)): Option[A] = {
    val c0 = ProcessCpu.total(); val j0 = ProcessCpu.jit()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    val jit = ProcessCpu.jit() - j0
    val cpu = ProcessCpu.total() - c0 - jit
    Log(f"pass $pass $kind ${if (r.isRight) "ok" else "FAILED"} $s%.3f s, cpu $cpu%.3f s + jit $jit%.3f s")
    r match {
      case Right((a, u)) =>
        calls += Call(kind, pass, traced, s, cpu, jit, ok = true, u, ""); Some(a)
      case Left(e) =>
        calls += Call(kind, pass, traced, s, cpu, jit, ok = false, 0L, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** An output check of the current pass. A failed check fails every call
    * of the pass. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) for (i <- calls.indices if calls(i).pass == pass)
      calls(i) = calls(i).copy(ok = false, error = s"check $name failed")
  }
}

/** Progress lines on stderr, stamped with the JVM's uptime. */
object Log {
  def apply(msg: String): Unit = System.err.println(
    f"[perfbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")
}

/** Minimal JSON writer for the raw-result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def nums(m: collection.Map[String, Double]): String = obj(m.toSeq.map { case (k, v) => k -> num(v) })
}
