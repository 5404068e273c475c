package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.SparkSessionFactory

/** The workload contract: `generate` writes the seeded inputs (repeatable,
  * so set-up can be timed several times), `warmup` runs the timed work once
  * untimed, and `pass` is one unit of the closed loop. */
trait Workload {
  def generate(): Unit
  def warmup(): Unit
  def pass(rec: Recorder, tr: Tracer): Unit
  /** Passes a run makes even when `--seconds` ends sooner, so a slow host
    * measures the same passes as a fast one. */
  def minPasses: Int
  /** Per-layer figures measured outside the passes (traced run only). */
  def layerProbes(rec: Recorder, tr: Tracer): Unit = ()
}

/** One benchmark run in one JVM: `--workload --seed --seconds --trace
  * --work <dir> --out <file>`. Writes the raw calls, checks, set-up times
  * and (traced) spans and jobs as one JSON file; `perfbench/run.py` turns
  * that into the metrics. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = SparkSessionFactory.local(cores, s"perfbench-$workload")
    // JVM start and Spark session: CPU since the JVM started, and wall
    val session = Map("session_s" -> ProcessCpu.work(),
      "session_wall_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(traced, s"$workload-$seed")
    val rec = new Recorder

    try {
      val w: Workload = workload match {
        case "kg_batch" => new KgBatch(spark, seed, work, cores)
        case "kg_incremental" => new KgIncremental(spark, seed, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setup = Setup.time(w)
      // closed loop: the next pass starts when the previous one returns.
      // The traced run alternates untraced and traced passes, at least
      // untraced-traced-untraced, so the tracing overhead is measured in
      // the same window and warm-up drift hits both sides alike
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      do {
        rec.pass = i
        rec.traced = traced && i % 2 == 1
        w.pass(rec, if (rec.traced) tracer else Tracer.off)
        i += 1
      } while (System.nanoTime() < deadline || i < w.minPasses || (traced && i < 3))
      if (traced) w.layerProbes(rec, tracer)

      val jobs = listener.map(_.drained(10000)).getOrElse(Nil)
      val out = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "seed" -> seed.toString,
        "cores" -> cores.toString,
        "traced" -> traced.toString,
        "setup" -> Json.nums(setup ++ session),
        "peak_rss_mb" -> Json.num(Setup.peakRssMb()),
        "calls" -> Json.arr(rec.calls.map(c => Json.obj(Seq(
          "kind" -> Json.str(c.kind), "pass" -> c.pass.toString,
          "traced" -> c.traced.toString, "wall_s" -> Json.num(c.wallS),
          "cpu_s" -> Json.num(c.cpuS), "jit_s" -> Json.num(c.jitS),
          "ok" -> c.ok.toString, "units" -> c.units.toString,
          "error" -> Json.str(c.error)))).toSeq),
        "checks" -> Json.arr(rec.checks.map { case (n, ok, d) =>
          Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
        }.toSeq),
        "layer" -> Json.nums(rec.layer),
        "spans" -> Json.arr(tracer.spans.map(s => Json.obj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString,
          "run" -> Json.str(s.run), "name" -> Json.str(s.name),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "t0_s" -> Json.num(s.t0S), "t1_s" -> Json.num(s.t1S), "attrs" -> Json.nums(s.attrs))))),
        "jobs" -> Json.arr(jobs.map(j => Json.obj(Seq(
          "id" -> j.id.toString, "submit_ms" -> j.submitMs.toString,
          "tasks" -> j.tasks.toString,
          "task_s" -> Json.num(j.taskS),
          "shuffle_write_bytes" -> j.shuffleWriteBytes.toString,
          "spill_bytes" -> j.spillBytes.toString))))))
      Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
      Log("result written")
    } finally spark.stop()
  }
}

object Setup {
  val repeats = 3

  /** Set-up phases: warm-up (which also loads the extraction model where a
    * workload uses it) once, input generation `repeats` times (the median
    * is reported, so one slow write does not move set-up time). Each phase
    * as CPU seconds outside the JIT compiler threads (`<phase>_s`, the
    * figure reported) and as wall seconds (`<phase>_wall_s`). */
  def time(w: Workload): Map[String, Double] = {
    def secs(f: => Unit): (Double, Double) = {
      val c0 = ProcessCpu.work(); val t0 = System.nanoTime(); f
      val s = ((ProcessCpu.work() - c0), (System.nanoTime() - t0) / 1e9)
      Log(f"setup step cpu ${s._1}%.3f s, wall ${s._2}%.3f s")
      s
    }
    val gens = (1 to repeats).map(_ => secs(w.generate())).sortBy(_._1)
    val (gen, genWall) = gens(repeats / 2)
    val (warm, warmWall) = secs(w.warmup())
    Map("generate_s" -> gen, "generate_wall_s" -> genWall,
      "warmup_s" -> warm, "warmup_wall_s" -> warmWall)
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
