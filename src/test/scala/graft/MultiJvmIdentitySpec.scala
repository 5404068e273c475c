package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The multi-JVM identity gate: [[graft.tools.ClusterProbe]] compares
  * `local[2]` with `local-cluster[2,1,1024]` (two forked executor JVMs) on
  * the extraction and incremental-linking checksums. It runs in a child
  * JVM because the suites' shared session leaves no room for a second
  * SparkContext in this one. The child is bounded: a heap cap, a wall-clock
  * timeout, and no forked executor may outlive it. */
class MultiJvmIdentitySpec extends AnyFunSuite {

  private val timeoutSec = 300L
  private val childHeap = "-Xmx1g"

  private def tail(p: Path, n: Int = 40): String =
    Files.readAllLines(p, UTF_8).asScala.takeRight(n).mkString("\n")

  test("extraction and linking under local-cluster[2,1,1024] equal local mode's") {
    val dir = Files.createTempDirectory("graft-multijvm")
    val out = dir.resolve("stdout"); val err = dir.resolve("stderr")
    val java = Path.of(sys.props("java.home"), "bin", "java").toString
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions()
      .split("\\s+").filter(_.nonEmpty).toSeq
    val cmd = Seq(java, childHeap) ++ moduleOpts ++
      Seq("-cp", sys.props("java.class.path"), "graft.tools.ClusterProbe")
    val child = new ProcessBuilder(cmd.asJava)
      .redirectOutput(out.toFile).redirectError(err.toFile).start()
    // every process the child forks (its executors), sampled while it runs:
    // once the child is gone its orphans no longer show as its descendants
    val seen = scala.collection.mutable.Map.empty[Long, ProcessHandle]
    def sample(): Unit = child.descendants().iterator().asScala.foreach(h => seen(h.pid) = h)
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(timeoutSec)
    sample()
    while (!child.waitFor(500, TimeUnit.MILLISECONDS) && System.nanoTime() < deadline) sample()
    val timedOut = child.isAlive
    if (timedOut) {
      sample()
      child.destroy()
      if (!child.waitFor(10, TimeUnit.SECONDS)) child.destroyForcibly().waitFor()
    }
    // a clean stop kills the executors; give the kill a moment to land
    val graceEnd = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (seen.values.exists(_.isAlive) && System.nanoTime() < graceEnd) Thread.sleep(200)
    val survivors = seen.values.filter(_.isAlive).toSeq
    survivors.foreach(_.destroyForcibly())
    val log = s"stdout:\n${tail(out)}\nstderr:\n${tail(err)}"
    try {
      assert(!timedOut, s"ClusterProbe ran past ${timeoutSec}s and was killed\n$log")
      assert(survivors.isEmpty,
        s"forked processes outlived the child: ${survivors.map(_.pid).mkString(", ")}")
      assert(seen.size >= 2, s"expected two forked executor JVMs, saw ${seen.size}\n$log")
      assert(child.exitValue() === 0, log)
      val json = Files.readAllLines(out, UTF_8).asScala.filter(_.startsWith("{\"docs\"")).toSeq
      assert(json.size === 1, log)
      assert(json.head.contains("\"match\":true,\"link_match\":true"), json.head)
      // equal checksums of empty outputs would prove nothing
      for (k <- Seq("triples", "link_rows"))
        assert(s""""$k":([1-9]\\d*)""".r.findFirstIn(json.head).isDefined, json.head)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
