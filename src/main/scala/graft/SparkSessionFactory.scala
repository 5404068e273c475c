package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's recommended session configuration — the same
  * knobs a spark-submit deployment would set (SURVEY.md §4.2/§4.3):
  * AQE with skew-join splitting, sensible shuffle parallelism, native
  * function registration (GraftExtensions), and a codegen cache that holds
  * the engine's working set.
  *
  * Codegen cache: `CodeGenerator` keeps compiled classes in an LRU cache of
  * `spark.sql.codegen.cache.maxEntries` entries, 100 by default. The engine
  * runs many small plans per build and per micro-batch, and their distinct
  * generated classes outnumber that: a perfbench `kg_batch` JVM holds 167
  * after set-up and one build, a `kg_incremental` JVM (2 × `processBatch` +
  * `compact` per pass) 340. An LRU cycled through a set larger than itself
  * never hits, so at 100 every `kg_batch` build re-ran Janino 152–156 times
  * and every incremental pass 374–461 times, for the same classes. At 2000
  * a repeated pass compiles nothing (`CodegenCacheSpec`); what is left is
  * the first compile of an AQE plan variant not met before, a handful per
  * JVM. The bound still caps a long-lived JVM that plans ever-new queries.
  * It is a static conf, so it must be set before the first codegen, which
  * building the session here guarantees. Executors inherit it: inside a
  * task on `local-cluster[1,1,1024]`, in the executor's own JVM,
  * `SQLConf.get.codegenCacheMaxEntries` reads 2000.
  *
  * Local filesystem: `file:` paths go through [[graft.io.NioLocalFileSystem]].
  * Without the native Hadoop library (not shipped with Spark's jars), the
  * stock `RawLocalFileSystem.setPermission` forks `chmod` for every file,
  * `.crc` file and directory a write creates. A JFR recording of a
  * perfbench `kg_incremental` run counted 1,263 `chmod` starts per pass
  * (424 and 416 for its two `processBatch` calls, 423 for `compact`,
  * before bucket levels cut the state files); with the NIO filesystem it
  * counts 0, and every file keeps the mode it had
  * (`NioLocalFileSystemSpec`). Hadoop caches one filesystem per scheme per
  * JVM, whichever conf made it first, so the setting holds in a JVM whose
  * first `file:` access comes through a session built here. Streaming
  * checkpoints (offsets, commits, metadata) and `TableIO`'s atomic renames
  * go through Hadoop's other filesystem API, `FileContext`, whose `file:`
  * binding is `fs.AbstractFileSystem.file.impl`; [[graft.io.NioLocalFs]]
  * puts the same raw filesystem under it. There the stock binding also
  * forks `readlink` for both paths of every rename, to learn that neither
  * is a symlink: a one-batch `StreamLink.run` (50 `LinkCorpus` families)
  * started 45 processes under `FileContext` (13 `chmod`, 32 `readlink`),
  * and starts 0 with it (`NioLocalFileSystemSpec`). FileContext builds its
  * filesystem from the conf it is given on every call, so this setting has
  * no first-access caveat. HDFS, S3 and other schemes are untouched.
  */
object SparkSessionFactory {

  /** Per-process scratch dir under tmp (warehouse etc.): concurrent local
    * JVMs (driver + bench + tests) must not collide on table paths; a
    * shutdown hook removes it so repeated runs don't fill the host tmp. */
  def scratchDir(prefix: String): String = {
    val dir = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/$prefix-${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))))
    dir
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // compile each generated class once per JVM (see the object doc)
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      // set file: permissions in-process, not by forking chmod (object doc)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // list ≤128 partition dirs on the driver: the default threshold (32)
      // launches a distributed listing JOB for the 64-bucket state tables,
      // which costs more than the listing itself at any deployment size —
      // the job path exists for thousands of object-store paths, not dozens
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      // bucketed-table warehouse (co-located joins); a deployment overrides
      // this with its real metastore/warehouse
      .config("spark.sql.warehouse.dir", scratchDir("graft-warehouse"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  private val LocalClusterMaster = """local-cluster\[\s*\d+\s*,\s*\d+\s*,\s*(\d+)\s*]""".r

  def local(cpus: Int, appName: String = "graft"): SparkSession =
    sys.env.get("SPARK_GRAFT_MASTER") match {
      // manual override (e.g. SPARK_GRAFT_MASTER=local-cluster[2,8,4096]
      // sbt "runMain graft.Verify ...") — the whole battery under a real
      // multi-JVM master without touching callers
      case Some(m) if m.startsWith("local-cluster") => cluster(m, appName)
      case _ =>
        val s = builder(s"local[$cpus]", math.max(cpus, 4)).appName(appName).getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
    }

  /** Multi-JVM session: `local-cluster[workers,coresPerWorker,memMB]` forks
    * real executor processes through the standalone Worker path, so closure /
    * broadcast serialization, task-result transport, and the per-executor
    * lazy singletons actually cross a process boundary — the in-sandbox
    * stand-in for spark-submit on a real cluster (north_rule). Executor JVMs
    * are built from SPARK_HOME, which knows nothing of this build, so the
    * application classes are handed over via `spark.executor.extraClassPath`
    * (this JVM's own classpath — the forked sbt run JVM carries the full
    * app classpath) and the JDK-17 module opens via the launcher's own
    * [[org.apache.spark.launcher.JavaModuleOptions]]. Each executor gets
    * its worker's whole `memMB`: a worker can never grant an executor more
    * than it has, and Spark refuses a `local-cluster` master whose executor
    * memory exceeds it. */
  def cluster(master: String, appName: String = "graft-cluster"): SparkSession = {
    val workerMem = master match {
      case LocalClusterMaster(mem) => mem
      case _ => throw new IllegalArgumentException(
        s"$master is not a local-cluster[workers,coresPerWorker,memMB] master")
    }
    val appCp = sys.props.getOrElse("java.class.path", "")
    val s = builder(master, 32).appName(appName)
      .config("spark.executor.memory", s"${workerMem}m")
      .config("spark.executor.extraClassPath", appCp)
      .config("spark.executor.extraJavaOptions",
        org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
