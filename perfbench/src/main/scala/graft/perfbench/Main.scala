package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark: runs one workload's set-up, warm-up and
  * timed ops against the engine's public functions, in one client thread,
  * and writes a run record (op times, set-up times, counters and, when
  * traced, spans and Spark jobs) as JSON. Metrics and output checks are
  * computed from that record by `run.py`.
  *
  * Usage: Main <workload> <manifest.json> <record.json> <trace 0|1>
  * The manifest, written by the input generator, names the inputs, the
  * store locations and the op sequence. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, manifestPath, recordPath, traceFlag) = args
    val m = mapper.readValue(new File(manifestPath), classOf[Map[String, Any]])
    val cores = m("cores").toString
    val t0 = System.nanoTime()
    val spark = graft.exec.ExecEnv.getOrCreate(
      appName = s"perfbench-$workload",
      master = Some(s"local[$cores]"),
      confs = Map(
        "spark.sql.shuffle.partitions" -> cores,
        // Spark's default (100 generated classes) sits at the size of these
        // workloads' working sets, so whether the cache thrashes differed
        // from JVM to JVM and moved cpu_s by up to a third (README)
        "spark.sql.codegen.cache.maxEntries" -> "1000",
        "spark.ui.enabled" -> "false",
        "spark.local.dir" -> m("spark_local_dir").toString,
        "spark.sql.warehouse.dir" -> m("warehouse_dir").toString))
    Runner.progress(s"session ${(System.nanoTime() - t0) / 1e9} s")
    spark.range(1).count() // first job: executor and scheduler start-up
    val sessionS = (System.nanoTime() - t0) / 1e9
    Runner.progress(s"first job $sessionS s, JVM up ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val tracer = new Tracer(spark, traceFlag == "1")
    val w: Workload = workload match {
      case "catalog" => new Catalog(spark, tracer, m)
      case "acon_merge" => new AconMerge(spark, tracer, m)
      case "dedup_ingest" => new DedupIngest(spark, tracer, m)
      case other => sys.error(s"unknown workload $other")
    }
    val record = Runner.run(spark, tracer, w, m("setup_reps").toString.toInt) ++
      Map("session_s" -> sessionS, "env" -> env(spark, cores.toInt))
    spark.stop()
    mapper.writeValue(new File(recordPath), record)
  }

  private def env(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "jdk" -> System.getProperty("java.version"),
    "cores" -> cores,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
}

/** One workload: how to seed its store, warm up, and run op `i`. */
trait Workload {
  def opCount: Int
  def seed(): Unit
  def warmup(): Unit
  /** Runs op `i`; returns the rows it took as input. */
  def runOp(i: Int): Long
  /** Called after op `i`, outside its time and span. */
  def afterOp(i: Int): Unit = ()
  /** Untimed measurements after the timed ops (store sizes, checks' inputs). */
  def finish(): Map[String, Any]
}

object Runner {
  private def secondsOf(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Generated classes Spark has compiled so far (code-cache misses). */
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** JIT compilation and GC time so far, all threads (ms). */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Bytes written through Hadoop's local file system by every thread of
    * this JVM (in local mode, executors included). */
  private def fsBytesWritten: Long =
    FileSystem.getGlobalStorageStatistics.iterator.asScala
      .filter(s => s.getScheme == "file").map(_.getLong("bytesWritten").longValue).sum

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(spark: SparkSession, tracer: Tracer, w: Workload, reps: Int): Map[String, Any] = {
    val seedS = (1 to reps).map(_ => secondsOf(w.seed()))
    progress(s"seed ${seedS.mkString(" ")} s")
    val warmupS = secondsOf(w.warmup())
    progress(s"warmup $warmupS s")
    val written0 = fsBytesWritten
    val (jit0, gc0) = (jitMs, gcMs)
    val t0 = System.nanoTime()
    val ops = (0 until w.opCount).map { i =>
      val start = (System.nanoTime() - t0) / 1e9
      val opCpu0 = processCpuNs
      val codegen0 = codegenCompiles
      val (rows, error) =
        try (tracer.op(s"op$i")(w.runOp(i)), "")
        catch { case e: Throwable => (0L, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
      val end = (System.nanoTime() - t0) / 1e9
      val opCpu = (processCpuNs - opCpu0) / 1e9
      val codegen = codegenCompiles - codegen0
      w.afterOp(i)
      progress(f"op $i ${end - start}%.3f s $error")
      Map("i" -> i, "start" -> start, "end" -> end, "cpu" -> opCpu, "codegen" -> codegen, "rows" -> rows, "error" -> error)
    }
    val bytesWritten = fsBytesWritten - written0
    val (jitS, gcS) = ((jitMs - jit0) / 1e3, (gcMs - gc0) / 1e3)
    val mem = retainedHeap(spark)
    val blockStore = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    val traced = tracer.records()
    Map("seed_s" -> seedS, "warmup_s" -> warmupS, "ops" -> ops,
      "bytes_written" -> bytesWritten, "jit_s" -> jitS, "gc_s" -> gcS, "retained_heap_mb" -> mem / 1048576.0,
      "block_store_bytes" -> blockStore, "finish" -> w.finish()) ++ traced
  }

  /** Heap in use after full GCs, once the listener bus is idle and Spark's
    * context cleaner has had time to drop what the GCs released (broadcast
    * and shuffle blocks of finished queries). */
  private def retainedHeap(spark: SparkSession): Long = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** The denominator of space_amp: bytes of the store's rows rewritten once
    * compactly by `write` into a scratch directory, which is deleted after.
    * Traced runs only, to keep that rewrite out of the timed runs' cost. */
  def compactBytes(spark: SparkSession, tracer: Tracer, store: String)(
      write: String => Unit): Map[String, Any] =
    if (!tracer.enabled) Map.empty
    else {
      val copy = store.stripSuffix("/") + "__compact_copy"
      write(copy)
      val bytes = dirBytes(spark, copy)
      delete(spark, copy)
      Map("compact_bytes" -> bytes)
    }

  /** Bytes of the data files under `dir` (hidden and marker files skipped). */
  def dirBytes(spark: SparkSession, dir: String): Long = fileStats(spark, dir)._2

  def fileStats(spark: SparkSession, dir: String): (Int, Long) =
    graft.maintain.IndexMaintenance.stats(spark, dir)

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
