package graft.perfbench

import graft.SparkEntry
import graft.algo.DataLoader
import graft.functions.{DedupFunctions, Kernels, MinhashIndex, TextFunctions}
import graft.maintain.IndexMaintenance
import graft.spec.{AconValidation, Specs}
import graft.streaming.StreamingDedup
import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `catalog`: op i forces one `SparkEntry.queries` entry through the noop
  * sink. The warm-up runs every query of the run once, writing its output
  * as parquet for the DuckDB oracle check; the timed op then runs the same
  * plan a second time. */
final class Catalog(spark: SparkSession, tracer: Tracer, m: Map[String, Any]) extends Workload {
  private val dir = m("data_dir").toString
  private val checkDir = m("check_dir").toString
  private val order = m("queries").asInstanceOf[Seq[String]]
  private val tables = m("table_rows").asInstanceOf[Map[String, Any]]
    .map { case (k, v) => k -> v.toString.toLong }
  private val queries = SparkEntry.queries
  private val inputRows = scala.collection.mutable.Map.empty[String, Long]
  private val checkErrors = scala.collection.mutable.Map.empty[String, String]

  def opCount: Int = order.size

  /** Nothing to build: the test tables are the store. */
  def seed(): Unit = ()

  def warmup(): Unit = {
    order.distinct.foreach { name =>
      try {
        val df = queries(name)(spark, dir)
        // rows of the distinct tables the query's plan scans
        inputRows(name) = df.inputFiles.map(f => Paths.get(new java.net.URI(f)).getFileName
          .toString.stripSuffix(".parquet")).distinct.flatMap(tables.get).sum
        df.write.mode("overwrite").parquet(s"$checkDir/$name")
      } catch { case e: Throwable => checkErrors(name) = s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    }
  }

  def runOp(i: Int): Long = {
    val name = order(i)
    val df = tracer.span("queries.build")(queries(name)(spark, dir))
    tracer.span("queries.force")(df.write.format("noop").mode("overwrite").save())
    inputRows.getOrElse(name, 0L)
  }

  def finish(): Map[String, Any] = Map(
    "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) },
    "check_errors" -> checkErrors.toMap)
}

/** `acon_merge`: op i runs one delta-load ACON (parquet change batch ->
  * condense_record_mode_cdc -> DQ -> merge into a month-partitioned target)
  * through `Engine.loadData`. Traced ops run the same pipeline through the
  * `DataLoader` phase methods so each phase gets a span. */
final class AconMerge(spark: SparkSession, tracer: Tracer, m: Map[String, Any]) extends Workload {
  private val target = m("target").toString
  private val initAcon = m("init_acon").toString
  private val warmAcons = m("warmup_acons").asInstanceOf[Seq[String]]
  private val acons = m("acons").asInstanceOf[Seq[String]]
  private val batchRows = m("batch_rows").asInstanceOf[Seq[Any]].map(_.toString.toLong)
  private val partCol = m("partition_col").toString
  private val rewritten = scala.collection.mutable.ArrayBuffer.empty[Int]
  private var listed = Map.empty[String, Set[String]]

  def opCount: Int = acons.size

  def seed(): Unit = {
    Runner.delete(spark, target)
    graft.Engine.loadData(spark, initAcon)
  }

  def warmup(): Unit = {
    warmAcons.foreach(a => graft.Engine.loadData(spark, a))
    if (tracer.enabled) listed = partitionFiles()
  }

  def runOp(i: Int): Long = {
    if (!tracer.enabled) graft.Engine.loadData(spark, acons(i))
    else {
      graft.exec.EngineUsage.record(spark, acons(i), "load_data")
      val acon = tracer.span("spec.parse") {
        val a = Specs.parseAcon(acons(i)); AconValidation.validate(a); a
      }
      val loader = new DataLoader(spark, acon)
      tracer.span("io.read")(loader.read())
      tracer.span("transform.apply")(loader.transform())
      tracer.span("dq.run")(loader.processDq())
      tracer.span("io.write")(loader.write())
      loader.terminate()
    }
    batchRows(i)
  }

  /** Traced runs count the partitions each load rewrote, from listings of
    * the target taken between ops, outside the op's time and span. */
  override def afterOp(i: Int): Unit = if (tracer.enabled) {
    val after = partitionFiles()
    rewritten += (listed.keySet ++ after.keySet).count(p => listed.get(p) != after.get(p))
    listed = after
  }

  /** partition dir -> its data file names */
  private def partitionFiles(): Map[String, Set[String]] = {
    val root = new java.io.File(target)
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      d.getName -> Option(d.list()).toSeq.flatten.filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    }.toMap
  }

  def finish(): Map[String, Any] = {
    val (files, bytes) = Runner.fileStats(spark, target)
    Map("store_files" -> files, "store_bytes" -> bytes,
      "partitions_rewritten" -> rewritten.toList) ++
      Runner.compactBytes(spark, tracer, target) { copy =>
        spark.read.parquet(target).repartition(col(partCol))
          .write.mode("overwrite").partitionBy(partCol).parquet(copy)
      }
  }
}

/** `dedup_ingest`: op i runs one `StreamingDedup.dedupBatch` micro-batch
  * against a MinHash index, with a parquet append as the sink, followed by
  * `IndexMaintenance.compactIfNeeded` on the index's file count. */
final class DedupIngest(spark: SparkSession, tracer: Tracer, m: Map[String, Any]) extends Workload {
  private val corpus = m("corpus").toString
  private val indexDir = m("index_dir").toString
  private val sinkDir = m("sink_dir").toString
  private val warmBatches = m("warmup_batches").asInstanceOf[Seq[String]]
  private val batches = m("batches").asInstanceOf[Seq[String]]
  private val batchDocs = m("batch_docs").toString.toLong
  private val maxFiles = m("compact_max_files").toString.toInt
  private var index: MinhashIndex = _
  private var compactions = 0
  private var bytesRewritten = 0L

  def opCount: Int = batches.size

  def seed(): Unit = {
    Runner.delete(spark, sinkDir)
    index = MinhashIndex.build(spark.read.parquet(corpus), "doc_id", "text", indexDir)
  }

  def warmup(): Unit = {
    warmBatches.foreach(ingest)
    compactions = 0 // count the timed ops' compactions only
    bytesRewritten = 0L
  }

  def runOp(i: Int): Long = { ingest(batches(i)); batchDocs }

  private def ingest(batchDir: String): Unit = {
    val batch = spark.read.parquet(batchDir)
    var sinkEnd = 0.0
    tracer.span("streaming.dedup_batch") {
      StreamingDedup.dedupBatch(batch, "doc_id", "text", index, { survivors =>
        tracer.span("streaming.sink")(survivors.write.mode("append").parquet(sinkDir))
        sinkEnd = tracer.nowMs
      })
      tracer.closedSpan("functions.index_append", sinkEnd, tracer.nowMs)
    }
    tracer.span("maintain.compact") {
      IndexMaintenance.compactIfNeeded(spark, indexDir, maxFiles, partitionBy = Seq("band"))
        .foreach { r => compactions += 1; bytesRewritten += r.bytes }
    }
  }

  def finish(): Map[String, Any] = {
    val (indexFiles, indexBytes) = Runner.fileStats(spark, indexDir)
    val sinkBytes = Runner.dirBytes(spark, sinkDir)
    Map("store_files" -> indexFiles, "store_bytes" -> (indexBytes + sinkBytes),
      "compactions" -> compactions, "num_bands" -> index.numBands,
      "bytes_rewritten" -> bytesRewritten) ++
      Runner.compactBytes(spark, tracer, indexDir) { copy =>
        spark.read.parquet(indexDir).repartition(col("band"))
          .write.mode("overwrite").partitionBy("band").parquet(s"$copy/index")
        spark.read.parquet(sinkDir).coalesce(1).write.mode("overwrite").parquet(s"$copy/sink")
      } ++
      (if (tracer.enabled) Map("minhash_ns_per_token" -> minhashNsPerToken()) else Map.empty)
  }

  /** The MinHash kernel alone over the run's batch texts, noop-forced:
    * median of five passes, per whitespace token. */
  private def minhashNsPerToken(): Double = {
    val texts = spark.read.parquet(batches: _*).select("text").localCheckpoint(true)
    val tokens = texts.select(sum(size(TextFunctions.whitespaceTokens(col("text"))))).head.getLong(0)
    val (as, bs) = DedupFunctions.minhashCoefficients(index.numHashes)
    val prime = (1L << 31) - 1 // DedupFunctions.MinhashPrime
    val kernel = texts.select(Kernels.shingleMinhash(
      TextFunctions.whitespaceTokens(col("text")), index.shingleSize, as, bs, prime))
    val runs = (1 to 5).map { _ =>
      val t = System.nanoTime()
      kernel.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t).toDouble
    }.sorted
    runs(2) / tokens
  }
}
