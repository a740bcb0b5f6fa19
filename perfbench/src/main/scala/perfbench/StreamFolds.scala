package perfbench

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.Sinks
import graft.streaming.Streams

/** `stream-folds`: micro-batches of documents screened against a durable
 *  MinHash-LSH index built during set-up. Each batch probes the index,
 *  writes its survivors to a sink and appends them to the index; the
 *  index compacts every [[StreamFolds.CompactEvery]] segments.
 *
 *  The loop is closed: the next input file is published into the
 *  stream's directory only after the micro-batch that read the previous
 *  one has committed, so every micro-batch reads exactly one file. A
 *  batch's latency is its `triggerExecution` duration. */
final class StreamFolds(spark: SparkSession, data: String, work: String) extends Workload {
  import StreamFolds._
  import spark.implicits._

  private val feed = Files.parquetFiles(s"$data/feed")
  /** Rows of each feed file, as the generator wrote them. */
  private val feedRows: Seq[Long] = {
    val rows = spark.read.parquet(s"$data/truth/files").select($"file", $"rows").as[(String, Long)].collect().toMap
    feed.map(f => rows(new java.io.File(f).getName))
  }
  private val streamDir = Files.mkdirs(s"$work/stream")
  private val checkpoint = s"$work/checkpoint"
  private val indexDir = s"$work/index"
  private val sink = s"$work/survivors"
  private val base = s"$data/base"
  private val progress = new ProgressLog
  private var query: StreamingQuery = _
  /** Progress of every micro-batch so far, in order; batch i read feed(i). */
  private val done = scala.collection.mutable.ArrayBuffer.empty[Progress]
  @volatile private var tracer: Option[Tracer] = None
  /** (batch id, compacted, index bytes, index files) after each traced batch. */
  private val store = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long, Long)]

  val warmupSteps = 2 * CompactEvery
  /** The index compacts after every [[CompactEvery]]th batch. */
  override val cycle: Int = CompactEvery

  def setup(): Unit = {
    Dedup.initLshIndexDir(spark.read.parquet(base), "text", "doc_id", K, Perms, Bands, indexDir, Fingerprint)
    spark.streams.addListener(progress)
    Files.publish(feed.head, streamDir) // the source reads its schema from the directory
    query = Streams.screenIngestEvolving(Streams.parquetStream(spark, streamDir), indexDir, "text", "doc_id",
      Tau, CompactEvery, Some(Fingerprint)) { (df: DataFrame, id: Long) =>
      tracer match {
        case Some(t) => t.timed("sinks.write", id)(Sinks.write(df, s"$sink/batch=$id"))
        case None => Sinks.write(df, s"$sink/batch=$id")
      }
    }.option("checkpointLocation", checkpoint).start()
  }

  def step(tr: Option[Tracer]): Step = {
    tracer = tr
    val i = done.size
    if (i > 0) Files.publish(feed(i), streamDir)
    tr.foreach(_.streamStarted(query.runId.toString))
    val p = progress.batches.poll(120, TimeUnit.SECONDS)
    if (p == null) throw query.exception.getOrElse(new IllegalStateException(s"micro-batch $i did not finish"))
    done += p
    System.err.println(s"micro-batch ${p.batchId}: ${p.durations.toSeq.sorted.mkString(" ")}")
    tr.foreach { t =>
      val id = t.record("streaming.batch", p.batchId, p.startMs, p.endMs)
      // the parts of a trigger run one after another; laid end to end
      var at = p.startMs
      for (k <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")) {
        t.record(s"streaming.$k", p.batchId, at, at + p.ms(k), id)
        at += p.ms(k)
      }
      val (bytes, files) = Files.usage(indexDir)
      store += ((p.batchId, Files.subdirs(s"$indexDir/banded").size == 1, bytes, files))
    }
    Step(feedRows(i), p.startMs, p.endMs, p.ms("triggerExecution").toDouble)
  }

  override def hasNext: Boolean = done.size < feed.size

  def finish(): Unit = {
    query.stop()
    spark.streams.removeListener(progress)
  }

  def layers(t: Tracer, steps: Seq[Step]): Map[String, Double] = {
    val traced = done.takeRight(steps.size).toSeq
    def med(f: Progress => Double) = Main.percentile(traced.map(f), 0.5)
    val compacted = store.filter(_._2).map(_._1).toSet
    val compactMs = traced.filter(p => compacted(p.batchId)).map(_.ms("triggerExecution").toDouble)
    Map(
      "streaming.plan_ms" -> med(_.ms("queryPlanning").toDouble),
      "streaming.offset_ms" -> med(p => (p.ms("latestOffset") + p.ms("walCommit")).toDouble),
      "streaming.commit_ms" -> med(_.ms("commitOffsets").toDouble),
      "streaming.add_batch_ms" -> med(_.ms("addBatch").toDouble),
      "core.store_mb_per_batch" -> store.map(_._3).sum / 1048576.0 / store.size,
      "core.store_files_per_batch" -> store.map(_._4).sum.toDouble / store.size,
      "streaming.compaction_batches" -> compactMs.size.toDouble,
      "streaming.compaction_ms_p50" -> (if (compactMs.isEmpty) 0.0 else Main.percentile(compactMs, 0.5)),
      "sinks.write_s" -> t.spans.filter(_.name == "sinks.write").map(_.ms).sum / 1000.0 / steps.size,
      "sinks.mb_written" -> Files.usage(sink)._1 / 1048576.0 / done.size)
  }

  def check(): (Seq[String], (Int, Int)) = {
    val n = done.size
    val fileIds = spark.read.parquet(feed.take(n): _*).select($"doc_id", input_file_name())
      .as[(Long, String)].collect().groupBy(r => new java.io.File(new java.net.URI(r._2).getPath).getName)
    val batches = feed.take(n).map(f => fileIds(new java.io.File(f).getName).map(_._1).toSeq)
    val kinds = spark.read.parquet(s"$data/truth/kinds").select($"doc_id", $"kind", $"src_id")
      .as[(Long, String, Option[Long])].collect().map(r => r._1 -> (r._2, r._3.getOrElse(-1L))).toMap
    val baseIds = spark.read.parquet(base).select($"doc_id").as[Long].collect().toSet
    val byBatch = done.map(_.batchId).zipWithIndex.toMap
    val survivors = spark.read.parquet(sink).select($"batch".cast("long"), $"doc_id").as[(Long, Long)].collect()
      .groupBy(r => byBatch(r._1)).map { case (b, rs) => b -> rs.map(_._2).toSeq }
    val index = spark.read.parquet(Files.subdirs(s"$indexDir/shingles"): _*).select($"id").as[Long].collect().toSeq

    val admitted = survivors.values.flatten.toSet
    // every near copy's source sits in the base index or an earlier batch
    val near = batches.flatten.filter(id => kinds(id)._1 == "near")
    val screened = near.count(id => !admitted(id))

    // self-test: one survivor dropped, one duplicate re-admitted
    val (b0, ids0) = survivors.find(_._2.nonEmpty).get
    val dropped = survivors.updated(b0, ids0.tail)
    val dupIdx = batches.indexWhere(_.exists(id => kinds(id)._1 == "exact"))
    val dup = batches(dupIdx).find(id => kinds(id)._1 == "exact").get
    val readmitted = survivors.updated(dupIdx, survivors.getOrElse(dupIdx, Nil) :+ dup)
    (Checks.screen(batches, kinds, survivors, index, baseIds) ++ Checks.nearRecall(screened, near.size) ++
      SelfTest.expectFail("survivor", Checks.screen(batches, kinds, dropped, index, baseIds)) ++
      SelfTest.expectFail("duplicate", Checks.screen(batches, kinds, readmitted, index :+ dup, baseIds)) ++
      SelfTest.expectFail("near-duplicate recall", Checks.nearRecall(screened / 2, near.size)),
      (screened, near.size))
  }
}

object StreamFolds {
  /** The LSH parameters of q84 and every other LSH caller of the
   *  program; see [[CorpusBatch]]. */
  val K = CorpusBatch.K
  val Perms = CorpusBatch.Perms
  val Bands = CorpusBatch.Bands
  val Tau = CorpusBatch.Tau
  val CompactEvery = 4
  val Fingerprint = "perfbench"
}
