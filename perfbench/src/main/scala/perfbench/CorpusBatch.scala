package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{MathCompiler, MathOp}
import graft.functions.{BpeExpressions, HashExpressions, TextStats}
import graft.multimodal.{Media, MediaRecord}
import graft.operators.{Bpe, Dedup, Quality}
import graft.sources.{Sinks, Sources}

/** `corpus-batch`: each single-file shard of a document corpus is one
 *  batch through the curation chain read → math → Gopher rules → exact
 *  and near dedup → BPE ids → image resize → write. */
final class CorpusBatch(spark: SparkSession, data: String, work: String) extends Workload {
  import CorpusBatch._
  import spark.implicits._

  private val shardDir = s"$data/shards"
  private val shards = Files.parquetFiles(shardDir).map(p => new java.io.File(p).getName.stripSuffix(".parquet"))
  private val out = s"$work/out"
  private var merges: Seq[(String, String)] = Nil
  private var batch = 0
  /** Shard of every batch run so far. */
  private val shardOfBatch = scala.collection.mutable.ArrayBuffer.empty[String]

  val warmupSteps = 5

  def setup(): Unit =
    merges = Bpe.train(spark.read.parquet(shards.take(TrainShards).map(s => s"$shardDir/$s.parquet"): _*),
      "text", Merges)

  def step(tr: Option[Tracer]): Step = {
    val b = batch
    val shard = shards(b % shards.size)
    batch += 1
    shardOfBatch += shard
    val t0 = Tracer.nowMs()
    val rows = tr match {
      case None => chain(shard, b, new Plain)
      case Some(t) => t.span("batch", b)(chain(shard, b, new Traced(t, b)))
    }
    val t1 = Tracer.nowMs()
    Step(rows, t0, t1, t1 - t0)
  }

  /** The chain of one shard, written once; `st` decides how each stage
   *  runs. Returns the shard's input rows. */
  private def chain(shard: String, b: Int, st: Stages): Long = try {
    val docs = st.stage("sources.scan")(Sources.table(spark, shardDir, shard))
    val withMath = st.stage("core.math")(MathCompiler(MathCompiler(docs, OpTotal), OpRatio))
    val s = st.stage("operators.quality", shared = true)(
      withMath.join(Quality.gopherRules(docs, "doc_id", "text").select("doc_id", "n_words", "keep"), "doc_id"))
    val passed = s.filter(col("keep"))
    st.probe("functions.kernel") {
      passed.select(
        HashExpressions.minhashSig(HashExpressions.shingleHashes(col("text"), K), Perms),
        BpeExpressions.encodeTokens(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)), merges),
        TextStats(col("text"))).write.format("noop").mode("overwrite").save()
    }
    val (groups, pairs, kept) = st.group("operators.dedup") {
      val groups = st.out()(Dedup.exactGroups(passed, "text", "doc_id"))
      val candidates = passed.join(groups.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      val pairs = st.out(shared = true)(Dedup.minhashLshPairs(candidates, "text", "doc_id", K, Perms, Bands, Tau))
      (groups, pairs, st.out(shared = true)(Dedup.applyKeepFirst(candidates, "doc_id", pairs)))
    }
    val tokens = st.stage("operators.bpe")(Bpe.encodeIds(kept, "text", "doc_id", merges))
    val images = st.stage("multimodal.resize")(
      Media.resize(kept.select(col("doc_id"), col("png").as("bytes"), lit("image/png").as("mime"))
        .as[MediaRecord], Thumb, Thumb).toDF())
    st.group("sinks.write") {
      def write(kind: String, df: DataFrame): Unit = Sinks.write(df, s"$out/$kind/batch=$b")
      write("scored", s.select("doc_id", "total", "ratio", "n_words", "keep"))
      write("groups", groups)
      write("pairs", pairs)
      write("tokens", tokens)
      write("thumbs", images)
    }
    s.count()
  } finally st.release()

  def layers(t: Tracer, steps: Seq[Step]): Map[String, Double] = {
    val self = t.selfMs
    val n = steps.size.toDouble
    def perBatchS(name: String) = t.spans.filter(_.name == name).map(s => self(s.id)).sum / 1000.0 / n
    val written = Files.usage(out)._1 / 1048576.0
    Map(
      "sources.scan_s" -> perBatchS("sources.scan"),
      "sources.scan_tasks" -> t.tasksOf("sources.scan").size / n,
      "core.math_s" -> perBatchS("core.math"),
      "functions.kernel_s" -> perBatchS("functions.kernel"),
      "operators.quality_s" -> perBatchS("operators.quality"),
      "operators.dedup_s" -> perBatchS("operators.dedup"),
      "operators.bpe_s" -> perBatchS("operators.bpe"),
      "multimodal.resize_s" -> perBatchS("multimodal.resize"),
      "sinks.write_s" -> perBatchS("sinks.write"),
      "sinks.mb_written" -> written / batch)
  }

  def finish(): Unit = ()

  def check(): (Seq[String], (Int, Int)) = {
    val inputs = spark.read.parquet(shards.map(s => s"$shardDir/$s.parquet"): _*)
      .select($"doc_id", $"text", $"a", $"b".cast("double"), $"c", input_file_name())
      .as[(Long, String, Option[Double], Option[Double], Option[Double], String)].collect()
    val docsOf = inputs.groupBy(r => new java.io.File(new java.net.URI(r._6).getPath).getName.stripSuffix(".parquet"))
    val planted = spark.read.parquet(s"$data/truth/near").select($"src_id", $"dup_id").as[(Long, Long)].collect()
    val codec = new Checks.Bpe(merges)

    def readKind(kind: String) = spark.read.parquet(s"$out/$kind")
    val scoredOut = readKind("scored")
      .select($"batch", $"doc_id", $"total", $"ratio", $"n_words", $"keep")
      .as[(Int, Long, Double, Double, Long, Boolean)].collect().groupBy(_._1)
    val groupsOut = readKind("groups").select($"batch", $"content_hash", $"keep_id", $"n_copies")
      .as[(Int, String, Long, Long)].collect().groupBy(_._1)
    val pairsOut = readKind("pairs").select($"batch", $"id_a", $"id_b")
      .as[(Int, Long, Long)].collect().groupBy(_._1)
    val tokensOut = readKind("tokens").groupBy($"batch", $"doc_id")
      .agg(sort_array(collect_list(struct($"pos", $"token_id"))).as("t"))
      .select($"batch", $"doc_id", $"t.token_id")
      .as[(Int, Long, Seq[Int])].collect().groupBy(_._1)
    val thumbsOut = readKind("thumbs").select($"batch", $"doc_id", $"bytes")
      .as[(Int, Long, Array[Byte])].collect().groupBy(_._1)

    var found, plantedHere = 0
    val failures = shardOfBatch.zipWithIndex.flatMap { case (shard, b) =>
      val docs = docsOf(shard)
      val texts = docs.map(d => d._1 -> d._2).toMap
      val mathWant = docs.flatMap { d =>
        val total = Checks.fold("sum", Seq(d._3, d._4, Some(3.0)))
        Seq((d._1, "total") -> total, (d._1, "ratio") -> Checks.fold("div", Seq(Some(total), d._5)))
      }.toMap
      val sc = scoredOut.getOrElse(b, Array.empty)
      val mathGot = sc.toSeq.flatMap(r => Seq((r._2, "total") -> r._3, (r._2, "ratio") -> r._4))
      val passed = texts.filter { case (_, t) => Checks.gopher(t)._2 }
      val keepers = passed.groupBy(_._2).values.map(_.keys.min).toSet
      val candidates = passed.filter { case (id, _) => keepers(id) }
      val pairs = pairsOut.getOrElse(b, Array.empty).map(p => (p._2, p._3)).toSeq
      val reported = pairs.toSet
      val want = planted.filter(p => candidates.contains(p._1) && candidates.contains(p._2))
      found += want.count(reported)
      plantedHere += want.length
      val kept = candidates.keySet -- pairs.map(_._2)
      val tokens = tokensOut.getOrElse(b, Array.empty).map(r => r._2 -> r._3).toMap
      val images = thumbsOut.getOrElse(b, Array.empty).map(r => (r._2, r._3)).toSeq

      val failed = Checks.math(mathWant, mathGot) ++
        Checks.quality(texts, sc.map(r => r._2 -> (r._5, r._6)).toMap) ++
        Checks.exactGroups(passed, groupsOut.getOrElse(b, Array.empty).map(g => (g._2, g._3, g._4)).toSeq) ++
        Checks.nearPairs(candidates, pairs, K, Tau) ++
        Checks.sameIds("tokens", kept, tokens.keys.toSeq) ++
        Checks.bpe(codec, candidates.filter(d => kept(d._1)), tokens) ++
        Checks.sameIds("thumbs", kept, images.map(_._1)) ++
        Checks.resize(images, Thumb, Thumb)

      // self-test on the first batch: a corrupted copy must fail
      val selfTest = if (b > 0) Nil else {
        val (k0, v0) = mathGot.head
        val badMath = ((k0, v0 + 1.0)) +: mathGot.tail
        val (id0, ids0) = tokens.find(_._2.nonEmpty).get
        val badTokens = tokens.updated(id0, (ids0.head + 1) +: ids0.tail)
        SelfTest.expectFail("math", Checks.math(mathWant, badMath)) ++
          SelfTest.expectFail("BPE", Checks.bpe(codec, candidates.filter(d => kept(d._1)), badTokens))
      }
      failed.map(f => s"batch $b: $f") ++ selfTest
    }
    (failures.toSeq ++ Checks.nearRecall(found, plantedHere) ++
      SelfTest.expectFail("near-duplicate recall", Checks.nearRecall(found / 2, plantedHere)),
      (found, plantedHere))
  }
}

/** How [[CorpusBatch]]'s chain runs its stages. */
private abstract class Stages {
  private val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  protected def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned += p
    p
  }
  def release(): Unit = pinned.foreach(_.unpersist())

  /** The output of a stage; `shared` marks a frame that more than one
   *  consumer reads. */
  def out(shared: Boolean = false)(df: DataFrame): DataFrame
  /** A region of the chain that is one layer. */
  def group[T](name: String)(body: => T): T
  /** Work done only to time a layer alone. */
  def probe(name: String)(body: => Unit): Unit
  def stage(name: String, shared: Boolean = false)(df: => DataFrame): DataFrame =
    group(name)(out(shared)(df))
}

/** As a user runs the chain: only frames with several consumers are
 *  pinned. */
private final class Plain extends Stages {
  def out(shared: Boolean)(df: DataFrame): DataFrame = if (shared) pin(df) else df
  def group[T](name: String)(body: => T): T = body
  def probe(name: String)(body: => Unit): Unit = ()
}

/** Every stage's output is pinned and materialised alone (a noop
 *  write), and every layer is a span. */
private final class Traced(t: Tracer, b: Int) extends Stages {
  def out(shared: Boolean)(df: DataFrame): DataFrame = {
    val p = pin(df)
    p.write.format("noop").mode("overwrite").save()
    p
  }
  def group[T](name: String)(body: => T): T = t.span(name, b)(body)
  def probe(name: String)(body: => Unit): Unit = t.span(name, b)(body)
}

object CorpusBatch {
  val TrainShards = 1
  val Merges = 200
  /** MinHash-LSH parameters of every LSH caller in the program
   *  (`SparkEntry`'s shared pairs, q78 and q84): word 3-shingles, 16
   *  permutations in 4 bands, Jaccard threshold 0.8. */
  val K = 3
  val Perms = 16
  val Bands = 4
  val Tau = 0.8
  val Thumb = 24
  val OpTotal: MathOp = MathOp("Operation" -> "sum", "Field" -> "a", "Field" -> "b",
    "Constant" -> "3", "Output_field" -> "total")
  val OpRatio: MathOp = MathOp("Operation" -> "div", "Field" -> "total", "Field" -> "c",
    "Output_field" -> "ratio")
}
