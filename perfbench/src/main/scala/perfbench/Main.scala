package perfbench

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One closed-loop batch: rows it read, its wall interval (epoch ms)
 *  and its latency. */
final case class Step(rows: Long, startMs: Double, endMs: Double, latencyMs: Double)

/** A workload of the benchmark. `step` runs one batch to its end (the
 *  next batch starts only after it returns). */
trait Workload {
  /** Untimed batches run after set-up and counted in `setup_s`; a
   *  whole number of cycles. */
  def warmupSteps: Int
  /** Batches in one round of the workload's periodic work. A timed
   *  phase runs whole rounds, so every run holds the same share of
   *  each kind of batch. */
  def cycle: Int = 1
  /** Program set-up the workload needs before its first batch. */
  def setup(): Unit
  def step(tr: Option[Tracer]): Step
  /** False once the workload's inputs are used up; the timed phase then
   *  ends early. */
  def hasNext: Boolean = true
  /** Stops whatever `setup` started. */
  def finish(): Unit
  /** Output checks, self-test included: the failures found, and how
   *  many of the planted near duplicates the program caught, of how many. */
  def check(): (Seq[String], (Int, Int))
  /** Workload-specific per-layer metrics of the traced phase. */
  def layers(tr: Tracer, steps: Seq[Step]): Map[String, Double]
}

/** Runs one workload in this JVM and prints one result line:
 *
 *    PERFBENCH_RESULT {"timed_start_ms": ..., "attempted": ..., ...}
 *
 *  `perfbench/run.py` starts this JVM, turns the line into the
 *  benchmark's output and adds `setup_s`, which is measured from the
 *  moment it started the JVM to `timed_start_ms`.
 *
 *  Untraced (`--trace 0`): set-up, warm-up, then batches until
 *  `--seconds` have passed; end-to-end metrics only.
 *  Traced (`--trace 1`): the same set-up and warm-up, then half the time
 *  untraced and half traced; per-layer metrics from the traced half,
 *  and their ratio of rows per second as the tracing overhead. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", Files.mkdirs(s"$work/spark-local"))
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"session ready at ${Tracer.nowMs()}%.0f")
    val w: Workload = a("workload") match {
      case "corpus-batch" => new CorpusBatch(spark, a("data"), work)
      case "stream-folds" => new StreamFolds(spark, a("data"), work)
    }
    val result = try run(spark, w, a("seconds").toDouble, a("trace") == "1", work)
    finally spark.stop()
    println("PERFBENCH_RESULT " + Json.obj(result))
  }

  private def run(spark: SparkSession, w: Workload, seconds: Double, traced: Boolean,
      work: String): Map[String, Any] = {
    require(w.warmupSteps % w.cycle == 0)
    w.setup()
    System.err.println(f"setup done at ${Tracer.nowMs()}%.0f")
    (0 until w.warmupSteps).foreach { _ =>
      val s = w.step(None)
      System.err.println(f"warm-up batch ${s.latencyMs}%.1f ms")
    }
    val timedStart = Tracer.nowMs()
    val jvm0 = Jvm.snapshot()
    Jvm.resetHeapPeak()
    val plain = loop(w, None, if (traced) seconds / 2 else seconds)
    val jvm1 = Jvm.snapshot()
    val heapPeak = Jvm.heapPeakMb()
    val (all, metrics) =
      if (!traced) (plain, endToEnd(plain))
      else {
        val tr = new Tracer(spark)
        tr.start()
        val steps = try loop(w, Some(tr), seconds / 2) finally tr.stop()
        val layer = common(tr, steps) ++ w.layers(tr, steps) ++ Map(
          "jvm.gc_s" -> (jvm1.gcMs - jvm0.gcMs) / 1000.0,
          "jvm.heap_peak_mb" -> heapPeak,
          "jvm.jit_ms_timed" -> (jvm1.jitMs - jvm0.jitMs).toDouble,
          "bench.trace_overhead" -> rowsPerS(steps) / rowsPerS(plain))
        tr.writeSpans(s"$work/spans.jsonl")
        (plain ++ steps, layer)
      }
    val rss = Jvm.rssPeakMb()
    w.finish()
    System.err.println(f"checks start at ${Tracer.nowMs()}%.0f")
    val (failures, (found, planted)) = w.check()
    System.err.println(f"checks done at ${Tracer.nowMs()}%.0f")
    val reported = if (!traced) metrics
      else metrics + ("operators.near_dup_recall" -> (if (planted == 0) 1.0 else found.toDouble / planted))
    if (traced) Files.writeLines(s"$work/layers.json", Seq(Json.obj(reported)))
    System.err.println(s"CHECK near duplicates caught: $found of $planted")
    failures.take(20).foreach(f => System.err.println("CHECK FAILED: " + f))
    Map(
      "timed_start_ms" -> timedStart,
      "attempted" -> all.size,
      "failed" -> math.min(failures.size, all.size),
      "correct" -> failures.isEmpty,
      "rss_peak_mb" -> rss,
      "metrics" -> reported)
  }

  /** Whole rounds of batches until `seconds` have passed. */
  private def loop(w: Workload, tr: Option[Tracer], seconds: Double): Seq[Step] = {
    val deadline = Tracer.nowMs() + seconds * 1000
    val out = scala.collection.mutable.ArrayBuffer.empty[Step]
    do {
      val s = w.step(tr)
      System.err.println(f"batch ${s.latencyMs}%.1f ms, ${s.rows} rows")
      out += s
    } while ((Tracer.nowMs() < deadline || out.size % w.cycle != 0) && w.hasNext)
    out.toSeq
  }

  private def rowsPerS(steps: Seq[Step]): Double =
    steps.map(_.rows).sum / ((steps.last.endMs - steps.head.startMs) / 1000.0)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** A run holds fewer than forty batches, too few for a tail
   *  percentile with ten samples beyond it, so latency is the median. */
  private def endToEnd(steps: Seq[Step]): Map[String, Double] = Map(
    "rows_per_s" -> rowsPerS(steps),
    "batch_ms_p50" -> percentile(steps.map(_.latencyMs), 0.5))

  /** Spark counters of the traced phase, per batch. */
  private def common(tr: Tracer, steps: Seq[Step]): Map[String, Double] = {
    val n = steps.size.toDouble
    val mb = 1048576.0
    val tasks = tr.tasks
    Map(
      "spark.jobs_per_batch" -> tr.jobs / n,
      "spark.tasks_per_batch" -> tasks.size / n,
      "spark.idle_ms_per_batch" -> steps.map(s => tr.idleMs(s.startMs, s.endMs)).sum / n,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "spark.shuffle_mb" -> tasks.map(_.shuffleBytes).sum / mb / n,
      "spark.spill_mb" -> tasks.map(_.spillBytes).sum / mb / n,
      "spark.jobs_unattributed" -> tr.jobsUnattributed.toDouble)
  }
}

/** JSON with the json4s that ships with Spark. */
object Json {
  def obj(m: Map[String, Any]): String = org.json4s.jackson.Serialization.write(m)(org.json4s.DefaultFormats)
}
