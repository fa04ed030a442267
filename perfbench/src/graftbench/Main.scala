package graftbench

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** State shared by a run's set-ups and windows: the session, the seed, a
  * scratch area, the op counters and (in a traced run) the span recorder.
  */
final class Ctx(val spark: SparkSession, val seed: Long, scratch: String) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  private var dirs = 0

  def span[T](name: String, layer: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, layer)(body)
    case None => body
  }

  /** One closed-loop op: times the call (as a span of `layer` when
    * tracing), then checks its output outside the timed part. A thrown
    * error or a failed check counts as a failed op.
    */
  def op[T](name: String, layer: String, samples: Samples)(call: => T)(check: T => Boolean): Option[T] = {
    attempted += 1
    try {
      val (v, ms) = Clock.timed(span(name, layer)(call))
      samples.add(ms)
      System.err.println(f"op $name $ms%.1f ms")
      if (!check(v)) { failed += 1; System.err.println(s"check failed: $name") }
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"op failed: $name: $e")
        None
    }
  }

  def freshDir(tag: String): String = { dirs += 1; s"$scratch/tables/$tag-$dirs" }

  def delete(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** What a workload and each part of one share: inputs made from the seed in
  * set-up, per-layer metrics of a traced window, and negative controls.
  */
trait Ops {
  def setup(ctx: Ctx): Unit
  /** Per-layer metrics of the last (traced) set-up and window. */
  def layers(ctx: Ctx, t: TraceData): Map[String, Metric]
  /** For each end-to-end metric, the span names of the ops it times. */
  def opSpans: Map[String, Seq[String]]
  def teardown(ctx: Ctx): Unit
  /** Each check fed a corrupted copy of a real output: (control, it failed). */
  def negativeControls(ctx: Ctx): Seq[(String, Boolean)]
  /** Extra, non-numeric facts for the traced report. */
  def notes: Map[String, Any] = Map.empty
}

/** One workload: a set-up that builds its inputs and tables from the seed,
  * and a closed-loop window of timed ops whose outputs are all checked.
  */
trait Workload extends Ops {
  /** Once per process, after the set-ups and before the window: every op
    * of the window, untimed, so that the JIT and Spark's driver-side paths
    * are warm when timing starts.
    */
  def warmup(ctx: Ctx): Unit
  /** Runs ops for at least `seconds` (and the minimum sample counts);
    * returns the end-to-end metrics other than setup_s.
    */
  def window(ctx: Ctx, seconds: Int): Map[String, Metric]
}

/** A group of ops that a workload runs in rounds, between the rounds of
  * its other parts.
  */
trait Part extends Ops {
  /** Clears the samples. */
  def begin(ctx: Ctx): Unit
  /** One round of the part's ops, each timed and checked. */
  def rep(ctx: Ctx): Unit
  /** End-to-end metrics of the rounds since `begin`. */
  def metrics: Map[String, Metric]
}

/** A workload that runs its parts in turn, one round each, until the window
  * has lasted `seconds` and held `minReps` rounds: a drift of the machine's
  * speed during the window reaches every metric alike. Its warm-up is two
  * such rounds on the set-up's inputs, whose ops are checked but not timed:
  * after one, the timed rounds still ran up to a third faster in a second
  * window of the same process.
  */
final class Mixed(parts: Seq[Part], minReps: Int) extends Workload {
  def setup(ctx: Ctx): Unit = parts.foreach { p =>
    val s = Clock.timed(p.setup(ctx))._2 / 1000
    System.err.println(f"set-up ${p.getClass.getSimpleName} $s%.2f s")
  }

  def warmup(ctx: Ctx): Unit = (1 to 2).foreach(_ => parts.foreach { p => p.begin(ctx); p.rep(ctx) })

  def window(ctx: Ctx, seconds: Int): Map[String, Metric] = {
    parts.foreach(_.begin(ctx))
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < minReps || System.nanoTime() - t0 < seconds * 1e9) {
      parts.foreach(_.rep(ctx))
      reps += 1
    }
    parts.map(_.metrics).reduce(_ ++ _)
  }

  def layers(ctx: Ctx, t: TraceData): Map[String, Metric] = parts.map(_.layers(ctx, t)).reduce(_ ++ _)
  def opSpans: Map[String, Seq[String]] = parts.map(_.opSpans).reduce(_ ++ _)
  def teardown(ctx: Ctx): Unit = parts.foreach(_.teardown(ctx))
  def negativeControls(ctx: Ctx): Seq[(String, Boolean)] = parts.flatMap(_.negativeControls(ctx))
  override def notes: Map[String, Any] = parts.map(_.notes).reduce(_ ++ _)
}

object Workload {
  val Names = Seq("skewed", "uniform", "lifecycle")
  val HigherIsBetter = Set("encode_mb_per_s", "decode_mb_per_s")

  /** skewed: 80 % of the pages on 5 % of hosts, and a corpus whose word
    * frequencies favour low word indices; uniform: pages spread over all
    * hosts alike, and every word drawn alike. Both run the bulk-load and
    * curation ops in turn.
    */
  def apply(name: String, tiny: Boolean): Workload = {
    def mixed(skew: Boolean, wordSkew: Double) = new Mixed(Seq(
      new BulkLoad(if (tiny) 300 else 1000, skew),
      new CurateSearch(if (tiny) 300 else 3000, wordSkew)), minReps = if (tiny) 1 else 2)
    name match {
      case "skewed" => mixed(skew = true, wordSkew = 1.5)
      case "uniform" => mixed(skew = false, wordSkew = 1.0)
      case "lifecycle" => new Lifecycle(if (tiny) 300 else 400, tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

object Main {
  val SetupReps = 3

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val scratch = arg(args, "--scratch").getOrElse(".bench_build/scratch")
    val reportPath = arg(args, "--report")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.shuffle.partitions", (4 * nproc).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sparkReadySec = (System.currentTimeMillis() - jvmStart) / 1000.0
    val code =
      try {
        if (args.contains("--selftest")) SelfTest.run(spark, scratch)
        else {
          run(spark, scratch, arg(args, "--workload").get, arg(args, "--seed").get.toLong,
            arg(args, "--seconds").get.toInt, arg(args, "--trace").contains("1"), sparkReadySec,
            reportPath)
          0
        }
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      } finally spark.stop()
    sys.exit(code)
  }

  def run(spark: SparkSession, scratch: String, name: String, seed: Long, seconds: Int,
      trace: Boolean, sparkReadySec: Double, reportPath: Option[String]): Unit = {
    val ctx = new Ctx(spark, seed, scratch)
    val w = Workload(name, tiny = false)
    // set-up time: process start to a ready session, the median of several
    // identical set-ups, and the one-time warm-up
    val setupSec = (1 to SetupReps).map { i =>
      if (i > 1) w.teardown(ctx)
      Clock.timed(w.setup(ctx))._2 / 1000.0
    }
    val warmSec = Clock.timed(w.warmup(ctx))._2 / 1000.0
    val setupS = sparkReadySec + Stats.median(setupSec) + warmSec
    System.err.println(f"setup: spark $sparkReadySec%.2f s, set-ups ${setupSec.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"warm-up $warmSec%.2f s")
    val e2e = w.window(ctx, seconds) + ("setup_s" -> Metric(setupS, "s"))

    val metrics =
      if (!trace) e2e
      else {
        w.teardown(ctx)
        val tracer = new Tracer(spark.sparkContext)
        ctx.tracer = Some(tracer)
        w.setup(ctx)
        val traced = w.window(ctx, seconds)
        ctx.tracer = None
        tracer.drain()
        tracer.close()
        val data = tracer.snapshot()
        val overhead = traced.map { case (k, m) =>
          val u = e2e(k).value
          val pct = if (Workload.HigherIsBetter(k)) 100.0 * (u / m.value - 1) else 100.0 * (m.value / u - 1)
          s"trace.overhead_pct.$k" -> Metric(pct, "%")
        }
        val layers = w.layers(ctx, data) ++ overhead
        reportPath.foreach(p => writeReport(p, name, seed, seconds, e2e, traced, layers, w, data))
        layers
      }
    w.teardown(ctx)
    val result = Map(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }
        .to(scala.collection.immutable.ListMap))
    println("RESULT " + Json.render(result))
  }

  /** The traced run's report: per-layer metrics, and for each end-to-end
    * metric the self time of its op spans by layer and the layer holding
    * most of it.
    */
  private def writeReport(path: String, name: String, seed: Long, seconds: Int,
      untraced: Map[String, Metric], traced: Map[String, Metric], layers: Map[String, Metric],
      w: Workload, data: TraceData): Unit = {
    val blocking = w.opSpans.map { case (metric, spanNames) =>
      val byLayer = spanNames.flatMap(data.named).map(data.selfTimeByLayer)
        .foldLeft(Map.empty[String, Double])(TraceData.plus)
      val top = if (byLayer.isEmpty) "none" else byLayer.maxBy(_._2)._1
      metric -> Map("blocking_layer" -> top,
        "self_ms_by_layer" -> byLayer.toSeq.sortBy(-_._2).map { case (l, v) => l -> math.round(v) }
          .to(scala.collection.immutable.ListMap))
    }
    def metricMap(m: Map[String, Metric]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }
        .to(scala.collection.immutable.ListMap)
    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "end_to_end_untraced" -> metricMap(untraced),
      "end_to_end_traced" -> metricMap(traced),
      "per_layer" -> metricMap(layers),
      "blocking" -> blocking,
      "spans" -> data.spans.size, "jobs" -> data.jobs.size, "tasks" -> data.tasks.size,
      "notes" -> w.notes)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.println(Json.render(report)) finally out.close()
  }
}

