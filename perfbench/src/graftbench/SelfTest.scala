package graftbench

import org.apache.spark.sql.SparkSession

/** Negative controls: every workload at tiny scale must pass its own
  * checks, and each check must report failure when fed a corrupted copy
  * of a real output.
  */
object SelfTest {
  def run(spark: SparkSession, scratch: String): Int = {
    val results = Workload.Names.flatMap { name =>
      val ctx = new Ctx(spark, seed = 11L, scratch)
      val w = Workload(name, tiny = true)
      w.setup(ctx)
      w.warmup(ctx)
      w.window(ctx, seconds = 1)
      val clean = s"$name: clean run passes its checks (${ctx.attempted} ops)" -> (ctx.failed == 0)
      val controls = w.negativeControls(ctx)
      w.teardown(ctx)
      clean +: controls
    }
    results.foreach { case (what, ok) => println(s"${if (ok) "ok  " else "FAIL"} $what") }
    val failed = results.count(!_._2)
    println("RESULT " + Json.render(Map("correct" -> (failed == 0), "attempted" -> results.size,
      "failed" -> failed, "metrics" -> Map.empty)))
    if (failed == 0) 0 else 1
  }
}
