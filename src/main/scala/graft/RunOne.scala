package graft

/** Dev utility: run named queries in one JVM (shared bases build once and
  * every lifecycle side effect runs as in a sweep) with timing and
  * optional plan and job profiles.
  *
  * Usage: runMain graft.RunOne <name[,name...]> [sfDir] [explain]
  *          [explain=<dir>] [metrics] [trace] [exclude=<rules>]
  *
  *  - `explain` prints each query's formatted plan;
  *  - `explain=<dir>` writes it to `<dir>/<qNN>.txt`;
  *  - `metrics` prints one measured run's stage metrics;
  *  - `trace` prints one measured run's jobs — which call site submitted
  *    each and how long it ran (sf0.1 wall is job-count bound, so WHICH
  *    actions run is the optimization lever) — after releasing the
  *    warm-up's caches;
  *  - `exclude=<rules>` A/Bs an optimizer rule, e.g.
  *    `exclude=graft.plans.RewriteIntervalJoin`.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val (opts, rest) = args.drop(1).partition(a =>
      Set("explain", "metrics", "trace")(a) || a.contains("="))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    def opt(key: String) =
      opts.collectFirst { case a if a.startsWith(s"$key=") => a.drop(key.length + 1) }
    val spark = Sessions.local(s"graft-${names.mkString(",")}")
    opt("exclude").foreach(spark.conf.set("spark.sql.optimizer.excludedRules", _))
    SparkEntry.entry(spark).count() // warmup: flagship query
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, "/root/testdata/sf0.001").count() // warmup at smallest sf
      if (opts.contains("explain")) fn(spark, sfDir).explain("formatted")
      opt("explain").foreach { dir =>
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        new java.io.File(dir).mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, s"${Bench.short(name)}.txt"),
          s"== $name ($sfDir) ==\n$plan".getBytes("UTF-8"))
      }
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[runone] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
      val trace = opts.contains("trace")
      if (opts.contains("metrics") || trace) {
        if (trace) { CacheScope.releaseAll(); spark.catalog.clearCache() }
        val m = Metrics.measure(spark) { fn(spark, sfDir).count() }
        if (opts.contains("metrics"))
          println(s"[runone] $name metrics: ${m.pretty}")
        if (trace) {
          println(f"[trace] $name: ${m.jobs} jobs, wall=${m.wallSec}%.2f s")
          m.spans.foreach { j =>
            val sql = if (j.sql.isEmpty) "" else s"  <- ${j.sql}"
            println(f"[trace] job ${j.id}%3d ${j.seconds}%7.2f s  ${j.site}$sql")
          }
        }
      }
      CacheScope.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
