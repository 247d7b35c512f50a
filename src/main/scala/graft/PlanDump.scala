package graft

/** Dumps `.explain("formatted")` for a set of declared queries into text
  * files — the optimization rounds' evidence trail (plans/r17/<q>_before.txt
  * / _after.txt). The session is [[Engine.session]], the one every main
  * and the benchmark harness run on, so the plans are the ones they time.
  * Queries that build scratch MoR tables lazily (marker files)
  * are materialized by executing `fn` once before the explain, mirroring the
  * bench's prewarm pass.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [name ...]
  *   (no names → the full headline set)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq else Registry.headline
    val sfDir = Engine.sfDir
    val spark = Engine.session(Engine.cpus, "graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df =
        try {
          // First build runs any lazy scratch-table setup (MoR markers);
          // the noop write also lets AQE finalize so numbers are honest.
          val d = Registry.bench(n).fn(spark, sfDir)
          d.write.format("noop").mode("overwrite").save()
          spark.catalog.clearCache()
          Registry.bench(n).fn(spark, sfDir)
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $n failed: ${e.getMessage}")
            null
        }
      if (df != null) {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        spark.catalog.clearCache()
        println(s"[plandump] wrote $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
