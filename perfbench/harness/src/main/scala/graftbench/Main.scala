package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark process: runs one workload plan with one client thread in
  * a closed loop, and writes everything it measured as one JSON artifact.
  *
  * Usage: graftbench.Main <plan.tsv> <artifact.json> <check-dir>
  *
  * The plan (written by run.py from the seed) holds `key<TAB>value` settings
  * and `op<TAB>phase<TAB>round<TAB>kind<TAB>args...` lines. Phase `warm` ops
  * run first and are charged to set-up; phase `meas` ops are the measured
  * window. With `trace 1`, the measured phase runs every round twice, in
  * two lanes: untraced (`u`), exactly as an untraced run does, and traced
  * (`t`): spans, Spark listener events and JVM counters per op, with the
  * listener bus drained between ops. Even rounds run the `u` lane first,
  * odd rounds the `t` lane, so that a drift across the window cancels when
  * each traced op is compared with the same op untraced.
  */
object Main {
  final case class Done(op: Op, lane: String, t0Us: Long, t1Us: Long, error: String) {
    def traced: Boolean = lane == "t"
  }

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0))).asScala.map(_.split("\t", -1).toVector)
    val conf = lines.collect { case Vector(k, v) => k -> v }.toMap
    val ops = lines.collect { case Vector("op", ph, r, k, rest @ _*) => (ph, r, k, rest) }
      .zipWithIndex.map { case ((ph, r, k, rest), i) => Op(i, ph, r.toInt, k, rest.toVector) }
      .toVector
    val checkDir = Paths.get(args(2))
    val traceOn = conf("trace") == "1"

    val marks = mutable.LinkedHashMap("jvm" -> Probe.nowUs)
    val spark = graft.Engine.session(cores = Runtime.getRuntime.availableProcessors)
    marks("session") = Probe.nowUs
    graft.Tables.ensure(spark, conf("data"))
    marks("tables") = Probe.nowUs
    val work: Workload = conf("workload") match {
      case "mor_dml" => new MorDml(spark, conf("keyed"), Paths.get(conf("work")))
      case _ => new RegistryMix(spark, conf("data"), ops.map(_.name).distinct)
    }
    val tracer = new Tracer
    val listener = new ExecListener(tracer)
    if (traceOn) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }

    val done = mutable.ArrayBuffer.empty[Done]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var window = Map.empty[String, Any]
    for (phase <- Seq("warm", "meas")) {
      val phaseOps = ops.filter(_.phase == phase)
      val lanes = if (traceOn && phase == "meas") Seq("u", "t") else Seq("u")
      work.beginPhase(phase, lanes)
      val (cpu0, gc0, comp0, steal0) =
        (Probe.processCpuS, Probe.gcS, Probe.compiles, Probe.cpuJiffies)
      if (phase == "meas") Probe.resetHeapPeak()
      val w0 = Probe.nowUs
      for ((r, rOps) <- phaseOps.groupBy(_.round).toSeq.sortBy(_._1);
           lane <- if (r % 2 == 0) lanes else lanes.reverse) {
        work.useLane(lane)
        val (rc0, rcpu0, rt0) = (Probe.compiles, Probe.processCpuS, Probe.nowUs)
        val check = Some(checkDir).filter(_ => phase == "warm" && r == 0)
        for (op <- rOps) done += runOp(spark, work, tracer, op, lane, check)
        rounds += Map("phase" -> phase, "round" -> r, "lane" -> lane,
          "wall_s" -> (Probe.nowUs - rt0) / 1e6, "compiles" -> (Probe.compiles - rc0),
          "cpu_s" -> (Probe.processCpuS - rcpu0))
      }
      if (phase == "meas") {
        val (steal1, total1) = Probe.cpuJiffies
        val dTotal = math.max(1L, total1 - steal0._2)
        window = Map("wall_s" -> (Probe.nowUs - w0) / 1e6,
          "cpu_s" -> (Probe.processCpuS - cpu0), "gc_s" -> (Probe.gcS - gc0),
          "compiles" -> (Probe.compiles - comp0),
          "steal_frac" -> (steal1 - steal0._1).toDouble / dTotal,
          "peak_rss_mb" -> Probe.peakRssMb, "heap_peak_mb" -> Probe.heapPeakMb) ++
          work.windowFacts()
      }
    }

    val measOps = ops.filter(_.phase == "meas")
    val check: Map[String, Any] =
      try work.writeChecks(checkDir)
      catch { case e: Throwable => Map("error" -> s"${e.getClass.getName}: ${e.getMessage}") }
    val userBytes: Map[String, Long] = work match {
      case m: MorDml if traceOn => measOps.filter(_.kind == "upsert")
        .map(op => op.round.toString -> m.userBytes(op, checkDir)).toMap
      case _ => Map.empty
    }

    val artifact = Map(
      "workload" -> conf("workload"),
      "jvm_start_us" -> ManagementFactory.getRuntimeMXBean.getStartTime * 1000,
      "marks_us" -> marks,
      "ops" -> done.map(d => Map("idx" -> d.op.idx, "phase" -> d.op.phase, "round" -> d.op.round,
        "name" -> d.op.name, "commit" -> d.op.isCommit, "t0_us" -> d.t0Us,
        "t1_us" -> d.t1Us, "lane" -> d.lane, "traced" -> d.traced, "error" -> d.error)),
      "rounds" -> rounds,
      "window" -> window,
      "check" -> check,
      "spans" -> tracer.spans.map(s => Map("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "t0_us" -> s.t0Us, "t1_us" -> s.t1Us)),
      "counts" -> tracer.counts.map { case (k, v) => k.toString -> v.toMap }.toMap,
      "jobs" -> listener.jobs.map { case (op, a, b) => Seq(op, a, b) },
      "user_bytes" -> userBytes)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(artifact))
    spark.stop()
  }

  /** Runs one op; a thrown error is recorded as a failed op, not fatal. */
  private def runOp(spark: org.apache.spark.sql.SparkSession, work: Workload, t: Tracer,
      op: Op, lane: String, check: Option[Path]): Done = {
    val traced = lane == "t"
    // drained first too, so no event of an earlier op lands on this one
    if (traced) org.apache.spark.BusDrain(spark.sparkContext)
    val before = if (traced) Some((Probe.compiles, Probe.compileS, Probe.jitCpuS, Probe.gcS))
      else None
    if (traced) t.op = op.idx
    val t0 = Probe.nowUs
    val err =
      try { t.span("op")(work.run(op, t, check)); "" }
      catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
    val t1 = Probe.nowUs
    before.foreach { case (c, cs, jit, gc) =>
      org.apache.spark.BusDrain(spark.sparkContext)
      t.add("codegen.compiles", (Probe.compiles - c).toDouble)
      t.add("codegen.compile_s", Probe.compileS - cs)
      t.add("jvm.jit_cpu_s", Probe.jitCpuS - jit)
      t.add("jvm.gc_s", Probe.gcS - gc)
      work match {
        case m: MorDml if !op.isCommit =>
          t.add("sources.sidecar_batches", m.sidecarBatches)
          t.add("sources.table_files", m.tableFiles)
        case _ =>
      }
      t.op = -1
    }
    work.after(op)
    Done(op, lane, t0, t1, err)
  }
}
