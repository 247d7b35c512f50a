package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Layout, Maintenance, MorDelete, MorUpsert}

/** One line of the plan that run.py generated from the seed. `kind` is `q`
  * (a registry query named by `args(0)`) or one of the MoR ops. */
final case class Op(idx: Int, phase: String, round: Int, kind: String, args: Vector[String]) {
  def name: String = if (kind == "q") args(0) else kind
  def isCommit: Boolean = Op.commits(kind)
}
object Op { val commits = Set("upsert", "delete", "maintain") }

/** What one workload does between session start and exit. */
trait Workload {
  /** Called before the first op of each phase (`warm`, then `meas`); its
    * time is charged to set-up. `lanes` are the passes the phase makes over
    * its rounds: `u` (untraced), and in a traced run's measured phase also
    * `t` (traced). */
  def beginPhase(phase: String, lanes: Seq[String]): Unit = ()
  /** Selects the lane the following ops run in. */
  def useLane(lane: String): Unit = ()
  /** Runs one op. During warm-up round 0 `check` is the directory where the
    * op may write its output for run.py to check, instead of discarding it. */
  def run(op: Op, t: Tracer, check: Option[Path]): Unit
  /** Runs after an op, outside its timing and its trace. */
  def after(op: Op): Unit = ()
  /** After the measured window: writes what the checks need beyond the
    * warm-up outputs, and returns the facts they need. */
  def writeChecks(dir: Path): Map[String, Any]
  /** Workload-specific end-of-window figures for the artifact. */
  def windowFacts(): Map[String, Any] = Map.empty
}

object Workload {
  /** Executes `df` in full: to the noop sink, or as parquet under `out`. */
  def sink(df: DataFrame, out: Option[Path]): Unit = out match {
    case None => df.write.format("noop").mode("overwrite").save()
    case Some(p) => df.coalesce(1).write.mode("overwrite").parquet(p.toString)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Deletes `p` and everything under it. */
  def clear(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Registry queries run to the noop sink: `olap_mix`. Warm-up round 0
  * writes each query's output for its oracle check. */
final class RegistryMix(spark: SparkSession, data: String, names: Seq[String]) extends Workload {
  private val oracles = names.flatMap(n => graft.Registry.bench(n).oracle.map(n -> _)).toMap

  def run(op: Op, t: Tracer, check: Option[Path]): Unit = {
    val q = graft.Registry.bench(op.name)
    val df = t.span("queries.construct")(q.fn(spark, data))
    t.span("exec")(Workload.sink(df, check.map(_.resolve(op.name))))
  }

  /** As graft.Bench does, untimed: no op may ride an earlier op's cached
    * relation. */
  override def after(op: Op): Unit = spark.catalog.clearCache()

  def writeChecks(dir: Path): Map[String, Any] = Map("oracles" -> oracles)
}

/** Merge-on-read DML cycles on an analyzed copy of lineitem keyed by
  * `l_rowid` (run.py writes the keyed copy as 32 parquet files; lineitem's
  * own (l_orderkey, l_linenumber) is not unique). The warm-up runs on a
  * throwaway table, a plain copy of those files; each measured lane runs on
  * a fresh table z-ordered after the warm-up, so every run's measured cycles
  * see the same sequence of table states. */
final class MorDml(spark: SparkSession, keyedPath: String, work: Path) extends Workload {
  private val keys = Seq("l_rowid")
  // the columns of TPC-H Q6's filter that the stats-pruned read can prune on
  private val zCols = Seq("l_discount", "l_quantity")
  private val paths = mutable.LinkedHashMap.empty[String, String]
  private val cycleStart = mutable.Map.empty[String, Long]
  private var lane = "u"
  private def path = paths(lane)
  private lazy val keyed = spark.read.parquet(keyedPath)

  /** Builds each lane's table just before the phase starts. */
  override def beginPhase(phase: String, lanes: Seq[String]): Unit = {
    paths.clear()
    for (l <- lanes) {
      val p = work.resolve("mor").resolve(s"$phase-$l").toString
      paths(l) = p
      if (phase == "warm") {
        val dst = Paths.get(p)
        Files.createDirectories(dst)
        Files.list(Paths.get(keyedPath)).iterator.asScala.filter(Files.isRegularFile(_))
          .foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
      } else Layout.zorderWrite(spark, keyed, p, zCols, nFiles = 32)
      Maintenance.analyze(spark, p, zCols)
      cycleStart(l) = MorDelete.currentSeq(spark, p)
    }
    lane = lanes.head
  }

  override def useLane(l: String): Unit = lane = l

  /** The upsert source of one cycle: the lineitems of the orders whose key
    * falls in residue `upd` get `l_quantity + delta`; those of residue `ins`
    * come back as new orders (fresh rowid and orderkey), so they insert. */
  private def batch(a: Vector[String]): DataFrame = {
    val m = a(0).toLong
    val (upd, delta, ins, off) = (a(1).toLong, a(2).toDouble, a(3).toLong, a(4).toLong)
    val res = pmod(col("l_orderkey"), lit(m))
    keyed.filter(res === upd).withColumn("l_quantity", col("l_quantity") + lit(delta))
      .unionByName(keyed.filter(res === ins)
        .withColumn("l_rowid", col("l_rowid") + lit(off))
        .withColumn("l_orderkey", col("l_orderkey") + lit(off)))
  }

  /** The lineitems of the orders in one residue, as TPC-H's RF2 deletes. */
  private def deletePred(a: Vector[String]): Column =
    pmod(col("l_orderkey"), lit(a(0).toLong)) === a(1).toLong

  /** TPC-H Q6's filter. The date bounds take l_shipdate's own type (the
    * session is in UTC, as the DuckDB model is). */
  private def prunePred(a: Vector[String]): Column = {
    val ts = (s: String) => lit(s).cast(keyed.schema("l_shipdate").dataType)
    col("l_shipdate") >= ts(a(0)) && col("l_shipdate") < ts(a(1)) &&
      col("l_discount").between(a(2).toDouble, a(3).toDouble) && col("l_quantity") < a(4).toDouble
  }

  private def prunedAgg(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), call_function("dsum8", col("l_extendedprice")).as("price"))

  private def changesAgg(df: DataFrame): DataFrame =
    df.groupBy(col("_change_type").as("change_type"), col("_commit_version").as("version"))
      .agg(count(lit(1)).as("n"), call_function("dsum8", col("l_quantity")).as("qty"))

  private def read(op: Op): DataFrame = op.kind match {
    case "read_pruned" => prunedAgg(MorDelete.readWhere(spark, path, prunePred(op.args)))
    case "read_changes" => changesAgg(MorDelete.readChanges(spark, path, cycleStart(lane)))
  }

  /** Warm-up cycle 0's reads write their outputs, named by plan index, for
    * the DuckDB model of the warm table to check. */
  def run(op: Op, t: Tracer, check: Option[Path]): Unit = op.kind match {
    case "upsert" =>
      cycleStart(lane) = MorDelete.currentSeq(spark, path)
      val src = batch(op.args)
      t.span("sources.upsert")(MorUpsert.upsert(spark, path, src, keys))
    case "delete" =>
      t.span("sources.delete")(MorDelete.delete(spark, path, deletePred(op.args), keys))
    case "maintain" =>
      t.span("sources.maintain")(Maintenance.maintain(spark, path))
    case _ =>
      val df = t.span("sources.read_construct")(read(op))
      t.span("exec")(Workload.sink(df, check.map(_.resolve(s"op${op.idx}"))))
  }

  /** Tombstone batch directories on disk under the table's sidecar. */
  def sidecarBatches: Int = sidecar.count(f => f.isDirectory && f.getName.startsWith("batch-"))

  /** Parquet files a read could open: the table's data files and the
    * sidecar's tombstone files. */
  def tableFiles: Int = {
    def parquet(fs: Seq[java.io.File]) = fs.count(_.getName.endsWith(".parquet"))
    parquet(Option(new java.io.File(path).listFiles()).toSeq.flatten) +
      sidecar.map(d => parquet(Option(d.listFiles()).toSeq.flatten)).sum
  }

  private def sidecar: Seq[java.io.File] =
    Option(new java.io.File(MorDelete.sidecarDir(path)).listFiles()).toSeq.flatten

  private def tableBytes(p: String): Long =
    Seq(p, MorDelete.sidecarDir(p), MorDelete.manifestDir(p)).distinct
      .map(d => Workload.dirBytes(Paths.get(d))).sum

  /** Table bytes of the untraced lane, which every run has. */
  override def windowFacts(): Map[String, Any] =
    Map("table_bytes" -> tableBytes(paths("u")))

  /** Each lane's final table after the measured cycles, as `final-<lane>`,
    * for the DuckDB model; the live bytes are the untraced lane's. */
  def writeChecks(dir: Path): Map[String, Any] = {
    for ((l, p) <- paths) Workload.sink(MorDelete.read(spark, p), Some(dir.resolve(s"final-$l")))
    Map("live_bytes" -> Workload.dirBytes(dir.resolve("final-u")))
  }

  /** Bytes of one upsert source written as plain parquet: the user data a
    * commit carries, for the write-amplification ratio. */
  def userBytes(op: Op, dir: Path): Long = {
    val p = dir.resolve(s"user-${op.round}")
    batch(op.args).write.mode("overwrite").parquet(p.toString)
    try Workload.dirBytes(p) finally Workload.clear(p)
  }
}
