package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failure-mode rehearsals the plain timing runs can't show (VERDICT r7
  * asks #5 and #7): the 100 TB story claims Tungsten spills instead of
  * OOMing and AQE splits skewed partitions instead of stalling one task —
  * neither had ever been DEMONSTRATED on this data, because every normal
  * run fits in the default heap and the synthetic keys are uniform.
  *
  * `spill` mode — run under a deliberately small heap
  * (`SPARK_DRIVER_MEM=4g tools/stress.sh spill`): q18 and the minhash
  * pipeline on 10×-replicated data (key-shifted copies of each table) must
  * COMPLETE, with the spill bytes the reference makes explicit in its own
  * machinery (`SpillableHashAggregationBuilder.java`,
  * `FileSingleStreamSpiller.java`) reported from Spark's task metrics.
  *
  * `skew` mode — a deliberately skewed join: ~10% of a 10× lineitem lands
  * on ONE hot l_orderkey, broadcast is disabled so the shuffle join must
  * face the skew, and AQE's skew-split (the analog of the reference
  * relying on bucket-aware scheduling; Presto 323 has no runtime skew
  * splitting at all — this is a Spark-side capability win) must report
  * `numSkewedPartitions > 0` while the query completes with the right
  * row count. Skew thresholds are lowered to match rehearsal data sizes
  * (the defaults target multi-GB partitions).
  */
object StressRehearsal {

  private final class SpillTally extends SparkListener {
    @volatile var memSpilled = 0L
    @volatile var diskSpilled = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      memSpilled += sc.stageInfo.taskMetrics.memoryBytesSpilled
      diskSpilled += sc.stageInfo.taskMetrics.diskBytesSpilled
    }
  }

  private val keyOff = 100000000L

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("spill")
    val sfDir = Engine.sfDir
    val R = sys.env.getOrElse("SPARK_GRAFT_STRESS_R", "10").toInt
    // spill mode uses FEWER, FATTER shuffle partitions: per-task state is
    // what exhausts execution memory; 32 thin partitions at rehearsal SF
    // never would (a 100 TB task's partition is fat by definition)
    val shuffleParts =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", if (mode == "spill") "8" else Engine.cpus.toString)
    val spark = Engine.session(Engine.cpus, s"graft-stress-$mode")
    // per-mode confs are all runtime SQL confs, set on the shared session
    (Seq("spark.sql.shuffle.partitions" -> shuffleParts) ++ (mode match {
      case "skew" => Seq(
        // face the skew in the shuffle join (a broadcast would dodge it)
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        // rehearsal-sized skew thresholds: the defaults (256m) target
        // multi-GB production partitions, and the sizes AQE sees are
        // POST-compression shuffle bytes (~2MB median here)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "3m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "512k")
      case _ => Nil
    })).foreach { case (k, v) => spark.conf.set(k, v) }

    def rep(name: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = Tables.t(spark, sfDir, name)
      (0 until R).map(i => f(base, i)).reduce(_ unionByName _)
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    mode match {
      case "spill" =>
        val tally = new SpillTally
        spark.sparkContext.addSparkListener(tally)
        val heapG = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)

        val li = rep("lineitem")((d, i) =>
          d.withColumn("l_orderkey", col("l_orderkey") + lit(i * keyOff)))
        val ord = rep("orders")((d, i) => d
          .withColumn("o_orderkey", col("o_orderkey") + lit(i * keyOff))
          .withColumn("o_custkey", col("o_custkey") + lit(i * keyOff)))
        val cust = rep("customer")((d, i) =>
          d.withColumn("c_custkey", col("c_custkey") + lit(i * keyOff)))
        li.createOrReplaceTempView("li10"); ord.createOrReplaceTempView("ord10")
        cust.createOrReplaceTempView("cust10")
        val tQ18 = timed {
          spark.sql(
            """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
              |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sum_qty
              |FROM cust10 JOIN ord10 ON c_custkey = o_custkey
              |JOIN li10 ON o_orderkey = l_orderkey
              |WHERE o_orderkey IN (
              |  SELECT l_orderkey FROM li10 GROUP BY l_orderkey
              |  HAVING SUM(l_quantity) > 300)
              |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
              |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC NULLS LAST
              |LIMIT 100""".stripMargin)
            .write.format("noop").mode("overwrite").save()
        }
        // stage-completed events arrive async; drain before every tally
        // snapshot so segment attribution is stable
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val spillAfterQ18 = (tally.memSpilled, tally.diskSpilled)
        spark.catalog.clearCache()

        val rot = "aeiou"
        val docs = rep("documents")((d, i) => d
          .withColumn("doc_id", col("doc_id") + lit(i * keyOff))
          .withColumn("text", translate(col("text"), rot, {
            val r = rot.drop(i % 5) + rot.take(i % 5)
            if (i < 5) r else r.reverse
          })))
        val tMin = timed {
          llm.Dedup.minhashLsh(docs, "doc_id", llm.TextOps.wordShingles(col("text"), 2),
              k = 32, bands = 8, threshold = 0.8)
            .write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        spark.catalog.clearCache()
        val spillAfterMin = (tally.memSpilled, tally.diskSpilled)

        // round-10 tier under the same pressure: the bigram-LM build —
        // vocabulary-scale hash-aggregate state plus a corpus-wide
        // explode through the count joins — must complete by spilling,
        // never OOM (its hash state is the biggest of the LLM tier's)
        val tLm = timed {
          llm.NgramLm.bigramCrossEntropy(docs, "doc_id", "text",
              ref = docs.filter(col("doc_id") % 2 === 0))
            .write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        spark.catalog.clearCache()
        val spillAfterLm = (tally.memSpilled, tally.diskSpilled)

        // ...and SemDeDup end to end (train + assign + intra-cluster
        // prune): the persisted vector frame plus per-cluster windows
        // compete with execution memory under the small heap
        val vecs = rep("embeddings")((d, i) => d
          .withColumn("vec_id", col("vec_id") + lit(i * keyOff))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else {
              val neg = if (i >= 6) -1.0f else 1.0f
              zip_with(col("embedding"),
                typedLit((0 until 64).map(dim =>
                  (if (((dim >> (i % 6)) & 1) == 1) -1.0f else 1.0f) * neg)),
                (x, f) => x * f)
            }))
        val tSem = timed {
          val cents = llm.Kmeans.train(vecs, "vec_id", "embedding",
            k = 64, iters = 2, dim = 64)
          llm.Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
              threshold = 0.98)
            .write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        spark.catalog.clearCache()
        val spillAfterSem = (tally.memSpilled, tally.diskSpilled)

        // The guaranteed-pressure case: a full 6-key distributed sort of
        // the replicated fact (the reference's OrderByOperator +
        // FileSingleStreamSpiller path). R×600k rows of ~100-byte rows
        // through <heap/2.5> of execution memory across fat partitions
        // MUST go through UnsafeExternalSorter's spill files — the
        // aggregates above legitimately fit (hash state ∝ group count,
        // not row count), which is itself worth recording.
        val tSort = timed {
          li.orderBy(col("l_returnflag"), col("l_linestatus"), col("l_shipdate"),
              col("l_quantity"), col("l_extendedprice"), col("l_orderkey"))
            .write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val sortMem = tally.memSpilled - spillAfterSem._1
        val sortDisk = tally.diskSpilled - spillAfterSem._2

        println(f"""[stress] {"mode":"spill","heap_gb":$heapG%.1f,"replicas":$R%d,"q18_sec":$tQ18%.2f,"q18_spill_mem_mb":${spillAfterQ18._1 / 1048576}%d,"minhash_sec":$tMin%.2f,"minhash_spill_mem_mb":${(spillAfterMin._1 - spillAfterQ18._1) / 1048576}%d,"ngram_sec":$tLm%.2f,"ngram_spill_mem_mb":${(spillAfterLm._1 - spillAfterMin._1) / 1048576}%d,"semdedup_sec":$tSem%.2f,"semdedup_spill_mem_mb":${(spillAfterSem._1 - spillAfterLm._1) / 1048576}%d,"sort_sec":$tSort%.2f,"sort_spill_mem_mb":${sortMem / 1048576}%d,"sort_spill_disk_mb":${sortDisk / 1048576}%d,"total_spill_mem_mb":${tally.memSpilled / 1048576}%d,"total_spill_disk_mb":${tally.diskSpilled / 1048576}%d}""")

      case "asofspill" =>
        // The one-key-owns-the-stream cliff UNDER MEMORY PRESSURE: the
        // single-window as-of puts the whole corpus in ONE window
        // partition, whose buffered sort must go through
        // ExternalAppendOnlyUnsafeRowArray/UnsafeExternalSorter spill
        // files at a 4g heap — complete by spilling, never OOM. The
        // sliced arm on identical data spreads the same rows over
        // span/width slices and should finish without the single-task
        // sort (the SCALE_r14 asofskew wall story, re-run as a survival
        // gate). Corpus: R×600k lineitem rows as a constant-key event
        // stream, odd line numbers probing even ones.
        val tally = new SpillTally
        spark.sparkContext.addSparkListener(tally)
        val heapG = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
        import graft.operators.AsofJoin
        val ev = rep("lineitem")((d, i) => d
            .withColumn("l_orderkey", col("l_orderkey") + lit(i * keyOff)))
          .select(lit(0L).as("k"),
            col("l_shipdate").cast("timestamp").as("t"),
            col("l_orderkey"), col("l_linenumber"))
        val probes = ev.filter(col("l_linenumber") % 2 === 1)
          .select(col("k"), col("t"), col("l_orderkey").as("probe_id"))
        val quotes = ev.filter(col("l_linenumber") % 2 === 0)
          .select(col("k"), col("t").as("qt"), col("l_orderkey").as("quote_id"))
        def matchedOf(df: DataFrame): Long =
          df.agg(count(col("quote_id"))).collect()(0).getLong(0)
        val single = AsofJoin.backward(probes, quotes, Seq("k"), "t", "qt",
          Seq("quote_id"), rightTiebreak = Seq("quote_id"))
        val tSingle = timed {
          single.write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val spillSingle = (tally.memSpilled, tally.diskSpilled)
        spark.catalog.clearCache()
        // width = history/256 off a 1-row stats aggregate
        val span = ev.agg((max(col("t").cast("double")) -
          min(col("t").cast("double"))).as("s")).collect()(0).getDouble(0)
        val sliced = AsofJoin.backwardSliced(probes, quotes, Seq("k"), "t", "qt",
          Seq("quote_id"), sliceWidth = math.max(span / 256.0, 1.0),
          rightTiebreak = Seq("quote_id"))
        val tSliced = timed {
          sliced.write.format("noop").mode("overwrite").save()
        }
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val slicedMem = tally.memSpilled - spillSingle._1
        val slicedDisk = tally.diskSpilled - spillSingle._2
        val (mS, mL) = (matchedOf(single), matchedOf(sliced))
        require(mS == mL, s"arms diverged under pressure: $mS vs $mL")
        spark.catalog.clearCache()
        // the AUTO arm under the same pressure: its bounded stats pass
        // must see the 24M-row constant key, pick the sliced arm (the
        // one that does not ride a single task into the spill files),
        // and produce identical matches — the deployment rule enforcing
        // itself exactly where it matters
        val plan = AsofJoin.plan(probes, quotes, Seq("k"), "t", "qt")
        require(plan.sliced,
          s"auto must pick the sliced arm at ${plan.maxKeyRows} rows on one key")
        val auto = AsofJoin.auto(probes, quotes, Seq("k"), "t", "qt",
          Seq("quote_id"), rightTiebreak = Seq("quote_id"))
        val tAuto = timed {
          auto.write.format("noop").mode("overwrite").save()
        }
        val mA = matchedOf(auto)
        require(mA == mS, s"auto arm diverged under pressure: $mA vs $mS")
        println(f"""[stress] {"mode":"asofspill","heap_gb":$heapG%.1f,"replicas":$R%d,"rows":${R * 600000}%d,"matched":$mS%d,"single_sec":$tSingle%.2f,"single_spill_mem_mb":${spillSingle._1 / 1048576}%d,"single_spill_disk_mb":${spillSingle._2 / 1048576}%d,"sliced_sec":$tSliced%.2f,"sliced_spill_mem_mb":${slicedMem / 1048576}%d,"sliced_spill_disk_mb":${slicedDisk / 1048576}%d,"auto_arm":"sliced","auto_max_key_rows":${plan.maxKeyRows}%d,"auto_sec":$tAuto%.2f}""")

      case "skew" =>
        // ~10% of the 10× fact rides ONE hot order key; the rest spread
        // over the replicated key space. The per-order aggregate join
        // then has one partition ~10% of the table wide — the exact shape
        // AQE's OptimizeSkewedJoin exists for.
        val hotKey = 7L
        val li = rep("lineitem")((d, i) => d
          .withColumn("l_orderkey",
            when(pmod(col("l_orderkey") + lit(i), lit(10)) === 0, lit(hotKey))
              .otherwise(col("l_orderkey") + lit(i * keyOff))))
        val ord = rep("orders")((d, i) =>
          d.withColumn("o_orderkey", col("o_orderkey") + lit(i * keyOff)))
          .filter(col("o_orderkey") =!= hotKey)
          .unionByName(Tables.t(spark, sfDir, "orders")
            .filter(col("o_orderkey") === hotKey))
        // Aggregate on a DIFFERENT key than the join: a same-key groupBy
        // inherits the join's partitioning, and AQE refuses a skew split
        // that would break a downstream required distribution (no extra
        // shuffle policy); the re-keyed agg shuffles anyway, so splitting
        // the skewed join partition is free.
        def shape = ord.join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("lines"))
        val t = timed { shape.write.format("noop").mode("overwrite").save() }
        val stats = ExplainAnalyze.run(shape)
        if (sys.env.contains("SPARK_GRAFT_STRESS_DEBUG"))
          stats.groupBy(_.op).keys.toSeq.sorted.foreach(op => println(s"[stress-op] $op"))
        def metric(m: String) = stats.filter(s =>
          s.op.startsWith("AQEShuffleRead") && s.metric == m).map(_.value).sum
        val skewedParts = metric("numSkewedPartitions")
        val skewSplits = metric("numSkewedSplits")
        val aqeParts = metric("numPartitions")
        println(f"""[stress] {"mode":"skew","sec":$t%.2f,"skewed_partitions":$skewedParts%d,"skew_splits":$skewSplits%d,"aqe_partitions":$aqeParts%d}""")
    }
    spark.stop()
  }
}
