package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * The reference (yeameen/lyft-presto) is a coordinator+worker MPP SQL engine;
  * here the Spark driver+Catalyst is the coordinator and executor tasks are
  * the workers (see SURVEY.md §0). Everything below the SQL/DataFrame surface
  * — codegen, shuffle, spill, memory — is delegated to Spark itself.
  *
  * Tuned for local[N] testing but configured the way a large cluster run
  * would be: AQE on (runtime join-distribution choice, skew handling — the
  * analog of the reference's join_distribution_type=AUTOMATIC session
  * property, presto-main/.../DetermineJoinDistributionType.java), CBO on so
  * join reordering engages once tables are ANALYZEd (analog of
  * join_reordering_strategy=AUTOMATIC, iterative/rule/ReorderJoins.java).
  */
object Engine {
  /** Worker threads (`local[N]`) for the mains: SPARK_GRAFT_CPUS, else 32. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Scale-factor directory the mains read: SPARK_GRAFT_SF_DIR, else sf0.1. */
  lazy val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The one session builder of `src/main`: Bench, Verify, PlanDump,
    * StressRehearsal and the benchmark harness all measure this engine. */
  def session(cores: Int = 32, app: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    spark
  }

  /** Idempotent per-session setup usable on externally-built sessions too
    * (the test specs' sessions, and any session Spark hands back through
    * `getOrCreate`).
    */
  def configure(spark: SparkSession): SparkSession = {
    functions.GraftFunctions.register(spark)
    spark
  }

  /** Persist a DataFrame as a bucketed+sorted catalog table. Joins and
    * aggregations between tables bucketed on the same keys with the same
    * bucket count read co-located and skip the shuffle entirely — the
    * 100 TB answer for repeated fact-fact joins (the reference's analog is
    * grouped "lifespan" execution over hive buckets,
    * operator/StageExecutionDescriptor.java). Verified by plan shape in
    * DdlSpec ("bucketed join elides shuffle").
    */
  def writeBucketed(
      df: org.apache.spark.sql.DataFrame,
      table: String,
      buckets: Int,
      keys: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)

  /** Skew-salted equi-join: the fact side's hot keys are spread across
    * `saltFactor` sub-partitions by a *deterministic* salt (hash of a
    * discriminator column — not rand(), so retried tasks and re-runs
    * produce identical plans), and the dim side is replicated once per
    * salt. Use when a handful of keys dwarf the rest and AQE's skew-join
    * splitting isn't available (e.g. the dim side is too big to broadcast
    * but small enough to replicate saltFactor times).
    */
  def saltedJoin(
      fact: org.apache.spark.sql.DataFrame,
      dim: org.apache.spark.sql.DataFrame,
      key: String,
      saltFactor: Int,
      saltBy: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val saltedFact = fact.withColumn("__salt", pmod(xxhash64(saltBy), lit(saltFactor.toLong)))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }
}

/** Test-data catalog: registers the driver-generated parquet tables as temp
  * views, the Spark-native analog of the reference's connector catalog
  * (presto-spi/.../connector/ConnectorMetadata.java — tables are declared,
  * schema comes from the source; here the parquet footer is the declaration).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // (session, dir) pairs already registered — avoids re-reading ten parquet
  // footers for every one of the ~100 declared queries in a Verify run.
  private val registered = scala.collection.mutable.Set[(SparkSession, String)]()

  def ensure(spark: SparkSession, dir: String): Unit = synchronized {
    if (!registered((spark, dir))) {
      Engine.configure(spark)
      names.foreach { n => t(spark, dir, n).createOrReplaceTempView(n) }
      // a session points at one sfDir at a time; drop stale entries
      registered.filterInPlace { case (s, d) => (s ne spark) || d == dir }
      registered += ((spark, dir))
    }
  }

  /** Direct DataFrame access for API-style (non-SQL) queries.
    *
    * `events.ts` normalizes to a session-zoned µs TIMESTAMP whichever way
    * the fixture generation wrote it — parquet TIMESTAMP(NANOS) (read as a
    * long under the legacy nanosAsLong conf and floor-truncated, exactly
    * DuckDB's ns→µs cast) or plain TIMESTAMP(MICROS) (read natively as
    * TIMESTAMP_NTZ; the UTC session makes the LTZ cast value-preserving).
    * Every downstream events query and oracle sees one type either way
    * (FIXTURES.md §C).
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case _ => df.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else df
  }
}
