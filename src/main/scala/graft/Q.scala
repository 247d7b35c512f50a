package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query of the engine: the Spark-side implementation plus an
  * optional ANSI-SQL oracle the driver runs on DuckDB over the same parquet
  * tables (the analog of the reference's H2 differential oracle,
  * presto-tests/.../H2QueryRunner.java + QueryAssertions.java:97-122).
  *
  * Oracle-matching rules (SURVEY.md §7.5, FIXTURES.md §C):
  *  - column names must be identical on both sides (compare sorts by name);
  *  - every query pins a total ORDER BY with explicit NULLS FIRST/LAST;
  *  - floating aggregates go through exact decimal sums
  *    (`CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`) so partial-aggregation
  *    order cannot perturb low bits — decimal addition is associative.
  *    Both texts spell it so; [[FixedPointSum]] runs Spark's on Dsum8.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object Q {
  /** Query whose single SQL text is valid for both Spark SQL and DuckDB. */
  def sqlSame(text: String, headline: Boolean = false): Q =
    sql(text, text, headline)

  /** SQL query with per-dialect texts (Spark first, DuckDB second). */
  def sql(spark: String, duck: String, headline: Boolean = false): Q =
    Q((s, dir) => { Tables.ensure(s, dir); s.sql(spark) }, Some(duck), headline)

  /** DataFrame/Dataset-API query with a DuckDB oracle. */
  def df(duck: String, headline: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q((s, dir) => { Tables.ensure(s, dir); fn(s, dir) }, Some(duck), headline)

  /** Query with no SQL-expressible oracle (driver records rows-only check);
    * correctness is covered by a ScalaTest spec instead.
    */
  def noOracle(headline: Boolean = false)(fn: (SparkSession, String) => DataFrame): Q =
    Q((s, dir) => { Tables.ensure(s, dir); fn(s, dir) }, None, headline)
}

/** The full declared-query inventory, assembled from per-area modules. */
object Registry {
  lazy val all: Map[String, Q] =
    queries.Tpch.qs ++
      queries.Tpcds.qs ++
      queries.Relational.qs ++
      queries.Windows.qs ++
      queries.Functions.qs ++
      queries.Compat.qs ++
      queries.Sketches.qs ++
      queries.Events.qs ++
      queries.Llm.qs ++
      queries.Ddl.qs ++
      queries.Connectors.qs

  /** Bench-only plan overrides: names whose headline timing should cover
    * the OPERATOR alone while the same-named correctness query carries its
    * oracle harness. `llm_dedup_minhash`'s declared query rides a 500-doc
    * exact-Jaccard verify slice so the DuckDB gate can check LSH recall;
    * timing that slice would grade rounds on oracle overhead, not the
    * operator (the reference harness times the query, not its differential
    * check — presto-benchto-benchmarks runs vs presto-tests' H2 oracle).
    */
  lazy val benchOverrides: Map[String, Q] = Map(
    "llm_dedup_minhash" -> Q.noOracle(headline = true) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val d = Tables.t(s, dir, "documents")
      llm.Dedup.minhashLsh(d, "doc_id", llm.TextOps.wordShingles(col("text"), 2),
        k = 32, bands = 8, threshold = 0.8)
    },
    // Same rationale for the ANN headline: the declared query joins
    // `bruteForceTopK(k=20)` over the 20 query vectors as its recall-
    // differencing oracle — trivial at sf0.1 but still oracle overhead,
    // not operator cost. The override times `lshTopK` alone.
    "llm_ann_lsh" -> Q.noOracle(headline = true) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val e = Tables.t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 20)
      llm.Similarity.lshTopK(queries, e, "vec_id", "embedding", k = 3, nPlanes = 4)
    })

  /** What Bench runs: the declared inventory with operator-only overrides. */
  lazy val bench: Map[String, Q] = all ++ benchOverrides

  lazy val headline: Seq[String] =
    bench.collect { case (k, q) if q.headline => k }.toSeq.sorted
}
