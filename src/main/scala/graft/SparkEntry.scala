package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the SURVEY §2 operator inventory re-expressed Spark-first
  * over the driver-generated test tables; `oracleSql` holds the DuckDB
  * equivalent for every SQL-expressible entry (same column names — the
  * driver's compare sorts columns by name before hashing values).
  */
object SparkEntry {

  /** All registered gate queries, in registration order. */
  val registry: Seq[(String, GQ)] =
    RelationalQueries.all ++ AggWindowQueries.all ++ TextQueries.all ++
      VectorQueries.all ++ EventQueries.all

  /** Materialize every shared inter-stage table (shingle index, MinHash and
    * SimHash signatures, bucketed-normed embeddings) up front, so per-query
    * timings don't depend on which query happens to touch a shared stage
    * first. Bench times this as its own `materialize` phase.
    *
    * The six chains are independent, so they run as CONCURRENT Spark jobs
    * in the one session through `Sessions.concurrently`: wall time is the
    * longest chain, not the sum, and when a chain fails this returns only
    * after every other chain has finished, so no warm job is still running
    * when the caller clears the cache and starts timing.
    */
  def preMaterialize(spark: SparkSession, sfDir: String): Unit = {
    // Per-chain wall-clock to stderr: the materialize phase is ~30% of the
    // official bench total, and "which chain is the long pole" should be a
    // printed fact, not a guess (the chains run concurrently, so total =
    // longest chain + scheduler interleaving).
    def timed(name: String)(body: => Unit): () => Unit = () => {
      // Per-chain FAIR pool (Sessions sets spark.scheduler.mode=FAIR):
      // created on demand by naming it; pools share slots fairly, so one
      // chain's wide stage can no longer starve another chain's stream of
      // small jobs (the CC rounds). Tagged INSIDE the unit — local props
      // are per-thread.
      val t0 = System.nanoTime()
      Sessions.inPool(spark, name)(body)
      System.err.println(
        f"[materialize] $name%-10s ${(System.nanoTime() - t0) / 1e9}%5.1f s")
    }
    Sessions.concurrently(Seq(
      timed("shingle") { TextQueries.warmShingleChain(spark, sfDir) },
      timed("winnow") { TextQueries.warmWinnowChain(spark, sfDir) },
      timed("repspan") { TextQueries.warmRepSpanChain(spark, sfDir) },
      timed("simhash-cc") { TextQueries.warmSimhashChain(spark, sfDir) },
      timed("bpe") { TextQueries.warmBpeChain(spark, sfDir) },
      timed("vectors") { VectorQueries.warmInterStage(spark, sfDir) }))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.fn }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted entries get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (name, GQ(_, Some(sql))) => name -> sql }.toMap
}
