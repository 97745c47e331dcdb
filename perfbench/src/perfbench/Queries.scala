package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The declared-query half of the `spark` workload: seven registry
  * entries, each timed
  * from `SparkEntry.queries(name)(spark, dir)` through
  * `queryExecution.toRdd.count()` (several entries do eager work when
  * built).
  *
  * Left out, because a run of this benchmark cannot hold them: the loop
  * and streaming entries `xg1_pagerank`, `qs37_stream_hier_serve` and
  * `qs33_stream_update_sink`, which at two task slots took 3.7, 10.5 and
  * 6.6 s of a warm pass (70 % of it) and 5, 19 and 12 s cold; and
  * `xs9_knn_graph`, 1.1 to 1.8 s from one process to the next, the
  * noisiest entry.
  */
final class Queries(spark: SparkSession, tablesDir: String) {

  val entries: Seq[String] = Seq(
    "q31_tpch_q3", "q09_agg_having", // relational baseline
    "qc1_msgpack_expr", // codec expression
    "xd1_minhash_lsh", "xd19_allpairs_ppjoin", // dedup
    "xt2_quality", "xt24_bpe_tokenize") // text

  private val registry = SparkEntry.queries

  private def dropPersisted(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  val ops: Seq[Op] = entries.map(e => Op(e,
    () => registry(e)(spark, tablesDir).queryExecution.toRdd.count()))

  val after: () => Unit = () => dropPersisted()

  /** Runs each entry once, untimed, writing its result as parquet with
    * the entry's DuckDB oracle SQL beside it, for the oracle compare.
    * This run is also the warm-up of the timed passes. Returns the
    * entries that failed to run.
    */
  def writeForOracle(outDir: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val failed = entries.flatMap { e =>
      try {
        val t0 = System.nanoTime()
        registry(e)(spark, tablesDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$e")
        System.err.println(f"perfbench: verify $e ${(System.nanoTime() - t0) / 1e6}%.1f ms")
        None
      } catch { case ex: Exception => Some(s"$e (verification run): $ex") }
      finally dropPersisted()
    }
    val sql = SparkEntry.oracleSql
    val missing = entries.filterNot(sql.contains).map(e => s"$e: no oracle SQL")
    val sb = new java.lang.StringBuilder("{")
    entries.filter(sql.contains).zipWithIndex.foreach { case (e, i) =>
      if (i > 0) sb.append(",\n")
      Records.jsonString(e, sb); sb.append(": "); Records.jsonString(sql(e), sb)
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), sb.append("}\n").toString)
    failed ++ missing
  }
}
