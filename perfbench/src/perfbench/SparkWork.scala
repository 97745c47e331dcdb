package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The `spark` workload: the `scan` ops (the DSv2 source and sink and
  * the codec expressions) followed by the `queries` entries, in one
  * Spark session with two task slots. A pass runs every op once, in a
  * fixed order.
  */
final class SparkWork(spark: SparkSession, seed: Long, workDir: String, tablesDir: String) {
  val scan = new Scan(spark, seed, workDir)
  val queries = new Queries(spark, tablesDir)
  val ops: Seq[Op] = scan.ops ++ queries.ops
  val after: () => Unit = queries.after

  /** Untimed warm-up: every scan op once, then every entry once writing
    * its result for the oracle compare. Returns the entries that failed.
    */
  def warmUp(): Seq[String] = {
    scan.ops.foreach(op => try op.run() catch { case NonFatal(_) => () })
    queries.writeForOracle(s"$workDir/verify")
  }
}
