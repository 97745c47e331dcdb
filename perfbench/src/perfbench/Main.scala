package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload per run, timed from outside the
  * program through its public functions. Writes a result file that
  * `run.py` turns into the benchmark's result line.
  *
  * Untraced (`--trace 0`): the end-to-end metrics of the named workload.
  * Traced (`--trace 1`): the per-layer metrics of both workloads,
  * with spans around every call into the program and a scheduler
  * listener registered, so each traced run reports every per-layer
  * metric.
  */
object Main {

  private final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, tables: String, cliCp: String, result: String, traceOut: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("tables"), m("cli-cp"), m("result"), m("trace-out"))
  }

  /** Task slots: at most half the host's cores, the rest left to JIT,
    * GC and other processes.
    */
  val slots: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors / 2))

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checkErrors = mutable.ArrayBuffer.empty[String]
  private val opErrors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private def count(s: PassStats): Unit = {
    attempted += s.attempted; failed += s.failed; opErrors ++= s.errors
  }

  private def med(xs: Seq[Double]): Double = Runner.median(xs)

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val uptimeS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = parse(argv)
    var genNs = 0L
    def gen[T](body: => T): T = {
      val t0 = System.nanoTime(); try body finally genNs += System.nanoTime() - t0
    }
    var setupS = Double.NaN
    val markSetup = () => setupS = uptimeS + (System.nanoTime() - entryNs - genNs) / 1e9
    Files.createDirectories(Paths.get(a.work))

    if (!a.trace) {
      var spark: SparkSession = null
      val (stats, check) = a.workload match {
        case "pipe" =>
          val pipe = gen(new Pipe(a.seed, a.work))
          System.err.println(f"perfbench: inputs made in ${genNs / 1e9}%.2f s: " +
            pipe.inputs.map { case (k, v) => s"$k ${v.length} B" }.mkString(", "))
          (Runner.passes(pipe.ops, warmups = 4, a.seconds, minPasses = 5, onTimed = markSetup),
            () => pipe.check())
        case "spark" =>
          spark = session(a.work)
          val w = gen(new SparkWork(spark, a.seed, a.work, a.tables))
          System.err.println(f"perfbench: inputs made in ${genNs / 1e9}%.2f s")
          val verifyErrors = w.warmUp()
          (Runner.passes(w.ops, warmups = 0, a.seconds, minPasses = 2, after = w.after,
            onTimed = markSetup),
            () => verifyErrors ++ w.scan.check() ++ w.scan.selfTest())
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      count(stats)
      val heapMb = Runner.retainedHeapMb()
      checkErrors ++= check()
      if (spark != null) spark.stop()
      val (cold, coldErr) = Runner.cliColdMs(a.cliCp, a.work, launches = 9)
      checkErrors ++= coldErr
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (med(stats.passS), "s")
      metrics("op_geomean_ms") = (Runner.geomean(stats.opMs.values.map(med).toSeq), "ms")
      metrics("cpu_s") = (med(stats.cpuS), "s")
      metrics("heap_retained_mb") = (heapMb, "MB")
      if (cold.nonEmpty) metrics("cli_cold_ms") = (med(cold), "ms")
    } else traced(a)

    writeResult(a.result)
  }

  /** Per-layer metrics of both workloads, in one process. Each runs a
    * fixed number of passes, so the share of failed ops is the same in
    * every traced run.
    */
  private def traced(a: Args): Unit = {
    val spans = new Spans

    spans("pipe") {
      val pipe = new Pipe(a.seed, a.work)
      val s = Runner.passes(pipe.ops, warmups = 3, 0, minPasses = 3, spans = Some(spans))
      count(s)
      checkErrors ++= pipe.check()
      pipe.formatLayer(spans, reps = 3).foreach { case (k, v) => metrics(k) = v }
      metrics("jvm.gc_ms.pipe") = (med(s.gcMs), "ms")
      metrics("trace.pass_s.pipe") = (med(s.passS), "s")
    }

    spans("spark") {
      val spark = session(a.work)
      val events = new SparkEvents
      spark.sparkContext.addSparkListener(events)
      val w = new SparkWork(spark, a.seed, a.work, a.tables)
      checkErrors ++= w.warmUp()
      val s = Runner.passes(w.ops, warmups = 0, 0, minPasses = 2, after = w.after,
        spans = Some(spans))
      count(s)
      SparkEvents.drain(spark.sparkContext)
      val scan = w.scan
      def opMed(op: String): Double = med(s.opMs(op))
      def rowsS(op: String): Double = scan.rowsPerOp / (opMed(op) / 1e3)
      scan.readFormats.foreach(f => metrics(s"sources.read_rows_s.$f") = (rowsS(s"read.$f"), "rows/s"))
      metrics("sources.split_read_rows_s.msgpack") = (rowsS("split_read.msgpack"), "rows/s")
      Seq("json", "msgpack").foreach { f =>
        metrics(s"sources.typed_read_rows_s.$f") = (rowsS(s"typed_read.$f"), "rows/s")
        metrics(s"sources.typed_over_raw_x.$f") = (opMed(s"typed_read.$f") / opMed(s"read.$f"), "x")
      }
      metrics("sources.variant_read_rows_s.cbor") = (rowsS("variant_read.cbor"), "rows/s")
      Seq("json", "msgpack", "avro").foreach(f =>
        metrics(s"sources.write_rows_s.$f") = (rowsS(s"write.$f"), "rows/s"))
      metrics("sources.run_rows_s.msgpack-cbor") = (rowsS("run.msgpack-cbor"), "rows/s")
      metrics("functions.from_msgpack_rows_s") = (rowsS("functions.from_msgpack"), "rows/s")
      metrics("functions.to_msgpack_rows_s") = (rowsS("functions.to_msgpack"), "rows/s")
      val scanNames = scan.ops.map(_.name).toSet
      val perPass = s.windows.grouped(w.ops.size).toSeq.map(_.collect {
        case (n, st, en) if scanNames(n) => events.in(st, en) })
      metrics("spark.jobs.scan") = (med(perPass.map(_.map(_._1).sum.toDouble)), "count")
      metrics("spark.tasks.scan") = (med(perPass.map(_.map(_._2).sum.toDouble)), "count")
      metrics("spark.sched_gap_s.scan") = (med(perPass.map(_.map(_._4).sum)), "s")
      w.queries.entries.foreach { e =>
        val ev = s.windows.filter(_._1 == e).map { case (_, st, en) => events.in(st, en) }
        metrics(s"queries.${e}_s") = (opMed(e) / 1e3, "s")
        metrics(s"spark.jobs.$e") = (med(ev.map(_._1.toDouble)), "count")
        metrics(s"spark.tasks.$e") = (med(ev.map(_._2.toDouble)), "count")
        metrics(s"spark.task_cpu_s.$e") = (med(ev.map(_._3)), "s")
        metrics(s"spark.sched_gap_s.$e") = (med(ev.map(_._4)), "s")
      }
      metrics("jvm.gc_ms.spark") = (med(s.gcMs), "ms")
      metrics("trace.pass_s.spark") = (med(s.passS), "s")
      checkErrors ++= scan.check() ++ scan.selfTest()
      spark.stop()
    }
    Files.writeString(Paths.get(a.traceOut), spans.toJson)
  }

  private def writeResult(path: String): Unit = {
    def js(s: String): String = {
      val sb = new java.lang.StringBuilder; Records.jsonString(s, sb); sb.toString
    }
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${js(k)}: {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": ${js(u)}}"""
    }
    Files.writeString(Paths.get(path),
      s"""{"attempted": $attempted, "failed": $failed,
         | "op_errors": ${opErrors.map(js).mkString("[", ", ", "]")},
         | "check_errors": ${checkErrors.map(js).mkString("[", ", ", "]")},
         | "metrics": ${ms.mkString("{", ", ", "}")}}
         |""".stripMargin)
  }
}
