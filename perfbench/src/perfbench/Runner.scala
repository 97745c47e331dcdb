package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of a workload. */
final case class Op(name: String, run: () => Unit)

/** Spans kept in memory and written out when the run ends: name, start,
  * end (epoch µs) and the index of the enclosing span (-1 at top level).
  */
final class Spans {
  private final case class Span(name: String, start: Long, var end: Long, parent: Int)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  private def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def apply[T](name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(name, nowUs, 0L, open.headOption.getOrElse(-1))
    open = id :: open
    try body
    finally { spans(id).end = nowUs; open = open.tail }
  }

  def toJson: String = spans.zipWithIndex.map { case (s, i) =>
    s"""{"id":$i,"name":"${s.name}","start_us":${s.start},"end_us":${s.end},"parent":${s.parent}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Timings of one workload's passes; every figure a median over passes. */
final case class PassStats(passS: Seq[Double], cpuS: Seq[Double], gcMs: Seq[Double],
    opMs: Map[String, Seq[Double]], attempted: Int, failed: Int,
    errors: Seq[String], windows: Seq[(String, Long, Long)])

object Runner {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = osBean.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections, in MB (2^20 bytes). The pauses
    * let Spark's cleaner threads drop what the previous collection freed
    * them to release; the lowest reading counts.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed
    }.min / 1048576.0
  }

  /** Untimed warm-up passes, then timed passes of every op until
    * `seconds` have elapsed and at least `minPasses` ran. `after` runs
    * after each op, untimed. Failures are counted, with their text, and
    * leave no timing behind.
    */
  def passes(ops: Seq[Op], warmups: Int, seconds: Double, minPasses: Int,
      spans: Option[Spans] = None, after: () => Unit = () => (),
      onTimed: () => Unit = () => ()): PassStats = {
    val errors = mutable.LinkedHashSet.empty[String]
    def runOp(op: Op): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        spans match {
          case Some(s) => s(op.name)(op.run())
          case None => op.run()
        }
        val ms = (System.nanoTime() - t0) / 1e6
        System.err.println(f"perfbench: op ${op.name} $ms%.1f ms")
        Some(ms)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) || e.isInstanceOf[StackOverflowError] =>
          errors += s"${op.name}: ${e.toString.linesIterator.take(3).mkString(" | ")}"
          None
      } finally after()
    }
    (0 until warmups).foreach(_ => ops.foreach(runOp))
    errors.clear() // a failing op fails again in the timed passes, where it is counted
    onTimed()
    val passS = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    val opMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var attempted = 0
    var failed = 0
    val start = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val c0 = cpuNs; val g0 = gcMs; val t0 = System.nanoTime()
      ops.foreach { op =>
        attempted += 1
        val w0 = System.currentTimeMillis()
        runOp(op) match {
          case Some(ms) => opMs.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += ms
          case None => failed += 1
        }
        windows += ((op.name, w0, System.currentTimeMillis()))
      }
      passS += (System.nanoTime() - t0) / 1e9
      cpuS += (cpuNs - c0) / 1e9
      gcs += (gcMs - g0).toDouble
      p += 1
    }
    PassStats(passS.toSeq, cpuS.toSeq, gcs.toSeq, opMs.map { case (k, v) => k -> v.toSeq }.toMap,
      attempted, failed, errors.toSeq, windows.toSeq)
  }

  /** Wall time of fresh `graft.Cli` processes converting a one-record
    * input, one at a time; each output is checked.
    */
  def cliColdMs(classpath: String, workDir: String, launches: Int): (Seq[Double], Seq[String]) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val errors = mutable.ArrayBuffer.empty[String]
    // launch 0 is untimed: it brings the class files into the page cache
    val ms = (0 to launches).flatMap { i =>
      val pb = new ProcessBuilder(java, "-cp", classpath, s"-Dgraft.system.dir=$workDir/graft",
        "graft.Cli", "-j", "-J")
      pb.redirectErrorStream(true)
      val t0 = System.nanoTime()
      val p = pb.start()
      p.getOutputStream.write("""{"cold": [1, "start"]}""".getBytes("UTF-8"))
      p.getOutputStream.close()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      val code = p.waitFor()
      val t = (System.nanoTime() - t0) / 1e6
      if (code != 0 || out != "{\"cold\":[1,\"start\"]}\n") {
        errors += s"cli_cold launch $i: exit $code, output ${out.take(200)}"; None
      } else if (i == 0) None
      else Some(t)
    }
    (ms, errors.toSeq)
  }
}
