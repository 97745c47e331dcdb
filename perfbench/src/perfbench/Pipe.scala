package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Cli
import graft.sources.RqFormat

/** The `pipe` workload: `graft.Cli.run` over in-memory streams, one
  * thread, for fifteen format pairs. Only the rq codecs run here.
  */
final class Pipe(seed: Long, workDir: String) {

  /** Records per record-stream op; YAML and TOML hold fewer, in one doc. */
  val n = 8000
  val nDoc = 1500

  val recs: Vector[Records.Rec] = Records.make(seed, n)
  private val docRecs = recs.take(nDoc)
  private val yamlRecs = docRecs.map(Records.withoutControlChars)
  private val rows = recs.map(Records.csvRow)
  private val rawLines = recs.map(Records.rawLine)

  private val avroSchemaPath = Paths.get(workDir, "lineitem.avsc")
  Files.writeString(avroSchemaPath, Records.avroSchemaJson)

  val inputs: Map[String, Array[Byte]] = Map(
    "json" -> Records.json(recs),
    "msgpack" -> Records.msgpack(recs),
    "cbor" -> Records.cbor(recs),
    "csv" -> Records.csv(rows),
    "raw" -> Records.raw(rawLines),
    "avro" -> Records.avro(recs),
    "yaml" -> Records.yaml(docRecs),
    "toml" -> Records.toml(docRecs),
    "json-doc" -> Records.json(yamlRecs))

  /** name, CLI flags, input, output format, the records the output must hold. */
  final case class Pair(name: String, flags: Seq[String], input: String, outFmt: String,
      want: Seq[AnyRef])

  val pairs: Seq[Pair] = Seq(
    Pair("json-json", Seq("-j", "-J"), "json", "json", recs),
    Pair("json-msgpack", Seq("-j", "-M"), "json", "msgpack", recs),
    Pair("msgpack-json", Seq("-m", "-J"), "msgpack", "json", recs),
    Pair("cbor-json", Seq("-c", "-J"), "cbor", "json", recs),
    Pair("json-cbor", Seq("-j", "-C"), "json", "cbor", recs),
    Pair("msgpack-cbor", Seq("-m", "-C"), "msgpack", "cbor", recs),
    Pair("csv-csv", Seq("--input-csv", "-V"), "csv", "csv", rows),
    Pair("csv-json", Seq("--input-csv", "-J"), "csv", "json", rows),
    Pair("avro-json", Seq("-a", "-J"), "avro", "json", recs),
    Pair("json-avro", Seq("-j", "-A", avroSchemaPath.toString), "json", "avro", recs),
    Pair("raw-raw", Seq("-r", "-R"), "raw", "raw", rawLines),
    Pair("yaml-json", Seq("-y", "-J"), "yaml", "json", Seq(Records.wrapped(docRecs))),
    Pair("toml-json", Seq("-t", "-J"), "toml", "json", Seq(Records.wrapped(docRecs))),
    Pair("json-yaml", Seq("-j", "-Y"), "json-doc", "yaml", yamlRecs),
    Pair("typed-msgpack-msgpack", Seq("--typed", "-m", "-M"), "msgpack", "msgpack", recs))

  /** Output of each pair's latest run. */
  val outputs = mutable.Map.empty[String, Array[Byte]]

  def runPair(p: Pair): Unit = {
    val in = inputs(p.input)
    val out = new ByteArrayOutputStream(in.length * 2)
    Cli.run(Cli.parse("-q" +: p.flags), new ByteArrayInputStream(in), out)
    outputs(p.name) = out.toByteArray
  }

  /** A string with a control character written to YAML comes back as
    * `!!binary` bytes, not as the string: this op fails on every run, on
    * an input that does not depend on the seed, and is counted in
    * `failed`. The seeded `json-yaml` pair therefore holds no control
    * characters.
    */
  private val controlChar: Seq[Records.Rec] = {
    val m = new Records.Rec
    m.put("orderkey", Long.box(0L)); m.put("comment", "bell\u0007")
    Seq(m)
  }

  private val controlCharOp = Op("json-yaml.control-char", () => {
    val out = new ByteArrayOutputStream
    Cli.run(Cli.parse(Seq("-q", "-j", "-Y")),
      new ByteArrayInputStream(Records.json(controlChar)), out)
    Checks.check("yaml", out.toByteArray, controlChar).foreach(d =>
      throw new IllegalStateException(s"YAML output does not hold the string: $d"))
  })

  val ops: Seq[Op] = pairs.map(p => Op(p.name, () => runPair(p))) :+ controlCharOp

  /** Check every output, then feed each checker its two corruptions. */
  def check(): Seq[String] = pairs.flatMap { p =>
    outputs.get(p.name) match {
      case None => Seq(s"${p.name}: no output to check")
      case Some(out) =>
        Checks.check(p.outFmt, out, p.want).map(d => s"${p.name}: $d").toSeq ++
          Checks.selfTest(p.name, p.outFmt, out, p.want)
    }
  }

  // ------------------------------------------------------------- traced

  private val formatInputs = Seq("json" -> "json", "csv" -> "csv", "raw" -> "raw",
    "msgpack" -> "msgpack", "cbor" -> "cbor", "avro" -> "avro", "yaml" -> "yaml",
    "toml" -> "toml")
  private val allocFormats = Set("json", "csv", "msgpack", "cbor", "avro")

  /** Per-format decode and encode through `RqFormat`, timed apart:
    * decode drains `decodeStream`, encode writes the decoded records back
    * with `encode`. Medians over `reps`; MB are 10^6 bytes of encoded
    * input or output.
    */
  def formatLayer(spans: Spans, reps: Int): Map[String, (Double, String)] = {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    formatInputs.foreach { case (fmt, input) =>
      val bytes = inputs(input)
      val encOpts = if (fmt == "avro") Map("avroSchema" -> Records.avroSchemaJson) else Map.empty[String, String]
      var decoded: Vector[graft.formats.Value] = Vector.empty
      val dec = mutable.ArrayBuffer.empty[Double]
      val enc = mutable.ArrayBuffer.empty[Double]
      val alloc = mutable.ArrayBuffer.empty[Double]
      var outBytes = 0L
      (0 until reps).foreach { _ =>
        val a0 = threads.getThreadAllocatedBytes(tid)
        val t0 = System.nanoTime()
        decoded = spans(s"formats.decode.$fmt")(
          RqFormat.decodeStream(fmt, new ByteArrayInputStream(bytes)).toVector)
        dec += (System.nanoTime() - t0) / 1e9
        alloc += (threads.getThreadAllocatedBytes(tid) - a0).toDouble / decoded.size
        val out = new ByteArrayOutputStream(bytes.length * 2)
        val t1 = System.nanoTime()
        spans(s"formats.encode.$fmt")(RqFormat.encode(fmt, decoded.iterator, out, encOpts))
        enc += (System.nanoTime() - t1) / 1e9
        outBytes = out.size.toLong
      }
      m(s"formats.decode_mb_s.$fmt") = (bytes.length / 1e6 / Runner.median(dec.toSeq), "MB/s")
      m(s"formats.encode_mb_s.$fmt") = (outBytes / 1e6 / Runner.median(enc.toSeq), "MB/s")
      if (allocFormats(fmt))
        m(s"formats.alloc_b_per_rec.$fmt") = (Runner.median(alloc.toSeq), "B/rec")
    }
    m.toMap
  }
}
