package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, sum, to_json}

import graft.RqEngine
import graft.functions.CodecFns

/** The scan half of the `spark` workload: the DSv2 source and sink (`RqEngine` over
  * `RqTableProvider`) and the codec expressions of `CodecFns`, reading
  * and writing sharded files side by side. Every op is materialised
  * with `queryExecution.toRdd.count()`, or is a write.
  */
final class Scan(spark: SparkSession, seed: Long, workDir: String) {

  val shards = 4
  val perShard = 1500
  val n: Int = shards * perShard
  /** Frames in the single frame-indexed msgpack file. */
  val frames = 8

  private val engine = new RqEngine(spark)
  private val in = Paths.get(workDir, "scan-in")
  private val out = Paths.get(workDir, "scan-out")

  val recs: Vector[Records.Rec] =
    (0 until shards).flatMap(s => Records.make(seed, perShard, s.toLong * perShard)).toVector
  private val rows = recs.map(Records.csvRow)

  private def writeShards(fmt: String, enc: Seq[Records.Rec] => Array[Byte]): Unit = {
    val dir = Files.createDirectories(in.resolve(fmt))
    recs.grouped(perShard).zipWithIndex.foreach { case (g, i) =>
      Files.write(dir.resolve(f"part-$i%05d.$fmt"), enc(g))
    }
  }

  writeShards("json", Records.json)
  writeShards("csv", g => Records.csv(g.map(Records.csvRow)))
  writeShards("msgpack", Records.msgpack)
  writeShards("cbor", Records.cbor)
  writeShards("avro", Records.avro)

  // one msgpack file with a frame-index sidecar (format: `rqx1`, then
  // one record-start byte offset per line) splitting it into `frames`
  locally {
    val dir = Files.createDirectories(in.resolve("msgpack-framed"))
    val (bytes, offs) = Records.msgpackWithOffsets(recs)
    Files.write(dir.resolve("part-00000.msgpack"), bytes)
    val marks = (1 until frames).map(f => offs(f * n / frames))
    Files.writeString(dir.resolve(".part-00000.msgpack.rqx"),
      ("rqx1" +: marks.map(_.toString)).mkString("", "\n", "\n"))
  }

  private val src: DataFrame = {
    val jsonLines = recs.map(m => new String(Records.json(Seq(m)), "UTF-8").stripSuffix("\n"))
    spark.createDataset(jsonLines)(Encoders.STRING).toDF("value").repartition(shards).cache()
  }
  private val bin: DataFrame =
    spark.createDataset(recs.map(m => Records.msgpack(Seq(m))))(Encoders.BINARY)
      .toDF("b").repartition(shards).cache()
  src.count(); bin.count()

  private def p(sub: String): String = in.resolve(sub).toString
  private def o(sub: String): String = out.resolve(sub).toString
  private def count(df: DataFrame): Unit = df.queryExecution.toRdd.count()
  private val avroOpts = Map("avroSchema" -> Records.avroSchemaJson)

  val readFormats = Seq("json", "csv", "msgpack", "cbor", "avro")

  val ops: Seq[Op] =
    readFormats.map(f => Op(s"read.$f", () => count(engine.read(f, p(f))))) ++ Seq(
      Op("split_read.msgpack", () => count(engine.read("msgpack", p("msgpack-framed")))),
      Op("typed_read.json", () => count(engine.readTyped("json", p("json")))),
      Op("typed_read.msgpack", () => count(engine.readTyped("msgpack", p("msgpack")))),
      Op("variant_read.cbor", () => count(engine.readVariant("cbor", p("cbor")))),
      Op("write.json", () => engine.write("json", src, o("json"))),
      Op("write.msgpack", () => engine.write("msgpack", src, o("msgpack"))),
      Op("write.avro", () => engine.write("avro", src, o("avro"), avroOpts)),
      Op("run.msgpack-cbor", () => engine.run("msgpack", p("msgpack"), "cbor", o("cbor"))),
      Op("functions.from_msgpack", () => count(bin.select(CodecFns.from_msgpack(col("b"))))),
      Op("functions.to_msgpack", () => count(src.select(CodecFns.to_msgpack(col("value"))))))

  /** Rows each op reads, writes or converts. */
  val rowsPerOp: Int = n

  // ------------------------------------------------------------- checks

  private def key(v: AnyRef): Long = v match {
    case m: java.util.Map[_, _] => m.get("orderkey").asInstanceOf[Number].longValue
    case l: java.util.List[_] => l.get(0).toString.toLong
  }
  private def sorted(vs: Seq[AnyRef]): Seq[AnyRef] = vs.sortBy(key)

  private def strings(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.getString(0))

  private def decodedFiles(dir: String, fmt: String): Seq[AnyRef] =
    Files.list(Paths.get(dir)).iterator.asScala.toSeq
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .sortBy(_.toString)
      .flatMap(f => Checks.decoder(fmt)(Files.readAllBytes(f)))

  private def same(name: String, want: Seq[AnyRef], got: => Seq[AnyRef],
      anyKeyOrder: Boolean = false): Seq[String] =
    try Checks.diffSeq(sorted(want), sorted(got), anyKeyOrder).map(d => s"$name: $d").toSeq
    catch { case e: Exception => Seq(s"$name: unreadable output: $e") }

  /** Sums of the numeric columns and the field names of a typed read,
    * against the generator's.
    */
  private def typedCheck(name: String, df: DataFrame, want: Seq[Records.Rec]): Seq[String] = {
    val names = df.schema.fieldNames.toSeq.sorted
    val wantNames = want.head.keySet.asScala.toSeq.sorted
    if (names != wantNames)
      return Seq(s"$name: fields [${names.mkString(",")}] != [${wantNames.mkString(",")}]")
    val longCols = Seq("orderkey", "partkey", "linenumber")
    val dblCols = Seq("quantity", "extendedprice", "discount")
    val r = df.agg(sum(col("ship.priority")), (longCols ++ dblCols).map(c => sum(col(c))): _*).head()
    def g(m: Records.Rec, c: String): Number = m.get(c).asInstanceOf[Number]
    val wantLong = want.map(m => g(m.get("ship").asInstanceOf[Records.Rec], "priority").longValue).sum +:
      longCols.map(c => want.map(g(_, c).longValue).sum)
    val wantDbl = dblCols.map(c => want.map(g(_, c).doubleValue).sum)
    val gotLong = (0 to longCols.size).map(i => r.getLong(i))
    val gotDbl = dblCols.indices.map(i => r.getDouble(longCols.size + 1 + i))
    (if (gotLong != wantLong) Seq(s"$name: integer sums $gotLong != $wantLong") else Nil) ++
      gotDbl.zip(wantDbl).zip(dblCols).collect {
        case ((a, b), c) if math.abs(a - b) > 1e-9 * math.max(1.0, math.abs(b)) =>
          s"$name: sum($c) $a != $b"
      }
  }

  def check(): Seq[String] = {
    val reads = readFormats.flatMap { f =>
      same(s"read.$f", if (f == "csv") rows else recs,
        strings(engine.read(f, p(f))).map(Checks.parseJson))
    }
    val splits = engine.read("msgpack", p("msgpack-framed")).queryExecution.toRdd.getNumPartitions
    val split =
      (if (splits != frames) Seq(s"split_read.msgpack: $splits partitions, want $frames") else Nil) ++
        same("split_read.msgpack", recs,
          strings(engine.read("msgpack", p("msgpack-framed"))).map(Checks.parseJson))
    val typed = Seq("json", "msgpack").flatMap(f =>
      typedCheck(s"typed_read.$f", engine.readTyped(f, p(f)), recs))
    val variant = same("variant_read.cbor", recs,
      strings(engine.readVariant("cbor", p("cbor")).select(to_json(col("value"))))
        .map(Checks.parseJson), anyKeyOrder = true)
    val writes = Seq("json", "msgpack", "avro").flatMap(f =>
      same(s"write.$f", recs, decodedFiles(o(f), f)))
    val run = same("run.msgpack-cbor", recs, decodedFiles(o("cbor"), "cbor"))
    val from = same("functions.from_msgpack", recs,
      strings(bin.select(CodecFns.from_msgpack(col("b")))).map(Checks.parseJson))
    val to = same("functions.to_msgpack", recs,
      src.select(CodecFns.to_msgpack(col("value"))).collect().toSeq
        .map(r => Records.mpRead(new Records.In(r.getAs[Array[Byte]](0)))))
    reads ++ split ++ typed ++ variant ++ writes ++ run ++ from ++ to
  }

  /** Feeds the scan-side checkers corrupted outputs: a typed read with
    * one row dropped and with one field name changed by one bit, and the
    * written JSON shards with one byte flipped and one record dropped.
    */
  def selfTest(): Seq[String] = {
    val typed = engine.readTyped("json", p("json"))
    val last = recs.last.get("orderkey")
    val typedMissed = Seq(
      "record dropped" -> typed.where(col("orderkey") =!= last),
      "byte flipped" -> typed.withColumnRenamed("partkey", "partkex")).collect {
      case (what, df) if typedCheck("typed", df, recs).isEmpty =>
        s"self-test: typed_read checker missed a $what output"
    }
    val shards = Files.list(Paths.get(o("json"))).iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .map(f => Files.readAllBytes(f))
    val whole = shards.reduce(_ ++ _)
    val writeMissed = Checks.corruptions("json", whole).collect {
      case (what, bad) if same("write", recs, Checks.readJson(bad)).isEmpty =>
        s"self-test: write.json checker missed a $what output"
    }
    typedMissed ++ writeMissed
  }

}
