package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}

/** Output checkers, each built apart from the program: JSON through
  * Jackson, YAML through Jackson's YAML module, Avro through
  * `DataFileReader`, MessagePack and CBOR through the decoders in
  * [[Records]], CSV and raw through the small readers here. Each returns
  * the first difference from the generator's records, or None.
  */
object Checks {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_LONG_FOR_INTS)
  private lazy val yamlMapper = new ObjectMapper(
    new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    .enable(DeserializationFeature.USE_LONG_FOR_INTS)

  def fromJackson(n: JsonNode): AnyRef =
    if (n.isObject) {
      val m = new JMap[String, AnyRef]
      n.fields().asScala.foreach(e => m.put(e.getKey, fromJackson(e.getValue)))
      m
    } else if (n.isArray) {
      val l = new JList[AnyRef]
      n.elements().asScala.foreach(e => l.add(fromJackson(e)))
      l
    } else if (n.isIntegralNumber) {
      if (!n.canConvertToLong) throw new IllegalStateException(s"integer out of range: $n")
      Long.box(n.longValue)
    } else if (n.isNumber) Double.box(n.doubleValue)
    else if (n.isTextual) n.textValue
    else if (n.isBoolean) java.lang.Boolean.valueOf(n.booleanValue)
    else if (n.isNull) null
    else throw new IllegalStateException(s"unexpected JSON node $n")

  def parseJson(s: String): AnyRef = fromJackson(mapper.readTree(s))

  /** First difference between an expected and a decoded value. A JSON
    * number carries no integer/float tag, so a Long and a Double of the
    * same value are equal; everything else must match exactly, maps in
    * key order unless `anyKeyOrder`.
    */
  def diff(want: AnyRef, got: AnyRef, path: String = "$",
      anyKeyOrder: Boolean = false): Option[String] = (want, got) match {
    case (null, null) => None
    case (a: java.lang.Long, b: java.lang.Long) =>
      if (a == b) None else Some(s"$path: $b != $a")
    case (a: Number, b: Number)
        if a.isInstanceOf[java.lang.Double] || b.isInstanceOf[java.lang.Double] =>
      if (a.doubleValue == b.doubleValue) None else Some(s"$path: $b != $a")
    case (a: JMap[_, _], b: JMap[_, _]) =>
      val ka = a.keySet.asScala.toSeq.map(_.toString)
      val kb = b.keySet.asScala.toSeq.map(_.toString)
      val sameKeys = if (anyKeyOrder) ka.sorted == kb.sorted else ka == kb
      if (!sameKeys) Some(s"$path: keys [${kb.mkString(",")}] != [${ka.mkString(",")}]")
      else ka.iterator.map(k => diff(a.get(k).asInstanceOf[AnyRef],
        b.get(k).asInstanceOf[AnyRef], s"$path.$k", anyKeyOrder)).collectFirst {
        case Some(d) => d
      }
    case (a: JList[_], b: JList[_]) =>
      if (a.size != b.size) Some(s"$path: ${b.size} elements != ${a.size}")
      else a.asScala.indices.iterator.map(i => diff(a.get(i).asInstanceOf[AnyRef],
        b.get(i).asInstanceOf[AnyRef], s"$path[$i]", anyKeyOrder)).collectFirst {
        case Some(d) => d
      }
    case (a, b) if a != null && a == b => None
    case (a, b) => Some(s"$path: ${show(b)} != ${show(a)}")
  }

  private def show(v: AnyRef): String =
    if (v == null) "null" else s"${v.getClass.getSimpleName}(${v.toString.take(80)})"

  def diffSeq(want: Seq[AnyRef], got: Seq[AnyRef],
      anyKeyOrder: Boolean = false): Option[String] =
    if (want.size != got.size) Some(s"${got.size} records != ${want.size}")
    else want.indices.iterator.map(i => diff(want(i), got(i), s"record[$i]",
      anyKeyOrder)).collectFirst { case Some(d) => d }

  // ------------------------------------------------------------ decoders

  def lines(bytes: Array[Byte]): Seq[String] = {
    val s = new String(bytes, UTF_8)
    if (s.nonEmpty && !s.endsWith("\n")) throw new IllegalStateException("missing final newline")
    s.split("\n", -1).toSeq.dropRight(1)
  }

  def readJson(bytes: Array[Byte]): Seq[AnyRef] = lines(bytes).map(parseJson)

  /** Headerless CSV, RFC 4180 quoting; one JList of strings per row. */
  def readCsv(bytes: Array[Byte]): Seq[AnyRef] = {
    val s = new String(bytes, UTF_8)
    val rows = Vector.newBuilder[AnyRef]
    var row = new JList[AnyRef]
    val cell = new StringBuilder
    var i = 0
    var quoted = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') { cell += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cell += c
      } else c match {
        case '"' if cell.isEmpty => quoted = true
        case ',' => row.add(cell.toString); cell.clear()
        case '\n' =>
          row.add(cell.toString); cell.clear(); rows += row; row = new JList[AnyRef]
        case other => cell += other
      }
      i += 1
    }
    if (quoted || cell.nonEmpty || !row.isEmpty)
      throw new IllegalStateException("csv: unterminated final row")
    rows.result()
  }

  def readRaw(bytes: Array[Byte]): Seq[AnyRef] = lines(bytes)

  def readAvro(bytes: Array[Byte]): Seq[AnyRef] = {
    val r = new org.apache.avro.file.DataFileReader[AnyRef](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    try r.iterator.asScala.map(fromAvro).toVector finally r.close()
  }

  private def fromAvro(o: AnyRef): AnyRef = o match {
    case rec: org.apache.avro.generic.GenericRecord =>
      val m = new JMap[String, AnyRef]
      rec.getSchema.getFields.asScala.foreach(f => m.put(f.name, fromAvro(rec.get(f.pos))))
      m
    case l: java.util.Collection[_] =>
      new JList[AnyRef](l.asScala.map(e => fromAvro(e.asInstanceOf[AnyRef])).asJavaCollection)
    case s: CharSequence => s.toString
    case i: java.lang.Integer => Long.box(i.longValue)
    case x => x
  }

  /** One YAML document per record, documents back to back: each starts
    * at a top-level line beginning with the records' first key.
    */
  def readYamlDocs(bytes: Array[Byte], firstKey: String): Seq[AnyRef] = {
    val docs = Vector.newBuilder[String]
    val cur = new StringBuilder
    lines(bytes).foreach { l =>
      if (l.startsWith(firstKey + ":") && cur.nonEmpty) { docs += cur.toString; cur.clear() }
      cur ++= l += '\n'
    }
    if (cur.nonEmpty) docs += cur.toString
    docs.result().map(d => fromJackson(yamlMapper.readTree(d)))
  }

  def readMsgpack(bytes: Array[Byte]): Seq[AnyRef] = Records.decodeAll(bytes, Records.mpRead)
  def readCbor(bytes: Array[Byte]): Seq[AnyRef] = Records.decodeAll(bytes, Records.cbRead)

  def decoder(format: String): Array[Byte] => Seq[AnyRef] = format match {
    case "json" => readJson
    case "csv" => readCsv
    case "raw" => readRaw
    case "avro" => readAvro
    case "yaml" => readYamlDocs(_, "orderkey")
    case "msgpack" => readMsgpack
    case "cbor" => readCbor
  }

  /** Decode `bytes` as `format` and compare with `want`, in order. */
  def check(format: String, bytes: Array[Byte], want: Seq[AnyRef]): Option[String] =
    try diffSeq(want, decoder(format)(bytes))
    catch { case e: Exception => Some(s"undecodable $format output: $e") }

  // ----------------------------------------------------------- self-test

  /** Byte offsets where each record of a checked output starts. */
  private def recordStarts(format: String, bytes: Array[Byte]): Seq[Int] = format match {
    case "msgpack" | "cbor" =>
      val in = new Records.In(bytes)
      val one: Records.In => AnyRef = if (format == "msgpack") Records.mpRead else Records.cbRead
      val b = Vector.newBuilder[Int]
      while (!in.atEnd) { b += in.p; one(in) }
      b.result()
    case "yaml" =>
      val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      Iterator.iterate(s.indexOf("\norderkey:"))(i => s.indexOf("\norderkey:", i + 1))
        .takeWhile(_ >= 0).map(_ + 1).toVector.+:(0)
    case _ => // newline-framed formats
      0 +: bytes.indices.filter(i => bytes(i) == '\n' && i + 1 < bytes.length).map(_ + 1)
  }

  /** The two corruptions of one checked output: one byte flipped in the
    * middle, and the last record dropped (for Avro, re-written without
    * it by the benchmark's own writer).
    */
  def corruptions(format: String, bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    // an ASCII letter or digit, so the flip changes content, never only
    // whitespace a parser may skip
    val at = (bytes.length / 2 until bytes.length).find(i =>
      Character.isLetterOrDigit(bytes(i).toChar) && bytes(i) >= 0).get
    val flipped = bytes.clone()
    flipped(at) = (flipped(at) ^ 0x01).toByte
    val dropped =
      if (format == "avro") {
        val recs = readAvro(bytes).map(_.asInstanceOf[Records.Rec])
        Records.avro(recs.dropRight(1))
      } else java.util.Arrays.copyOf(bytes, recordStarts(format, bytes).last)
    Seq("byte flipped" -> flipped, "record dropped" -> dropped)
  }

  /** Feeds each corruption of a correct output to its checker; returns
    * the corruptions the checker failed to report. Record-stream outputs
    * are cut to their first 200 records first, which keeps the test cheap.
    */
  def selfTest(name: String, format: String, bytes0: Array[Byte],
      want0: Seq[AnyRef]): Seq[String] = {
    val (bytes, want) =
      if (format == "avro" || want0.size <= 200) (bytes0, want0)
      else (java.util.Arrays.copyOf(bytes0, recordStarts(format, bytes0)(200)), want0.take(200))
    corruptions(format, bytes).collect {
      case (what, bad) if check(format, bad, want).isEmpty =>
        s"self-test: $name checker missed a $what output"
    }
  }
}
