package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

/** Seeded lineitem-shaped records and the benchmark's own writers for
  * every input format. No input is made by the program's encoders: JSON,
  * CSV, raw, YAML and TOML text is written here, Avro through the Apache
  * Avro library, MessagePack and CBOR by the small encoders below.
  *
  * A record is a canonical Java value: `JMap[String, AnyRef]` (insertion
  * ordered), `JList[AnyRef]`, `java.lang.Long`, `java.lang.Double`,
  * `String`. Checkers compare decoded outputs against these.
  */
object Records {

  type Rec = JMap[String, AnyRef]

  private val words = Vector("carefully", "final", "deposits", "naïve",
    "日本語", "🚚", "\"quoted\"", "back\\slash", "tab\there", "ünïcödé",
    "bell\u0007", "slash/", "packages", "€uro", "ironic", "comma,")
  private val modes = Vector("AIR", "MAIL", "SHIP", "TRUCK", "RAIL")
  private val instructs = Vector("DELIVER IN PERSON", "COLLECT COD",
    "TAKE BACK RETURN", "NONE")
  private val flags = Vector("N", "A", "R")

  /** `n` records with unique, increasing `orderkey`s from `base`. */
  def make(seed: Long, n: Int, base: Long = 0L): Vector[Rec] = {
    val r = new java.util.Random(seed * 1000003L + base)
    Vector.tabulate(n) { i =>
      val m = new Rec
      m.put("orderkey", Long.box(base + i))
      m.put("partkey", Long.box(r.nextInt(200000).toLong))
      m.put("linenumber", Long.box(1L + r.nextInt(7)))
      m.put("quantity", Double.box(1.0 + r.nextInt(50)))
      m.put("extendedprice", Double.box(r.nextInt(10000000) / 100.0))
      m.put("discount", Double.box(r.nextInt(11) / 100.0))
      m.put("returnflag", flags(r.nextInt(3)))
      m.put("shipdate", f"${1992 + r.nextInt(7)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")
      m.put("comment", Seq.fill(3 + r.nextInt(6))(words(r.nextInt(words.size))).mkString(" "))
      m.put("delta", Long.box(-1L - (r.nextLong() >>> 24)))
      m.put("big", Long.box(Long.MaxValue - r.nextInt(1 << 20)))
      val ship = new Rec
      ship.put("mode", modes(r.nextInt(modes.size)))
      ship.put("instruct", instructs(r.nextInt(instructs.size)))
      ship.put("priority", Long.box(r.nextInt(5).toLong))
      m.put("ship", ship)
      val tags = new JList[AnyRef]
      (0 until r.nextInt(4)).foreach(_ => tags.add(words(r.nextInt(words.size))))
      m.put("tags", tags)
      m
    }
  }

  /** A copy of `m` whose strings hold no control characters. */
  def withoutControlChars(m: Rec): Rec = {
    def clean(v: AnyRef): AnyRef = v match {
      case s: String => s.filter(_ >= ' ')
      case sub: JMap[_, _] =>
        val c = new Rec
        sub.asScala.foreach { case (k, e) => c.put(k.toString, clean(e.asInstanceOf[AnyRef])) }
        c
      case l: JList[_] => new JList[AnyRef](l.asScala.map(e => clean(e.asInstanceOf[AnyRef])).asJava)
      case x => x
    }
    clean(m).asInstanceOf[Rec]
  }

  /** CSV rows (every cell a string), raw lines: the text formats' records. */
  def csvRow(m: Rec): JList[AnyRef] = {
    val l = new JList[AnyRef]
    Seq("orderkey", "partkey", "returnflag", "shipdate", "comment",
      "extendedprice").foreach(k => l.add(m.get(k).toString))
    l
  }

  def rawLine(m: Rec): String = s"${m.get("orderkey")} ${m.get("comment")}"

  /** `{"records": [...]}` — the one record a YAML or TOML document holds. */
  def wrapped(recs: Seq[Rec]): Rec = {
    val w = new Rec
    w.put("records", new JList[AnyRef](recs.asJava))
    w
  }

  // ---------------------------------------------------------------- text

  def jsonString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append("\\u%04x".format(c.toInt))
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def jsonValue(v: AnyRef, sb: java.lang.StringBuilder): Unit = v match {
    case m: JMap[_, _] =>
      sb.append('{')
      var first = true
      m.asScala.foreach { case (k, e) =>
        if (!first) sb.append(", ")
        first = false
        jsonString(k.toString, sb); sb.append(": ")
        jsonValue(e.asInstanceOf[AnyRef], sb)
      }
      sb.append('}')
    case l: JList[_] =>
      sb.append('[')
      l.asScala.zipWithIndex.foreach { case (e, i) =>
        if (i > 0) sb.append(", ")
        jsonValue(e.asInstanceOf[AnyRef], sb)
      }
      sb.append(']')
    case s: String => jsonString(s, sb)
    case x => sb.append(x.toString) // Long, Double (plain notation, < 1e7)
  }

  /** Whitespace-separated JSON documents, one per line. */
  def json(recs: Seq[Rec]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    recs.foreach { m => jsonValue(m, sb); sb.append('\n') }
    sb.toString.getBytes(UTF_8)
  }

  def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def csv(rows: Seq[JList[AnyRef]]): Array[Byte] =
    rows.map(_.asScala.map(c => csvCell(c.toString)).mkString(","))
      .mkString("", "\n", "\n").getBytes(UTF_8)

  def raw(lines: Seq[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes(UTF_8)

  /** YAML block document `records:` with one mapping per record; every
    * string double-quoted with escapes.
    */
  def yaml(recs: Seq[Rec]): Array[Byte] = {
    val sb = new java.lang.StringBuilder("records:\n")
    def scalar(v: AnyRef): Unit = v match {
      case s: String => jsonString(s, sb)
      case x => sb.append(x.toString)
    }
    recs.foreach { m =>
      var first = true
      m.asScala.foreach { case (k, v) =>
        sb.append(if (first) "- " else "  ").append(k).append(':')
        first = false
        v match {
          case sub: JMap[_, _] =>
            sb.append('\n')
            sub.asScala.foreach { case (k2, v2) =>
              sb.append("    ").append(k2).append(": ")
              scalar(v2.asInstanceOf[AnyRef]); sb.append('\n')
            }
          case l: JList[_] if l.isEmpty => sb.append(" []\n")
          case l: JList[_] =>
            sb.append('\n')
            l.asScala.foreach { e =>
              sb.append("  - "); scalar(e.asInstanceOf[AnyRef]); sb.append('\n')
            }
          case x => sb.append(' '); scalar(x); sb.append('\n')
        }
      }
    }
    sb.toString.getBytes(UTF_8)
  }

  /** TOML document: one `[[records]]` table per record, the nested object
    * as an inline table, the array as an inline array.
    */
  def toml(recs: Seq[Rec]): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    def scalar(v: AnyRef): Unit = v match {
      case s: String => jsonString(s, sb)
      case x => sb.append(x.toString)
    }
    recs.foreach { m =>
      sb.append("[[records]]\n")
      m.asScala.foreach { case (k, v) =>
        sb.append(k).append(" = ")
        v match {
          case sub: JMap[_, _] =>
            sb.append("{ ")
            sub.asScala.zipWithIndex.foreach { case ((k2, v2), i) =>
              if (i > 0) sb.append(", ")
              sb.append(k2).append(" = "); scalar(v2.asInstanceOf[AnyRef])
            }
            sb.append(" }")
          case l: JList[_] =>
            sb.append('[')
            l.asScala.zipWithIndex.foreach { case (e, i) =>
              if (i > 0) sb.append(", ")
              scalar(e.asInstanceOf[AnyRef])
            }
            sb.append(']')
          case x => scalar(x)
        }
        sb.append('\n')
      }
    }
    sb.toString.getBytes(UTF_8)
  }

  // ---------------------------------------------------------------- avro

  val avroSchemaJson: String =
    """{"type": "record", "name": "Lineitem", "fields": [
      |  {"name": "orderkey", "type": "long"},
      |  {"name": "partkey", "type": "long"},
      |  {"name": "linenumber", "type": "long"},
      |  {"name": "quantity", "type": "double"},
      |  {"name": "extendedprice", "type": "double"},
      |  {"name": "discount", "type": "double"},
      |  {"name": "returnflag", "type": "string"},
      |  {"name": "shipdate", "type": "string"},
      |  {"name": "comment", "type": "string"},
      |  {"name": "delta", "type": "long"},
      |  {"name": "big", "type": "long"},
      |  {"name": "ship", "type": {"type": "record", "name": "Ship", "fields": [
      |    {"name": "mode", "type": "string"},
      |    {"name": "instruct", "type": "string"},
      |    {"name": "priority", "type": "long"}]}},
      |  {"name": "tags", "type": {"type": "array", "items": "string"}}]}""".stripMargin

  lazy val avroSchema: org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(avroSchemaJson)

  private def toAvro(v: AnyRef, s: org.apache.avro.Schema): AnyRef = v match {
    case m: JMap[_, _] =>
      val rec = new org.apache.avro.generic.GenericData.Record(s)
      m.asScala.foreach { case (k, e) =>
        rec.put(k.toString, toAvro(e.asInstanceOf[AnyRef], s.getField(k.toString).schema))
      }
      rec
    case l: JList[_] =>
      new java.util.ArrayList[AnyRef](
        l.asScala.map(e => toAvro(e.asInstanceOf[AnyRef], s.getElementType)).asJava)
    case x => x
  }

  def avro(recs: Seq[Rec]): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val w = new org.apache.avro.file.DataFileWriter[AnyRef](
      new org.apache.avro.generic.GenericDatumWriter[AnyRef](avroSchema))
    w.create(avroSchema, bos)
    recs.foreach(m => w.append(toAvro(m, avroSchema)))
    w.close()
    bos.toByteArray
  }

  // ------------------------------------------------ msgpack / cbor encoders

  def msgpack(recs: Seq[AnyRef]): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    recs.foreach(mpWrite(_, out))
    out.flush()
    bos.toByteArray
  }

  /** Back-to-back msgpack values plus the byte offset where each starts. */
  def msgpackWithOffsets(recs: Seq[AnyRef]): (Array[Byte], Vector[Long]) = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    val offs = recs.map { v => out.flush(); val o = bos.size.toLong; mpWrite(v, out); o }
    out.flush()
    (bos.toByteArray, offs.toVector)
  }

  private def mpLen(n: Int, fix: Int, fixMax: Int, c8: Int, c16: Int, c32: Int,
      out: DataOutputStream): Unit =
    if (n <= fixMax) out.writeByte(fix | n)
    else if (c8 >= 0 && n < 256) { out.writeByte(c8); out.writeByte(n) }
    else if (n < 65536) { out.writeByte(c16); out.writeShort(n) }
    else { out.writeByte(c32); out.writeInt(n) }

  private def mpWrite(v: AnyRef, out: DataOutputStream): Unit = v match {
    case null => out.writeByte(0xc0)
    case b: java.lang.Boolean => out.writeByte(if (b) 0xc3 else 0xc2)
    case l: java.lang.Long =>
      val n = l.longValue
      if (n >= 0 && n < 128) out.writeByte(n.toInt)
      else if (n >= -32 && n < 0) out.writeByte(n.toInt & 0xff)
      else if (n >= 0 && n < 256) { out.writeByte(0xcc); out.writeByte(n.toInt) }
      else if (n >= 0 && n < 65536) { out.writeByte(0xcd); out.writeShort(n.toInt) }
      else if (n >= 0 && n < (1L << 32)) { out.writeByte(0xce); out.writeInt(n.toInt) }
      else if (n >= 0) { out.writeByte(0xcf); out.writeLong(n) }
      else if (n >= -128) { out.writeByte(0xd0); out.writeByte(n.toInt) }
      else if (n >= -32768) { out.writeByte(0xd1); out.writeShort(n.toInt) }
      else if (n >= Int.MinValue) { out.writeByte(0xd2); out.writeInt(n.toInt) }
      else { out.writeByte(0xd3); out.writeLong(n) }
    case d: java.lang.Double => out.writeByte(0xcb); out.writeDouble(d)
    case s: String =>
      val b = s.getBytes(UTF_8)
      mpLen(b.length, 0xa0, 31, 0xd9, 0xda, 0xdb, out); out.write(b)
    case l: JList[_] =>
      mpLen(l.size, 0x90, 15, -1, 0xdc, 0xdd, out)
      l.asScala.foreach(e => mpWrite(e.asInstanceOf[AnyRef], out))
    case m: JMap[_, _] =>
      mpLen(m.size, 0x80, 15, -1, 0xde, 0xdf, out)
      m.asScala.foreach { case (k, e) =>
        mpWrite(k.asInstanceOf[AnyRef], out); mpWrite(e.asInstanceOf[AnyRef], out)
      }
  }

  def cbor(recs: Seq[AnyRef]): Array[Byte] = {
    val bos = new ByteArrayOutputStream
    val out = new DataOutputStream(bos)
    recs.foreach(cbWrite(_, out))
    out.flush()
    bos.toByteArray
  }

  private def cbHead(major: Int, arg: Long, out: DataOutputStream): Unit = {
    val m = major << 5
    if (arg >= 0 && arg < 24) out.writeByte(m | arg.toInt)
    else if (arg >= 0 && arg < 256) { out.writeByte(m | 24); out.writeByte(arg.toInt) }
    else if (arg >= 0 && arg < 65536) { out.writeByte(m | 25); out.writeShort(arg.toInt) }
    else if (arg >= 0 && arg < (1L << 32)) { out.writeByte(m | 26); out.writeInt(arg.toInt) }
    else { out.writeByte(m | 27); out.writeLong(arg) }
  }

  private def cbWrite(v: AnyRef, out: DataOutputStream): Unit = v match {
    case null => out.writeByte(0xf6)
    case b: java.lang.Boolean => out.writeByte(if (b) 0xf5 else 0xf4)
    case l: java.lang.Long =>
      val n = l.longValue
      if (n >= 0) cbHead(0, n, out) else cbHead(1, -1L - n, out)
    case d: java.lang.Double => out.writeByte(0xfb); out.writeDouble(d)
    case s: String =>
      val b = s.getBytes(UTF_8); cbHead(3, b.length, out); out.write(b)
    case l: JList[_] =>
      cbHead(4, l.size, out); l.asScala.foreach(e => cbWrite(e.asInstanceOf[AnyRef], out))
    case m: JMap[_, _] =>
      cbHead(5, m.size, out)
      m.asScala.foreach { case (k, e) =>
        cbWrite(k.asInstanceOf[AnyRef], out); cbWrite(e.asInstanceOf[AnyRef], out)
      }
  }

  // ------------------------------------------------ msgpack / cbor decoders

  /** Cursor over a byte array; decoders fail loudly on anything malformed. */
  final class In(val b: Array[Byte], var p: Int = 0) {
    def atEnd: Boolean = p >= b.length
    def u8(): Int = { if (p >= b.length) throw new IllegalStateException("truncated"); val x = b(p) & 0xff; p += 1; x }
    def n(k: Int): Long = { var x = 0L; var i = 0; while (i < k) { x = (x << 8) | u8(); i += 1 }; x }
    def str(len: Long): String = {
      if (len < 0 || p + len > b.length) throw new IllegalStateException("truncated string")
      val s = new String(b, p, len.toInt, UTF_8); p += len.toInt; s
    }
  }

  def decodeAll(bytes: Array[Byte], one: In => AnyRef): Vector[AnyRef] = {
    val in = new In(bytes)
    val out = Vector.newBuilder[AnyRef]
    while (!in.atEnd) out += one(in)
    out.result()
  }

  private def seqOf(in: In, n: Long, one: In => AnyRef): JList[AnyRef] = {
    val l = new JList[AnyRef]
    var i = 0L
    while (i < n) { l.add(one(in)); i += 1 }
    l
  }

  private def mapOf(in: In, n: Long, one: In => AnyRef): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]
    var i = 0L
    while (i < n) { m.put(one(in).asInstanceOf[String], one(in)); i += 1 }
    m
  }

  def mpRead(in: In): AnyRef = {
    val c = in.u8()
    if (c < 0x80) Long.box(c.toLong)
    else if (c < 0x90) mapOf(in, c & 0x0f, mpRead)
    else if (c < 0xa0) seqOf(in, c & 0x0f, mpRead)
    else if (c < 0xc0) in.str(c & 0x1f)
    else if (c >= 0xe0) Long.box((c - 256).toLong)
    else c match {
      case 0xc0 => null
      case 0xc2 => java.lang.Boolean.FALSE
      case 0xc3 => java.lang.Boolean.TRUE
      case 0xca => Double.box(java.lang.Float.intBitsToFloat(in.n(4).toInt).toDouble)
      case 0xcb => Double.box(java.lang.Double.longBitsToDouble(in.n(8)))
      case 0xcc => Long.box(in.n(1))
      case 0xcd => Long.box(in.n(2))
      case 0xce => Long.box(in.n(4))
      case 0xcf =>
        val x = in.n(8)
        if (x < 0) throw new IllegalStateException("u64 beyond i64") else Long.box(x)
      case 0xd0 => Long.box(in.n(1).toByte.toLong)
      case 0xd1 => Long.box(in.n(2).toShort.toLong)
      case 0xd2 => Long.box(in.n(4).toInt.toLong)
      case 0xd3 => Long.box(in.n(8))
      case 0xd9 => in.str(in.n(1))
      case 0xda => in.str(in.n(2))
      case 0xdb => in.str(in.n(4))
      case 0xdc => seqOf(in, in.n(2), mpRead)
      case 0xdd => seqOf(in, in.n(4), mpRead)
      case 0xde => mapOf(in, in.n(2), mpRead)
      case 0xdf => mapOf(in, in.n(4), mpRead)
      case other => throw new IllegalStateException(f"msgpack: unexpected byte 0x$other%02x")
    }
  }

  def cbRead(in: In): AnyRef = {
    val c = in.u8()
    val major = c >> 5
    val info = c & 0x1f
    def arg(): Long = info match {
      case i if i < 24 => i.toLong
      case 24 => in.n(1)
      case 25 => in.n(2)
      case 26 => in.n(4)
      case 27 => in.n(8)
      case i => throw new IllegalStateException(s"cbor: unsupported length info $i")
    }
    major match {
      case 0 =>
        val x = arg(); if (x < 0) throw new IllegalStateException("u64 beyond i64"); Long.box(x)
      case 1 => Long.box(-1L - arg())
      case 3 => in.str(arg())
      case 4 => seqOf(in, arg(), cbRead)
      case 5 => mapOf(in, arg(), cbRead)
      case 7 => info match {
        case 20 => java.lang.Boolean.FALSE
        case 21 => java.lang.Boolean.TRUE
        case 22 => null
        case 26 => Double.box(java.lang.Float.intBitsToFloat(in.n(4).toInt).toDouble)
        case 27 => Double.box(java.lang.Double.longBitsToDouble(in.n(8)))
        case i => throw new IllegalStateException(s"cbor: unsupported simple $i")
      }
      case m => throw new IllegalStateException(s"cbor: unsupported major type $m")
    }
  }
}
