package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Canonical cell and row forms shared with the Python side
  * (`inputs.py`): a statement's answer and a table dump are compared to
  * values computed from the parquet files, never from the engine.
  *
  * Cell kinds: I integer, D double (IEEE bits), T timestamp (UTC epoch
  * microseconds), S string, A float array (IEEE bits of each element).
  * A row hash is the first 8 bytes (little-endian) of the MD5 of its
  * canonical cells joined by 0x1F; a table checksum is the wrapping sum of
  * its row hashes, so it does not depend on row order. */
object Check {
  final case class Micros(v: Long)

  private val tsFmt = new java.time.format.DateTimeFormatterBuilder()
    .appendPattern("uuuu-MM-dd HH:mm:ss")
    .optionalStart().appendFraction(java.time.temporal.ChronoField.MICRO_OF_SECOND, 0, 6, true)
    .optionalEnd().toFormatter()

  def micros(text: String): Long = {
    val t = java.time.LocalDateTime.parse(text, tsFmt).toInstant(java.time.ZoneOffset.UTC)
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Kind implied by a column's protocol type byte. */
  def kindOf(tpe: Int): Char = tpe match {
    case 0x01 | 0x02 | 0x03 | 0x08 | 0x09 => 'I'
    case 0x04 | 0x05 | 0xF6 => 'D'
    case 0x07 | 0x0C => 'T'
    case _ => 'S'
  }

  private def hex(v: Long): String = f"$v%016x"

  def cell(kind: Char, v: Any): String = v match {
    case null => "N"
    case b: Array[Byte] =>
      val s = new String(b, UTF_8)
      kind match {
        case 'I' => "I" + s.trim.toLong
        case 'D' => "D" + hex(java.lang.Double.doubleToLongBits(s.trim.toDouble))
        case 'T' => "T" + micros(s)
        case 'A' =>
          val a = s.indexWhere(c => c == '(' || c == '[')
          val z = s.lastIndexWhere(c => c == ')' || c == ']')
          "A" + s.substring(a + 1, z).split(",").map(_.trim).filter(_.nonEmpty)
            .map(x => f"${java.lang.Float.floatToIntBits(x.toFloat)}%08x").mkString(",")
        case _ => "S" + s
      }
    case l: Long => if (kind == 'D') "D" + hex(java.lang.Double.doubleToLongBits(l.toDouble)) else "I" + l
    case d: Double => "D" + hex(java.lang.Double.doubleToLongBits(d))
    case f: Float => "D" + hex(java.lang.Double.doubleToLongBits(f.toDouble))
    case Micros(m) => "T" + m
    case other => "S" + other
  }

  /** Decode a text-protocol row into its raw cells (null for NULL). */
  def textCells(row: Array[Byte], n: Int): Array[Any] = {
    val r = new Reader(row)
    Array.tabulate[Any](n)(_ => r.lenencBytes())
  }

  /** Decode a binary-protocol row: 0x00 header, NULL bitmap at bit offset
    * 2, then each non-NULL value in its column type's encoding. */
  def binaryCells(row: Array[Byte], cols: Array[Col]): Array[Any] = {
    val n = cols.length
    val r = new Reader(row, 1)
    val bitmap = r.bytes((n + 7 + 2) / 8)
    Array.tabulate[Any](n) { i =>
      if ((bitmap((i + 2) / 8) & (1 << ((i + 2) % 8))) != 0) null
      else cols(i).tpe match {
        case 0x01 => r.int1().toByte.toLong
        case 0x02 => r.int2().toShort.toLong
        case 0x03 | 0x09 => r.int4().toInt.toLong
        case 0x08 => r.int8()
        case 0x04 => java.lang.Float.intBitsToFloat(r.int4().toInt)
        case 0x05 => java.lang.Double.longBitsToDouble(r.int8())
        case 0x07 | 0x0C | 0x0A =>
          val len = r.int1()
          var (y, mo, d, h, mi, s, us) = (0, 1, 1, 0, 0, 0, 0L)
          if (len >= 4) { y = r.int2(); mo = r.int1(); d = r.int1() }
          if (len >= 7) { h = r.int1(); mi = r.int1(); s = r.int1() }
          if (len >= 11) us = r.int4()
          val t = java.time.LocalDateTime.of(y, mo, d, h, mi, s)
            .toEpochSecond(java.time.ZoneOffset.UTC)
          Micros(t * 1000000L + us)
        case _ => r.lenencBytes()
      }
    }
  }

  def cells(a: Answer, row: Array[Byte]): Array[Any] =
    if (a.binary) binaryCells(row, a.cols) else textCells(row, a.cols.length)

  /** Canonical rows of an answer, with kinds from the wire column types
    * unless given. */
  def canonical(a: Answer, kinds: String = null): Array[String] = {
    val ks = if (kinds != null) kinds else a.cols.map(c => kindOf(c.tpe)).mkString
    a.rows.map { row =>
      val cs = cells(a, row)
      cs.indices.map(i => cell(ks(i), cs(i))).mkString("\u001f")
    }
  }

  def rowHash(canonicalRow: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(canonicalRow.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  def checksum(rows: Iterable[String]): String =
    java.lang.Long.toUnsignedString(rows.foldLeft(0L)(_ + rowHash(_)), 16)
}
