package graft.io

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The public KPL aggregated-record wire format — the producer-side
  * `.setAggregationEnabled(true)` path of the reference's populator
  * (kinesis-taxi-stream-producer StreamPopulator.java:61-66, CLI flag
  * :89): many user records packed into ONE Kinesis record so the
  * per-record service charge amortizes.
  *
  * Layout (published in the amazon-kinesis-producer aggregation-format
  * doc): 4-byte magic `F3 89 9A C2`, a protobuf-encoded
  * `AggregatedRecord` message, then the 16-byte MD5 of that protobuf
  * payload. The protobuf schema:
  * {{{
  * message AggregatedRecord {
  *   repeated string partition_key_table    = 1;
  *   repeated string explicit_hash_key_table = 2;
  *   repeated Record records                = 3;
  * }
  * message Record {
  *   required uint64 partition_key_index     = 1;
  *   optional uint64 explicit_hash_key_index = 2;
  *   required bytes  data                    = 3;
  * }
  * }}}
  * The encoding below is a hand-rolled protobuf writer/reader for
  * exactly this schema (varint + length-delimited wire types only) —
  * no protobuf runtime needed, and unknown fields on the read side
  * are skipped by wire type, so records from a real KPL (which may
  * add tags) still parse.
  *
  * De-aggregation contract (consumer side): a payload without the
  * magic is NOT aggregated and passes through untouched; a payload
  * with the magic but a failing MD5 (or malformed protobuf, or an
  * out-of-range key index) is rejected with a reason — the source
  * skips it with a warning rather than surfacing half a record pack.
  */
object KplAggregation {

  val Magic: Array[Byte] =
    Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)

  /** One user record inside an aggregated pack. */
  final case class UserRecord(
      partitionKey: String,
      explicitHashKey: Option[String],
      data: Array[Byte])

  // ---- protobuf wire helpers (varint = wire type 0, len-delim = 2) --

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7FL) | 0x80L).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeLenDelim(out: ByteArrayOutputStream, field: Int,
      bytes: Array[Byte]): Unit = {
    out.write((field << 3) | 2)
    writeVarint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  private def writeUint(out: ByteArrayOutputStream, field: Int,
      v: Long): Unit = {
    out.write(field << 3)
    writeVarint(out, v)
  }

  /** Pack user records into one aggregated Kinesis record payload.
    * Key tables are deduplicated exactly as the KPL does — repeated
    * partition keys cost one table entry plus a varint index each. */
  def aggregate(records: Seq[UserRecord]): Array[Byte] = {
    require(records.nonEmpty, "cannot aggregate zero records")
    val pkTable = records.map(_.partitionKey).distinct
    val pkIdx = pkTable.zipWithIndex.toMap
    val ehkTable = records.flatMap(_.explicitHashKey).distinct
    val ehkIdx = ehkTable.zipWithIndex.toMap
    val body = new ByteArrayOutputStream()
    pkTable.foreach(k => writeLenDelim(body, 1, k.getBytes(UTF_8)))
    ehkTable.foreach(k => writeLenDelim(body, 2, k.getBytes(UTF_8)))
    records.foreach { r =>
      val rec = new ByteArrayOutputStream()
      writeUint(rec, 1, pkIdx(r.partitionKey).toLong)
      r.explicitHashKey.foreach(k =>
        writeUint(rec, 2, ehkIdx(k).toLong))
      writeLenDelim(rec, 3, r.data)
      writeLenDelim(body, 3, rec.toByteArray)
    }
    val payload = body.toByteArray
    val md5 = MessageDigest.getInstance("MD5").digest(payload)
    val out = new ByteArrayOutputStream(
      Magic.length + payload.length + md5.length)
    out.write(Magic, 0, Magic.length)
    out.write(payload, 0, payload.length)
    out.write(md5, 0, md5.length)
    out.toByteArray
  }

  def isAggregated(data: Array[Byte]): Boolean =
    data.length >= Magic.length + 16 &&
      data(0) == Magic(0) && data(1) == Magic(1) &&
      data(2) == Magic(2) && data(3) == Magic(3)

  private final class Reader(buf: Array[Byte], var pos: Int,
      val end: Int) {
    def hasNext: Boolean = pos < end
    def readVarint(): Long = {
      var shift = 0
      var v = 0L
      while (true) {
        if (pos >= end) throw new IllegalArgumentException(
          "truncated varint")
        val b = buf(pos); pos += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
        if (shift > 63) throw new IllegalArgumentException(
          "varint too long")
      }
      v // unreachable
    }
    def readLenDelim(): Array[Byte] = {
      val len = readVarint()
      if (len < 0 || pos + len > end) throw new IllegalArgumentException(
        "truncated length-delimited field")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len.toInt)
      pos += len.toInt
      out
    }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => readVarint()
      case 1 => pos += 8
      case 2 => { val len = readVarint(); pos += len.toInt }
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  /** Unpack an aggregated payload. Left(reason) on any structural
    * failure (no magic, checksum mismatch, malformed protobuf,
    * out-of-range key index) — the caller decides whether that is a
    * pass-through (no magic) or a skip-with-warning (corrupt pack). */
  def deaggregate(data: Array[Byte]): Either[String, Vector[UserRecord]] = {
    if (!isAggregated(data)) return Left("no KPL magic prefix")
    val payloadEnd = data.length - 16
    val payload = java.util.Arrays.copyOfRange(data, Magic.length,
      payloadEnd)
    val expected = java.util.Arrays.copyOfRange(data, payloadEnd,
      data.length)
    val actual = MessageDigest.getInstance("MD5").digest(payload)
    if (!java.util.Arrays.equals(expected, actual))
      return Left("MD5 checksum mismatch")
    try {
      val pkTable = Vector.newBuilder[String]
      val ehkTable = Vector.newBuilder[String]
      val recs = Vector.newBuilder[Array[Byte]]
      val r = new Reader(payload, 0, payload.length)
      while (r.hasNext) {
        val tag = r.readVarint()
        val field = (tag >>> 3).toInt
        val wire = (tag & 7).toInt
        (field, wire) match {
          case (1, 2) => pkTable += new String(r.readLenDelim(), UTF_8)
          case (2, 2) => ehkTable += new String(r.readLenDelim(), UTF_8)
          case (3, 2) => recs += r.readLenDelim()
          case _ => r.skip(wire) // forward-compatible: unknown fields
        }
      }
      val pks = pkTable.result()
      val ehks = ehkTable.result()
      val out = Vector.newBuilder[UserRecord]
      recs.result().foreach { rb =>
        var pkI = -1L
        var ehkI = -1L
        var body: Array[Byte] = null
        val rr = new Reader(rb, 0, rb.length)
        while (rr.hasNext) {
          val tag = rr.readVarint()
          val field = (tag >>> 3).toInt
          val wire = (tag & 7).toInt
          (field, wire) match {
            case (1, 0) => pkI = rr.readVarint()
            case (2, 0) => ehkI = rr.readVarint()
            case (3, 2) => body = rr.readLenDelim()
            case _ => rr.skip(wire)
          }
        }
        if (pkI < 0 || pkI >= pks.length)
          return Left(s"partition key index $pkI out of range")
        if (ehkI >= ehks.length)
          return Left(s"explicit hash key index $ehkI out of range")
        if (body == null) return Left("record missing data field")
        out += UserRecord(pks(pkI.toInt),
          if (ehkI >= 0) Some(ehks(ehkI.toInt)) else None, body)
      }
      Right(out.result())
    } catch {
      case e: IllegalArgumentException =>
        Left(s"malformed aggregated record: ${e.getMessage}")
      case _: ArrayIndexOutOfBoundsException =>
        Left("malformed aggregated record: truncated")
    }
  }
}
