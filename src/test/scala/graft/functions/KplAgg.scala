package graft.functions

import java.io.ByteArrayOutputStream
import java.security.MessageDigest

/** KPL record AGGREGATION — the inverse of [[KplDeagg]], emitting the
  * public aggregation wire format (magic `0xF3899AC2`, protobuf
  * `AggregatedRecord` body, MD5 trailer). A test fixture: it builds
  * the producer-side blobs that de-aggregation is round-trip-tested
  * against. */
object KplAgg {

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeBytes(out: ByteArrayOutputStream, field: Int,
      bytes: Array[Byte]): Unit = {
    writeVarint(out, (field << 3) | 2)
    writeVarint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  private def writeVarintField(out: ByteArrayOutputStream, field: Int,
      v: Long): Unit = {
    writeVarint(out, (field << 3).toLong)
    writeVarint(out, v)
  }

  /** Aggregate `(partitionKey, explicitHashKey, data)` user records into
    * one KPL blob. Keys are table-deduplicated as the real producer
    * does; a null explicitHashKey omits the index. */
  def aggregate(records: Seq[(String, String, Array[Byte])]): Array[Byte] = {
    val pkTable = records.map(_._1).distinct
    val ehkTable = records.flatMap(r => Option(r._2)).distinct
    val body = new ByteArrayOutputStream()
    pkTable.foreach(pk => writeBytes(body, 1, pk.getBytes("UTF-8")))
    ehkTable.foreach(k => writeBytes(body, 2, k.getBytes("UTF-8")))
    records.foreach { case (pk, ehk, data) =>
      val rec = new ByteArrayOutputStream()
      writeVarintField(rec, 1, pkTable.indexOf(pk).toLong)
      if (ehk != null) writeVarintField(rec, 2, ehkTable.indexOf(ehk).toLong)
      writeBytes(rec, 3, data)
      writeBytes(body, 3, rec.toByteArray)
    }
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write(Array[Byte](0xF3.toByte, 0x89.toByte, 0x9A.toByte,
      0xC2.toByte), 0, 4)
    out.write(bodyBytes, 0, bodyBytes.length)
    val md5 = MessageDigest.getInstance("MD5").digest(bodyBytes)
    out.write(md5, 0, 16)
    out.toByteArray
  }
}
