package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-GiB streaming-shard smoke: proves the path-level tar source
  * walks shards FAR beyond any column-operator byte cap with one
  * member resident. Shards are written to disk member-by-member
  * (never a whole shard in memory on the writer side either), walked
  * via `TarShardSource.members`, and every count / byte sum / planted
  * byte is verified exactly. The `shardStream` step of [[ScaleSmoke]].
  */
object ShardStreamSmoke {
  def run(spark: SparkSession, nShards: Int = 4, membersPerShard: Int = 1536,
      memberBytes: Int = 1 << 20): Measure.Counts = {
    val dir = graft.Fixtures.scratchDir("scale-shards")
    // stream each shard to disk one MEMBER at a time: per-member
    // ustar blocks from the library builder, end marker appended once
    (0 until nShards).foreach { sIdx =>
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          dir.resolve(s"big_$sIdx.tar").toFile), 1 << 20)
      (0 until membersPerShard).foreach { m =>
        val data = new Array[Byte](memberBytes)
        var i = 0
        while (i < memberBytes) {
          data(i) = ((sIdx * 131 + m * 31 + i * 7) % 251).toByte
          i += 1
        }
        val one = graft.operators.Tar.buildTar(
          Seq((s"big/${sIdx}_$m.bin", data)))
        out.write(one, 0, one.length - 1024) // defer the end marker
      }
      out.write(new Array[Byte](1024))
      out.close()
    }
    val totalBytes = nShards.toLong * membersPerShard * memberBytes

    val members = graft.sources.TarShardSource.members(spark,
      dir.toString + "/big_*.tar", maxEntryBytes = 2 * memberBytes)
    val firstByte = udf((b: Array[Byte]) => (b(0) & 0xFF).toLong)
    val agg = members.toDF()
      .agg(count(lit(1)), sum(col("size")),
        sum(firstByte(col("bytes"))))
      .collect()(0)
    val expFirst = (0 until nShards).map { sIdx =>
      (0 until membersPerShard)
        .map(m => ((sIdx * 131 + m * 31) % 251).toLong).sum
    }.sum
    require(agg.getLong(0) == nShards.toLong * membersPerShard,
      s"member count ${agg.getLong(0)}")
    require(agg.getLong(1) == totalBytes, s"byte sum ${agg.getLong(1)}")
    require(agg.getLong(2) == expFirst,
      s"first-byte sum ${agg.getLong(2)} != $expFirst")
    // spot-verify a planted byte deep inside one member
    val probe = members.toDF()
      .filter(col("path") === s"big/${nShards / 2}_77.bin")
      .select(col("bytes")).collect()(0).getAs[Array[Byte]](0)
    require(probe(123456 % memberBytes) ==
      (((nShards / 2) * 131 + 77 * 31 + (123456 % memberBytes) * 7)
        % 251).toByte, "planted byte mismatch")
    // cleanup: 6 GiB of fixture must not outlive the smoke
    graft.Fixtures.delete(dir)

    // --- the ZIP counterpart: one multi-GiB archive walked off disk
    // via the random-access EOCD/CD path — CD + one member resident.
    val zdir = graft.Fixtures.scratchDir("scale-zip")
    val nZipMembers = 2048
    val zipMemberBytes = memberBytes
    // streamed writer: local headers + stored data to disk one member
    // at a time, CD composed incrementally (stored members, real CRCs)
    locally {
      val f = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          zdir.resolve("big.zip").toFile), 1 << 20)
      var pos = 0L
      val cd = new java.io.ByteArrayOutputStream()
      def w16(o: java.io.OutputStream, v: Int): Unit = {
        o.write(v & 0xFF); o.write((v >> 8) & 0xFF)
      }
      def w32(o: java.io.OutputStream, v: Long): Unit = {
        o.write((v & 0xFF).toInt); o.write(((v >> 8) & 0xFF).toInt)
        o.write(((v >> 16) & 0xFF).toInt)
        o.write(((v >> 24) & 0xFF).toInt)
      }
      (0 until nZipMembers).foreach { m =>
        val data = new Array[Byte](zipMemberBytes)
        var i = 0
        while (i < zipMemberBytes) {
          data(i) = ((m * 31 + i * 7) % 251).toByte
          i += 1
        }
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        val name = s"zip/$m.bin".getBytes("UTF-8")
        val lho = pos
        w32(f, 0x04034b50L); w16(f, 20); w16(f, 0); w16(f, 0)
        w16(f, 0); w16(f, 0)
        w32(f, crc.getValue); w32(f, data.length.toLong)
        w32(f, data.length.toLong)
        w16(f, name.length); w16(f, 0)
        f.write(name); f.write(data)
        pos += 30 + name.length + data.length
        w32(cd, 0x02014b50L); w16(cd, 20); w16(cd, 20); w16(cd, 0)
        w16(cd, 0); w16(cd, 0); w16(cd, 0)
        w32(cd, crc.getValue); w32(cd, data.length.toLong)
        w32(cd, data.length.toLong)
        w16(cd, name.length); w16(cd, 0); w16(cd, 0)
        w16(cd, 0); w16(cd, 0); w32(cd, 0L)
        w32(cd, lho)
        cd.write(name)
      }
      val cdBytes = cd.toByteArray
      f.write(cdBytes)
      w32(f, 0x06054b50L); w16(f, 0); w16(f, 0)
      w16(f, nZipMembers); w16(f, nZipMembers)
      w32(f, cdBytes.length.toLong); w32(f, pos); w16(f, 0)
      f.close()
    }
    val zipTotal = nZipMembers.toLong * zipMemberBytes
    val zMembers = graft.sources.ZipShardSource.members(spark,
      zdir.resolve("big.zip").toString,
      maxEntryBytes = 2 * zipMemberBytes)
    val zAgg = zMembers.toDF()
      .agg(count(lit(1)), sum(col("size")),
        sum(firstByte(col("bytes")))).collect()(0)
    val expZFirst = (0 until nZipMembers)
      .map(m => ((m * 31) % 251).toLong).sum
    require(zAgg.getLong(0) == nZipMembers.toLong,
      s"zip member count ${zAgg.getLong(0)}")
    require(zAgg.getLong(1) == zipTotal, s"zip byte sum ${zAgg.getLong(1)}")
    require(zAgg.getLong(2) == expZFirst,
      s"zip first-byte sum ${zAgg.getLong(2)} != $expZFirst")
    graft.Fixtures.delete(zdir)
    Seq("shards" -> nShards, "members" -> nShards * membersPerShard, "bytes" -> totalBytes,
      "zipMembers" -> nZipMembers, "zipBytes" -> zipTotal)
  }
}
