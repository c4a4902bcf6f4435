package graft

import java.io.{BufferedOutputStream, ByteArrayOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** The fixture kit shared by the query set, the tools and the specs:
  * scratch directories that never outlive the JVM, the seeded hash the
  * synthetic generators draw from, and the OSW archive writer.
  */
object Fixtures {

  /** This JVM's scratch root under `java.io.tmpdir`. It is created on
    * first use, and one shutdown hook deletes it with everything the
    * fixtures wrote under it, so no run accumulates temp directories.
    */
  lazy val root: Path = {
    val dir = Files.createTempDirectory("graft-fixtures")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try delete(dir)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }))
    dir
  }

  /** A new, empty directory under [[root]]. */
  def scratchDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Runs `body` on a new scratch directory and deletes the directory
    * when `body` ends, normally or by an exception: for a fixture only
    * one step of a run needs, so its disk is freed before the next step.
    */
  def withScratch[T](prefix: String)(body: Path => T): T = {
    val dir = scratchDir(prefix)
    try body(dir)
    finally delete(dir)
  }

  /** Deletes `path` and everything under it; a missing path is no error. */
  def delete(path: Path): Unit = if (Files.exists(path)) {
    val paths = Files.walk(path)
    try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }

  /** MurmurHash3's 64-bit finalizer (fmix64): the seeded, well-mixed
    * values the synthetic image, audio and video generators draw their
    * pixels and samples from, so distinct classes stay unrelated.
    */
  def mix64(a: Long): Long = {
    var x = a
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** One archive member: its name and its text, produced piece by piece
    * so a member far larger than the heap can be written.
    */
  type Member = (String, Iterator[String])

  /** The text of one OSW layer entry: a FeatureCollection whose `header`
    * members (JSON object members without braces, "" for none) come
    * before its features and whose `lateHeader` members come after them.
    */
  def featureCollection(header: String, features: Iterator[String],
      lateHeader: String = ""): Iterator[String] = {
    def members(m: String) = if (m.isEmpty) "" else "," + m
    Iterator.single(s"""{"type":"FeatureCollection"${members(header)},"features":[""") ++
      features.zipWithIndex.map { case (f, i) => if (i == 0) f else "," + f } ++
      Iterator.single(s"]${members(lateHeader)}}")
  }

  /** Writes `members` as the ZIP file `path` and returns `path`. */
  def writeZip(path: Path, members: Member*): Path = {
    writeTo(new BufferedOutputStream(Files.newOutputStream(path)), members)
    path
  }

  /** `members` as a ZIP archive in memory. */
  def zipBytes(members: Member*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    writeTo(bos, members)
    bos.toByteArray
  }

  /** Members are DEFLATED with data descriptors, as streamed exports
    * write them. Closes `out`.
    */
  private def writeTo(out: OutputStream, members: Seq[Member]): Unit = {
    val zos = new ZipOutputStream(out)
    try members.foreach { case (name, text) =>
      zos.putNextEntry(new ZipEntry(name))
      text.foreach(s => zos.write(s.getBytes(UTF_8)))
      zos.closeEntry()
    } finally zos.close()
  }
}
