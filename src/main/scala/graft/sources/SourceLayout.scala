package graft.sources

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Ingest

/** The ONE home of layout storage: the path sanitizer, the source
  * stamp, and the write-once publish every layout module and both
  * stream epoch chains go through. Previously each module carried its
  * own copy of the sanitizer, and two of them disagreed on the regex
  * ('.' kept in the path but collapsed in the table name), so two
  * sfDirs differing only in punctuation could map to one catalog
  * table over two different data paths — exactly the drift class a
  * single shared helper removes. With one slug, path and table name
  * always agree (adversarially-colliding dir names share BOTH, never
  * a mixed state); the driver fixtures (sf0.001/0.01/0.1) stay
  * distinct under it.
  *
  * Write-once protocol ([[publish]]). A directory is complete iff it
  * holds a root `_SUCCESS` marker, and a reader only ever sees a
  * complete directory or none:
  *
  *  1. stage: the build writes into a fresh staging directory, a
  *     hidden sibling of the final one (same parent, so step 3 is one
  *     `rename(2)`); a build that throws removes it again;
  *  2. marker: the staging directory gets its root `_SUCCESS` (Spark's
  *     committer writes one for a single-table write; a directory of
  *     several tables gets it here);
  *  3. rename: the staging directory moves onto the final path with
  *     `ATOMIC_MOVE`;
  *  4. the race loser: when a concurrent build published first, the
  *     rename onto its non-empty directory fails, and the loser
  *     deletes its staging copy and uses the winner's directory;
  *  5. a torn directory — the final path without a marker, left by a
  *     killed writer that wrote in place — is removed before the
  *     rename, never served.
  *
  * A killed JVM can still leave a staging sibling behind; no reader
  * looks at it (hidden name, never a layout or epoch path).
  */
object SourceLayout {

  def slug(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  /** The completion marker of a published directory. */
  private val Marker = "_SUCCESS"

  /** Content stamp of the fixture dir: CRC over every parquet file's
    * (name, length, mtime, head+tail bytes), recursively. Every layout root
    * embeds it, so a driver-side fixture REGENERATION — same path, new
    * bytes; round 5's events.ts re-encode proved this happens between
    * rounds — orphans all derived layouts instead of letting the
    * _SUCCESS marker silently re-serve shingles/pairs/spans/components
    * of the OLD corpus. The sample covers the parquet footer (schema +
    * row-group metadata + its own CRC live in the tail), so a
    * regeneration that preserves every file size inside the
    * filesystem's mtime granularity — the hole an (mtime, length)-only
    * stamp leaves — still changes the stamp. Walk order is name-sorted
    * so the stamp is deterministic; a dir that vanishes or denies
    * listing mid-walk contributes nothing rather than NPEing.
    *
    * Memoized per directory for the JVM's lifetime: the stamp is read
    * several times per query (layout roots, bucketed table names), and
    * a mid-session regeneration under the SAME JVM isn't a supported
    * flow — cross-session staleness is what the stamp defends.
    */
  def sourceStamp(sfDir: String): String =
    stampCache.computeIfAbsent(sfDir, computeStamp)

  private val stampCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Test hook: drop the memoized stamp so a same-JVM regeneration
    * (unsupported in production flows) can be simulated. */
  private[graft] def uncacheStamp(sfDir: String): Unit =
    stampCache.remove(sfDir)

  private val computeStamp: java.util.function.Function[String, String] = {
    sfDir =>
      val crc = new java.util.zip.CRC32()
      def sample(f: java.io.File): Unit = {
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val len = raf.length()
          val head = new Array[Byte](math.min(64L, len).toInt)
          raf.readFully(head)
          crc.update(head)
          if (len > 64) {
            val tail = new Array[Byte](math.min(64L, len - 64).toInt)
            raf.seek(len - tail.length)
            raf.readFully(tail)
            crc.update(tail)
          }
        } finally raf.close()
      }
      def walk(f: java.io.File): Unit =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty)
            .sortBy(_.getName).foreach(walk)
        else if (f.getName.endsWith(".parquet") || f.getName == Marker) {
          crc.update(f.getName.getBytes("UTF-8"))
          crc.update(java.nio.ByteBuffer.allocate(16)
            .putLong(f.length()).putLong(f.lastModified()).array())
          try sample(f)
          catch { case _: java.io.IOException => () } // metadata alone then
        }
      val d = new java.io.File(sfDir)
      if (d.exists()) walk(d)
      java.lang.Long.toHexString(crc.getValue)
  }

  def root(prefix: String, sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/$prefix/${slug(sfDir)}_${sourceStamp(sfDir)}"

  /** True iff `dir` holds a completed [[publish]]. */
  def complete(dir: String): Boolean =
    Files.isRegularFile(Paths.get(dir, Marker))

  /** Publish `dir` once (see the protocol above): unless it is already
    * complete, `write` fills a fresh staging path (it does not exist
    * yet when `write` starts), which is then marked and renamed onto
    * `dir`. */
  def publish(dir: String)(write: String => Unit): Unit =
    if (!complete(dir)) {
      val target = Paths.get(dir).toAbsolutePath
      val staging = target.resolveSibling(
        s".${target.getFileName}.staging-${java.util.UUID.randomUUID()}")
      try {
        write(staging.toString)
        if (!Files.exists(staging.resolve(Marker)))
          Files.createFile(staging.resolve(Marker))
        if (Files.exists(target) && !complete(dir)) remove(target)
        Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        // lost the race: the winner's complete directory stands
        case _: FileSystemException if complete(dir) => ()
      } finally remove(staging)
    }

  /** The parquet table at `dir`, built from `df` on first use (any
    * session) through [[publish]], read back afterwards. */
  def table(s: SparkSession, dir: String)(df: => DataFrame): DataFrame = {
    publish(dir)(df.write.parquet(_))
    Ingest.readParquet(s, dir)
  }

  /** Directory key of a similarity threshold: the full value — a
    * rounded form (t40) would let 0.4 and 0.404 share a directory,
    * silently re-serving rows computed at the other threshold. */
  def thresholdKey(threshold: Double): String =
    s"t${threshold.toString.replace('.', '_').replace('-', 'm')}"

  private val EpochDir = """epoch(\d+)""".r

  /** The highest n whose `stateDir/epoch<n>` is complete, if any — a
    * stream maintainer's restart point. */
  def lastEpoch(stateDir: String): Option[Int] =
    Option(new java.io.File(stateDir).list()).getOrElse(Array.empty)
      .collect { case n @ EpochDir(i) if complete(s"$stateDir/$n") => i.toInt }
      .maxOption

  /** Remove every `stateDir/epoch<n>` with n < `below`. */
  def pruneEpochs(stateDir: String, below: Int): Unit =
    Option(new java.io.File(stateDir).list()).getOrElse(Array.empty)
      .collect { case n @ EpochDir(i) if i.toInt < below => n }
      .foreach(n => remove(Paths.get(stateDir, n)))

  /** Delete `p` and everything under it; paths that vanish meanwhile
    * (a concurrent remover) are skipped. */
  private def remove(p: Path): Unit =
    try Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f =>
      try Files.delete(f) catch { case _: IOException => () })
    catch { case _: IOException | _: UncheckedIOException => () }
}
