package graft.sources

import org.roaringbitmap.RoaringBitmap

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** DELETION VECTORS for position deletes — the Iceberg-v3 / Delta
  * encoding of "which ordinals of ONE immutable data file are
  * deleted": a roaring bitmap per data file, serialized to a tiny
  * `.dv` sidecar, replacing the row-per-pair parquet a positional
  * DELETE used to stage. Manifest protocol:
  * `#posdel:<datafile>:<dvfile>`; what changes is the physics:
  *
  *  - SIZE: a 10%-delete of a million-row file is ~125 KB of bitmap vs
  *    >10 MB of (path STRING, pos BIGINT) pairs — at GDPR delete rates
  *    on a 100 TB table, the pending-delete rent drops >10×.
  *  - READ: membership is an O(1) bitmap probe per row, applied INSIDE
  *    the catalog scan's partition reader (the one read path) — no
  *    pair-frame anti join, no exchange in the read plan.
  *  - SCOPE: one DV covers exactly one data file (the path is embedded
  *    and verified at load), so compaction emits ONE DV per affected
  *    file and a rewrite absorbs it the moment the file leaves.
  *
  * Wire format (`GDV1`): magic, the covered data file's path
  * (UTF-8, length-prefixed — self-describing and mix-up-proof), the
  * bitmap's portable serialization. Ordinals are file-local row
  * indexes; parquet files top out far below 2³¹ rows, enforced at
  * write. A `#posdel:` line naming anything but a `.dv` ([[isDv]]) is
  * refused by [[Manifest.parse]]. */
private[graft] object DeleteVectors {

  val extension = ".dv"
  private val Magic = 0x47445631 // "GDV1"

  def isDv(path: String): Boolean = path.endsWith(extension)

  /** Serialize `bitmap` (deleted ordinals of `dataFile`) to `path`.
    * Operates on a CLONE: callers hand in [[loadBitmaps]]' JVM-shared
    * cached instances (compaction re-serializing a file's DV), and
    * RoaringBitmap is not thread-safe under mutation — runOptimize on
    * the shared object would race same-JVM readers probing it. */
  def write(path: String, dataFile: String, bitmap: RoaringBitmap): Unit = {
    val bm = bitmap.clone()
    bm.runOptimize()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic)
    val nameBytes = dataFile.getBytes(UTF_8)
    out.writeInt(nameBytes.length)
    out.write(nameBytes)
    bm.serialize(out)
    out.flush()
    Files.write(Paths.get(path), bos.toByteArray)
  }

  /** Read one DV: (covered data file, deleted ordinals). */
  def read(path: String): (String, RoaringBitmap) = {
    val in = new DataInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(Paths.get(path))))
    try {
      require(in.readInt() == Magic, s"$path is not a graft deletion vector")
      val nameBytes = new Array[Byte](in.readInt())
      in.readFully(nameBytes)
      val bm = new RoaringBitmap()
      bm.deserialize(in)
      (new String(nameBytes, UTF_8), bm)
    } finally in.close()
  }

  /** Ordinal-membership view — what the delete filters probe per row. */
  sealed trait Ordinals extends Serializable {
    def contains(pos: Long): Boolean
    def isEmpty: Boolean
  }

  object Ordinals {
    val empty: Ordinals = new Ordinals {
      def contains(pos: Long): Boolean = false
      def isEmpty: Boolean = true
    }

    def ofBitmap(b: RoaringBitmap): Ordinals =
      if (b.isEmpty) empty
      else new Ordinals {
        def contains(pos: Long): Boolean =
          pos >= 0L && pos <= Int.MaxValue && b.contains(pos.toInt)
        def isEmpty: Boolean = false
      }
  }

  /** Load a set of `.dv` sidecars into ONE merged bitmap per data
    * file (ORing the sidecars that cover it), soft-cached per JVM so a
    * table's many tasks load each sidecar once — no Spark session
    * needed, works driver- or executor-side. Compaction consumes the
    * bitmaps directly (re-serializing one DV per file); the read
    * filters probe them through [[load]]'s [[Ordinals]] view. */
  def loadBitmaps(paths: Seq[String]): Map[String, RoaringBitmap] = {
    val key = paths.sorted.mkString("|")
    val hit = Option(cache.get(key)).flatMap(r => Option(r.get()))
    hit.getOrElse {
      val perFile = scala.collection.mutable.Map.empty[String, RoaringBitmap]
      paths.distinct.foreach { p =>
        val (dataFile, bm) = read(p)
        perFile.getOrElseUpdate(dataFile, new RoaringBitmap).or(bm)
      }
      val m: Map[String, RoaringBitmap] = perFile.toMap
      cache.put(key, new java.lang.ref.SoftReference(m))
      m
    }
  }

  /** [[loadBitmaps]] wrapped as membership views. */
  def load(paths: Seq[String]): Map[String, Ordinals] =
    loadBitmaps(paths).view.mapValues(Ordinals.ofBitmap).toMap

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.SoftReference[Map[String, RoaringBitmap]]]()
}
