package graft.sources

import graft.sources.Snapshots.{DeleteFile, Snapshot}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The ONE codec for the `_commits/<version>.manifest` text format —
  * the only code that knows its line grammar. Every publisher in
  * [[Snapshots]] builds a [[Snapshot]] value and hands it to [[render]];
  * every reader gets one back from [[parse]] (or a prefix-only header
  * read). Main-log and branch-log manifests share the format.
  *
  * A manifest is UTF-8 text, one entry per line; lines starting with
  * `#` are headers, every other non-empty line is one committed data
  * file, in table order:
  * {{{
  *   line                              Snapshot field  rule
  *   #txn:<appId>:<epoch>              txn             FIRST line when present
  *                                                     ([[readTxn]] reads line 1 only)
  *   #ts:<micros>                      ts              REQUIRED, before every file line
  *                                                     ([[readTs]] stops at the first)
  *   #rowsunchanged:1                  rowsUnchanged   writer's dataChange=false
  *   #changes:<path>                   changeFiles     this commit's row-effect sidecars
  *   #del:@<coversBelow>:<key>:<path>  deletes         key ':'-free (composite keys
  *                                                     comma-joined), path free
  *   #seq:<v>:<path>                   fileSeq         effective sequence number
  *   #stats:<json>                     statsRaw        keyed by the JSON's "p" path
  *   #bloom:v2:<col>:<file>            blooms          col ':'-free; other sketch
  *                                                     versions ignored, never carried
  *   #posdel:<file>:<posfile>          posDeletes      both paths ':'-free; the posfile
  *                                                     is a `.dv` deletion vector
  *   <path>                            files
  * }}}
  * Unknown `#` lines are ignored. [[render]] is deterministic: header
  * kinds in the table's order, map-valued kinds sorted by file, seq
  * kinds (files, deletes, change files) in value order — so
  * `parse(render(s)) == s` for every normalized value (map values
  * non-empty, distinct and sorted; stats bodies whose "p" is their key).
  *
  * This is the ONE format the reader accepts. A manifest without
  * `#ts:`, a version-less `#del:<key>:<path>` line, a `#posdel:` line
  * naming a (file, pos) pair parquet, or a line a known kind cannot
  * split is refused with an [[IllegalStateException]] naming the
  * manifest and the line — never guessed at: no writer produces those
  * forms (Delta's protocol takes the same stance on table features a
  * reader does not support). */
private[graft] object Manifest {

  private val txnPrefix = "#txn:"
  private val tsPrefix = "#ts:"
  private val rowsUnchangedLine = "#rowsunchanged:1"
  private val changesPrefix = "#changes:"
  private val delPrefix = "#del:"
  private val seqPrefix = "#seq:"
  private val statsPrefix = "#stats:"
  private val bloomPrefix = "#bloom:"
  private val posDelPrefix = "#posdel:"

  /** Sketch-format version rendered into each `#bloom:` line: v2 =
    * canonical-width XxHash64 (integral→long, float→double). Lines
    * with any OTHER version are ignored by the reader (no sketch → no
    * prune — correct, just unoptimized) and so dropped from the next
    * commit's carry-forward: a hash-scheme change can never make an
    * old sidecar wrongly refute a present key. */
  private val bloomLinePrefix = s"${bloomPrefix}v2:"

  /** One pass over a manifest's lines; `source` names the manifest in
    * a refusal. */
  def parse(lines: IterableOnce[String], version: Long,
      source: String = "manifest"): Snapshot = {
    val files = Vector.newBuilder[String]
    val dels = Vector.newBuilder[DeleteFile]
    val seqs = Map.newBuilder[String, Long]
    val stats = Map.newBuilder[String, String]
    val blooms = Vector.newBuilder[(String, String)]
    val posDels = Vector.newBuilder[(String, String)]
    val changes = Vector.newBuilder[String]
    var ts = Option.empty[Long]
    var txn = Option.empty[(String, Long)]
    var rowsUnchanged = false
    var n = 0
    lines.iterator.foreach { l =>
      n += 1
      def refuse(why: String): Nothing = throw refusal(source, n, why, l)
      def num(s: String): Long = s.toLongOption.getOrElse(refuse("not a number"))
      if (l.isEmpty) ()
      else if (!l.startsWith("#")) files += l
      else if (l.startsWith(delPrefix)) {
        val body = l.stripPrefix(delPrefix)
        if (!body.startsWith("@")) refuse("retired form: a version-less delete line")
        body.substring(1).split(":", 3) match {
          case Array(v, k, p) => dels += DeleteFile(k, p, num(v))
          case _ => refuse("truncated delete line")
        }
      } else if (l.startsWith(seqPrefix)) {
        l.stripPrefix(seqPrefix).split(":", 2) match {
          case Array(v, p) => seqs += p -> num(v)
          case _ => refuse("truncated sequence line")
        }
      } else if (l.startsWith(statsPrefix)) {
        val body = l.stripPrefix(statsPrefix)
        statsPathOf(body).foreach(p => stats += p -> body)
      } else if (l.startsWith(bloomLinePrefix)) {
        val body = l.stripPrefix(bloomLinePrefix)
        val sep = body.indexOf(':')
        if (sep < 0) refuse("truncated bloom line")
        blooms += body.substring(sep + 1) -> body.substring(0, sep) // file -> col
      } else if (l.startsWith(posDelPrefix)) {
        // both paths are ':'-free by the render guard, so the first ':'
        // splits unambiguously
        val body = l.stripPrefix(posDelPrefix)
        val sep = body.indexOf(':')
        if (sep < 0) refuse("truncated position-delete line")
        val posFile = body.substring(sep + 1)
        if (!DeleteVectors.isDv(posFile))
          refuse("retired form: a position-delete pair parquet, not a deletion vector")
        posDels += body.substring(0, sep) -> posFile
      } else if (l.startsWith(changesPrefix)) changes += l.stripPrefix(changesPrefix)
      else if (l.startsWith(tsPrefix)) ts = Some(num(l.stripPrefix(tsPrefix)))
      else if (l.startsWith(txnPrefix))
        txn = Some(txnOf(l).getOrElse(refuse("malformed transaction tag")))
      else if (l == rowsUnchangedLine) rowsUnchanged = true
    }
    def grouped(pairs: Vector[(String, String)]): Map[String, Seq[String]] =
      pairs.groupMap(_._1)(_._2).view.mapValues(_.distinct.sorted: Seq[String]).toMap
    Snapshot(version, files.result(), dels.result(), seqs.result(), stats.result(),
      grouped(blooms.result()), grouped(posDels.result()), changes.result(),
      ts = ts.getOrElse(throw missingTs(source)), txn = txn,
      rowsUnchanged = rowsUnchanged)
  }

  /** The manifest text of `s` (its `version` is the file name, not a
    * line). Refuses values the grammar cannot split back: ':' in a
    * delete key, bloom column or position-delete path, or a posfile
    * that is not a `.dv`. */
  def render(s: Snapshot): String = {
    val b = new StringBuilder
    def line(l: String): Unit = b.append(l).append('\n')
    s.txn.foreach { case (app, epoch) => line(s"$txnPrefix$app:$epoch") }
    line(s"$tsPrefix${s.ts}")
    if (s.rowsUnchanged) line(rowsUnchangedLine)
    s.changeFiles.foreach(f => line(changesPrefix + f))
    s.deletes.foreach { d =>
      d.keyCols.foreach(requireKeyName)
      line(s"$delPrefix@${d.coversBelow}:${d.keyCol}:${d.path}")
    }
    s.fileSeq.toSeq.sortBy(_._1).foreach { case (p, v) => line(s"$seqPrefix$v:$p") }
    s.statsRaw.toSeq.sortBy(_._1).foreach { case (_, body) => line(statsPrefix + body) }
    s.blooms.toSeq.sortBy(_._1).foreach { case (f, cols) =>
      cols.foreach { c =>
        require(c.nonEmpty && !c.contains(':'), s"bloom column must be ':'-free: $c")
        line(s"$bloomLinePrefix$c:$f")
      }
    }
    s.posDeletes.toSeq.sortBy(_._1).foreach { case (f, pfs) =>
      pfs.foreach { p =>
        // ':' is the line delimiter; staging paths never carry one
        require(!f.contains(':') && !p.contains(':') && DeleteVectors.isDv(p),
          s"posdel paths must be ':'-free and name a deletion vector: $f / $p")
        line(s"$posDelPrefix$f:$p")
      }
    }
    b.append(s.files.mkString("\n")).toString
  }

  /** The carry rule: `parent` restricted to the retained `files` — a
    * file that leaves the table takes its seq pin, stats, sketches and
    * position deletes with it. Pending equality deletes carry whole
    * (their scope is a version, not a file); the per-commit fields
    * (ts, txn, rows-unchanged marker, change files) never carry. */
  def retain(parent: Snapshot, files: Seq[String]): Snapshot = {
    val keep = files.toSet
    Snapshot(parent.version, files, parent.deletes,
      parent.fileSeq.filter(kv => keep(kv._1)),
      parent.statsRaw.filter(kv => keep(kv._1)),
      parent.blooms.filter(kv => keep(kv._1)),
      parent.posDeletes.filter(kv => keep(kv._1)))
  }

  /** Every `#del:@<v>:<key>:<path>` key component must survive the
    * line's 3-way split and the composite-key comma join — a ':'- or
    * ','-bearing name (legal SQL via backticks) would silently corrupt
    * the manifest. */
  def requireKeyName(c: String): Unit =
    require(c.nonEmpty && !c.contains(',') && !c.contains(':'),
      s"delete key column name must not contain ',' or ':' (manifest syntax): $c")

  def read(m: Path, version: Long): Snapshot =
    parse(Files.readAllLines(m, UTF_8).asScala, version, m.toString)

  /** The `#txn` tag of a manifest: LINE 1 only — render puts it first,
    * so an idempotence probe over every retained manifest stays one
    * short read each. */
  def readTxn(m: Path): Option[(String, Long)] = {
    val r = Files.newBufferedReader(m, UTF_8)
    try Option(r.readLine()).flatMap(txnOf) finally r.close()
  }

  /** The `#ts:` header (None only for a missing file): reads header
    * lines only, stopping at the first file line. A manifest without
    * the header is refused, as [[parse]] refuses it. */
  def readTs(m: Path): Option[Long] =
    if (!Files.exists(m)) None
    else {
      val r = Files.newBufferedReader(m, UTF_8)
      try Iterator.continually(r.readLine()).zipWithIndex
        .takeWhile { case (l, _) => l != null && l.startsWith("#") }
        .collectFirst { case (l, i) if l.startsWith(tsPrefix) =>
          l.stripPrefix(tsPrefix).toLongOption
            .getOrElse(throw refusal(m.toString, i + 1, "not a number", l)) }
        .orElse(throw missingTs(m.toString))
      finally r.close()
    }

  private def refusal(source: String, lineNo: Int, why: String, line: String) =
    new IllegalStateException(s"$source line $lineNo: $why: '$line'")

  private def missingTs(source: String) = new IllegalStateException(
    s"$source: retired form: no #ts: commit-timestamp header")

  // appId may itself hold ':' — the epoch is after the LAST one
  private def txnOf(l: String): Option[(String, Long)] =
    if (!l.startsWith(txnPrefix)) None
    else {
      val body = l.stripPrefix(txnPrefix)
      val sep = body.lastIndexOf(':')
      if (sep < 0) None
      else body.substring(sep + 1).toLongOption.map(body.substring(0, sep) -> _)
    }

  /** The `"p"` path of a stats JSON body. */
  private def statsPathOf(body: String): Option[String] =
    try {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(body) \ "p" match {
        case JString(p) => Some(p)
        case _ => None
      }
    } catch { case _: Exception => None }
}
