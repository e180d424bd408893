package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1}

/** A stream offset: one commit version, serialized as the bare number.
  * It is a V1 offset too, so the V1 [[LakeStreamSource]] and the DSv2
  * streams share it; checkpoints written with `LongOffset` (the same
  * bare number) restart unchanged. */
case class LakeOffset(version: Long) extends OffsetV1 {
  override def json(): String = version.toString
}

/** The version-offset core of the lake's three stream readers — the V1
  * `readStream.format("graft-lake")` source ([[LakeStreamSource]]), the
  * DSv2 rows stream ([[LakeMicroBatchStream]]) and the DSv2 change-feed
  * stream ([[LakeFeedMicroBatchStream]]). Offsets ARE commit versions:
  * the manifest history is a totally ordered, replayable log
  * (CAS-claimed manifests + publish fences), so exactly-once is the
  * engine's offset log replaying immutable version windows.
  *
  * Everything a stream decides about offsets lives here: discovery (the
  * dense-claim walk above the floor, O(versions committed since), with a
  * one-listing fallback while unprimed), admission (the rate limits),
  * and the `Trigger.AvailableNow` pin. The engine hands the committed
  * floor to [[latestOffset]] on every trigger, restarts included, so the
  * engine's offset log is the only persisted state. A stream keeps only
  * how it turns a window into rows. The engine drives a stream
  * single-threaded; no sync needed. */
private[sources] abstract class LakeVersionCursor(dir: String,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Int],
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long])
    extends SupportsTriggerAvailableNow {
  import LakeVersionCursor.admitWithin

  /** Highest advertised version — the probe floor when the engine has
    * no committed offset yet. -1 = unprimed. */
  private var knownMax: Long = -1L

  /** `Trigger.AvailableNow` drain target: pinned ONCE when the engine
    * announces the trigger, so the query drains exactly what was
    * published at start — in bounded batches under the rate limits —
    * then stops by itself; versions landing mid-drain wait for the next
    * run. -1 = continuous trigger, no pin. */
  private var availableNowCap: Long = -1L

  protected def versionOf(o: Offset): Long = o.json().trim.toLong

  override def initialOffset(): Offset = LakeOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    LakeOffset(json.trim.toLong)

  override def prepareForTriggerAvailableNow(): Unit = {
    val floor = math.max(knownMax, startingVersion)
    availableNowCap = discover(floor).lastOption.getOrElse(floor)
  }

  /** Published versions above `floor`. On a table vacuumed by a build
    * that predates the vacuum-floor hint, the dense walk from an
    * unprimed floor finds nothing although versions exist above it —
    * one full listing (only while unprimed) primes the stream past the
    * gap instead of silently never emitting. */
  private def discover(floor: Long): Seq[Long] = {
    val walked = LakeTable.versionsAbove(dir, floor)
    if (walked.nonEmpty || knownMax >= 0L) walked
    else LakeTable.versions(dir).filter(_ > floor)
  }

  /** The limits as the engine sees them. Admission itself ignores the
    * engine's `limit` argument and applies the options directly. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      maxVersionsPerTrigger.orElse(maxFilesPerTrigger)
        .map(n => ReadLimit.maxFiles(n)),
      maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b))).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** End offset of the next micro-batch above `start`, the engine's
    * committed offset (null for a V1 source before its first batch).
    * Pending versions are capped by the AvailableNow pin, then by each
    * rate limit in turn, so the strictest wins: the next
    * `maxVersionsPerTrigger` versions, the prefix within the ADDED-file
    * budget, then the prefix within the ADDED-byte budget (from the
    * manifest's recorded sizes, no per-trigger stat). Each budget admits
    * at least one version, so an oversized commit still drains. Null
    * while nothing exists above `startingVersion` and nothing was
    * advertised (no offset, no batch); once primed, a quiet trigger
    * re-advertises the floor. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val floor = math.max(
      Option(start).map(versionOf).getOrElse(knownMax), startingVersion)
    val pending = discover(floor)
      .filter(v => availableNowCap < 0L || v <= availableNowCap)
    if (pending.isEmpty && start == null && knownMax < 0L) null
    else {
      val byVersions = maxVersionsPerTrigger.fold(pending)(pending.take)
      val byFiles = maxFilesPerTrigger.fold(byVersions)(n =>
        admitWithin(dir, floor, byVersions, n)(_.added.size.toLong))
      val admitted = maxBytesPerTrigger.fold(byFiles)(b =>
        admitWithin(dir, floor, byFiles, b)(_.addedBytes))
      val off = admitted.lastOption.getOrElse(floor)
      knownMax = math.max(knownMax, off)
      LakeOffset(off)
    }
  }

  /** The unlimited probe of `MicroBatchStream`; the engine calls the
    * admission-controlled [[latestOffset(start, limit)]] instead. */
  def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  // manifest retention is vacuum's job, not the stream's
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object LakeVersionCursor {

  /** One step of the manifest log: published version `v` diffed against
    * `prev`, the published version before it in the window (0 = the
    * empty table). Every reader derives a version's change from these
    * diffs — manifest arithmetic on the driver, no data file opened. */
  final class Step(dir: String, val prev: Long, val v: Long) {
    lazy val before: Seq[String] =
      if (prev == 0L) Seq.empty else LakeTable.filesOf(dir, prev)
    lazy val after: Seq[String] = LakeTable.filesOf(dir, v)
    lazy val removed: Seq[String] = before.filterNot(after.toSet)
    lazy val added: Seq[String] = after.filterNot(before.toSet)
    lazy val dvBefore: Seq[String] =
      if (prev == 0L) Seq.empty else LakeTable.dvOf(dir, prev)
    lazy val dvAfter: Seq[String] = LakeTable.dvOf(dir, v)
    /** Sidecars published at `v`: the positions they name newly retract. */
    lazy val newDv: Seq[String] = dvAfter.filterNot(dvBefore.toSet)
    /** OPTIMIZE rewrites layout, not rows: its step changes nothing. */
    lazy val optimize: Boolean = LakeTable.opOf(dir, v) == "optimize"
    /** A non-append step: rows leave (a rewrite) or hide (a DV publish). */
    def changesRows: Boolean =
      !optimize && (removed.nonEmpty || newDv.nonEmpty)
    /** Added bytes from the manifest's recorded sizes; members a pre-r15
      * manifest lacks an entry for fall back to one stat. */
    def addedBytes: Long = {
      val sizes = LakeTable.bytesOf(dir, v)
      added.map(f => sizes.getOrElse(f, scala.util.Try(
        Files.size(Paths.get(dir, f))).getOrElse(0L))).sum
    }
  }

  /** The steps of the window `(from, to]`: each published version in it
    * paired with the published version before it (`from` for the
    * first). A start or end version whose manifest was vacuumed refuses
    * loudly: an empty file list in its place would re-emit every carried
    * file of the next version as newly added (duplicate rows — broken
    * exactly-once), and non-append commits across the gap would go
    * unseen. One directory listing per call. */
  def steps(dir: String, from: Long, to: Long): Seq[Step] = {
    val vs = LakeTable.versions(dir)
    require(from == 0L || vs.contains(from),
      s"version $from not published (or vacuumed) in $dir")
    require(vs.contains(to) || to == from,
      s"version $to not published (or vacuumed) in $dir")
    val window = from +: vs.filter(v => v > from && v <= to)
    window.zip(window.tail).map { case (p, v) => new Step(dir, p, v) }
  }

  /** The append-only gate of a rows-mode stream (Delta's `readStream`
    * semantics): a table-rows stream cannot represent removals, so a
    * step that removes or hides rows refuses loudly — silently streaming
    * its adds would corrupt a downstream materialization — unless
    * `skipChangeCommits` drops such versions wholesale. Returns the
    * versions to drop. */
  def appendOnly(dir: String, steps: Seq[Step],
                 skipChangeCommits: Boolean): Set[Long] = {
    val changed = steps.filter(_.changesRows).map(_.v)
    if (changed.nonEmpty && !skipChangeCommits)
      throw new UnsupportedOperationException(
        s"rows-mode stream on $dir hit non-append commit(s) " +
        s"${changed.mkString("v", ", v", "")}: a table-rows stream " +
        "cannot represent removals — read the change feed " +
        "(readStream.format(\"graft-lake\")) or set " +
        "skipChangeCommits=true to drop such versions")
    changed.toSet
  }

  /** The longest prefix of `pending` whose cumulative per-step cost stays
    * within `budget` — always at least the first version (a zero-cost
    * lead does not spend the budget). Steps run from `floor` over the
    * probed versions, so admission lists nothing. */
  private def admitWithin(dir: String, floor: Long, pending: Seq[Long],
                          budget: Long)(cost: Step => Long): Seq[Long] = {
    var spent = 0L
    (floor +: pending).zip(pending).iterator
      .map { case (p, v) => new Step(dir, p, v) }
      .takeWhile { s =>
        val c = cost(s)
        val admit = spent == 0L || spent + c <= budget
        if (admit) spent += c
        admit
      }
      .map(_.v).toSeq
  }
}
