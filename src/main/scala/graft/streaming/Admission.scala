package graft.streaming

import graft.catalog.SliceOffsets
import graft.meta.{DataFile, Snapshot, TableMeta}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** A position in the one offset grammar ([[SliceOffsets]]) that both
  * sources' offset types render: `seq` commits delivered, or, while a
  * unit drains (`fileIdx >= 0`), the first `fileIdx` files of seq's
  * `unit` delivered. */
final case class Slice(seq: Long, fileIdx: Int = -1, unit: String = SliceOffsets.UnitState) {
  def mid: Boolean = fileIdx >= 0
}

/** What a source tells the [[AdmissionPlanner]]: its lineage rule, its
  * unit lists and each commit's admission answer. The planner never
  * asks which source it serves. */
trait AdmissionPolicy {

  /** The admissible snapshots in (above, head], oldest first. */
  def lineage(meta: TableMeta, above: Long, head: Long): List[Snapshot]

  /** The path-sorted file list of seq's `unit`, memoized through
    * [[AdmissionPlanner.list]]. A retention check runs on every call,
    * before the memo: a mid-drain expiry must fail loudly instead of
    * re-binding slice indices. */
  def unitFiles(meta: TableMeta, seq: Long, unit: String): IndexedSeq[DataFile]

  /** Commit `s`'s answer when the batch would start at `base`. Asked
    * only under a files or rows cap; under a commits cap alone every
    * commit costs one commit. */
  def admission(meta: TableMeta, base: Long, s: Snapshot): Admission
}

/** One commit's cost against the files and rows caps. `bounded =
  * false`: the cost is unknown, so the commit closes the trigger that
  * admits it. `split`: the unit the commit drains as, at file
  * granularity, when it alone exceeds the caps or is unbounded. */
final case class Admission(files: Long = 0, rows: Long = 0, bounded: Boolean = true,
    split: Option[Split] = None)

/** A splittable unit: its kind, its path-sorted list (loaded through
  * the planner's memo when the split happens), and whether it is
  * `spilled` — delivered from its own files even when it fits one
  * batch, because they are its only copy. */
final case class Split(unit: String, files: () => IndexedSeq[DataFile], spilled: Boolean = false)

/** The micro-batch admission planner both streaming sources run (the
  * table tail and `graft-cdc`): the configured caps and the limit the
  * engine passes back ([[ReadLimits]]), the `Trigger.AvailableNow`
  * end, the uncapped shortcut, the mid-unit resume, the genesis file
  * split, and the commit-granular loop. The source supplies only its
  * [[AdmissionPolicy]].
  *
  * It also keeps the drain memo: ONE path-sorted file list for the
  * in-flight unit, keyed by (seq, unit kind) — the same seq can be a
  * genesis STATE unit, an oversized append's ADDED unit, a MOR commit's
  * DELETED unit or a spilled ROWS unit depending on where the stream
  * started and its options. The order is stable, so (seq, fileIdx)
  * offsets slice the unit reproducibly across triggers, restarts and
  * checkpoint replays. Memoization makes each trigger O(1) instead of
  * an O(files) re-materialize and re-sort; [[release]] (when a
  * pure-seq offset commits) frees the O(unit-files) driver memory, and
  * a later replay of a sliced range recomputes the list. */
final class AdmissionPlanner(maxFiles: Option[Int] = None, maxRows: Option[Long] = None,
    maxCommits: Option[Int] = None) {

  @volatile private var memo: Option[(Long, String, IndexedSeq[DataFile])] = None
  @volatile private var availableNowEnd: Option[Long] = None

  /** The configured caps, advertised to the engine. Each trigger's
    * effective caps come from the limit the engine passes back:
    * `Trigger.Once` passes `allAvailable()`, the whole backlog. */
  def readLimit: ReadLimit = ReadLimits.configured(maxFiles, maxRows, maxCommits)

  /** Trigger.AvailableNow: pin the end of the backlog at start; batches
    * advance toward it (caps still apply per batch) and the query stops
    * once it is reached. */
  def pinAvailableNow(head: Long): Unit = availableNowEnd = Some(head)

  /** The head a trigger may admit up to. */
  def head(current: Long): Long = availableNowEnd.fold(current)(math.min(current, _))

  /** The unit's list in stable path order, memoized per (seq, unit).
    * `load` runs on a miss only. */
  def list(seq: Long, unit: String)(load: => Seq[DataFile]): IndexedSeq[DataFile] =
    memo match {
      case Some((s, u, l)) if s == seq && u == unit => l
      case _ =>
        val l = load.sortBy(_.path).toIndexedSeq
        memo = Some((seq, unit, l))
        l
    }

  /** End of drain (a pure-seq offset committed): free the memo. */
  def release(): Unit = memo = None

  /** One trigger's end from `start`, given the current head seq.
    * Returns `start` itself when nothing is admitted. */
  def plan(policy: AdmissionPolicy, meta: TableMeta, current: Long, start: Slice,
      limit: ReadLimit): Slice = {
    val (capFiles, capRows, capCommits) = ReadLimits.caps(limit, maxFiles, maxRows, maxCommits)
    val end = head(current)
    if (capFiles.isEmpty && capRows.isEmpty && capCommits.isEmpty)
      return if (!start.mid && end <= start.seq) start else Slice(math.max(end, start.seq))
    val unitCapped = capFiles.isDefined || capRows.isDefined
    var n = 0; var files = 0L; var rows = 0L; var base = start.seq
    // drain a unit from `from`: its next slice, or None once it
    // completes, which spends one commit and the slice's files and rows
    def resume(seq: Long, unit: String, from: Int): Option[Slice] = {
      val list = policy.unitFiles(meta, seq, unit)
      val (next, f, r) = admit(list, from, capFiles, capRows)
      if (next < list.size) Some(Slice(seq, next, unit))
      else { n = 1; files = f; rows = r; base = seq; None }
    }
    val unitEnd =
      if (start.mid) resume(start.seq, start.unit, start.fileIdx)
      else if (end <= start.seq) Some(start)
      else if (start.seq == 0 && unitCapped)
        // fresh start: the oldest retained snapshot delivers its STATE,
        // one seq but not one replayable unit, so it splits by file
        policy.lineage(meta, 0, end).headOption match {
          case None => Some(start)
          case Some(g) => resume(g.sequenceNumber, SliceOffsets.UnitState, 0)
        }
      else None
    if (unitEnd.isDefined) return unitEnd.get
    // commit-granular while commits fit the caps. The trigger's FIRST
    // unit splits when it alone exceeds them (or is unbounded); a
    // trigger that already spent budget closes instead, so a unit
    // never piggybacks. Only a single over-cap file is unsplittable
    // and gets a batch of its own (admit's progress guarantee).
    var last = base
    var stop = false
    val commits = policy.lineage(meta, base, end).iterator
    while (!stop && commits.hasNext) {
      val s = commits.next()
      val a = if (unitCapped) policy.admission(meta, last, s) else Admission()
      val exceeds = capCommits.exists(n + 1 > _) || capFiles.exists(files + a.files > _) ||
        capRows.exists(rows + a.rows > _)
      val split = a.split.filter(_ => exceeds || !a.bounded)
      if (n > 0 && (exceeds || split.isDefined)) stop = true
      else {
        val (f, r) = split match {
          case Some(sp) =>
            val list = sp.files()
            val (next, f, r) = admit(list, 0, capFiles, capRows)
            if (list.nonEmpty && (next < list.size || sp.spilled))
              return Slice(s.sequenceNumber, next, sp.unit)
            (f.toLong, r)
          case None => (a.files, a.rows)
        }
        n += 1; files += f; rows += r; last = s.sequenceNumber
        stop = exceeds || !a.bounded
      }
    }
    if (last == start.seq && !start.mid) start else Slice(last)
  }

  /** One trigger's admission from `list` starting at `from`: (exclusive
    * end index, files, rows). Always admits at least one file (the
    * progress guarantee): a file larger than the caps gets a slice of
    * its own; files never split. Rows are manifest record counts, which
    * OVERCOUNT a unit with live deletes, so a capped batch only ever
    * undershoots its budget. */
  private def admit(list: IndexedSeq[DataFile], from: Int,
      maxFiles: Option[Int], maxRows: Option[Long]): (Int, Int, Long) = {
    var i = from; var f = 0; var r = 0L; var stop = false
    while (i < list.size && !stop) {
      val nf = f + 1; val nr = r + list(i).records
      if ((maxFiles.exists(nf > _) || maxRows.exists(nr > _)) && i > from) stop = true
      else { f = nf; r = nr; i += 1 }
    }
    (i, f, r)
  }
}
