package graft.catalog

/** The ONE streaming-offset JSON grammar, shared by both sources'
  * offset types ([[SeqOffset]] for the table tail, `CdcOffset` for
  * `graft-cdc`): `{"seq":N}` = N commits fully delivered;
  * `{"seq":N,"idx":K}` = the first K files (stable path order) of
  * seq N's genesis-STATE unit delivered; `{"seq":N,"idx":K,
  * "unit":"added"}` = same for an oversized append's ADDED unit;
  * `{"seq":N,"idx":K,"unit":"deleted"}` = same for an oversized MOR
  * position-delete commit's added DELETE-FILE set (CDC only);
  * `{"seq":N,"idx":K,"unit":"rows"}` = same for a row-level commit's
  * MATERIALIZED change-row unit (CDC only, opt-in `split-row-level`).
  * Checkpoint compatibility depends on render and parse staying
  * byte-identical across the two sources, so both live here — a
  * grammar change or parse fix is one edit, never four. The shared
  * admission planner speaks the same triple
  * ([[graft.streaming.Slice]]). */
object SliceOffsets {

  /** Unit kinds as they appear in the offset JSON; "" = the default
    * genesis-STATE unit (omitted from the JSON for pre-r18
    * checkpoint compatibility). */
  val UnitState = ""
  val UnitAdded = "added"
  val UnitRows = "rows"
  val UnitDeleted = "deleted"

  private val Re = """\{"seq":(\d+)(?:,"idx":(\d+)(?:,"unit":"(added|rows|deleted)")?)?\}""".r

  def render(seq: Long, fileIdx: Int, unit: String): String =
    if (fileIdx < 0) s"""{"seq":$seq}"""
    else if (unit.isEmpty) s"""{"seq":$seq,"idx":$fileIdx}"""
    else s"""{"seq":$seq,"idx":$fileIdx,"unit":"$unit"}"""

  /** (seq, fileIdx, unit); None when `json` is not this grammar
    * (callers decide whether a legacy form or a loud failure is
    * next). */
  def parse(json: String): Option[(Long, Int, String)] = json.trim match {
    case Re(s, null, _) => Some((s.toLong, -1, UnitState))
    case Re(s, i, null) => Some((s.toLong, i.toInt, UnitState))
    case Re(s, i, u) => Some((s.toLong, i.toInt, u))
    case _ => None
  }
}
