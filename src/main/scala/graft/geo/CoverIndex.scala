package graft.geo

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.unsafe.Platform

/** Static containment index over a detailed admin cover (SURVEY.md J5):
  * the cover rows (relation_id, cell, full, corner_inside, fallback,
  * edges) in flat `long[]`s, so one probe per point replaces the
  * per-level ancestor explode + cell equi-join.
  *
  *  - `keys`: open-addressed cell ids, one power-of-two segment per
  *    cover level (linear probing, load ≤ 1/2), so the few coarse cells
  *    a point's coarse ancestors probe stay cache-resident; `ranges`
  *    holds each slot's row range in `data` (start << 32 | end);
  *  - `data`: each slot's rows back to back, a row being its relation
  *    id, a header word (flags | edge count << 3) and, for boundary
  *    rows, their clipped edges [ax,ay,bx,by]* — so a hit reads one
  *    contiguous run of words, not one array per field. The cell's SW
  *    corner comes from the cell id by shifts.
  *
  * Built once per prepared cover and shipped to executors as one Spark
  * broadcast. Rows keep their multiplicity, so [[rows]] gives back the
  * cover's exact row multiset. */
final class CoverIndex private (
    /** Distinct cover levels, ascending. */
    val levels: Array[Int],
    segBase: Array[Int],
    segBits: Array[Int],
    keys: Array[Long],
    ranges: Array[Long],
    data: Array[Long]) extends Serializable {
  import CoverIndex._

  private val leafLevel = if (levels.isEmpty) 0 else levels.last

  /** Slot of `cell` in the segment of level index `li`, or -1. */
  private def find(cell: Long, li: Int): Int = {
    val s = locate(keys, segBase(li), segBits(li), cell)
    if (keys(s) == cell) s else -1
  }

  /** Append to `out`, once per matching cover row, the relation of
    * every non-fallback row whose cell holds (lat7, lon7) and that is
    * `full` or passes the localized refine — exactly the rows the cell
    * equi-join keeps under `full OR point_in_cell`. With `fallback`
    * set, append the point's `fallback` rows instead: candidates that
    * still need the full-ring test. The ancestors come from one encode
    * at the finest cover level, which at each coarser level equals that
    * level's own encode. */
  def probe(lat7: Long, lon7: Long, fallback: Boolean, out: Hits): Unit = {
    val leaf = Cells.encode(lat7, lon7, leafLevel)
    val lx = leaf & ((1L << leafLevel) - 1)
    val ly = (leaf & ((1L << Cells.LevelShift) - 1)) >>> leafLevel
    var li = 0
    while (li < levels.length) {
      val l = levels(li)
      val cx = lx >>> (leafLevel - l)
      val cy = ly >>> (leafLevel - l)
      val s = find(Cells.fromXY(cx, cy, l), li)
      if (s >= 0) {
        val range = ranges(s)
        var o = (range >>> 32).toInt
        val end = range.toInt
        while (o < end) {
          val h = data(o + 1)
          val nEdges = (h >>> 3).toInt
          if (fallback) {
            if ((h & Fallback) != 0) out.add(data(o))
          } else if ((h & Fallback) == 0 && ((h & Full) != 0 ||
              GeomCell.pointInCell(lon7, lat7, Cells.west(cx, l), Cells.south(cy, l),
                (h & CornerInside) != 0, data, Platform.LONG_ARRAY_OFFSET + 8L * (o + 2),
                nEdges)))
            out.add(data(o))
          o += 2 + nEdges
        }
      }
      li += 1
    }
  }

  /** The rows of slice `i` of `n` (slots split evenly), as
    * (relation_id, cell row); the n slices together are the cover. */
  def rows(i: Int, n: Int): Iterator[(Long, Cover.CoverCellEx)] = {
    val nSlots = keys.length
    (nSlots.toLong * i / n).toInt.until((nSlots.toLong * (i + 1) / n).toInt).iterator
      .filter(s => keys(s) != Empty)
      .flatMap { s =>
        val range = ranges(s)
        Iterator.iterate((range >>> 32).toInt)(o => o + 2 + (data(o + 1) >>> 3).toInt)
          .takeWhile(_ < range.toInt)
          .map { o =>
            val h = data(o + 1)
            data(o) -> Cover.CoverCellEx(keys(s), (h & Full) != 0,
              (h & CornerInside) != 0, (h & Fallback) != 0,
              java.util.Arrays.copyOfRange(data, o + 2, o + 2 + (h >>> 3).toInt))
          }
      }
  }
}

object CoverIndex {
  val Full: Byte = 1
  val CornerInside: Byte = 2
  val Fallback: Byte = 4

  private val Empty = -1L // cell ids are ≥ 0

  /** The slot holding `cell` in the segment of 2^bits slots (bits ≥ 1)
    * at `base`, or the empty slot where it would go: linear probing
    * from a multiplicative hash. */
  private def locate(keys: Array[Long], base: Int, bits: Int, cell: Long): Int = {
    var s = ((cell * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt
    while (keys(base + s) != cell && keys(base + s) != Empty) s = (s + 1) & ((1 << bits) - 1)
    base + s
  }

  /** A reusable, growable buffer of relation ids. */
  final class Hits {
    var buf = new Array[Long](8)
    var n = 0
    def add(v: Long): Unit = {
      if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
      buf(n) = v
      n += 1
    }
  }

  /** One cover partition's share of the index: its row count, levels
    * (bit l set for level l) and fallback presence, plus its rows in
    * flat arrays — dropped (`rels == null`) once the partition holds
    * more rows than its builder's cap. */
  final class Part(val n: Long, val levelMask: Int, val fallback: Boolean,
      val rels: Array[Long], val cells: Array[Long], val flags: Array[Byte],
      val edgeOff: Array[Int], val edges: Array[Long]) extends Serializable

  /** Accumulates one partition's rows into a [[Part]], keeping them
    * while there are at most `maxRows`. */
  final class PartBuilder(maxRows: Long) {
    private var n = 0L
    private var levelMask = 0
    private var fallback = false
    private val rels, cells, edges = ArrayBuilder.make[Long]
    private val flags = ArrayBuilder.make[Byte]
    private val edgeOff = ArrayBuilder.make[Int]
    private var nEdges = 0
    edgeOff += 0

    def add(rel: Long, cell: Long, full: Boolean, cornerInside: Boolean,
        fb: Boolean, rowEdges: Seq[Long]): Unit = {
      n += 1
      levelMask |= 1 << Cells.level(cell)
      fallback ||= fb
      if (n <= maxRows) {
        rels += rel
        cells += cell
        flags += ((if (full) Full else 0) | (if (cornerInside) CornerInside else 0) |
          (if (fb) Fallback else 0)).toByte
        edges ++= rowEdges
        nEdges = Math.addExact(nEdges, rowEdges.length)
        edgeOff += nEdges
      }
    }

    def result(): Part =
      if (n <= maxRows)
        new Part(n, levelMask, fallback, rels.result(), cells.result(),
          flags.result(), edgeOff.result(), edges.result())
      else new Part(n, levelMask, fallback, null, null, null, null, null)
  }

  /** Levels named by a [[Part]] level mask, ascending. */
  def levelsOf(mask: Int): Array[Int] =
    (0 to Cells.MaxLevel).filter(l => (mask & (1 << l)) != 0).toArray

  /** The index over the rows of `parts` (none of them dropped). Rows
    * are laid out grouped by slot, so each slot's rows are one range. */
  def build(parts: Seq[Part]): CoverIndex = {
    require(parts.forall(_.rels != null), "a cover part was dropped over its row cap")
    val n = Math.toIntExact(parts.map(_.n).sum)
    val levels = levelsOf(parts.foldLeft(0)(_ | _.levelMask))
    // one segment per level, sized to twice its distinct cells (cell
    // ids sort by level first)
    val sorted = Array.concat(parts.map(_.cells): _*)
    java.util.Arrays.sort(sorted)
    val distinct = new Array[Int](Cells.MaxLevel + 1)
    for (i <- sorted.indices if i == 0 || sorted(i) != sorted(i - 1))
      distinct(Cells.level(sorted(i))) += 1
    val segOf = new Array[Int](Cells.MaxLevel + 1)
    val segBits = levels.map { l =>
      var b = 1
      while ((1 << b) < 2 * distinct(l)) b += 1
      b
    }
    val segBase = segBits.scanLeft(0)((base, b) => base + (1 << b))
    levels.indices.foreach(li => segOf(levels(li)) = li)
    val nSlots = segBase.last
    val keys = Array.fill(nSlots)(Empty)
    val ranges = new Array[Long](nSlots)
    // pass 1: a slot per distinct cell, and the words of its rows
    val rowSlot = new Array[Int](n)
    val words = new Array[Int](nSlots)
    var r = 0
    for (p <- parts; i <- p.cells.indices) {
      val c = p.cells(i)
      val li = segOf(Cells.level(c))
      val s = locate(keys, segBase(li), segBits(li), c)
      keys(s) = c
      rowSlot(r) = s
      words(s) += 2 + p.edgeOff(i + 1) - p.edgeOff(i)
      r += 1
    }
    // pass 2: slot-ordered row ranges in `data`, then each row into its
    // slot's range
    val next = new Array[Int](nSlots)
    var start = 0
    for (s <- 0 until nSlots) {
      next(s) = start
      val end = Math.addExact(start, words(s))
      ranges(s) = (start.toLong << 32) | end
      start = end
    }
    val data = new Array[Long](start)
    r = 0
    for (p <- parts; i <- p.rels.indices) {
      val o = next(rowSlot(r))
      val nEdges = p.edgeOff(i + 1) - p.edgeOff(i)
      data(o) = p.rels(i)
      data(o + 1) = (nEdges.toLong << 3) | p.flags(i)
      System.arraycopy(p.edges, p.edgeOff(i), data, o + 2, nEdges)
      next(rowSlot(r)) = o + 2 + nEdges
      r += 1
    }
    new CoverIndex(levels, segBase, segBits, keys, ranges, data)
  }
}
