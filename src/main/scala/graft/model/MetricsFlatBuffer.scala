package graft.model

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/**
 * Hand-rolled FlatBuffers codec for the reference's batch-ingest wire format
 * (S5): a `Metrics` root table holding a vector of `Metric(name, timestamp,
 * value, tags)` tables with `Tag(key, value)` children, file identifier
 * "TMFB".
 *
 * Schema layout pinned to the reference's generated accessors
 * (common/src/main/generated-java/timely/api/flatbuffer/Metrics.java:17,21-23,
 * Metric.java:20-29, Tag.java) and the auto-detection contract of
 * common/src/main/java/timely/netty/tcp/MetricsBufferDecoder.java:28-52.
 * This implements the public FlatBuffers wire format directly (little-endian
 * vtables + unsigned forward offsets), so no FlatBuffers runtime dependency
 * is needed: readers navigate via vtables, which makes the encoder's layout
 * choices irrelevant to interop.
 *
 * The codec is lossless: [[decode]] returns what [[encode]] was given, the
 * reserved `viz` tag in the visibility slot (MetricAdapter.java:152-159).
 * The put decoder ([[MetricParser.frame]]) applies the admission rule to
 * its output.
 */
object MetricsFlatBuffer {

  val Identifier = "TMFB"

  /** The decoder's auto-detect: file identifier at bytes 4..8
    * (MetricsBufferDecoder.java:30, Metrics.java:17). */
  def hasIdentifier(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      bytes(4) == 'T' && bytes(5) == 'M' && bytes(6) == 'F' && bytes(7) == 'B'

  // ---------------------------------------------------------------------------
  // Decode (vtable-navigating reader)
  // ---------------------------------------------------------------------------

  private def vtableField(bb: ByteBuffer, tablePos: Int, slot: Int): Int = {
    val vt = tablePos - bb.getInt(tablePos) // soffset is signed
    val vtSize = bb.getShort(vt) & 0xffff
    val fo = 4 + 2 * slot
    if (fo < vtSize) bb.getShort(vt + fo) & 0xffff else 0
  }

  private def indirect(bb: ByteBuffer, pos: Int): Int = pos + bb.getInt(pos)

  /** Wire-supplied lengths/counts must be bounded by the frame size BEFORE
    * any allocation — a corrupt length word must fail the frame (cheap
    * exception, caught by the ingest path), never OOM the executor. */
  private def checkedLen(len: Int, limit: Int): Int = {
    if (len < 0 || len > limit)
      throw new IllegalArgumentException(s"corrupt frame: length $len exceeds $limit")
    len
  }

  private def string(bb: ByteBuffer, pos: Int): String = {
    val p = indirect(bb, pos)
    val len = checkedLen(bb.getInt(p), bb.capacity() - p - 4)
    val out = new Array[Byte](len)
    val dup = bb.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    dup.position(p + 4)
    dup.get(out)
    new String(out, UTF_8)
  }

  /** Decode a full Metrics buffer into its points, as encoded. */
  def decode(bytes: Array[Byte]): Seq[MetricPoint] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val root = indirect(bb, 0)
    val vecOff = vtableField(bb, root, 0)
    if (vecOff == 0) return Seq.empty
    val vec = indirect(bb, root + vecOff)
    // each element needs at least a 4-byte offset slot in the frame
    val n = checkedLen(bb.getInt(vec), (bytes.length - vec - 4) / 4)
    (0 until n).map { j =>
      val mPos = indirect(bb, vec + 4 + j * 4)
      val name = {
        val o = vtableField(bb, mPos, 0)
        if (o == 0) "" else string(bb, mPos + o)
      }
      val ts = {
        val o = vtableField(bb, mPos, 1)
        if (o == 0) 0L else bb.getLong(mPos + o)
      }
      val value = {
        val o = vtableField(bb, mPos, 2)
        if (o == 0) 0.0 else bb.getDouble(mPos + o)
      }
      var viz: Option[String] = None
      val tags = Map.newBuilder[String, String]
      val to = vtableField(bb, mPos, 3)
      if (to != 0) {
        val tvec = indirect(bb, mPos + to)
        val tn = checkedLen(bb.getInt(tvec), (bytes.length - tvec - 4) / 4)
        var i = 0
        while (i < tn) {
          val tPos = indirect(bb, tvec + 4 + i * 4)
          val ko = vtableField(bb, tPos, 0)
          val vo = vtableField(bb, tPos, 1)
          val k = if (ko == 0) "" else string(bb, tPos + ko)
          val v = if (vo == 0) "" else string(bb, tPos + vo)
          if (k == MetricPoint.VisibilityTag) viz = Some(v) else tags += (k -> v)
          i += 1
        }
      }
      MetricPoint(name, ts, value, tags.result(), viz)
    }
  }

  // ---------------------------------------------------------------------------
  // Encode (forward-writing builder with offset patching)
  // ---------------------------------------------------------------------------

  private final class Buf(initial: Int = 1024) {
    private var arr = new Array[Byte](initial)
    var pos = 0
    private def ensure(n: Int): Unit =
      if (pos + n > arr.length) arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, pos + n))
    def pad(align: Int): Unit = while (pos % align != 0) putByte(0)
    def putByte(b: Byte): Unit = { ensure(1); arr(pos) = b; pos += 1 }
    def putBytes(bs: Array[Byte]): Unit = { ensure(bs.length); System.arraycopy(bs, 0, arr, pos, bs.length); pos += bs.length }
    def putShort(v: Int): Unit = { ensure(2); arr(pos) = v.toByte; arr(pos + 1) = (v >> 8).toByte; pos += 2 }
    def putInt(v: Int): Unit = { ensure(4); var i = 0; while (i < 4) { arr(pos + i) = (v >> (8 * i)).toByte; i += 1 }; pos += 4 }
    def putLong(v: Long): Unit = { ensure(8); var i = 0; while (i < 8) { arr(pos + i) = (v >> (8 * i)).toByte; i += 1 }; pos += 8 }
    def putDouble(v: Double): Unit = putLong(java.lang.Double.doubleToLongBits(v))
    def patchInt(at: Int, v: Int): Unit = { var i = 0; while (i < 4) { arr(at + i) = (v >> (8 * i)).toByte; i += 1 } }
    def result(): Array[Byte] = java.util.Arrays.copyOf(arr, pos)
  }

  private def putString(b: Buf, s: String): Int = {
    b.pad(4)
    val at = b.pos
    val bytes = s.getBytes(UTF_8)
    b.putInt(bytes.length)
    b.putBytes(bytes)
    b.putByte(0) // FlatBuffers strings are null-terminated
    at
  }

  /** Encode points into one Metrics buffer (the batch the reference's TCP
    * decoder unpacks in a loop — MetricsBufferDecoder.java:46-52). */
  def encode(points: Seq[MetricPoint]): Array[Byte] = {
    val b = new Buf()
    b.putInt(0) // root uoffset, patched at the end
    b.putBytes(Identifier.getBytes(UTF_8))

    // Metrics root table: single vector-of-tables field
    b.pad(2)
    val rootVt = b.pos
    b.putShort(6); b.putShort(8); b.putShort(4)
    b.pad(4)
    val root = b.pos
    b.putInt(root - rootVt)
    val vecSlot = b.pos
    b.putInt(0)
    b.patchInt(0, root)

    b.pad(4)
    val vec = b.pos
    b.putInt(points.length)
    val elemSlots = points.map { _ => val p = b.pos; b.putInt(0); p }
    b.patchInt(vecSlot, vec - vecSlot)

    points.zip(elemSlots).foreach { case (pt, elemSlot) =>
      // Metric table: name@4 (uoffset), timestamp@8 (long), value@16 (double),
      // tags@24 (uoffset); table start 8-aligned so the scalars are aligned
      b.pad(2)
      val vt = b.pos
      b.putShort(12); b.putShort(28)
      b.putShort(4); b.putShort(8); b.putShort(16); b.putShort(24)
      b.pad(8)
      val t = b.pos
      b.putInt(t - vt)
      val nameSlot = b.pos
      b.putInt(0)
      b.putLong(pt.ts)
      b.putDouble(pt.value)
      val tagsSlot = b.pos
      b.putInt(0)
      b.patchInt(elemSlot, t - elemSlot)

      val namePos = putString(b, pt.metric)
      b.patchInt(nameSlot, namePos - nameSlot)

      // tags (sorted for determinism) + the viz tag like the wire protocol
      val allTags = pt.tags.toSeq.sortBy(_._1) ++ pt.viz.map(MetricPoint.VisibilityTag -> _)
      b.pad(4)
      val tvec = b.pos
      b.putInt(allTags.length)
      val tagSlots = allTags.map { _ => val p = b.pos; b.putInt(0); p }
      b.patchInt(tagsSlot, tvec - tagsSlot)

      allTags.zip(tagSlots).foreach { case ((k, v), slot) =>
        b.pad(2)
        val tvt = b.pos
        b.putShort(8); b.putShort(12); b.putShort(4); b.putShort(8)
        b.pad(4)
        val tt = b.pos
        b.putInt(tt - tvt)
        val kSlot = b.pos; b.putInt(0)
        val vSlot = b.pos; b.putInt(0)
        b.patchInt(slot, tt - slot)
        val kPos = putString(b, k)
        b.patchInt(kSlot, kPos - kSlot)
        val vPos = putString(b, v)
        b.patchInt(vSlot, vPos - vSlot)
      }
    }
    b.result()
  }
}
