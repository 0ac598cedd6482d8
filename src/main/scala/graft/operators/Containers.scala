package graft.operators

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Bounded readers for the three container families [[Multimodal]]'s
  * media walkers parse — EBML (Matroska/WebM), ISO-BMFF (MP4/MOV/M4A/
  * HEIF) and TIFF IFDs (TIFF files and every EXIF block). Each
  * family's header decoding and bounds rules are decided once, here
  * (Hive's one-SerDe-per-format rule), and a walker keeps only its
  * element match arms and scratch state. The shared bounds:
  *
  *  - depth: a walk descends at most [[Ebml.MaxDepth]] /
  *    [[Bmff.MaxDepth]] = 16 levels below its start; a deeper
  *    container is skipped whole, so hostile nesting costs the cap,
  *    never the stack;
  *  - EBML clamp/stop: ids are 1-4 byte VINTs (marker bit kept),
  *    sizes 1-8 byte VINTs (all value bits set = unknown size). A
  *    container whose size is unknown or overruns its parent clamps
  *    to the parent's end (a truncated upload keeps its intact
  *    prefix; the live-muxed Segment convention); such a LEAF, or an
  *    unreadable id/size, ends the walk of its siblings while the
  *    parent's walk goes on;
  *  - ISO-BMFF box headers: a 32-bit size, `size == 1` = a 64-bit
  *    largesize after the fourcc, `size == 0` = the box runs to its
  *    parent's end; a box smaller than its header or overrunning its
  *    parent ends the sibling walk;
  *  - TIFF: `II`/`MM` byte order and magic 42 at the block start;
  *    every read outside the block returns -1.
  *
  * Early stops (the 100k cue budget, 10k chapters, "first hit") are
  * the walker's own: it overrides `done`. The writers
  * ([[Ebml.el]], [[Bmff.box]]) build the fixtures the walkers read.
  */
private[graft] object Ebml {
  final val MaxDepth = 16

  /** Starts with the EBML header id (0x1A45DFA3) and can hold one. */
  def isEbml(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && b(0) == 0x1A.toByte &&
      b(1) == 0x45.toByte && b(2) == 0xDF.toByte && b(3) == 0xA3.toByte

  /** Byte length of the VINT at `o` (1-8); -1 past the end or for a
    * zero first byte.
    */
  @inline def vintLen(b: Array[Byte], o: Int): Int = {
    if (o >= b.length) return -1
    val b0 = b(o) & 0xff
    if (b0 == 0) -1 else Integer.numberOfLeadingZeros(b0) - 23
  }

  /** Element id at `o` (1-4 bytes, marker bit kept); -1 when invalid. */
  def readId(b: Array[Byte], o: Int): Long = {
    val n = vintLen(b, o)
    if (n < 1 || n > 4 || o + n > b.length) return -1L
    uint(b, o, o + n)
  }

  /** Element data size at `o` (1-8 bytes, `vintLen(b, o)` long):
    * -1 = unknown (all value bits set), -2 = no valid size.
    */
  def readSize(b: Array[Byte], o: Int): Long = {
    val n = vintLen(b, o)
    if (n < 1 || n > 8 || o + n > b.length) return -2L
    val v = vintValue(b, o, n)
    if (v == (1L << (7 * n)) - 1) -1L else v
  }

  /** Value of the `n`-byte VINT at `o`, its length marker masked off
    * (a Block's track number).
    */
  @inline def vintValue(b: Array[Byte], o: Int, n: Int): Long =
    ((b(o) & 0xff & (0xff >>> n)).toLong << (8 * (n - 1))) |
      uint(b, o + 1, o + n)

  /** Big-endian unsigned integer over [from, until). */
  @inline def uint(b: Array[Byte], from: Int, until: Int): Long = {
    var v = 0L
    var i = from
    while (i < until) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  /** 4- or 8-byte IEEE float payload; NaN for any other width. */
  def float(b: Array[Byte], from: Int, until: Int): Double = (until - from) match {
    case 4 => java.lang.Float.intBitsToFloat(uint(b, from, until).toInt).toDouble
    case 8 => java.lang.Double.longBitsToDouble(uint(b, from, until))
    case _ => Double.NaN
  }

  def latin1(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, ISO_8859_1)

  def utf8(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, UTF_8)

  /** One EBML walk over `b` from offset 0. `containers` are the
    * master-element ids this walker descends into; everything else
    * is a leaf. Override `container` to run code before and after
    * `descend` (per-element scratch that commits on close, or parent
    * scratch saved around a nested element).
    */
  abstract class Walker(b: Array[Byte], containers: Long*) {
    private[this] val masters: Array[Long] = containers.toArray
    // one bit per container id's low 6 bits: most leaves miss it and
    // skip the scan
    private[this] val hint: Long = {
      var m = 0L
      var i = 0
      while (i < masters.length) { m |= 1L << (masters(i) & 63); i += 1 }
      m
    }
    private[this] var level = 0
    private[this] var within = -1L

    /** Id of the container whose children are being walked; -1 at
      * the top level.
      */
    protected final def parent: Long = within

    /** A leaf element with payload [body, end). */
    protected def leaf(id: Long, body: Int, end: Int): Unit

    /** A container element with payload [body, end); by default its
      * children are walked.
      */
    protected def container(id: Long, body: Int, end: Int): Unit =
      descend(id, body, end)

    /** The walker's early stop, checked before every element. */
    protected def done: Boolean = false

    /** Walk a container's children one level deeper (nothing past
      * [[MaxDepth]]).
      */
    protected final def descend(id: Long, body: Int, end: Int): Unit = {
      if (level >= MaxDepth) return
      val outer = within
      level += 1; within = id
      elements(body, end)
      level -= 1; within = outer
    }

    final def walk(): Unit = elements(0, b.length)

    private[this] def isMaster(id: Long): Boolean = {
      if ((hint & (1L << (id & 63))) == 0) return false
      var i = 0
      while (i < masters.length) { if (masters(i) == id) return true; i += 1 }
      false
    }

    private[this] def elements(start: Int, end: Int): Unit = {
      var off = start
      while (off < end && !done) {
        val id = readId(b, off)
        if (id < 0) return
        val sizeAt = off + vintLen(b, off)
        val size = readSize(b, sizeAt)
        if (size == -2L) return
        val body = sizeAt + vintLen(b, sizeAt)
        val master = isMaster(id)
        val bodyEnd =
          if (size < 0 || size > end - body) { if (master) end else return }
          else body + size.toInt
        if (master) container(id, body, bodyEnd) else leaf(id, body, bodyEnd)
        off = bodyEnd
      }
    }
  }

  /** Element `id` around `payload` with a 4-byte size VINT — the
    * fixture writer every synthetic Matroska/WebM builder shares.
    */
  def el(id: Long, payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    require(n < (1 << 28), s"element too large for a 4-byte size: $n")
    val idLen = (64 - java.lang.Long.numberOfLeadingZeros(id) + 7) / 8
    val out = new Array[Byte](idLen + 4 + n)
    var i = 0
    while (i < idLen) { out(i) = (id >> (8 * (idLen - 1 - i))).toByte; i += 1 }
    out(idLen) = (0x10 | (n >> 24)).toByte
    out(idLen + 1) = (n >> 16).toByte
    out(idLen + 2) = (n >> 8).toByte
    out(idLen + 3) = n.toByte
    System.arraycopy(payload, 0, out, idLen + 4, n)
    out
  }

  /** Unsigned-integer element in its minimal big-endian width. */
  def uintEl(id: Long, v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && (v >>> (8 * n)) != 0) n += 1
    el(id, Array.tabulate(n)(i => (v >> (8 * (n - 1 - i))).toByte))
  }
}

private[graft] object Bmff {
  final val MaxDepth = 16

  /** An `ftyp`-led ISO-BMFF file (box id at offset 4). */
  def isBmff(b: Array[Byte]): Boolean =
    b != null && b.length >= 16 &&
      b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p'

  @inline def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  @inline def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  @inline def u64(b: Array[Byte], o: Int): Long = (u32(b, o) << 32) | u32(b, o + 4)

  def fourcc(b: Array[Byte], o: Int): String = new String(b, o, 4, ISO_8859_1)

  /** One box walk over `b`. The walker visits each well-formed box's
    * id and payload [body, end) and descends with `descend`; `parent`
    * says where the current boxes sit.
    */
  abstract class Walker(b: Array[Byte]) {
    private[this] var level = 0
    private[this] var within = ""

    /** Id of the box whose children are being walked; "" at the top. */
    protected final def parent: String = within

    /** One well-formed box with payload [body, end). */
    protected def visit(id: String, body: Int, end: Int): Unit

    /** The walker's early stop, checked before every box. */
    protected def done: Boolean = false

    /** A box that overruns its parent ends the sibling walk; this sees
      * it first with its end clamped to the parent's.
      */
    protected def overrun(id: String, body: Int, end: Int): Unit = ()

    /** Walk the boxes in [body, end) one level deeper (nothing past
      * [[MaxDepth]]).
      */
    protected final def descend(id: String, body: Int, end: Int): Unit = {
      if (level >= MaxDepth) return
      val outer = within
      level += 1; within = id
      boxes(body, end)
      level -= 1; within = outer
    }

    final def walk(start: Int = 0, end: Int = b.length): Unit = boxes(start, end)

    private[this] def boxes(start: Int, end: Int): Unit = {
      var off = start.toLong
      while (!done && off + 8 <= end) {
        val o = off.toInt
        val size0 = u32(b, o)
        var body = off + 8
        val boxEnd =
          if (size0 == 1 && off + 16 <= end) { body = off + 16; off + u64(b, o + 8) }
          else if (size0 == 0) end.toLong
          else off + size0
        if (boxEnd < body) return
        if (boxEnd > end) { overrun(fourcc(b, o + 4), body.toInt, end); return }
        visit(fourcc(b, o + 4), body.toInt, boxEnd.toInt)
        off = boxEnd
      }
    }
  }

  /** Box `id` (ISO-8859-1 fourcc) around `payload` with a 32-bit size —
    * the fixture writer every synthetic ISO-BMFF builder shares.
    */
  def box(id: String, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + payload.length)
    out.putInt(8 + payload.length).put(id.getBytes(ISO_8859_1)).put(payload)
    out.array()
  }

  /** Big-endian u32 table (sample-table payloads). */
  def u32s(vs: Seq[Int]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
    vs.foreach(bb.putInt)
    bb.array()
  }
}

/** A TIFF block [tiff, end) whose header checked out: reads in its
  * declared byte order, -1 outside the block.
  */
private[graft] final class TiffIfd private (b: Array[Byte], val tiff: Int,
    val end: Int, val little: Boolean) {

  def u16(o: Int): Int =
    if (o < tiff || o + 2 > end) -1
    else if (little) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  def u32(o: Int): Long =
    if (o < tiff || o + 4 > end) -1L
    else if (little) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** Absolute offset of IFD0 (its entry count reads -1 when the
    * pointer leads outside the block).
    */
  val ifd0: Int = tiff + u32(tiff + 4).toInt

  /** ASCII (type 2) value of `tag` in the IFD at `ifd` — inline when
    * the NUL-included count fits the 4-byte slot, else at its
    * block-relative offset. Decoded as UTF-8 (cameras and exporters
    * write it), cut at the first NUL; null when absent, invalid or
    * empty.
    */
  def ascii(ifd: Int, tag: Int): String = {
    val n = u16(ifd)
    var k = 0
    while (k < n) {
      val e = ifd + 2 + 12 * k
      if (u16(e) == tag && u16(e + 2) == 2) {
        val count = u32(e + 4)
        if (count <= 0 || count > end - tiff) return null
        val from =
          if (count <= 4) e + 8
          else {
            val o = u32(e + 8)
            if (o < 0) return null
            tiff + o.toInt
          }
        if (from < tiff || count > end - from) return null
        val raw = new String(b, from, count.toInt, UTF_8)
        val nul = raw.indexOf(0.toChar)
        val t = if (nul >= 0) raw.substring(0, nul) else raw
        return if (t.isEmpty) null else t
      }
      k += 1
    }
    null
  }
}

private[graft] object TiffIfd {
  /** The TIFF block at [tiff, end) of `b`, or null without room for a
    * header, an `II`/`MM` byte order and magic 42.
    */
  def at(b: Array[Byte], tiff: Int, end: Int): TiffIfd = {
    if (tiff + 8 > end) return null
    val little =
      if (b(tiff) == 'I' && b(tiff + 1) == 'I') true
      else if (b(tiff) == 'M' && b(tiff + 1) == 'M') false
      else return null
    val t = new TiffIfd(b, tiff, end, little)
    if (t.u16(tiff + 2) == 42) t else null
  }
}
