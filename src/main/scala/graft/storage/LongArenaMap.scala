package graft.storage

/** Open-addressed, linear-probe hash map from long keys to
  * variable-length long-slice payloads, with ALL state in three
  * primitive arrays — the executor-resident serving structure behind
  * [[PointIndex]].
  *
  * Why not `java.util.HashMap[Long, Array[Long]]` (the r19 shape): at
  * tier scale the per-entry objects dominate — node + boxed key +
  * payload array header is ~90 B/row and hundreds of millions of heap
  * objects, i.e. ~5× the raw tier bytes and a GC scan set that stalls
  * every executor pause (measured: the 1.8 GB-tier map build OOM'd a
  * 16 GB heap on fold transients alone). This layout is ~40–50 B/row
  * in exactly three flat arrays (key table + offset table + payload
  * arena), ~3× raw tier bytes, object-count O(1) per shard — GC reads
  * it as three references.
  *
  * Layout: `keyAt`/`offAt` form the open table (power-of-two,
  * `fmix64`-scrambled linear probe, offset −1 = empty). A key's slot
  * offset points into `arena` at `[payloadLen, records…]`; records are
  * caller-defined long slices (fixed-width pairs for the bucket tier,
  * length-prefixed rows for the sig tier) appended in insertion order.
  *
  * Build is two passes over a flat spill of the partition's records
  * (append-only primitive buffers, ~24 B/record transient, zero
  * objects): pass 1 counts per-key payload lengths into the table,
  * pass 2 lays records into the arena at per-key cursors. */
@SerialVersionUID(1L)
final class LongArenaMap private (
    keys: Array[Long], offs: Array[Int], arena: Array[Long], mask: Int)
    extends Serializable {

  /** Arena offset of `key`'s `[payloadLen, records…]` block, or −1. */
  def payloadStart(key: Long): Int = {
    var i = (LongArenaMap.fmix64(key) & mask).toInt
    while (offs(i) != -1) {
      if (keys(i) == key) return offs(i)
      i = (i + 1) & mask
    }
    -1
  }

  def payloadLen(start: Int): Int = arena(start).toInt
  def payload(idx: Int): Long = arena(idx)
}

object LongArenaMap {

  /** murmur3 64-bit finalizer: table slots must scramble even when the
    * keys are sequential (sig tier doc ids). */
  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** Append-only accumulator for one partition's (key, record) stream.
    * Records are long slices; the caller picks one encoding per map
    * (fixed pairs or length-prefixed rows) and decodes it in its hit
    * iterator. */
  final class Builder {
    private var ks = new Array[Long](1024)
    private var recStart = new Array[Int](1024)
    private var recLen = new Array[Int](1024)
    private var n = 0
    private var buf = new Array[Long](4096)
    private var bufLen = 0

    private def ensureRec(): Unit = if (n == ks.length) {
      ks = java.util.Arrays.copyOf(ks, n * 2)
      recStart = java.util.Arrays.copyOf(recStart, n * 2)
      recLen = java.util.Arrays.copyOf(recLen, n * 2)
    }
    private def ensureBuf(extra: Int): Unit =
      if (bufLen + extra > buf.length)
        buf = java.util.Arrays.copyOf(buf,
          math.max(buf.length * 2, bufLen + extra))

    /** fixed two-long record (the bucket tier's (band, id) pair). */
    def add2(key: Long, a: Long, b: Long): Unit = {
      ensureRec(); ensureBuf(2)
      ks(n) = key; recStart(n) = bufLen; recLen(n) = 2; n += 1
      buf(bufLen) = a; buf(bufLen + 1) = b; bufLen += 2
    }

    /** length-prefixed row record (`[len, values…]`; null row → `[-1]`
      * — the sig tier's null-signature parity case). */
    def addRow(key: Long, row: Array[Long]): Unit = {
      val l = if (row == null) 0 else row.length
      ensureRec(); ensureBuf(1 + l)
      ks(n) = key; recStart(n) = bufLen; recLen(n) = 1 + l; n += 1
      buf(bufLen) = if (row == null) -1L else l.toLong
      var i = 0
      while (i < l) { buf(bufLen + 1 + i) = row(i); i += 1 }
      bufLen += 1 + l
    }

    def result(): LongArenaMap = {
      // table sized by record count (≥ distinct keys), load ≤ ~0.7
      var cap = 16
      while (cap * 7L < n.toLong * 10L) cap <<= 1
      val mask = cap - 1
      val keys = new Array[Long](cap)
      val offs = new Array[Int](cap)
      java.util.Arrays.fill(offs, -1)
      // pass 1: per-key payload length accumulates in `lens`
      val lens = new Array[Int](cap)
      var i = 0
      while (i < n) {
        val k = ks(i)
        var s = (fmix64(k) & mask).toInt
        while (offs(s) != -1 && keys(s) != k) s = (s + 1) & mask
        if (offs(s) == -1) { offs(s) = 0; keys(s) = k } // 0 = seen marker
        lens(s) += recLen(i)
        i += 1
      }
      // assign arena extents: [payloadLen, records…] per key
      var cursor = 0
      var s = 0
      while (s < cap) {
        if (offs(s) != -1) {
          offs(s) = cursor
          cursor += 1 + lens(s)
          lens(s) = offs(s) + 1 // becomes the slot's write cursor
        }
        s += 1
      }
      val arena = new Array[Long](cursor)
      // pass 2: copy records to per-key cursors
      i = 0
      while (i < n) {
        val k = ks(i)
        var t = (fmix64(k) & mask).toInt
        while (keys(t) != k || offs(t) == -1) t = (t + 1) & mask
        System.arraycopy(buf, recStart(i), arena, lens(t), recLen(i))
        lens(t) += recLen(i)
        i += 1
      }
      // payload lengths from the final cursors
      s = 0
      while (s < cap) {
        if (offs(s) != -1) arena(offs(s)) = (lens(s) - offs(s) - 1).toLong
        s += 1
      }
      new LongArenaMap(keys, offs, arena, mask)
    }
  }
}
