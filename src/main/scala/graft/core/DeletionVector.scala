package graft.core

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.zip.{Deflater, Inflater}

/** Deletion-vector sidecar codec — the merge-on-read half of DELETE
  * (Delta's deletion vectors / Iceberg's positional delete files,
  * re-derived; reference analogue: the dbt incremental merge's
  * delete-averse posture, `models/dwh/dim_customer.sql:1-6`, which a
  * COW-only format punishes at scale). A DV is the sorted set of
  * ROW POSITIONS (the parquet row index) deleted from ONE
  * immutable data file; the file itself never rewrites. Deleting k
  * rows from a 1 GB file costs O(k) sidecar bytes instead of a 1 GB
  * rewrite — at 100 TB with GDPR point deletes, that is the whole
  * difference between a metadata-sized commit and petabyte churn.
  *
  * Encoding: positions sorted ascending, delta-encoded, each delta as
  * an unsigned varint, the stream deflated (zlib) behind an 8-byte
  * header (`GDV1` magic + int32 count). Dense deltas (adjacent rows)
  * cost 1 byte pre-compression; the codec never materializes more
  * than the long array. Sidecars are immutable and content-unique
  * (UUID-named): a later delete on the same file writes a NEW sidecar
  * holding the UNION, so every snapshot pins exact delete state and
  * time travel/CDC read any version's live rows by construction. */
object DeletionVector {

  private val Magic = 0x47445631 // "GDV1"

  /** Encode sorted-distinct `positions` (caller need not pre-sort). */
  def encode(positions: Array[Long]): Array[Byte] = {
    val sorted = positions.distinct.sorted
    val raw = new ByteArrayOutputStream(sorted.length + 16)
    var prev = -1L
    sorted.foreach { p =>
      require(p >= 0, s"row position must be non-negative, got $p")
      var d = p - prev - 1 // consecutive positions encode as 0
      prev = p
      while ((d & ~0x7fL) != 0) { raw.write(((d & 0x7f) | 0x80).toInt); d >>>= 7 }
      raw.write(d.toInt)
    }
    val deflater = new Deflater(Deflater.BEST_SPEED)
    deflater.setInput(raw.toByteArray)
    deflater.finish()
    val out = new ByteArrayOutputStream(raw.size() / 2 + 16)
    out.write(Magic >>> 24); out.write(Magic >>> 16); out.write(Magic >>> 8); out.write(Magic)
    val n = sorted.length
    out.write(n >>> 24); out.write(n >>> 16); out.write(n >>> 8); out.write(n)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    out.toByteArray
  }

  /** Decode back to the sorted position array. */
  def decode(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= 8 && readInt(bytes, 0) == Magic,
      "not a graft deletion vector (bad magic)")
    val n = readInt(bytes, 4)
    // sanity-bound the header count before sizing allocations by it: a
    // bit-flipped sidecar claiming 2^31 positions must refuse loudly,
    // not OOM the executor. Deflate's theoretical max expansion is
    // ~1032:1 and every position costs ≥1 pre-compression byte.
    require(n >= 0 && n.toLong <= (bytes.length - 8).toLong * 1040 + 64,
      s"corrupt deletion vector: header claims $n positions in " +
        s"${bytes.length - 8} compressed bytes")
    val inflater = new Inflater()
    inflater.setInput(bytes, 8, bytes.length - 8)
    val raw = new ByteArrayOutputStream(n + 16)
    val buf = new Array[Byte](8192)
    while (!inflater.finished()) {
      val k = inflater.inflate(buf)
      raw.write(buf, 0, k)
      // a zero-byte round that also finished the stream is fine (the
      // empty vector inflates to nothing); zero WITHOUT finishing
      // means the sidecar was cut short
      if (k == 0 && !inflater.finished() && inflater.needsInput())
        throw new IllegalStateException("truncated deletion vector")
    }
    inflater.end()
    val in = raw.toByteArray
    val out = new Array[Long](n)
    var (i, off, prev) = (0, 0, -1L)
    while (i < n) {
      var (d, shift) = (0L, 0)
      var b = 0
      do {
        b = in(off) & 0xff; off += 1
        d |= (b & 0x7fL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      prev = prev + 1 + d
      out(i) = prev
      i += 1
    }
    out
  }

  private def readInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** Union of two sorted position arrays (a later delete merges into
    * the file's existing vector — vectors only ever GROW for a given
    * data file, which is what makes `newRows - oldRows` the exact
    * newly-deleted count). */
  def union(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = Array.newBuilder[Long]
    out.sizeHint(a.length + b.length)
    var (i, j) = (0, 0)
    var last = -1L
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { i += 1; a(i - 1) }
        else { j += 1; b(j - 1) }
      if (v != last) { out += v; last = v }
    }
    out.result()
  }

  /** Membership by binary search — the read path's per-row probe. */
  def contains(sorted: Array[Long], p: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, p) >= 0

  /** Sorted positions in `next` but not `prior` — the CDC delta: the
    * rows ONE commit deleted (prior ⊆ next by the union-only growth
    * invariant, so this is an O(n) filter). */
  def minus(next: Array[Long], prior: Array[Long]): Array[Long] =
    if (prior.isEmpty) next else next.filterNot(contains(prior, _))

  // ----------------------------------------------------------- sidecar IO

  /** Write a sidecar; returns (encoded bytes length). Immutable once
    * written — named by the caller with a commit-unique UUID. */
  def write(file: File, positions: Array[Long]): Long = {
    val bytes = encode(positions)
    Option(file.getParentFile).foreach(_.mkdirs())
    Files.write(file.toPath, bytes)
    bytes.length.toLong
  }

  /** Executor-side bounded cache of decoded vectors, keyed by absolute
    * sidecar path. Sidecars are immutable, so a cached entry is valid
    * forever. Eviction is weighted by RETAINED POSITION COUNT (8 bytes
    * per position — the actual heap), not entry count: a wide MOR scan
    * over many small vectors keeps them all, while a handful of
    * million-position vectors evict early instead of pinning multi-GB
    * of Long arrays per executor. LRU order; the most-recent entry is
    * never evicted (a vector wider than the whole budget must still
    * serve its own scan — it just won't linger). */
  private[graft] val MaxCachedPositions = 16L << 20 // ≈128 MB of decoded Longs
  private var cachedPositions = 0L
  private val cache = new java.util.LinkedHashMap[String, Array[Long]](64, 0.75f, true)

  def load(absPath: String): Array[Long] = {
    val hit = cache.synchronized(cache.get(absPath))
    if (hit != null) return hit
    // read + decode OUTSIDE the lock: sidecars are immutable, so the
    // worst concurrent case is a duplicate decode of the same file —
    // never a cold-cache load queue serializing every scan task's
    // first probe behind one executor-wide lock
    val v = decode(Files.readAllBytes(new File(absPath).toPath))
    cache.synchronized {
      val raced = cache.get(absPath)
      if (raced != null) raced
      else {
        cache.put(absPath, v)
        cachedPositions += v.length
        val it = cache.entrySet().iterator()
        while (cachedPositions > MaxCachedPositions && cache.size() > 1 && it.hasNext) {
          val eldest = it.next()
          if (!(eldest.getValue eq v)) { // never evict the entry we just loaded
            cachedPositions -= eldest.getValue.length
            it.remove()
          }
        }
        v
      }
    }
  }

  /** Test seam: current cached-position total. */
  private[graft] def cachedPositionCount: Long = cache.synchronized(cachedPositions)
}
