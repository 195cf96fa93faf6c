package graft.frontier

import org.apache.spark.sql.DataFrame

/** Partial-key cuckoo filter over 64-bit keys (Fan et al., "Cuckoo
  * Filter: Practically Better Than Bloom", CoNEXT'14) — the in-memory
  * approximate-membership sketch of the URL-seen set ([[SeenIndex]]).
  * What it buys over a Bloom sketch is DELETION: a TTL'd seen window
  * retires an expired round by deleting that round's url_hash delta —
  * O(round delta) — where an add-only sketch must periodically rebuild
  * from the whole window — O(window) (the sliding-window expiry of
  * "A Learned Cuckoo Filter for AMQ over Variable-sized Sliding
  * Windows", SIGMOD'23). Correctness contract: NO false negatives
  * ever (a false negative would classify a seen url definitely-new,
  * skip the exact anti-join, and re-crawl it — trace divergence);
  * false positives only cost an exact-join probe.
  *
  * Design notes, all serving that contract:
  *   - MULTISET semantics: every insert stores an entry (duplicate
  *     (bucket, fingerprint) pairs occupy separate slots), so deleting
  *     one key removes exactly one entry and any colliding key that
  *     was inserted separately remains covered — the classic "deletion
  *     is only safe for inserted keys" caveat is discharged by never
  *     deduplicating on insert (the crawl inserts each (round, url)
  *     delta row once and deletes it once).
  *   - Overflow degrades CONSERVATIVELY: an insert that exhausts the
  *     eviction walk parks its fingerprint in a bounded stash; a full
  *     stash marks the filter saturated, after which `mightContain`
  *     answers true for everything (correct, just prefilter-useless)
  *     and the crawl's resize-rebuild takes over.
  *   - Deterministic end to end: splitmix64 fingerprint/index hashing,
  *     LCG-driven victim selection seeded at construction — same
  *     inserts in the same order, same filter; no wall-clock, no
  *     global Random.
  *
  * Sizing: 4-slot buckets, 16-bit fingerprints, power-of-two bucket
  * count at ≤~0.95 load → ~2.4 bytes/key at high occupancy (vs ~1.1
  * bytes/key for a 3% Bloom) — deletion costs ~2× space. At the
  * 10^10 design point the seen set rides hash-range [[ShardedBloom]]
  * files instead; this class is the single-sketch cell. */
final class CuckooFilter private (
    val numBuckets: Int, // power of two
    private val slots: Array[Short], // numBuckets * 4, 0 = empty
    private var stash: List[(Int, Short)],
    private var lcg: Long,
    private var saturatedFlag: Boolean) extends Serializable {

  import CuckooFilter._

  def this(numBuckets: Int) =
    this(numBuckets, new Array[Short](numBuckets * 4), Nil, 0x5DEECE66DL, false)

  def saturated: Boolean = saturatedFlag
  def stashSize: Int = stash.size

  private def altIndex(i: Int, fp: Short): Int =
    (i ^ (mix(fp.toLong & 0xffffL) .toInt)) & (numBuckets - 1)

  private def tryPut(i: Int, fp: Short): Boolean = {
    val base = i * 4
    var s = 0
    while (s < 4) {
      if (slots(base + s) == 0) { slots(base + s) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert; returns false only when the filter saturated (the key is
    * still covered — saturation makes membership answer true). */
  def insert(key: Long): Boolean =
    !saturatedFlag && { insertFp(index(key, numBuckets), fingerprint(key), kickFromEither = true); true }

  /** Delete ONE entry for the key; returns whether an entry was found.
    * On a saturated filter membership is degenerate — nothing is
    * deleted (the caller falls back to rebuild). */
  def delete(key: Long): Boolean = !saturatedFlag && deleteFp(index(key, numBuckets), fingerprint(key))

  /** Delete ONE entry of fingerprint `fp` homed in bucket `i1` or its
    * alternate. */
  private def deleteFp(i1: Int, fp: Short): Boolean = {
    val s = slotOf(i1, fp)
    if (s >= 0) { slots(s) = 0; true }
    else stashIndex(i1, fp) match {
      case -1 => false
      case k =>
        stash = stash.patch(k, Nil, 1)
        true
    }
  }

  /** The slot holding `fp` in bucket `i1` or its alternate, or -1. */
  private def slotOf(i1: Int, fp: Short): Int = {
    val i2 = altIndex(i1, fp)
    var k = 0
    while (k < 8) {
      val s = (if (k < 4) i1 else i2) * 4 + (k & 3)
      if (slots(s) == fp) return s
      k += 1
    }
    -1
  }

  private def stashIndex(i1: Int, fp: Short): Int = {
    val i2 = altIndex(i1, fp)
    stash.indexWhere { case (bi, f) => (bi == i1 || bi == i2) && f == fp }
  }

  def mightContain(key: Long): Boolean = saturatedFlag || {
    val i1 = index(key, numBuckets)
    val fp = fingerprint(key)
    slotOf(i1, fp) >= 0 || stashIndex(i1, fp) >= 0
  }

  /** Applies `f` to every stored (bucket, fingerprint) entry — slots in
    * bucket order, then the stash — while it returns true; returns
    * whether every call did. */
  private def forallEntries(f: (Int, Int) => Boolean): Boolean = {
    var k = 0
    while (k < slots.length) {
      if (slots(k) != 0 && !f(k / 4, slots(k))) return false
      k += 1
    }
    stash.forall { case (b, fp) => f(b, fp) }
  }

  /** Fold `other`'s entries into this filter (same numBuckets
    * required): each stored fingerprint re-inserts by its (bucket,
    * fingerprint) identity — either of its two homes is derivable from
    * either index, so the merged filter covers the union (multiset:
    * entry counts add). */
  def mergeInPlace(other: CuckooFilter): this.type = {
    require(other.numBuckets == numBuckets,
      s"cannot merge cuckoo filters of different geometry ($numBuckets vs ${other.numBuckets})")
    if (other.saturatedFlag) { saturatedFlag = true; stash = Nil; return this }
    other.forallEntries { (b, fp) => insertFp(b, fp.toShort); !saturatedFlag }
    this
  }

  /** Remove one entry per entry of `other` (same numBuckets required) —
    * the bulk form of [[delete]]: a stored (bucket, fingerprint) names
    * the same bucket pair `delete(key)` searches for its key, so
    * subtracting a sketch of keys equals deleting the keys one by one.
    * Returns the number of entries removed, or None when either filter
    * is saturated or an entry is not found; this filter is then partly
    * modified, so callers subtract from a [[copySketch]]. */
  def subtract(other: CuckooFilter): Option[Long] = {
    require(other.numBuckets == numBuckets,
      s"cannot subtract cuckoo filters of different geometry ($numBuckets vs ${other.numBuckets})")
    if (saturatedFlag || other.saturatedFlag) return None
    var n = 0L
    if (other.forallEntries { (b, fp) => n += 1; deleteFp(b, fp.toShort) }) Some(n) else None
  }

  /** Store `fp` in bucket `i` or its alternate, evicting along a
    * deterministic walk of up to MaxKicks victims (from either bucket
    * when `kickFromEither`, else the alternate) and stashing the last. */
  private def insertFp(i: Int, fp: Short, kickFromEither: Boolean = false): Unit = {
    if (tryPut(i, fp)) return
    val i2 = altIndex(i, fp)
    if (tryPut(i2, fp)) return
    var curI = if (kickFromEither && nextBit()) i else i2
    var curFp = fp
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = nextSlot()
      val base = curI * 4
      val victim = slots(base + slot)
      slots(base + slot) = curFp
      curFp = victim
      curI = altIndex(curI, curFp)
      if (tryPut(curI, curFp)) return
      kicks += 1
    }
    stash = (curI, curFp) :: stash
    if (stash.size > StashCap) { saturatedFlag = true; stash = Nil }
  }

  private def nextBit(): Boolean = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; (lcg >>> 63) != 0L }
  private def nextSlot(): Int = { lcg = lcg * 6364136223846793005L + 1442695040888963407L; ((lcg >>> 33) & 3L).toInt }

  /** Independent copy (cloned slot array) — the seen index adds to and
    * deletes from a copy and republishes, so in-flight plans holding a
    * broadcast of the previous sketch never see shared mutation. */
  def copySketch(): CuckooFilter =
    new CuckooFilter(numBuckets, slots.clone(), stash, lcg, saturatedFlag)
}

object CuckooFilter {
  private val MaxKicks = 500
  private val StashCap = 64

  /** splitmix64 finalizer — the same deterministic mixing discipline as
    * the sampling gates; no seeds, no wall-clock. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def fingerprint(key: Long): Short = {
    val h = mix(key ^ 0xC0FFEE1234567890L)
    val fp = (h & 0xffffL).toShort
    if (fp == 0) 1.toShort else fp
  }

  private def index(key: Long, m: Int): Int = (mix(key).toInt) & (m - 1)

  /** Geometry for an expected multiset size: 4-slot buckets at ≤0.84
    * nominal load (eviction walks stay short), power-of-two buckets. */
  def bucketsFor(expectedItems: Long): Int = {
    val wanted = math.max(16L, math.ceil(expectedItems / (4 * 0.84)).toLong)
    var m = 16
    while (m < wanted && m < (1 << 29)) m <<= 1
    m
  }

  def apply(expectedItems: Long): CuckooFilter = new CuckooFilter(bucketsFor(expectedItems))

  /** Build over a url_hash column: per-partition filters of the SAME
    * geometry (mergeable by fingerprint re-insert), tree-merged to the
    * driver. RDD treeAggregate because the accumulator is this custom
    * sketch. */
  def build(df: DataFrame, expectedItems: Long): CuckooFilter =
    buildWithBuckets(df, bucketsFor(expectedItems))

  /** Build at an EXPLICIT geometry — a delta merged into, or subtracted
    * from, the main sketch must match its bucket count. */
  def buildWithBuckets(df: DataFrame, m: Int): CuckooFilter = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select("url_hash").as[Long].rdd.treeAggregate(new CuckooFilter(m))(
      (f, k) => { f.insert(k); f },
      (a, b) => a.mergeInPlace(b))
  }
}
