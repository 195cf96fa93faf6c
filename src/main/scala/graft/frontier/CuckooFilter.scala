package graft.frontier

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Partial-key cuckoo filter over 64-bit keys (Fan et al., "Cuckoo
  * Filter: Practically Better Than Bloom", CoNEXT'14) — the
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
  * bytes/key for a 3% Bloom) — deletion costs ~2× space. The seen set
  * at every scale is S of these, one per hash range of url_hash, each
  * stored as a file ([[CuckooShards]]). */
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
    !saturatedFlag && { insertFp(index(key, numBuckets), fingerprint(key)); true }

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

  /** Remove one entry per entry of `other` (same numBuckets required) —
    * the bulk form of [[delete]]: a stored (bucket, fingerprint) names
    * the same bucket pair `delete(key)` searches for its key, so
    * subtracting a sketch of keys equals deleting the keys one by one.
    * Returns the number of entries removed, or None when either filter
    * is saturated or an entry is not found; this filter is then partly
    * modified, and the caller discards it. */
  def subtract(other: CuckooFilter): Option[Long] = {
    require(other.numBuckets == numBuckets,
      s"cannot subtract cuckoo filters of different geometry ($numBuckets vs ${other.numBuckets})")
    if (saturatedFlag || other.saturatedFlag) return None
    var n = 0L
    if (other.forallEntries { (b, fp) => n += 1; deleteFp(b, fp.toShort) }) Some(n) else None
  }

  /** Store `fp` in bucket `i` or its alternate, evicting along a
    * deterministic walk of up to MaxKicks victims (starting from either
    * bucket) and stashing the last. */
  private def insertFp(i: Int, fp: Short): Unit = {
    if (tryPut(i, fp)) return
    val i2 = altIndex(i, fp)
    if (tryPut(i2, fp)) return
    var curI = if (nextBit()) i else i2
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

  /** The whole state — geometry, slots, stash, saturation and the
    * eviction walk's LCG — so a filter read back by [[CuckooFilter.readFrom]]
    * goes on exactly as this one would. */
  def writeTo(out: DataOutputStream): Unit = {
    out.writeInt(numBuckets)
    out.writeLong(lcg)
    out.writeBoolean(saturatedFlag)
    out.writeInt(stash.size)
    stash.foreach { case (b, fp) => out.writeInt(b); out.writeShort(fp) }
    val buf = java.nio.ByteBuffer.allocate(slots.length * 2)
    buf.asShortBuffer().put(slots)
    out.write(buf.array())
  }
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

  /** The filter [[CuckooFilter.writeTo]] wrote. */
  def readFrom(in: DataInputStream): CuckooFilter = {
    val m = in.readInt()
    val lcg = in.readLong()
    val saturated = in.readBoolean()
    val stash = List.fill(in.readInt())((in.readInt(), in.readShort()))
    val bytes = new Array[Byte](m * 8)
    in.readFully(bytes)
    val slots = new Array[Short](m * 4)
    java.nio.ByteBuffer.wrap(bytes).asShortBuffer().get(slots)
    new CuckooFilter(m, slots, stash, lcg, saturated)
  }
}

/** The files of the URL-seen sketch ([[SeenIndex]]). One version is S
  * [[CuckooFilter]]s, one per hash range `pmod(url_hash, S)`, each an
  * immutable file in a directory of the version's own, plus a sidecar of
  * the index's counters that is renamed into place last and so marks the
  * version complete. Every write gets a fresh directory (the round and a
  * random tag name it), so no path is ever written twice and a reader
  * may cache a shard by its path for good.
  *
  * At 10^10 seen urls the sketch is ~24 GB, too big to broadcast to
  * every executor or to hold on the driver: one executor job writes a
  * version, one task per shard, and a probing task loads only the shards
  * its rows touch. With S = 1 the probe loads the one file once per JVM.
  *
  * All IO goes through the Hadoop FileSystem API, so the same code
  * addresses the local FS here and HDFS on a cluster. A shard file
  * reaches its name by rename, so a reader never sees a partial one
  * (rename hides partial files on HDFS and the local FS; on S3A it is a
  * copy, so there the root belongs on a consistent-rename store). */
object CuckooShards {

  private val SidecarName = "_SIDECAR"

  // one per JVM: each new Configuration parses Hadoop's XML defaults again
  private lazy val hadoopConf = new Configuration()

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def shardFile(dir: String, i: Int): Path = new Path(dir, f"shard-$i%05d")

  private def shardOf(h: Long, shards: Int): Int = java.lang.Math.floorMod(h, shards.toLong).toInt

  private def read(f: Path): CuckooFilter = {
    val in = new DataInputStream(new BufferedInputStream(fs(f).open(f)))
    try CuckooFilter.readFrom(in) finally in.close()
  }

  /** Writes `bytes` to `f` through a uniquely named temporary file. */
  private def publish(f: Path, bytes: DataOutputStream => Unit): Unit = {
    val tmp = new Path(f.getParent, s"_tmp.${f.getName}.${java.util.UUID.randomUUID()}")
    val out = new DataOutputStream(new BufferedOutputStream(fs(f).create(tmp, true)))
    try bytes(out) finally out.close()
    if (!fs(f).rename(tmp, f)) fs(f).delete(tmp, false)
  }

  def exists(path: String): Boolean = { val p = new Path(path); fs(p).exists(p) }

  /** A fresh directory for a version of round `round` under `root`. */
  def newVersion(root: String, round: Int): String =
    s"$root/r$round-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Writes the shard files of version `dir`. Shard i starts from shard i
    * of version `base` (or, without one, empty at `buckets` buckets),
    * inserts the rows of `rows` (url_hash, round) whose round is in
    * `added`, then subtracts one sketch of the same geometry over the
    * rows whose round is in `removed`. One task per shard. Returns the
    * entries subtracted over all shards, or None when a shard could not
    * subtract (a saturated sketch, or an entry not found): that shard
    * writes no file, and the version stays incomplete. */
  def write(rows: DataFrame, dir: String, shards: Int, buckets: Int, base: Option[String],
            added: Set[Int], removed: Set[Int]): Option[Long] = {
    val counts = rows.select("url_hash", "round").rdd
      .map(r => (shardOf(r.getLong(0), shards), (r.getLong(0), r.getInt(1))))
      .partitionBy(new HashPartitioner(shards)) // a shard's key is its partition
      .mapPartitionsWithIndex { (i, it) =>
        val cf = base.fold(new CuckooFilter(buckets))(b => read(shardFile(b, i)))
        lazy val leaving = new CuckooFilter(cf.numBuckets)
        it.foreach { case (_, (h, r)) =>
          if (added(r)) cf.insert(h)
          if (removed(r)) leaving.insert(h)
        }
        val n = if (removed.isEmpty) Some(0L) else cf.subtract(leaving)
        if (n.isDefined) publish(shardFile(dir, i), cf.writeTo)
        Iterator(n)
      }.collect()
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** Marks version `dir` complete with its sidecar. */
  def commit(dir: String, sidecar: Map[String, Long]): Unit =
    publish(new Path(dir, SidecarName), _.write(
      sidecar.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes(UTF_8)))

  /** The complete version written for round `round` under `root`, with
    * its sidecar, if there is one. */
  def committed(root: String, round: Int): Option[(String, Map[String, Long])] = {
    val r = new Path(root)
    val named = if (!fs(r).exists(r)) Nil
      else fs(r).listStatus(r).toSeq.map(_.getPath).filter(_.getName.startsWith(s"r$round-"))
    named.map(d => new Path(d, SidecarName)).find(f => fs(f).exists(f)).map { f =>
      val in = fs(f).open(f)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (f.getParent.toString, text.linesIterator.map(_.split('=')).map(kv => kv(0) -> kv(1).toLong).toMap)
    }
  }

  /** Deletes every version under `root` but `keep`. */
  def dropAllBut(root: String, keep: Option[String]): Unit = {
    val r = new Path(root)
    val kept = keep.map(k => new Path(k).getName)
    if (fs(r).exists(r)) fs(r).listStatus(r).map(_.getPath)
      .filterNot(p => kept.contains(p.getName)).foreach(p => fs(p).delete(p, true))
  }

  /** Split-path seen filter against version `dir`: [[SeenIndex.antiJoin]]
    * with a per-task probe of the shard files. The probe is
    * nondeterministic to the optimizer, which keeps the split where it
    * is written: above `df`'s exchange, so both branches read one
    * shuffle, and out of the constraints inferred for the exact side.
    * With S > 1 the probe side is repartitioned by shard first, so a
    * task loads only the shards of the rows it holds. */
  def notSeen(df: DataFrame, exact: DataFrame, dir: String, shards: Int): DataFrame = {
    val probe = new Probe(dir, shards)
    val maybeSeen = udf((h: Long) => probe.mightContain(h)).asNondeterministic()
    SeenIndex.antiJoin(
      if (shards == 1) df else df.repartition(shards, pmod(col("url_hash"), lit(shards.toLong))),
      exact, "url_hash", Some(maybeSeen(col("url_hash"))))
  }

  /** One task's view of a version (each task deserializes its own): a
    * shard is fetched from [[Loaded]] on its first row. */
  private final class Probe(dir: String, shards: Int) extends Serializable {
    @transient private lazy val local = new Array[CuckooFilter](shards)
    def mightContain(h: Long): Boolean = {
      val i = shardOf(h, shards)
      if (local(i) == null) local(i) = Loaded(dir, shards, i)
      local(i).mightContain(h)
    }
  }

  /** The shards this JVM has read, by version directory: a path is never
    * rewritten, so a shard is read once per JVM. The two versions used
    * last stay (a round probes one, the next round the other). */
  private object Loaded {
    private final class Slot(f: Path) { lazy val filter: CuckooFilter = read(f) }
    private val versions = new java.util.LinkedHashMap[String, Array[Slot]](4, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Array[Slot]]): Boolean = size > 2
    }
    def apply(dir: String, shards: Int, i: Int): CuckooFilter =
      versions.synchronized(versions.computeIfAbsent(dir,
        d => Array.tabulate(shards)(j => new Slot(shardFile(d, j)))))(i).filter
  }
}
