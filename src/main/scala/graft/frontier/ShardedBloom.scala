package graft.frontier

import java.io.{BufferedInputStream, BufferedOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Hash-range-sharded URL-seen Bloom sketch — the 10^10 design point for
  * J1/A8 (SURVEY §2.4): at 9 bits/key and 10^10 seen urls a single Bloom
  * is ~11 GB, too big to broadcast to every executor. Shard the key space
  * by `pmod(url_hash, S)` instead: each shard's sketch lives as a file in
  * shared storage (DFS on a cluster; local FS here), and the membership
  * pass repartitions the probe side by shard so each TASK loads only the
  * shards present in its partition (≈ S/P of the total bits, lazily,
  * cached per task). No driver or single-executor materialization of the
  * full sketch ever happens.
  *
  * Correctness contract is identical to the in-memory sketch's
  * ([[SeenIndex]]): the sketch only PREFILTERS — "definitely new"
  * rows skip the exact anti-join, "maybe seen" rows are confirmed by the
  * exact left_anti backstop, so a false positive costs a join probe,
  * never a wrong result, and false negatives cannot occur because every
  * committed url_hash is added to its shard before the next round reads
  * it (CrawlParitySpec runs the crawl with sharding forced on and proves
  * the trace unchanged).
  *
  * Durability: shard IO goes through the Hadoop FileSystem API, so the
  * SAME code addresses the local FS in this sandbox and HDFS/S3A on a
  * cluster (`dir` may carry any supported scheme; scheme-less paths
  * resolve against fs.defaultFS).
  *
  * Publish protocol — GENERATION-FENCED, never-overwriting. Each `add`
  * call gets a monotonically increasing generation number (driver-side:
  * max existing gen + 1); every task attempt publishes its shard to a
  * NEW file `shard_<i>.g<gen>.<attempt>.bloom` via an attempt-unique tmp
  * + rename, and readers pick the max-(gen, attempt) file per shard.
  * This closes two holes of a fixed-name replace scheme:
  *   1. zombie attempts: a speculative/retried task that outlives its
  *      stage and wakes up AFTER a later add() committed can only
  *      publish a file tagged with its OWN (older) generation, which
  *      readers ignore — it can never clobber a newer sketch with stale
  *      bits (a Bloom false negative, the one failure this module must
  *      not have);
  *   2. the replace window: rename targets are unique, so there is no
  *      delete-then-rename gap in which a shard transiently has no file
  *      (which a reader would interpret as "definitely new").
  * Rename atomicity therefore only needs to hide PARTIAL files, which
  * holds on HDFS and local FS; on S3A (rename = copy, non-atomic) the
  * tmp would be visible mid-copy, so there a real deployment should
  * point `dir` at an HDFS/consistent-rename store — the fence logic
  * itself is scheme-agnostic. Superseded generations are pruned at the
  * next add() (keeping one prior gen so an in-flight reader's listing
  * never dangles); concurrent add() calls on one store are not
  * supported (merges are read-modify-write — callers already order
  * rounds sequentially). */
object ShardedBloom {

  final case class Shards(dir: String, nShards: Int, itemsPerShard: Long, fpp: Double)

  def shardOf(n: Int): Column = pmod(col("url_hash"), lit(n.toLong)).cast("int")

  private def fsFor(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(new Configuration()), p)
  }

  // shard_<i>.g<gen>.<attempt>.bloom — gen zero-padded so lexical = numeric order
  private val ShardFileRe = """shard_(\d{5})\.g(\d{12})\.([^.]+)\.bloom""".r

  private def shardFileName(i: Int, gen: Long, attempt: String) =
    f"shard_$i%05d.g$gen%012d.$attempt.bloom"

  private def attemptTag(): String = Option(org.apache.spark.TaskContext.get())
    .map(tc => s"a${tc.taskAttemptId()}")
    .getOrElse(s"d${java.util.concurrent.ThreadLocalRandom.current().nextLong(Long.MaxValue)}")

  /** (shard → winning file, max generation present). Winner per shard =
    * max (gen, attempt-tag) — attempts of one generation carry identical
    * deltas, so the tag tiebreak is only for determinism. */
  private def listShards(fs: FileSystem, root: Path): (Map[Int, Path], Long) = {
    if (!fs.exists(root)) return (Map.empty, -1L)
    val best = scala.collection.mutable.Map.empty[Int, (Long, String, Path)]
    var maxGen = -1L
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case ShardFileRe(i, g, a) =>
          val (shard, gen) = (i.toInt, g.toLong)
          maxGen = math.max(maxGen, gen)
          val cur = best.get(shard)
          if (cur.forall(c => gen > c._1 || (gen == c._1 && a > c._2)))
            best(shard) = (gen, a, st.getPath)
        case _ => // tmp or foreign file
      }
    }
    (best.view.mapValues(_._3).toMap, maxGen)
  }

  private def readShard(fs: FileSystem, f: Path): BloomFilter = {
    val in = new BufferedInputStream(fs.open(f))
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Publish to a unique, generation-tagged destination — the rename can
    * never collide, so no replace fallback exists. */
  private def writeShard(fs: FileSystem, dir: String, i: Int, gen: Long, bf: BloomFilter): Unit = {
    val f = new Path(dir, shardFileName(i, gen, attemptTag()))
    val tmp = new Path(f.getParent, s".${f.getName}.tmp")
    val out = new BufferedOutputStream(fs.create(tmp, true))
    try bf.writeTo(out) finally out.close()
    if (!fs.rename(tmp, f)) fs.delete(tmp, false) // dest unique: rename only fails on FS error
  }

  /** Prune superseded files PER SHARD: keep the two newest GENERATIONS
    * present for the shard — every attempt file of each — as a grace
    * window for readers whose listing predates this add (a shard that
    * received no rows for many rounds keeps its only file — pruning is by
    * per-shard generation rank, never by global generation). Keeping whole
    * generations rather than the top-2 (gen, attempt)-ranked FILES is
    * load-bearing: under task retry/speculation the winning generation can
    * have several attempt files, and a file-rank-2 cut would then delete
    * the prior generation — the exact file an in-flight reader may have
    * pinned. Attempt counts per generation are small (retries), so the
    * window stays O(1) files. Stale tmps (attempts that died pre-rename)
    * below the shard's winner generation go too. */
  private def prune(fs: FileSystem, root: Path): Unit = {
    val byShard = scala.collection.mutable.Map.empty[Int, List[(Long, String, Path)]]
    val tmps = scala.collection.mutable.ListBuffer.empty[(Int, Long, Path)]
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case ShardFileRe(i, g, a) =>
          byShard(i.toInt) = (g.toLong, a, st.getPath) :: byShard.getOrElse(i.toInt, Nil)
        case ShardTmpRe(i, g) => tmps += ((i.toInt, g.toLong, st.getPath))
        case _ =>
      }
    }
    val winnerGen = scala.collection.mutable.Map.empty[Int, Long]
    byShard.foreach { case (shard, files) =>
      val gens = files.map(_._1).distinct.sorted.reverse // newest generation first
      winnerGen(shard) = gens.head
      val keep = gens.take(2).toSet
      files.foreach { case (g, _, p) => if (!keep.contains(g)) fs.delete(p, false) }
    }
    tmps.foreach { case (shard, g, p) =>
      if (winnerGen.get(shard).exists(g < _)) fs.delete(p, false)
    }
  }

  private val ShardTmpRe = """\.shard_(\d{5})\.g(\d{12})\.[^.]+\.bloom\.tmp""".r

  /** Remove all shard files (used when rebuilding on resume). */
  def clear(dir: String): Unit = {
    val (fs, root) = fsFor(dir)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
  }

  /** Add `delta` (url_hash) into the shard files, creating them on first
    * use. Distributed: rows are repartitioned by shard, each task builds
    * the delta sketch for the shards it holds, merges the current
    * max-generation file (same capacity/fpp → compatible bit arrays) and
    * publishes at THIS call's generation. The merge-source listing is
    * pinned driver-side before the job, so every attempt — including a
    * zombie from this call — merges the same base and publishes
    * equivalent bytes; attempts of OLDER add() calls publish under older
    * generations that readers ignore. Shard ownership is disjoint across
    * tasks (hash partitioning sends ALL rows of a shard to one
    * partition). */
  def add(delta: DataFrame, shards: Shards): Unit = {
    val Shards(dir, n, cap, fpp) = shards
    val (fs0, root) = fsFor(dir)
    fs0.mkdirs(root)
    val (bestFiles, maxGen) = listShards(fs0, root)
    val gen = maxGen + 1
    val mergeSrc: Map[Int, String] = bestFiles.view.mapValues(_.toString).toMap
    delta.select(col("url_hash"), shardOf(n).as("shard"))
      .repartition(n, col("shard"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val perShard = scala.collection.mutable.Map.empty[Int, BloomFilter]
        rows.foreach { r =>
          val bf = perShard.getOrElseUpdate(r.getInt(1), BloomFilter.create(cap, fpp))
          bf.putLong(r.getLong(0))
        }
        if (perShard.nonEmpty) {
          val (fs, _) = fsFor(dir)
          perShard.foreach { case (i, bf) =>
            mergeSrc.get(i).foreach(p => bf.mergeInPlace(readShard(fs, new Path(p))))
            writeShard(fs, dir, i, gen, bf)
          }
        }
      }
    prune(fs0, root)
  }

  /** Split-path seen filter against the shard files: [[SeenIndex.antiJoin]]
    * with a shard-file probe. The probe side is repartitioned by shard,
    * and each task lazily loads + caches only its shards' sketches (the
    * probe is nondeterministic, so the filter stays above the
    * repartition). Rows of hashes with no shard file yet are definitely
    * new. */
  def notSeen(frontier: DataFrame, seenExact: DataFrame, shards: Shards): DataFrame = {
    val Shards(dir, n, _, _) = shards
    val probe = new ShardProbe(dir)
    val maybeSeen = udf((shard: Int, h: Long) => probe.mightContain(shard, h)).asNondeterministic()
    SeenIndex.antiJoin(frontier.repartition(n, shardOf(n)), seenExact, "url_hash",
      Some(maybeSeen(shardOf(n), col("url_hash"))))
      .select(frontier.columns.map(col): _*)
  }

  /** One task's view of the shard files (each task deserializes its own):
    * one listing resolves each shard's max-generation file, read on
    * first use. */
  private final class ShardProbe(dir: String) extends Serializable {
    @transient private lazy val (fs, root) = fsFor(dir)
    @transient private lazy val files = listShards(fs, root)._1
    @transient private lazy val loaded = scala.collection.mutable.Map.empty[Int, Option[BloomFilter]]
    def mightContain(shard: Int, h: Long): Boolean =
      loaded.getOrElseUpdate(shard, files.get(shard).map(readShard(fs, _))).exists(_.mightContainLong(h))
  }
}
