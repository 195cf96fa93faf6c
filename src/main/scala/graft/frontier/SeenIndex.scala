package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.checkpoint.SnapshotStore

/** The crawl's URL-seen set (J1/A8): the one place that knows how it is
  * kept. The set is the window of per-round seen deltas (each round's
  * `visited` table, append semantics — a full rewrite per round would be
  * quadratic in crawl size), read as one flat multi-path scan; under a
  * seen TTL (cache.py:211-311 recrawl semantics) a round reads only the
  * deltas of its last ttl+1 rounds, so an expired url blocks nothing and
  * a link-rediscovery re-fetches it.
  *
  * In front of the exact anti-join sits an approximate-membership
  * sketch, engaged once the window outgrows `threshold`: the
  * [[CuckooFilter]] in memory, broadcast into the filter, or — the 10^10
  * path, `Config.bloomShards` — hash-range [[ShardedBloom]] files that
  * cover every delta from round 0 (a shard gap would be a false negative
  * = a re-crawl). The cuckoo grows by a geometric rebuild and retires the
  * deltas that leave the TTL window by deletion, so it stays tight
  * through an arbitrarily long TTL crawl. Either sketch is a prefilter
  * only: the trace is the exact anti-join's.
  *
  * An immutable value for one round: `add` and `expire` return the next
  * index and never mutate a sketch a running plan may hold (they work on
  * a copy), so `add` can run on another thread while the round's
  * next-epoch assign still reads the previous index. The round's window
  * relation is built once, by `open` or by the `add` that ends the
  * previous round, so `notSeen` lists no delta files. */
final case class SeenIndex private (
    spark: SparkSession,
    ttl: Option[Int],
    threshold: Long,
    round: Int, // the round this index serves
    deltas: Vector[SeenIndex.Delta], // the retained rounds, oldest first
    window: DataFrame, // the (url_hash, url) rows round `round` treats as seen
    shards: Option[ShardedBloom.Shards],
    cuckoo: Option[CuckooFilter],
    capacity: Long,
    // rounds whose deltas are already absent from the cuckoo sketch
    // (deleted, or left out by a rebuild from a TTL window)
    deletedThrough: Int,
    expiredDeletes: Long,
    expiryRebuilds: Long) {
  import SeenIndex._

  private def activeAt(r: Int): Vector[Delta] =
    ttl.fold(deltas)(t => deltas.filter(d => r - d.round <= t))

  private def rowsAt(r: Int): Long = activeAt(r).map(_.rows).sum

  private def read(ds: Seq[Delta]): DataFrame =
    if (ds.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), deltaSchema)
    else spark.read.schema(deltaSchema).parquet(ds.map(_.path): _*)

  /** This index moved to round `r`, with that round's window. */
  private def at(r: Int): SeenIndex =
    copy(round = r, window = read(activeAt(r)).select("url_hash", "url"))

  /** The (url_hash, url) rows round `r` treats as seen. */
  private def seenAt(r: Int): DataFrame = if (r == round) window else at(r).window

  /** The url_hash rows of the deltas of round `v` and later. */
  def seenSince(v: Int): DataFrame = read(deltas.filter(_.round >= v)).select("url_hash")

  /** Rows of `df` (with url_hash) that this round has not seen. `except`
    * (url_hash) lifts urls out of the blocking set — adaptive recrawl's
    * due urls; the sketch may still hold them, which only sends them to
    * the exact join. */
  def notSeen(df: DataFrame, except: Option[DataFrame] = None): DataFrame = {
    val exact = except.fold(window)(e => window.join(e, Seq("url_hash"), "left_anti"))
    shards match {
      case Some(sh) => ShardedBloom.notSeen(df, exact, sh)
      case None =>
        val maybe = cuckoo.map { cf =>
          val b = spark.sparkContext.broadcast(cf)
          udf((h: Long) => b.value.mightContain(h)).apply(col("url_hash"))
        }
        antiJoin(df, exact, "url_hash", maybe)
    }
  }

  /** The index for the next round, after this round committed its delta
    * of `rows` rows at `path`. The cuckoo merges the delta's sketch into a
    * copy of the published one, or rebuilds from the window when it would
    * pass half its capacity. */
  def add(path: String, rows: Long): SeenIndex = {
    val next = copy(deltas = deltas :+ Delta(round, path, rows)).at(round + 1)
    val n = next.rowsAt(round)
    lazy val delta = read(Seq(next.deltas.last))
    shards match {
      case Some(sh) => ShardedBloom.add(delta, sh); next
      case None if n <= threshold => next
      case None if cuckoo.isEmpty || n > capacity / 2 => next.rebuilt(round)
      case None =>
        val cf = cuckoo.get.copySketch()
        cf.mergeInPlace(CuckooFilter.buildWithBuckets(delta, cf.numBuckets))
        next.copy(cuckoo = Some(cf))
    }
  }

  /** The cuckoo sketch built from round `r`'s window. */
  private def rebuilt(r: Int): SeenIndex = {
    val cap = math.max(rowsAt(r) * 4, capacity)
    copy(capacity = cap, cuckoo = Some(CuckooFilter.build(seenAt(r), cap)),
      deletedThrough = ttl.fold(deletedThrough)(t => r - t - 1))
  }

  /** This index with the deltas that left the TTL window dropped from
    * the cuckoo sketch (the window is already without them): one sketch of
    * them, built on executors at the same geometry, is subtracted from a
    * copy of the published sketch. Run before retention drops their
    * files. A missing file, an entry not found (bookkeeping drift) or a
    * saturated sketch rebuilds from the window instead; either way no
    * false negative can arise, since only entries of rounds outside the
    * exact window are removed. */
  def expire(): SeenIndex = (cuckoo, ttl) match {
    case (Some(published), Some(t)) =>
      val leaving = deltas.filter(d => d.round > deletedThrough && round - d.round > t)
      if (leaving.isEmpty) this
      else {
        val cf = published.copySketch()
        val removed =
          if (cf.saturated || !leaving.forall(d => new java.io.File(d.path).exists())) None
          else cf.subtract(CuckooFilter.buildWithBuckets(read(leaving), cf.numBuckets))
        val next = removed match {
          case Some(n) => copy(cuckoo = Some(cf), expiredDeletes = expiredDeletes + n)
          case None => rebuilt(round).copy(expiryRebuilds = expiryRebuilds + 1)
        }
        next.copy(deletedThrough = math.max(next.deletedThrough, round - t - 1))
      }
    case _ => this
  }

  /** Manifest metrics: cumulative entries the expiry deleted and its
    * fallback rebuilds (the proof that deletes, not the safety net,
    * carried expiry). The sharded path deletes nothing and has none. */
  def counters: Map[String, Double] =
    if (shards.isDefined) Map.empty
    else Map("cuckoo_expired_deletes" -> expiredDeletes.toDouble,
      "cuckoo_expiry_rebuilds" -> expiryRebuilds.toDouble)
}

object SeenIndex {

  /** One round's seen delta: its `visited` table. */
  final case class Delta(round: Int, path: String, rows: Long)

  private val deltaSchema =
    StructType.fromDDL("round INT, host STRING, rank INT, url STRING, url_hash BIGINT")

  /** The seen set for round `round` of the crawl in `store`: the deltas
    * of every retained earlier round, the sketch over the window
    * (sharded files rebuilt from it on every open — a kill between
    * commit and a shard add could otherwise lose a delta), and the
    * cumulative expiry counters of the last manifest. */
  def open(spark: SparkSession, store: SnapshotStore, round: Int, ttl: Option[Int],
           threshold: Long, bloomShards: Option[Int]): SeenIndex = {
    val ds = (0 until round).filterNot(store.isExpired).map { v =>
      val t = store.manifest(v).tables("seen_delta")
      Delta(v, t.path, t.rows)
    }.toVector
    val last = if (round == 0) Map.empty[String, Double] else store.manifest(round - 1).metrics
    def counter(k: String): Long = last.getOrElse(k, 0.0).toLong
    val empty = SeenIndex(spark, ttl, threshold, round, ds, spark.emptyDataFrame, None, None, 0L,
      ttl.fold(-1)(t => round - t - 1),
      counter("cuckoo_expired_deletes"), counter("cuckoo_expiry_rebuilds")).at(round)
    val n = empty.rowsAt(round)
    val base = empty.copy(capacity = math.max(threshold * 8, n * 4).max(1024L))
    bloomShards match {
      case Some(s) =>
        val sh = ShardedBloom.Shards(s"${store.root}/bloom_shards", s,
          itemsPerShard = math.max(1024L, base.capacity / s), fpp = 0.03)
        ShardedBloom.clear(sh.dir)
        if (n > 0) ShardedBloom.add(base.seenAt(round), sh)
        base.copy(shards = Some(sh))
      case None if n > threshold => base.rebuilt(round)
      case None => base
    }
  }

  /** Split-path anti-join: with a membership test `maybeSeen`, the rows
    * it rules out are definitely new and skip the exact `left_anti`
    * against `seen` on `key`; only the maybe-seen rows pay it. A false
    * positive costs an exact probe, never a wrong row. */
  def antiJoin(df: DataFrame, seen: DataFrame, key: String, maybeSeen: Option[Column]): DataFrame =
    maybeSeen match {
      case Some(m) =>
        df.filter(!m).unionByName(df.filter(m).join(seen.select(key), Seq(key), "left_anti"))
      case None => df.join(seen.select(key), Seq(key), "left_anti")
    }
}
