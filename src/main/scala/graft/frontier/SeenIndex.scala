package graft.frontier

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * In front of the exact anti-join sits a cuckoo sketch, engaged once
  * the window outgrows `threshold`: `shards` hash-range [[CuckooFilter]]
  * files ([[CuckooShards]]; `Config.bloomShards`, 1 by default), one
  * version per round in `root`. The sketch grows by a geometric rebuild
  * and retires the deltas that leave the TTL window by deletion
  * (the sliding-window expiry of "A Learned Cuckoo Filter for AMQ over
  * Variable-sized Sliding Windows", SIGMOD'23), so it stays tight
  * through an arbitrarily long TTL crawl. It is a prefilter only: the
  * trace is the exact anti-join's.
  *
  * An immutable value for one round: `add` writes the next round's
  * version to a new directory and never touches the one this round's
  * plans probe, so it can run on another thread while the round's
  * next-epoch assign still reads this index. The round's window relation
  * is built once, by `open` or by the `add` that ends the previous
  * round, so `notSeen` lists no delta files. */
final case class SeenIndex private (
    spark: SparkSession,
    ttl: Option[Int],
    threshold: Long,
    shards: Int,
    root: String, // the sketch's versions, one directory each
    round: Int, // the round this index serves
    deltas: Vector[SeenIndex.Delta], // the retained rounds, oldest first
    window: DataFrame, // the (url_hash, url) rows round `round` treats as seen
    sketch: Option[String], // the version this round probes
    capacity: Long,
    // rounds whose deltas are already absent from the sketch (deleted,
    // or left out by a rebuild from a TTL window)
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

  /** The url_hash rows of the deltas of round `v` and later. */
  def seenSince(v: Int): DataFrame = read(deltas.filter(_.round >= v)).select("url_hash")

  /** Rows of `df` (with url_hash) that this round has not seen, passed
    * through `exchange`. `except` (url_hash) lifts urls out of the
    * blocking set — adaptive recrawl's due urls; the sketch may still
    * hold them, which only sends them to the exact join. A one-shard
    * sketch splits the rows above the exchange, so both branches read
    * its one shuffle; otherwise the filter runs below it, and seen rows
    * are not shuffled. */
  def notSeen(df: DataFrame, except: Option[DataFrame] = None,
              exchange: DataFrame => DataFrame = identity): DataFrame = {
    val exact = except.fold(window)(e => window.join(e, Seq("url_hash"), "left_anti"))
    sketch match {
      case Some(dir) if shards == 1 => CuckooShards.notSeen(exchange(df), exact, dir, shards)
      case Some(dir) => exchange(CuckooShards.notSeen(df, exact, dir, shards))
      case None => exchange(antiJoin(df, exact, "url_hash", None))
    }
  }

  /** The index for the next round, after this round committed its delta
    * of `rows` rows at `path`. One executor job writes the next version:
    * each shard merges the delta into this round's shard (or, past half
    * the capacity, is rebuilt from the window), then subtracts the deltas
    * that leave the TTL window, as one sketch of them at the same
    * geometry. A leaving delta whose file is gone, or a shard that cannot
    * subtract (saturation, bookkeeping drift), rebuilds the version from
    * the next round's window instead; either way no false negative can
    * arise, since only entries of rounds outside the exact window are
    * removed. Run before retention drops any delta file. */
  def add(path: String, rows: Long): SeenIndex = {
    val next = copy(deltas = deltas :+ Delta(round, path, rows)).at(round + 1)
    val n = next.rowsAt(round)
    if (n <= threshold) next.copy(sketch = None)
    else {
      val grow = sketch.isEmpty || n > capacity / 2
      val from = if (grow) next.rebuiltAt(round) else next
      val leaving = ttl.fold(Vector.empty[Delta])(t =>
        next.deltas.filter(d => d.round > from.deletedThrough && round + 1 - d.round > t))
      val swept = if (leaving.isEmpty) from else from.copy(deletedThrough = round - ttl.get)
      val merged =
        if (leaving.exists(d => !CuckooShards.exists(d.path))) None
        else swept.written(if (grow) next.activeAt(round) else Vector(next.deltas.last),
          leaving, if (grow) None else sketch)
      // a version that subtracts nothing always completes
      merged.getOrElse(swept.rebuiltAt(round + 1).copy(expiryRebuilds = expiryRebuilds + 1)
        .written(next.activeAt(round + 1), Nil, None).get).committed
    }
  }

  /** The capacity and deletion mark of a sketch rebuilt from round `r`'s
    * window. */
  private def rebuiltAt(r: Int): SeenIndex =
    copy(capacity = math.max(rowsAt(r) * 4, capacity),
      deletedThrough = ttl.fold(deletedThrough)(t => r - t - 1))

  /** This index probing a new version: `base` (None: an empty sketch of
    * this capacity) plus the deltas `added`, minus the deltas `removed`;
    * None when a shard could not subtract. */
  private def written(added: Seq[Delta], removed: Seq[Delta], base: Option[String]): Option[SeenIndex] = {
    val dir = CuckooShards.newVersion(root, round)
    val buckets = CuckooFilter.bucketsFor((capacity + shards - 1) / shards)
    CuckooShards.write(read((added ++ removed).distinct), dir, shards, buckets, base,
      added.map(_.round).toSet, removed.map(_.round).toSet)
      .map(k => copy(sketch = Some(dir), expiredDeletes = expiredDeletes + k))
  }

  /** This index with its version marked complete: the sidecar holds what
    * `open` needs to go on from it. */
  private def committed: SeenIndex = {
    sketch.foreach(CuckooShards.commit(_, Map("shards" -> shards.toLong, "capacity" -> capacity,
      "deleted_through" -> deletedThrough.toLong) ++ counters.map { case (k, v) => k -> v.toLong }))
    this
  }

  /** Deletes every sketch version but this index's: once the round that
    * probed the previous one is over, no plan reads it. */
  def dropSuperseded(): Unit = CuckooShards.dropAllBut(root, sketch)

  /** Manifest metrics: cumulative entries the expiry deleted and its
    * fallback rebuilds (the proof that deletes, not the safety net,
    * carried expiry). */
  def counters: Map[String, Double] =
    Map("cuckoo_expired_deletes" -> expiredDeletes.toDouble,
      "cuckoo_expiry_rebuilds" -> expiryRebuilds.toDouble)
}

object SeenIndex {

  /** One round's seen delta: its `visited` table. */
  final case class Delta(round: Int, path: String, rows: Long)

  private val deltaSchema =
    StructType.fromDDL("round INT, host STRING, rank INT, url STRING, url_hash BIGINT")

  /** The seen set for round `round` of the crawl in `store`: the deltas
    * of every retained earlier round and the sketch over the window with
    * `bloomShards` shards (1 by default). The version the last committed
    * round wrote is reused, counters included, when its sidecar has the
    * same shard count and it still holds every delta of the window;
    * otherwise the sketch is rebuilt from the window and the counters
    * read from the last manifest. */
  def open(spark: SparkSession, store: SnapshotStore, round: Int, ttl: Option[Int],
           threshold: Long, bloomShards: Option[Int]): SeenIndex = {
    val ds = (0 until round).filterNot(store.isExpired).map { v =>
      val t = store.manifest(v).tables("seen_delta")
      Delta(v, t.path, t.rows)
    }.toVector
    val last = if (round == 0) Map.empty[String, Double] else store.manifest(round - 1).metrics
    def counter(k: String): Long = last.getOrElse(k, 0.0).toLong
    val shards = bloomShards.getOrElse(1)
    val root = s"${store.root}/seen_sketch"
    val empty = SeenIndex(spark, ttl, threshold, shards, root, round, ds, spark.emptyDataFrame, None, 0L,
      ttl.fold(-1)(t => round - t - 1),
      counter("cuckoo_expired_deletes"), counter("cuckoo_expiry_rebuilds")).at(round)
    val n = empty.rowsAt(round)
    val reused = CuckooShards.committed(root, round).collect {
      case (dir, side) if side("shards") == shards &&
          empty.activeAt(round).forall(_.round > side("deleted_through")) =>
        empty.copy(sketch = Some(dir), capacity = side("capacity"),
          deletedThrough = side("deleted_through").toInt,
          expiredDeletes = side("cuckoo_expired_deletes"), expiryRebuilds = side("cuckoo_expiry_rebuilds"))
    }
    val index = reused.getOrElse {
      val base = empty.copy(capacity = math.max(threshold * 8, n * 4).max(1024L))
      if (n > threshold) base.rebuiltAt(round).written(base.activeAt(round), Nil, None).get.committed
      else base
    }
    index.dropSuperseded()
    index
  }

  /** Split-path anti-join: with a membership test `maybeSeen`, the rows
    * it rules out are definitely new and skip the exact `left_anti`
    * against `seen` on `key`; only the maybe-seen rows pay it. A false
    * positive costs an exact probe, never a wrong row. The crawl splits
    * a frontier plan's input rows just above its one host exchange
    * ([[notSeen]]), and the merge runs above the Union: both branches
    * read that shuffle, and the Union keeps its partitioning. (A split
    * of merged rows is pushed below the merge's aggregate and plans one
    * aggregate and Exchange per branch.) */
  def antiJoin(df: DataFrame, seen: DataFrame, key: String, maybeSeen: Option[Column]): DataFrame =
    maybeSeen match {
      case Some(m) =>
        df.filter(!m).unionByName(df.filter(m).join(seen.select(key), Seq(key), "left_anti"))
      case None => df.join(seen.select(key), Seq(key), "left_anti")
    }
}
