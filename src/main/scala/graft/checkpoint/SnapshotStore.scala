package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Iceberg-emulating snapshot store (SURVEY.md §4 environment note:
  * no iceberg/delta/hudi jar ships in /opt/spark/jars, so table
  * semantics are emulated over Parquet directories with a JSON snapshot
  * log).
  *
  * Layout:
  *   root/data/v<N>/<table>/           parquet data per snapshot
  *   root/snapshots/v<N>.json          manifest (atomic rename commit)
  *
  * Manifest carries: version, parent lineage, per-table row counts,
  * per-table partition lineage (host-bucket → rows), and free-form
  * metrics — satisfying "checkpoints with per-partition lineage and
  * fetch/extract metrics so a killed run resumes exactly"
  * (BASELINE.json north_star). A snapshot is visible only once its
  * manifest rename lands, so a killed run resumes from the last complete
  * version; data for never-committed versions is orphaned and ignored.
  *
  * API:
  *   dataPath(v, name)        where a writer puts table `name` of version v
  *   write(spark, v, name, df, rows)  a plain parquet write → its TableMeta
  *   commit(v, tables, metrics)       publish the manifest; writes no data,
  *                                    counts nothing, runs no Spark job
  *   manifest / readTable / latestVersion   read side (views merge on read)
  *   expire / isExpired       retention: drop old data, keep manifests
  * A writer builds the TableMeta of each table it wrote (rows, lineage,
  * view kind), so the commit is only the atomic publish.
  *
  * The reference's own resume idiom is per-stage JSON file handoff
  * (/root/reference/RAGnificent/rag/pipeline.py:1193-1204) — this is its
  * table-native analogue, and the API keeps a drop-in path to real
  * Iceberg later. */
object SnapshotStore {
  /** `view = Some("explode_chunks")` marks a MERGE-ON-READ table: the
    * rows live nested inside the parquet at `path` (the results table)
    * and are exploded at read time. Writing the chunk rows flat per
    * round would double the round's largest write (measured: the chunks
    * rewrite cost ~as much as the whole extract at 32 cores) — the
    * Iceberg analogue is a MOR table whose data files are shared with
    * results and compacted only when a flat layout is actually needed
    * (the jsonl/export sinks). */
  final case class TableMeta(rows: Long, path: String, partitions: Map[String, Long] = Map.empty,
                             view: Option[String] = None)
  final case class Manifest(version: Int, parent: Int, tables: Map[String, TableMeta],
                            metrics: Map[String, Double])
}

final class SnapshotStore(val root: String) {
  import SnapshotStore._

  implicit private val fmts: Formats = DefaultFormats

  private def snapshotsDir: Path = Paths.get(root, "snapshots")
  private def manifestPath(v: Int): Path = snapshotsDir.resolve(s"v$v.json")

  def latestVersion: Option[Int] = {
    if (!Files.isDirectory(snapshotsDir)) return None
    val vs = Files.list(snapshotsDir).toArray.toSeq.map(_.toString)
      .flatMap { p =>
        val name = Paths.get(p).getFileName.toString
        if (name.startsWith("v") && name.endsWith(".json"))
          name.stripPrefix("v").stripSuffix(".json").toIntOption
        else None
      }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** `<root>/data/v<version>/<name>`: where a writer puts table `name`
    * of a version. */
  def dataPath(version: Int, name: String): String = s"$root/data/v$version/$name"

  /** Write `df` as table `name` of `version` and return its record. The
    * row count is the caller's when it knows it, else a count over the
    * written footers. */
  def write(spark: SparkSession, version: Int, name: String, df: DataFrame,
            rows: Option[Long] = None): TableMeta = {
    val path = dataPath(version, name)
    df.write.mode("overwrite").parquet(path)
    TableMeta(rows.getOrElse(spark.read.parquet(path).count()), path)
  }

  /** Publish version `version`: its manifest, written to a tmp file and
    * moved into place atomically, so a reader sees all of it or none.
    * The tables' data is already written; table paths under `root` are
    * recorded relative to it. */
  def commit(version: Int, tables: Map[String, TableMeta], metrics: Map[String, Double]): Unit = {
    Files.createDirectories(snapshotsDir)
    val manifest = Manifest(version, version - 1,
      tables.map { case (name, m) => name -> m.copy(path = m.path.stripPrefix(s"$root/")) }, metrics)
    val tmp = snapshotsDir.resolve(s".v$version.json.tmp")
    Files.writeString(tmp, Serialization.writePretty(manifest))
    Files.move(tmp, manifestPath(version), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A table path under `root` is recorded relative to it, so a copied
    * work dir reads its own files; callers see it resolved. */
  def manifest(version: Int): Manifest = {
    val m = JsonMethods.parse(Files.readString(manifestPath(version))).extract[Manifest]
    m.copy(tables = m.tables.view.mapValues(t =>
      if (Paths.get(t.path).isAbsolute) t else t.copy(path = s"$root/${t.path}")).toMap)
  }

  /** Time-travel read of a table at a given snapshot (merge-on-read for
    * view tables). A caller that knows the schema the table was written
    * with passes it, and the read runs no schema-inference job. */
  def readTable(spark: SparkSession, version: Int, name: String,
                schema: Option[StructType] = None): DataFrame = {
    val meta = manifest(version).tables(name)
    meta.view match {
      case Some(kind) => readView(spark, meta.path, kind)
      case None => schema.fold(spark.read)(spark.read.schema).parquet(meta.path)
    }
  }

  private def readView(spark: SparkSession, srcPath: String, kind: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    kind match {
      case "explode_chunks" =>
        spark.read.parquet(srcPath)
          .select(explode(col("chunks")).as("c"), col("round"))
          .select("c.*", "round")
      // the per-round `visited` table (scheduled ∪ robots-denied rows)
      // serves both bookkeeping projections — writing them as separate
      // tables would be two extra write jobs per round of pure latency
      case "seen_from_visited" =>
        spark.read.parquet(srcPath).select("url_hash", "url")
      case "trace_from_visited" =>
        spark.read.parquet(srcPath).filter(col("rank").isNotNull)
          .select("round", "host", "rank", "url")
      // a round that assigned the next epoch at commit time has no carry
      // rows; the schema is the crawl frontier's (kept readable for
      // resume without writing an empty parquet table per round)
      case "empty_frontier" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "url STRING, url_hash BIGINT, host STRING, depth INT, priority DOUBLE"))
      case other => throw new IllegalArgumentException(s"unknown view kind: $other")
    }
  }

  private def expiredMarker(v: Int): Path = snapshotsDir.resolve(s"v$v.expired")

  def isExpired(version: Int): Boolean = Files.exists(expiredMarker(version))

  /** Expire old snapshot DATA while keeping the manifest log — the
    * Iceberg `expire_snapshots` analogue, and the reference cache's
    * eviction semantics (/root/reference/RAGnificent/core/cache.py:445-498:
    * entries past their window are deleted, stats survive). Deletes
    * `data/v<k>` for every version < `upToVersion` and stamps a
    * `v<k>.expired` marker; manifests (row counts, per-partition
    * lineage, metrics) stay readable for audit/time-travel metadata.
    * The caller picks `upToVersion` from retention logic — the crawl's
    * active seen-TTL window, a vector store's newest base — and the
    * latest version can never be expired (its tables carry the live
    * resume state). Returns the versions whose data was removed. */
  def expire(upToVersion: Int): Seq[Int] = {
    val latest = latestVersion.getOrElse(-1)
    require(upToVersion <= latest, s"cannot expire up to $upToVersion: latest is $latest")
    (0 until upToVersion).flatMap { v =>
      if (!Files.exists(manifestPath(v)) || isExpired(v)) None
      else {
        graft.util.LocalFs.deleteRecursively(Paths.get(root, "data", s"v$v"))
        Files.writeString(expiredMarker(v), "")
        Some(v)
      }
    }
  }
}
