package graft.serving

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Versioned parquet publication for foreachBatch-maintained ADS
  * stores — the streaming-deployment store discipline behind
  * [[QueryServer.bindStore]] (SURVEY §3.3): each micro-batch PUBLISHES
  * its recomputed ADS frame as `<root>/v=<version>/` and readers
  * resolve the highest `_SUCCESS`-marked version, so an HTTP request
  * never observes a half-written store. A plain parquet
  * `mode("overwrite")` of one fixed path cannot give that guarantee —
  * it deletes before it writes, and a concurrent read catches the gap.
  * The reference gets the same effect from ClickHouse/Phoenix upserts
  * (`gmall-realtime`'s ClickHouseUtil sink); on a parquet/lakehouse
  * store the version pointer is the equivalent.
  *
  * Scale shape: ADS frames are (days × channel-like keys) — megabytes
  * at any corpus scale — so a full rewrite per micro-batch is the
  * right trade; `keep` bounds disk at two versions (the newest plus
  * one for reads in flight), pruned only after the new version's
  * `_SUCCESS` exists.
  *
  * In-process handoff: `publish` collects the frame once (the bound
  * above is what makes that driver-safe), writes the version from
  * those rows as one parquet file and, once the rename has committed
  * it, keeps the rows keyed by (qualified root, version). A
  * [[readVersion]] or [[read]] of such a version in the same JVM is a
  * local relation over those rows, with the schema a parquet read
  * reports (every field nullable): no file listing, no footer job, no
  * scan, so a streaming leg's merge of the stored frame and the
  * server's load of a new version run no Spark job. At most `keep`
  * versions per root are kept, dropped with their directories by the
  * prune. Any other process, and this JVM for a root it did not
  * publish, reads the parquet as before; the directory stays the
  * store of record.
  */
object AdsStore {

  /** Versions this JVM committed: (qualified root, version) → (schema
    * as a parquet read reports it, rows). */
  private val published = TrieMap[(String, Long), (StructType, Array[Row])]()

  /** Test probe: the versions of `root` held in process, ascending. */
  private[graft] def inProcessVersions(spark: SparkSession, root: String): Seq[Long] = {
    val q = qualified(spark, root)
    published.keys.collect { case (r, n) if r == q => n }.toSeq.sorted
  }

  /** `t` with every field, element and value nullable, as a file
    * source reads it back. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def qualified(spark: SparkSession, root: String): String = {
    val p = new Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  /** Bound on how many successive version candidates a publisher will
    * try to claim before failing loudly — only reachable when MANY
    * writers race one root, which is outside any sane deployment. */
  val MaxClaimAttempts = 64

  /** Write `df` as a NEW version under `root`, then prune versions
    * strictly older than the newest `keep` committed ones. Returns the
    * version actually written: `version` normally, the next free
    * number when `version` is not strictly newer — a restarted
    * pipeline whose batch ids reset (fresh checkpoint) or a retried
    * batch must NEVER `overwrite` a committed `v=` directory in place,
    * because that deletes before it writes and a concurrent read would
    * catch the gap this class exists to close. Readers therefore
    * always observe monotonically increasing versions.
    *
    * CONCURRENT publishers (r13 verdict task 4): the bare
    * read-max-then-write scan races — two publishers could pick the
    * same number and co-write one directory. Each candidate version is
    * therefore CLAIMED first via an exclusive marker-file create
    * (`v=<n>.claim`): atomic at the namenode on HDFS-like stores,
    * O_EXCL via java.nio on `file://` (Hadoop's local `create` has a
    * check-then-create window). Exactly one racer wins a number; the
    * loser bumps to the next free number and re-claims, so concurrent
    * publishers commit DISTINCT versions and no update is lost —
    * AdsStoreSpec hammers this with racing threads. A claim whose
    * publisher crashed just skips that number (claims below the keep
    * horizon are pruned with their versions).
    *
    * COMMIT is tmp+atomic-rename, the same protocol as
    * `Memo.materialize` (r16 verdict task 2): the frame is written to
    * a publisher-private `v=<n>.tmp.<pid>.<tid>` directory and then
    * renamed to `v=<n>` in one filesystem operation, so a VISIBLE
    * `v=` directory is fully written by construction (`_SUCCESS`
    * included). The r16 hammer caught the direct-write protocol's
    * hole: a racing publisher's in-progress `v=` directory sat
    * visible between task commit and `_SUCCESS` creation, and a
    * concurrent prune whose grace guard failed OPEN (an unreadable
    * claim mtime read as infinitely stale) reaped it mid-write,
    * failing the live publisher's job. Under tmp+rename that window
    * does not exist — prune can only ever see committed versions,
    * claim markers, and tmp dirs, and it treats each accordingly.
    *
    * Pruning deletes only names this class writes, STRICTLY OLDER
    * than the keep horizon — never anything at or above it — so a
    * racing publisher's fresher commit can never be pruned by a
    * slightly-stale keep-set. Committed versions (and their claim
    * markers) prune freely; an uncommitted claim is presumed a LIVE
    * racer until [[ClaimGraceMs]], and the guard FAILS CLOSED — a
    * claim whose mtime cannot be read counts as fresh, not stale.
    * Crashed publishers' tmp dirs are reaped by directory mtime once
    * older than the same grace, keeping disk bounded. */
  def publish(df: DataFrame, root: String, version: Long, keep: Int = 2): Long = {
    val spark = df.sparkSession
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qroot = fs.makeQualified(p).toString
    val rows = df.collect()
    fs.mkdirs(p)
    val committed = versions(spark, root)
    val start = committed.lastOption match {
      case Some(latest) if version <= latest => latest + 1
      case _ => version
    }
    val v = Iterator.range(0, MaxClaimAttempts).map(start + _)
      .find(cand => claim(fs, p, cand))
      .getOrElse(throw new IllegalStateException(
        s"AdsStore.publish: could not claim a version under $root after " +
          s"$MaxClaimAttempts attempts from $start — an unreasonable number " +
          "of concurrent publishers is racing this root"))
    val tmp = new Path(p, s"v=$v.tmp.${ProcessHandle.current().pid()}." +
      Thread.currentThread().getId)
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    // Rename.NONE semantics (throws if the destination exists — the
    // claim made a duplicate impossible, so a throw here is a real
    // protocol violation worth failing loudly on, not a silent
    // move-inside-destination the way FileSystem.rename resolves it)
    org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new Path(p, s"v=$v"))
    published.put((qroot, v), (nullable(df.schema).asInstanceOf[StructType], rows))
    // prune strictly below the keep horizon (committed versions only
    // define the horizon; the just-written v is committed by now).
    // The committed set is SNAPSHOT once before any deletion so a
    // version dir and its claim marker get one atomic decision — a
    // per-entry _SUCCESS probe would race this same pass's deletion
    // of the dir (listing order decided whether the claim survived)
    val commNow = (versions(spark, root) :+ v).distinct.sorted
    val keepMin = commNow.takeRight(keep).min
    val committedSet = commNow.toSet
    val now = System.currentTimeMillis()
    val entries = fs.listStatus(p).toSeq
    // claim mtimes from the SAME listing (no per-entry re-stat): the
    // grace decision for a version and the deletion of its claim file
    // must not race each other within this pass
    val claimAt: Map[Long, Long] = entries.flatMap { s =>
      val nm = s.getPath.getName
      if (nm.endsWith(".claim"))
        canonicalVersion(nm.stripSuffix(".claim")).map(_ -> s.getModificationTime)
      else None
    }.toMap
    entries.foreach { s =>
      val name = s.getPath.getName
      // canonical v=<long> dirs and their claim markers below the
      // horizon — exactly the names this class commits; "v=007",
      // "v=+5", "v=backup" were not written by it and are left alone
      val prunable = prunableVersion(name).exists { n =>
        n < keepMin && (
          committedSet(n) ||
            // fail CLOSED: a missing/unreadable claim mtime counts as
            // FRESH (getOrElse(now)), never as infinitely stale — the
            // r16 failure mode was getOrElse(0L) reaping a live racer
            now - claimAt.getOrElse(n, now) > ClaimGraceMs)
      }
      // a crashed publisher's tmp dir: reap once its mtime says the
      // writer must be long dead (a publish is seconds, grace is
      // minutes); a LIVE racer's tmp keeps a fresh mtime as the
      // parquet committer moves task output into it
      val orphanTmp = tmpVersion(name).exists(_ < keepMin) &&
        now - s.getModificationTime > ClaimGraceMs
      if (prunable || orphanTmp) fs.delete(s.getPath, true)
    }
    published.filterInPlace { case ((r, n), _) => r != qroot || n >= keepMin }
    v
  }

  /** How long an uncommitted claim below the keep horizon is presumed
    * to be a LIVE concurrent publish (a publish is seconds; a claim
    * this stale is a crashed publisher's leftover, safe to reap). */
  val ClaimGraceMs: Long = 15L * 60 * 1000

  /** Atomically create the exclusive claim marker for `cand`; true iff
    * this caller won the number. */
  private def claim(fs: FileSystem, root: Path, cand: Long): Boolean = {
    val marker = new Path(root, s"v=$cand.claim")
    if (fs.getScheme == "file") {
      // Hadoop's RawLocalFileSystem.create(overwrite=false) is
      // check-then-create; java.nio createFile is O_CREAT|O_EXCL
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(marker.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(marker, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** Some(n) iff `name` is a canonical version dir `v=<long>` or its
    * claim marker `v=<long>.claim`. */
  private def prunableVersion(name: String): Option[Long] =
    canonicalVersion(name.stripSuffix(".claim"))

  /** Some(n) iff `name` is an in-progress commit dir
    * `v=<long>.tmp.<pid>.<tid>` — publish's OWN tmp naming, the only
    * non-canonical shape it will ever reap (and only by mtime). */
  private def tmpVersion(name: String): Option[Long] =
    "^v=(\\d+)\\.tmp\\.\\d+\\.\\d+$".r.findFirstMatchIn(name)
      .flatMap(m => canonicalVersion("v=" + m.group(1)))

  /** Some(n) iff `name` is exactly the `v=<long>` form this class
    * writes (round-trip check rejects leading zeros/signs). */
  private def canonicalVersion(name: String): Option[Long] =
    name.stripPrefix("v=").toLongOption.filter(n => name == s"v=$n")

  /** Committed (`_SUCCESS`-marked) versions under `root`, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory)
      // canonical names only: a foreign committed "v=007" would list
      // as 7 but readVersion(7) resolves to the (absent) "v=7" dir
      .flatMap(s => canonicalVersion(s.getPath.getName))
      .filter(n => fs.exists(new Path(p, s"v=$n/_SUCCESS")))
      .sorted
  }

  /** Newest committed version number only — one listing, no DataFrame
    * construction (no parquet footer I/O); the serving hot path
    * resolves this per request and defers the actual read to a cache
    * miss. */
  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** One committed version's frame — the `v=` directory layout stays
    * private to this class. A version this JVM published is served
    * from its rows (see the handoff above). */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    published.get((qualified(spark, root), version)) match {
      case Some((schema, rows)) => spark.createDataFrame(rows.toSeq.asJava, schema)
      case None => spark.read.parquet(s"$root/v=$version")
    }

  /** The newest committed version's frame, with its version number —
    * None until the first publish commits. */
  def read(spark: SparkSession, root: String): Option[(Long, DataFrame)] =
    latestVersion(spark, root).map(v => (v, readVersion(spark, root, v)))
}
