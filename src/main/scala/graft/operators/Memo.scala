package graft.operators

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.{Column, DataFrame, MeasuredLeaf, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Shared per-(session, dir, name) DataFrame memoization — the batch
  * analog of the reference's shared DWD Kafka topics: each derived
  * frame is built once per session+dir and read by every downstream
  * query. Two backends, chosen per build by [[LevelConf]]:
  *  - a `StorageLevel` (default `MEMORY_AND_DISK`): a
  *    `localCheckpoint` ([[checkpointCounted]]). Consumers plan against
  *    one `LogicalRDD` leaf that reports what was stored (row count and
  *    block bytes), so the planner's broadcast threshold, not a hint,
  *    decides how a small memo joins. The CacheManager never sees the
  *    plan, so a named query whose output equals a memo frame still
  *    computes its own plan. The ContextCleaner frees the blocks once
  *    [[invalidate]] drops the frame.
  *  - `PARQUET`: written once under [[DirConf]], then read back; the
  *    file scan reports the file sizes.
  * One store for all operator modules, so a backfill invalidates every
  * frame derived from a dir with one call. Frames snapshot the parquet
  * at first access. */
private[graft] object Memo {
  private val memo = TrieMap[(SparkSession, String, String), DataFrame]()

  /** A lazy `localCheckpoint` of `df` at `level`, materialized by ONE
    * job that counts its rows and the rows matching `where` (an eager
    * checkpoint runs its own count and throws the value away). Returns
    * the leaf with measured statistics ([[MeasuredLeaf]]) and the
    * `where` count, so a loop tests convergence at no extra action.
    * The engine's one eager-checkpoint form: loop phases and frames a
    * query reads twice come through here too. */
  private[graft] def checkpointCounted(df: DataFrame, where: Column = lit(true),
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): (DataFrame, Long) = {
    val ck = df.localCheckpoint(false, level)
    // an RDD fold over the leaf, not a Dataset count: no exchange
    val (rows, matched) = ck.select(where).queryExecution.toRdd.aggregate((0L, 0L))(
      (n, r) => (n._1 + 1, if (!r.isNullAt(0) && r.getBoolean(0)) n._2 + 1 else n._2),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    (MeasuredLeaf(ck, rows), matched)
  }

  /** Session conf key selecting the backend: a `StorageLevel` name
    * other than `NONE`, or `PARQUET` (also settable per process via
    * the `SPARK_GRAFT_MEMO_LEVEL` env through [[graft.GraftSession]]). */
  val LevelConf = "spark.graft.memo.storageLevel"

  /** Root for the `PARQUET` backend: compressed columnar (the sf10eq
    * envelope's ~75 GB DISK_ONLY block store is ~3 GB as parquet),
    * off-heap, and it survives the JVM. A cache keyed by source dir,
    * under a `graft.materialized/` segment that [[invalidate]] deletes
    * without touching other files in the root. */
  val DirConf = "spark.graft.memo.parquetDir"

  /** Guard policy for the measured small-heap law (SCALE.md round-15
    * "12 GB memory finding"): below ~[[MinHeapPerTaskBytes]] heap per
    * task a block-store memo build OOMed at every level; only
    * `PARQUET` survived. Values: `warn` (default: loud log line),
    * `auto` (the implicit DEFAULT becomes PARQUET; an explicit level
    * is always honored), `off`. */
  val HeapGuardConf = "spark.graft.memo.heapGuard"

  /** The 12 GB / 32-thread config died (375 MB/task); 96 GB / 32
    * (3 GB/task) is the known-good envelope. The line sits just above
    * the measured-fatal point with margin for narrower frames. */
  val MinHeapPerTaskBytes: Long = 512L * 1024 * 1024

  /** The policy table, pure so MemoSpec can pin it without forging a
    * small JVM: (level to use, whether to emit the loud warning). */
  private[operators] def guardDecision(explicitLevel: Option[String], guard: String,
                                       heapBytes: Long, taskThreads: Int): (String, Boolean) = {
    val level = explicitLevel.getOrElse("MEMORY_AND_DISK")
    val starved = heapBytes / math.max(1, taskThreads) < MinHeapPerTaskBytes
    if (level == "PARQUET" || !starved || guard == "off") (level, false)
    else if (guard == "auto" && explicitLevel.isEmpty) ("PARQUET", true)
    else (level, true)
  }

  private val warnedSessions = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** The level the next build in `spark` uses, after the heap guard.
    * Rejects unknown names and `NONE`, which `localCheckpoint` would
    * silently turn into `MEMORY_AND_DISK`. */
  private[graft] def level(spark: SparkSession): String = {
    val explicitLevel = Option(spark.conf.get(LevelConf, null)).filter(_.nonEmpty)
    explicitLevel.filter(_ != "PARQUET").foreach { l =>
      if (scala.util.Try(StorageLevel.fromString(l)).toOption.forall(_ == StorageLevel.NONE))
        throw new IllegalArgumentException(s"$LevelConf='$l' is not supported: use a " +
          "StorageLevel name other than NONE (default MEMORY_AND_DISK), or PARQUET")
    }
    val (level, warn) = guardDecision(explicitLevel,
      spark.conf.get(HeapGuardConf, "warn"),
      Runtime.getRuntime.maxMemory, spark.sparkContext.defaultParallelism)
    if (warn && warnedSessions.add(spark))
      System.err.println(
        s"[graft] Memo heap guard: heap/task is below ${MinHeapPerTaskBytes >> 20} MB " +
          s"and the memo level resolves to '${explicitLevel.getOrElse("MEMORY_AND_DISK")}'. " +
          "Block-store persist builds cached-columnar batches in heap on every task " +
          "thread and OOMs at this ratio no matter where blocks land (measured: " +
          "SCALE.md '12 GB memory finding'). " +
          (if (level == "PARQUET") "Auto-selected the PARQUET memo level instead."
           else s"Set $LevelConf=PARQUET (or $HeapGuardConf=auto) to survive, " +
             s"or $HeapGuardConf=off to silence."))
    level
  }

  private def parquetRoot(spark: SparkSession): String =
    spark.conf.get(DirConf, sys.props("java.io.tmpdir") + "/graft-memo") +
      "/graft.materialized"

  /** Path segment for a source dir: the sanitized dir for readability
    * plus a digest of the raw string, so dirs that sanitize alike
    * (`a_b` and `a/b`) never share a materialization. */
  private[operators] def segment(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** Build-and-commit (or read back) the `PARQUET` form of a frame,
    * under the key's lock. Cross-JVM races resolve by tmp+rename: tmp
    * names carry pid and thread id, and the `FileContext` rename
    * (`Rename.NONE`) THROWS if the destination appeared meanwhile,
    * where `FileSystem.rename` would move tmp INSIDE the committed dir
    * and duplicate every later read. Losers read the winner. */
  private def materialize(spark: SparkSession, dir: String, name: String)
                         (build: => DataFrame): DataFrame = {
    val path = new Path(s"${parquetRoot(spark)}/${segment(dir)}/$name")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val committed = new Path(path, "_SUCCESS")
    if (!fs.exists(committed)) {
      val tmp = new Path(path.getParent, path.getName + ".tmp." +
        ProcessHandle.current().pid() + "." + Thread.currentThread().getId)
      build.write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(committed)) fs.delete(tmp, true) // another process committed meanwhile
      else try {
        fs.mkdirs(path.getParent)
        FileContext.getFileContext(path.toUri, conf).rename(tmp, path) // Rename.NONE
      } catch {
        case e: java.io.IOException =>
          fs.delete(tmp, true)
          if (!fs.exists(committed)) throw new IllegalStateException(
            s"memo materialize: rename to $path failed with no committed winner", e)
      }
    }
    spark.read.parquet(path.toString)
  }

  /** One lock per (dir, name): unrelated builds (eager jobs) run
    * concurrently, but two same-key builds never overlap — they would
    * compute a checkpoint twice or tear each other's PARQUET tmp dir. */
  private val locks = TrieMap[(String, String), Object]()

  /** Drop entries pinned to stopped sessions, so the maps and the warn
    * set don't retain dead SparkSessions for the JVM's lifetime. */
  private def sweepStopped(): Unit = {
    memo.keys.toSeq.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    values.keys.toSeq.filter(_._1.sparkContext.isStopped).foreach(values.remove)
    warnedSessions.removeIf(_.sparkContext.isStopped)
  }

  def apply(spark: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame = {
    val key = (spark, dir, name)
    memo.getOrElse(key, {
      sweepStopped()
      val lvl = level(spark)
      locks.getOrElseUpdate((dir, name), new Object).synchronized {
        memo.getOrElseUpdate(key,
          if (lvl == "PARQUET") materialize(spark, dir, name)(build)
          else checkpointCounted(build, level = StorageLevel.fromString(lvl))._1)
      }
    })
  }

  // Driver-side VALUE memo (k-means models, other small derived
  // objects) with the frame store's keys and lifecycle, so one
  // invalidate() clears both. Builds run outside any lock: a racing
  // duplicate wastes work, and putIfAbsent makes one winner visible.
  private val values = TrieMap[(SparkSession, String, String), Any]()

  def value[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (spark, dir, name)
    values.get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val built = build
        values.putIfAbsent(key, built)
        values(key).asInstanceOf[T]
    }
  }

  /** Drop every memoized frame and value for `dir` (all dirs if None)
    * in this session, across all modules. Under `PARQUET` this also
    * deletes the materializations for `dir`: after a backfill they are
    * stale data, not a warm cache. */
  def invalidate(spark: SparkSession, dir: Option[String]): Unit = {
    def mine(k: (SparkSession, String, String)) = k._1 == spark && dir.forall(_ == k._2)
    memo.keys.toSeq.filter(mine).foreach(memo.remove)
    values.keys.toSeq.filter(mine).foreach(values.remove)
    if (level(spark) == "PARQUET") {
      val root = new Path(parquetRoot(spark))
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(dir.fold(root)(d => new Path(root, segment(d))), true)
    }
  }
}
