package graft.operators

import graft.TestSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[Memo.LevelConf]] picks one of the memo's two backends: a
  * block-store `localCheckpoint` at a StorageLevel (default
  * `MEMORY_AND_DISK`) or a `PARQUET` materialization. These pin the
  * contract of each: plan-opaque single leaf, configured level honored
  * per build, materializations keyed by the raw source dir and
  * committed once, invalidation scoped to graft's own files. */
class MemoSpec extends AnyFunSuite {
  import TestSession.spark

  /** Private dir-key namespace: [[Memo.invalidate]] drops every entry
    * for a dir, and suites share one JVM/session — scoping this
    * suite's keys keeps its invalidations off other suites' memos. */
  private val MemoDir = "/tmp/memospec-keyspace"

  /** Block-store memos are localCheckpoints since r18 (plan-truncating
    * — guide §3.3/§7.3), so the level lives on the checkpointed RDD
    * behind the LogicalRDD leaf, not in the CacheManager
    * (`df.storageLevel` is NONE by design: the whole point is that the
    * CacheManager never sees these plans). Reflection because
    * LogicalRDD is private[sql] at compile time only. */
  private def checkpointLevel(df: org.apache.spark.sql.DataFrame): StorageLevel = {
    val leaf = df.queryExecution.analyzed.collectLeaves().head
    leaf.getClass.getMethod("rdd").invoke(leaf)
      .asInstanceOf[org.apache.spark.rdd.RDD[_]].getStorageLevel
  }

  test("default memo level is MEMORY_AND_DISK on a plan-opaque checkpoint") {
    val df = Memo(spark, MemoDir, "memospec_default")(
      spark.range(0, 100).toDF("id"))
    try {
      assert(checkpointLevel(df) === StorageLevel.MEMORY_AND_DISK)
      // plan truncation is the contract: consumers must see ONE leaf,
      // never the build tree (and the CacheManager must see nothing —
      // a persisted twin would be substituted into semantically-equal
      // fresh plans, the r17 result-memo failure mode)
      assert(df.queryExecution.analyzed.collectLeaves().size === 1)
      assert(df.storageLevel === StorageLevel.NONE)
    } finally Memo.invalidate(spark, Some(MemoDir))
  }

  test(s"${Memo.LevelConf} redirects NEW memo builds; results identical") {
    val expected = (0L until 100L).map(i => i * 3)
    spark.conf.set(Memo.LevelConf, "DISK_ONLY")
    try {
      val df = Memo(spark, MemoDir, "memospec_disk")(
        spark.range(0, 100).selectExpr("id * 3 as v"))
      assert(checkpointLevel(df) === StorageLevel.DISK_ONLY)
      // the level changes WHERE blocks live, never what they hold —
      // run an action so disk-backed re-read actually executes
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === expected)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === expected)
    } finally {
      spark.conf.unset(Memo.LevelConf)
      Memo.invalidate(spark, Some(MemoDir))
    }
  }

  test("NONE is rejected with the supported values named, before any build") {
    // localCheckpoint would silently turn NONE into MEMORY_AND_DISK
    spark.conf.set(Memo.LevelConf, "NONE")
    try {
      val e = intercept[IllegalArgumentException](
        Memo(spark, MemoDir, "memospec_none")(fail("a rejected level must not build")))
      assert(e.getMessage.contains("StorageLevel") && e.getMessage.contains("PARQUET"))
    } finally {
      spark.conf.unset(Memo.LevelConf)
      Memo.invalidate(spark, Some(MemoDir))
    }
  }

  test("PARQUET materializes once, amortizes across sessions (the Kafka-topic analog), and invalidate deletes it") {
    val root = java.nio.file.Files.createTempDirectory("memospec-pq").toString
    var builds = 0
    def inSession(s: org.apache.spark.sql.SparkSession) = {
      s.conf.set(Memo.LevelConf, "PARQUET")
      s.conf.set(Memo.DirConf, root)
      Memo(s, MemoDir, "memospec_pq") {
        builds += 1
        s.range(0, 100).selectExpr("id * 11 as v", "cast(id as string) as k")
      }
    }
    val expected = (0L until 100L).map(_ * 11)
    try {
      val df = inSession(spark)
      assert(builds === 1)
      assert(df.storageLevel === StorageLevel.NONE) // columnar files, not blocks
      assert(df.collect().map(_.getLong(0)).sorted.toSeq === expected)
      assert(df.schema.fieldNames.toSeq === Seq("v", "k"))
      // a SECOND session (the stand-in for a second JVM — per-query
      // bench processes, a restarted service) finds the committed
      // materialization and never rebuilds
      val s2 = spark.newSession()
      val df2 = inSession(s2)
      assert(builds === 1, "second session must read the materialization, not rebuild")
      assert(df2.collect().map(_.getLong(0)).sorted.toSeq === expected)
      // invalidate = backfill contract: the materialization is stale
      // DATA after the source dir changes, so it is deleted, and the
      // next apply rebuilds from source
      Memo.invalidate(spark, Some(MemoDir))
      assert(!new java.io.File(s"$root/graft.materialized/${Memo.segment(MemoDir)}").exists)
      val df3 = inSession(spark)
      assert(builds === 2, "post-invalidate apply must rebuild")
      assert(df3.collect().map(_.getLong(0)).sorted.toSeq === expected)
    } finally {
      Memo.invalidate(spark, Some(MemoDir))
      spark.conf.unset(Memo.LevelConf); spark.conf.unset(Memo.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("racing same-key PARQUET builds commit exactly once and never duplicate rows") {
    // Two sessions (distinct memo keys, so both reach materialize)
    // racing the SAME (dir, name): the per-key build lock serializes
    // them — the loser must find the winner's commit and read it, not
    // build into a shared tmp dir or rename into the committed dir
    // (the HDFS mv-into failure mode: every later read silently
    // doubled). 20 iterations to accumulate interleavings.
    val root = java.nio.file.Files.createTempDirectory("memospec-race").toString
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def inSession(s: org.apache.spark.sql.SparkSession, name: String) = {
      s.conf.set(Memo.LevelConf, "PARQUET")
      s.conf.set(Memo.DirConf, root)
      Memo(s, MemoDir, name) {
        builds.incrementAndGet()
        s.range(0, 1000).selectExpr("id * 13 as v")
      }
    }
    try {
      for (i <- 0 until 20) {
        val name = s"memospec_race_$i"
        val sessions = Seq(spark.newSession(), spark.newSession())
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        val dfs = Await.result(
          Future.sequence(sessions.map(s => Future(inSession(s, name)))), 120.seconds)
        dfs.foreach(df => assert(df.count() === 1000,
          s"iteration $i: a torn/nested commit duplicated or lost rows"))
      }
      assert(builds.get() <= 20,
        s"per-key lock must make the loser read the winner: ${builds.get()} builds for 20 keys")
    } finally {
      spark.conf.set(Memo.LevelConf, "PARQUET"); spark.conf.set(Memo.DirConf, root)
      Memo.invalidate(spark, Some(MemoDir))
      spark.conf.unset(Memo.LevelConf); spark.conf.unset(Memo.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  private val XprocName = "memospec_xproc"

  /** A second process racing one PARQUET key, played deterministically
    * inside this process's build: it commits its own rows at the
    * target path (with `_SUCCESS` only if `committed`) before this
    * build's tmp write runs. Hands `check` the memo's rows (or the
    * failure) and every path left under the memo root. */
  private def foreignCommitRace(committed: Boolean)
                               (check: (scala.util.Try[Seq[Long]], Seq[java.nio.file.Path]) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("memospec-xproc").toString
    val target = new java.io.File(s"$root/graft.materialized/${Memo.segment(MemoDir)}/$XprocName")
    spark.conf.set(Memo.LevelConf, "PARQUET")
    spark.conf.set(Memo.DirConf, root)
    try {
      val read = scala.util.Try(Memo(spark, MemoDir, XprocName) {
        spark.range(100, 105).toDF("id").write.parquet(target.toString)
        if (!committed) Seq("_SUCCESS", "._SUCCESS.crc").foreach(new java.io.File(target, _).delete())
        spark.range(0, 10).toDF("id")
      }.collect().map(_.getLong(0)).sorted.toSeq)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try check(read, walk.iterator().asScala.toSeq) finally walk.close()
    } finally {
      Memo.invalidate(spark, Some(MemoDir))
      spark.conf.unset(Memo.LevelConf); spark.conf.unset(Memo.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  /** Paths `name/name*`: a tmp dir renamed INTO the committed dir. */
  private def nestedUnder(paths: Seq[java.nio.file.Path], name: String) =
    paths.filter(p => p.getParent != null && p.getParent.getFileName.toString == name &&
      p.getFileName.toString.startsWith(name))

  private def named(paths: Seq[java.nio.file.Path])(pred: String => Boolean) =
    paths.filter(p => pred(p.getFileName.toString))

  test("PARQUET cross-process race: the loser reads the winner's commit, one _SUCCESS, no tmp residue") {
    foreignCommitRace(committed = true) { (read, paths) =>
      assert(read.get === (100L until 105L), "the loser must read the winner's rows, not its own")
      assert(named(paths)(_ == "_SUCCESS").size === 1)
      assert(named(paths)(_.contains(".tmp.")).isEmpty, s"tmp residue: $paths")
      assert(nestedUnder(paths, XprocName).isEmpty, s"nested commit: $paths")
    }
  }

  test("PARQUET cross-process race: an uncommitted foreign dir fails loudly; tmp is never moved inside it") {
    foreignCommitRace(committed = false) { (read, paths) =>
      val e = intercept[IllegalStateException](read.get)
      assert(e.getMessage.contains("no committed winner"))
      // FileSystem.rename onto an existing dir moves tmp INSIDE it, and
      // every later read of the key would see both row sets
      assert(nestedUnder(paths, XprocName).isEmpty, s"tmp moved into the foreign dir: $paths")
      assert(named(paths)(_.contains(".tmp.")).isEmpty, s"tmp residue: $paths")
      assert(named(paths)(_ == "_SUCCESS").isEmpty)
    }
  }

  test("invalidate under PARQUET deletes only the graft-owned subtree of the configured root") {
    val root = java.nio.file.Files.createTempDirectory("memospec-ns").toString
    val unrelated = new java.io.File(root, "precious-user-data.txt")
    java.nio.file.Files.writeString(unrelated.toPath, "do not delete")
    spark.conf.set(Memo.LevelConf, "PARQUET")
    spark.conf.set(Memo.DirConf, root)
    try {
      Memo(spark, MemoDir, "memospec_ns")(spark.range(0, 10).toDF("id")).count()
      assert(new java.io.File(root, "graft.materialized").exists)
      // the all-dirs form is the aggressive one — it must still scope
      // its recursive delete to graft's own segment
      Memo.invalidate(spark, None)
      assert(!new java.io.File(root, "graft.materialized").exists)
      assert(unrelated.exists, "invalidate deleted unrelated user files in the memo root")
    } finally {
      spark.conf.unset(Memo.LevelConf); spark.conf.unset(Memo.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("PARQUET dirs that sanitize to the same name keep separate materializations") {
    // `a_b` and `a/b` both sanitize to `a_b`; the segment's digest of
    // the raw dir must keep their rows and their invalidation apart
    val root = java.nio.file.Files.createTempDirectory("memospec-seg").toString
    val (dirA, dirB) = (s"$MemoDir/a_b", s"$MemoDir/a/b")
    val s2 = spark.newSession()
    def memo(s: org.apache.spark.sql.SparkSession, dir: String)
            (build: => org.apache.spark.sql.DataFrame) = {
      s.conf.set(Memo.LevelConf, "PARQUET")
      s.conf.set(Memo.DirConf, root)
      Memo(s, dir, "memospec_seg")(build).collect().map(_.getLong(0)).sorted.toSeq
    }
    val (timesTwo, timesThree) = ((0L until 10L).map(_ * 2), (0L until 10L).map(_ * 3))
    try {
      assert(memo(spark, dirA)(spark.range(0, 10).selectExpr("id * 2 as v")) === timesTwo)
      assert(memo(spark, dirB)(spark.range(0, 10).selectExpr("id * 3 as v")) === timesThree,
        "a second dir read the first dir's materialization")
      Memo.invalidate(spark, Some(dirA))
      // a fresh session finds dirB's commit still on disk
      assert(memo(s2, dirB)(fail("invalidating dirA deleted dirB's materialization")) ===
        timesThree)
    } finally {
      Memo.invalidate(s2, Some(dirB))
      Memo.invalidate(spark, Some(dirB))
      spark.conf.unset(Memo.LevelConf); spark.conf.unset(Memo.DirConf)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("the conf is read per BUILD, not per process: an already-memoized frame keeps its level") {
    val before = Memo(spark, MemoDir, "memospec_sticky")(spark.range(0, 10).toDF("id"))
    spark.conf.set(Memo.LevelConf, "DISK_ONLY")
    try {
      val again = Memo(spark, MemoDir, "memospec_sticky")(
        fail("memo hit must not rebuild"))
      assert(checkpointLevel(again) === StorageLevel.MEMORY_AND_DISK)
      assert(again eq before)
    } finally {
      spark.conf.unset(Memo.LevelConf)
      Memo.invalidate(spark, Some(MemoDir))
    }
  }

  /** A 1,000-row aggregate over 200,000 rows: its origin plan
    * estimates the 200,000-row input, the stored blocks hold 1,000, so
    * the origin-estimate cap of [[org.apache.spark.sql.MeasuredLeaf]]
    * does not apply. */
  private def smallAggregate(name: String) = Memo(spark, MemoDir, name)(
    spark.range(0, 200000).selectExpr("id % 1000 as k").groupBy("k").count())

  test("a block-store memo leaf reports its stored rows and block bytes") {
    try {
      val df = smallAggregate("memospec_measured")
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)))
      val rdd = df.queryExecution.analyzed.collectLeaves().head
        .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd
      // the status store is fed by listener events: wait until it has
      // seen every stored partition before reading its byte total
      def stored = spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!stored.exists(_.numCachedPartitions == rdd.getNumPartitions) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      val info = stored.get
      assert(stats.sizeInBytes === BigInt(info.memSize + info.diskSize))
      assert(stats.sizeInBytes < BigInt(200000))
    } finally Memo.invalidate(spark, Some(MemoDir))
  }

  test("a small memo aggregate broadcasts into a larger join with no hint") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val session = spark.conf.get(threshold)
    spark.conf.set(threshold, (1L << 20).toString)
    try {
      val small = smallAggregate("memospec_broadcast")
      val big = spark.range(0, 300000).selectExpr("id % 1000 as k", "id as v")
      val plan = big.join(small, "k").queryExecution.sparkPlan
      assert(plan.collect { case j if j.nodeName == "BroadcastHashJoin" => j }.size === 1,
        s"expected the memo side to broadcast:\n$plan")
      assert(!plan.exists(_.nodeName == "SortMergeJoin"))
    } finally {
      spark.conf.set(threshold, session)
      Memo.invalidate(spark, Some(MemoDir))
    }
  }

  test("heap guard policy: the measured 12 GB small-heap law is operational (SCALE.md memory finding)") {
    val gb = 1024L * 1024 * 1024
    // the measured-fatal shape: 12 GB heap / 32 task threads, any
    // block-store level — warn loudly, honor the level
    assert(Memo.guardDecision(None, "warn", 12 * gb, 32) === (("MEMORY_AND_DISK", true)))
    assert(Memo.guardDecision(Some("DISK_ONLY"), "warn", 12 * gb, 32) === (("DISK_ONLY", true)))
    // auto switches ONLY the implicit default; an explicit level is
    // honored (the decade tooling measures DISK_ONLY on purpose)
    assert(Memo.guardDecision(None, "auto", 12 * gb, 32) === (("PARQUET", true)))
    assert(Memo.guardDecision(Some("DISK_ONLY"), "auto", 12 * gb, 32) === (("DISK_ONLY", true)))
    // the known-good envelope (96 GB / 32 = 3 GB per task) is untouched
    assert(Memo.guardDecision(None, "warn", 96 * gb, 32) === (("MEMORY_AND_DISK", false)))
    assert(Memo.guardDecision(None, "auto", 96 * gb, 32) === (("MEMORY_AND_DISK", false)))
    // PARQUET has no block-store heap residency — never guarded
    assert(Memo.guardDecision(Some("PARQUET"), "warn", 12 * gb, 32) === (("PARQUET", false)))
    // off silences but never re-levels
    assert(Memo.guardDecision(None, "off", 12 * gb, 32) === (("MEMORY_AND_DISK", false)))
    // the boundary is heap PER TASK, not absolute heap: 12 GB on 8
    // threads is 1.5 GB/task — above the line
    assert(Memo.guardDecision(None, "warn", 12 * gb, 8) === (("MEMORY_AND_DISK", false)))
  }
}
